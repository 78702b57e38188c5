package graft.sources

import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Per-table corpus statistics cached as a sidecar, so plan-time
  * parameter derivation (the ANN family's corpus-scaled bit counts —
  * q26/q27/q28/q34/q42/q54/q74) stops paying a full aggregate pass
  * per query build. At ingest time these stats would be written next
  * to the table (the q81 file-stats pattern); the fixture dirs here
  * are read-only, so the sidecar lives in a cache directory keyed by
  * the table's path + file signature (name, size, mtime of every data
  * file) — which also gives invalidation for free: a rewritten table
  * changes its signature and the stats recompute.
  *
  * At 100 TB the aggregate this avoids is itself cheap relative to
  * the query (parquet footers carry row counts), but it is one extra
  * full job per plan BUILD — driver-latency, repeated per query, per
  * retry. Amortizing it to once per table version is the right shape.
  */
object TableStats {

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Int)]()

  private[graft] def clearMemo(): Unit = memo.clear()

  private[graft] def fingerprint(tablePath: String): String = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.toSeq).getOrElse(Nil)
          .sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val sig = walk(new java.io.File(tablePath))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("|")
    java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$tablePath|$sig".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
  }

  /** The sidecar location for a table's CURRENT state (test seam). */
  private[graft] def sidecarFor(tablePath: String): java.io.File =
    cacheFile(fingerprint(tablePath))

  private def cacheFile(fp: String): java.io.File = {
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"), "graft-table-stats")
    dir.mkdirs()
    new java.io.File(dir, s"$fp.json")
  }

  /** (rowCount, embeddingDim) of an embeddings-shaped table, with the
    * ragged-dimension guard (ADVICE r5: an assumed constant dim would
    * silently pad bucket keys with NULL-derived bits). One aggregate
    * pass on first sight of a table version; sidecar + in-memory hits
    * afterwards. Sidecar writes are tmp + atomic rename, the same
    * publish rule as every other artifact in this repo.
    */
  def embeddingStats(spark: SparkSession, tablePath: String): (Long, Int) = {
    val fp = fingerprint(tablePath)
    Option(memo.get(fp)).getOrElse {
      val f = cacheFile(fp)
      val v =
        if (f.isFile) {
          val s = Files.readString(f.toPath)
          def field(k: String): Long =
            s.split(s""""$k":""")(1).takeWhile(c => c.isDigit).toLong
          (field("n"), field("dim").toInt)
        } else {
          val row = spark.read.parquet(tablePath)
            .agg(count(lit(1)), min(size(col("embedding"))),
              max(size(col("embedding")))).head()
          val (n, dMin, dMax) =
            (row.getLong(0), row.getInt(1), row.getInt(2))
          require(dMin == dMax,
            s"ragged embedding dimensions: min $dMin != max $dMax")
          val tmp = java.io.File.createTempFile("stats", ".tmp", f.getParentFile)
          Files.writeString(tmp.toPath, s"""{"n":$n,"dim":$dMin}""")
          Files.move(tmp.toPath, f.toPath,
            StandardCopyOption.ATOMIC_MOVE,
            StandardCopyOption.REPLACE_EXISTING)
          (n, dMin)
        }
      memo.put(fp, v)
      v
    }
  }
}
