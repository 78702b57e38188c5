package graft.operators

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.types.{DataType, StructType}

/** Exact row counts from parquet FOOTERS — the metadata-scale answer
  * to "how many rows does this artifact hold". Every parquet file
  * already records its row-group counts in the footer; summing them
  * is a driver-side metadata read (one small seek per part file),
  * where `spark.read.parquet(...).count()` is a cluster job that
  * scans data. At 100 TB the difference is a listing vs a pass — the
  * r13 verdict's [[IndexCatalog]] nit, and the same trick lets the
  * [[Tombstones]]/[[Bans]] empty-set fast path skip its per-call
  * `isEmpty` Spark job. The same footers carry the Spark schema
  * the writer recorded ([[sparkSchema]]), which lets a probe read
  * with an explicit schema instead of paying Spark's schema-inference
  * job.
  */
private[graft] object ParquetFooters {

  private val conf = new Configuration()

  private def isPart(f: File): Boolean =
    f.isFile && !f.getName.endsWith(".crc") &&
      (f.getName.endsWith(".parquet") || f.getName.startsWith("part-"))

  /** Every parquet part file under `dir` (recursive); with `visible`,
    * none below a hidden (`_`/`.`-prefixed) subdir, the dirs Spark's
    * file index skips (SimIndex keeps its vector table in one).
    */
  private def parts(dir: File, visible: Boolean = false): Seq[File] =
    if (dir.isFile) { if (isPart(dir)) Seq(dir) else Nil }
    else Option(dir.listFiles()).getOrElse(Array.empty[File]).toSeq
      .filterNot(f => visible && f.isDirectory &&
        (f.getName.startsWith("_") || f.getName.startsWith(".")))
      .flatMap(parts(_, visible))

  /** Exact row count of one parquet file, from its footer. */
  def rowsOf(f: File): Long = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
    try r.getRecordCount finally r.close()
  }

  /** Exact total row count of every parquet part file under `dir` —
    * footer metadata only, no Spark job. Works across partitioned
    * layouts, multi-dataset generations (postings + stats sidecars,
    * out/ + in/ twins), and plain single-dataset dirs alike.
    */
  def rows(dir: File): Long = parts(dir).map(rowsOf).sum

  /** The key under which Spark's parquet writer records the row schema
    * (as StructType JSON) in every file's footer.
    */
  private val RowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The Spark schema recorded in the footer of the first parquet part
    * file under `dirs` (searched in order, hidden subdirs skipped as a
    * read of the dir would skip them), if any holds one. Data columns
    * only: partition columns live in directory names, not in the
    * files.
    */
  def sparkSchema(dirs: Seq[File]): Option[StructType] =
    dirs.iterator.flatMap(d => parts(d, visible = true).headOption)
      .nextOption().map { f =>
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(new Path(f.getAbsolutePath), conf))
        val json =
          try r.getFileMetaData.getKeyValueMetaData.get(RowMetadataKey)
          finally r.close()
        if (json == null)
          throw new IllegalStateException(s"no Spark row schema in $f")
        DataType.fromJson(json).asInstanceOf[StructType]
      }
}
