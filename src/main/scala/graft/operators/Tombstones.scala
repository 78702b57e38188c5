package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared tombstone log of the persisted-index family — the delete
  * half of the LSM/lakehouse lifecycle, factored so [[DedupIndex]]
  * and [[SimIndex]] expose identical deletion semantics: a delete
  * request commits the UNION of the previous set and the new ids as
  * the next version under `<indexRoot>/tombstones` (O(deletes), no
  * index rewrite), probes anti-join the committed set, and the
  * index's compaction path filters the rows out physically and
  * resets the log. Rides [[VersionedDirs]]' commit protocol.
  */
private[graft] object Tombstones {

  private def root(indexRoot: String): String =
    new java.io.File(indexRoot, "tombstones").getAbsolutePath

  /** The schema of a tombstone or ban set: both logs write their ids
    * as a long, so reads name it instead of paying a schema-inference
    * job.
    */
  val IdSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL("index_id BIGINT")

  /** Commit `ids` (as column `index_id`) unioned with the previous
    * committed set. Bounded by the cumulative delete rate between
    * compactions — never index-sized. The write stays partitioned:
    * the `distinct` already shuffled the set, and forcing one file
    * through `coalesce(1)` would funnel a mass purge (millions of
    * ids in one GDPR batch) through a single task — the set is
    * re-read whole by probes regardless of file count.
    */
  def add(spark: SparkSession, ids: DataFrame, idCol: String,
          indexRoot: String): String = {
    val tr = root(indexRoot)
    val cur = ids.select(col(idCol).cast("long").as("index_id")).distinct()
    val all = VersionedDirs.resolve(tr)
      .map(p => spark.read.schema(IdSchema).parquet(p)
        .unionByName(cur).distinct())
      .getOrElse(cur)
    VersionedDirs.commit(tr) { st => all.write.parquet(st) }
  }

  /** The committed set, if any (empty-after-compact counts as none).
    * The emptiness check reads parquet FOOTER counts (driver-side
    * metadata, [[ParquetFooters]]) rather than running an `isEmpty`
    * Spark job, and the read names [[IdSchema]] — probes call this on
    * every read.
    */
  def get(spark: SparkSession, indexRoot: String): Option[DataFrame] =
    VersionedDirs.resolve(root(indexRoot))
      .filter(p => ParquetFooters.rows(new java.io.File(p)) > 0)
      .map(spark.read.schema(IdSchema).parquet(_))

  /** Reset to the empty set (after a compaction folded the deletes):
    * commit a `_SUCCESS`-only generation — zero footer rows, which
    * [[get]] treats as none and [[add]] reads as empty through
    * [[IdSchema]] — and only when the committed set is non-empty.
    * Launches no Spark job.
    */
  def reset(indexRoot: String): Unit = {
    val tr = root(indexRoot)
    if (VersionedDirs.resolve(tr)
        .exists(p => ParquetFooters.rows(new java.io.File(p)) > 0))
      VersionedDirs.commit(tr) { st =>
        val dir = new java.io.File(st)
        dir.mkdirs()
        java.nio.file.Files.createFile(new java.io.File(dir, "_SUCCESS").toPath)
        ()
      }
    ()
  }
}
