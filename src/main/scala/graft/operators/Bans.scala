package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared durable ban log of the persisted-index family — the
  * "forgotten must STAY forgotten" companion to [[Tombstones]]:
  * tombstones mask what was already ingested and RESET at
  * compaction, so nothing stops a LATER batch from re-mentioning a
  * deleted identity (at-least-once upstreams and backfills do
  * exactly that). A ban commits the id to `<indexRoot>/bans` —
  * union-append like the tombstone log, but NEVER reset — and the
  * family's ingestion paths filter arriving rows against it (the
  * gate), with read paths masking besides (defense in depth).
  * O(bans) broadcast per batch — GDPR request-sized, never
  * data-sized. Rides [[VersionedDirs]]' commit protocol.
  */
private[graft] object Bans {

  private def root(indexRoot: String): String =
    new java.io.File(indexRoot, "bans").getAbsolutePath

  /** Ban sets up to this size commit as ONE file (`coalesce(1)`):
    * the set is GDPR-request-sized by design and every ingestion
    * gate broadcasts it whole, so a compact single-file layout keeps
    * the per-batch read one open instead of a distinct-shuffle's
    * worth of small files accumulating over years of adds. A set
    * past the bound (a mass-erasure event) stays partitioned —
    * funneling millions of ids through one task is the
    * [[Tombstones]] anti-pattern documented there.
    */
  private val OneFileMax = 4L * 1000 * 1000

  /** Commit `ids` (as column `index_id`) unioned with the previous
    * committed ban set — deduplicated (the union is `distinct`) and
    * compacted to a single file while the set stays request-sized,
    * so N years of adds never degrade the per-batch gate read.
    */
  def add(spark: SparkSession, ids: DataFrame, idCol: String,
          indexRoot: String): String = {
    val tr = root(indexRoot)
    val prev = VersionedDirs.resolve(tr)
    // single-file decision from an UPPER BOUND, not a count() job:
    // the previous generation's size is in its parquet footers
    // (driver-side metadata) and the batch's own count is a narrow
    // job on the request-sized frame — the exact distinct size is
    // never needed, only "still under the one-file bound", and a
    // bound that overshoots merely keeps a near-4M set partitioned
    // one add early
    val bound = prev.map(p =>
      ParquetFooters.rows(new java.io.File(p))).getOrElse(0L) + ids.count()
    val cur = ids.select(col(idCol).cast("long").as("index_id")).distinct()
    val all = prev
      .map(p => spark.read.schema(Tombstones.IdSchema).parquet(p)
        .unionByName(cur).distinct())
      .getOrElse(cur)
    VersionedDirs.commit(tr) { st =>
      (if (bound <= OneFileMax) all.coalesce(1) else all).write.parquet(st)
    }
  }

  /** The committed ban set, if any. The emptiness check reads parquet
    * FOOTER counts (driver-side metadata), not an `isEmpty` Spark job
    * — this runs on every fold/append/probe/compact of six families,
    * so the empty and absent cases must cost a listing, not a job;
    * a non-empty set reads with the fixed [[Tombstones.IdSchema]],
    * without a schema-inference job.
    */
  def get(spark: SparkSession, indexRoot: String): Option[DataFrame] =
    VersionedDirs.resolve(root(indexRoot))
      .filter(p => ParquetFooters.rows(new java.io.File(p)) > 0)
      .map(spark.read.schema(Tombstones.IdSchema).parquet(_))
}
