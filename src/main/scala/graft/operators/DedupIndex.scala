package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED half of incremental near-dedup: the historical
  * corpus's banded MinHash index materialized as a parquet table
  * partitioned by a hash bucket of (band, band_key), so a daily-ingest
  * probe scans ONLY the bucket directories its batch touches — the
  * property that lets a 100 TB index absorb a batch at batch cost.
  * [[Dedup.incrementalCandidates]] keeps both sides in-plan (the
  * oracle-checkable form); this is the production artifact the q91
  * docstring promises.
  *
  * Layout mirrors [[graft.FlatFileEngine]]'s versioned-dir commit
  * protocol: each publish writes a fresh `index.vN` directory (Spark's
  * own `_SUCCESS` marker is the commit record — a crashed writer
  * leaves an unreferenced dir that readers skip), and [[resolve]]
  * returns the highest committed version, so re-indexing never
  * disturbs a concurrent reader of the previous generation.
  *
  * Scale notes: the bucket count is a layout constant (64 here for
  * test-visible pruning; thousands at 100 TB — one directory per
  * bucket, each holding one sorted file per writer partition). The
  * probe's touched-bucket set is collected to the driver to become a
  * STATIC partition filter — bounded by the bucket-count constant, the
  * same bounded-by-design class as the HLL register map, never by
  * data volume.
  *
  * Deletes: the q172 purge sweep meets derived state — deleting a
  * document from the corpus must also make it unfindable through the
  * INDEX, or a redelivered copy of a purged document resurfaces a link
  * to data the pipeline promised to forget. Deletes follow the
  * tombstone-then-compact pattern every LSM/lakehouse uses
  * ([[MaskedIndexFamily]]): probes anti-join the tombstone set
  * immediately, and [[compact]] rewrites the index WITHOUT the
  * tombstoned rows (pure row filter, no re-signing). The family has no
  * append log: [[deltas]] is empty, [[folded]] false.
  *
  * Bans: tombstones reset at [[compact]], so a backfill re-submitting
  * a purged doc id would re-enter the index; a ban survives
  * compaction, the streaming ingest gate filters banned ids out of
  * arriving batches, and every probe masks them besides.
  */
object DedupIndex extends MaskedIndexFamily {

  val NumBuckets = 64

  /** Stable bucket of a band row — the partition key of the index. */
  def bucketOf(band: Column, bandKey: Column): Column =
    pmod(xxhash64(band, bandKey), lit(NumBuckets.toLong)).cast("int")

  /** Publish the banded index of `indexSig` (a MinHash signature
    * frame) as the next version under `root`: one row per (id, band,
    * band_key), hash-partitioned into [[NumBuckets]] directories and
    * sorted by (band, band_key) within each file. Commit protocol and
    * retention are [[VersionedDirs]]' (stage → atomic rename →
    * keep-two-committed vacuum). Returns the committed path.
    */
  def publish(indexSig: DataFrame, id: String, bands: Int,
              rowsPerBand: Int, root: String): String = synchronized {
    VersionedDirs.commit(root) { staging =>
      Dedup.bandRows(indexSig, id, bands, rowsPerBand)
        .withColumnRenamed(id, "index_id")
        .withColumn("bucket", bucketOf(col("band"), col("band_key")))
        .repartition(col("bucket"))
        .sortWithinPartitions("band", "band_key")
        .write.partitionBy("bucket").mode("overwrite")
        .parquet(staging)
    }
  }

  /** Shared retention for an index root (also used by the streaming
    * compactor) — see [[VersionedDirs.retainLatestGenerations]]. */
  private[graft] def retainLatestGenerations(root: String): Unit =
    VersionedDirs.retainLatestGenerations(root)

  /** Rewrite the committed index WITHOUT the tombstoned (and banned)
    * rows as the next version (a pure row filter over the existing
    * artifact, read through its bucket directories
    * ([[ProbeCache.prunedRead]]) — no re-shingling, no re-signing;
    * partition layout preserved), then reset the tombstone set.
    * Returns the serving generation after the call; unchanged when
    * nothing was pending ([[DeltaLog.unlessIdle]]).
    *
    * NOTE the previous generation still holds the purged rows on disk
    * (standard keep-two retention, for readers pinned pre-compaction)
    * — a compliance purge follows up with [[vacuumOld]] once the
    * reader grace period passes, which drops every generation but the
    * compacted head.
    */
  def compact(spark: SparkSession, root: String): String =
    // no append log: the generation alone, pending only on its masks
    // (banned rows that slipped in pre-ban scrub physically here too)
    compactWith(spark, root) { (log, masks, st) =>
      masks.scrub(ProbeCache.prunedRead(spark, Seq(log.genPath), "bucket",
          0 until NumBuckets))
        .repartition(col("bucket"))
        .sortWithinPartitions("band", "band_key")
        .write.partitionBy("bucket").mode("overwrite").parquet(st)
    }

  /** NEW × persisted-INDEX candidate pairs with bucket pruning: band
    * the new batch, collect its touched buckets (≤ [[NumBuckets]]
    * ints — a constant, not data-sized), and read ONLY those
    * partition directories of the committed index. The equi-join then
    * runs on (bucket, band, band_key); untouched buckets never leave
    * the filesystem. Result schema matches
    * [[Dedup.incrementalCandidates]]: distinct (new_id, index_id).
    */
  def probe(spark: SparkSession, newSig: DataFrame, id: String,
            bands: Int, rowsPerBand: Int, root: String): DataFrame = {
    // The batch's banding (a band explode over its signature frame)
    // feeds BOTH the touched-bucket collect and the probe join, and
    // callers like [[Dedup.jaccardFor]] reference the RESULT several
    // more times — so this method owns the whole cache lifecycle (the
    // r12 probe-cache contract, shared by all five index families):
    // persist the batch side, MATERIALIZE the candidate-sized result
    // (localCheckpoint severs its lineage, so no later consumption
    // can ever re-derive the batch signing), and only then release
    // the batch cache. Callers get a cheap plan AND a released cache;
    // the checkpointed blocks are candidate-sized and swept by the
    // context cleaner when the frame goes out of scope.
    val nb = Dedup.bandRows(newSig, id, bands, rowsPerBand)
      .withColumnRenamed(id, "new_id")
      .withColumn("bucket", bucketOf(col("band"), col("band_key")))
      .persist()
    try ProbeCache.materialize(probeBanded(spark, nb, root))
    finally nb.unpersist()
  }

  /** The LAZY plan behind [[probe]] — exposed for plan audits
    * (partition-pruning specs assert on this form; [[probe]]'s
    * returned frame is an already-materialized RDD scan). Evaluates
    * the batch side twice if it is not cached.
    */
  private[graft] def probePlan(spark: SparkSession, newSig: DataFrame,
                               id: String, bands: Int, rowsPerBand: Int,
                               root: String): DataFrame =
    probeBanded(spark,
      Dedup.bandRows(newSig, id, bands, rowsPerBand)
        .withColumnRenamed(id, "new_id")
        .withColumn("bucket", bucketOf(col("band"), col("band_key"))),
      root)

  /** [[probe]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): serves `genPath`
    * EXACTLY as committed — no tombstone or ban mask (post-snapshot
    * state by definition: the reader asked for the world the
    * manifest pinned, and masking it with later logs would re-open
    * the generation-skew seam the snapshot closes — the
    * [[SimIndex.probeTopKAt]] contract). Same bucket-pruned read
    * shape as [[probeBanded]]; result schema matches [[probe]].
    */
  def probeAt(spark: SparkSession, newSig: DataFrame, id: String,
              bands: Int, rowsPerBand: Int, genPath: String): DataFrame = {
    val nb = Dedup.bandRows(newSig, id, bands, rowsPerBand)
      .withColumnRenamed(id, "new_id")
      .withColumn("bucket", bucketOf(col("band"), col("band_key")))
      .persist()
    try ProbeCache.materialize(probeBandedAt(spark, nb, genPath))
    finally nb.unpersist()
  }

  /** The LAZY plan behind [[probeAt]] — exposed for plan audits
    * (pruning specs assert the static PartitionFilters on this form).
    */
  private[graft] def probeAtPlan(spark: SparkSession, newSig: DataFrame,
                                 id: String, bands: Int, rowsPerBand: Int,
                                 genPath: String): DataFrame =
    probeBandedAt(spark,
      Dedup.bandRows(newSig, id, bands, rowsPerBand)
        .withColumnRenamed(id, "new_id")
        .withColumn("bucket", bucketOf(col("band"), col("band_key"))),
      genPath)

  /** [[probeBanded]] pinned to one committed generation: `genPath`
    * read exactly as committed, bucket-pruned to the batch's touched
    * set, no tombstone/ban anti-joins (see [[probeAt]]).
    */
  private def probeBandedAt(spark: SparkSession, newBands: DataFrame,
                            genPath: String): DataFrame = {
    graft.sources.Artifacts.noteResolveHit()
    val touched = newBands.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    val idx = ProbeCache.prunedRead(spark, Seq(genPath), "bucket", touched)
    newBands.join(idx, Seq("bucket", "band", "band_key"))
      .select(col("new_id"), col("index_id")).distinct()
  }

  /** [[probe]] with an already-banded new side — (new_id, band,
    * band_key, bucket) rows. The streaming path shares one banding of
    * its batch across this probe and its tail join.
    *
    * CACHE CONTRACT: this method NEVER persists or unpersists the
    * caller's frame (r11 clobbered [[graft.streaming.DedupStream]]'s
    * batch cache here — an API must not unpersist a frame it didn't
    * persist). `newBands` is evaluated twice (the touched-bucket
    * collect and the returned lazy join) — callers should persist it
    * for the call's scope, as [[probe]] and DedupStream both do.
    */
  def probeBanded(spark: SparkSession, newBands: DataFrame,
                  root: String): DataFrame = {
    // the masks are read BEFORE resolving the generation: applying a
    // pre-reset tombstone set to either generation is always correct
    // (old: the filter is needed; compacted: the rows are already
    // gone, anti-join is a no-op), whereas the reverse order lets a
    // probe that resolved the OLD generation read the log AFTER a
    // concurrent compact's reset — and the purged rows resurface for
    // exactly that probe. Same discipline in SimIndex and PqIndex.
    val masks = this.masks(spark, root)
    val idxPath = head(root)
    val touched = newBands.select("bucket").distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    // uncompacted deletes are honored at probe time: the tombstone
    // anti-join is O(deletes-since-compaction); bans mask like
    // tombstones but never reset
    val live = masks.scrub(
      ProbeCache.prunedRead(spark, Seq(idxPath), "bucket", touched))
    newBands.join(live, Seq("bucket", "band", "band_key"))
      .select(col("new_id"), col("index_id")).distinct()
  }
}
