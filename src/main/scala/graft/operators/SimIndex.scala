package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The PERSISTED half of incremental similarity search — the ANN twin
  * of [[DedupIndex]]: the historical corpus's multi-table
  * hyperplane-LSH key set ([[graft.plans.MultiTableBuckets]], q74's
  * at-scale family) materialized as a parquet table partitioned by a
  * hash bucket of (tbl, bucket), so a daily query batch probes ONLY
  * the partition directories its keys touch — publish the index once
  * per re-index (amortized), probe per batch at batch cost. The
  * in-plan [[Similarity.multiTableTopK]] stays as the
  * oracle-checkable form; this is the production artifact.
  *
  * A probe pays only for the partitions it touches: it checkpoints
  * its keyed batch once and observes the touched buckets in that same
  * job, then reads only the touched `pbucket=<b>` directories of the
  * base and of each live delta, with the schema taken from a part
  * file's footer — no listing job over the whole generation, no
  * schema-inference job ([[ProbeCache]]'s one-job prologue).
  *
  * Each key row CARRIES ITS VECTOR (index_id, tbl, bucket, ivec): the
  * write-once-read-many trade every ANN index makes (FAISS stores
  * codes in its inverted lists for the same reason) — T copies of
  * each vector on disk buy a probe that is ONE pruned join with
  * scoring inline, instead of keys-join + a second corpus-wide join
  * to fetch vectors by id (which re-touches the full corpus per
  * batch, forfeiting the batch-cost property). T is the recall
  * budget's table count ([[graft.functions.VectorFunctions.mtTables]],
  * single digits for corpus-derived r), so the amplification is
  * bounded and chosen, not accidental.
  *
  * The (r, T) the index was built with are FROZEN into the artifact
  * (a probe must key its queries with the index's own parameters, not
  * parameters re-derived from a grown corpus): publish writes them as
  * an `_params.json` sidecar (underscore-prefixed so file readers
  * skip it) next to `_SUCCESS`, and [[probeTopK]]
  * reads them back — the caller never re-derives.
  *
  * Layout/commit/retention are [[VersionedDirs]]' versioned-dir
  * protocol, identical to [[DedupIndex]]; deletes, bans, compaction
  * and vacuum are [[MaskedIndexFamily]]'s.
  *
  * Deltas: daily growth without daily re-index — a new batch lands as
  * an append-log delta ([[DeltaLog]]), keyed with the BASE index's
  * frozen (r, T) so base and delta keys stay joinable; probes read
  * base ∪ deltas with the same bucket pruning applied to each, and
  * [[mergeCompact]] folds them into the next generation (append order
  * is irrelevant — deltas are disjoint key sets by construction of the
  * caller's batches). The ledger half of [[folded]] matters even
  * though the probe max-aggregates an idempotent score: a redelivery
  * arriving after a purge + [[mergeCompact]] (tombstones reset) would
  * resurrect the purged vec_ids' band rows.
  *
  * Bans: tombstones reset at [[mergeCompact]], so a deleted user's
  * embedding re-uploaded by a backfill would re-enter the LSH tables;
  * banned ids are gated at [[appendDelta]] (their key rows never
  * commit), masked at [[probeTopK]], scrubbed at [[mergeCompact]].
  */
object SimIndex extends MaskedIndexFamily {

  /** Partition-dir count — a layout constant (64 for test-visible
    * pruning; thousands at 100 TB), the same bounded-by-design class
    * as [[DedupIndex.NumBuckets]].
    */
  val NumBuckets = 64

  /** Stable partition bucket of a key row. */
  def pbucketOf(tbl: Column, bucket: Column): Column =
    pmod(xxhash64(tbl, bucket), lit(NumBuckets.toLong)).cast("int")

  /** Publish `corpus`'s multi-table LSH key set (with vectors
    * attached) as the next committed version under `root`: one row
    * per (id, tbl) keyed by the packed r-bit hyperplane bucket,
    * hash-partitioned into [[NumBuckets]] directories and sorted by
    * (tbl, bucket) within each file. Returns the committed path.
    */
  def publish(corpus: DataFrame, id: String, vec: String,
              bits: Int, tables: Int, root: String): String = synchronized {
    VersionedDirs.commit(root) { staging =>
      keyRows(corpus, id, vec, bits, tables)
        .repartition(col("pbucket"))
        .sortWithinPartitions("tbl", "bucket")
        .write.partitionBy("pbucket").mode("overwrite")
        .parquet(staging)
      writeParams(staging, bits, tables)
    }
  }

  private def writeParams(dir: String, bits: Int, tables: Int): Unit =
    Sidecar.write(dir, Sidecar.Params, "bits" -> bits, "tables" -> tables)

  /** The frozen (bits, tables) of the newest committed index. */
  def params(root: String): (Int, Int) = paramsAt(head(root))

  /** The frozen params of ONE resolved generation — internal reads
    * pin the path so a probe never keys with a racing re-publish's
    * (r, T) against this generation's buckets.
    */
  private def paramsAt(genPath: String): (Int, Int) = {
    val p = Sidecar.read(genPath, Sidecar.Params)
    (p.int("bits"), p.int("tables"))
  }

  /** Append `corpus` as a new delta batch, keyed with the base
    * index's frozen (r, T). `tag` names the batch (an at-least-once
    * producer supplies its batch identity); a redelivered tag is
    * absorbed ([[DeltaLog.append]]).
    */
  def appendDelta(corpus: DataFrame, id: String, vec: String,
                  root: String,
                  tag: String = java.util.UUID.randomUUID().toString)
      : String = synchronized {
    DeltaLog.requireTag(tag)
    val genPath = head(root)
    val (bits, tables) = paramsAt(genPath)
    DeltaLog.append(root, genPath, tag) { staging =>
      // a banned vector's key rows never enter the delta
      val gated = gate(corpus.sparkSession, root, corpus, id)
      // an empty batch writes no part file: the write itself says
      // whether there is anything to commit
      keyRows(gated, id, vec, bits, tables)
        .repartition(col("pbucket"))
        .sortWithinPartitions("tbl", "bucket")
        .write.partitionBy("pbucket").mode("overwrite")
        .parquet(staging.getAbsolutePath)
      ParquetFooters.rows(staging) > 0
    }
  }

  /** Fold every committed delta and pending delete or ban into the
    * next base generation and clear the append log. Pure row union
    * over existing artifacts — no re-hashing; params carry over
    * unchanged. Every root is read through its bucket directories
    * ([[ProbeCache.prunedRead]]): no listing or schema-inference job.
    * Returns the serving generation after the call; unchanged when
    * nothing was pending ([[DeltaLog.unlessIdle]]).
    */
  def mergeCompact(spark: SparkSession, root: String): String =
    compactWith(spark, root) { (log, masks, st) =>
      val (bits, tables) = paramsAt(log.genPath)
      // pending deletes and banned rows that slipped in pre-ban drop
      // out as a pure row filter — no re-hashing
      masks.scrub(ProbeCache.prunedRead(spark, log.genPath +: log.live,
          "pbucket", 0 until NumBuckets))
        .repartition(col("pbucket"))
        .sortWithinPartitions("tbl", "bucket")
        .write.partitionBy("pbucket").mode("overwrite").parquet(st)
      writeParams(st, bits, tables)
    }

  /** The shared key layout of [[publish]] and [[appendDelta]]. */
  private def keyRows(corpus: DataFrame, id: String, vec: String,
                      bits: Int, tables: Int): DataFrame =
    corpus.select(col(id).as("index_id"), col(vec).as("ivec"),
        posexplode(multiTableBuckets(col(vec), bits, tables))
          .as(Seq("tbl", "bucket")))
      .withColumn("pbucket", pbucketOf(col("tbl"), col("bucket")))

  /** Approximate top-k of each query vector against the committed
    * index: key the batch with the index's FROZEN (r, T), observe its
    * touched partition buckets while checkpointing the keyed batch
    * (≤ [[NumBuckets]] bits — a constant, never data-sized), read
    * ONLY those directories, and score inline
    * on the (pbucket, tbl, bucket) equi-join — a pair colliding in
    * several tables is scored per collision but COUNTED once
    * (max-aggregated on the identical rounded score), exactly
    * [[Similarity.multiTableTopK]]'s rule. Self-matches (same id on
    * both sides) are excluded. Untouched index partitions never leave
    * the filesystem.
    */
  def probeTopK(spark: SparkSession, queries: DataFrame, id: String,
                vec: String, k: Int, root: String): DataFrame =
    probeCore(spark, queries, id, vec, k, root, materialize = true)

  /** [[probeTopK]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): serves `genPath`
    * EXACTLY as committed — no delta log, no tombstone or ban mask
    * (all post-snapshot state by definition: the reader asked for
    * the world the manifest pinned, and masking it with later logs
    * would re-open the generation-skew seam the snapshot closes).
    */
  def probeTopKAt(spark: SparkSession, queries: DataFrame, id: String,
                  vec: String, k: Int, genPath: String): DataFrame =
    probeCore(spark, queries, id, vec, k, genPath, materialize = true,
      pinned = true)

  /** The LAZY plan behind [[probeTopK]] — exposed for plan audits
    * (pruning specs assert the static PartitionFilters on this form;
    * [[probeTopK]]'s returned frame is an already-materialized RDD
    * scan per the [[ProbeCache]] contract). Evaluates the batch
    * keying twice if `queries` is not cached.
    */
  private[graft] def probeTopKPlan(spark: SparkSession, queries: DataFrame,
                                   id: String, vec: String, k: Int,
                                   root: String): DataFrame =
    probeCore(spark, queries, id, vec, k, root, materialize = false)

  private def probeCore(spark: SparkSession, queries: DataFrame,
                        id: String, vec: String, k: Int, root: String,
                        materialize: Boolean,
                        pinned: Boolean = false): DataFrame = {
    // read-order discipline (see DedupIndex.probeBanded): masks, then
    // the delta listing, then resolve ([[DeltaLog]]).
    // Tombstones-first keeps a racing compact's log reset from
    // resurfacing purged vectors.
    // pinned = fleet-snapshot read: `root` IS the generation path and
    // every later log (deltas, tombstones, bans) is out of scope
    val masks = if (pinned) Masks.none else this.masks(spark, root)
    val listed = if (pinned) Nil else deltas(root)
    val idxPath =
      if (pinned) { graft.sources.Artifacts.noteResolveHit(); root }
      else head(root)
    val deltaSnap = DeltaLog.unfolded(listed, idxPath)
    // params pinned to the resolved generation (re-resolving could
    // land on a racing re-publish's (r, T))
    val (bits, tables) = paramsAt(idxPath)
    // one banding pass for BOTH the touched-bucket set and the probe
    // join: the keyed batch is checkpointed once, its touched buckets
    // observed in that same job, and the checkpoint held until the
    // RESULT is materialized (the [[ProbeCache]] contract) so the
    // returned frame never re-derives this batch-sized keying
    val qk = ProbeCache.keyed(
      queries.select(col(id).as("query_id"), col(vec).as("qv"),
          posexplode(multiTableBuckets(col(vec), bits, tables))
            .as(Seq("tbl", "bucket")))
        .withColumn("pbucket", pbucketOf(col("tbl"), col("bucket"))),
      "pbucket", NumBuckets, materialize)
    qk.settle {
      // base ∪ committed deltas, each read through its touched bucket
      // dirs only — an unmerged delta costs its touched buckets only
      // uncompacted deletes and bans are masked at probe time
      val idx = masks.scrub(ProbeCache.prunedRead(spark,
        idxPath +: deltaSnap, "pbucket", qk.touched))
      val scored = qk.frame.join(idx, Seq("pbucket", "tbl", "bucket"))
        .filter(col("index_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("index_id"))
        .agg(max(round(cosineNative(col("qv"), col("ivec")), 6))
          .as("cos_sim"))
      Similarity.topK(scored, "index_id", k)
    }
  }
}
