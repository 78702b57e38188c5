package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * base and of each live delta, with the family's fixed schemas — no
  * listing job over the whole generation, no schema-inference job
  * ([[ProbeCache]]'s one-job prologue).
  *
  * Each vector is STORED ONCE. A generation (and each delta) holds two
  * parts in one dir, so one commit, ledger, cleanup and vacuum cover
  * both:
  *   - vector-free KEY ROWS (index_id, tbl, bucket), T per vector,
  *     partitioned into `pbucket=<b>` at the dir root — the filter
  *     index a probe reads through its touched buckets;
  *   - the VECTOR TABLE (index_id, ivec), one row per stored vector,
  *     partitioned into `ibucket=<b>` ([[ibucketOf]]) under the hidden
  *     [[VecDir]] subdir, which plain file readers of the dir skip.
  * A probe joins its keyed batch to the touched key rows for its
  * (query, id) candidates, then reads ONLY the candidates' id buckets
  * of the vector table and scores each candidate against its stored
  * vector (REPOSE and the compressed-index string-similarity work keep
  * the same split: a compact filter index, verification data read for
  * surviving candidates only). Writing the
  * T-fold key rows with the vector attached instead — the layout of
  * generations written before the split, which this object still
  * reads — stored each vector T times at publish, at every append and
  * at every merge or purge rewrite. The vector read stays inside the
  * scoring execution: the candidate set is broadcast, and dynamic
  * partition pruning turns it into the id buckets to read at run time.
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
  * banned ids are gated at [[appendDelta]] (neither their key rows nor
  * their vectors commit), masked at [[probeTopK]], scrubbed from both
  * parts at [[mergeCompact]].
  */
object SimIndex extends MaskedIndexFamily {

  /** Partition-dir count — a layout constant (64 for test-visible
    * pruning; thousands at 100 TB), the same bounded-by-design class
    * as [[DedupIndex.NumBuckets]].
    */
  val NumBuckets = 64

  /** Id-bucket count of the vector table — a layout constant beside
    * [[NumBuckets]]. A probe plans every id-bucket dir of each root
    * (the run-time filter prunes the reads, not the listing), about
    * 1 ms of driver time per dir on a local disk, and opens one small
    * file per bucket it reads, so the count stays an eighth of
    * [[NumBuckets]]; at 100 TB it grows with the vector table as
    * [[NumBuckets]] does.
    */
  val NumIdBuckets = 8

  /** The vector table's subdir inside a generation or delta dir:
    * `_`-prefixed, so Spark's file index and footer schema lookups of
    * the dir see the key rows only.
    */
  val VecDir = "_vec"

  /** The layout version a split generation's `_params.json` records;
    * a generation written before the split has no `layout` field.
    * Readers tell the two apart per dir ([[isSplit]]), deltas too.
    */
  private val SplitLayout = 2

  /** Stable partition bucket of a key row. */
  def pbucketOf(tbl: Column, bucket: Column): Column =
    pmod(xxhash64(tbl, bucket), lit(NumBuckets.toLong)).cast("int")

  /** Stable id bucket of a vector row (a BIGINT id). */
  def ibucketOf(id: Column): Column =
    pmod(xxhash64(id), lit(NumIdBuckets.toLong)).cast("int")

  /** The data columns of the key rows and of the vector table (the
    * partition columns live in directory names), and of a pre-split
    * key row, which carried its vector.
    */
  private val KeySchema =
    StructType.fromDDL("index_id BIGINT, tbl INT, bucket BIGINT")
  private val VecSchema =
    StructType.fromDDL("index_id BIGINT, ivec ARRAY<FLOAT>")
  private val VecKeySchema =
    StructType.fromDDL("index_id BIGINT, ivec ARRAY<FLOAT>, tbl INT, bucket BIGINT")

  /** Publish `corpus`'s multi-table LSH key set and its vectors as the
    * next committed version under `root`: one key row per (id, tbl)
    * keyed by the packed r-bit hyperplane bucket, hash-partitioned into
    * [[NumBuckets]] directories and sorted by (tbl, bucket) within each
    * file, plus one vector row per id in [[VecDir]]. Returns the
    * committed path.
    */
  def publish(corpus: DataFrame, id: String, vec: String,
              bits: Int, tables: Int, root: String): String = synchronized {
    VersionedDirs.commit(root) { staging =>
      writeSplit(vectorRows(corpus, id, vec), bits, tables, staging)
      writeParams(staging, bits, tables)
    }
  }

  private def writeParams(dir: String, bits: Int, tables: Int): Unit =
    Sidecar.write(dir, Sidecar.Params, "bits" -> bits, "tables" -> tables,
      "layout" -> SplitLayout)

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
      // a banned vector never enters the delta
      val gated = gate(corpus.sparkSession, root, corpus, id)
      // an empty batch writes no part file: the write itself says
      // whether there is anything to commit
      writeSplit(vectorRows(gated, id, vec), bits, tables,
        staging.getAbsolutePath)
      ParquetFooters.rows(staging) > 0
    }
  }

  /** Fold every committed delta and pending delete or ban into the
    * next base generation and clear the append log. Pure row union
    * over existing artifacts — no re-hashing; params carry over
    * unchanged, and a pre-split generation or delta is rewritten in
    * the split layout. Every root is read through its bucket
    * directories with the family's fixed schemas
    * ([[ProbeCache.prunedRead]]): no listing or schema-inference job,
    * and an all-purged generation still rewrites. Returns the serving
    * generation after the call; unchanged when nothing was pending
    * ([[DeltaLog.unlessIdle]]).
    */
  def mergeCompact(spark: SparkSession, root: String): String =
    compactWith(spark, root) { (log, masks, st) =>
      val (bits, tables) = paramsAt(log.genPath)
      val roots = log.genPath +: log.live
      val (split, preSplit) = roots.partition(isSplit)
      // pending deletes and banned rows that slipped in pre-ban drop
      // out of both parts as a pure row filter — no re-hashing; a
      // pre-split dir's vectors are its table-0 key rows, one per
      // stored vector
      val stored = vectorTables(spark, split)
        .select(col("index_id"), col("ivec"))
      val vectors =
        if (preSplit.isEmpty) stored
        else stored.unionByName(ProbeCache.prunedRead(spark, preSplit,
            "pbucket", 0 until NumBuckets, Some(VecKeySchema))
          .filter(col("tbl") === 0).select(col("index_id"), col("ivec")))
      writeVectors(masks.scrub(vectors), st)
      writeKeys(masks.scrub(ProbeCache.prunedRead(spark, roots, "pbucket",
        0 until NumBuckets, Some(KeySchema))), st)
      writeParams(st, bits, tables)
    }

  /** The caller's vectors in the vector table's columns. */
  private def vectorRows(corpus: DataFrame, id: String, vec: String)
      : DataFrame =
    corpus.select(col(id).cast("long").as("index_id"),
      col(vec).cast("array<float>").as("ivec"))

  /** The shared write of [[publish]] and [[appendDelta]]: the vector
    * table first, then the key rows hashed from the vectors AS STORED —
    * the caller's frame is evaluated once, and the two parts agree
    * even when it is not deterministic.
    */
  private def writeSplit(vectors: DataFrame, bits: Int, tables: Int,
                         dir: String): Unit = {
    writeVectors(vectors, dir)
    val stored = vectorTables(vectors.sparkSession, Seq(dir))
    writeKeys(stored.select(col("index_id"),
        posexplode(multiTableBuckets(col("ivec"), bits, tables))
          .as(Seq("tbl", "bucket")))
      .withColumn("pbucket", pbucketOf(col("tbl"), col("bucket"))), dir)
  }

  private def writeVectors(vectors: DataFrame, dir: String): Unit =
    vectors.withColumn("ibucket", ibucketOf(col("index_id")))
      .repartition(col("ibucket"))
      .sortWithinPartitions("index_id")
      .write.partitionBy("ibucket").mode("overwrite")
      .parquet(s"$dir/$VecDir")

  /** `keys` holds exactly the key columns plus `pbucket`;
    * [[writeVectors]] ran first, so the dir exists and the key rows
    * are added beside [[VecDir]].
    */
  private def writeKeys(keys: DataFrame, dir: String): Unit =
    keys.repartition(col("pbucket"))
      .sortWithinPartitions("tbl", "bucket")
      .write.partitionBy("pbucket").mode("append").parquet(dir)

  /** Whether a generation or delta dir holds the split layout. A
    * delta carries no sidecar, so the vector table's presence decides
    * for every dir alike; a split dir always has one, since its write
    * creates [[VecDir]] even for no rows.
    */
  private def isSplit(dir: String): Boolean =
    new java.io.File(dir, VecDir).isDirectory

  /** Every vector row of the split dirs `dirs`, with `ibucket`. */
  private def vectorTables(spark: SparkSession, dirs: Seq[String])
      : DataFrame =
    ProbeCache.prunedRead(spark, dirs.map(d => s"$d/$VecDir"), "ibucket",
      0 until NumIdBuckets, Some(VecSchema))

  /** Approximate top-k of each query vector against the committed
    * index: key the batch with the index's FROZEN (r, T), observe its
    * touched partition buckets while checkpointing the keyed batch
    * (≤ [[NumBuckets]] bits — a constant, never data-sized), read
    * ONLY those key directories, join them on (tbl, bucket) for the
    * (query, id) candidates, then read only the candidates' id buckets
    * of the vector tables and score — a pair colliding in several
    * tables is scored per collision but COUNTED once (max-aggregated
    * on the identical rounded score), exactly
    * [[Similarity.multiTableTopK]]'s rule. The candidate rows carry
    * their query vector and are not de-duplicated before the vector
    * read: a distinct step or a second join for the query vectors
    * each cost the probe another stage, more than the repeated
    * scoring they save. Self-matches (same id on both sides) are
    * excluded. Untouched key partitions and the vectors of
    * non-candidates never leave the filesystem.
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
    val roots = idxPath +: DeltaLog.unfolded(listed, idxPath)
    val (split, preSplit) = roots.partition(isSplit)
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
      // base ∪ committed deltas, each read through its touched key
      // dirs only — an unmerged delta costs its touched buckets only;
      // uncompacted deletes and bans are masked at probe time
      val keys = masks.scrub(ProbeCache.prunedRead(spark, roots, "pbucket",
        qk.touched, Some(KeySchema)))
      // (tbl, bucket) fixes pbucket; leaving it out of the join keys
      // keeps a run-time filter off the key scan, whose copy inside the
      // candidate plan would stop the vector scans' run-time filter from
      // reusing the candidate broadcast
      val cands = qk.frame.join(keys, Seq("tbl", "bucket"))
        .filter(col("index_id") =!= col("query_id"))
        .select(col("query_id"), col("index_id"), col("qv"),
          ibucketOf(col("index_id")).as("ibucket"))
      // the candidates' vectors: every id bucket of the vector tables
      // is planned, and the broadcast candidate rows prune them to their
      // own at run time (dynamic partition pruning, inside this one
      // execution); a pre-split dir's touched key rows carry theirs
      val stored = vectorTables(spark, split)
      val vectors =
        if (preSplit.isEmpty) stored
        else stored.unionByName(ProbeCache.prunedRead(spark, preSplit,
            "pbucket", qk.touched, Some(VecKeySchema))
          .select(col("index_id"), col("ivec"),
            ibucketOf(col("index_id")).as("ibucket")))
      // a pair colliding in several tables, or an id stored in several
      // roots, is COUNTED once: max over the identical rounded score.
      // One exchange by query serves both the pair max and the top-k
      // window, which each need only a query's rows together.
      val scored = vectors.join(broadcast(cands), Seq("index_id", "ibucket"))
        .select(col("query_id"), col("index_id"),
          round(cosineNative(col("qv"), col("ivec")), 6).as("cos_sim"))
        .repartition(col("query_id"))
        .groupBy(col("query_id"), col("index_id"))
        .agg(max(col("cos_sim")).as("cos_sim"))
      Similarity.topK(scored, "index_id", k)
    }
  }
}
