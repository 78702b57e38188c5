package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The PERSISTED tokenizer — [[Bpe]]'s train stage lifted into the
  * train-once / publish / tokenize-per-batch lifecycle of the index
  * families (sixth member): a production pipeline trains its BPE
  * vocabulary ONCE on a corpus snapshot, freezes it as a model
  * artifact, and every ingest batch is tokenized against the frozen
  * merges — never a re-train, never a corpus rescan. Token counts
  * drive everything downstream (packing budgets, mixing weights,
  * per-source quotas), so the tokenizer is load-bearing derived
  * state exactly like the ANN codebooks.
  *
  * The committed generation holds, under one [[VersionedDirs]]
  * version dir:
  *   - `merges/` — the frozen merge log (round, lhs, rhs), R rows —
  *     a MODEL constant (like PQ codebooks), broadcast/collected at
  *     probe time (bounded by the round count, never by data);
  *   - `memo/` — (word, n_sub): the segmentation memo of the train
  *     vocabulary, hash-partitioned into [[NumBuckets]] word-bucket
  *     dirs so a batch's lookup prunes to its touched dirs. The memo
  *     is PURE CACHE: every row is derivable from `merges/` alone,
  *     which is what makes its maintenance trivial — deltas append
  *     new words' segmentations at batch cost ([[foldMemo]]), and
  *     dropping rows ([[purgeWords]]) never changes tokenize results,
  *     only costs (the word re-derives through the fold path);
  *   - `_params.json` — {"rounds", "fert"}: the frozen round count
  *     and the train corpus's fertility (×10³ subwords per word) —
  *     the drift baseline [[retrainOnFertility]] measures against.
  *
  * Tokenize cost per batch: one distinct-word aggregate (batch-
  * bounded), a bucket-pruned memo join for the Zipf-heavy known
  * mass, and the R-round greedy merge fold (map-only per round,
  * [[Bpe]]'s exact fold, so memo hits and fold misses provably
  * segment identically) for the unseen tail. Probes follow the
  * [[ProbeCache]] contract.
  *
  * PII note: memo KEYS are corpus words, so a deletion request
  * naming a rare personal token is honored by [[purgeWords]]
  * (tombstone-free: the memo is cache, the rewrite is the whole
  * delete story). A token that made it into `merges/` itself — it
  * was frequent enough to win a merge round — can only be forgotten
  * by re-training without it; [[retrainOnFertility]]'s re-publish
  * path is the vehicle (pass the scrubbed corpus). The same PII
  * closure is why [[folded]] matters here although memo rows are
  * derived: a tagged fold replayed after [[purgeWords]] consumed its
  * delta would re-commit the purged word STRINGS.
  */
object BpeIndex extends IndexFamily {

  /** Memo partition-dir count — layout constant, as
    * [[DedupIndex.NumBuckets]].
    */
  val NumBuckets = 64

  def pbucketOf(word: Column): Column =
    pmod(xxhash64(word), lit(NumBuckets.toLong)).cast("int")

  /** Memo/delta schema, read schema-first everywhere: a delta from a
    * batch with NO unseen words is an empty partitioned dir (just
    * `_SUCCESS`), which schema inference cannot read but an explicit
    * schema reads as zero rows.
    */
  private val MemoSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "word STRING, n_sub BIGINT, pbucket INT")

  /** Base ∪ LIVE delta memo rows (word, n_sub, pbucket) of the
    * newest committed generation — the artifact's full word
    * inventory (the purge audit's read surface). Deltas already
    * consumed by a purge/re-train are excluded: for a purge the crash
    * window between its commit and its delta cleanup would otherwise
    * RESURRECT purged word strings through the leftover dir; for a
    * re-train the leftover's n_sub derives from the superseded
    * merges.
    */
  private[graft] def memoAll(spark: SparkSession, root: String): DataFrame = {
    val idxPath = head(root)
    (new java.io.File(idxPath, "memo").toString +:
        DeltaLog.live(root, idxPath))
      .map(p => spark.read.schema(MemoSchema).parquet(p))
      .reduce(_.unionByName(_))
  }

  /** Bucket-pruned memo MEMBERSHIP probe: the (word, n_sub) rows of
    * base ∪ live deltas whose word appears in `words` (one column
    * `word`), reading ONLY the pbucket dirs the query words touch —
    * the same static-partition-filter shape as the tokenize path. A
    * compliance audit asks about a handful of words, so its read set
    * must be query-sized: [[memoAll]] is a full artifact scan
    * (train-vocabulary-sized — billions of rows at 100 TB), correct
    * for whole-artifact inventory but wrong as a membership probe.
    * Materialized per the [[ProbeCache]] contract.
    */
  def memoLookup(spark: SparkSession, words: DataFrame,
                 root: String): DataFrame =
    memoLookupCore(spark, words, root, materialize = true)

  /** The LAZY plan behind [[memoLookup]] — exposed for plan audits
    * (pruning specs assert the static pbucket PartitionFilters).
    */
  private[graft] def memoLookupPlan(spark: SparkSession, words: DataFrame,
                                    root: String): DataFrame =
    memoLookupCore(spark, words, root, materialize = false)

  /** [[memoLookup]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): the memo of
    * `genPath` EXACTLY as committed — no delta log, no later purge
    * (post-snapshot state by definition, the
    * [[SimIndex.probeTopKAt]] contract).
    */
  def memoLookupAt(spark: SparkSession, words: DataFrame,
                   genPath: String): DataFrame =
    memoLookupCore(spark, words, genPath, materialize = true,
      pinned = true)

  /** The LAZY plan behind [[memoLookupAt]] — for pruning audits. */
  private[graft] def memoLookupAtPlan(spark: SparkSession, words: DataFrame,
                                      genPath: String): DataFrame =
    memoLookupCore(spark, words, genPath, materialize = false,
      pinned = true)

  private def memoLookupCore(spark: SparkSession, words: DataFrame,
                             root: String, materialize: Boolean,
                             pinned: Boolean = false): DataFrame = {
    // pinned = fleet-snapshot read: `root` IS the generation path and
    // the delta log is out of scope
    val idxPath =
      if (pinned) { graft.sources.Artifacts.noteResolveHit(); root }
      else head(root)
    val deltaSnap = if (pinned) Nil else DeltaLog.live(root, idxPath)
    val wb = ProbeCache.keyed(
      words.select("word").distinct()
        .withColumn("pbucket", pbucketOf(col("word"))),
      "pbucket", NumBuckets, materialize)
    wb.settle {
      val memo = memoRows(spark, idxPath, deltaSnap, wb.touched)
      wb.frame.select("word").join(memo, Seq("word"))
    }
  }

  /** The (word, n_sub) memo rows of base ∪ `deltaSnap` in the
    * `touched` word buckets, read through those bucket dirs only.
    */
  private def memoRows(spark: SparkSession, idxPath: String,
                       deltaSnap: Seq[String],
                       touched: Seq[Int]): DataFrame =
    ProbeCache.prunedRead(spark,
        new java.io.File(idxPath, "memo").toString +: deltaSnap,
        "pbucket", touched, Some(MemoSchema))
      .select(col("word"), col("n_sub"))
      // base ∪ deltas may both hold a word (identical n_sub by
      // derivation) — fold duplicates
      .groupBy("word").agg(min("n_sub").as("n_sub"))

  private def wordsOf(docs: DataFrame, id: String, text: String) =
    docs.select(col(id),
        explode(graft.functions.TextFunctions.words(col(text))).as("word"))
      .filter(length(col("word")) > 0)

  /** Train `rounds` merges on `docs`' word vocabulary and commit
    * merges + segmentation memo + frozen params as the next version.
    *
    * Re-publishing into a root that already has a generation (the
    * re-train path) INVALIDATES the delta log: every delta's n_sub
    * derives from the superseded merges, so serving it against the
    * new generation would break the memo-hit ≡ fold invariant. The
    * new generation's ledger names them (read paths skip, redelivered
    * folds absorb — including a fold replayed after a pre-retrain
    * purge, the PII closure) and the dirs are dropped after the
    * commit.
    */
  def publish(docs: DataFrame, id: String, text: String, rounds: Int,
              root: String): String = synchronized {
    val log = resolve(root).map(new DeltaLog.Snapshot(_, deltas(root)))
    val path = VersionedDirs.commit(root) { staging =>
      val vocab = wordsOf(docs, id, text)
        .groupBy("word").agg(count(lit(1)).as("freq"))
      val (merges, seg) = Bpe.train(vocab, rounds)
      merges.select("round", "lhs", "rhs")
        .coalesce(1)
        .write.parquet(new java.io.File(staging, "merges").toString)
      val memo = seg
        .select(col("word"), size(col("syms")).cast("long").as("n_sub"))
        .withColumn("pbucket", pbucketOf(col("word")))
      memo.repartition(col("pbucket"))
        .sortWithinPartitions("word")
        .write.partitionBy("pbucket").mode("overwrite")
        .parquet(new java.io.File(staging, "memo").toString)
      // train-corpus fertility ×10³ — the drift baseline (integer,
      // exact: both counts ride the same occurrence frame)
      val f = wordsOf(docs, id, text)
        .join(memo.select("word", "n_sub"), Seq("word"))
        .agg(count(lit(1)).as("n_w"),
          coalesce(sum("n_sub"), lit(0L)).as("n_s"))
        .first()
      val fert =
        if (f.getLong(0) == 0L) 0L else f.getLong(1) * 1000L / f.getLong(0)
      Sidecar.write(staging, Sidecar.Params, "rounds" -> rounds,
        "fert" -> fert)
      DeltaLog.writeLedger(staging, DeltaLog.Folded,
        log.fold(Seq.empty[String])(_.consumed))
      java.nio.file.Files.createFile(
        new java.io.File(staging, "_SUCCESS").toPath)
      ()
    }
    log.foreach(l => DeltaLog.cleanup(root, l.listed))
    path
  }

  /** The frozen round count of the newest committed generation. */
  def rounds(root: String): Int =
    Sidecar.read(head(root), Sidecar.Params).int("rounds")

  /** The train corpus's fertility (×10³ subwords per word) recorded
    * at publish — [[retrainOnFertility]]'s baseline.
    */
  def publishFertility(root: String): Long =
    Sidecar.read(head(root), Sidecar.Params).long("fert", 0L)

  /** The frozen merge list of one resolved generation, in round
    * order — R rows collected to the driver (bounded by the round
    * count, a model constant — the HLL-register-map class, never
    * data-sized).
    */
  private def mergesAt(spark: SparkSession, genPath: String): Seq[(String, String)] =
    spark.read.parquet(new java.io.File(genPath, "merges").toString)
      .orderBy("round").select("lhs", "rhs")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** Segment `words` (one column `word`, distinct) with an explicit
    * frozen merge list: [[Bpe]]'s exact greedy left-to-right fold,
    * one map-only pass per merge. Returns (word, n_sub).
    */
  private[graft] def applyMerges(words: DataFrame,
                                 merges: Seq[(String, String)]): DataFrame = {
    var v = words.select(col("word"),
      filter(split(col("word"), ""), s => s =!= lit("")).as("syms"))
    for ((a, b) <- merges)
      v = v.select(col("word"), aggregate(col("syms"),
        array().cast("array<string>"),
        (acc, x) =>
          when(get(acc, size(acc) - 1) === lit(a) && x === lit(b),
            concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
            .otherwise(concat(acc, array(x)))).as("syms"))
    v.select(col("word"), size(col("syms")).cast("long").as("n_sub"))
  }

  // ------------------------------------------------------ memo deltas

  /** Commit a batch's newly-derived segmentations (word, n_sub) as a
    * memo delta — batch cost, the committed memo never read or
    * rewritten. Duplicate rows across generations are harmless for
    * RESULTS: every row is DERIVED from the same frozen merges, so
    * any copy carries the identical n_sub. The one redelivery that
    * must still be absorbed is the PII one: a tagged fold replayed
    * after [[purgeWords]] consumed its delta would re-commit the
    * purged word STRINGS into the store — the ledger absorbs it
    * ([[DeltaLog.append]]).
    */
  def foldMemo(spark: SparkSession, seg: DataFrame, root: String,
               tag: String = java.util.UUID.randomUUID().toString): String =
    synchronized {
      DeltaLog.requireTag(tag)
      DeltaLog.append(root, head(root), tag) { staging =>
        seg.select(col("word"), col("n_sub"))
          .withColumn("pbucket", pbucketOf(col("word")))
          .repartition(col("pbucket"))
          .sortWithinPartitions("word")
          .write.partitionBy("pbucket").mode("overwrite")
          .parquet(staging.getAbsolutePath)
        true
      }
    }

  /** Drop memo rows for `words` (one column `word`) — the word-level
    * deletion surface (see the class PII note): rewrite base ∪ deltas
    * without the named words as the next generation, merges and
    * params carried over byte-identically. Tokenize RESULTS are
    * unchanged by construction (purged words re-derive through the
    * frozen-merge fold); this removes the literal token string from
    * the stored artifact. Consumed delta names land in the new
    * generation's ledger so a redelivered fold cannot resurrect them.
    */
  def purgeWords(spark: SparkSession, words: DataFrame,
                 root: String): String = synchronized {
    val idxPath = head(root)
    // LIVE deltas only: a leftover dir from a prior purge's crash
    // window still holds the previously-purged word strings, and
    // unioning it here would write them back into the new base
    val log = new DeltaLog.Snapshot(idxPath, deltas(root))
    val all = (new java.io.File(idxPath, "memo").toString +: log.live)
      .map(p => spark.read.schema(MemoSchema).parquet(p))
      .reduce(_.unionByName(_))
    val kept = all.join(words.select("word"), Seq("word"), "left_anti")
      // deltas may duplicate base rows (identical by derivation) —
      // the rewrite folds them
      .groupBy("word", "pbucket").agg(min("n_sub").as("n_sub"))
    val params = java.nio.file.Files.readString(
      java.nio.file.Paths.get(idxPath, "_params.json"))
    val merges = spark.read.parquet(
      new java.io.File(idxPath, "merges").toString)
    val path = VersionedDirs.commit(root) { st =>
      kept.repartition(col("pbucket"))
        .sortWithinPartitions("word")
        .write.partitionBy("pbucket").mode("overwrite")
        .parquet(new java.io.File(st, "memo").toString)
      merges.coalesce(1)
        .write.parquet(new java.io.File(st, "merges").toString)
      java.nio.file.Files.writeString(
        new java.io.File(st, "_params.json").toPath, params)
      DeltaLog.writeLedger(st, DeltaLog.Folded, log.consumed)
      java.nio.file.Files.createFile(
        new java.io.File(st, "_SUCCESS").toPath)
      ()
    }
    DeltaLog.cleanup(root, log.listed)
    path
  }

  // ------------------------------------------------------ tokenize probe

  /** Per-document token census of `docs` under the committed
    * tokenizer: (id, n_words, n_subwords). The batch's distinct words
    * split into the memo-known mass (bucket-pruned join against base
    * ∪ deltas — reads ONLY the word buckets the batch touches) and
    * the unseen tail (segmented by the frozen-merge fold — provably
    * identical to what the memo would say, both derive from
    * `merges/`). Returns a materialized frame per the [[ProbeCache]]
    * contract.
    */
  def tokenize(spark: SparkSession, docs: DataFrame, id: String,
               text: String, root: String): DataFrame =
    tokenizeCore(spark, docs, id, text, root, materialize = true)

  /** The LAZY plan behind [[tokenize]] — exposed for plan audits
    * (pruning specs assert the static pbucket PartitionFilters on
    * this form).
    */
  private[graft] def tokenizePlan(spark: SparkSession, docs: DataFrame,
                                  id: String, text: String,
                                  root: String): DataFrame =
    tokenizeCore(spark, docs, id, text, root, materialize = false)

  private def tokenizeCore(spark: SparkSession, docs: DataFrame,
                           id: String, text: String, root: String,
                           materialize: Boolean,
                           pinned: Boolean = false): DataFrame = {
    val (census, unseen) =
      censusCore(spark, docs, id, text, root, materialize, pinned)
    // the census is materialized, so the unseen tail's checkpoint is
    // an intermediate here — release it now
    if (materialize) ProbeCache.release(unseen)
    census.drop("n_memo_hits")
  }

  /** [[tokenize]] plus the streaming gate's two extras, one shared
    * derivation ([[graft.streaming.BpeStream]]): the census carries
    * `n_memo_hits` (per-doc count of word occurrences whose word the
    * PRE-batch memo already held — the judged evidence that a memo
    * delta landed at exactly a batch boundary), and the second frame
    * is the unseen tail's derived segmentations (word, n_sub) — what
    * the stream folds as the batch's memo delta. Both materialized
    * per the [[ProbeCache]] contract.
    */
  private[graft] def censusAndUnseen(spark: SparkSession, docs: DataFrame,
                                     id: String, text: String,
                                     root: String): (DataFrame, DataFrame) =
    censusCore(spark, docs, id, text, root, materialize = true)

  /** [[tokenize]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): merges AND memo of
    * `genPath` EXACTLY as committed — no delta log, no re-train
    * committed since (post-snapshot state by definition, the
    * [[SimIndex.probeTopKAt]] contract). The pinned-world guarantee
    * a training-mix audit needs: token counts that reproduce
    * byte-for-byte however the live tokenizer has drifted since.
    */
  def tokenizeAt(spark: SparkSession, docs: DataFrame, id: String,
                 text: String, genPath: String): DataFrame =
    tokenizeCore(spark, docs, id, text, genPath, materialize = true,
      pinned = true)

  /** The LAZY plan behind [[tokenizeAt]] — for pruning audits. */
  private[graft] def tokenizeAtPlan(spark: SparkSession, docs: DataFrame,
                                    id: String, text: String,
                                    genPath: String): DataFrame =
    tokenizeCore(spark, docs, id, text, genPath, materialize = false,
      pinned = true)

  private def censusCore(spark: SparkSession, docs: DataFrame,
                         id: String, text: String, root: String,
                         materialize: Boolean,
                         pinned: Boolean = false): (DataFrame, DataFrame) = {
    // pinned = fleet-snapshot read: `root` IS the generation path and
    // the delta log is out of scope
    val idxPath =
      if (pinned) { graft.sources.Artifacts.noteResolveHit(); root }
      else head(root)
    val deltaSnap = if (pinned) Nil else DeltaLog.live(root, idxPath)
    val merges = mergesAt(spark, idxPath)
    val occ0 = wordsOf(docs, id, text)
    val occ = if (materialize) occ0.persist() else occ0
    try {
      val wb = ProbeCache.keyed(
        occ.select("word").distinct()
          .withColumn("pbucket", pbucketOf(col("word"))),
        "pbucket", NumBuckets, materialize)
      try {
        val memo = memoRows(spark, idxPath, deltaSnap, wb.touched)
        val known = wb.frame.select("word").join(memo, Seq("word"))
        val unseen0 = applyMerges(
          wb.frame.select("word")
            .join(memo.select("word"), Seq("word"), "left_anti"),
          merges)
        // the unseen tail is batch-bounded — settle it first so the
        // census plan (and a stream's later fold) reads the one
        // computed copy instead of re-running the R-round fold
        val unseen =
          if (materialize) ProbeCache.materialize(unseen0) else unseen0
        val seg = known.withColumn("memo_hit", lit(1L))
          .unionByName(unseen.withColumn("memo_hit", lit(0L)))
        val result = occ.join(seg, Seq("word"))
          .groupBy(col(id))
          .agg(count(lit(1)).as("n_words"),
            sum("n_sub").as("n_subwords"),
            sum("memo_hit").as("n_memo_hits"))
        (if (materialize) ProbeCache.materialize(result) else result, unseen)
      } finally wb.release()
    } finally if (materialize) { occ.unpersist(); () }
  }

  // ------------------------------------------------------ fertility drift

  /** Fertility (×10³ subwords per word) of `docs` under the CURRENT
    * committed tokenizer — one tokenize pass, the drift measurement.
    */
  def fertility(spark: SparkSession, docs: DataFrame, id: String,
                text: String, root: String): Long = {
    val r = tokenize(spark, docs, id, text, root)
      .agg(coalesce(sum("n_words"), lit(0L)).as("w"),
        coalesce(sum("n_subwords"), lit(0L)).as("s"))
      .first()
    if (r.getLong(0) == 0L) 0L else r.getLong(1) * 1000L / r.getLong(0)
  }

  /** Re-train on `docs` with the frozen round count iff their
    * fertility under the committed merges exceeds `factorMilli`/1000
    * × the publish-time baseline — the tokenizer twin of
    * [[PqIndex.retrainOnDrift]]: domain shift makes the learned
    * merges stop firing, fertility climbs toward characters-per-word,
    * and the trigger pays the re-train (Lloyd's moral equivalent:
    * the R merge rounds) only when the measurement says so. Returns
    * the new committed path when fired.
    */
  def retrainOnFertility(spark: SparkSession, docs: DataFrame, id: String,
                         text: String, root: String,
                         factorMilli: Long): Option[String] = {
    val base = publishFertility(root)
    val cur = fertility(spark, docs, id, text, root)
    if (base > 0L && cur * 1000L > factorMilli * base)
      Some(publish(docs, id, text, rounds(root), root))
    else None
  }
}
