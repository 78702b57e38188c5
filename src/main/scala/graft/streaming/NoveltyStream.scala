package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.FirstSeenIndex

/** The novelty gate run CONTINUOUSLY — [[FirstSeenIndex]] under
  * `foreachBatch`, the use case the first-seen map was built for: a
  * stream of ingested documents is scored per micro-batch for
  * repeated sub-document matter against the committed map
  * ([[FirstSeenIndex.probe]] + [[FirstSeenIndex.scoreBatch]] — the
  * same scorer as the judged batch queries, so stream and batch
  * cannot drift), and each scored batch then FOLDS IN at batch cost
  * ([[FirstSeenIndex.fold]]'s tagged delta) so later batches see
  * earlier ones — first-occurrence semantics compose across the
  * fold boundary exactly like one global pass.
  *
  * Exactly-once shape under at-least-once delivery, in commit order:
  *   1. score the batch against the PRE-FOLD committed state and
  *      commit the per-doc census as one `_SUCCESS`-marked dir keyed
  *      by batch id (the [[VersionedSink]]/[[AnnStream]] idempotence
  *      trick);
  *   2. fold the batch as a delta TAGGED with the batch id.
  * A redelivered batch with both markers is absorbed byte-for-byte; a
  * crash between 1 and 2 replays as fold-only (the deterministic tag
  * says whether the fold landed), so the batch is never re-scored
  * against its own fold — which would zero its novelty — and never
  * double-folded. (A double fold would still be CORRECT — min is
  * idempotent — this is about not wasting the write.)
  */
final class NoveltyStream(spark: SparkSession, indexRoot: String,
                          outRoot: String) {

  private val sink = new BatchDirs(spark, outRoot, "scored.b")

  /** The `foreachBatch` body over a batch's shingle rows (columns
    * `doc_id`, `s`). Returns false when both the scored dir and the
    * fold were already committed (replay absorbed), true when this
    * call committed either.
    */
  def processBatch(batchShingles: DataFrame, batchId: Long): Boolean = {
    val target = sink.target(batchId)
    val tag = s"b$batchId"
    val scoredDone = sink.committed(target)
    val foldDone = FirstSeenIndex.folded(indexRoot, tag)
    if (scoredDone && foldDone) return false
    // the re-ingestion BAN gate ([[FirstSeenIndex.addBans]]): a banned
    // doc arriving in a later batch is neither scored nor folded —
    // fold gates again for direct callers, so a banned early id can
    // never steal first-occurrence back through the min-union
    val gated = FirstSeenIndex.gate(spark, indexRoot, batchShingles, "doc_id")
    if (!scoredDone) {
      // score against the PRE-FOLD committed state — probing after a
      // self-fold would mark every shingle seen by its own batch
      graft.sources.Artifacts.notePublish()
      FirstSeenIndex.scoreBatch(
          FirstSeenIndex.probe(spark, gated, indexRoot))
        .write.mode("overwrite").parquet(target.toString)
    }
    if (!foldDone)
      FirstSeenIndex.fold(spark, gated, indexRoot, tag = tag)
    true
  }

  /** Every committed batch's per-doc novelty census so far
    * (doc_id, n_sh, n_novel).
    */
  def results(): DataFrame = {
    val dirs = sink.paths
    if (dirs.isEmpty)
      spark.range(0).selectExpr("id AS doc_id", "id AS n_sh",
        "id AS n_novel")
    else spark.read.parquet(dirs: _*)
  }

  def committedBatches: Seq[Long] = sink.ids
}
