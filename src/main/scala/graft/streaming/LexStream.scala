package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions
import graft.operators.LexIndex

/** Continuous lexical retrieval + ingestion — the streaming × lexical
  * cell: each arriving document micro-batch is first BM25-probed
  * against the pre-batch committed [[LexIndex]] state ("what does the
  * corpus already hold that reads like this?" — the redundancy /
  * near-dup-alerting gate in its lexical form), then APPENDED as a
  * tagged postings delta so every later batch scores against a corpus
  * that includes it. The cell's distinctive burden, which no vector
  * family has: ingestion shifts the COLLECTION STATISTICS — batch
  * b+1's scores use N, Σdl and df grown by batch b — and the judged
  * twin (q283) proves the shift lands at exactly the batch boundary.
  *
  * Exactly-once shape: probe results land as one `_SUCCESS`-committed
  * `topk.bN` dir (the [[VersionedSink]] idempotence trick) BEFORE the
  * tagged delta append (`batch-bN`, idempotent via
  * [[LexIndex.appendDelta]]'s tag) — so a replayed batch never scores
  * against a corpus that already contains itself: if the probe is
  * committed it is not rewritten, and the append retries
  * idempotently. Absorption is DURABLE across any number of
  * compactions: after the append commits, the stream writes an
  * `ingested.bN` marker in ITS OWN store — unlike the generation's
  * `_folded.json` (whose fold names prune once the folded dirs are
  * deleted, bounding the sidecar), the marker is never pruned, so a
  * checkpoint-lagged replay arriving two merges later still cannot
  * re-ingest the batch and double-count df/N (BM25's
  * non-idempotence). `_folded.json` remains the second line for the
  * append-committed/marker-lost crash sliver.
  */
final class LexStream(spark: SparkSession, indexRoot: String,
                      outRoot: String, id: String, text: String, k: Int) {

  private val sink = new BatchDirs(spark, outRoot, "topk.b")

  /** The batch's docs as (query_id, term) bags — distinct terms, the
    * standard bag-of-words probe.
    */
  private def termBags(docs: DataFrame): DataFrame =
    docs.select(col(id).cast("long").as("query_id"),
        explode(TextFunctions.words(col(text))).as("term"))
      .filter(length(col("term")) > 0)
      .distinct()

  /** The `foreachBatch` body: probe against the pre-batch state, then
    * ingest. Returns false when both halves were already committed
    * (replay absorbed), true when this call committed either.
    */
  def processBatch(docs: DataFrame, batchId: Long): Boolean = {
    val target = sink.target(batchId)
    val marker = s"ingested.b$batchId"
    val probed = sink.committed(target)
    val ingested = sink.exists(marker) ||
      LexIndex.appended(indexRoot, s"b$batchId")
    if (probed && ingested) {
      // self-heal the append-committed/marker-lost sliver while the
      // fold evidence still exists, so absorption stays durable past
      // the _folded.json pruning horizon
      if (!sink.exists(marker)) sink.touch(marker)
      return false
    }
    // the re-ingestion BAN gate ([[LexIndex.addBans]]): a banned doc
    // id arriving in a later batch is dropped up front — neither
    // served as a query nor appended; appendDelta gates again for
    // direct callers, so the stats sidecar counts survivors only
    val gated = LexIndex.gate(spark, indexRoot, docs, id)
    if (!probed) {
      graft.sources.Artifacts.notePublish()
      LexIndex.bm25TopK(spark, termBags(gated), "query_id", "term",
          k, indexRoot)
        .write.mode("overwrite").parquet(target.toString)
    }
    // append strictly after the probe commit: a crash here replays as
    // append-only (the committed probe is not rewritten), so a batch
    // never scores against a corpus already containing itself. The
    // durable marker lands LAST — a crash between append and marker
    // replays through the idempotent tagged append (live delta or
    // _folded.json), then writes the marker
    if (!ingested) {
      LexIndex.appendDelta(gated, id, text, indexRoot, tag = s"b$batchId")
      sink.touch(marker)
    }
    true
  }

  /** Every committed batch's top-k so far (query_id, index_id, n_hit,
    * score, rnk).
    */
  def results(): DataFrame = {
    val dirs = sink.paths
    require(dirs.nonEmpty, s"no committed batches under $outRoot yet")
    spark.read.parquet(dirs: _*)
  }

  def committedBatches: Seq[Long] = sink.ids
}
