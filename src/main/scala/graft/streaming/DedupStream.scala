package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndex}

/** Streaming incremental near-dedup: q91's daily-ingest shape run
  * continuously under `foreachBatch`. Each micro-batch of documents is
  * MinHash-signed and banded, probed against the signatures of every
  * PRIOR committed batch (NEW × INDEX only — a batch never pairs with
  * itself here, and the index is never re-banded), and the batch's
  * candidate matches and band rows land as two `_SUCCESS`-committed
  * batch dirs — the [[VersionedSink]] idempotence trick, so an
  * at-least-once replay is absorbed:
  *
  *  - matches are computed against sigs with batch id < this id, so a
  *    replay recomputes the IDENTICAL result whatever has committed
  *    since (streaming replays only ever happen before later batches,
  *    but the id guard makes determinism unconditional);
  *  - matches commit before sigs: a crash between the two re-runs the
  *    batch, overwrites both dirs with identical bytes, and no later
  *    batch can have probed the half-published state (sigs were not
  *    yet committed).
  *
  * Band rows carry the [[DedupIndex]] bucket as a stored column and
  * are written sorted by it, so the probe's touched-bucket filter
  * prunes parquet ROW GROUPS in the batch tail; at scale a periodic
  * compaction folds the tail into the directory-pruned
  * [[DedupIndex]] artifact — same base + delta + compact lifecycle as
  * [[VersionedSink]]. The emitted pairs are LSH candidates (band-key
  * collisions), not verified duplicates: verification needs the text
  * store and stays a downstream batch join (q59/q91's rule — linear
  * in candidates).
  */
final class DedupStream(spark: SparkSession, root: String,
                        id: String, text: String,
                        k: Int, bands: Int, rowsPerBand: Int) {

  private def fs =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def committed(p: Path): Boolean =
    fs.exists(new Path(p, "_SUCCESS"))

  private def numbered(prefix: String): Seq[(Long, Path)] = {
    val base = new Path(root)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix) && name.length > prefix.length &&
          name.drop(prefix.length).forall(_.isDigit))
        Some((name.drop(prefix.length).toLong, st.getPath))
      else None
    }
  }

  private def sigDirs: Seq[(Long, Path)] =
    numbered("sig.b").filter(d => committed(d._2)).sortBy(_._1)

  private def matchDirs: Seq[(Long, Path)] =
    numbered("matches.b").filter(d => committed(d._2)).sortBy(_._1)

  private def compactedRoot: String =
    new java.io.File(root, "compacted").getAbsolutePath

  /** Highest batch id folded into the current compacted generation
    * (−1 before the first compaction). The generation's version number
    * is max-folded-id + 1 by construction, so the floor falls out of
    * [[DedupIndex.resolve]] without a separate ledger.
    */
  private def foldedThrough: Long =
    DedupIndex.resolve(compactedRoot)
      .map(p => new java.io.File(p).getName.drop(7).toLong - 1)
      .getOrElse(-1L)

  private def bandsOf(batch: DataFrame): DataFrame =
    Dedup.bandRows(
        Dedup.minhashSignatures(batch, id, text, k), id, bands, rowsPerBand)
      .withColumn("bucket",
        DedupIndex.bucketOf(col("band"), col("band_key")))

  /** The `foreachBatch` body. Returns false when this batch id is
    * fully committed already (replay absorbed), true when this call
    * committed it.
    */
  def processBatch(batch: DataFrame, batchId: Long): Boolean = {
    val sigTarget = new Path(root, s"sig.b$batchId")
    val matchTarget = new Path(root, s"matches.b$batchId")
    // a batch at or below the compaction floor has its sigs IN the
    // compacted generation — the fold is its commit record
    // (VersionedSink's ledger rule), and [[vacuumFolded]] may have
    // deleted the sig dir the plain check would look for. Without
    // this, a replay of a folded batch would reprocess and probe an
    // index CONTAINING ITSELF — self-pairs the original run never saw.
    val sigCommitted = committed(sigTarget) || batchId <= foldedThrough
    if (sigCommitted && committed(matchTarget)) return false
    // this call will commit state — mark it for the bench's
    // publish-inclusive-run accounting
    graft.sources.Artifacts.notePublish()
    // the re-ingestion BAN gate ([[DedupIndex.addBans]]): a banned doc
    // id arriving in a later batch — a backfill re-submitting a purged
    // doc — is dropped BEFORE banding commits anything; its signature
    // never lands in the tail, so nothing downstream can match it
    // Tombstones (a purge between batches) mask BOTH probe sides: the
    // generation through [[DedupIndex.probeBanded]]'s own anti-join,
    // the tail through the explicit scrub below. Read the masks BEFORE
    // the dirs (probeBanded's race discipline).
    val masks = DedupIndex.masks(spark, compactedRoot)
    // batch-sized and read three times (touched set, probe join, sig
    // write) — cache for the scope of this batch only
    val nb = masks.copy(tombstones = None)
      .scrub(bandsOf(batch).withColumnRenamed(id, "new_id"), "new_id")
      .persist()
    try {
      // the probe base: the compacted generation (directory-pruned)
      // plus only the batch-dir TAIL above the compaction floor — the
      // candidate SET is identical before and after a compaction (the
      // generation holds exactly the folded band rows), so replays
      // stay deterministic by value across compactions too.
      val floor = foldedThrough
      val tail = sigDirs
        .filter(d => d._1 < batchId && d._1 > floor).map(_._2.toString)
      val fromCompacted =
        if (floor < 0) None
        else Some(DedupIndex.probeBanded(spark, nb, compactedRoot))
      val fromTail =
        if (tail.isEmpty) None
        else {
          val touched = nb.select("bucket").distinct()
            .collect().map(_.getInt(0)).sorted // bounded by NumBuckets
          // the schema comes from a footer of the tail itself — no
          // schema-inference job; the tail dirs are not bucket
          // partitioned, so the filter prunes row groups, not dirs
          val schema = graft.operators.ParquetFooters
            .sparkSchema(tail.map(p =>
              new java.io.File(new Path(p).toUri.getPath)))
            .getOrElse(throw new IllegalStateException(
              s"no parquet part file in the tail under $root"))
          // without the mask a purged doc whose sig batch had not yet
          // been folded keeps surfacing through every probe until the
          // next compaction; bans mask the tail too (a pre-ban batch
          // may hold them)
          Some(masks.scrub(spark.read.schema(schema).parquet(tail: _*)
            .filter(col("bucket").isin(touched.toIndexedSeq.map(Int.box): _*))
            .withColumnRenamed("new_id", "index_id")
            .join(nb, Seq("bucket", "band", "band_key"))
            .select(col("new_id"), col("index_id"))))
        }
      val matches = (fromCompacted, fromTail) match {
        case (Some(a), Some(b)) => a.unionByName(b).distinct()
        case (Some(a), None) => a.distinct()
        case (None, Some(b)) => b.distinct()
        case (None, None) =>
          nb.select(col("new_id"), col("new_id").as("index_id")).limit(0)
      }
      if (!committed(matchTarget))
        matches.write.mode("overwrite").parquet(matchTarget.toString)
      // never resurrect a folded batch's sig dir: its rows live in the
      // compacted generation and a duplicate dir would double-probe
      if (!committed(sigTarget) && batchId > floor)
        nb.sortWithinPartitions("bucket")
          .write.mode("overwrite").parquet(sigTarget.toString)
      true
    } finally { nb.unpersist(); () }
  }

  /** Every committed candidate pair so far. */
  def matches(): DataFrame = {
    val dirs = matchDirs.map(_._2.toString)
    if (dirs.isEmpty)
      spark.range(0).select(col("id").as("new_id"), col("id").as("index_id"))
    else spark.read.parquet(dirs: _*).select("new_id", "index_id")
  }

  /** Batch ids whose signatures are probe-visible. */
  def committedBatches: Seq[Long] = sigDirs.map(_._1)

  /** Fold every committed batch's band rows into a new generation of
    * the directory-pruned [[DedupIndex]] artifact under
    * `root/compacted` — the tail-to-base compaction, and it is
    * LOAD-BEARING: [[processBatch]] probes the compacted generation
    * plus only the batch dirs above its floor, so probe cost stops
    * growing with batch count the moment a compaction commits. The
    * generation's version number is max-folded-id + 1, which is how
    * the floor is recovered without a ledger ([[VersionedSink
    * .compact]]'s rule). Folded batch dirs stay until [[vacuumFolded]]
    * — publish-then-clean, never a window where rows are unreachable.
    */
  def compactIndex(): Option[String] = {
    val dirs = sigDirs.map(_._2.toString)
    val current = DedupIndex.resolve(compactedRoot)
    if (dirs.isEmpty) current // nothing new to fold; keep the generation
      // (a pending tombstone set with an EMPTY tail stays in the log —
      // probes keep masking it — and folds physically with the next
      // batch's compaction)
    else {
      val tailRows = spark.read.parquet(dirs: _*)
        .select(col("new_id").as("index_id"), col("band"),
          col("band_key"), col("bucket"))
      // fold the CURRENT generation in, not just the tail: after a
      // vacuum the batch dirs no longer hold the earlier rows — a
      // tail-only rewrite would silently drop every previously folded
      // document from the index
      val rows0 = current.map(p => spark.read.parquet(p)
          .select(col("index_id"), col("band"), col("band_key"),
            col("bucket"))
          .unionByName(tailRows))
        .getOrElse(tailRows)
      // a purge between batches — and banned rows that slipped in
      // pre-ban — fold here physically: pure row filter over
      // generation ∪ tail (DedupIndex.compact's rule), then the log
      // resets so probes stop paying the anti-join
      val masks = DedupIndex.masks(spark, compactedRoot)
      val rows = masks.scrub(rows0)
      graft.sources.Artifacts.notePublish()
      val path = new java.io.File(compactedRoot,
        s"index.v${sigDirs.map(_._1).max + 1}").getAbsolutePath
      rows.repartition(col("bucket"))
        .sortWithinPartitions("band", "band_key")
        .write.partitionBy("bucket").mode("overwrite").parquet(path)
      if (masks.tombstones.isDefined)
        graft.operators.Tombstones.reset(compactedRoot)
      DedupIndex.retainLatestGenerations(compactedRoot)
      Some(path)
    }
  }

  /** Delete batch sig dirs at or below the compaction floor — their
    * rows live in the compacted generation, which [[processBatch]]
    * already prefers. Run AFTER [[compactIndex]] commits; a crash
    * between the two re-runs harmlessly (probing a folded dir twice
    * only costs work, `distinct()` keeps results exact).
    */
  def vacuumFolded(): Unit = {
    val floor = foldedThrough
    numbered("sig.b").filter(_._1 <= floor)
      .foreach { case (_, p) => fs.delete(p, true) }
  }
}
