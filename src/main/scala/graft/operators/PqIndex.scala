package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The PERSISTED product-quantization index — [[VectorQuantizer]]'s
  * PQ family (Jégou et al., TPAMI 2011) lifted into the
  * train-once / publish / probe-per-batch lifecycle of [[SimIndex]]:
  * the production IVFPQ shape trains codebooks on a corpus snapshot,
  * freezes them into an artifact, and every serving batch pays only
  * an ADC scan of the CODE table — m small codes per vector, the
  * ~30× compression that puts a billion-vector index in memory —
  * never a re-train and never a decompression.
  *
  * The committed generation holds three things under one
  * [[VersionedDirs]] version dir:
  *   - `codebook/` — the trained per-subspace centroids
  *     (sub, cell, cs: array<long>), m·ks rows, a layout constant
  *     that probes BROADCAST;
  *   - `codes/` — one row per indexed vector
  *     (index_id, codes: array<long> ordered by subspace), the only
  *     corpus-sized table a probe touches;
  *   - `_params.json` — the frozen (m, dsub, ks, iters) plus the
  *     coarse (c, citers): a probe must split its queries with the
  *     index's OWN geometry, not parameters re-derived later (the
  *     same frozen-params stance as [[SimIndex]]'s (r, T) sidecar);
  *   - with `coarseC > 0` also `coarse/` — the frozen coarse-
  *     quantizer centroids, with `codes/` PARTITIONED BY each
  *     vector's coarse cell so an nprobe probe prunes to probed-cell
  *     directories (the full FAISS IndexIVFPQ serving shape);
  *     `byResidual = true` additionally trains and encodes the PQ on
  *     (x − coarse centroid) — FAISS's by_residual default, the
  *     accuracy win at equal code budget (q291) — with the probe
  *     building its ADC tables per (query, probed cell).
  *
  * Everything stays in [[VectorQuantizer.scaled]]'s exact integer
  * domain, so codes, ADC tables and distance sums are bit-identical
  * on any engine, any partitioning — which is what lets a DuckDB
  * oracle replay fit → encode → ADC against the artifact-served
  * probe and hash-match.
  *
  * Deletes, bans and compaction are [[MaskedIndexFamily]]'s. Bans:
  * tombstones reset at [[mergeCompact]], so a deleted user's embedding
  * re-uploaded under a fresh tag would re-encode into the code table;
  * banned ids are gated at [[appendDelta]] (their code rows never
  * commit), masked at [[probeTopK]], scrubbed at [[mergeCompact]].
  */
object PqIndex extends MaskedIndexFamily {

  /** The frozen `_params.json` of one generation: the PQ geometry
    * (m, dsub, ks, iters), the coarse quantizer (c, citers — 0 for a
    * flat-PQ artifact), the by_residual flag, the publish-time
    * quantization error `qerr` and the optional dimension permutation
    * — model state, derived at train and applied to every later
    * scaling (probe queries, delta appends, drift measurements): a
    * probe that skipped `perm` would ADC-score queries in a different
    * basis than the codes. Fields a sidecar predates read as 0/none,
    * so the drift trigger never fires on an unrecorded `qerr`.
    */
  private final case class Params(m: Int, dsub: Int, ks: Int, iters: Int,
                                  c: Int, citers: Int, resid: Boolean,
                                  qerr: Long, perm: Option[Seq[Int]]) {
    def write(dir: String): Unit =
      Sidecar.write(dir, Sidecar.Params, Seq("m" -> m, "dsub" -> dsub,
        "ks" -> ks, "iters" -> iters, "c" -> c, "citers" -> citers,
        "resid" -> (if (resid) 1 else 0), "qerr" -> qerr) ++
        perm.map("perm" -> _): _*)
  }

  /** The frozen params of ONE resolved generation — internal reads go
    * through this with a pinned path so a probe never mixes one
    * generation's codebook with a racing re-publish's (m, dsub).
    */
  private def paramsAt(genPath: String): Params = {
    val p = Sidecar.read(genPath, Sidecar.Params)
    Params(p.int("m"), p.int("dsub"), p.int("ks"), p.int("iters"),
      p.int("c", 0), p.int("citers", 0), p.int("resid", 0) == 1,
      p.long("qerr", 0L), p.ints("perm").filter(_.nonEmpty))
  }

  /** Apply a dimension permutation to a scaled frame:
    * xs'(p) = xs(perm(p)) — the OPQ-permutation layout (q317: rank
    * dims by energy, deal round-robin across subspaces so no single
    * subspace drowns). Zero serving bytes: a projection, not data.
    */
  private def applyPerm(e: DataFrame, perm: Option[Seq[Int]]): DataFrame =
    perm.fold(e)(p => e.withColumn("xs",
      array(p.map(i => element_at(col("xs"), i + 1)): _*)))

  /** Train per-subspace codebooks on `corpus`, encode it, and commit
    * codebook + code table + frozen params as the next version under
    * `root`. Train cost is the Lloyd rounds (corpus-sized, paid once
    * per re-index); the code table write is one encode pass.
    *
    * With `coarseC > 0` the artifact is a full IVFPQ (FAISS
    * IndexIVFPQ, by_residual=false): a coarse quantizer of `coarseC`
    * cells also trains on the corpus, its centroids freeze into
    * `coarse/` beside the PQ codebook, every code row carries its
    * coarse cell, and `codes/` is PARTITIONED BY `ccell` — so an
    * nprobe probe ([[probeTopK]]) prunes to the probed cells'
    * partition directories before any ADC work: sub-linear candidate
    * generation × constant-memory scoring, the billion-vector
    * serving shape. `coarseC = 0` keeps the flat-PQ artifact
    * (exhaustive ADC scan at probe time).
    */
  def publish(corpus: DataFrame, id: String, vec: String, m: Int,
              dsub: Int, ks: Int, iters: Int, root: String,
              coarseC: Int = 0, coarseIters: Int = 0,
              byResidual: Boolean = false,
              dimPerm: Option[Seq[Int]] = None): String =
    synchronized {
      require(!byResidual || coarseC > 0,
        "byResidual needs a coarse quantizer (coarseC > 0)")
      // re-publishing into a root that already has a generation (the
      // re-train path) INVALIDATES the delta log: delta codes were
      // argmin'd against the SUPERSEDED codebooks, so decoding them
      // against the new generation's ADC tables is garbage. The new
      // generation's ledger names them and the dirs drop post-commit.
      val log = resolve(root).map(new DeltaLog.Snapshot(_, deltas(root)))
      val committed = VersionedDirs.commit(root) { staging =>
        val e = applyPerm(VectorQuantizer.scaled(corpus, id, vec), dimPerm)
          .persist()
        val coarse = if (coarseC > 0)
          Some(VectorQuantizer.fitCentroids(e, id, coarseC, coarseIters)
            .select(col("cell"), col("cs")).localCheckpoint())
        else None
        // by_residual (FAISS IndexIVFPQ's default): PQ trains and
        // encodes (x − its coarse centroid) instead of x — residuals
        // concentrate near the origin, so the SAME (m, ks) code
        // budget describes the departure from the cell mean instead
        // of re-describing the cell's position in space: the
        // accuracy-at-equal-bytes win q291 measures. Still exact
        // integer arithmetic — residual components are differences
        // of guarded scaled longs (domain ≤ 2× the scaled bound,
        // squared-delta sums exact for any dsub ≤ 1024).
        val train = if (byResidual)
          residualFrame(e, coarse.get, id).persist()
        else e
        val cent = VectorQuantizer.fitPQ(train, id, m, dsub, ks, iters)
          .localCheckpoint()
        val rows = if (byResidual) codeRowsResidual(train, cent, id, m, dsub)
          else codeRows(e, id, cent, m, dsub, coarse)
        writeCodes(rows, new java.io.File(staging, "codes").toString)
        cent.write.parquet(new java.io.File(staging, "codebook").toString)
        coarse.foreach(_.write.parquet(
          new java.io.File(staging, "coarse").toString))
        // publish-time mean quantization error of the TRAINING corpus
        // under the codebooks it just trained — the drift baseline
        // [[retrainOnDrift]] compares a serving corpus against (an
        // index has no way to notice its codebooks went stale without
        // a recorded "how well did they fit when fresh")
        val qerr = meanAssignD2(train, cent, id, m, dsub)
        if (byResidual) train.unpersist()
        e.unpersist()
        Params(m, dsub, ks, iters, coarseC, coarseIters, byResidual, qerr,
          dimPerm).write(staging)
        DeltaLog.writeLedger(staging, DeltaLog.Folded,
          log.fold(Seq.empty[String])(_.consumed))
        // the parquet writes each committed their own subdir; the
        // version-level marker is what resolve() keys on
        java.nio.file.Files.createFile(
          new java.io.File(staging, "_SUCCESS").toPath)
        ()
      }
      log.foreach(l => DeltaLog.cleanup(root, l.listed))
      committed
    }

  /** (id, xs = x − coarse centroid, ccell) over an already-scaled
    * corpus — the training/encoding frame of a by_residual artifact.
    * Exact integer: both operands live in [[VectorQuantizer.scaled]]'s
    * guarded domain.
    */
  private def residualFrame(e: DataFrame, coarse: DataFrame,
                            id: String): DataFrame = {
    val cells = VectorQuantizer.assignCells(e, coarse, id)
    e.join(cells, Seq(id))
      .join(broadcast(coarse.select(col("cell"), col("cs").as("ccs"))),
        Seq("cell"))
      .select(col(id),
        zip_with(col("xs"), col("ccs"), (x, c) => x - c).as("xs"),
        col("cell").cast("int").as("ccell"))
  }

  /** Encode an already-built residual frame (id, xs, ccell) against a
    * trained codebook — [[codeRows]]' residual twin; the ccell rides
    * through to keep the IVFPQ partition layout.
    */
  private def codeRowsResidual(resid: DataFrame, cent: DataFrame,
                               id: String, m: Int, dsub: Int): DataFrame = {
    val epq = VectorQuantizer.subVectors(resid, id, m, dsub)
    VectorQuantizer.assignSubCells(epq, cent, id)
      .groupBy(col(id).as("index_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cell")))),
        s => s.getField("cell")).as("codes"))
      .join(resid.select(col(id).as("index_id"), col("ccell")),
        Seq("index_id"))
  }

  // ------------------------------------------------------ drift re-train
  //
  // Codebooks freeze at publish — the family invariant that makes
  // deltas cheap and oracles replayable — but a frozen codebook has a
  // shelf life: when the embedding model is retrained (v2 re-embeds
  // the corpus) the subspace statistics move and the old cells
  // describe the new vectors badly. The measurable symptom is the
  // QUANTIZATION ERROR (mean min-d² of assigning the serving corpus
  // to the frozen sub-centroids) rising above the publish-time
  // baseline recorded in `_params.json`. The trigger below is the
  // lifecycle wire q132's drift audit was missing: one encode pass
  // over the serving corpus (the same cost as a delta append — never
  // a Lloyd round unless it fires), re-publish with the SAME geometry
  // when the ratio exceeds the threshold.

  /** Mean integer quantization error of a scaled/residual frame under
    * `cent`: Σ per-(vector, sub) min assign-d², integer-divided by
    * the row count — exact, deterministic, oracle-replayable.
    */
  private def meanAssignD2(scaled: DataFrame, cent: DataFrame,
                           id: String, m: Int, dsub: Int): Long = {
    val epq = VectorQuantizer.subVectors(scaled, id, m, dsub)
    val r = epq.join(broadcast(cent), Seq("sub"))
      .select(col(id), col("sub"),
        VectorQuantizer.l2DistSq(col("xs"), col("cs")).as("d2"))
      .groupBy(col(id), col("sub")).agg(min("d2").as("d2"))
      .agg(coalesce(sum("d2"), lit(0L)).as("s"), count(lit(1)).as("n"))
      .first()
    if (r.getLong(1) == 0L) 0L else r.getLong(0) / r.getLong(1)
  }

  /** The publish-time quantization-error baseline of the newest
    * committed generation — what [[retrainOnDrift]] measures against
    * (0 for sidecars written before it was recorded — the trigger then
    * never fires, it can verify but not assume).
    */
  def publishQuantizationError(root: String): Long = paramsAt(head(root)).qerr

  /** Mean quantization error of `corpus` under the CURRENT committed
    * codebooks — one encode pass, the drift measurement. Residual
    * generations measure the residual (x − frozen coarse centroid),
    * matching what their codes actually store.
    */
  def quantizationError(spark: SparkSession, corpus: DataFrame,
                        id: String, vec: String, root: String): Long = {
    val idxPath = head(root)
    val p = paramsAt(idxPath)
    val cent = spark.read.parquet(
      new java.io.File(idxPath, "codebook").toString)
    val e = applyPerm(VectorQuantizer.scaled(corpus, id, vec), p.perm)
    val frame = if (p.resid) {
      val coarse = spark.read.parquet(
        new java.io.File(idxPath, "coarse").toString)
      residualFrame(e, coarse, id)
    } else e
    meanAssignD2(frame, cent, id, p.m, p.dsub)
  }

  /** Re-publish the index over `corpus` with the committed
    * generation's OWN geometry iff the serving corpus's quantization
    * error exceeds `factorMilli`/1000 × the publish-time baseline
    * (e.g. 2000 = "re-train when the fit is twice as bad as fresh").
    * Returns the new committed path when the trigger fired, None when
    * the frozen codebooks still describe the corpus well enough —
    * the measurement costs one encode pass either way, the Lloyd
    * rounds are paid only on fire. q292 judges the full loop:
    * drifted corpus → trigger fires → re-published artifact restores
    * recall that the stale generation lost.
    */
  def retrainOnDrift(spark: SparkSession, corpus: DataFrame, id: String,
                     vec: String, root: String,
                     factorMilli: Long): Option[String] = {
    val p = paramsAt(head(root))
    val cur = quantizationError(spark, corpus, id, vec, root)
    if (p.qerr > 0L && cur * 1000L > factorMilli * p.qerr)
      Some(publish(corpus, id, vec, p.m, p.dsub, p.ks, p.iters, root,
        coarseC = p.c, coarseIters = p.citers, byResidual = p.resid,
        dimPerm = p.perm))
    else None
  }

  /** Write a code table — partitioned by coarse cell when the rows
    * carry one (the IVFPQ layout [[probeTopK]]'s nprobe pruning keys
    * on), flat otherwise.
    */
  private def writeCodes(rows: DataFrame, path: String): Unit =
    if (rows.columns.contains("ccell"))
      rows.repartition(col("ccell"))
        .write.partitionBy("ccell").mode("overwrite").parquet(path)
    else rows.write.parquet(path)

  /** Encode an already-scaled (and perm-applied) frame `e` against an
    * ALREADY-TRAINED array-form codebook
    * (sub, cell, cs) — the shared layout of [[publish]] and
    * [[appendDelta]]: subspace split, integer argmin per (vector,
    * subspace), codes folded back to one m-array row per vector.
    * With a `coarse` codebook, each row also gets its nearest coarse
    * cell (`ccell`, int — the partition column of the IVFPQ layout).
    */
  private def codeRows(e: DataFrame, id: String,
                       cent: DataFrame, m: Int, dsub: Int,
                       coarse: Option[DataFrame] = None): DataFrame = {
    val epq = VectorQuantizer.subVectors(e, id, m, dsub)
    val codes = VectorQuantizer.assignSubCells(epq, cent, id)
      .groupBy(col(id).as("index_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("cell")))),
        s => s.getField("cell")).as("codes"))
    coarse.fold(codes) { cc =>
      val cells = VectorQuantizer.assignCells(e, cc, id)
        .select(col(id).as("index_id"), col("cell").cast("int").as("ccell"))
      codes.join(cells, Seq("index_id"))
    }
  }

  // ------------------------------------------------------ delta appends
  //
  // Daily growth without daily re-train: a new vector batch is
  // ENCODED with the base's FROZEN codebooks (pure argmin against
  // committed centroids — never a Lloyd round) and lands as an
  // append-log code delta (`batch-*` dir, the LSM L0 shape).
  // Probes scan base codes ∪ delta codes; [[mergeCompact]] folds the
  // deltas into the next generation as a pure row union, codebook
  // and params carried over byte-identically.

  /** Append `corpus` as a new code delta, encoded with the base's
    * frozen codebooks. Batch cost: one argmin pass over the batch
    * against the broadcast m·ks codebook — the corpus is never
    * touched, the codebooks never move.
    */
  def appendDelta(corpus: DataFrame, id: String, vec: String,
                  root: String): String = synchronized {
    val spark = corpus.sparkSession
    val idxPath = head(root)
    // geometry read from the SAME resolved generation as the codebook
    // — params(root) would re-resolve and could land on a racing
    // re-publish with different (m, dsub)
    val p = paramsAt(idxPath)
    val cent = spark.read.parquet(
      new java.io.File(idxPath, "codebook").toString)
    // IVFPQ artifacts assign delta rows with the FROZEN coarse
    // centroids (pure argmin — the coarse twin of the frozen-codebook
    // encode), so base and delta partition dirs stay prunable by the
    // same probed-cell set
    val coarse = if (p.c > 0)
      Some(spark.read.parquet(new java.io.File(idxPath, "coarse").toString))
    else None
    // untagged: every call is a fresh batch
    val tag = java.util.UUID.randomUUID().toString
    DeltaLog.append(root, idxPath, tag) { staging =>
      // a banned vector's code rows never commit
      val gatedCorpus = gate(spark, root, corpus, id)
      // a by_residual generation's deltas encode residuals against
      // the SAME frozen coarse centroids + codebooks (pure
      // assign+argmin, never a Lloyd round — the flat path's
      // frozen-codebook rule); the frozen permutation applies to
      // every later scaling — a delta encoded in the unpermuted
      // basis would ADC-score garbage
      val e = applyPerm(VectorQuantizer.scaled(gatedCorpus, id, vec), p.perm)
      val rows =
        if (p.resid)
          codeRowsResidual(residualFrame(e, coarse.get, id),
            cent, id, p.m, p.dsub)
        else codeRows(e, id, cent, p.m, p.dsub, coarse)
      writeCodes(rows, staging.getAbsolutePath)
      // an empty batch writes no row: the write itself says whether
      // there is anything to commit
      ParquetFooters.rows(staging) > 0
    }
  }

  /** Fold every committed code delta and pending delete into the next
    * generation: pure row union + filter over existing artifacts —
    * no re-encode, no re-train; codebook and params carry over
    * unchanged. Unlike [[SimIndex]], duplicate code rows are NOT
    * harmless here: ADC SUMS d² per code row, so a vector read from
    * both the folded generation and a not-yet-deleted delta would
    * double its distance — the ledger filter is load-bearing. Clears
    * the append log and resets tombstones. Returns the serving
    * generation after the call; unchanged when nothing was pending
    * ([[DeltaLog.unlessIdle]]).
    */
  def mergeCompact(spark: SparkSession, root: String): String =
    compactWith(spark, root) { (log, masks, st) =>
      val basePath = log.genPath
      // the base generation keeps its codes under codes/; each delta
      // dir IS a codes table
      writeCodes(masks.scrub(log.live
          .map(spark.read.parquet(_))
          .foldLeft(spark.read.parquet(
            new java.io.File(basePath, "codes").toString))(_.unionByName(_))),
        new java.io.File(st, "codes").toString)
      spark.read.parquet(new java.io.File(basePath, "codebook").toString)
        .write.parquet(new java.io.File(st, "codebook").toString)
      val p = paramsAt(basePath)
      if (p.c > 0)
        spark.read.parquet(new java.io.File(basePath, "coarse").toString)
          .write.parquet(new java.io.File(st, "coarse").toString)
      // qerr carries forward VERBATIM: the codebooks are frozen across
      // a compaction, so the publish-time fit baseline is unchanged —
      // dropping it would silently kill [[retrainOnDrift]] after the
      // first GDPR compaction
      p.write(st)
      java.nio.file.Files.createFile(new java.io.File(st, "_SUCCESS").toPath)
      ()
    }

  /** The frozen (m, dsub, ks, iters) of the newest committed index. */
  def params(root: String): (Int, Int, Int, Int) = {
    val p = paramsAt(head(root))
    (p.m, p.dsub, p.ks, p.iters)
  }

  /** Top-k of each query against the committed code table by exact
    * integer ADC distance: the query batch splits into sub-vectors
    * with the index's FROZEN geometry, the ADC table (query ×
    * sub-centroid d², nq·m·ks rows — batch-bounded) joins BROADCAST
    * against the exploded code table, and scoring is m lookups + one
    * sum per (query, vector). The corpus-sized side is only ever the
    * code scan — m integers per vector, no raw-vector fetch, no
    * decompression, which is the entire point of the artifact.
    * This 6-arg form scans the WHOLE code table (flat PQ — correct on
    * any artifact, linear per probe); it is also the
    * [[graft.streaming.AnnStream]] probe-seam shape.
    */
  def probeTopK(spark: SparkSession, queries: DataFrame, id: String,
                vec: String, k: Int, root: String): DataFrame =
    probeTopK(spark, queries, id, vec, k, root, 0)

  /** [[probeTopK]] with IVF pruning (`nprobe > 0` — requires an
    * artifact published with `coarseC > 0`): each query is assigned
    * its `nprobe` nearest FROZEN coarse cells, the probed-cell set
    * (≤ coarseC ints — a layout constant, never data-sized) statically
    * prunes the `codes/` partition directories before any ADC work,
    * and only (query, vector) pairs meeting in a probed cell are
    * scored at all (the per-query broadcast cell join) — q263's
    * pruning algebra served from the artifact. Untouched cell
    * partitions never leave the filesystem.
    */
  def probeTopK(spark: SparkSession, queries: DataFrame, id: String,
                vec: String, k: Int, root: String, nprobe: Int): DataFrame =
    probeCore(spark, queries, id, vec, k, root, nprobe, materialize = true)

  /** [[probeTopK]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): serves `genPath`
    * EXACTLY as committed — no delta log, no tombstone or ban mask
    * (post-snapshot state by definition). Flat ADC (`nprobe = 0`);
    * pass `nprobe > 0` for an IVFPQ generation.
    */
  def probeTopKAt(spark: SparkSession, queries: DataFrame, id: String,
                  vec: String, k: Int, genPath: String,
                  nprobe: Int = 0): DataFrame =
    probeCore(spark, queries, id, vec, k, genPath, nprobe,
      materialize = true, pinned = true)

  /** The RANK stage of a composed retrieval ([[FleetSnapshot]]'s
    * q282-shape read): ADC-rescore exactly the (query_id, index_id)
    * candidate pairs a recall stage produced, against a PINNED
    * generation, and rank within them — top-`k` per query. The code
    * scan is pruned to the candidate ids (batch-bounded broadcast
    * semi-join) before any ADC work, so the cost is
    * candidate-linear, never corpus-linear — the shape that survives
    * a 100 TB corpus behind a recall stage.
    */
  def adcRescoreAt(spark: SparkSession, queries: DataFrame, id: String,
                   vec: String, k: Int, genPath: String,
                   cand: DataFrame): DataFrame =
    probeCore(spark, queries, id, vec, k, genPath, nprobe = 0,
      materialize = true, pinned = true, candPairs = Some(cand))

  /** The LAZY plan behind [[probeTopK]] — exposed for plan audits
    * (pruning specs assert the static ccell PartitionFilters on this
    * form; [[probeTopK]]'s returned frame is an already-materialized
    * RDD scan per the [[ProbeCache]] contract).
    */
  private[graft] def probeTopKPlan(spark: SparkSession, queries: DataFrame,
                                   id: String, vec: String, k: Int,
                                   root: String, nprobe: Int): DataFrame =
    probeCore(spark, queries, id, vec, k, root, nprobe, materialize = false)

  private def probeCore(spark: SparkSession, queries: DataFrame,
                        id: String, vec: String, k: Int, root: String,
                        nprobe: Int, materialize: Boolean,
                        pinned: Boolean = false,
                        candPairs: Option[DataFrame] = None): DataFrame = {
    // read-order discipline (see DedupIndex.probeBanded): masks, then
    // the delta listing, then resolve ([[DeltaLog]]) — no
    // vector's d² is ever summed twice
    // pinned = fleet-snapshot read: `root` IS the generation path and
    // every later log (deltas, tombstones, bans) is out of scope
    val masks = if (pinned) Masks.none else this.masks(spark, root)
    val listed = if (pinned) Nil else deltas(root)
    val idxPath =
      if (pinned) { graft.sources.Artifacts.noteResolveHit(); root }
      else head(root)
    // geometry pinned to the SAME resolved generation as the codebook
    // and codes — params(root) would re-resolve under a racing
    // re-publish and split queries with the wrong (m, dsub)
    val params = paramsAt(idxPath)
    val (m, dsub) = (params.m, params.dsub)
    val cent = spark.read.parquet(
      new java.io.File(idxPath, "codebook").toString)
    // the scaled batch feeds BOTH the cell assignment and the ADC
    // distance table — cache it until the result is materialized
    // below (the [[ProbeCache]] contract)
    val sq0 = applyPerm(VectorQuantizer.scaled(queries, id, vec),
      params.perm)
    val sq = if (materialize) sq0.persist() else sq0
    // the IVF half: nprobe coarse cells per query under the FROZEN
    // coarse centroids; the distinct probed-cell set (≤ coarseC ints)
    // is the static partition filter every code root gets below
    val queryCells = if (nprobe > 0) {
      require(params.c > 0,
        s"nprobe=$nprobe needs an IVFPQ artifact (published with " +
          s"coarseC > 0); $idxPath is a flat-PQ generation")
      val coarse = spark.read.parquet(
        new java.io.File(idxPath, "coarse").toString)
      Some(VectorQuantizer.assignCells(sq, coarse, id, nprobe)
        .select(col(id).as("query_id"), col("cell").cast("int").as("ccell"))
        .localCheckpoint())
    } else None
    val probed = queryCells.map(_.select("ccell").distinct()
      .collect().map(_.getInt(0)).sorted)
    // base codes ∪ committed code deltas NOT already folded into this
    // generation (each delta already encoded with the frozen codebooks
    // at append time); uncompacted deletes are honored at probe time
    // via the shared tombstone log. The probed-cell filter applies per
    // root, so an unmerged delta costs its probed partitions only.
    val codes0 = DeltaLog.unfolded(listed, idxPath)
      .map(spark.read.parquet(_))
      .foldLeft(spark.read.parquet(
        new java.io.File(idxPath, "codes").toString))(_.unionByName(_))
    val pruned = probed.fold(codes0)(cells =>
      codes0.filter(col("ccell").isin(cells.toIndexedSeq.map(Int.box): _*)))
    val codes2 = masks.scrub(pruned)
    // rank-stage pruning ([[adcRescoreAt]]): only candidate ids'
    // code rows enter the ADC join — batch-bounded broadcast
    val codes = candPairs
      .map(cp => codes2.join(
        broadcast(cp.select(col("index_id")).distinct()),
        Seq("index_id"), "left_semi"))
      .getOrElse(codes2)
    // subspace split carrying extra key columns — [[VectorQuantizer
    // .subVectors]]' shape with a pass-through column list
    def subSplit(df: DataFrame, keep: Seq[String]): DataFrame =
      df.select(keep.map(col) :+
          explode(array((0 until m).map(j => struct(lit(j).as("sub"),
            slice(col("xs"), j * dsub + 1, dsub).as("xs"))): _*)).as("t"): _*)
        .select(keep.map(col) :+ col("t.sub").as("sub") :+
          col("t.xs").as("xs"): _*)
    val resid = params.resid
    require(!resid || queryCells.isDefined,
      s"a by_residual artifact serves IVF-pruned probes only " +
        s"(nprobe > 0); $idxPath was published with byResidual=true")
    // with IVF pruning, only (query, vector) pairs meeting in a probed
    // cell score at all (a vector lives in exactly one cell, so the
    // cell join can never pair a (query, vector) twice); without it
    // every pair scores — the flat exhaustive ADC
    val paired = (queryCells, resid) match {
      case (Some(qc), true) =>
        // residual ADC: the distance table is PER (query, probed
        // cell) — the query's residual against THAT cell's centroid,
        // m·ks entries each (nq·nprobe·m·ks rows total:
        // batch-bounded, broadcast). Code rows pair within their own
        // cell only, so each (query, vector) still scores once.
        val coarse = spark.read.parquet(
          new java.io.File(idxPath, "coarse").toString)
        val qres = qc
          .join(sq.withColumnRenamed(id, "query_id"), Seq("query_id"))
          .join(broadcast(coarse.select(col("cell").cast("int").as("ccell"),
            col("cs").as("ccs"))), Seq("ccell"))
          .select(col("query_id"), col("ccell"),
            zip_with(col("xs"), col("ccs"), (x, c) => x - c).as("xs"))
        val dtabR = subSplit(qres, Seq("query_id", "ccell"))
          .join(broadcast(cent), Seq("sub"))
          .select(col("query_id"), col("ccell"), col("sub"), col("cell"),
            VectorQuantizer.l2DistSq(col("xs"), col("cs")).as("d2"))
        codes.join(broadcast(qc), Seq("ccell"))
          .select(col("query_id"), col("ccell"), col("index_id"),
            posexplode(col("codes")).as(Seq("sub", "cell")))
          .join(broadcast(dtabR), Seq("query_id", "ccell", "sub", "cell"))
      case (qcOpt, _) =>
        val dtab = subSplit(sq.withColumnRenamed(id, "query_id"),
            Seq("query_id"))
          .join(broadcast(cent), Seq("sub"))
          .select(col("query_id"), col("sub"), col("cell"),
            VectorQuantizer.l2DistSq(col("xs"), col("cs")).as("d2"))
        qcOpt match {
          case Some(qc) =>
            codes.join(broadcast(qc), Seq("ccell"))
              .select(col("query_id"), col("index_id"),
                posexplode(col("codes")).as(Seq("sub", "cell")))
              .join(broadcast(dtab), Seq("query_id", "sub", "cell"))
          case None =>
            codes.select(col("index_id"),
                posexplode(col("codes")).as(Seq("sub", "cell")))
              .join(broadcast(dtab), Seq("sub", "cell"))
        }
    }
    // self-pair exclusion applies to DISCOVERY probes only: when a
    // caller supplies candidate pairs, that set alone defines the
    // rank stage's scope — "rescore exactly the produced pairs", even
    // one whose ids coincide (the recall stage already decided)
    val scored0 = (if (candPairs.isDefined) paired
      else paired.filter(col("index_id") =!= col("query_id")))
      .groupBy("query_id", "index_id").agg(sum("d2").as("adc_d2"))
    // rank-stage pair restriction: a candidate id may be another
    // query's candidate only — keep exactly the produced pairs
    val scored = candPairs
      .map(cp => scored0.join(
        broadcast(cp.select(col("query_id"), col("index_id")).distinct()),
        Seq("query_id", "index_id"), "left_semi"))
      .getOrElse(scored0)
    val w = Window.partitionBy("query_id")
      .orderBy(asc("adc_d2"), asc("index_id"))
    val result = scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
    // ≤ k rows per query — materialize before releasing the scaled
    // batch cache; see [[ProbeCache]]
    if (materialize) try ProbeCache.materialize(result) finally sq.unpersist()
    else result
  }
}
