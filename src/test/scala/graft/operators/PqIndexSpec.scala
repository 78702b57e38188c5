package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted PQ index: versioned publish with frozen
  * (m, dsub, ks, iters) params, artifact-served ADC probe, and exact
  * parity with an ADC replay computed directly from the committed
  * codebook + code table (so the probe provably scores off the
  * artifact, not a retrain).
  */
class PqIndexSpec extends SparkSpec {
  import spark.implicits._

  private val M = 4; private val DSUB = 4; private val KS = 8
  private val ITERS = 2; private val K = 3
  private val DIM = M * DSUB

  // ids 0..39 are the index (fitPQ seeds from the first KS ids);
  // query 1000+q is a near-copy of index vector q, so its original
  // must land in its ADC top-K
  private def vec(seed: Long, perturb: Float): Array[Float] =
    Array.tabulate(DIM) { i =>
      val h = (seed * 31 + i) * 2654435761L
      ((h % 1000).toFloat / 1000.0f) + (if (i == 0) perturb else 0.0f)
    }

  private lazy val index =
    (0 until 40).map(i => (i.toLong, vec(i.toLong, 0.0f)))
      .toDF("vec_id", "embedding")
  private lazy val queries =
    (0 until 5).map(q => (1000L + q, vec(q.toLong, 0.001f)))
      .toDF("vec_id", "embedding")

  test("publish commits codebook + m-code table + frozen params") {
    val root = Files.createTempDirectory("pqidx").toString
    val path = PqIndex.publish(index, "vec_id", "embedding",
      M, DSUB, KS, ITERS, root)
    assert(PqIndex.params(root) == ((M, DSUB, KS, ITERS)))
    val codes = spark.read.parquet(
      new java.io.File(path, "codes").toString)
    assert(codes.count() == 40)
    // every vector carries exactly m codes, each a trained cell id
    // (seeded from the first KS vector ids)
    val bad = codes.filter(size($"codes") =!= M ||
      exists($"codes", c => c < 0 || c >= KS)).count()
    assert(bad == 0, "code rows outside the m x ks geometry")
    val cb = spark.read.parquet(
      new java.io.File(path, "codebook").toString)
    assert(cb.count() <= M.toLong * KS) // empty cells may drop out
    assert(cb.select("sub").distinct().count() == M)
  }

  test("probe reproduces an ADC replay computed from the artifact itself") {
    val root = Files.createTempDirectory("pqidx").toString
    val path = PqIndex.publish(index, "vec_id", "embedding",
      M, DSUB, KS, ITERS, root)
    val got = PqIndex.probeTopK(spark, queries, "vec_id", "embedding",
        K, root)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    // independent replay off the committed files: explode codes, look
    // up the committed codebook, exact integer ADC, rank
    val cb = spark.read.parquet(new java.io.File(path, "codebook").toString)
    val codes = spark.read.parquet(new java.io.File(path, "codes").toString)
    val qpq = VectorQuantizer.subVectors(
        VectorQuantizer.scaled(queries, "vec_id", "embedding"),
        "vec_id", M, DSUB)
      .withColumnRenamed("vec_id", "query_id")
    val dtab = qpq.join(cb, Seq("sub"))
      .select($"query_id", $"sub", $"cell",
        VectorQuantizer.l2DistSq($"xs", $"cs").as("d2"))
    val want = codes
      .select($"index_id", posexplode($"codes").as(Seq("sub", "cell")))
      .join(dtab, Seq("sub", "cell"))
      .groupBy("query_id", "index_id").agg(sum("d2").as("adc_d2"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(asc("adc_d2"), asc("index_id"))).cast("long"))
      .filter($"rnk" <= K)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(want.nonEmpty)
    assert(got == want)
    // each near-copy query's original must land in its ADC top-K
    // (identical-code vectors can tie ahead, so top-K not top-1)
    for (q <- 0L until 5L)
      assert(got.exists(t => t._1 == 1000L + q && t._2 == q),
        s"query ${1000 + q}'s original $q missing from its top-$K")
  }

  test("probe follows the COMMITTED generation: stale before re-publish, fresh after") {
    // non-vacuous frozen-codebook proof: the same root serves the v1
    // (half-corpus) answers until a re-publish commits v2, and v2's
    // answers equal a from-scratch index over the grown corpus — so
    // the probe's codebooks/codes come from the committed artifact,
    // never from whatever corpus currently exists
    val half = index.filter($"vec_id" < 20L)
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(half, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    def probe(r: String) = PqIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, r)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val v1Answers = probe(root)
    // the corpus "grew" but nothing was re-published: still v1 answers
    assert(probe(root) == v1Answers)
    assert(!v1Answers.exists(_._2 >= 20L),
      "v1 probe surfaced a vector the committed generation cannot hold")
    // re-publish over the full corpus: the probe must move to v2...
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    val v2Answers = probe(root)
    assert(v2Answers != v1Answers,
      "re-publish over a grown corpus did not change the probe")
    // ...and v2 ≡ a from-scratch index over the same grown corpus
    val fresh = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, fresh)
    assert(v2Answers == probe(fresh))
  }

  test("delta append encodes with FROZEN codebooks; merge folds without re-encode") {
    val root = Files.createTempDirectory("pqidx").toString
    val base = index.filter($"vec_id" < 20L)
    val delta = index.filter($"vec_id" >= 20L)
    val basePath = PqIndex.publish(base, "vec_id", "embedding",
      M, DSUB, KS, ITERS, root)
    PqIndex.appendDelta(delta, "vec_id", "embedding", root)
    assert(PqIndex.deltas(root).size == 1)
    def probeSet() = PqIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val withDelta = probeSet()
    // delta rows ARE retrievable, scored via the BASE's codebook:
    // replay the delta's encoding off the committed codebook and
    // check those codes are what the delta dir holds
    val cb = spark.read.parquet(new java.io.File(basePath, "codebook").toString)
    val wantCodes = VectorQuantizer.assignSubCells(
        VectorQuantizer.subVectors(
          VectorQuantizer.scaled(delta, "vec_id", "embedding"),
          "vec_id", M, DSUB), cb, "vec_id")
      .groupBy($"vec_id".as("index_id"))
      .agg(transform(array_sort(collect_list(struct($"sub", $"cell"))),
        s => s.getField("cell")).as("codes"))
      .as[(Long, Seq[Long])].collect().toSet
    val gotCodes = spark.read.parquet(PqIndex.deltas(root).head)
      .as[(Long, Seq[Long])].collect().toSet
    assert(gotCodes == wantCodes,
      "delta codes diverge from a frozen-codebook encode")
    // merge: same answers, no deltas left, params + codebook carry over
    val v2 = PqIndex.mergeCompact(spark, root)
    assert(PqIndex.deltas(root).isEmpty)
    assert(PqIndex.params(root) == ((M, DSUB, KS, ITERS)))
    val cb2 = spark.read.parquet(new java.io.File(v2, "codebook").toString)
      .as[(Int, Long, Seq[Long])].collect().toSet
    assert(cb2 == cb.as[(Int, Long, Seq[Long])].collect().toSet,
      "merge-compaction altered the codebook")
    assert(probeSet() == withDelta, "post-merge probe diverges")
  }

  test("tombstoned vectors vanish from probes; merge purges them physically") {
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    def results() = PqIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root)
      .select("query_id", "index_id")
      .as[(Long, Long)].collect().toSet
    // query 1002's original (vector 2) is in its top-K — delete it
    assert(results().contains((1002L, 2L)))
    PqIndex.addTombstones(spark, Seq(2L).toDF("vec_id"), "vec_id", root)
    val after = results()
    assert(!after.exists(_._2 == 2L),
      s"tombstoned vector still retrievable: $after")
    // physically still on disk until the merge
    val v1 = PqIndex.resolve(root).get
    assert(spark.read.parquet(new java.io.File(v1, "codes").toString)
      .filter($"index_id" === 2L).count() > 0)
    val v2 = PqIndex.mergeCompact(spark, root)
    assert(spark.read.parquet(new java.io.File(v2, "codes").toString)
      .filter($"index_id" === 2L).count() == 0)
    assert(PqIndex.tombstones(spark, root).isEmpty)
    assert(results() == after, "post-merge probe diverges")
    PqIndex.vacuumOld(root)
    val gens = new java.io.File(root).listFiles()
      .filter(_.getName.matches("index\\.v\\d+")).map(_.getName).toSet
    assert(gens == Set(new java.io.File(v2).getName))
  }

  private val C = 4 // coarse cells for the IVFPQ tests

  test("IVFPQ publish commits coarse/ + ccell-partitioned codes; nprobe=C probe ≡ exhaustive flat probe") {
    val root = Files.createTempDirectory("pqidx").toString
    val path = PqIndex.publish(index, "vec_id", "embedding",
      M, DSUB, KS, ITERS, root, coarseC = C, coarseIters = 2)
    assert(new java.io.File(path, "coarse").isDirectory,
      "IVFPQ artifact missing its frozen coarse centroids")
    val cellDirs = new java.io.File(path, "codes").listFiles()
      .count(_.getName.startsWith("ccell="))
    assert(cellDirs > 1 && cellDirs <= C,
      s"codes/ not partitioned by coarse cell: $cellDirs dirs")
    def probe(np: Int) = PqIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root, np)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val flat = PqIndex.probeTopK(spark, queries, "vec_id", "embedding",
        K, root)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(flat.nonEmpty)
    // probing every coarse cell makes every vector a candidate — the
    // pruned path must then reproduce the exhaustive ADC exactly
    assert(probe(C) == flat)
    // nprobe=1: every surfaced neighbor must live in its query's ONE
    // probed cell (replayed off the committed coarse centroids)
    val coarse = spark.read.parquet(new java.io.File(path, "coarse").toString)
    val qCell = VectorQuantizer.assignCells(
        VectorQuantizer.scaled(queries, "vec_id", "embedding"),
        coarse, "vec_id")
      .as[(Long, Long)].collect().toMap
    val iCell = spark.read.parquet(new java.io.File(path, "codes").toString)
      .select($"index_id", $"ccell".cast("long"))
      .as[(Long, Long)].collect().toMap
    val one = probe(1)
    assert(one.nonEmpty)
    for ((q, i, _, _) <- one)
      assert(iCell(i) == qCell(q),
        s"nprobe=1 surfaced vector $i outside query $q's probed cell")
  }

  test("IVFPQ nprobe probe prunes codes/ partition directories statically") {
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding",
      M, DSUB, KS, ITERS, root, coarseC = C, coarseIters = 2)
    // the pruned scan must carry the probed-cell set as a STATIC
    // partition filter — pruning at file listing, not post-scan
    // (DedupIndexSpec's bucket-pruning assertion, on the ccell layout)
    val p = PqIndex.probeTopKPlan(spark, queries, "vec_id", "embedding",
        K, root, 1)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*ccell[^\\]]*IN".r.findFirstIn(p).isDefined
        || "PartitionFilters: \\[[^\\]]*ccell[^\\]]*INSET".r.findFirstIn(p).isDefined,
      s"nprobe probe scan lost its ccell partition filter:\n${p.take(2000)}")
    // and a flat-PQ artifact refuses nprobe probing with a clear error
    val flatRoot = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, flatRoot)
    val e = intercept[IllegalArgumentException] {
      PqIndex.probeTopK(spark, queries, "vec_id", "embedding", K, flatRoot, 1)
    }
    assert(e.getMessage.contains("IVFPQ"))
  }

  test("IVFPQ delta append assigns ccells with the FROZEN coarse centroids; merge keeps the layout") {
    val root = Files.createTempDirectory("pqidx").toString
    val base = index.filter($"vec_id" < 20L)
    val delta = index.filter($"vec_id" >= 20L)
    val basePath = PqIndex.publish(base, "vec_id", "embedding",
      M, DSUB, KS, ITERS, root, coarseC = C, coarseIters = 2)
    PqIndex.appendDelta(delta, "vec_id", "embedding", root)
    val deltaPath = PqIndex.deltas(root).head
    assert(new java.io.File(deltaPath).listFiles()
      .exists(_.getName.startsWith("ccell=")),
      "delta codes not partitioned by coarse cell")
    // the delta's cells must be the FROZEN coarse centroids' argmin —
    // replayed off the committed coarse/, not a retrain
    val coarse = spark.read.parquet(
      new java.io.File(basePath, "coarse").toString)
    val want = VectorQuantizer.assignCells(
        VectorQuantizer.scaled(delta, "vec_id", "embedding"),
        coarse, "vec_id")
      .as[(Long, Long)].collect().toMap
    val got = spark.read.parquet(deltaPath)
      .select($"index_id", $"ccell".cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(got == want, "delta ccells diverge from a frozen-coarse assign")
    def probeSet() = PqIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root, 2)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    val withDelta = probeSet()
    val v2 = PqIndex.mergeCompact(spark, root)
    assert(PqIndex.deltas(root).isEmpty)
    assert(new java.io.File(v2, "coarse").isDirectory,
      "merge dropped the coarse centroids")
    assert(new java.io.File(v2, "codes").listFiles()
      .exists(_.getName.startsWith("ccell=")),
      "merge flattened the ccell partition layout")
    assert(probeSet() == withDelta, "post-merge nprobe probe diverges")
  }

  test("a crash-leftover folded delta is never double-summed and the next merge deletes it") {
    // the nastiest hazard in this family: ADC SUMS d2 per code row, so
    // a delta surviving past its fold (crash between commit and
    // deletion) would double every folded vector's distance if a
    // reader summed it again. The _folded.json sidecar must make
    // probes and merges skip it, and the NEXT merge must physically
    // delete it (r11: previously it accumulated forever).
    val root = Files.createTempDirectory("pqidx").toString
    val base = index.filter($"vec_id" < 20L)
    val delta = index.filter($"vec_id" >= 20L)
    PqIndex.publish(base, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    val deltaPath = new java.io.File(
      PqIndex.appendDelta(delta, "vec_id", "embedding", root))
    // snapshot the committed delta dir, then merge (folds + deletes it)
    val copy = Files.createTempDirectory("pqidx-copy").toFile
    def cp(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(f => cp(f, new java.io.File(dst, f.getName)))
      } else { Files.copy(src.toPath, dst.toPath); () }
    }
    cp(deltaPath, new java.io.File(copy, deltaPath.getName))
    def probeSet() = PqIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root)
      .select("query_id", "index_id", "adc_d2", "rnk")
      .as[(Long, Long, Long, Long)].collect().toSet
    PqIndex.mergeCompact(spark, root)
    val clean = probeSet()
    // simulate the crash: the already-folded delta dir reappears
    // exactly as it was at fold time
    cp(new java.io.File(copy, deltaPath.getName), deltaPath)
    assert(PqIndex.deltas(root).size == 1, "leftover not visible as a delta")
    // probes must skip it (identical answers — no doubled ADC sums)
    assert(probeSet() == clean,
      "probe double-summed an already-folded delta")
    // and the next merge must fold NOTHING from it, yet delete it
    // (its name stays in THAT generation's sidecar for readers holding
    // the pre-merge delta listing)
    PqIndex.mergeCompact(spark, root)
    assert(!deltaPath.exists(),
      "already-folded crash leftover survived the next merge")
    assert(probeSet() == clean, "second merge changed answers")
    // the ledger is cumulative: with the dir physically gone, the
    // merge AFTER that has nothing pending and commits no version
    val serving = PqIndex.resolve(root).get
    assert(PqIndex.mergeCompact(spark, root) == serving,
      "a merge with nothing pending committed a new generation")
    assert(PqIndex.resolve(root).contains(serving))
    assert(probeSet() == clean, "third merge changed answers")
  }

  test("resolve picks the highest committed version; params travel with it") {
    val root = Files.createTempDirectory("pqidx").toString
    assert(PqIndex.resolve(root).isEmpty)
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    val v2 = PqIndex.publish(index, "vec_id", "embedding",
      2, 8, 4, 1, root)
    assert(PqIndex.resolve(root).contains(v2))
    // the LATEST generation's params win — a re-index with new
    // geometry must not serve probes split with the old one
    assert(PqIndex.params(root) == ((2, 8, 4, 1)))
    // a crashed re-index (no _SUCCESS) stays invisible
    val orphan = new java.io.File(root, "index.v9")
    assert(orphan.mkdir())
    assert(PqIndex.resolve(root).contains(v2))
  }

  test("by_residual artifact: residual encode + per-cell ADC; lifecycle carries the flag") {
    val C = 4
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS,
      root, coarseC = C, coarseIters = 2, byResidual = true)
    // a near-copy query's original must land in its residual top-K
    // when every cell is probed (the flat-parity sanity the
    // non-residual artifact proves exhaustively)
    val got = PqIndex.probeTopK(spark, queries, "vec_id", "embedding",
        K, root, C)
      .select($"query_id", $"index_id", $"rnk")
      .as[(Long, Long, Long)].collect()
    assert((0 until 5).forall(q =>
      got.exists(r => r._1 == 1000L + q && r._2 == q)),
      s"residual ADC lost a near-copy's original: ${got.toSeq}")
    // a flat (nprobe=0) probe of a residual artifact must refuse —
    // residual ADC tables only exist per probed cell
    val e = intercept[IllegalArgumentException] {
      PqIndex.probeTopK(spark, queries, "vec_id", "embedding", K, root)
    }
    assert(e.getMessage.contains("by_residual"))
    // delta append encodes RESIDUALS under the frozen coarse+codebook:
    // an appended exact copy of an indexed vector gets identical codes
    // and the identical coarse cell
    val copy = index.filter($"vec_id" === 7L)
      .select(($"vec_id" + 500L).as("vec_id"), $"embedding")
    PqIndex.appendDelta(copy, "vec_id", "embedding", root)
    val baseRow = spark.read.parquet(
        new java.io.File(PqIndex.resolve(root).get, "codes").toString)
      .filter($"index_id" === 7L).select("codes", "ccell").collect().head
    val deltaRow = spark.read.parquet(PqIndex.deltas(root).head)
      .filter($"index_id" === 507L).select("codes", "ccell").collect().head
    assert(baseRow.getSeq[Long](0) == deltaRow.getSeq[Long](0) &&
      baseRow.getInt(1) == deltaRow.getInt(1),
      "delta append did not encode the residual under frozen quantizers")
    // merge carries the residual flag forward (a generation that
    // silently dropped it would serve flat ADC over residual codes)
    PqIndex.mergeCompact(spark, root)
    val params = java.nio.file.Files.readString(java.nio.file.Paths.get(
      PqIndex.resolve(root).get, "_params.json"))
    assert(params.contains("\"resid\":1"),
      s"mergeCompact dropped the by_residual flag: $params")
    assert(PqIndex.probeTopK(spark, queries, "vec_id", "embedding",
      K, root, C).count() > 0)
  }

  test("retrainOnDrift: fires on a re-embedded corpus, absorbs a stable one") {
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    val baseline = PqIndex.publishQuantizationError(root)
    assert(baseline > 0L, "publish must record a quantization baseline")
    // the SAME corpus fits exactly as well as at publish: ratio 1000,
    // below any sane threshold — no re-train, no new generation
    assert(PqIndex.retrainOnDrift(spark, index, "vec_id", "embedding",
      root, factorMilli = 1500L).isEmpty)
    assert(VersionedDirs.versionsOf(root).size == 1)
    // a re-embedded corpus (dimension reversal — an isometry that
    // scrambles every subspace statistic) must trip the trigger and
    // republish with the SAME frozen geometry
    val drifted = index.select($"vec_id",
      reverse($"embedding").as("embedding"))
    val fired = PqIndex.retrainOnDrift(spark, drifted, "vec_id",
      "embedding", root, factorMilli = 1500L)
    assert(fired.isDefined, "drift trigger failed to fire on reversal")
    assert(VersionedDirs.versionsOf(root).size == 2)
    assert(PqIndex.params(root) == ((M, DSUB, KS, ITERS)))
    // the re-published generation's codebooks fit the drifted corpus
    // as a fresh publish would: its recorded baseline is the new
    // corpus's own error, and re-measuring lands on ratio 1000
    val reQ = PqIndex.quantizationError(spark, drifted, "vec_id",
      "embedding", root)
    assert(reQ * 1000L / PqIndex.publishQuantizationError(root) == 1000L,
      "re-published codebooks are not a fresh fit of the drifted corpus")
  }

  test("re-publish invalidates the delta log: stale-codebook codes never served") {
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    // delta codes argmin'd against the v1 codebooks
    val extra = (200 until 210)
      .map(i => (i.toLong, vec(i.toLong, 0.0f))).toDF("vec_id", "embedding")
    PqIndex.appendDelta(extra, "vec_id", "embedding", root)
    assert(PqIndex.deltas(root).size == 1)
    // drift fires → v2 codebooks; the v1-coded delta must be
    // invalidated, not decoded against v2's ADC tables
    val drifted = index.select($"vec_id",
      reverse($"embedding").as("embedding"))
    assert(PqIndex.retrainOnDrift(spark, drifted, "vec_id", "embedding",
      root, factorMilli = 1500L).isDefined)
    assert(PqIndex.deltas(root).isEmpty,
      "re-publish left stale-codebook delta codes in the log")
    // no delta id may surface from a probe of the retrained artifact
    val hits = PqIndex.probeTopK(spark, queries, "vec_id", "embedding",
        40, root)
      .select($"index_id").as[Long].collect().toSet
    assert(!hits.exists(_ >= 200L),
      s"probe served codes encoded under the superseded codebooks: $hits")
  }

  test("mergeCompact carries the qerr drift baseline forward") {
    val root = Files.createTempDirectory("pqidx").toString
    PqIndex.publish(index, "vec_id", "embedding", M, DSUB, KS, ITERS, root)
    val baseline = PqIndex.publishQuantizationError(root)
    assert(baseline > 0L)
    PqIndex.addTombstones(spark,
      Seq(1L).toDF("vec_id"), "vec_id", root)
    PqIndex.mergeCompact(spark, root)
    assert(PqIndex.publishQuantizationError(root) == baseline,
      "compaction dropped the qerr baseline — retrainOnDrift is dead " +
        "after the first GDPR purge")
    // and the trigger still absorbs/fires as before the compaction
    assert(PqIndex.retrainOnDrift(spark, index, "vec_id", "embedding",
      root, factorMilli = 1500L).isEmpty)
  }
}
