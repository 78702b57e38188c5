package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator

import graft.SparkSpec

/** Pins the [[ProbeCache]] contract across all eight index families:
  * a probe's RETURNED frame is materialized (lineage severed) before
  * the probe releases its batch-side cache, so
  *
  *   1. consuming the result any number of times re-derives the
  *      batch side ZERO times (the r11 regression re-signed a
  *      corpus-sized batch ~4× per query — q91 5.0→19.1 s,
  *      q246 4.5→32.4 s);
  *   2. the returned plan is a plain RDD scan — no exchanges, no
  *      scans of the batch source;
  *   3. a probe never unpersists a frame the CALLER persisted (r11's
  *      probeBanded evicted DedupStream's batch cache mid-batch);
  *   4. for the families on the one-job prologue (Sim, FirstSeen,
  *      Lex, Bpe), the call evaluates its batch side exactly once and
  *      leaves no checkpoint behind but the returned frames' own.
  *
  * Evaluation counting is an accumulator inside a UDF threaded
  * through the batch column every probe must read: any post-return
  * re-derivation of the batch side would bump it.
  */
class CachePolicySpec extends SparkSpec {
  import spark.implicits._

  private def countedText(df: DataFrame, c: String): (DataFrame, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("batch-evals")
    val bump = udf((s: String) => { acc.add(1L); s })
    (df.withColumn(c, bump(col(c))), acc)
  }

  private def countedVec(df: DataFrame, c: String): (DataFrame, LongAccumulator) = {
    val acc = spark.sparkContext.longAccumulator("batch-evals")
    val bump = udf((v: Seq[Float]) => { acc.add(1L); v })
    (df.withColumn(c, bump(col(c))), acc)
  }

  /** Consume `result` twice; the batch-eval accumulator must not
    * move, and the plan must already be a lineage-free RDD scan.
    */
  private def assertSettled(result: DataFrame, acc: LongAccumulator): Unit = {
    val after = acc.value
    result.count()
    result.collect()
    assert(acc.value == after,
      s"returned probe frame re-derived the batch side: $after -> ${acc.value}")
    val p = result.queryExecution.executedPlan.toString
    assert(p.contains("ExistingRDD"),
      s"returned probe frame is not a materialized RDD scan:\n${p.take(800)}")
    assert(!p.contains("Exchange"),
      s"returned probe frame still carries exchanges:\n${p.take(800)}")
  }

  /** Run one probe call over a batch of `batchRows` rows whose
    * evaluations `acc` counts: the batch side must be evaluated
    * exactly once during the call, and no checkpoint the call made
    * may outlive it except the returned frames' own.
    */
  private def assertOnePass(acc: LongAccumulator, batchRows: Long)
                           (call: => Seq[DataFrame]): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val evals0 = acc.value
    val results = call
    assert(acc.value - evals0 == batchRows,
      s"batch side evaluated ${acc.value - evals0} row-times, want $batchRows")
    val own = results.flatMap(_.queryExecution.logical.collectFirst {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
    }).toSet
    val kept = sc.getPersistentRDDs.keySet -- before
    assert(kept.subsetOf(own),
      s"checkpoints outlived the call: ${kept -- own} (results: $own)")
  }

  // ---------------------------------------------------------- fixtures

  private def doc(i: Int) =
    s"alpha beta gamma delta epsilon zeta token$i filler${i * 7} " +
      s"word${i % 13} tail${i * 31} end$i"

  private def vec(seed: Long, perturb: Float): Array[Float] =
    Array.tabulate(16) { i =>
      val h = (seed * 31 + i) * 2654435761L
      ((h % 1000).toFloat / 1000.0f) + (if (i == 0) perturb else 0.0f)
    }

  private lazy val corpusDocs =
    (0 until 40).map(i => (i.toLong, doc(i))).toDF("doc_id", "text")
  private lazy val vecIndex =
    (0 until 40).map(i => (100L + i, vec(i.toLong, 0.0f)))
      .toDF("vec_id", "embedding")
  private lazy val vecQueries =
    (0 until 5).map(q => (q.toLong, vec(q.toLong, 0.001f)))
      .toDF("vec_id", "embedding")

  // ---------------------------------------------------------- families

  test("DedupIndex.probe: result settled before the batch cache is released") {
    val root = Files.createTempDirectory("cps-dedup").toString
    DedupIndex.publish(
      Dedup.minhashSignatures(corpusDocs, "doc_id", "text", 16), "doc_id",
      4, 4, root)
    val (batch, acc) = countedText(
      Seq((1000L, doc(5)), (1001L, "nothing shared at all here"))
        .toDF("doc_id", "text"), "text")
    val r = DedupIndex.probe(spark,
      Dedup.minhashSignatures(batch, "doc_id", "text", 16),
      "doc_id", 4, 4, root)
    assertSettled(r, acc)
  }

  test("DedupIndex.probeBanded never unpersists a caller's frame") {
    val root = Files.createTempDirectory("cps-dedup2").toString
    val sigI = Dedup.minhashSignatures(corpusDocs, "doc_id", "text", 16)
    DedupIndex.publish(sigI, "doc_id", 4, 4, root)
    val nb = Dedup.bandRows(
        Dedup.minhashSignatures(
          Seq((1000L, doc(5))).toDF("doc_id", "text"),
          "doc_id", "text", 16), "doc_id", 4, 4)
      .withColumnRenamed("doc_id", "new_id")
      .withColumn("bucket",
        DedupIndex.bucketOf(col("band"), col("band_key")))
      .persist()
    nb.count() // cache populated, as DedupStream does
    DedupIndex.probeBanded(spark, nb, root).count()
    assert(nb.storageLevel.useMemory || nb.storageLevel.useDisk,
      "probeBanded clobbered the caller's persisted batch frame")
    nb.unpersist()
  }

  test("SimIndex.probeTopK: result settled before the batch cache is released") {
    val root = Files.createTempDirectory("cps-sim").toString
    SimIndex.publish(vecIndex, "vec_id", "embedding", 8, 4, root)
    val (q, acc) = countedVec(vecQueries, "embedding")
    val r = SimIndex.probeTopK(spark, q, "vec_id", "embedding", 3, root)
    assertSettled(r, acc)
  }

  test("FirstSeenIndex.probe: result settled before the batch cache is released") {
    val root = Files.createTempDirectory("cps-fs").toString
    FirstSeenIndex.publish(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "s"), root)
    val (batch, acc) = countedText(
      Seq((10L, "b"), (10L, "x"), (11L, "a")).toDF("doc_id", "s"), "s")
    val r = FirstSeenIndex.probe(spark, batch, root)
    assertSettled(r, acc)
  }

  test("LexIndex.bm25TopK: result settled before the query-term cache is released") {
    val root = Files.createTempDirectory("cps-lex").toString
    LexIndex.publish(corpusDocs, "doc_id", "text", root)
    val (q, acc) = countedText(
      Seq((0L, "alpha"), (0L, "word5"), (1L, "zeta"))
        .toDF("query_id", "term"), "term")
    val r = LexIndex.bm25TopK(spark, q, "query_id", "term", 5, root)
    assertSettled(r, acc)
  }

  test("LexIndex.bm25TopK deduplicates a repeated (query_id, term) row") {
    val root = Files.createTempDirectory("cps-lex2").toString
    LexIndex.publish(corpusDocs, "doc_id", "text", root)
    val once = Seq((0L, "alpha")).toDF("query_id", "term")
    val twice = Seq((0L, "alpha"), (0L, "alpha")).toDF("query_id", "term")
    val a = LexIndex.bm25TopK(spark, once, "query_id", "term", 5, root)
      .select("query_id", "index_id", "n_hit", "score", "rnk")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val b = LexIndex.bm25TopK(spark, twice, "query_id", "term", 5, root)
      .select("query_id", "index_id", "n_hit", "score", "rnk")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(a == b, "duplicate term rows changed BM25 scores/hits")
  }

  test("PqIndex.probeTopK: result settled before the batch cache is released") {
    val root = Files.createTempDirectory("cps-pq").toString
    PqIndex.publish(vecIndex, "vec_id", "embedding", 4, 4, 8, 2, root)
    val (q, acc) = countedVec(vecQueries, "embedding")
    val r = PqIndex.probeTopK(spark, q, "vec_id", "embedding", 3, root)
    assertSettled(r, acc)
  }

  test("BpeIndex.tokenize: result settled before the batch cache is released") {
    val root = Files.createTempDirectory("cps-bpe").toString
    BpeIndex.publish(corpusDocs, "doc_id", "text", 4, root)
    val (batch, acc) = countedText(
      (50 until 55).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "text")
    val r = BpeIndex.tokenize(spark, batch, "doc_id", "text", root)
    assertSettled(r, acc)
  }

  test("BpeIndex.censusAndUnseen: both returned frames settled") {
    val root = Files.createTempDirectory("cps-bpe2").toString
    BpeIndex.publish(corpusDocs, "doc_id", "text", 4, root)
    val (batch, acc) = countedText(
      (50 until 55).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "text")
    val (census, unseen) =
      BpeIndex.censusAndUnseen(spark, batch, "doc_id", "text", root)
    assertSettled(census, acc)
    assertSettled(unseen, acc)
  }

  test("GraphIndex.neighbors: result settled before the node cache is released") {
    val root = Files.createTempDirectory("cps-graph").toString
    GraphIndex.publish(
      (0 until 40).flatMap(i =>
        Seq((i.toLong, (i + 1).toLong, 1L), ((i + 1).toLong, i.toLong, 1L)))
        .toDF("src", "dst", "w"), root)
    val acc = spark.sparkContext.longAccumulator("batch-evals")
    val bump = udf((n: Long) => { acc.add(1L); n })
    val nodes = Seq(1L, 2L, 3L).toDF("node")
      .withColumn("node", bump(col("node")))
    val r = GraphIndex.neighbors(spark, nodes, root)
    assertSettled(r, acc)
    val d = GraphIndex.degrees(spark, nodes, root)
    assertSettled(d, acc)
  }

  test("SimIndex.probeTopK/probeTopKAt: one batch pass, no batch checkpoint kept") {
    val root = Files.createTempDirectory("cps-sim1").toString
    val gen = SimIndex.publish(vecIndex, "vec_id", "embedding", 8, 4, root)
    SimIndex.appendDelta(vecQueries.withColumn("vec_id", $"vec_id" + 500L),
      "vec_id", "embedding", root, "d1")
    val (q, acc) = countedVec(vecQueries, "embedding")
    assertOnePass(acc, 5L)(Seq(
      SimIndex.probeTopK(spark, q, "vec_id", "embedding", 3, root)))
    assertOnePass(acc, 5L)(Seq(
      SimIndex.probeTopKAt(spark, q, "vec_id", "embedding", 3, gen)))
  }

  test("FirstSeenIndex.probe/probeAt: one batch pass, no batch checkpoint kept") {
    val root = Files.createTempDirectory("cps-fs1").toString
    val gen = FirstSeenIndex.publish(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "s"), root)
    FirstSeenIndex.fold(spark, Seq((5L, "x")).toDF("doc_id", "s"), root, "f1")
    val (batch, acc) = countedText(
      Seq((10L, "b"), (10L, "x"), (11L, "a")).toDF("doc_id", "s"), "s")
    assertOnePass(acc, 3L)(Seq(FirstSeenIndex.probe(spark, batch, root)))
    assertOnePass(acc, 3L)(Seq(FirstSeenIndex.probeAt(spark, batch, gen)))
  }

  test("LexIndex.bm25TopK/bm25TopKAt: one batch pass, no batch checkpoint kept") {
    val root = Files.createTempDirectory("cps-lex3").toString
    val gen = LexIndex.publish(corpusDocs, "doc_id", "text", root)
    val (q, acc) = countedText(
      Seq((0L, "alpha"), (0L, "word5"), (1L, "zeta"))
        .toDF("query_id", "term"), "term")
    assertOnePass(acc, 3L)(Seq(
      LexIndex.bm25TopK(spark, q, "query_id", "term", 5, root)))
    assertOnePass(acc, 3L)(Seq(
      LexIndex.bm25TopKAt(spark, q, "query_id", "term", 5, gen)))
  }

  test("BpeIndex memo probes: one batch pass, no batch checkpoint kept") {
    val root = Files.createTempDirectory("cps-bpe3").toString
    val gen = BpeIndex.publish(corpusDocs, "doc_id", "text", 4, root)
    val (batch, acc) = countedText(
      (50 until 55).map(i => (i.toLong, doc(i))).toDF("doc_id", "text"),
      "text")
    assertOnePass(acc, 5L)(Seq(
      BpeIndex.tokenize(spark, batch, "doc_id", "text", root)))
    assertOnePass(acc, 5L)(Seq(
      BpeIndex.tokenizeAt(spark, batch, "doc_id", "text", gen)))
    assertOnePass(acc, 5L) {
      val (census, unseen) =
        BpeIndex.censusAndUnseen(spark, batch, "doc_id", "text", root)
      Seq(census, unseen)
    }
    val (words, wacc) = countedText(
      Seq("alpha", "zeta", "nope").toDF("word"), "word")
    assertOnePass(wacc, 3L)(Seq(BpeIndex.memoLookup(spark, words, root)))
    assertOnePass(wacc, 3L)(Seq(BpeIndex.memoLookupAt(spark, words, gen)))
  }

  test("SketchIndex.estimate: result settled before the query cache is released") {
    val root = Files.createTempDirectory("cps-cms").toString
    SketchIndex.publish(
      corpusDocs.select(explode(split($"text", " ")).as("term")),
      "term", 4, 64, root)
    val (q, acc) = countedText(
      Seq("alpha", "zeta", "nope").toDF("term"), "term")
    val r = SketchIndex.estimate(spark, q, "term", root)
    assertSettled(r, acc)
  }
}
