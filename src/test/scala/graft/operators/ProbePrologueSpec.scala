package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The shared probe prologue of the bucket-partitioned families
  * ([[ProbeCache.keyed]] + [[ProbeCache.prunedRead]]):
  *
  *   - a pruned read returns exactly the rows of the full read of each
  *     root plus the static bucket filter, for any touched set —
  *     buckets absent from a root, from every root, and more touched
  *     directories than Spark's parallel-listing threshold (32);
  *   - it reads the generations the family writers commit (publish,
  *     tagged delta append, merge-compaction), whose layout the
  *     prologue did not change;
  *   - a one-query probe of a base plus one delta launches no listing
  *     job, no schema-inference job, and exactly one job (the keyed
  *     batch's checkpoint) before its scoring plan.
  */
class ProbePrologueSpec extends SparkSpec {
  import spark.implicits._

  private def vec(seed: Long, perturb: Float): Array[Float] =
    Array.tabulate(16) { i =>
      val h = (seed * 31 + i) * 2654435761L
      ((h % 1000).toFloat / 1000.0f) + (if (i == 0) perturb else 0.0f)
    }

  private def vecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, vec(i.toLong, 0.0f))).toDF("vec_id", "embedding")

  /** Gaussian vectors: their LSH keys spread over every bucket. */
  private def gauss(seed: Long, perturb: Float): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.tabulate(16)(i =>
      r.nextGaussian().toFloat + (if (i == 0) perturb else 0.0f))
  }

  /** A SimIndex root: a base generation over 200 Gaussian vectors
    * (nearly every bucket present) and one small tagged delta (few
    * buckets).
    */
  private lazy val simRoot: String = {
    val root = Files.createTempDirectory("prologue-sim").toString
    SimIndex.publish((0 until 200).map(i => (i.toLong, gauss(i, 0.0f)))
      .toDF("vec_id", "embedding"), "vec_id", "embedding", 8, 4, root)
    SimIndex.appendDelta(vecs(1000 until 1003), "vec_id", "embedding",
      root, "d1")
    root
  }

  private def simRoots: Seq[String] =
    SimIndex.resolve(simRoot).get +: SimIndex.deltas(simRoot)

  private def buckets(root: String, c: String): Set[Int] =
    new java.io.File(root).listFiles().map(_.getName)
      .filter(_.startsWith(s"$c=")).map(_.stripPrefix(s"$c=").toInt).toSet

  /** The read every probe site made before the prologue: the whole
    * root, schema inferred, then the static bucket filter.
    */
  private def fullRead(roots: Seq[String], c: String,
                       touched: Seq[Int]): DataFrame =
    roots.map(p => spark.read.parquet(p)
        .filter(col(c).isin(touched.map(Int.box): _*)))
      .reduce(_.unionByName(_))

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def assertSameAsFullRead(roots: Seq[String], c: String,
                                   touched: Seq[Int]): Unit = {
    val pruned = ProbeCache.prunedRead(spark, roots, c, touched)
    val full = fullRead(roots, c, touched)
    assert(pruned.schema == full.schema,
      s"schema differs:\n${pruned.schema.treeString}\nvs\n${full.schema.treeString}")
    assert(rowsOf(pruned) == rowsOf(full),
      s"rows differ for touched set ${touched.mkString(",")}")
  }

  test("pruned read equals the full read plus filter for random touched sets") {
    val roots = simRoots
    val inDelta = buckets(roots(1), "pbucket")
    assert(inDelta.size < 32, s"delta too wide to miss buckets: $inDelta")
    val rnd = new scala.util.Random(42)
    val sets = Seq.fill(12)(
      rnd.shuffle((0 until SimIndex.NumBuckets).toList)
        .take(1 + rnd.nextInt(12)).sorted)
    // some sets must touch buckets the delta lacks, some must hit it
    assert(sets.exists(_.exists(b => !inDelta(b))))
    assert(sets.exists(_.exists(inDelta)))
    sets.foreach(t => assertSameAsFullRead(roots, "pbucket", t))
  }

  test("more than 32 touched buckets still read correctly") {
    val roots = simRoots
    val rnd = new scala.util.Random(7)
    assertSameAsFullRead(roots, "pbucket",
      rnd.shuffle((0 until SimIndex.NumBuckets).toList).take(40).sorted)
    assertSameAsFullRead(roots, "pbucket", 0 until SimIndex.NumBuckets)
  }

  test("a touched set absent from every root reads as a typed empty frame") {
    val root = Files.createTempDirectory("prologue-fs").toString
    val gen = FirstSeenIndex.publish(
      Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("doc_id", "s"), root)
    val present = buckets(gen, "pbucket")
    val absent = (0 until FirstSeenIndex.NumBuckets).filterNot(present).take(5)
    val empty = ProbeCache.prunedRead(spark, Seq(gen), "pbucket", absent)
    assert(empty.schema == spark.read.parquet(gen).schema)
    assert(empty.collect().isEmpty)
    assert(ProbeCache.prunedRead(spark, Seq(gen), "pbucket", Nil)
      .schema == empty.schema)
    // end to end: a batch whose shingles all fall in absent buckets
    // is annotated, unseen, with a typed null seen_doc
    val words = Iterator.from(0).map(i => s"w$i").filter { w =>
      val b = Seq(w).toDF("s").select(FirstSeenIndex.pbucketOf(col("s")))
        .head().getInt(0)
      !present(b)
    }.take(3).toSeq
    val got = FirstSeenIndex.probe(spark,
      words.map(w => (9L, w)).toDF("doc_id", "s"), root)
    assert(got.schema("seen_doc").dataType.typeName == "long")
    assert(got.collect().map(r => (r.getAs[String]("s"),
      Option(r.getAs[java.lang.Long]("seen_doc")))).toSet ==
      words.map(w => (w, None)).toSet)
  }

  test("generations the family writers commit read like the full read") {
    val rnd = new scala.util.Random(11)
    def some(n: Int) =
      rnd.shuffle((0 until 64).toList).take(n).sorted
    // SimIndex after a merge-compaction folded the delta
    val sim = Files.createTempDirectory("prologue-sim2").toString
    SimIndex.publish(vecs(0 until 60), "vec_id", "embedding", 8, 4, sim)
    SimIndex.appendDelta(vecs(500 until 510), "vec_id", "embedding", sim, "a")
    SimIndex.mergeCompact(spark, sim)
    SimIndex.appendDelta(vecs(600 until 605), "vec_id", "embedding", sim, "b")
    val simRoots = SimIndex.resolve(sim).get +: SimIndex.deltas(sim)
    assert(simRoots.size == 2)
    assertSameAsFullRead(simRoots, "pbucket", some(20))
    // FirstSeenIndex base + fold
    val fs = Files.createTempDirectory("prologue-fs2").toString
    FirstSeenIndex.publish((0 until 40).map(i => (i.toLong, s"s$i"))
      .toDF("doc_id", "s"), fs)
    FirstSeenIndex.fold(spark, (30 until 50).map(i => (100L + i, s"s$i"))
      .toDF("doc_id", "s"), fs, "f1")
    assertSameAsFullRead(FirstSeenIndex.resolve(fs).get +:
      FirstSeenIndex.deltas(fs), "pbucket", some(30))
    // LexIndex base + tagged delta
    val lex = Files.createTempDirectory("prologue-lex").toString
    val docs = (0 until 30).map(i => (i.toLong, s"alpha t$i u${i % 7} v${i * 3}"))
      .toDF("doc_id", "text")
    LexIndex.publish(docs.filter($"doc_id" < 20), "doc_id", "text", lex)
    LexIndex.appendDelta(docs.filter($"doc_id" >= 20), "doc_id", "text",
      lex, "l1")
    assertSameAsFullRead(LexIndex.resolve(lex).get +: LexIndex.deltas(lex),
      "pbucket", some(25))
    // DedupIndex generation (partitioned by `bucket`)
    val dd = Files.createTempDirectory("prologue-dedup").toString
    val gen = DedupIndex.publish(
      Dedup.minhashSignatures(docs, "doc_id", "text", 16), "doc_id", 4, 4, dd)
    assertSameAsFullRead(Seq(gen), "bucket", some(25))
  }

  test("a one-query probe of base + delta: no listing job, no schema " +
    "inference, one job before the scoring plan") {
    val root = simRoot
    // non-empty tombstone and ban logs: their reads must not infer
    // a schema either
    SimIndex.addTombstones(spark, Seq(7L).toDF("id"), "id", root)
    SimIndex.addBans(spark, Seq(8L).toDF("id"), "id", root)
    assert(buckets(SimIndex.resolve(root).get, "pbucket").size > 32,
      "base too narrow: a full read would list it without a job")
    val q = Seq((1000000L, gauss(0L, 0.001f))).toDF("vec_id", "embedding")
    q.collect() // the local relation is built before counting
    // (execution id, description, first stage name) of every job
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[
      (Option[String], Option[String], String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        jobs.add((p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))),
          p.flatMap(x => Option(x.getProperty("spark.job.description"))),
          e.stageInfos.headOption.map(_.name).getOrElse("")))
        ()
      }
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val got = try {
      val r = SimIndex.probeTopK(spark, q, "vec_id", "embedding", 3, root)
      ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = jobs.asScala.toSeq
    val listing = seen.filter(_._2.exists(_.startsWith("Listing leaf files")))
    // schema inference runs outside any SQL execution, from the
    // DataFrameReader call
    val inference = seen.filter(j => j._1.isEmpty && j._3.startsWith("parquet at"))
    assert(listing.isEmpty, s"listing jobs: $listing")
    assert(inference.isEmpty, s"schema-inference jobs: $inference")
    // the scoring plan is the call's last SQL execution (its
    // materialize); everything before it is prologue
    val scoring = seen.last._1
    assert(scoring.isDefined, s"jobs: $seen")
    val before = seen.filterNot(_._1 == scoring)
    assert(before.size == 1, s"jobs before the scoring plan: $before")
    assert(got.filter($"index_id" === 0L).count() == 1L,
      "the probe lost its own near-copy")
  }
}
