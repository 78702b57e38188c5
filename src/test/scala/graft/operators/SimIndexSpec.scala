package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{DynamicPruningExpression, Literal}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The persisted ANN index: versioned publish with frozen (r, T)
  * params, bucket-pruned probe, and exact parity with the in-plan
  * multi-table top-k ([[Similarity.multiTableTopK]]); the split layout
  * (vector-free key rows plus one vector row per id), its run-time
  * id-bucket pruning, and reads of generations written before it.
  */
class SimIndexSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val BITS = 8; private val TABLES = 4; private val K = 3
  private val DIM = 16

  // deterministic pseudo-random unit-ish vectors; ids 100.. are the
  // index, 0..4 the query batch, and query q is a near-copy of index
  // vector 100+q (tiny perturbation) so its top-1 is known
  private def vec(seed: Long, perturb: Float): Array[Float] =
    Array.tabulate(DIM) { i =>
      val h = (seed * 31 + i) * 2654435761L
      ((h % 1000).toFloat / 1000.0f) + (if (i == 0) perturb else 0.0f)
    }

  private lazy val index =
    (0 until 40).map(i => (100L + i, vec(i.toLong, 0.0f)))
      .toDF("vec_id", "embedding")
  private lazy val queries =
    (0 until 5).map(q => (q.toLong, vec(q.toLong, 0.001f)))
      .toDF("vec_id", "embedding")

  test("publish + probe reproduces the in-plan multi-table top-k exactly") {
    val root = Files.createTempDirectory("simidx").toString
    SimIndex.publish(index, "vec_id", "embedding", BITS, TABLES, root)
    assert(SimIndex.params(root) == ((BITS, TABLES)))
    val got = SimIndex.probeTopK(spark, queries, "vec_id", "embedding",
        K, root)
      .select("query_id", "index_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val want = Similarity.multiTableTopK(index, queries, "vec_id",
        "embedding", K, BITS, TABLES)
      .select(col("query_id"), col("vec_id").as("index_id"),
        col("cos_sim"), col("rnk"))
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(want.nonEmpty, "corpus too sparse to collide at all")
    assert(got == want)
    // each near-copy query must surface its original as top-1
    val top1 = got.filter(_._4 == 1L).map(t => (t._1, t._2)).toMap
    for (q <- 0L until 5L)
      assert(top1.get(q).contains(100L + q),
        s"query $q top-1 was ${top1.get(q)}, want ${100 + q}")
  }

  test("probe prunes to touched partition directories only") {
    val root = Files.createTempDirectory("simidx").toString
    val path = SimIndex.publish(index, "vec_id", "embedding",
      BITS, TABLES, root)
    val totalDirs = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("pbucket="))
    val touched = queries
      .select(posexplode(graft.functions.VectorFunctions
        .multiTableBuckets(col("embedding"), BITS, TABLES))
        .as(Seq("tbl", "bucket")))
      .select(SimIndex.pbucketOf(col("tbl"), col("bucket")).as("b"))
      .distinct().count()
    assert(touched < totalDirs,
      s"batch too large to demonstrate pruning: $touched vs $totalDirs")
    val p = SimIndex.probeTopKPlan(spark, queries, "vec_id", "embedding",
        K, root)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*pbucket[^\\]]*IN".r.findFirstIn(p).isDefined
        || "PartitionFilters: \\[[^\\]]*pbucket[^\\]]*INSET".r.findFirstIn(p).isDefined,
      s"probe scan lost its pbucket partition filter:\n${p.take(2000)}")
  }

  test("delta append probes identically before and after merge-compaction") {
    val root = Files.createTempDirectory("simidx").toString
    val base = index.filter(col("vec_id") < 120L)
    val delta = index.filter(col("vec_id") >= 120L)
    SimIndex.publish(base, "vec_id", "embedding", BITS, TABLES, root)
    SimIndex.appendDelta(delta, "vec_id", "embedding", root)
    assert(SimIndex.deltas(root).size == 1)
    def probeSet() = SimIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root)
      .select("query_id", "index_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val withDelta = probeSet()
    // the combined view equals a from-scratch index over base ∪ delta
    val fresh = Files.createTempDirectory("simidx").toString
    SimIndex.publish(index, "vec_id", "embedding", BITS, TABLES, fresh)
    val want = SimIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, fresh)
      .select("query_id", "index_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    assert(withDelta == want,
      "base ∪ delta probe diverges from a from-scratch index")
    // merge: same answers, no deltas left, params carried over
    SimIndex.mergeCompact(spark, root)
    assert(SimIndex.deltas(root).isEmpty)
    assert(SimIndex.params(root) == ((BITS, TABLES)))
    assert(probeSet() == want, "post-merge probe diverges")
  }

  test("tombstoned vectors vanish from probes; merge purges them physically") {
    val root = Files.createTempDirectory("simidx").toString
    SimIndex.publish(index, "vec_id", "embedding", BITS, TABLES, root)
    def top1() = SimIndex.probeTopK(spark, queries, "vec_id",
        "embedding", 1, root)
      .select("query_id", "index_id")
      .as[(Long, Long)].collect().toMap
    // query 2's nearest is its original 102 — delete it
    assert(top1().get(2L).contains(102L))
    SimIndex.addTombstones(spark, Seq(102L).toDF("vec_id"), "vec_id", root)
    val after = top1()
    assert(!after.values.exists(_ == 102L),
      s"tombstoned vector still retrievable: $after")
    // physically still on disk until the merge
    val v1 = SimIndex.resolve(root).get
    assert(spark.read.parquet(v1).filter($"index_id" === 102L).count() > 0)
    val v2 = SimIndex.mergeCompact(spark, root)
    assert(spark.read.parquet(v2).filter($"index_id" === 102L).count() == 0)
    assert(SimIndex.tombstones(spark, root).isEmpty)
    assert(top1() == after, "post-merge probe diverges")
    SimIndex.vacuumOld(root)
    val gens = new java.io.File(root).listFiles()
      .filter(_.getName.matches("index\\.v\\d+")).map(_.getName).toSet
    assert(gens == Set(new java.io.File(v2).getName))
  }

  test("redelivered tagged append after purge+merge is absorbed, not resurrected") {
    val root = Files.createTempDirectory("simidx").toString
    val base = index.filter(col("vec_id") < 120L)
    val delta = index.filter(col("vec_id") >= 120L)
    SimIndex.publish(base, "vec_id", "embedding", BITS, TABLES, root)
    SimIndex.appendDelta(delta, "vec_id", "embedding", root, tag = "b0")
    // same-tag replay while the delta is live: absorbed, still 1 delta
    SimIndex.appendDelta(delta, "vec_id", "embedding", root, tag = "b0")
    assert(SimIndex.deltas(root).size == 1)
    assert(SimIndex.folded(root, "b0"))
    // purge a delta vector, then merge (folds delta + applies purge)
    SimIndex.addTombstones(spark, Seq(122L).toDF("vec_id"), "vec_id", root)
    SimIndex.mergeCompact(spark, root)
    assert(SimIndex.deltas(root).isEmpty)
    def probeIds() = SimIndex.probeTopK(spark, queries, "vec_id",
        "embedding", K, root)
      .select("query_id", "index_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet
    val purged = probeIds()
    assert(!purged.exists(_._2 == 122L), "purged vector still retrievable")
    // the hazard: redeliver the SAME tagged delta after the purge —
    // must be absorbed via _folded.json (no new delta dir, no
    // resurrection of 122 through any probe)
    SimIndex.appendDelta(delta, "vec_id", "embedding", root, tag = "b0")
    assert(SimIndex.deltas(root).isEmpty,
      "redelivered fold re-committed after the purge consumed it")
    assert(SimIndex.folded(root, "b0"))
    assert(probeIds() == purged, "redelivery changed probe results")
    // a DIFFERENT tag is a genuinely new batch and must land
    SimIndex.appendDelta(delta.filter(col("vec_id") === 122L),
      "vec_id", "embedding", root, tag = "b1")
    assert(SimIndex.deltas(root).size == 1)
  }

  test("a banned vector re-uploaded under a FRESH tag is gated; batch-mates still serve") {
    val root = Files.createTempDirectory("simidx").toString
    SimIndex.publish(index.filter(col("vec_id") < 130L),
      "vec_id", "embedding", BITS, TABLES, root)
    // purge + BAN 122; merge resets tombstones, the ban survives
    SimIndex.addTombstones(spark, Seq(122L).toDF("vec_id"), "vec_id", root)
    SimIndex.mergeCompact(spark, root)
    SimIndex.addBans(spark, Seq(122L).toDF("vec_id"), "vec_id", root)
    assert(SimIndex.tombstones(spark, root).isEmpty)
    // the backfill: 122 re-uploaded beside a legit new vector — the
    // fresh tag is a real append (the fold ledger can't absorb it),
    // so only the gate keeps 122 out
    SimIndex.appendDelta(index.filter(
        col("vec_id") === 122L || col("vec_id") === 135L),
      "vec_id", "embedding", root, tag = "backfill")
    val delta = spark.read.parquet(SimIndex.deltas(root).head)
    assert(delta.filter(col("index_id") === 122L).count() == 0,
      "banned vector's key rows entered the delta")
    assert(delta.filter(col("index_id") === 135L).count() > 0,
      "the gate dropped the banned vector's innocent batch-mate")
    val got = SimIndex.probeTopK(spark, queries, "vec_id", "embedding",
        K, root)
      .select("index_id").as[Long].collect().toSet
    assert(!got.contains(122L), "banned vector retrievable again")
  }

  test("resolve picks the highest committed version; params travel with it") {
    val root = Files.createTempDirectory("simidx").toString
    assert(SimIndex.resolve(root).isEmpty)
    SimIndex.publish(index, "vec_id", "embedding", BITS, TABLES, root)
    val v2 = SimIndex.publish(index, "vec_id", "embedding", 6, 2, root)
    assert(SimIndex.resolve(root).contains(v2))
    // the LATEST generation's params win — a re-index with new (r, T)
    // must not serve probes keyed with the old ones
    assert(SimIndex.params(root) == ((6, 2)))
    // a crashed re-index (no _SUCCESS) stays invisible
    val orphan = new java.io.File(root, "index.v9")
    assert(orphan.mkdir())
    assert(SimIndex.resolve(root).contains(v2))
  }

  // ------------------------------------------------------ split layout

  private def probeRows(df: DataFrame): Set[(Long, Long, Double, Long)] =
    df.select("query_id", "index_id", "cos_sim", "rnk")
      .as[(Long, Long, Double, Long)].collect().toSet

  /** `dir` (a generation or delta) holds the split layout over exactly
    * the ids `want`: T key rows per id with no vector, and one vector
    * row per id.
    */
  private def assertSplit(dir: String, want: Set[Long]): Unit = {
    val keys = spark.read.parquet(dir)
    assert(!keys.columns.contains("ivec"), s"key rows carry ivec in $dir")
    assert(keys.count() == want.size.toLong * TABLES, s"key rows of $dir")
    assert(keys.select("index_id").distinct().as[Long].collect().toSet == want)
    val perId = spark.read.parquet(s"$dir/${SimIndex.VecDir}")
      .groupBy("index_id").count().as[(Long, Long)].collect().toMap
    assert(perId.keySet == want, s"vector ids of $dir")
    assert(perId.values.forall(_ == 1L), s"an id stored twice in $dir: $perId")
  }

  test("key rows carry no vector; each live id has one vector row after " +
    "publish, append, merge and purge") {
    val root = Files.createTempDirectory("simidx").toString
    val gen = SimIndex.publish(index.filter(col("vec_id") < 120L),
      "vec_id", "embedding", BITS, TABLES, root)
    assertSplit(gen, (100L until 120L).toSet)
    assert(Sidecar.read(gen, Sidecar.Params).int("layout", 1) == 2)
    SimIndex.appendDelta(index.filter(col("vec_id") >= 120L),
      "vec_id", "embedding", root, tag = "a")
    assertSplit(SimIndex.deltas(root).head, (120L until 140L).toSet)
    assertSplit(SimIndex.mergeCompact(spark, root), (100L until 140L).toSet)
    SimIndex.addTombstones(spark, Seq(103L, 125L).toDF("vec_id"), "vec_id",
      root)
    assertSplit(SimIndex.mergeCompact(spark, root),
      (100L until 140L).toSet - 103L - 125L)
  }

  test("a probe reads only its candidates' id buckets of the vector table") {
    val root = Files.createTempDirectory("simidx").toString
    // Gaussian vectors spread over the LSH buckets
    def gauss(seed: Long, perturb: Float): Array[Float] = {
      val r = new scala.util.Random(seed)
      Array.tabulate(DIM)(i =>
        r.nextGaussian().toFloat + (if (i == 0) perturb else 0.0f))
    }
    val corpus = (0 until 300).map(i => (100L + i, gauss(i.toLong, 0.0f)))
      .toDF("vec_id", "embedding")
    // 16-bit keys: a handful of candidates, not a fifth of the corpus
    val gen = SimIndex.publish(corpus, "vec_id", "embedding", 16, TABLES,
      root)
    val stored = new java.io.File(gen, SimIndex.VecDir).listFiles()
      .count(_.getName.startsWith("ibucket="))
    val q = Seq((2L, gauss(2L, 0.001f))).toDF("vec_id", "embedding")
    // the executed plans of the probe's own SQL executions
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    val got = try {
      val r = SimIndex.probeTopK(spark, q, "vec_id", "embedding", K, root)
      ListenerBusDrain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(listener)
    assert(got.collect().map(_.getAs[Long]("index_id")).contains(102L))
    val scans = plans.asScala.toSeq.flatMap(p => collectWithSubqueries(p) {
      case s: FileSourceScanExec if s.relation.location.rootPaths
          .exists(_.toString.contains(s"/${SimIndex.VecDir}/")) => s
    })
    assert(scans.nonEmpty, "no vector-table scan in the probe's executions")
    for (s <- scans) assert(s.partitionFilters.exists {
        case DynamicPruningExpression(Literal.TrueLiteral) => false
        case _: DynamicPruningExpression => true
        case _ => false
      }, s"vector scan without a run-time id-bucket filter: ${s.partitionFilters}")
    val read = scans.map(_.metrics("numPartitions").value).sum
    assert(read > 0 && read < stored,
      s"the probe read $read of $stored id-bucket dirs")
  }

  /** The key rows every generation carried before the split: one row
    * per (id, tbl) with the vector attached, params without a layout.
    */
  private def publishPreSplit(corpus: DataFrame, root: String): String =
    VersionedDirs.commit(root) { st =>
      corpus.select(col("vec_id").as("index_id"), col("embedding").as("ivec"),
          posexplode(graft.functions.VectorFunctions
            .multiTableBuckets(col("embedding"), BITS, TABLES))
            .as(Seq("tbl", "bucket")))
        .withColumn("pbucket", SimIndex.pbucketOf(col("tbl"), col("bucket")))
        .repartition(col("pbucket"))
        .sortWithinPartitions("tbl", "bucket")
        .write.partitionBy("pbucket").mode("overwrite").parquet(st)
      Sidecar.write(st, Sidecar.Params, "bits" -> BITS, "tables" -> TABLES)
    }

  test("a pre-split generation plus a split delta probes like a fresh " +
    "publish, then merges into the split layout") {
    val base = index.filter(col("vec_id") < 120L)
    val delta = index.filter(col("vec_id") >= 120L)
    def fresh(corpus: DataFrame) = {
      val r = Files.createTempDirectory("simidx").toString
      SimIndex.publish(corpus, "vec_id", "embedding", BITS, TABLES, r)
      probeRows(SimIndex.probeTopK(spark, queries, "vec_id", "embedding",
        K, r))
    }
    val root = Files.createTempDirectory("simidx").toString
    val old = publishPreSplit(base, root)
    assert(!new java.io.File(old, SimIndex.VecDir).exists())
    val wantBase = fresh(base)
    assert(wantBase.nonEmpty)
    assert(probeRows(SimIndex.probeTopK(spark, queries, "vec_id",
      "embedding", K, root)) == wantBase, "pre-split generation alone")
    SimIndex.appendDelta(delta, "vec_id", "embedding", root, tag = "a")
    val want = fresh(index)
    assert(probeRows(SimIndex.probeTopK(spark, queries, "vec_id",
      "embedding", K, root)) == want, "pre-split generation + split delta")
    assert(probeRows(SimIndex.probeTopKAt(spark, queries, "vec_id",
      "embedding", K, old)) == wantBase, "pinned pre-split generation")
    val merged = SimIndex.mergeCompact(spark, root)
    assertSplit(merged, (100L until 140L).toSet)
    assert(Sidecar.read(merged, Sidecar.Params).int("layout", 1) == 2)
    assert(SimIndex.params(root) == ((BITS, TABLES)))
    assert(probeRows(SimIndex.probeTopK(spark, queries, "vec_id",
      "embedding", K, root)) == want, "after the merge")
  }

  test("purging every vector compacts, probes empty, and appends again") {
    val root = Files.createTempDirectory("simidx").toString
    SimIndex.publish(index, "vec_id", "embedding", BITS, TABLES, root)
    SimIndex.addTombstones(spark, index.select("vec_id"), "vec_id", root)
    val gen = SimIndex.mergeCompact(spark, root)
    assert(ParquetFooters.rows(new java.io.File(gen)) == 0L)
    assert(SimIndex.probeTopK(spark, queries, "vec_id", "embedding", K,
      root).collect().isEmpty)
    assert(SimIndex.probeTopKAt(spark, queries, "vec_id", "embedding", K,
      gen).collect().isEmpty)
    SimIndex.appendDelta(index.filter(col("vec_id") < 110L),
      "vec_id", "embedding", root, tag = "again")
    val got = probeRows(SimIndex.probeTopK(spark, queries, "vec_id",
      "embedding", K, root))
    assert(got.exists(_._2 == 102L), s"re-appended vector not served: $got")
    assertSplit(SimIndex.mergeCompact(spark, root), (100L until 110L).toSet)
    assert(probeRows(SimIndex.probeTopK(spark, queries, "vec_id",
      "embedding", K, root)) == got, "post-merge probe diverges")
  }
}
