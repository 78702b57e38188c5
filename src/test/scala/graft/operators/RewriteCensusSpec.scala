package graft.operators

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The maintenance path of the index families launches only the jobs
  * that change state:
  *
  *   - a rewrite reads every root through its bucket directories
  *     ([[ProbeCache.prunedRead]], split into scans of at most Spark's
  *     parallel-listing threshold): no listing job, no
  *     schema-inference job, even over more than 32 directories;
  *   - an idle compaction — no live delta, no tombstone or ban pending
  *     ([[DeltaLog.unlessIdle]]) — returns the serving generation,
  *     commits no version and launches no job, for all seven
  *     compactions; pending bans alone still force a rewrite;
  *   - a rewrite keeps exactly the rows of the old generation plus its
  *     live deltas, minus tombstones and bans (for Sim, its key rows
  *     and its vector table each);
  *   - the tombstone reset after a compaction launches no job;
  *   - Graph and Lex read through their own schema, so a generation
  *     every row of which was purged still rewrites.
  */
class RewriteCensusSpec extends SparkSpec {
  import spark.implicits._

  /** (execution id, description, first stage name) of one job. */
  private type Job = (Option[String], Option[String], String)

  /** The jobs `f` launched, with its result. */
  private def census[T](f: => T): (T, Seq[Job]) = {
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
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
    val r = try { val v = f; ListenerBusDrain(spark.sparkContext); v }
      finally spark.sparkContext.removeSparkListener(listener)
    (r, jobs.asScala.toSeq)
  }

  private def listing(jobs: Seq[Job]): Seq[Job] =
    jobs.filter(_._2.exists(_.startsWith("Listing leaf files")))

  /** Schema inference runs outside any SQL execution, from the
    * DataFrameReader call (as does a listing job, counted apart).
    */
  private def inference(jobs: Seq[Job]): Seq[Job] =
    jobs.filter(j => j._1.isEmpty && j._3.startsWith("parquet at"))
      .diff(listing(jobs))

  private val DIM = 16

  /** Gaussian vectors: their LSH keys spread over every bucket. */
  private def gauss(seed: Long): Array[Float] = {
    val r = new scala.util.Random(seed)
    Array.tabulate(DIM)(_ => r.nextGaussian().toFloat)
  }

  private def vecs(ids: Range): DataFrame =
    ids.map(i => (i.toLong, gauss(i.toLong))).toDF("vec_id", "embedding")

  private def bucketDirs(root: String): Int =
    new java.io.File(root).listFiles()
      .count(f => f.isDirectory && f.getName.startsWith("pbucket="))

  private def tmp(p: String): String =
    Files.createTempDirectory(p).toString

  private def rowsOf(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).toSeq.sorted

  private def ids(xs: Long*): DataFrame = xs.toDF("id")

  test("a Sim merge over >32 bucket dirs per root, with tombstones, " +
    "lists nothing and infers no schema") {
    val root = tmp("census-sim")
    SimIndex.publish(vecs(0 until 200), "vec_id", "embedding", 8, 4, root)
    SimIndex.appendDelta(vecs(1000 until 1100), "vec_id", "embedding",
      root, "d1")
    SimIndex.addTombstones(spark, ids(3L, 1005L), "id", root)
    val base = SimIndex.resolve(root).get
    assert(bucketDirs(base) > 32, "base too narrow to need a listing job")
    assert(bucketDirs(SimIndex.deltas(root).head) > 32,
      "delta too narrow to need a listing job")
    val (gen, jobs) = census(SimIndex.mergeCompact(spark, root))
    assert(gen != base)
    assert(listing(jobs).isEmpty && inference(jobs).isEmpty,
      s"listing jobs: ${listing(jobs)}; " +
        s"schema-inference jobs: ${inference(jobs)}")
    val got = spark.read.parquet(gen).select("index_id").distinct()
      .as[Long].collect().toSet
    assert(got == ((0L until 200L) ++ (1000L until 1100L)).toSet - 3L - 1005L)
  }

  test("a pruned read of 40 touched buckets launches no listing job") {
    val root = tmp("census-pruned")
    val gen = SimIndex.publish(vecs(0 until 200), "vec_id", "embedding",
      8, 4, root)
    val touched = new scala.util.Random(5)
      .shuffle((0 until SimIndex.NumBuckets).toList).take(40).sorted
    val (n, jobs) = census(
      ProbeCache.prunedRead(spark, Seq(gen), "pbucket", touched).count())
    assert(listing(jobs).isEmpty, s"listing jobs: ${listing(jobs)}")
    assert(inference(jobs).isEmpty,
      s"schema-inference jobs: ${inference(jobs)}")
    assert(n == spark.read.parquet(gen)
      .filter($"pbucket".isin(touched: _*)).count())
  }

  test("a tombstone reset launches no job and commits only over a " +
    "non-empty set") {
    val root = tmp("census-tomb")
    val tombRoot = new java.io.File(root, "tombstones").getAbsolutePath
    Tombstones.add(spark, ids(1L, 2L), "id", root)
    val (_, jobs) = census(Tombstones.reset(root))
    assert(jobs.isEmpty, s"jobs: $jobs")
    assert(Tombstones.get(spark, root).isEmpty)
    val versions = VersionedDirs.versionsOf(tombRoot).size
    Tombstones.reset(root)
    assert(VersionedDirs.versionsOf(tombRoot).size == versions,
      "a reset of an empty set committed a version")
    // the next add reads the reset generation as empty
    Tombstones.add(spark, ids(7L), "id", root)
    assert(Tombstones.get(spark, root).get.as[Long].collect().toSeq == Seq(7L))
  }

  // ------------------------------------------------------ idle compactions

  /** One family's lifecycle fixture: a root whose last compaction
    * folded a delta and a tombstone set, a probe, and the compaction.
    */
  private final class Family(val name: String, val root: String,
                             val probe: () => Seq[String],
                             val compact: () => String)

  private lazy val docs: DataFrame =
    (0 until 30).map(i => (i.toLong, s"alpha t$i u${i % 7} v${i * 3}"))
      .toDF("doc_id", "text")

  private def shingles(lo: Int, hi: Int): DataFrame =
    (lo until hi).flatMap(i => Seq((i.toLong, s"s$i"), (i.toLong, s"s${i + 1}")))
      .toDF("doc_id", "s")

  private def edges(lo: Int, hi: Int): DataFrame =
    (lo until hi).map(i => (i.toLong, (i * 7 % 50).toLong, 1L))
      .toDF("src", "dst", "w")

  private def simFamily(): Family = {
    val root = tmp("idle-sim")
    SimIndex.publish(vecs(0 until 60), "vec_id", "embedding", 8, 4, root)
    SimIndex.appendDelta(vecs(100 until 110), "vec_id", "embedding", root, "a")
    SimIndex.addTombstones(spark, ids(4L), "id", root)
    SimIndex.mergeCompact(spark, root)
    new Family("sim", root,
      () => rowsOf(SimIndex.probeTopK(spark, vecs(0 until 3), "vec_id",
        "embedding", 3, root)),
      () => SimIndex.mergeCompact(spark, root))
  }

  private def sketchFamily(): Family = {
    val root = tmp("idle-sketch")
    val terms = (0 until 40).map(i => s"t${i % 9}").toDF("term")
    SketchIndex.publish(terms, "term", 4, 64, root)
    SketchIndex.appendDelta(spark, terms.limit(10), "term", root, "a")
    SketchIndex.mergeCompact(spark, root)
    new Family("sketch", root,
      () => rowsOf(SketchIndex.estimate(spark, terms, "term", root)),
      () => SketchIndex.mergeCompact(spark, root))
  }

  private def lexFamily(): Family = {
    val root = tmp("idle-lex")
    LexIndex.publish(docs.filter($"doc_id" < 20), "doc_id", "text", root)
    LexIndex.appendDelta(docs.filter($"doc_id" >= 20), "doc_id", "text",
      root, "a")
    LexIndex.addTombstones(spark, ids(3L), "id", root)
    LexIndex.mergeCompact(spark, root)
    val q = Seq((0L, "alpha"), (0L, "u3"), (1L, "t25")).toDF("query_id", "term")
    new Family("lex", root,
      () => rowsOf(LexIndex.bm25TopK(spark, q, "query_id", "term", 5, root)),
      () => LexIndex.mergeCompact(spark, root))
  }

  private def firstSeenFamily(): Family = {
    val root = tmp("idle-fs")
    FirstSeenIndex.publish(shingles(0, 20), root)
    FirstSeenIndex.fold(spark, shingles(15, 30), root, "a")
    FirstSeenIndex.addTombstones(spark, ids(2L), "id", root)
    FirstSeenIndex.mergeCompact(spark, root)
    new Family("firstSeen", root,
      () => rowsOf(FirstSeenIndex.probe(spark, shingles(0, 35), root)),
      () => FirstSeenIndex.mergeCompact(spark, root))
  }

  private def graphFamily(): Family = {
    val root = tmp("idle-graph")
    GraphIndex.publish(edges(0, 40), root)
    GraphIndex.fold(spark, edges(30, 50), root, "a")
    GraphIndex.addTombstones(spark, ids(5L), "id", root)
    GraphIndex.mergeCompact(spark, root)
    val nodes = (0L until 50L).toDF("node")
    new Family("graph", root,
      () => rowsOf(GraphIndex.neighbors(spark, nodes, root)),
      () => GraphIndex.mergeCompact(spark, root))
  }

  private def pqFamily(): Family = {
    val root = tmp("idle-pq")
    PqIndex.publish(vecs(0 until 40), "vec_id", "embedding", 4, 4, 8, 2, root)
    PqIndex.appendDelta(vecs(100 until 110), "vec_id", "embedding", root)
    PqIndex.addTombstones(spark, ids(6L), "id", root)
    val merged = PqIndex.mergeCompact(spark, root)
    // the family's ledger is cumulative like the other six: a merge
    // right after a real merge has nothing pending
    val versions = VersionedDirs.versionsOf(root)
    val (again, jobs) = census(PqIndex.mergeCompact(spark, root))
    assert(again == merged && VersionedDirs.versionsOf(root) == versions,
      "pq: the merge after a real merge committed a version")
    assert(jobs.isEmpty, s"pq: the merge after a real merge ran jobs: $jobs")
    new Family("pq", root,
      () => rowsOf(PqIndex.probeTopK(spark, vecs(0 until 3), "vec_id",
        "embedding", 3, root)),
      () => PqIndex.mergeCompact(spark, root))
  }

  private def dedupFamily(): Family = {
    val root = tmp("idle-dedup")
    val sig = Dedup.minhashSignatures(docs, "doc_id", "text", 16)
    DedupIndex.publish(sig, "doc_id", 4, 4, root)
    DedupIndex.addTombstones(spark, ids(1L), "id", root)
    DedupIndex.compact(spark, root)
    val probeSig = Dedup.minhashSignatures(
      docs.select(($"doc_id" + 1000L).as("doc_id"), $"text"),
      "doc_id", "text", 16)
    new Family("dedup", root,
      () => rowsOf(DedupIndex.probe(spark, probeSig, "doc_id", 4, 4, root)),
      () => DedupIndex.compact(spark, root))
  }

  test("an idle compaction returns the serving generation, commits " +
    "nothing and launches no job — all seven families") {
    Seq(simFamily(), sketchFamily(), lexFamily(), firstSeenFamily(),
        graphFamily(), pqFamily(), dedupFamily()).foreach { f =>
      val serving = VersionedDirs.resolve(f.root).get
      val versions = VersionedDirs.versionsOf(f.root)
      val before = f.probe()
      assert(before.nonEmpty, s"${f.name}: the probe answers nothing")
      val (got, jobs) = census(f.compact())
      assert(got == serving, s"${f.name}: returned $got, serving $serving")
      assert(VersionedDirs.versionsOf(f.root) == versions,
        s"${f.name}: an idle compaction committed a version")
      assert(jobs.isEmpty, s"${f.name}: an idle compaction ran jobs: $jobs")
      assert(f.probe() == before, s"${f.name}: probe answers moved")
    }
  }

  private def copyTree(from: java.io.File, to: java.io.File): Unit = {
    to.mkdirs()
    from.listFiles().foreach { f =>
      val t = new java.io.File(to, f.getName)
      if (f.isDirectory) copyTree(f, t)
      else { Files.copy(f.toPath, t.toPath); () }
    }
  }

  test("an idle compaction still cleans up listed dirs its generation " +
    "already folded") {
    val root = tmp("idle-leftover")
    SimIndex.publish(vecs(0 until 30), "vec_id", "embedding", 8, 4, root)
    SimIndex.appendDelta(vecs(100 until 105), "vec_id", "embedding", root, "a")
    val delta = new java.io.File(SimIndex.deltas(root).head)
    val keep = Files.createTempDirectory("idle-leftover-copy").resolve("a").toFile
    copyTree(delta, keep)
    val gen = SimIndex.mergeCompact(spark, root)
    // a crash between the merge's commit and its cleanup leaves the
    // folded dir behind
    copyTree(keep, delta)
    assert(SimIndex.deltas(root).size == 1)
    val (got, jobs) = census(SimIndex.mergeCompact(spark, root))
    assert(got == gen)
    assert(jobs.isEmpty, s"jobs: $jobs")
    assert(SimIndex.deltas(root).isEmpty, "the folded dir was kept")
  }

  test("a compaction with only bans pending still commits a new version") {
    val fams: Seq[(String, String, () => String)] = {
      val sim = tmp("bans-sim")
      SimIndex.publish(vecs(0 until 30), "vec_id", "embedding", 8, 4, sim)
      SimIndex.addBans(spark, ids(2L), "id", sim)
      val lex = tmp("bans-lex")
      LexIndex.publish(docs, "doc_id", "text", lex)
      LexIndex.addBans(spark, ids(2L), "id", lex)
      val fs = tmp("bans-fs")
      FirstSeenIndex.publish(shingles(0, 20), fs)
      FirstSeenIndex.addBans(spark, ids(2L), "id", fs)
      val gr = tmp("bans-graph")
      GraphIndex.publish(edges(0, 40), gr)
      GraphIndex.addBans(spark, ids(2L), "id", gr)
      val pq = tmp("bans-pq")
      PqIndex.publish(vecs(0 until 40), "vec_id", "embedding", 4, 4, 8, 2, pq)
      PqIndex.addBans(spark, ids(2L), "id", pq)
      val dd = tmp("bans-dedup")
      DedupIndex.publish(Dedup.minhashSignatures(docs, "doc_id", "text", 16),
        "doc_id", 4, 4, dd)
      DedupIndex.addBans(spark, ids(2L), "id", dd)
      Seq(("sim", sim, () => SimIndex.mergeCompact(spark, sim)),
        ("lex", lex, () => LexIndex.mergeCompact(spark, lex)),
        ("firstSeen", fs, () => FirstSeenIndex.mergeCompact(spark, fs)),
        ("graph", gr, () => GraphIndex.mergeCompact(spark, gr)),
        ("pq", pq, () => PqIndex.mergeCompact(spark, pq)),
        ("dedup", dd, () => DedupIndex.compact(spark, dd)))
    }
    fams.foreach { case (name, root, compact) =>
      val serving = VersionedDirs.resolve(root).get
      val n = VersionedDirs.versionsOf(root).size
      val got = compact()
      assert(got != serving, s"$name: bans alone did not rewrite")
      assert(VersionedDirs.versionsOf(root).size == n + 1, name)
    }
  }

  test("an all-purged generation still rewrites: Graph and Lex read it " +
    "with the family's schema") {
    val gr = tmp("purged-graph")
    GraphIndex.publish(edges(0, 10), gr)
    GraphIndex.addTombstones(spark, (0L until 10L).toDF("id"), "id", gr)
    val emptyGr = GraphIndex.mergeCompact(spark, gr)
    assert(ParquetFooters.rows(new java.io.File(emptyGr)) == 0L)
    GraphIndex.fold(spark, edges(10, 20), gr, "a")
    val grGen = GraphIndex.mergeCompact(spark, gr)
    assert(rowsOf(spark.read.parquet(s"$grGen/out").select("src", "dst", "w")) ==
      rowsOf(edges(10, 20)))

    val lex = tmp("purged-lex")
    LexIndex.publish(docs.filter($"doc_id" < 5), "doc_id", "text", lex)
    LexIndex.addTombstones(spark, (0L until 5L).toDF("id"), "id", lex)
    val emptyLex = LexIndex.mergeCompact(spark, lex)
    assert(ParquetFooters.rows(new java.io.File(emptyLex)) == 0L)
    LexIndex.appendDelta(docs.filter($"doc_id" >= 25), "doc_id", "text",
      lex, "a")
    val lexGen = LexIndex.mergeCompact(spark, lex)
    assert(spark.read.parquet(lexGen).select("index_id").distinct()
      .as[Long].collect().toSet == (25L until 30L).toSet)
  }

  // ------------------------------------------------------ rewrite rows

  /** Full reads of `roots`, schema inferred per root, unioned. */
  private def fullRead(roots: Seq[String], cols: String*): DataFrame =
    roots.map(r => spark.read.parquet(r).select(cols.map(col): _*))
      .reduce(_.unionByName(_))

  private def masked(df: DataFrame, c: String, gone: Set[Long]): DataFrame =
    df.filter(!col(c).isin(gone.toSeq: _*))

  test("rewritten rows equal the old generation plus live deltas, minus " +
    "tombstones and bans — every bucketed family") {
    val gone = Set(3L, 21L, 1004L)
    // Sim: base + tagged delta
    val sim = tmp("rows-sim")
    SimIndex.publish(vecs(0 until 60), "vec_id", "embedding", 8, 4, sim)
    SimIndex.appendDelta(vecs(1000 until 1010), "vec_id", "embedding", sim, "a")
    SimIndex.addTombstones(spark, ids(3L, 1004L), "id", sim)
    SimIndex.addBans(spark, ids(21L), "id", sim)
    // the key rows and the vector table, each checked on its own
    val simRoots = SimIndex.resolve(sim).get +: SimIndex.deltas(sim)
    def simVecs(roots: Seq[String]) = roots.map(r => s"$r/${SimIndex.VecDir}")
    val simKeyCols = Seq("index_id", "tbl", "bucket", "pbucket")
    val simVecCols = Seq("index_id", "ivec", "ibucket")
    val simKeyWant = rowsOf(masked(fullRead(simRoots, simKeyCols: _*),
      "index_id", gone))
    val simVecWant = rowsOf(masked(fullRead(simVecs(simRoots),
      simVecCols: _*), "index_id", gone))
    val simGen = SimIndex.mergeCompact(spark, sim)
    assert(rowsOf(fullRead(Seq(simGen), simKeyCols: _*)) == simKeyWant,
      "sim key rows")
    assert(rowsOf(fullRead(simVecs(Seq(simGen)), simVecCols: _*)) ==
      simVecWant, "sim vectors")

    // Lex: base + tagged delta
    val lex = tmp("rows-lex")
    LexIndex.publish(docs.filter($"doc_id" < 20), "doc_id", "text", lex)
    LexIndex.appendDelta(docs.filter($"doc_id" >= 20), "doc_id", "text",
      lex, "a")
    LexIndex.addTombstones(spark, ids(3L), "id", lex)
    LexIndex.addBans(spark, ids(21L), "id", lex)
    val lexCols = Seq("index_id", "term", "tf", "dl", "pbucket")
    val lexWant = rowsOf(masked(fullRead(LexIndex.resolve(lex).get +:
      LexIndex.deltas(lex), lexCols: _*), "index_id", gone))
    val lexGen = LexIndex.mergeCompact(spark, lex)
    assert(rowsOf(fullRead(Seq(lexGen), lexCols: _*)) == lexWant, "lex")

    // FirstSeen: the min-union of surviving holders
    val fs = tmp("rows-fs")
    FirstSeenIndex.publish(shingles(0, 25), fs)
    FirstSeenIndex.fold(spark, shingles(20, 30).union(
      Seq((1004L, "s40")).toDF("doc_id", "s")), fs, "a")
    FirstSeenIndex.addTombstones(spark, ids(3L, 1004L), "id", fs)
    FirstSeenIndex.addBans(spark, ids(21L), "id", fs)
    val fsWant = rowsOf(masked(fullRead(FirstSeenIndex.resolve(fs).get +:
        FirstSeenIndex.deltas(fs), "s", "first_doc"), "first_doc", gone)
      .groupBy("s").agg(min("first_doc").as("first_doc")))
    val fsGen = FirstSeenIndex.mergeCompact(spark, fs)
    assert(rowsOf(fullRead(Seq(fsGen), "s", "first_doc")) == fsWant,
      "firstSeen")

    // Graph: the weight-sum of edges with no removed endpoint, both twins
    val gr = tmp("rows-graph")
    GraphIndex.publish(edges(0, 40), gr)
    GraphIndex.fold(spark, edges(10, 50), gr, "a")
    GraphIndex.addTombstones(spark, ids(3L), "id", gr)
    GraphIndex.addBans(spark, ids(21L), "id", gr)
    val grWant = rowsOf(masked(masked(fullRead(
        (GraphIndex.resolve(gr).get +: GraphIndex.deltas(gr)).map(_ + "/out"),
        "src", "dst", "w"), "src", gone), "dst", gone)
      .groupBy("src", "dst").agg(sum("w").as("w")))
    val grGen = GraphIndex.mergeCompact(spark, gr)
    assert(rowsOf(fullRead(Seq(s"$grGen/out"), "src", "dst", "w")) == grWant,
      "graph out/")
    assert(rowsOf(fullRead(Seq(s"$grGen/in"), "src", "dst", "w")) == grWant,
      "graph in/")

    // Dedup: one generation, no append log
    val dd = tmp("rows-dedup")
    DedupIndex.publish(Dedup.minhashSignatures(docs, "doc_id", "text", 16),
      "doc_id", 4, 4, dd)
    DedupIndex.addTombstones(spark, ids(3L), "id", dd)
    DedupIndex.addBans(spark, ids(21L), "id", dd)
    val ddCols = Seq("index_id", "band", "band_key", "bucket")
    val ddWant = rowsOf(masked(fullRead(Seq(DedupIndex.resolve(dd).get),
      ddCols: _*), "index_id", gone))
    val ddGen = DedupIndex.compact(spark, dd)
    assert(rowsOf(fullRead(Seq(ddGen), ddCols: _*)) == ddWant, "dedup")
  }
}
