package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators._
import graft.streaming._

/** `index_ingest`: the write-heavy index lifecycle over a seeded corpus
  * (perfbench/gen.py `corpus`: near-duplicate docs over a Zipf
  * vocabulary, clustered vectors).
  *
  * It drives two index families, `sim` (SimIndex over the vectors) and
  * `sketch` (SketchIndex over the docs' terms), and two gates, `ann`
  * (AnnStream) and `sketch` (SketchStream), each gate on an index root
  * of its own. Set-up publishes a base on every root. The op stream then
  * repeats one pass: a tagged append batch per family, a probe round,
  * the same batch through each gate's `processBatch`, one redelivered
  * family tag and one redelivered gate batch, a purge of a seeded id
  * sample through PurgeCascade per family (checked on its own),
  * `mergeCompact` and vacuum per family, and a last probe round. The
  * warm-up is one such pass, so every step runs at least once in each
  * run.
  *
  * Checks: a sim probe of a live vector finds it as its own top hit and
  * no purged id; after a purge, every vector purged so far, probed with
  * itself, finds no purged id; every count-min estimate, in probes and
  * for every term of the docs a purge removed, equals that of a sketch
  * built afresh over the live docs (SketchIndex's appends and purges are
  * exact sums, so a missed subtraction or a double fold shows); an
  * append commits its tag; a redelivered tag or gate batch is absorbed.
  */
final class IngestWorkload(spark: SparkSession, work: String, seed: Long)
    extends Workload {
  import spark.implicits._

  private val corpusDir = new File(work, "corpus").getAbsolutePath
  private val BITS = 8; private val TABLES = 4    // SimIndex geometry
  private val DEPTH = 4; private val WIDTH = 256  // SketchIndex geometry
  private val BASE = 200; private val BATCH = 20; private val PURGE = 3
  private val Families = Seq("sim", "sketch")
  private val Gates = Seq("ann", "sketch")

  private lazy val docsAll: Array[(Long, String)] =
    spark.read.parquet(s"$corpusDir/docs.parquet").as[(Long, String)].collect().sortBy(_._1)
  private lazy val vecsAll: Array[(Long, Array[Float])] =
    spark.read.parquet(s"$corpusDir/vecs.parquet").as[(Long, Array[Float])].collect().sortBy(_._1)
  private lazy val nBatches = (math.min(docsAll.length, vecsAll.length) - BASE) / BATCH

  private val rnd = new java.util.Random(seed ^ 0x1D6E57L)
  private var root: File = _
  private def r(name: String) = new File(root, name).getAbsolutePath
  private def fam(f: String) = r(s"fam-$f")

  // the model: ingested ids that are not purged (vectors for sim, docs
  // for sketch), and the vectors purged so far
  private val liveVecs = mutable.SortedSet[Long]()
  private val liveDocs = mutable.SortedSet[Long]()
  private val purgedVecs = mutable.SortedSet[Long]()
  private var docsIn = 0      // docs ingested so far, purged ones included
  private var batch = 0       // next batch number

  private var ann: AnnStream = _
  private var sketchGate: SketchStream = _
  private var replaysSent = 0L
  private var replaysAbsorbed = 0L

  private def docsDf(xs: Seq[(Long, String)]): DataFrame = xs.toDF("doc_id", "text")
  private def vecsDf(xs: Seq[(Long, Array[Float])]): DataFrame = xs.toDF("vec_id", "embedding")
  private def terms(df: DataFrame): DataFrame =
    df.select(explode(split(col("text"), " ")).as("term"))

  private def docBatch(b: Int) = docsAll.slice(BASE + b * BATCH, BASE + (b + 1) * BATCH).toSeq
  private def vecBatch(b: Int) = vecsAll.slice(BASE + b * BATCH, BASE + (b + 1) * BATCH).toSeq

  // ------------------------------------------------------------- set-up

  def setup(): Unit = {
    root = new File(work, "ingest")
    root.mkdirs()
    liveVecs ++= vecsAll.take(BASE).map(_._1)
    liveDocs ++= docsAll.take(BASE).map(_._1)
    docsIn = BASE
    val baseVecs = vecsDf(vecsAll.take(BASE).toSeq)
    val baseTerms = terms(docsDf(docsAll.take(BASE).toSeq))
    // each gate probes and folds into an index root of its own
    for (p <- Seq(fam("sim"), r("gate-sim"))) Trace.span("operators.sim.publish") {
      SimIndex.publish(baseVecs, "vec_id", "embedding", BITS, TABLES, p)
    }
    for (p <- Seq(fam("sketch"), r("gate-sketch"))) Trace.span("operators.sketch.publish") {
      SketchIndex.publish(baseTerms, "term", DEPTH, WIDTH, p)
    }
    ann = new AnnStream(spark, r("gate-sim"), r("gate-ann-out"), "vec_id", "embedding", 3)
    sketchGate = new SketchStream(spark, r("gate-sketch"), r("gate-sketch-out"), "term")
  }

  def warmUp(): Unit = {
    enqueuePass()
    while (queue.nonEmpty) warm(next())
  }

  // -------------------------------------------------------------- ops

  /** Ops are made when they are dequeued, just before they run: their
    * seeded choices and the state a check compares against are taken
    * then, outside the timed call. */
  private val queue = mutable.Queue[() => Op]()

  def next(): Op = {
    if (queue.isEmpty) enqueuePass()
    queue.dequeue()()
  }

  override def atBoundary: Boolean = queue.isEmpty

  private def enqueuePass(): Unit = {
    require(batch < nBatches, "index_ingest corpus exhausted")
    val b = batch
    batch += 1
    for (f <- Families) queue += (() => append(f, b))
    queue += (() => probeRound("after_append"))
    for (g <- Gates) queue += (() => gateOp(g, b, redelivery = false))
    if (b > 0) {
      queue += (() => gateOp(Gates(b % 2), b - 1, redelivery = true))
      queue += (() => redeliverAppend(Families(b % 2), b - 1))
    }
    for (f <- Families) queue += (() => purge(f))
    for (f <- Families) {
      queue += (() => compact(f))
      queue += (() => vacuum(f))
    }
    queue += (() => probeRound("after_compact"))
  }

  private def appendCall(f: String, b: Int): Unit = Trace.span(s"operators.$f.append") {
    if (f == "sim") SimIndex.appendDelta(vecsDf(vecBatch(b)), "vec_id", "embedding", fam(f), s"b$b")
    else SketchIndex.appendDelta(spark, terms(docsDf(docBatch(b))), "term", fam(f), s"b$b")
    ()
  }

  private def committed(f: String, b: Int): Boolean =
    if (f == "sim") SimIndex.folded(fam(f), s"b$b") else SketchIndex.folded(fam(f), s"b$b")

  private def deltaCount(f: String): Int =
    (if (f == "sim") SimIndex.deltas(fam(f)) else SketchIndex.deltas(fam(f))).size

  /** A tagged append; its batch joins the model once the tag committed. */
  private def append(f: String, b: Int): Op = Op(s"$f.append", "write", BATCH, () => {
    appendCall(f, b)
    () => {
      if (f == "sim") liveVecs ++= vecBatch(b).map(_._1)
      else {
        docsIn = BASE + (b + 1) * BATCH
        liveDocs ++= docBatch(b).map(_._1)
      }
      committed(f, b)
    }
  })

  /** Redeliver an already-committed tag: it must be absorbed. */
  private def redeliverAppend(f: String, b: Int): Op = {
    val wasCommitted = committed(f, b)
    val before = deltaCount(f)
    Op(s"$f.append_redelivery", "write", BATCH, () => {
      appendCall(f, b)
      () => wasCommitted && deltaCount(f) == before
    })
  }

  private def gateOp(g: String, b: Int, redelivery: Boolean): Op = Op(s"gate.$g", "write", BATCH, () => {
    val processed = Trace.span(s"streaming.$g.batch") {
      if (g == "ann") ann.processBatch(vecsDf(vecBatch(b)), b.toLong)
      else sketchGate.processBatch(terms(docsDf(docBatch(b))), b.toLong)
    }
    () =>
      if (redelivery) {
        replaysSent += 1
        if (!processed) replaysAbsorbed += 1
        !processed
      } else processed
  })

  // -------------------------------------------------------- maintenance

  private def target(f: String): PurgeCascade.Target =
    if (f == "sim") PurgeCascade.sim(fam(f), "id")
    else PurgeCascade.sketch(fam(f), docsDf(docsAll.take(docsIn).toSeq), "id")

  private def purge(f: String): Op = {
    val pool = (if (f == "sim") liveVecs else liveDocs).toIndexedSeq
    val ids = Seq.fill(PURGE)(pool(rnd.nextInt(pool.size))).distinct
    val t = target(f)
    Op(s"$f.purge", "write", ids.size.toLong, () => {
      Trace.span(s"operators.$f.purge")(PurgeCascade.purge(spark, ids.toDF("id"), Seq(t)))
      () =>
        if (f == "sim") {
          liveVecs --= ids
          purgedVecs ++= ids
          purgedAbsent()
        } else {
          liveDocs --= ids
          val purgedTerms = ids.flatMap(i => docsAll(i.toInt)._2.split(" ")).distinct
          sketchExact(estimates(purgedTerms))
        }
    })
  }

  private def compact(f: String): Op = Op(s"$f.compact", "write", 0L, () => {
    Trace.span(s"operators.$f.compact") {
      if (f == "sim") SimIndex.mergeCompact(spark, fam(f)) else SketchIndex.mergeCompact(spark, fam(f))
    }
    () => true
  })

  private def vacuum(f: String): Op = {
    val t = target(f)
    Op(s"$f.vacuum", "write", 0L, () => {
      Trace.span(s"operators.$f.vacuum")(t.vacuum())
      () => true
    })
  }

  // ------------------------------------------------------------- probes

  /** One read op: a checked probe of every family. A read sample is the
    * whole index layer's answer to one probe, so reads of one pass are
    * alike whatever the families' own probe costs. */
  private def probeRound(after: String): Op = {
    val probes = Families.map(f => if (f == "sim") simProbe() else sketchProbe())
    Op(s"probe.$after", "read", 0L, () => {
      val checks = probes.map(_())
      () => checks.map(_()).forall(identity)
    })
  }

  /** A live vector, probed with itself (under another id), is its own
    * top hit, and no purged id comes back. */
  private def simProbe(): () => () => Boolean = {
    val v = liveVecs.toIndexedSeq(rnd.nextInt(liveVecs.size))
    val q = vecsDf(Seq((2000000L + v, vecsAll(v.toInt)._2)))
    () => {
      val res = Trace.span("operators.sim.probe") {
        SimIndex.probeTopK(spark, q, "vec_id", "embedding", 3, fam("sim")).collect()
      }
      () => {
        val ids = res.map(_.getAs[Long]("index_id"))
        val top = res.sortBy(-_.getAs[Number]("cos_sim").doubleValue()).headOption
          .map(_.getAs[Long]("index_id"))
        ids.forall(x => !purgedVecs(x)) && top.contains(v)
      }
    }
  }

  /** Every vector purged so far, probed with itself, finds no purged id. */
  private def purgedAbsent(): Boolean = {
    val q = vecsDf(purgedVecs.toSeq.map(v => (2000000L + v, vecsAll(v.toInt)._2)))
    SimIndex.probeTopK(spark, q, "vec_id", "embedding", 3, fam("sim"))
      .select(col("index_id")).as[Long].collect().forall(x => !purgedVecs(x))
  }

  /** Count-min estimates of the terms of a live doc. */
  private def sketchProbe(): () => () => Boolean = {
    val d = liveDocs.toIndexedSeq(rnd.nextInt(liveDocs.size))
    val ts = docsAll(d.toInt)._2.split(" ").distinct.take(5).toSeq
    () => {
      val got = Trace.span("operators.sketch.probe")(estimates(ts))
      () => sketchExact(got)
    }
  }

  private def estimates(ts: Seq[String]): Map[String, Long] =
    counts(SketchIndex.estimate(spark, ts.toDF("term"), "term", fam("sketch")).collect())

  private def counts(rows: Array[Row]): Map[String, Long] =
    rows.map(r => r.getAs[String]("term") -> r.getAs[Number]("cms_est").longValue).toMap

  /** `got` equals the estimates of a sketch built afresh over the live
    * docs' terms with the index's geometry. */
  private def sketchExact(got: Map[String, Long]): Boolean = {
    val live = terms(docsDf(liveDocs.toSeq.map(i => docsAll(i.toInt))))
    val fresh = CountMin.build(live, "term", DEPTH, WIDTH)
    got == counts(CountMin.estimate(fresh, got.keys.toSeq.toDF("term"), "term", DEPTH, WIDTH).collect())
  }

  // --------------------------------------------------------------- end

  def finish(): Int = 0
  def roots: Seq[File] = Seq(root)
  def inputBytes: Long = {
    val frac = (docsIn.toDouble / docsAll.length + (BASE + batch * BATCH).toDouble / vecsAll.length) / 2
    (Util.bytesUnder(new File(corpusDir)) * frac).toLong
  }

  override def layerMetrics: Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    for (f <- Families; s <- Seq("publish", "append", "probe", "compact", "purge", "vacuum")) {
      m(s"operators.$f.${s}_s") = Trace.meanSeconds(s"operators.$f.$s")
    }
    for (f <- Families) m(s"operators.$f.files") = Util.filesUnder(new File(fam(f))).toDouble
    for (g <- Gates) m(s"streaming.$g.batch_s") = Trace.meanSeconds(s"streaming.$g.batch")
    m("streaming.replays_sent") = replaysSent.toDouble
    m("streaming.replays_absorbed") = replaysAbsorbed.toDouble
    m.toMap
  }
}
