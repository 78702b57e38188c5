package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One measured call. `kind` is "read" or "write"; `rowsIn` counts the
  * input rows a write absorbs. `run` makes the call into the program and
  * returns its check, which the client evaluates after the call's timer
  * has stopped, so the benchmark's own model and oracles are never timed.
  * The check says whether the result was correct (an exception in either
  * half also counts as a failure).
  */
final case class Op(name: String, kind: String, rowsIn: Long, run: () => () => Boolean)

/** A workload: set-up into fresh roots, a warm-up, then an endless op
  * stream. */
trait Workload {
  /** Fresh roots, staged inputs and cold publishes. A traced run traces
    * these calls (the `publish` spans). */
  def setup(): Unit
  /** The warm-up pass: every op kind once, checked like a measured op,
    * never traced. */
  def warmUp(): Unit
  def next(): Op
  /** End-of-run checks; returns the number of failed checks. */
  def finish(): Int
  /** Directories whose bytes count towards space amplification. */
  def roots: Seq[File]
  def inputBytes: Long
  /** Workload-specific layer metrics, sampled at the end. */
  def layerMetrics: Map[String, Double] = Map.empty
  /** Facts for the report (query lists, outputs to verify, ...). */
  def report: Map[String, String] = Map.empty
  /** Whether a measured phase may end before the next op: a workload
    * that cycles through a fixed op set ends phases on whole passes, so
    * every phase measures the same mix. */
  def atBoundary: Boolean = true

  protected def warm(op: Op): Unit =
    require(op.run()(), s"warm-up op ${op.name} returned a wrong result")
}

/** The benchmark's JVM side. Usage:
  * {{{
  * perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <min passes>
  * }}}
  * Writes `<work>/result.json` (and `<work>/spans.jsonl` when traced);
  * perfbench/run.py turns it into the reported metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, work, passesS) = args
    val minPasses = passesS.toInt
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.BenchSession.build("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // query lists come from perfbench/workloads.json
    lazy val queries = sys.props("perfbench.queries").split(',').toSeq
    val w: Workload = workload match {
      case "analytics" => new QueryWorkload(spark, work, seed, queries, publishPass = false)
      case "pipeline_probe" => new QueryWorkload(spark, work, seed, queries, publishPass = true)
      case "social_oltp" => new SocialWorkload(spark, work, seed)
      case "index_ingest" => new IngestWorkload(spark, work, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // a traced run also times the layer calls of set-up (the cold
    // publishes), never those of the warm-up; set-up time itself is
    // reported by untraced runs only
    val t0 = System.nanoTime()
    Trace.enabled = traced
    w.setup()
    Trace.enabled = false
    w.warmUp()
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupPubs = graft.sources.Artifacts.publishes.get()
    val setupHits = graft.sources.Artifacts.resolveHits.get()

    // measured phase: whole passes (workloads cycle through a fixed op
    // set), at least `minPasses` of them, until `seconds` of wall time
    // have passed, so every run measures the same op mix. Rates are ops
    // over the time spent in calls, and CPU excludes the checks: neither
    // counts the benchmark's own work. A traced run mixes untraced and
    // traced passes; the tracing overhead is the ratio of their op rates.
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val ops = ArrayBuffer[(String, String, Double, Boolean, Long, Long)]()
    val errors = ArrayBuffer[String]()
    val sc = spark.sparkContext
    val listener = new QueryListener
    if (traced) sc.addSparkListener(listener)
    var opId = 0L
    var checkCpuNs = 0L
    def fail(op: Op, e: Throwable): Boolean = {
      if (errors.size < 20) errors += s"${op.name}: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
      false
    }
    /** One pass: ops until the workload is at a boundary again. Returns
      * (ops, seconds in calls, wall seconds). */
    def pass(tracePass: Boolean): (Int, Double, Double) = {
      val first = ops.size
      val w0 = System.nanoTime()
      var inCalls = 0.0
      do {
        val op = w.next()
        if (tracePass) listener.traceOp(opId)
        sc.setLocalProperty(Trace.OpKey, opId.toString)
        Trace.enabled = tracePass
        Trace.beginOp(opId)
        val s = System.nanoTime()
        val check = try Some(Trace.span(op.name)(op.run())) catch { case e: Throwable => fail(op, e); None }
        val secs = (System.nanoTime() - s) / 1e9
        Trace.enabled = false
        sc.setLocalProperty(Trace.OpKey, null)
        val c0 = cpu.getProcessCpuTime
        val ok = check.exists(c => try c() catch { case e: Throwable => fail(op, e) })
        checkCpuNs += cpu.getProcessCpuTime - c0
        inCalls += secs
        ops += ((op.name, op.kind, secs, ok, op.rowsIn, opId))
        opId += 1
      } while (!w.atBoundary)
      (ops.size - first, inCalls, (System.nanoTime() - w0) / 1e9)
    }

    val pub0 = graft.sources.Artifacts.publishes.get()
    val hit0 = graft.sources.Artifacts.resolveHits.get()
    val cpu0 = cpu.getProcessCpuTime
    val rate = Array(Array(0.0, 0.0), Array(0.0, 0.0)) // [traced?][ops, seconds in calls]
    var elapsed = 0.0
    var wall = 0.0
    var i = 0
    // traced runs alternate untraced and traced passes and end on an
    // untraced one (at least U-T-U), so a linear drift over the run, such
    // as JIT warm-up, cancels out of the overhead ratio
    while (wall < seconds || i < minPasses || (traced && (i < 3 || i % 2 == 0))) {
      val t = traced && i % 2 == 1
      val (n, secs, passWall) = pass(t)
      rate(if (t) 1 else 0)(0) += n
      rate(if (t) 1 else 0)(1) += secs
      elapsed += secs
      wall += passWall
      i += 1
    }
    val overhead =
      if (!traced) 0.0
      else (rate(0)(0) / rate(0)(1)) / (rate(1)(0) / rate(1)(1))
    val cpuS = (cpu.getProcessCpuTime - cpu0 - checkCpuNs) / 1e9
    val pubs = graft.sources.Artifacts.publishes.get() - pub0
    val hits = graft.sources.Artifacts.resolveHits.get() - hit0
    org.apache.spark.perfbench.Bus.drain(sc)
    val endFailures = w.finish()

    // live heap: the least heap in use over three forced collections
    val heapMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val diskBytes = w.roots.map(Util.bytesUnder).sum

    val layers = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (traced) {
      val tracedOps = ops.filter(o => listener.isTraced(o._6))
      val n = math.max(1, tracedOps.size).toDouble
      val busy = tracedOps.map(o => listener.busySeconds(o._6))
      layers("queries.driver_s") = tracedOps.zip(busy).map { case (o, b) => math.max(0.0, o._3 - b) }.sum / n
      layers("queries.busy_s") = busy.sum / n
      layers("queries.jobs") = listener.jobs.get / n
      layers("queries.stages") = listener.stages.get / n
      layers("queries.tasks") = listener.tasks.get / n
      layers("queries.listing_jobs") = listener.listingJobs.get / n
      layers("queries.shuffle_read_bytes") = listener.shuffleRead.get / n
      layers("queries.shuffle_write_bytes") = listener.shuffleWrite.get / n
      layers("queries.task_run_s") = listener.taskRunMs.get / 1e3 / n
      layers("queries.gc_s") = listener.gcMs.get / 1e3 / n
      layers("trace.overhead") = overhead
      Trace.writeTo(new File(work, "spans.jsonl").getPath)
    }
    layers("sources.artifact_publishes") = setupPubs.toDouble
    layers("sources.artifact_resolve_hits") = setupHits.toDouble
    layers("sources.artifact_hit_ratio") =
      if (pubs + hits == 0) 1.0 else hits.toDouble / (pubs + hits)
    layers ++= w.layerMetrics

    val out = new StringBuilder
    out ++= "{"
    out ++= s""""session_s":$sessionS,"setup_s":$setupS,"""
    out ++= s""""measured_s":$elapsed,"cpu_s":$cpuS,"heap_mb":$heapMb,"""
    out ++= s""""disk_bytes":$diskBytes,"input_bytes":${w.inputBytes},"""
    out ++= s""""end_failures":$endFailures,"measured_publishes":$pubs,"measured_hits":$hits,"""
    out ++= s""""errors":${errors.map(Util.jstr).mkString("[", ",", "]")},"""
    out ++= s""""report":${w.report.map { case (k, v) => s"${Util.jstr(k)}:$v" }.mkString("{", ",", "}")},"""
    out ++= s""""layers":${layers.map { case (k, v) => s"${Util.jstr(k)}:${Util.num(v)}" }.mkString("{", ",", "}")},"""
    out ++= "\"ops\":["
    out ++= ops.map { case (name, kind, t, ok, rin, id) =>
      s"""[${Util.jstr(name)},"$kind",$t,${if (ok) 1 else 0},$rin]"""
    }.mkString(",")
    out ++= "]}"
    java.nio.file.Files.writeString(new File(work, "result.json").toPath, out.toString)
    spark.stop()
  }

}

object Util {
  def bytesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(bytesUnder).sum

  def filesUnder(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) 1L
    else Option(f.listFiles()).getOrElse(Array.empty[File]).map(filesUnder).sum

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** Seeded Zipf sampler over ranks 0 until n, hot ranks permuted. */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = (1 to n).map(k => 1.0 / math.pow(k, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    private val perm = scala.util.Random.javaRandomToRandom(rnd).shuffle((0 until n).toVector)
    def next(): Int = {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      perm(math.min(i, n - 1))
    }
  }
}
