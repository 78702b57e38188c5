package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._

/** Counters of the Spark jobs an op launches (the `queries` layer).
  *
  * Installed only in traced runs. Every job carries the id of the op
  * that launched it as a local property; only jobs of ops in traced
  * passes are counted, and their intervals are attributed to ops after
  * the listener bus drains.
  */
final class QueryListener extends SparkListener {
  val jobs = new AtomicLong
  val listingJobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val taskRunMs = new AtomicLong
  val gcMs = new AtomicLong

  /** Ops of traced passes; only their jobs are counted. */
  private val tracedOps = ConcurrentHashMap.newKeySet[Long]()
  def traceOp(op: Long): Unit = { tracedOps.add(op); () }
  def isTraced(op: Long): Boolean = tracedOps.contains(op)

  /** (op id, start ms, end ms) of every finished job of a traced op. */
  val intervals = new ConcurrentHashMap[Int, (Long, Long, Long)]()
  private val starts = new ConcurrentHashMap[Int, (Long, Long)]()
  private val stageOp = new ConcurrentHashMap[Int, Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val op = props.flatMap(p => Option(p.getProperty(Trace.OpKey)))
      .map(_.toLong).getOrElse(-1L)
    if (isTraced(op)) {
      jobs.incrementAndGet()
      val desc = props.flatMap(p => Option(p.getProperty("spark.job.description")))
      if (desc.exists(_.startsWith("Listing leaf files"))) listingJobs.incrementAndGet()
      starts.put(e.jobId, (op, e.time))
      e.stageIds.foreach(s => stageOp.put(s, op))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(starts.remove(e.jobId)).foreach { case (op, t0) =>
      intervals.put(e.jobId, (op, t0, e.time))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (stageOp.containsKey(e.stageInfo.stageId)) { stages.incrementAndGet(); () }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageOp.containsKey(e.stageId)) {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        shuffleRead.addAndGet(m.shuffleReadMetrics.remoteBytesRead +
          m.shuffleReadMetrics.localBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        taskRunMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
      }
    }

  /** Union of the job intervals attributed to `op`, in seconds. */
  def busySeconds(op: Long): Double = {
    val iv = ArrayBuffer[(Long, Long)]()
    intervals.forEach { (_, v) => if (v._1 == op) iv += ((v._2, v._3)) }
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total / 1000.0
  }
}

/** Spans around every timed call: name, start, end, parent and op id,
  * kept in memory and written out at exit. Off unless the run is
  * traced; the benchmark's client is single-threaded, so the parent is
  * the innermost open span.
  */
object Trace {
  val OpKey = "perfbench.op"

  final case class Span(id: Int, name: String, parent: Int, op: Long,
                        startNs: Long, var endNs: Long)

  @volatile var enabled = false
  private val spans = ArrayBuffer[Span]()
  private val stack = scala.collection.mutable.Stack[Int]()
  private var currentOp = -1L

  /** Per span-name totals (seconds, calls) — the per-layer timings. */
  val totals = scala.collection.mutable.LinkedHashMap[String, (Double, Long)]()

  def beginOp(op: Long): Unit = { currentOp = op }

  /** Mean seconds per traced call of `name` (0 when never called). */
  def meanSeconds(name: String): Double =
    totals.get(name).map { case (t, n) => t / n }.getOrElse(0.0)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1),
        currentOp, System.nanoTime(), 0L)
      spans += s
      stack.push(s.id)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        val (t, n) = totals.getOrElse(name, (0.0, 0L))
        totals(name) = (t + (s.endNs - s.startNs) / 1e9, n + 1)
      }
    }

  def writeTo(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      out.println(s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
        s""""op":${s.op},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}
