package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit}

/** `analytics` and `pipeline_probe`: registry queries over generated
  * tables, each op one query through a noop sink, in a seeded order.
  * `names` are exact registry names (graft.SparkEntry.queries).
  *
  * Set-up: a fresh artifact root; for pipeline_probe a publish pass
  * (every artifact is committed here, never in the measured phase).
  * The warm-up pass writes each result as parquet under `<work>/outputs`
  * for the oracle check; its row count becomes the expected row count
  * of every measured execution.
  */
final class QueryWorkload(spark: SparkSession, work: String, seed: Long,
                          names: Seq[String], publishPass: Boolean)
    extends Workload {
  private val data = new File(work, "data").getAbsolutePath
  private val fns = graft.SparkEntry.queries
  private val missing = names.filterNot(fns.contains)
  require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
  private val rnd = new java.util.Random(seed)
  private var order: Seq[String] = Nil
  private var pos = 0
  private val expected = scala.collection.mutable.Map[String, Long]()
  private val artState = scala.collection.mutable.LinkedHashMap[String, String]()
  private var artRoot: File = _

  private def run(name: String): Unit =
    fns(name)(spark, data).write.format("noop").mode("overwrite").save()

  /** Runs `name` through a noop sink and returns its row count, taken
    * by an observed metric on the same execution. */
  private def runCounted(name: String): Long = {
    val obs = org.apache.spark.sql.Observation()
    fns(name)(spark, data).observe(obs, count(lit(1)).as("rows"))
      .write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  def setup(): Unit = {
    artRoot = new File(work, "artifacts")
    System.setProperty("graft.artifacts.root", artRoot.getAbsolutePath)
    if (publishPass) names.foreach { n => run(n); clear() }
  }

  def warmUp(): Unit =
    names.foreach { n =>
      val p0 = graft.sources.Artifacts.publishes.get()
      val h0 = graft.sources.Artifacts.resolveHits.get()
      val out = new File(work, s"outputs/$n").getAbsolutePath
      fns(n)(spark, data).write.mode("overwrite").parquet(out)
      expected(n) = spark.read.parquet(out).count()
      artState(n) =
        if (graft.sources.Artifacts.publishes.get() > p0) "cold"
        else if (graft.sources.Artifacts.resolveHits.get() > h0) "warm"
        else "none"
      clear()
    }

  private def clear(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def next(): Op = {
    if (pos % names.size == 0) order = scala.util.Random.javaRandomToRandom(rnd).shuffle(names)
    val n = order(pos % names.size)
    pos += 1
    Op(n, "read", 0L, () => {
      val rows = runCounted(n)
      () => { clear(); expected.get(n).forall(_ == rows) }
    })
  }

  override def atBoundary: Boolean = pos % names.size == 0

  def finish(): Int = 0
  def roots: Seq[File] = Seq(new File(data), artRoot)
  def inputBytes: Long = Util.bytesUnder(new File(data))

  override def layerMetrics: Map[String, Double] =
    Map("sources.artifact_bytes" -> Util.bytesUnder(artRoot).toDouble)

  override def report: Map[String, String] = Map(
    "queries" -> names.map(Util.jstr).mkString("[", ",", "]"),
    "expected_rows" -> expected.map { case (k, v) => s"${Util.jstr(k)}:$v" }.mkString("{", ",", "}"),
    "artifact_state" -> artState.map { case (k, v) => s"${Util.jstr(k)}:${Util.jstr(v)}" }.mkString("{", ",", "}"),
    "oracle_sql" -> graft.SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) => s"${Util.jstr(k)}:${Util.jstr(v)}" }.mkString("{", ",", "}"))
}
