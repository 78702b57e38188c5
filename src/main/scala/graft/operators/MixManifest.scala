package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** Cross-run data versioning for training mixtures: a MIX MANIFEST
  * pins everything that decides whether a document enters a training
  * run — the temperature-flattened per-source keep thresholds (q77's
  * √(n_min/n_s) rule), the hash-split bounds (q43's h32 % 100 rule),
  * the threshold scale, and a provenance fingerprint of the source
  * table — into one tiny manifest-committed snapshot. Applying a
  * pinned manifest is then a PURE FUNCTION of (doc_id, manifest):
  * no rand(), no partition order, no engine dependence, and no drift
  * when the corpus grows — the run that trained last month re-selects
  * byte-identical data today from the same manifest version.
  *
  * The manifest is a one-row-per-source parquet table published
  * through the same versioned-dir protocol as [[DedupIndex]] and the
  * storage engine's manifests: write a fresh `mix.vN` dir (Spark's
  * `_SUCCESS` is the commit record), resolve the highest committed
  * version, retain the previous generation, vacuum older. Loading
  * collects one row per source — bounded by the source-taxonomy size
  * (a catalog constant, like nation/region), never by corpus size.
  */
object MixManifest {

  /** A loaded manifest: everything [[applyMix]] needs, nothing else.
    * `sources` rows are (source, n_docs at pin time, keep threshold).
    */
  final case class Pinned(scale: Long, trainLt: Int, valLt: Int,
                          provenance: String,
                          sources: Seq[(String, Long, Long)])

  private def versionsOf(root: String): Seq[(Long, java.io.File)] = {
    val kids = Option(new java.io.File(root).listFiles())
      .map(_.toSeq).getOrElse(Nil)
    kids.filter(f => f.isDirectory && f.getName.startsWith("mix.v") &&
        f.getName.drop(5).forall(_.isDigit))
      .map(f => (f.getName.drop(5).toLong, f))
  }

  /** Highest committed manifest version under `root`, if any. */
  def resolve(root: String): Option[String] = {
    val hit = versionsOf(root).filter { case (_, f) =>
      new java.io.File(f, "_SUCCESS").isFile }
      .sortBy(-_._1).headOption.map(_._2.getAbsolutePath)
    if (hit.isDefined) graft.sources.Artifacts.noteResolveHit()
    hit
  }

  /** Derive this corpus's mixture (q77's rule, in-plan — the 1-row
    * min is broadcast, never collected) and publish it as the next
    * manifest version. Returns the committed path.
    */
  def publish(docs: DataFrame, id: String, source: String, scale: Long,
              trainLt: Int, valLt: Int, root: String,
              provenance: String = ""): String = synchronized {
    require(0 < trainLt && trainLt <= valLt && valLt <= 100,
      s"split bounds must satisfy 0 < trainLt <= valLt <= 100")
    val counts = docs.groupBy(source).agg(count(lit(1)).as("n_docs"))
    val nmin = counts.agg(min("n_docs").as("n_min"))
    val rows = counts.crossJoin(broadcast(nmin))
      .select(col(source).as("source"), col("n_docs"),
        round(sqrt(col("n_min").cast("double") / col("n_docs").cast("double"))
          * scale).cast("long").as("thr"),
        lit(scale).as("scale"), lit(trainLt).as("train_lt"),
        lit(valLt).as("val_lt"), lit(provenance).as("provenance"))
    // stage + atomic rename into the version slot (DedupIndex.publish's
    // protocol): a cross-process racer's rename fails and retries the
    // next slot — no interleaved writes into one version dir
    graft.sources.Artifacts.notePublish()
    val staging = new java.io.File(root,
      s".staging-${java.util.UUID.randomUUID()}")
    rows.coalesce(1).write.mode("overwrite")
      .parquet(staging.getAbsolutePath)
    var next = versionsOf(root).map(_._1).maxOption.getOrElse(0L) + 1
    var target = new java.io.File(root, s"mix.v$next")
    var attempts = 0
    while (!staging.renameTo(target)) {
      attempts += 1
      require(attempts < 1000,
        s"publish rename failed repeatedly into $root (not a version race)")
      next += 1
      target = new java.io.File(root, s"mix.v$next")
    }
    val path = target.getAbsolutePath
    // keep the newest two COMMITTED generations (see DedupIndex.publish
    // — ranking raw dirs would let a crash orphan displace the
    // previous committed generation a reader may still be pinned on)
    val committedVs = versionsOf(root).filter { case (_, f) =>
      new java.io.File(f, "_SUCCESS").isFile }.map(_._1)
    val keepFloor = committedVs.sorted.takeRight(2).headOption.getOrElse(0L)
    versionsOf(root).filter(_._1 < keepFloor)
      .foreach(v => VersionedDirs.deleteTree(v._2))
    Option(new java.io.File(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(".staging-"))
      .foreach(VersionedDirs.deleteTree)
    path
  }

  /** Load the current committed manifest (or a specific version dir
    * via `resolve`-style path) into its pinned form.
    */
  def load(spark: SparkSession, root: String): Pinned =
    loadPath(spark, resolve(root).getOrElse(
      throw new IllegalStateException(s"no committed mix manifest under $root")))

  def loadPath(spark: SparkSession, path: String): Pinned = {
    val rows = spark.read.parquet(path).collect() // one row per source
    require(rows.nonEmpty, s"empty mix manifest at $path")
    val h = rows.head
    Pinned(h.getAs[Long]("scale"), h.getAs[Int]("train_lt"),
      h.getAs[Int]("val_lt"), h.getAs[String]("provenance"),
      rows.map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("thr"))).toSeq.sortBy(_._1))
  }

  /** Apply a pinned manifest: keep rows whose h32(id) falls under the
    * PINNED per-source threshold (sources absent from the manifest are
    * dropped — they did not exist at pin time, and silently admitting
    * them would un-version the mixture), tagged with the pinned split.
    * The threshold side is hint-broadcast deliberately: it is bounded
    * by the source taxonomy, a catalog constant like nation/region,
    * not a corpus-scaled set.
    */
  def applyMix(docs: DataFrame, pinned: Pinned, id: String,
               source: String): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val thr = pinned.sources.toDF("source", "n_docs_pinned", "thr")
      .select(col("source").as(source), col("thr"))
    val h = Hashing.h32(col(id).cast("string"))
    val split = when(h % 100 < pinned.trainLt, "train")
      .when(h % 100 < pinned.valLt, "val").otherwise("test")
    docs.join(broadcast(thr), Seq(source))
      .filter(h % pinned.scale < col("thr"))
      .withColumn("split", split)
      .drop("thr")
  }
}
