package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The shared committed-batch-dir protocol of the foreachBatch
  * streams ([[AnnStream]], [[NoveltyStream]], [[LexStream]],
  * [[SketchStream]], [[GraphStream]], [[BpeStream]]): each
  * micro-batch's output lands as one `_SUCCESS`-committed
  * `<prefix><batchId>` dir under `outRoot` — the [[VersionedSink]]
  * idempotence trick, so an at-least-once replay overwrites identical
  * bytes and is absorbed. Factored once so the commit/listing rules
  * (the `_SUCCESS` check, the strict-digits name parse that skips
  * foreign dirs and half-written writes) cannot drift between the
  * six streams that ride them.
  */
private[streaming] final class BatchDirs(spark: SparkSession,
                                         outRoot: String, prefix: String) {

  private def fs =
    new Path(outRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def committed(p: Path): Boolean = fs.exists(new Path(p, "_SUCCESS"))

  /** The batch's output dir (committed or not). */
  def target(batchId: Long): Path = new Path(outRoot, s"$prefix$batchId")

  /** Marker-file support for streams that record extra durable state
    * beside the batch dirs (e.g. [[LexStream]]'s ingestion markers).
    */
  def exists(name: String): Boolean = fs.exists(new Path(outRoot, name))
  def touch(name: String): Unit = {
    fs.create(new Path(outRoot, name)).close()
  }

  /** Every committed batch dir, sorted by batch id. */
  def dirs: Seq[(Long, Path)] = {
    val base = new Path(outRoot)
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix) && name.length > prefix.length &&
          name.drop(prefix.length).forall(_.isDigit))
        Some((name.drop(prefix.length).toLong, st.getPath))
      else None
    }.filter(d => committed(d._2)).sortBy(_._1)
  }

  def paths: Seq[String] = dirs.map(_._2.toString)
  def ids: Seq[Long] = dirs.map(_._1)
}
