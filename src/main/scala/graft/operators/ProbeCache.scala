package graft.operators

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StructType}

/** The shared probe contract of the bucket-partitioned index families
  * (DedupIndex, SimIndex, FirstSeenIndex, LexIndex, BpeIndex, and the
  * cache rules PqIndex and GraphIndex follow).
  *
  * A probe derives a keyed frame from its batch (banding, bucket
  * keys, query terms …) that feeds BOTH the touched-partition set and
  * the probe join — and callers then reference the probe RESULT
  * several more times (jaccardFor reads its candidate set three
  * times; eval queries union multiple probes). Two naive lifecycles
  * both fail:
  *
  *   - cache the batch frame and never release → executor storage
  *     leaks on every library call (the r10 advice item);
  *   - release right after computing the touched set → every later
  *     consumption of the returned LAZY plan re-derives the batch
  *     side from scratch (the r11 regression: q91 5.0→19.1 s, q246
  *     4.5→32.4 s — jaccardFor re-signed the corpus-sized batch ~4×
  *     per query).
  *
  * The one-job prologue ([[keyed]]): the probe MATERIALIZES its keyed
  * batch once (an eager `localCheckpoint`) and observes the touched
  * bucket set during that same job, as `bit_or` bitmask words (one
  * 64-bit word per 64 buckets, the [[GraphIndex.khop]] technique) —
  * one driver action where persist + `distinct().collect()` took
  * three. The probe then reads ONLY the touched bucket directories of
  * each root ([[prunedRead]]): no listing job over the whole
  * generation, no schema-inference job per root. Finally it
  * materializes the probe-result frame ([[materialize]], computed
  * once, lineage severed, a plain RDD scan that can never re-derive
  * the batch side) and only then RELEASES the batch checkpoint
  * explicitly ([[Keyed.settle]]) — it is batch-sized and must not
  * wait for the context cleaner. Probe results are candidate-/
  * batch-bounded — never corpus-sized — so the result's checkpoint
  * blocks are small, disk-backed under memory pressure, and swept by
  * Spark's context cleaner when the frame is garbage collected.
  *
  * Corollaries, pinned by CachePolicySpec:
  *   - the batch side is evaluated exactly once per probe call, and
  *     no batch-sized checkpoint outlives the call;
  *   - a probe NEVER persists or unpersists a caller-provided frame
  *     (r11's `probeBanded` evicted DedupStream's batch cache) —
  *     sites whose batch frame belongs to the caller use only
  *     [[prunedRead]];
  *   - the returned frame is deterministic even for
  *     non-deterministic batch inputs — the touched-partition filter
  *     and the join consumed the SAME single evaluation, so the
  *     pruning set can't silently drop rows of a re-evaluation.
  *
  * The lazy `*Plan` audit forms key the batch without materializing
  * it and collect the touched set with a plain `distinct().collect()`.
  */
private[graft] object ProbeCache {

  /** Eagerly compute `result` once and return it lineage-free (a
    * local checkpoint). Call BEFORE releasing the batch-side cache
    * the plan depends on.
    */
  def materialize(result: DataFrame): DataFrame =
    result.localCheckpoint(eager = true)

  /** [[materialize]] that additionally reports driver-side aggregate
    * metrics of the materialized rows — collected DURING the
    * checkpoint's own job via an [[org.apache.spark.sql.Observation]]
    * (a CollectMetrics node), so loop guards that previously ran a
    * separate `isEmpty`/`count()`/checksum action per round
    * (BFS/k-hop frontier emptiness, k-core fixpoints, connected
    * components' convergence checksum) ride the round's one
    * materialize instead: one driver action per round, not two.
    * `metrics` must be deterministic aggregate expressions; returns
    * the checkpointed frame plus the observed values keyed by the
    * aggregates' result names.
    */
  def materializeObserved(result: DataFrame,
                          metrics: Seq[Column])
      : (DataFrame, Map[String, Any]) = {
    val obs = org.apache.spark.sql.Observation()
    val cp = result.observe(obs, metrics.head, metrics.tail: _*)
      .localCheckpoint(eager = true)
    (cp, obs.get)
  }

  /** [[materializeObserved]] specialized to the row count — the
    * frontier-loop guard shape.
    */
  def materializeCounted(result: DataFrame): (DataFrame, Long) = {
    val (cp, m) = materializeObserved(result,
      Seq(count(lit(1)).as("n")))
    (cp, m("n").asInstanceOf[Long])
  }

  /** Drop the blocks of a frame returned by [[materialize]] — the
    * explicit release of a batch-sized checkpoint. Only a frame that
    * IS a checkpoint scan is released; anything else (a lazy audit
    * form, which may sit on a caller's checkpoint) is left alone.
    */
  def release(checkpointed: DataFrame): Unit =
    checkpointed.queryExecution.logical match {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
      case _ => ()
    }

  /** A probe's keyed batch side and the buckets it touches. */
  final class Keyed private[ProbeCache] (val frame: DataFrame,
                                         val touched: Seq[Int],
                                         eager: Boolean) {
    /** The probe result: materialized, then the batch checkpoint
      * released — or, for a lazy audit form, `result` as is.
      */
    def settle(result: => DataFrame): DataFrame =
      if (!eager) result
      else try materialize(result) finally release()

    /** Release the batch checkpoint (a no-op for a lazy form). */
    def release(): Unit = if (eager) ProbeCache.release(frame)
  }

  /** Key a probe batch: `batch` carries the int bucket column
    * `bucketCol` in `[0, numBuckets)`. With `materialize`, the batch
    * is checkpointed once and the touched set observed in the same
    * job (the one-job prologue); without, the frame stays lazy and
    * the touched set is collected (the audit forms).
    */
  def keyed(batch: DataFrame, bucketCol: String, numBuckets: Int,
            materialize: Boolean): Keyed =
    if (!materialize)
      new Keyed(batch, batch.select(bucketCol).distinct().collect()
        .map(_.getInt(0)).sorted.toSeq, eager = false)
    else {
      val words = (numBuckets + 63) / 64
      val c = s"`$bucketCol`"
      val (cp, m) = materializeObserved(batch, (0 until words).map { w =>
        coalesce(expr(s"bit_or(CASE WHEN $c >= ${64 * w} AND " +
          s"$c < ${64 * (w + 1)} THEN shiftleft(cast(1 as bigint), " +
          s"$c - ${64 * w}) END)"), lit(0L)).as(s"touched$w")
      })
      val touched = (0 until words).flatMap { w =>
        val mask = m(s"touched$w").asInstanceOf[Long]
        (0 until 64).filter(b => ((mask >>> b) & 1L) == 1L).map(_ + 64 * w)
      }
      new Keyed(cp, touched, eager = true)
    }

  /** The rows of `roots` (each a dataset partitioned by the int
    * column `bucketCol` into `<bucketCol>=<b>` directories) whose
    * bucket is in `touched`, reading ONLY those directories that
    * exist: `basePath` is the root, the schema is `schema` when the
    * family knows it, else the one recorded in a part file's footer,
    * and the static `isin` filter stays on every scan, so the plan
    * carries it as PartitionFilters. A root with no touched directory
    * contributes nothing; when none contributes the result is an
    * empty frame of the same schema. Lists directories driver-side
    * and launches no Spark job: each root's directories are split
    * into scans of at most Spark's parallel-listing threshold
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`), so
    * no scan lists its paths with a job; a root within the threshold
    * stays one scan. Rewrites read a whole generation through it with
    * every bucket touched.
    */
  def prunedRead(spark: SparkSession, roots: Seq[String],
                 bucketCol: String, touched: Seq[Int],
                 schema: Option[StructType] = None): DataFrame = {
    val want = touched.toSet
    val prefix = s"$bucketCol="
    val dirs = roots.map { r =>
      // a root that vanished (a racing cleanup) fails the read, as a
      // whole-root scan of it would — never a silent empty contribution
      r -> Option(new File(r).listFiles()).getOrElse(
          throw new IllegalStateException(s"index root $r does not exist"))
        .filter(d => d.isDirectory && d.getName.startsWith(prefix) &&
          d.getName.stripPrefix(prefix).toIntOption.exists(want))
        .sortBy(_.getName).toSeq
    }
    val data = schema
      .orElse(ParquetFooters.sparkSchema(dirs.flatMap(_._2)))
      .orElse(ParquetFooters.sparkSchema(roots.map(new File(_))))
      .getOrElse(throw new IllegalStateException(
        s"no parquet part file under ${roots.mkString(", ")}"))
    val full =
      if (data.fieldNames.contains(bucketCol)) data
      else data.add(bucketCol, IntegerType)
    val perScan = math.max(1, spark.conf
      .get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    val reads = dirs.flatMap { case (r, ds) =>
      ds.grouped(perScan).map { chunk =>
        spark.read.schema(full).option("basePath", r)
          .parquet(chunk.map(_.getAbsolutePath): _*)
          .filter(col(bucketCol).isin(touched.map(Int.box): _*))
      }
    }
    // no path at all: an empty scan of the same schema (no listing)
    if (reads.isEmpty) spark.read.schema(full).parquet()
    else reads.reduce(_.unionByName(_))
  }
}
