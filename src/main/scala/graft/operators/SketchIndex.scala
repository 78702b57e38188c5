package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted count-min sketch — [[CountMin]] lifted into the
  * publish / probe / delta / purge lifecycle (seventh member of the
  * persisted-index family): the hot-key / frequency monitor a
  * pipeline keeps NEXT TO its corpus, answering "how often has this
  * term/key/URL been seen so far" at every ingestion gate without a
  * key-domain groupBy over the corpus. Two properties no sibling
  * family has, both consequences of sketch LINEARITY
  * (sketch(A ∪ B) = sketch(A) + sketch(B), cell-wise):
  *
  *   - the delta fold is ARITHMETIC, not row-union: a batch's own
  *     d·w-cell sketch lands as a delta and the serving state is the
  *     cell-SUM of base ∪ deltas — maintenance is O(d·w) per batch
  *     regardless of corpus size, and [[mergeCompact]] is one tiny
  *     aggregate;
  *   - the purge is an exact SUBTRACTION: deleting a known row set
  *     commits (served cells − the deletion batch's own sketch),
  *     bit-identical to a fresh build over the survivors — no
  *     rebuild, no corpus rescan, O(d·w). (The standard CMS caveat
  *     holds: subtracting rows that were never ingested corrupts
  *     cells — the deletion frame must be the ingested rows, which a
  *     GDPR request has.)
  *
  * The artifact is d·w counter rows — bounded by sketch geometry,
  * never by data — so there is no bucket pruning to do: probes
  * broadcast the summed sketch. Total ingested count N is derivable
  * from the sketch itself (Σ cnt over any one hash row), so no stats
  * sidecar can drift from the cells. Determinism is [[CountMin]]'s:
  * the affine hash family is engine-identical, so every cell, every
  * estimate, and every subtraction replays bit-for-bit in the
  * oracle.
  *
  * Layout per committed generation: `cells/` (r, cell, cnt) +
  * `_params.json` {"depth","width"} + the [[DeltaLog]] ledgers. Here
  * the ledger hazard is arithmetic: a redelivered fold after a merge
  * would DOUBLE-COUNT its cells, sums are not idempotent, so the
  * closure of [[folded]] is what keeps an at-least-once redelivery
  * from double-counting.
  */
object SketchIndex extends IndexFamily {

  private val CellSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "r INT, cell BIGINT, cnt BIGINT")

  private def writeCells(cells: DataFrame, dir: java.io.File): Unit =
    cells.select(col("r").cast("int"), col("cell").cast("long"),
        col("cnt").cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(dir.toString)

  /** The frozen (depth, width) of the newest committed generation. */
  def geometry(root: String): (Int, Int) = geometryAt(head(root))

  /** The frozen (depth, width) of ONE resolved generation — internal
    * reads pin the path, so cells and geometry always come from the
    * same generation even while a regrow commits a wider one.
    */
  private def geometryAt(genPath: String): (Int, Int) = {
    val p = Sidecar.read(genPath, Sidecar.Params)
    (p.int("depth"), p.int("width"))
  }

  private def writeParams(dir: String, depth: Int, width: Int): Unit =
    Sidecar.write(dir, Sidecar.Params, "depth" -> depth, "width" -> width)

  /** Build and commit the sketch of `items`' string column `term` as
    * the next version.
    *
    * Re-publishing into a root that already has a generation (the
    * [[regrowOnBias]] path) INVALIDATES the delta log: pending deltas
    * hold cells of the OLD geometry, and summing them against a
    * regrown width would corrupt every estimate — so `items` must be
    * the full ingested corpus (deltas included), the new generation's
    * ledger names the consumed dirs (redelivered tagged deltas
    * absorb) and the purge ledger carries forward.
    */
  def publish(items: DataFrame, term: String, depth: Int, width: Int,
              root: String): String = synchronized {
    val log = resolve(root).map(new DeltaLog.Snapshot(_, deltas(root)))
    val path = VersionedDirs.commit(root) { st =>
      writeCells(CountMin.build(items, term, depth, width),
        new java.io.File(st, "cells"))
      writeParams(st, depth, width)
      log.foreach { l =>
        DeltaLog.writeLedger(st, DeltaLog.Folded, l.consumed)
        DeltaLog.writeLedger(st, DeltaLog.Purged,
          DeltaLog.ledger(l.genPath, DeltaLog.Purged))
      }
      java.nio.file.Files.createFile(
        new java.io.File(st, "_SUCCESS").toPath)
      ()
    }
    log.foreach(l => DeltaLog.cleanup(root, l.listed))
    path
  }

  // ------------------------------------------------------ deltas

  /** Commit a batch's OWN sketch as a delta — O(d·w), the committed
    * cells never read or rewritten. Serving state is the cell-sum of
    * base ∪ deltas (linearity).
    */
  def appendDelta(spark: SparkSession, items: DataFrame, term: String,
                  root: String,
                  tag: String = java.util.UUID.randomUUID().toString)
      : String = synchronized {
    DeltaLog.requireTag(tag)
    val genPath = head(root)
    DeltaLog.append(root, genPath, tag) { staging =>
      val (d, w) = geometryAt(genPath)
      writeCells(CountMin.build(items, term, d, w), staging)
      true
    }
  }

  /** The serving cells of the generation at `genPath`: cell-sum of
    * its cells ∪ the `live` (unconsumed) deltas — ≤ d·w rows after
    * the aggregate, at any corpus size. The ledger filter that picked
    * `live` is load-bearing here: unlike the min/union families a
    * double-read double-COUNTS.
    */
  private def servedCells(spark: SparkSession, genPath: String,
                          live: Seq[String]): DataFrame =
    (new java.io.File(genPath, "cells").toString +: live)
      .map(p => spark.read.schema(CellSchema).parquet(p))
      .reduce(_.unionByName(_))
      .groupBy("r", "cell").agg(sum("cnt").as("cnt"))

  /** Point estimates for `queries`' distinct `term` values against
    * the served state: min over the term's d cells, absent terms
    * estimate 0. Also returns `n_total` (Σ row-0 cells — the total
    * ingested count, derived from the sketch itself) on every row so
    * callers can threshold hot keys (est ≥ N/k) without a stats
    * sidecar. Materialized per the [[ProbeCache]] contract.
    */
  def estimate(spark: SparkSession, queries: DataFrame, term: String,
               root: String): DataFrame = {
    val (genPath, live) = served(root)
    estimateOn(spark, queries, term, genPath, live)
  }

  /** The newest generation and its live deltas, resolved once — read
    * order per [[DeltaLog]]: list the log, then resolve.
    */
  private def served(root: String): (String, Seq[String]) = {
    val listed = deltas(root)
    val genPath = head(root)
    (genPath, DeltaLog.unfolded(listed, genPath))
  }

  /** [[estimate]] on one resolved generation and its live deltas:
    * geometry and cells both come from `genPath`, so a regrow that
    * commits a wider generation meanwhile cannot mix the two.
    */
  private[graft] def estimateOn(spark: SparkSession, queries: DataFrame,
                                term: String, genPath: String,
                                live: Seq[String]): DataFrame = {
    val (d, w) = geometryAt(genPath)
    val cells = servedCells(spark, genPath, live)
    val n = cells.filter(col("r") === 0)
      .agg(coalesce(sum("cnt"), lit(0L)).as("n_total"))
    val q = queries.select(col(term)).distinct().persist()
    try ProbeCache.materialize(
      CountMin.estimate(cells, q, term, d, w).crossJoin(broadcast(n)))
    finally { q.unpersist(); () }
  }

  /** [[estimate]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): point estimates
    * from `genPath`'s cells EXACTLY as committed — no delta log, no
    * later purge rewrites (post-snapshot state by definition, the
    * [[SimIndex.probeTopKAt]] contract). Geometry comes from the
    * PINNED generation's own `_params.json`, so a regrow committed
    * after the pin (different width) can never skew a pinned
    * estimate. Cell read is ≤ d·w rows — model-constant, the same
    * bounded class as [[estimate]]'s.
    */
  def estimateAt(spark: SparkSession, queries: DataFrame, term: String,
                 genPath: String): DataFrame = {
    graft.sources.Artifacts.noteResolveHit()
    estimateOn(spark, queries, term, genPath, Nil)
  }

  /** Fold the delta log physically: commit the cell-sum as the next
    * generation, recording the consumed dirs in its ledger. Returns the
    * serving generation after the call; unchanged when nothing was
    * pending — no live delta ([[DeltaLog.unlessIdle]]).
    */
  def mergeCompact(spark: SparkSession, root: String): String =
    rewrite(spark, root)((_, served) => served)

  /** True when a purge tagged `tag` has already been applied. The
    * `_purged.json` ledger is the subtraction twin of the fold
    * ledger: subtraction is NOT idempotent (a re-run with the same
    * deletion set subtracts twice), so [[purge]] records its tag
    * (carried forward across generations) and absorbs a repeat.
    */
  def purged(root: String, tag: String): Boolean = {
    DeltaLog.requireTag(tag)
    resolve(root).exists(p => DeltaLog.ledger(p, DeltaLog.Purged)(tag))
  }

  /** A content fingerprint of a (small) deletion frame — the default
    * purge tag, so retrying the same deletion set is absorbed without
    * the caller inventing names: count + order-free seeded-hash sum
    * over the term column (one aggregate; GDPR deletion sets are
    * request-sized).
    */
  def deletionTag(deleted: DataFrame, term: String): String = {
    val r = deleted
      .select(graft.functions.Hashing.seeded(0, col(term)).as("h"))
      .agg(count(lit(1)).as("n"),
        coalesce(sum("h"), lit(0L)).cast("long").as("fp"))
      .first()
    s"del-${r.getLong(0)}-${java.lang.Long.toHexString(r.getLong(1))}"
  }

  /** Exact deletion by linearity: commit (served cells − the deletion
    * rows' own sketch) as the next generation — bit-identical to a
    * fresh build over the survivors, O(d·w), no corpus rescan. The
    * deletion frame must be the INGESTED rows being forgotten (the
    * class-doc caveat). A repeat of the same deletion set — an
    * at-least-once compliance runner, a crashed cascade re-run — is
    * ABSORBED: the purge tag (by default the deletion frame's own
    * content fingerprint) is recorded in the committed generation's
    * `_purged.json` and a tagged re-run returns the existing
    * generation instead of subtracting twice.
    */
  def purge(spark: SparkSession, deleted: DataFrame, term: String,
            root: String, tag: Option[String] = None): String = {
    tag.foreach(DeltaLog.requireTag)
    val t = tag.getOrElse(deletionTag(deleted, term))
    // cheap early absorb; rewrite re-checks INSIDE its lock (two
    // concurrent same-tag purges must not both pass this check and
    // subtract twice)
    resolve(root) match {
      case Some(p) if DeltaLog.ledger(p, DeltaLog.Purged)(t) => return p
      case _ => ()
    }
    // the negative sketch is built inside the lock, with the geometry
    // of the generation it is subtracted from: one built before a
    // concurrent regrow committed would subtract at the old width
    rewrite(spark, root, purgeTag = Some(t)) { case ((d, w), served) =>
      val neg = CountMin.build(deleted, term, d, w)
        .select(col("r"), col("cell"), (-col("cnt")).as("cnt"))
      served.unionByName(neg)
        .groupBy("r", "cell").agg(sum("cnt").as("cnt"))
        .filter(col("cnt") =!= 0L)
    }
  }

  /** Commit `f(geometry, served cells)` of the newest generation as
    * the next one, under the lock; `f` sees the geometry of exactly
    * the generation whose cells it gets.
    */
  private def rewrite(spark: SparkSession, root: String,
                      purgeTag: Option[String] = None)
                     (f: ((Int, Int), DataFrame) => DataFrame): String =
    synchronized {
    // read order (see [[DeltaLog]]): list the log, then resolve
    val listed = deltas(root)
    val genPath = head(root)
    // locked re-check of the purge ledger: a concurrent same-tag
    // purge that committed while this call waited must absorb here
    val purgedNames = DeltaLog.ledger(genPath, DeltaLog.Purged)
    purgeTag.foreach { t => if (purgedNames(t)) return genPath }
    val log = new DeltaLog.Snapshot(genPath, listed)
    // a purge always rewrites; a merge only over live deltas
    DeltaLog.unlessIdle(root, log, purgeTag) {
      val (d, w) = geometryAt(genPath)
      val cells = f((d, w), servedCells(spark, genPath, log.live))
      val path = VersionedDirs.commit(root) { st =>
        writeCells(cells, new java.io.File(st, "cells"))
        writeParams(st, d, w)
        DeltaLog.writeLedger(st, DeltaLog.Folded, log.consumed)
        DeltaLog.writeLedger(st, DeltaLog.Purged, purgedNames ++ purgeTag)
        java.nio.file.Files.createFile(
          new java.io.File(st, "_SUCCESS").toPath)
        ()
      }
      DeltaLog.cleanup(root, log.listed)
      path
    }
  }

  // ------------------------------------------------------ saturation

  /** Saturation audit of the served sketch against ground truth: the
    * frozen (depth, width) never change while N grows, so estimate
    * bias creeps up as ~N/w and NOTHING in the serving path notices —
    * the family's q292-analog drift hazard. One row:
    * (width, n_terms, n_exact, max_err, sum_err, n_total, err_bound)
    * where `corpus` is the INGESTED occurrence rows (exact counts
    * must be the truth the sketch summarizes), errs are
    * (estimate − exact) ≥ 0, and err_bound is the count-min
    * guarantee ε·N (ε = e/w) as the integer surrogate
    * (2718·N) div (1000·w) — measured bias vs the paper bound, from
    * committed artifacts, zero floats. Cost: one corpus groupBy
    * (vocabulary-sized exchange) + the broadcast-sketch estimate —
    * audit cadence, never per probe.
    */
  def biasAudit(spark: SparkSession, corpus: DataFrame, term: String,
                root: String): DataFrame = {
    val (genPath, live) = served(root)
    val (_, w) = geometryAt(genPath)
    val exact = corpus.groupBy(col(term))
      .agg(count(lit(1)).as("exact"))
    estimateOn(spark, corpus, term, genPath, live)
      .join(exact, Seq(term))
      .select((col("cms_est") - col("exact")).as("err"), col("n_total"))
      .agg(count(lit(1)).as("n_terms"),
        coalesce(sum(when(col("err") === 0L, 1L).otherwise(0L)), lit(0L))
          .as("n_exact"),
        coalesce(max("err"), lit(0L)).as("max_err"),
        coalesce(sum("err"), lit(0L)).as("sum_err"),
        coalesce(max("n_total"), lit(0L)).as("n_total"))
      .select(lit(w.toLong).as("width"), col("n_terms"), col("n_exact"),
        col("max_err"), col("sum_err"), col("n_total"),
        expr(s"2718 * n_total div (1000 * $w)").as("err_bound"))
  }

  /** Width-regrow republish trigger — fire a rebuild at
    * `widthFactor`× the frozen width iff the measured max bias
    * exceeds `budgetPpm` parts-per-million of N ([[biasAudit]], one
    * audit pass); the rebuild cost (one corpus scan) is paid only on
    * fire, the [[PqIndex.retrainOnDrift]] doctrine. `corpus` must be
    * the full ingested rows — the rebuild subsumes the delta log,
    * which the re-publish invalidates (see [[publish]]). Returns the
    * new committed path when fired.
    */
  def regrowOnBias(spark: SparkSession, corpus: DataFrame, term: String,
                   root: String, budgetPpm: Long,
                   widthFactor: Int = 4): Option[String] = {
    val r = biasAudit(spark, corpus, term, root).first()
    val maxErr = r.getAs[Long]("max_err")
    val n = r.getAs[Long]("n_total")
    if (maxErr * 1000000L > budgetPpm * n) {
      val (d, w) = geometry(root)
      Some(publish(corpus, term, d, w * widthFactor, root))
    } else None
  }
}
