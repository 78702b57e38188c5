package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted adjacency index — the graph the pipeline keeps NEXT TO
  * its fact tables (eighth member of the persisted-index family):
  * who-trades-with-whom / who-interacts-with-whom as a committed
  * artifact, so neighborhood probes, degree censuses and k-hop
  * traversals never re-derive the edge set from a corpus-scale join
  * (at 100 TB the trade graph is a lineitem⋈orders pass — paid once
  * at publish, then maintained at batch cost). Same lifecycle as the
  * seven siblings: tagged O(batch) delta folds, tombstone → compact →
  * vacuum deletes, [[VersionedDirs]]' commit protocol, probes under
  * the [[ProbeCache]] contract.
  *
  * Rows are DIRECTED weighted edges (src, dst, w); an undirected
  * graph stores both directions (the caller's symmetrization — see
  * the q312 queries). Each generation (and each delta) holds TWIN
  * layouts of the same edge rows: `out/` hash-bucketed on src (the
  * out-neighborhood probe's pruning key) and `in/` hash-bucketed on
  * dst — the reverse-adjacency mirror, so "who points at u"
  * ([[inNeighbors]]: followers, citers, inbound trades of a DIRECTED
  * graph) is a bucket-pruned probe instead of a full artifact scan.
  * A probe for a node set prunes to its touched buckets of its
  * layout — and each HOP of a traversal re-prunes to the frontier's
  * buckets. The mirror doubles publish/fold write cost (both twins
  * are one shuffle each off the same cached batch) — the classic
  * read-optimized trade: storage×2 for probe-side locality on BOTH
  * edge directions.
  *
  * Two burdens no sibling shares, both judged (q312–q315):
  *
  *   - **weights are SUMS, folds are not idempotent** (the
  *     [[SketchIndex]] hazard in a row-keyed family): base and deltas
  *     each hold their own batch's (src, dst, w); the served weight
  *     is the SUM across them, so a redelivered fold double-counts
  *     and the [[DeltaLog]] tag ledger is load-bearing, not an
  *     optimization;
  *   - **deletion is two-sided**: purging node u must drop u's own
  *     rows AND every edge (v, u) held by OTHER nodes. Probe-time
  *     masking anti-joins the tombstone set against BOTH endpoints;
  *     [[mergeCompact]]'s physical drop is the full-artifact row
  *     filter every sibling pays at GDPR cadence — and with the
  *     mirror, BOTH halves of the tombstoned row set are now
  *     bucket-addressable (src rows in `out/`'s buckets, dst rows in
  *     `in/`'s), where the r13 single-layout artifact had to scan
  *     every bucket for the scattered dst half.
  *
  * Bans ("forgotten must STAY forgotten"): tombstones mask what was
  * already ingested and RESET at compaction — nothing stops a LATER
  * batch from re-mentioning a deleted identity (at-least-once
  * upstreams and backfills do exactly that), and post-compact the
  * re-mention would serve. A banned node set ([[MaskedIndexFamily]],
  * never reset) is filtered out of arriving edges at [[fold]] on both
  * endpoints, and probes and [[mergeCompact]] mask it as defense in
  * depth — O(bans) per fold, GDPR request-sized, never data-sized.
  */
object GraphIndex extends MaskedIndexFamily {

  /** Partition-dir count (layout constant, [[DedupIndex]]'s class). */
  val NumBuckets = 64

  /** Stable partition bucket of a node id (layout only — never a
    * semantic key, so the xxhash needs no oracle twin).
    */
  def pbucketOf(node: Column): Column =
    pmod(xxhash64(node), lit(NumBuckets.toLong)).cast("int")

  /** The shared twin-layout write of [[publish]], [[fold]] and
    * [[mergeCompact]]: one row per (src, dst) with the summed weight,
    * written twice under `path` — `out/` hash-partitioned on src and
    * `in/` on dst (the reverse-adjacency mirror), each into
    * [[NumBuckets]] dirs. The input is cached across the two shuffles
    * so the batch derivation runs once; the root `_SUCCESS` marker
    * (the [[VersionedDirs]]/delta commit record) lands only after
    * BOTH twins are complete — a reader can never observe one without
    * the other.
    */
  private def writeAdj(edges: DataFrame, path: String): Unit = {
    val e = edges
      .select(col("src").cast("long"), col("dst").cast("long"),
        col("w").cast("long"))
      .persist()
    try {
      e.withColumn("pbucket", pbucketOf(col("src")))
        .repartition(col("pbucket"))
        .sortWithinPartitions("src", "dst")
        .write.partitionBy("pbucket").mode("overwrite")
        .parquet(s"$path/out")
      e.withColumn("pbucket", pbucketOf(col("dst")))
        .repartition(col("pbucket"))
        .sortWithinPartitions("dst", "src")
        .write.partitionBy("pbucket").mode("overwrite")
        .parquet(s"$path/in")
      // commit marker at the twin pair's root; the two dataset writes
      // left theirs one level down
      java.nio.file.Files.createFile(
        java.nio.file.Paths.get(path, "_SUCCESS"))
      ()
    } finally { e.unpersist(); () }
  }

  /** The data columns of every `out/` and `in/` edge file. */
  private val EdgeSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "src BIGINT, dst BIGINT, w BIGINT")

  private def aggEdges(edges: DataFrame): DataFrame =
    edges.groupBy("src", "dst").agg(sum("w").as("w"))

  /** Commit `edges` (columns `src`, `dst`, `w` — pre-directed rows;
    * symmetrize before calling for an undirected graph) as the next
    * version, one row per (src, dst) with the summed weight.
    */
  def publish(edges: DataFrame, root: String): String = synchronized {
    VersionedDirs.commit(root) { st => writeAdj(aggEdges(edges), st) }
  }

  // ------------------------------------------------------ delta folds

  /** Fold a batch's edges in at BATCH cost: the delta holds the
    * batch's OWN (src, dst, w) sums — the committed adjacency is
    * never read, never rewritten. Probes serve the weight-SUM of
    * base ∪ live deltas; [[mergeCompact]] folds the log physically.
    * A redelivered tagged fold is ABSORBED ([[DeltaLog.append]]) —
    * sums are not idempotent, so the absorb is correctness, not
    * hygiene.
    */
  def fold(spark: SparkSession, batchEdges: DataFrame, root: String,
           tag: String = java.util.UUID.randomUUID().toString): String =
    synchronized {
      DeltaLog.requireTag(tag)
      DeltaLog.append(root, head(root), tag) { staging =>
        // the ingestion gate of the ban closure: edges re-mentioning a
        // banned identity never enter the delta (class doc).
        // Batch-scoped cache: the emptiness check and the write are two
        // actions over the same (possibly anti-joined) frame — persist
        // so the batch scan runs once, not twice.
        val gated = gate(spark, root, batchEdges, "src", "dst").persist()
        try {
          if (gated.isEmpty) {
            // an EMPTY batch — fully banned, or empty at the source —
            // still commits its TAG: a marker-only EMPTY delta — plain
            // (non-partitioned) parquet under both twins, so the footer
            // carries the schema readers need (an empty partitionBy
            // write leaves no footers at all and would break every
            // later read of the append log). Without the marker,
            // `folded(root, tag)` stays false forever and an
            // at-least-once caller
            // ([[graft.streaming.GraphStream]].processBatch) re-runs
            // the gate and reports "work committed" on every
            // redelivery; with it the replay absorbs like any other
            // fold.
            val empty = gated
              .select(col("src").cast("long"), col("dst").cast("long"),
                col("w").cast("long"))
              .withColumn("pbucket", pbucketOf(col("src")))
              .limit(0)
            empty.write.mode("overwrite")
              .parquet(s"${staging.getAbsolutePath}/out")
            empty.write.mode("overwrite")
              .parquet(s"${staging.getAbsolutePath}/in")
            java.nio.file.Files.createFile(
              java.nio.file.Paths.get(staging.getAbsolutePath, "_SUCCESS"))
          } else writeAdj(aggEdges(gated), staging.getAbsolutePath)
        } finally { gated.unpersist(); () }
        true
      }
    }

  /** Fold every committed delta and pending purge into the next
    * generation: weight-sum of base ∪ live deltas, minus every row
    * incident to a tombstoned node (both endpoints — and with the
    * `in/` mirror both halves are bucket-addressable; this full
    * rewrite also folds the delta log, so it reads `out/` once and
    * re-emits both twins, at GDPR cadence), through its bucket
    * directories with the family's [[EdgeSchema]]
    * ([[ProbeCache.prunedRead]]), so an all-purged generation still
    * reads. Clears the log and resets tombstones. Returns the serving
    * generation after the call; unchanged when nothing was pending
    * ([[DeltaLog.unlessIdle]]).
    */
  def mergeCompact(spark: SparkSession, root: String): String =
    compactWith(spark, root) { (log, masks, st) =>
      // a marker delta holds no bucket dir, so it contributes nothing
      val all = ProbeCache.prunedRead(spark,
          (log.genPath +: log.live).map(p => s"$p/out"), "pbucket",
          0 until NumBuckets, Some(EdgeSchema))
        .select(col("src"), col("dst"), col("w"))
      // tombstones reset after the commit; bans do NOT — and the
      // physical drop here also scrubs any banned edge that slipped in
      // pre-ban (both endpoints, the family's two-sided deletion)
      writeAdj(aggEdges(masks.scrub(all, "src", "dst")), st)
    }

  /** Purge-ONLY compaction — the bucket-local rewrite the twin
    * layouts exist to enable: physically drop every row incident to
    * a tombstoned node by REWRITING ONLY the bucket dirs that can
    * hold an affected row and carrying every untouched bucket into
    * the new generation as a verbatim file copy (a server-side copy
    * on an object store — never a read-decode-write of its rows).
    *
    * Which buckets can hold affected rows is answered by the MIRROR:
    * in `out/`, tombstoned SRC rows live in pbucket(T), and
    * tombstoned-DST rows live in pbucket(src) of exactly the edges
    * the `in/` layout serves at T's buckets — so one bucket-pruned
    * probe per layout yields the touched-bucket set (≤ [[NumBuckets]]
    * ints, collected), and the r13 full-artifact scan becomes
    * O(deg(T) probe + touched-bucket rewrite + untouched-file copy).
    * At GDPR cadence against a 100 TB artifact that is the
    * difference between a cluster pass and a surgical rewrite.
    *
    * Scope: tombstones only. Live deltas fall back to
    * [[mergeCompact]] (their rows live outside the bucket layout
    * this rewrite prunes); banned rows in UNtouched buckets stay
    * physical (they are masked on every read path and scrubbed by
    * the next full merge — the ban contract needs the gate + mask,
    * not eager bytes). Resets the tombstone log like any compaction.
    */
  def purgeCompact(spark: SparkSession, root: String): String =
    synchronized {
      val ts = tombstones(spark, root)
      val basePath = head(root)
      if (ts.isEmpty) return basePath
      val log = new DeltaLog.Snapshot(basePath, deltas(root))
      if (log.live.nonEmpty) return mergeCompact(spark, root)
      val t = ts.get.select(col("index_id").cast("long").as("tid"))
      val tBuckets = t.select(pbucketOf(col("tid")).as("pb")).distinct()
        .collect().map(_.getInt(0)).toSet
      // counterpart buckets per layout, via one pruned probe of the
      // OTHER twin: every edge with a tombstoned endpoint names the
      // bucket it occupies on the far side
      def farBuckets(layout: String, keyCol: String,
                     otherCol: String): Set[Int] =
        spark.read.parquet(s"$basePath/$layout")
          .filter(col("pbucket")
            .isin(tBuckets.toSeq.sorted.map(Int.box): _*))
          .join(t.withColumnRenamed("tid", keyCol), Seq(keyCol),
            "leftsemi")
          .select(pbucketOf(col(otherCol)).as("pb")).distinct()
          .collect().map(_.getInt(0)).toSet
      // out/ touched: T's own src buckets + the src buckets of every
      // dst∈T edge (found through in/); in/ symmetric
      val outTouched = tBuckets ++ farBuckets("in", "dst", "src")
      val inTouched = tBuckets ++ farBuckets("out", "src", "dst")
      val path = VersionedDirs.commit(root) { st =>
        def rewriteLayout(layout: String, touched: Set[Int],
                          sortKeys: Seq[String]): Unit = {
          val src = new java.io.File(s"$basePath/$layout")
          val dst = new java.io.File(s"$st/$layout")
          dst.mkdirs()
          if (touched.nonEmpty)
            Masks(Some(t.withColumnRenamed("tid", "index_id")), None).scrub(
              spark.read.parquet(src.getAbsolutePath)
                .filter(col("pbucket")
                  .isin(touched.toSeq.sorted.map(Int.box): _*))
                .select(col("src"), col("dst"), col("w"),
                  col("pbucket")),
              "src", "dst")
              .repartition(col("pbucket"))
              // keep the layout's clustering contract: every other
              // write path (publish/fold/mergeCompact via writeAdj)
              // sorts within buckets, so min/max row-group stats stay
              // tight across bucket-local purges too
              .sortWithinPartitions(sortKeys.head, sortKeys.tail: _*)
              .write.partitionBy("pbucket").mode("append")
              .parquet(dst.getAbsolutePath)
          // untouched buckets: verbatim file copies — no row ever
          // decoded
          Option(src.listFiles()).getOrElse(Array.empty[java.io.File])
            .filter(f => f.isDirectory && f.getName.startsWith("pbucket="))
            .filterNot(f =>
              touched(f.getName.stripPrefix("pbucket=").toInt))
            .foreach { bdir =>
              val out = new java.io.File(dst, bdir.getName)
              out.mkdirs()
              Option(bdir.listFiles()).getOrElse(Array.empty[java.io.File])
                .filter(_.isFile).foreach { f =>
                  java.nio.file.Files.copy(f.toPath,
                    new java.io.File(out, f.getName).toPath)
                  ()
                }
            }
        }
        rewriteLayout("out", outTouched, Seq("src", "dst"))
        rewriteLayout("in", inTouched, Seq("dst", "src"))
        // a total purge can leave a layout with ZERO parquet footers
        // (every bucket touched, every row masked, nothing copied) —
        // the exact schema-inference hazard the fold marker guards
        // against. Leave an empty schema-bearing plain parquet so
        // every later read of the generation still resolves.
        def ensureFooters(layout: String): Unit = {
          val dst = new java.io.File(s"$st/$layout")
          def hasParquet(f: java.io.File): Boolean =
            (f.isFile && f.getName.endsWith(".parquet")) ||
              (f.isDirectory && Option(f.listFiles())
                .getOrElse(Array.empty[java.io.File]).exists(hasParquet))
          if (!hasParquet(dst))
            spark.read.parquet(s"$basePath/$layout")
              .select(col("src"), col("dst"), col("w"), col("pbucket"))
              .limit(0)
              .write.mode("overwrite").parquet(dst.getAbsolutePath)
        }
        ensureFooters("out")
        ensureFooters("in")
        // fold ledger carries forward unchanged — no delta consumed
        DeltaLog.writeLedger(st, DeltaLog.Folded, log.ledger)
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(st, "_SUCCESS"))
        ()
      }
      Tombstones.reset(root)
      path
    }

  // ------------------------------------------------------ probes

  /** Out-neighborhoods of `nodes` (column `node`; extra columns pass
    * through): (…, node, nbr, w) — the weight-sum over base ∪ live
    * deltas, edges incident to a tombstoned node masked (both
    * endpoints). Reads ONLY the src-bucket dirs of the `out/` layout
    * the node set touches (≤ [[NumBuckets]] ints collected — a
    * constant, never data-sized). Nodes with no surviving out-edges
    * emit no row.
    */
  def neighbors(spark: SparkSession, nodes: DataFrame,
                root: String,
                scanCache: Option[scala.collection.concurrent.Map[
                  String, DataFrame]] = None): DataFrame =
    probeCore(spark, nodes, root, out = true, materialize = true,
      scanCache = scanCache)

  /** [[neighbors]] against a PINNED committed generation — the
    * fleet-snapshot read path ([[FleetSnapshot]]): serves `genPath`
    * EXACTLY as committed — no delta log, no tombstone or ban mask
    * (post-snapshot state by definition), and no weight-sum
    * aggregate (a committed generation is already one row per edge).
    */
  def neighborsAt(spark: SparkSession, nodes: DataFrame,
                  genPath: String,
                  scanCache: Option[scala.collection.concurrent.Map[
                    String, DataFrame]] = None): DataFrame =
    probeCore(spark, nodes, genPath, out = true, materialize = true,
      pinned = true, scanCache = scanCache)

  /** In-neighborhoods of `nodes` — "who points at node": (…, node,
    * nbr, w) where each served edge is (nbr → node). The reverse
    * probe a DIRECTED graph needs (followers, citers, inbound
    * trades); it reads ONLY the dst-bucket dirs of the `in/` mirror
    * layout the node set touches — same pruning, masking and
    * [[ProbeCache]] discipline as [[neighbors]], where the r13
    * single-layout artifact had to scan every bucket.
    */
  def inNeighbors(spark: SparkSession, nodes: DataFrame,
                  root: String): DataFrame =
    probeCore(spark, nodes, root, out = false, materialize = true)

  /** The LAZY plan behind [[neighbors]] — exposed for plan audits
    * (pruning specs assert the static PartitionFilters here).
    */
  private[graft] def neighborsPlan(spark: SparkSession, nodes: DataFrame,
                                   root: String): DataFrame =
    probeCore(spark, nodes, root, out = true, materialize = false)

  /** The LAZY plan behind [[inNeighbors]] — for the mirror's own
    * pruning audit (static PartitionFilters on the `in/` layout).
    */
  private[graft] def inNeighborsPlan(spark: SparkSession, nodes: DataFrame,
                                     root: String): DataFrame =
    probeCore(spark, nodes, root, out = false, materialize = false)

  private def probeCore(spark: SparkSession, nodes: DataFrame,
                        root: String, out: Boolean,
                        materialize: Boolean,
                        pinned: Boolean = false,
                        knownTouched: Option[Seq[Int]] = None,
                        scanCache: Option[scala.collection.concurrent.Map[
                          String, DataFrame]] = None): DataFrame = {
    // which twin serves the probe: out-probes key on src over `out/`,
    // in-probes on dst over `in/` — each layout is bucketed on ITS
    // probe key, so the pruning logic is identical
    val (layout, keyCol, nbrCol) =
      if (out) ("out", "src", "dst") else ("in", "dst", "src")
    // read-order discipline (SimIndex.probeTopK): masks, then the
    // delta listing, then resolve; the ledger filter is load-bearing
    // (double-reading a folded delta would double-COUNT).
    // pinned = fleet-snapshot read: `root` IS the generation path and
    // every later log is out of scope.
    val masks = if (pinned) Masks.none else this.masks(spark, root)
    val listed = if (pinned) Nil else deltas(root)
    val idxPath =
      if (pinned) { graft.sources.Artifacts.noteResolveHit(); root }
      else head(root)
    val deltaSnap = DeltaLog.unfolded(listed, idxPath)
    val ns0 = nodes.withColumn("pbucket", pbucketOf(col("node")))
    val ns = if (materialize) ns0.persist() else ns0
    // knownTouched: a caller that already materialized the node set
    // can hand over its observed bucket bitmask ([[khop]] collects it
    // DURING each frontier's checkpoint) — the pruning collect job is
    // then skipped. The set must cover exactly the probe nodes'
    // [[pbucketOf]] values, or pruning would silently drop rows.
    val touched = knownTouched
      .map(_.toArray)
      .getOrElse(ns.select("pbucket").distinct()
        .collect().map(_.getInt(0)))
      .sorted
    // scanCache: a LOOPING caller (khop probes the same artifact once
    // per hop; beam search once per round per arm) hands in a
    // per-query map so each path's file listing — a 64-dir
    // parallel-discovery job per spark.read — runs once per query,
    // not once per round. The cached frame is the UNfiltered scan;
    // the per-round bucket filter still prunes partitions from the
    // already-built file index. Concurrent (TrieMap) because beam
    // arms probe from driver threads — getOrElseUpdate is atomic
    // there, and a lost race merely builds the same immutable plan
    // twice. Single-probe callers pass None and keep the one-shot
    // read. Reuse is sound within one query execution: the artifact
    // is immutable once committed and any fold/publish happens
    // strictly before the probes. Loops keep this cache rather than
    // the touched-dirs-only read of the other families
    // ([[ProbeCache.prunedRead]]): a frontier touches most buckets
    // after a hop or two, so a pruned read would list nearly every
    // directory again on every hop, while the cached scan lists each
    // path once for the whole traversal.
    def pathScan(p: String): DataFrame = {
      def mk = spark.read.parquet(s"$p/$layout")
      scanCache.fold(mk)(_.getOrElseUpdate(s"$p/$layout", mk))
    }
    val adj0 = (idxPath +: deltaSnap)
      .map(p => pathScan(p)
        .filter(col("pbucket").isin(touched.toIndexedSeq.map(Int.box): _*))
        .select(col("pbucket"), col("src"), col("dst"), col("w")))
      .reduce(_.unionByName(_))
    val live = masks.scrub(adj0, "src", "dst")
    // base-only, purge-free reads skip the sum aggregate — the
    // committed adjacency is already one row per (src, dst)
    val adj =
      if (deltaSnap.isEmpty && masks.tombstones.isEmpty) live
      else live.groupBy("pbucket", "src", "dst").agg(sum("w").as("w"))
    val result = ns
      .join(adj, ns("pbucket") === adj("pbucket") &&
        ns("node") === adj(keyCol))
      .drop("pbucket").drop(keyCol)
      .withColumnRenamed(nbrCol, "nbr")
    // node-set × degree bounded (never artifact-sized) — materialize
    // before releasing the node-side cache; see [[ProbeCache]]
    if (materialize) try ProbeCache.materialize(result) finally ns.unpersist()
    else result
  }

  /** The full served edge set (src, dst, w): weight-sum of base ∪
    * live deltas, two-sided tombstone mask — the ANALYTIC-scan
    * accessor, for whole-graph algorithms (PageRank, components,
    * triangles) that by nature read every edge. Lazy (no bucket
    * pruning, no ProbeCache): there is no batch side to cache, and
    * the caller's algorithm owns the execution discipline.
    */
  def edges(spark: SparkSession, root: String): DataFrame = {
    val masks = this.masks(spark, root)
    val listed = deltas(root)
    val idxPath = head(root)
    val deltaSnap = DeltaLog.unfolded(listed, idxPath)
    val all = (idxPath +: deltaSnap)
      .map(p => spark.read.parquet(s"$p/out").select(col("src"), col("dst"),
        col("w")))
      .reduce(_.unionByName(_))
    val live = masks.scrub(all, "src", "dst")
    // masks only REMOVE rows — base-only reads stay one row per
    // (src, dst) and skip the aggregate even under a mask
    if (deltaSnap.isEmpty && masks.tombstones.isEmpty) live
    else live.groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** Degree census of `nodes` (column `node`): (node, out_deg,
    * w_total) over the served state — 0s for nodes with no surviving
    * out-edges (the novelty signal a connectivity gate wants: a
    * never-seen or fully-purged node reports 0, it does not vanish).
    */
  def degrees(spark: SparkSession, nodes: DataFrame,
              root: String): DataFrame = {
    val ns = nodes.select(col("node").cast("long")).distinct().persist()
    // LAZY probe plan: ns is persisted right here for the whole call,
    // so the probe's touched-bucket collect and this aggregate consume
    // the same cached evaluation — the census settles in ONE action
    // (the materialize below) instead of probe-materialize + census
    val nb = probeCore(spark, ns, root, out = true, materialize = false)
      .groupBy("node")
      .agg(count(lit(1)).as("deg"), sum("w").as("wt"))
    val result = ns.join(nb, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("deg"), lit(0L)).as("out_deg"),
        coalesce(col("wt"), lit(0L)).as("w_total"))
    try ProbeCache.materialize(result) finally { ns.unpersist(); () }
  }

  /** k-hop traversal from `roots` (column `node`): (root, node, dist)
    * with dist = BFS distance ≤ k (roots at 0). Each hop is ONE
    * bucket-pruned [[neighbors]] probe of the current frontier — the
    * artifact is read k times over frontier-touched buckets only,
    * never whole — and each frontier is materialized (lineage-severed)
    * so round r+1's plan never re-derives rounds 1..r (the
    * [[PageRank]] iterative-join discipline). `out = false` walks
    * edges BACKWARD through the `in/` mirror — "ancestors within k"
    * (provenance, influence upstream of u) with the same per-hop
    * pruning, which the r13 single layout could not localize.
    */
  def khop(spark: SparkSession, roots: DataFrame, k: Int,
           root: String, out: Boolean = true): DataFrame = {
    // BOTH per-hop guards ride each hop's own materialize
    // (ProbeCache.materializeObserved): the frontier-emptiness check
    // (an isEmpty job per hop through r16) AND the next hop's
    // touched-bucket pruning set (a distinct+collect job per hop
    // inside probeCore) are observed during the checkpoint — one
    // action per hop, period. NumBuckets = 64, so the bucket set
    // travels as one bit_or bitmask.
    def counted(df: DataFrame): (DataFrame, Long, Seq[Int]) = {
      // the SQL text mirrors pbucketOf exactly (pmod(xxhash64, 64))
      val (cp, metrics) = ProbeCache.materializeObserved(df,
        Seq(count(lit(1)).as("n"),
          coalesce(expr("bit_or(shiftleft(cast(1 as bigint), " +
            s"cast(pmod(xxhash64(node), $NumBuckets) as int)))"),
            lit(0L)).as("bks")))
      val mask = metrics("bks").asInstanceOf[Long]
      (cp, metrics("n").asInstanceOf[Long],
        (0 until NumBuckets).filter(b => ((mask >>> b) & 1L) == 1L))
    }
    // one file listing per artifact path for the WHOLE traversal —
    // each hop's probe reuses the already-listed scan (see probeCore)
    val scans = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
    var (acc, n, touched) = counted(
      roots.select(col("node").cast("long").as("root"))
        .distinct()
        .select(col("root"), col("root").as("node"), lit(0L).as("dist")))
    var frontier = acc
    for (i <- 1 to k) {
      if (n > 0) {
        // LAZY probe plan (no inner materialize): the frontier is
        // already lineage-free, so the probe's two consumptions (the
        // pruned scan filter and the join below) read the same cheap
        // checkpointed scan — the hop settles in ONE action, the
        // `next` materialize
        val nb = probeCore(spark, frontier.select(col("root"), col("node")),
          root, out = out, materialize = false,
          knownTouched = Some(touched), scanCache = Some(scans))
        // The dedup exchange is written EXPLICITLY (same keys, session
        // parallelism) so EnsureRequirements reuses it for distinct —
        // zero extra shuffles at any scale — while AQE, which never
        // coalesces a user repartition, can't squeeze the tiny-BYTE
        // frontier to ONE post-shuffle partition. Without this the
        // checkpoint froze a 1-partition frontier and the next hop's
        // probe join — each frontier row fanned out by its neighbor
        // list — streamed through a single 1.4 s task (r17 JobTrace).
        // At real scale the exchange is the one distinct() would have
        // demanded anyway.
        val sp = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val (next, n2, t2) = counted(
          nb.select(col("root"), col("nbr").as("node"))
            .repartition(sp, col("root"), col("node")).distinct()
            .join(acc.select("root", "node"), Seq("root", "node"),
              "left_anti")
            .select(col("root"), col("node"), lit(i.toLong).as("dist")))
        // plain union: every piece is already lineage-free, so the
        // accumulator never re-derives a hop — re-materializing it
        // here would copy all prior levels once per hop (O(k²) bytes)
        if (n2 > 0) acc = acc.unionByName(next)
        frontier = next
        n = n2
        touched = t2
      }
    }
    acc
  }
}
