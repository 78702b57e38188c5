package graft.operators

import org.apache.spark.sql.SparkSession

/** The operational face of the persisted-index fleet: ONE call that
  * inventories every family root's committed state — the report a
  * compliance officer (or an on-call engineer) asks for before and
  * after a [[PurgeCascade]] run. All eight families share the same
  * on-disk conventions ([[VersionedDirs]] versioned generations,
  * [[DeltaLog]]'s `deltas/batch-*` append logs and
  * `_folded.json`/`_purged.json` ledgers, [[Tombstones]] logs), so
  * the inspection is one generic walk per root:
  *
  *   - `generation` / `nGenerations` — the serving head and how many
  *     committed versions still exist (1 after a vacuum; >1 means
  *     prior generations are still pinned-readable);
  *   - `nPendingDeltas` — LIVE (unconsumed) append-log dirs: work the
  *     next mergeCompact will fold;
  *   - `nFoldedTags` / `nPurgedTags` — the absorption ledgers: how
  *     many batch tags redeliveries will absorb, and (sketch) how
  *     many purge fingerprints a re-run will absorb;
  *   - `nTombstones` — committed deletes not yet compacted away: a
  *     non-zero count after a purge cascade means a compaction failed
  *     partway and must be re-run;
  *   - `nBans` — the durable re-ingestion ban set (never resets;
  *     after a `purge(ban = true)` cascade this equals the cumulative
  *     deletion-request ids the family will refuse forever);
  *   - `nRows` / `nBytes` — the head generation's physical footprint
  *     (every parquet dataset under it, layout-agnostic: memo+merges,
  *     cells, postings, band keys, BOTH twins of a mirrored adjacency,
  *     and Sim's key rows plus its vector table alike — physical rows,
  *     not logical entities).
  *
  * Cost: filesystem listings plus parquet FOOTER reads
  * ([[ParquetFooters]] — one metadata seek per part file, no Spark
  * job) — metadata-scale at any artifact size, safe at audit
  * cadence. Reports
  * are point-in-time snapshots (no locks taken): a root mid-commit
  * shows its last committed state, the same read-isolation every
  * probe has.
  */
object IndexCatalog {

  /** One family root's committed state. */
  final case class Entry(
      family: String,
      root: String,
      generation: Option[String],
      nGenerations: Int,
      nPendingDeltas: Int,
      nFoldedTags: Int,
      nPurgedTags: Int,
      nTombstones: Long,
      nBans: Long,
      nRows: Long,
      nBytes: Long)

  private def bytesUnder(dir: java.io.File): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else f.length()
    walk(dir)
  }

  /** Inspect one family root (see class doc for the fields). Every
    * count is a FOOTER read ([[ParquetFooters]]) or a listing — no
    * Spark job anywhere, so the "metadata-scale" claim holds at any
    * artifact size (the r13 finding: `count()` per head-generation
    * dataset was a cluster pass masquerading as a listing).
    */
  def inspect(spark: SparkSession, family: String, root: String): Entry = {
    val gen = VersionedDirs.resolve(root)
    val listed = DeltaLog.committed(root)
    val log = gen.map(new DeltaLog.Snapshot(_, listed))
    def logRows(name: String): Long =
      VersionedDirs.resolve(new java.io.File(root, name).getAbsolutePath)
        .fold(0L)(p => ParquetFooters.rows(new java.io.File(p)))
    val nTomb = logRows("tombstones")
    val nBans = logRows("bans")
    val (rows, bytes) = gen.fold((0L, 0L)) { g =>
      val dir = new java.io.File(g)
      (ParquetFooters.rows(dir), bytesUnder(dir))
    }
    Entry(family, root, gen,
      nGenerations = VersionedDirs.versionsOf(root).size,
      nPendingDeltas = log.fold(listed)(_.live).size,
      nFoldedTags = log.fold(0)(_.ledger.size),
      nPurgedTags = gen.fold(0)(DeltaLog.ledger(_, DeltaLog.Purged).size),
      nTombstones = nTomb,
      nBans = nBans,
      nRows = rows, nBytes = bytes)
  }

  /** The fleet report: one [[Entry]] per (family, root), in input
    * order — pairs naturally with the Seq of [[PurgeCascade.Target]]s
    * a cascade ran over.
    */
  def report(spark: SparkSession,
             roots: Seq[(String, String)]): Seq[Entry] =
    roots.map { case (family, root) => inspect(spark, family, root) }

  /** [[report]] over a cascade's own targets. */
  def reportTargets(spark: SparkSession,
                    targets: Seq[PurgeCascade.Target]): Seq[Entry] =
    report(spark, targets.map(t => (t.family, t.root)))

  /** One row per (snapshot, family) of the committed
    * [[FleetSnapshot]] manifests under `fleetRoot`: snapshot number,
    * family name, pinned generation version and path, and `live` —
    * 0 when the pinned path no longer holds a committed generation
    * (a DANGLING pin: the manifest outlived its generation, possible
    * for manifests written before pin-aware retention or hand-broken
    * roots — the detector the inspect path owes a deployment).
    * Driver-side listings only — no Spark job (the [[inspect]]
    * doctrine); a malformed entry reports generation −1 rather than
    * failing the whole listing (report-what-is-there).
    */
  def pinnedSnapshots(spark: SparkSession, fleetRoot: String)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    FleetSnapshot.list(fleetRoot).flatMap { n =>
      FleetSnapshot.at(fleetRoot, n).toSeq.sorted.map { case (f, g) =>
        val gen = scala.util.Try(
          new java.io.File(g).getName.stripPrefix("index.v").toLong)
          .getOrElse(-1L)
        val live =
          if (new java.io.File(g, "_SUCCESS").isFile) 1L else 0L
        (n, f, gen, g, live)
      }
    }.toDF("snap", "family", "generation", "gen_path", "live")
  }
}
