package graft.operators

import java.io.File

/** The shared versioned-directory commit protocol of the persisted
  * index family ([[DedupIndex]], [[SimIndex]], the streaming
  * compactor): each publish writes a fresh `index.vN` directory
  * (Spark's own `_SUCCESS` marker is the commit record — a crashed
  * writer leaves an unreferenced dir that readers skip), `resolve`
  * returns the highest committed version, and retention keeps the
  * newest two COMMITTED generations so re-indexing never disturbs a
  * concurrent reader of the previous generation. Mirrors
  * [[graft.FlatFileEngine]]'s versioned-dir table commits. The
  * `deltas/batch-*` append logs beside the generations, and the
  * `_folded.json`/`_purged.json` ledgers inside them, belong to
  * [[DeltaLog]].
  */
private[graft] object VersionedDirs {

  /** Age past which an abandoned `.staging-` dir is vacuumed.
    * `synchronized` on the publish paths only covers same-JVM
    * callers, so a blanket staging sweep could delete a concurrent
    * cross-process writer's in-flight staging dir mid-write; the
    * grace window keeps the crash-leftover cleanup without racing
    * live writers (same policy as
    * [[graft.sources.Artifacts]]'s stage-orphan age).
    */
  val StagingGraceMs: Long = 60L * 60 * 1000

  /** True when `f` is a `.staging-` dir old enough to be a crashed
    * writer's leftover rather than a live cross-process write.
    */
  def stagingOrphan(f: File): Boolean =
    f.isDirectory && f.getName.startsWith(".staging-") &&
      System.currentTimeMillis() - f.lastModified() > StagingGraceMs

  /** Recursively delete `f` (no-op when absent). */
  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree)); f.delete(); ()
  }

  def versionsOf(root: String): Seq[(Long, File)] = {
    val d = new File(root)
    val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
    kids.filter(f => f.isDirectory && f.getName.startsWith("index.v") &&
        f.getName.drop(7).forall(_.isDigit))
      .map(f => (f.getName.drop(7).toLong, f))
  }

  /** Highest committed (`_SUCCESS`-marked) version under `root`, or
    * None before the first publish. A hit is counted toward
    * [[graft.sources.Artifacts.resolveHits]] — the warm half of the
    * bench's warm/cold artifact marker.
    */
  def resolve(root: String): Option[String] = {
    val hit = versionsOf(root).filter { case (_, f) =>
      new File(f, "_SUCCESS").isFile }
      .sortBy(-_._1).headOption.map(_._2.getAbsolutePath)
    if (hit.isDefined) graft.sources.Artifacts.noteResolveHit()
    hit
  }

  /** Write via `write` into a writer-private staging dir, then
    * atomic-rename into the next version slot. rename(2) onto an
    * existing non-empty dir fails, so two cross-process publishers
    * racing the same number cannot interleave files: the loser's
    * rename fails and it retries the next slot with its staging dir
    * intact. (Callers `synchronized` for same-JVM races; the rename
    * covers everything else.) Runs retention after committing.
    * Returns the committed path.
    */
  def commit(root: String)(write: String => Unit): String = {
    graft.sources.Artifacts.notePublish()
    val staging = new File(root, s".staging-${java.util.UUID.randomUUID()}")
    write(staging.getAbsolutePath)
    var next = versionsOf(root).map(_._1).maxOption.getOrElse(0L) + 1
    var target = new File(root, s"index.v$next")
    var attempts = 0
    while (!staging.renameTo(target)) {
      attempts += 1
      require(attempts < 1000,
        s"publish rename failed repeatedly into $root (not a version race)")
      next += 1
      target = new File(root, s"index.v$next")
    }
    val path = target.getAbsolutePath
    retainLatestGenerations(root)
    path
  }

  /** Keep the newest two COMMITTED generations, vacuum older ones
    * plus abandoned staging dirs. The floor is the SECOND-newest
    * COMMITTED version — everything below it (older generations,
    * crashed-writer leftovers) vacuums; everything at/above survives,
    * so the previous committed generation stays for readers that
    * resolved before this publish and a possibly in-flight
    * higher-numbered writer is never yanked. Ranking raw dirs instead
    * would let a crash orphan displace the previous committed
    * generation.
    *
    * PIN-AWARE: a generation still referenced by a live
    * [[FleetSnapshot]] manifest (`<parent>/_snapshots/fleet.m*.json`)
    * is never vacuumed regardless of age — a pinned read must not
    * dangle while its manifest lives. [[FleetSnapshot.release]]
    * (delete the manifest) expires the pin; the NEXT vacuum then
    * reclaims. The pin check is a listing + small-file reads —
    * metadata cost, run only when generations are actually below the
    * floor.
    */
  def retainLatestGenerations(root: String, keep: Int = 2): Unit = {
    val committedVs = versionsOf(root).filter { case (_, f) =>
      new File(f, "_SUCCESS").isFile }.map(_._1)
    val keepFloor = committedVs.sorted.takeRight(keep).headOption.getOrElse(0L)
    val below = versionsOf(root).filter(_._1 < keepFloor)
    if (below.nonEmpty) {
      val pinned = FleetSnapshot.pinnedGenerations(root)
      below.filterNot(v => pinned(v._2.getAbsolutePath))
        .foreach(v => deleteTree(v._2))
    }
    Option(new File(root).listFiles()).getOrElse(Array.empty)
      .filter(stagingOrphan).foreach(deleteTree)
  }
}
