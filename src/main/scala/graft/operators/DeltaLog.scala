package graft.operators

import java.io.File

/** The append log of the persisted-index families ([[SimIndex]],
  * [[SketchIndex]], [[GraphIndex]], [[FirstSeenIndex]], [[LexIndex]],
  * [[PqIndex]], [[BpeIndex]]) — the one module that knows its on-disk
  * format and commit protocol; the families supply only their row
  * shape and fold arithmetic.
  *
  * Layout: each batch commits one `<root>/deltas/batch-<tag>` dir,
  * `_SUCCESS`-marked; readers list only marked dirs, so a crashed
  * append leaves an unmarked `.staging-` dir nobody reads.
  *
  * Ledger: a generation that folded (or invalidated) deltas names
  * them in its `_folded.json` — cumulative across generations — and
  * [[SketchIndex.purge]] records its purge tags the same way in
  * `_purged.json`. Both are a sorted JSON string array,
  * `["batch-a","batch-b"]`; an empty ledger is never written, and an
  * absent file reads as empty. The ledger is what closes two hazards:
  *   - a redelivered tag arriving after a merge consumed its dir must
  *     be ABSORBED, or it re-commits rows the generation already
  *     holds (resurrecting purged ids, or double-counting in the sum
  *     families);
  *   - a reader that resolves the new generation while a consumed dir
  *     still exists (the window between a merge's commit and its
  *     cleanup) must skip that dir — it may predate a purge the
  *     generation applied.
  *
  * Tags are caller-supplied batch identities, so they are validated
  * against [[TagPattern]] before anything is resolved or written: a
  * tag carrying a quote would forge extra ledger entries, and one
  * carrying a slash would escape `deltas/`.
  *
  * Read order for probes: list the log BEFORE resolving the
  * generation, then drop the dirs that generation's ledger names
  * ([[unfolded]]). A probe that resolves the NEW generation skips
  * exactly the dirs it folded. A probe that resolves the OLD
  * generation is NOT safe yet: a merge that commits between the
  * probe's listing and its file reads deletes the listed dirs right
  * after its commit ([[cleanup]]), and the probe fails on the vanished
  * dir (reproduced: `SketchIndex.estimateOn` across a regrow failed
  * with `[PATH_NOT_FOUND] …/deltas/batch-d1`). That window is open.
  * The six compactions reach [[cleanup]] through one call, in
  * [[MaskedIndexFamily.compactWith]], which is where the fix (a
  * deferred delete, or a reader retry on the new generation) lands;
  * the re-publishes of Sketch, Pq and Bpe and the rewrites of
  * [[SketchIndex]] (merge, purge) and [[BpeIndex.purgeWords]] call
  * [[cleanup]] directly and need the same change.
  *
  * Idle compactions ([[unlessIdle]]): every family's compaction, under
  * its lock and in the same read order (list, then resolve), has work
  * only when the log holds a live delta or a mask set — tombstones or
  * bans — is non-empty. With nothing pending it runs [[cleanup]] on the
  * listed dirs (already-folded leftovers) and returns the resolved
  * generation: no Spark job, no version committed.
  */
private[graft] object DeltaLog {

  /** What a caller-supplied tag may contain. */
  val TagPattern: scala.util.matching.Regex = "[A-Za-z0-9._-]+".r

  val Folded = "_folded.json"
  val Purged = "_purged.json"

  /** Throws IllegalArgumentException unless `tag` matches [[TagPattern]]. */
  def requireTag(tag: String): Unit =
    require(TagPattern.matches(tag),
      s"invalid batch tag '$tag': must match ${TagPattern.regex}")

  def dir(root: String): File = new File(root, "deltas")

  def nameOf(deltaPath: String): String = new File(deltaPath).getName

  /** The committed delta dirs under `root`, sorted absolute paths. */
  def committed(root: String): Seq[String] =
    Option(dir(root).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("batch-") &&
        new File(f, "_SUCCESS").isFile)
      .map(_.getAbsolutePath).sorted.toSeq

  // ------------------------------------------------------ ledger codec

  private[graft] def encode(names: Iterable[String]): String = {
    names.foreach(requireTag)
    names.toSeq.sorted.map(n => s""""$n"""").mkString("[", ",", "]")
  }

  private[graft] def decode(text: String): Set[String] =
    """"([^"]+)"""".r.findAllMatchIn(text).map(_.group(1)).toSet

  /** The names in ledger `file` of the generation at `genPath`. */
  def ledger(genPath: String, file: String = Folded): Set[String] = {
    val f = new File(genPath, file)
    if (!f.isFile) Set.empty
    else decode(java.nio.file.Files.readString(f.toPath))
  }

  /** Write ledger `file` into `dir` — nothing for an empty set, which
    * reads back as empty ([[ledger]]).
    */
  def writeLedger(dir: String, file: String, names: Iterable[String]): Unit =
    if (names.nonEmpty) {
      java.nio.file.Files.writeString(new File(dir, file).toPath, encode(names))
      ()
    }

  // ------------------------------------------------------ read sets

  /** A rewrite's view of the log: the generation it rewrites and the
    * delta dirs listed for it.
    */
  final class Snapshot(val genPath: String, val listed: Seq[String]) {
    val ledger: Set[String] = DeltaLog.ledger(genPath)
    /** Listed dirs the generation has not folded — the rows to read. */
    val live: Seq[String] = listed.filterNot(p => ledger(nameOf(p)))
    /** The next generation's ledger: prior names plus every listed dir. */
    def consumed: Seq[String] = (ledger ++ listed.map(nameOf)).toSeq.sorted
  }

  /** `listed` (taken before `genPath` was resolved) minus the dirs
    * `genPath` already folded.
    */
  def unfolded(listed: Seq[String], genPath: String): Seq[String] =
    if (listed.isEmpty) Nil else new Snapshot(genPath, listed).live

  /** The committed deltas minus the ledger of the generation at `genPath`. */
  def live(root: String, genPath: String): Seq[String] =
    unfolded(committed(root), genPath)

  /** True when a batch tagged `tag` has committed — live in the log,
    * or named in the resolved generation's ledger.
    */
  def contains(root: String, tag: String): Boolean = {
    requireTag(tag)
    new File(new File(dir(root), s"batch-$tag"), "_SUCCESS").isFile ||
      VersionedDirs.resolve(root).exists(p => ledger(p)(s"batch-$tag"))
  }

  // ------------------------------------------------------ commit protocol

  /** Commit one tagged batch against the generation at `genPath`.
    * A tag that is live or in `genPath`'s ledger is absorbed: nothing
    * is written, and the live dir (or `genPath`) is returned.
    * Otherwise `write` fills a writer-private staging dir and says
    * whether there is anything to commit (false for an empty batch,
    * whose partitioned write would leave no parquet footers); the
    * staging dir is then renamed to `batch-<tag>`, or removed if
    * `write` declined or threw.
    */
  def append(root: String, genPath: String, tag: String)
            (write: File => Boolean): String = {
    requireTag(tag)
    val dr = dir(root); dr.mkdirs()
    val target = new File(dr, s"batch-$tag")
    if (new File(target, "_SUCCESS").isFile) return target.getAbsolutePath
    if (ledger(genPath)(target.getName)) return genPath
    graft.sources.Artifacts.notePublish()
    val staging = new File(dr, s".staging-${java.util.UUID.randomUUID()}")
    val commit =
      try write(staging)
      catch { case e: Throwable => VersionedDirs.deleteTree(staging); throw e }
    if (!commit) { VersionedDirs.deleteTree(staging); return genPath }
    require(staging.renameTo(target), s"delta rename failed into $dr")
    target.getAbsolutePath
  }

  /** After the generation that consumed `listed` committed: delete
    * exactly those dirs (a batch committed after the listing survives)
    * plus staging dirs past [[VersionedDirs.StagingGraceMs]] (a live
    * cross-process append's staging dir is never yanked).
    */
  def cleanup(root: String, listed: Seq[String]): Unit = {
    listed.foreach(p => VersionedDirs.deleteTree(new File(p)))
    Option(dir(root).listFiles()).getOrElse(Array.empty)
      .filter(VersionedDirs.stagingOrphan).foreach(VersionedDirs.deleteTree)
  }

  /** A compaction of `log` that commits only when work is pending: a
    * live delta, or any defined `pending` (a non-empty tombstone or ban
    * set, a purge to apply). Otherwise [[cleanup]] the listed dirs and
    * return the resolved generation without running `rewrite`.
    */
  def unlessIdle(root: String, log: Snapshot, pending: Option[Any]*)
                (rewrite: => String): String =
    if (log.live.nonEmpty || pending.exists(_.isDefined)) rewrite
    else { cleanup(root, log.listed); log.genPath }
}
