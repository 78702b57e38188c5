package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The lifecycle all eight persisted-index families share
  * ([[SimIndex]], [[FirstSeenIndex]], [[LexIndex]], [[GraphIndex]],
  * [[PqIndex]], [[DedupIndex]], [[SketchIndex]], [[BpeIndex]]):
  * committed generations under [[VersionedDirs]], the [[DeltaLog]]
  * append log beside them. The family objects extend it; a member
  * that locks does so on the family object, the same lock the
  * family's own commits take. A family without an append log
  * ([[DedupIndex]]) answers [[deltas]] with nothing and [[folded]]
  * with false.
  */
trait IndexFamily {

  /** Highest committed generation under `root`, if any. */
  def resolve(root: String): Option[String] = VersionedDirs.resolve(root)

  /** [[resolve]], or an IllegalStateException before the first publish. */
  private[graft] def head(root: String): String = resolve(root).getOrElse(
    throw new IllegalStateException(s"no committed index under $root"))

  /** Drop every generation but the newest committed one — the
    * post-grace step of a compliance purge.
    */
  def vacuumOld(root: String): Unit = synchronized {
    VersionedDirs.retainLatestGenerations(root, keep = 1)
  }

  /** The committed delta dirs, sorted ([[DeltaLog.committed]]). */
  def deltas(root: String): Seq[String] = DeltaLog.committed(root)

  /** True when a batch tagged `tag` has committed — live in the log, or
    * named in the resolved generation's ledger ([[DeltaLog.contains]]).
    * Each family's class doc says why its redeliveries must absorb.
    */
  def folded(root: String, tag: String): Boolean = DeltaLog.contains(root, tag)
}

/** The tombstone and ban half of the lifecycle, shared by the six
  * id-keyed families ([[SimIndex]], [[FirstSeenIndex]], [[LexIndex]],
  * [[GraphIndex]], [[PqIndex]], [[DedupIndex]]): deletes commit to the
  * [[Tombstones]] log, durable bans to the [[Bans]] log, reads mask
  * both through [[Masks.scrub]], and [[compactWith]] is the one
  * compaction every family runs. Each family's class doc says what a
  * ban closes in that family.
  */
trait MaskedIndexFamily extends IndexFamily {

  /** Record `ids` (column `idCol`) as deleted — masked on every read at
    * once, removed physically at the next compaction.
    */
  def addTombstones(spark: SparkSession, ids: DataFrame, idCol: String,
                    root: String): String = synchronized {
    Tombstones.add(spark, ids, idCol, root)
  }

  /** The committed tombstone set, if any. */
  def tombstones(spark: SparkSession, root: String): Option[DataFrame] =
    Tombstones.get(spark, root)

  /** Durably ban `ids` (column `idCol`) — gated out of every later
    * append, masked on every read, scrubbed at every compaction, and
    * never reset.
    */
  def addBans(spark: SparkSession, ids: DataFrame, idCol: String,
              root: String): String = synchronized {
    Bans.add(spark, ids, idCol, root)
  }

  /** The committed ban set, if any. */
  def bans(spark: SparkSession, root: String): Option[DataFrame] =
    Bans.get(spark, root)

  /** Both mask sets, tombstones read first. */
  private[graft] def masks(spark: SparkSession, root: String): Masks =
    Masks(tombstones(spark, root), bans(spark, root))

  /** The ingestion gate of the ban closure: `df` without the rows whose
    * `on` columns name a banned id.
    */
  private[graft] def gate(spark: SparkSession, root: String, df: DataFrame,
                          on: String*): DataFrame =
    Masks(None, bans(spark, root)).scrub(df, on: _*)

  /** The compaction template, under the family lock:
    *   1. list the log, then resolve the generation it folds into;
    *   2. read tombstones and bans once;
    *   3. with nothing pending, stop there ([[DeltaLog.unlessIdle]]);
    *   4. commit `write(log, masks, staging)` plus the cumulative
    *      `_folded.json` ledger as the next generation;
    *   5. delete the consumed dirs ([[DeltaLog.cleanup]]);
    *   6. reset the tombstone log.
    * The order is the crash-safety argument: a crash before 4 leaves
    * the old generation serving, between 4 and 5 leaves dirs the
    * ledger already names, between 5 and 6 leaves tombstones that mask
    * rows already gone. Returns the serving generation after the call.
    */
  private[graft] def compactWith(spark: SparkSession, root: String)
      (write: (DeltaLog.Snapshot, Masks, String) => Unit): String =
    synchronized {
      val listed = deltas(root)
      val log = new DeltaLog.Snapshot(head(root), listed)
      val masks = this.masks(spark, root)
      DeltaLog.unlessIdle(root, log, masks.tombstones, masks.bans) {
        val path = VersionedDirs.commit(root) { st =>
          write(log, masks, st)
          DeltaLog.writeLedger(st, DeltaLog.Folded, log.consumed)
        }
        // the one delete of consumed dirs after a compaction: a reader
        // that listed them before the commit can still be reading
        // (see [[DeltaLog]]'s read-order note)
        DeltaLog.cleanup(root, log.listed)
        Tombstones.reset(root)
        path
      }
    }
}

/** The tombstone and ban sets one read or rewrite honors, read once. */
private[graft] final case class Masks(tombstones: Option[DataFrame],
                                      bans: Option[DataFrame]) {

  /** `df` minus every row whose `on` columns (default `index_id`) name
    * a tombstoned or banned id: tombstones first, each set anti-joined
    * on each column in turn. No broadcast hint — a mass purge can be
    * arbitrarily large, so the strategy is left to AQE.
    */
  def scrub(df: DataFrame, on: String*): DataFrame = {
    val cols = if (on.isEmpty) Seq("index_id") else on
    (tombstones ++ bans).foldLeft(df) { (acc, ids) =>
      cols.foldLeft(acc) { (d, c) =>
        d.join(if (c == "index_id") ids else ids.select(col("index_id").as(c)),
          Seq(c), "left_anti")
      }
    }
  }
}

private[graft] object Masks {
  /** No mask: the pinned reads serve a generation exactly as committed. */
  val none: Masks = Masks(None, None)
}
