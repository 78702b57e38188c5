package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Cross-family deletion propagation — the one-call GDPR surface over
  * every persisted derived artifact.
  *
  * A right-to-be-forgotten request never stops at the base table: the
  * doc also lives on in the dedup signature index, its embedding in
  * the LSH and PQ ANN indexes, its postings in the lexical BM25
  * index, and its shingles may OWN first-occurrence rows in the
  * novelty map. Each family already implements the identical
  * tombstone → compact → vacuum lifecycle ([[DedupIndex]],
  * [[SimIndex]], [[PqIndex]], [[FirstSeenIndex]], [[LexIndex]] —
  * judged end-to-end by q246/q258/q262/q271/q281 — plus
  * [[BpeIndex]]'s word-surface rewrite, q296, and [[SketchIndex]]'s
  * exact subtraction, q299); what a compliance
  * caller needs is ONE call that fans a deletion set across all of
  * them and reports the new committed generation per artifact. That
  * is all this is: pure composition over the per-family closures, no
  * new storage semantics — each family keeps its own `synchronized`
  * commit discipline, crash story, and probe-time tombstone masking,
  * so a cascade interrupted between families leaves every artifact
  * either untouched or fully compacted, and the tombstone log (not
  * this orchestrator) is the durable record of intent.
  *
  * Scale: tombstone appends are O(deletes) per family; compactions
  * are each family's own rewrite cost (row-filter over the committed
  * artifact, partition layout preserved) paid at GDPR cadence, never
  * per probe. Vacuum defaults OFF — compaction already removes the
  * purged rows from the SERVING generation; physically dropping the
  * prior generations is the post-grace step once pinned readers
  * drain (each family's `vacuumOld` doc), so callers opt in via
  * `vacuum = true` or a later [[vacuumAll]].
  */
object PurgeCascade {

  /** One artifact registered for propagation: family-tagged closures
    * over its root. `compact` receives the deletion frame (the same
    * one [[purge]] passed to `addTombstones`) and returns the serving
    * generation after the call; unchanged when nothing was pending
    * (an empty deletion set, say) — Targets are STATELESS values, safe to
    * build once and reuse across any number of (including concurrent)
    * cascades; the families' own `synchronized` commits serialize the
    * artifact writes.
    */
  final case class Target(
      family: String,
      root: String,
      addTombstones: (SparkSession, DataFrame) => Unit,
      compact: (SparkSession, DataFrame) => String,
      vacuum: () => Unit,
      addBans: (SparkSession, DataFrame) => Unit = (_, _) => ())

  /** An id-keyed family's Target: tombstones, bans and vacuum from
    * [[MaskedIndexFamily]], `compact` the family's own compaction.
    */
  private def masked(family: String, index: MaskedIndexFamily, root: String,
                     idCol: String)(compact: SparkSession => String): Target =
    Target(family, root,
      (s, ids) => { index.addTombstones(s, ids, idCol, root); () },
      (s, _) => compact(s),
      () => index.vacuumOld(root),
      (s, ids) => { index.addBans(s, ids, idCol, root); () })

  /** A MinHash-band dedup index ([[DedupIndex]]); `idCol` names the
    * deletion frame's id column.
    */
  def dedup(root: String, idCol: String = "doc_id"): Target =
    masked("dedup", DedupIndex, root, idCol)(DedupIndex.compact(_, root))

  /** An LSH ANN index ([[SimIndex]]) — compaction also folds pending
    * delta appends (the family's mergeCompact).
    */
  def sim(root: String, idCol: String = "vec_id"): Target =
    masked("sim", SimIndex, root, idCol)(SimIndex.mergeCompact(_, root))

  /** A PQ/IVFPQ index ([[PqIndex]]); codebooks and coarse centroids
    * stay frozen across the purge (the family invariant).
    */
  def pq(root: String, idCol: String = "vec_id"): Target =
    masked("pq", PqIndex, root, idCol)(PqIndex.mergeCompact(_, root))

  /** A lexical BM25 index ([[LexIndex]]) — compaction also recomputes
    * the collection statistics exactly from the surviving postings
    * (the family's stats burden; see its scaladoc).
    */
  def lex(root: String, idCol: String = "doc_id"): Target =
    masked("lex", LexIndex, root, idCol)(LexIndex.mergeCompact(_, root))

  /** A first-seen novelty map ([[FirstSeenIndex]]). `reassignSrc`
    * (surviving corpus shingles, or any superset covering the
    * affected keys) repairs first-occurrence ownership — without it a
    * shingle whose every holder was purged drops back to novel, the
    * family's conservative default.
    */
  def firstSeen(root: String, idCol: String = "doc_id",
                reassignSrc: Option[DataFrame] = None): Target =
    masked("firstSeen", FirstSeenIndex, root, idCol)(
      FirstSeenIndex.mergeCompact(_, root, reassignSrc))

  /** A persisted adjacency index ([[GraphIndex]]) — the eighth
    * family: the tombstoned ids are NODES, and compaction drops every
    * edge INCIDENT to them (both endpoints — the dst half lives
    * scattered across other nodes' buckets, the family's two-sided
    * deletion burden). `idCol` names the deletion frame's id column.
    */
  def graph(root: String, idCol: String = "node"): Target =
    masked("graph", GraphIndex, root, idCol)(GraphIndex.mergeCompact(_, root))

  /** A persisted tokenizer ([[BpeIndex]]) — the sixth family, whose
    * deletion surface is WORDS, not doc ids: the cascade derives
    * [[uniqueVocabulary]] (tokens existing ONLY in the deleted docs —
    * their rare identifying strings; words shared with any survivor
    * stay) and [[BpeIndex.purgeWords]] drops those memo rows in one
    * atomic rewrite. The family has no tombstone phase (the memo is
    * pure cache, results invariant by construction, and the rewrite
    * IS the delete) — so the registration phase only stages the
    * deletion frame, and a crash before compact loses nothing
    * durable: a cascade re-run re-derives the same word set from the
    * same deletion ids.
    *
    * `corpus` is the doc frame the deletion ids index into — needed
    * because "unique to the deleted docs" is a property of the
    * surviving corpus, not of the artifact. `idCol` names the
    * deletion frame's id column; `corpusIdCol`/`textCol` the corpus
    * frame's. The deletion frame flows through [[purge]] into the
    * compact closure directly (no staging state), so the Target is a
    * plain value — reusable across cascades like every other arm.
    */
  def bpe(root: String, corpus: DataFrame, idCol: String = "doc_id",
          corpusIdCol: String = "doc_id",
          textCol: String = "text"): Target = Target(
    "bpe", root,
    (_, _) => (),
    (s, ids) => BpeIndex.purgeWords(s, uniqueVocabulary(
      corpus, corpusIdCol, textCol, ids, idCol), root),
    () => BpeIndex.vacuumOld(root))

  /** A persisted count-min sketch ([[SketchIndex]]): deletion is the
    * family's exact O(d·w) SUBTRACTION of the deleted docs' own term
    * occurrences (sketch linearity) — like [[bpe]], no tombstone
    * phase, the rewrite is the delete. Subtraction is not idempotent,
    * but a cascade RE-RUN with the same deletion set is still safe:
    * [[SketchIndex.purge]] fingerprints the deletion frame and
    * absorbs a repeat through the generation's `_purged.json` ledger
    * (the idempotence every other arm gets from no-op filters, this
    * arm gets from the tag).
    */
  def sketch(root: String, corpus: DataFrame, idCol: String = "doc_id",
             corpusIdCol: String = "doc_id",
             textCol: String = "text"): Target = {
    import org.apache.spark.sql.functions._
    Target(
      "sketch", root,
      (_, _) => (),
      (s, ids) => {
        val deletedTerms = corpus
          .join(ids.select(col(idCol).as(corpusIdCol)),
            Seq(corpusIdCol), "leftsemi")
          .select(explode(
            graft.functions.TextFunctions.words(col(textCol)))
            .as("term"))
          .filter(length(col("term")) > 0)
        SketchIndex.purge(s, deletedTerms, "term", root)
      },
      () => SketchIndex.vacuumOld(root))
  }

  /** The vocabulary that exists ONLY in the deletion set's docs:
    * words of deleted docs anti-joined against the surviving corpus's
    * words. Shared words are not identifying, and purging them would
    * gut the memo for everyone else — this is the deletion-request →
    * word-set derivation the tokenizer arm of a compliance cascade
    * actually wants. Cost: one pass over the corpus words with the
    * (small) deletion set broadcast — GDPR cadence, never per probe.
    */
  def uniqueVocabulary(corpus: DataFrame, corpusIdCol: String,
                       textCol: String, ids: DataFrame,
                       idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val words = corpus.select(col(corpusIdCol).as("_pid"),
        explode(graft.functions.TextFunctions.words(col(textCol)))
          .as("word"))
      .filter(length(col("word")) > 0)
    val delIds = ids.select(col(idCol).as("_pid"))
    words.join(delIds, Seq("_pid"), "leftsemi")
      .select("word").distinct()
      .join(words.join(delIds, Seq("_pid"), "left_anti")
        .select("word").distinct(), Seq("word"), "left_anti")
  }

  /** One propagated artifact: `newVersion` is the serving generation
    * after the call; unchanged when nothing was pending.
    */
  final case class Report(family: String, root: String, newVersion: String)

  /** Propagate one deletion set to every registered artifact:
    * per target, tombstone append then compaction (then vacuum when
    * opted in). Targets run sequentially in registration order — a
    * failure partway leaves completed targets fully compacted and the
    * rest with at most a pending tombstone set, which their next
    * compaction (or a re-run of this cascade, which is idempotent:
    * re-tombstoning an absent id is a no-op filter) resolves.
    *
    * `ban = true` is the "forget AND stay forgotten" form: the
    * deletion ids also commit to each target's durable [[Bans]] log —
    * so a backfill or the identity's later activity can never
    * re-enter the artifact through any ingestion path (the
    * q318/q320–q324 closure, one call across the fleet). The ban
    * lands BEFORE the compaction: compaction resets the tombstone
    * log, so ban-after-compact would leave a window where NEITHER
    * tombstones nor bans cover the ids — a concurrent streaming batch
    * re-mentioning them in that window would pass the ingestion gate.
    * Ban-first closes it (the ids are continuously covered: tombstone
    * mask until the ban commits, ban gate + mask from then on), and
    * is equally crash-safe: a crash between ban and compact leaves
    * ids banned-but-not-yet-scrubbed, which every read path already
    * masks and the next compaction (or a cascade re-run, idempotent)
    * physically drops. The families without id-keyed state (bpe,
    * sketch) have a no-op ban by construction.
    */
  def purge(spark: SparkSession, ids: DataFrame, targets: Seq[Target],
            vacuum: Boolean = false, ban: Boolean = false): Seq[Report] =
    targets.map { t =>
      t.addTombstones(spark, ids)
      if (ban) t.addBans(spark, ids)
      val v = t.compact(spark, ids)
      if (vacuum) t.vacuum()
      Report(t.family, t.root, v)
    }

  /** The post-grace physical drop across every target (see class
    * doc): retain only each artifact's newest committed generation.
    */
  def vacuumAll(targets: Seq[Target]): Unit = targets.foreach(_.vacuum())
}
