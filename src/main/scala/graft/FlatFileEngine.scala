package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.operators.SocialOps
import graft.sources.CsvIngest

/** The reference engine's complete user-facing API
  * (`FlatFile`, buzzdb_lab1.cpp:86-968) as a Spark-native facade over
  * a directory of headered CSV tables. A user of the reference can
  * switch: every public method there has its analog here, with the
  * same semantics — RI-filtered loads, ordered comment retrieval,
  * cohort like/comment counts, clamp-at-zero view updates,
  * FK-validated appends, cascading renames.
  *
  * Storage model: each table is a *versioned* directory of headered
  * CSV parts (`dir/posts.csv.v3/part-*`) — the multi-snapshot form of
  * the reference's tmp-file + rename protocol
  * (buzzdb_lab1.cpp:1032-1059). A writer never touches the live
  * snapshot: it materializes the complete next version and Spark's
  * commit protocol publishes it by writing `_SUCCESS` last; readers
  * resolve the highest version carrying that marker. The previous
  * version is retained through the next commit (then vacuumed), so a
  * lazily-executing reader keeps a complete, immutable snapshot under
  * its feet while a swap happens — snapshot isolation without a
  * single rename race, the property the reference buys with its
  * scoped_lock parse-then-swap (:308-315). A writer killed
  * mid-materialization leaves an uncommitted orphan that readers
  * ignore and the next writer vacuums. Writers within one engine
  * instance are serialized by a lock (the reference's mutexes,
  * buzzdb_lab1.cpp:96-97); writers in separate processes are
  * uncoordinated, the same scope as the reference's process-local
  * mutexes. A plain `posts.csv` fixture (file or dir) is read as the
  * pre-version-0 snapshot, so reference-style fixtures work unchanged.
  *
  * Read path: the reference parses its CSVs once and serves every call
  * from memory (buzzdb_lab1.cpp:92-94); here every table access goes
  * through one resolver that computes the table's committed identity —
  * resolved base path, committed delta chain, and the base's leaf data
  * files (name, length, mtime) — from listings alone, and serves the
  * ONE materialized frame (an eager `localCheckpoint`) the engine holds
  * for that identity. A committed path never changes after its commit,
  * so the frame stays valid until the identity moves: a commit by this
  * or any other process, or an append into the base directory. A miss
  * parses exactly the listed files once. The engine holds one frame per
  * table, for the current identity only; a superseded frame is dropped
  * by reference and freed by Spark's context cleaner once no reader
  * holds it, so a racing reader keeps reading exactly its snapshot.
  * Views ([[snapshot]]) pin frames, not paths. RI filters and the read
  * ops stay lazy compositions over the held frames.
  *
  * **Point-write modes.** The reference rewrites the whole table per
  * point update (buzzdb_lab1.cpp:1032-1059) and the default mode is
  * faithful to that. With `changelogWrites = true`, `updatePostViews`
  * instead APPENDS a one-row delta snapshot (`posts.csv.v3.d1`, same
  * `_SUCCESS` commit discipline as full versions) and reads resolve
  * base ∪ deltas through [[graft.operators.Merge.latestWins]] —
  * merge-on-read, write cost independent of table size. Every
  * `compactAfter` committed deltas the writer folds the merged state
  * into the next full version (compaction), whose commit vacuums the
  * superseded generation and its deltas one generation later — the
  * snapshot-plus-changelog layout every production table format
  * (Delta/Hudi/Iceberg) converges on, built from the same two
  * primitives this engine already owns (versioned `_SUCCESS` publish
  * + latest-wins merge). Visible semantics are IDENTICAL in both
  * modes: per-update clamp-at-zero (each delta stores the resolved
  * row image, never a raw increment — summing increments would clamp
  * only once at read time), false-on-missing, snapshot isolation,
  * crash recovery (an uncommitted delta orphan is invisible and gets
  * superseded) — AcidSpec asserts the matrix in both modes.
  *
  * **Manifest commits.** With `manifestCommits = true` the publish
  * point moves from the per-table `_SUCCESS` marker to a database-
  * level `_manifest.mN` file (one `table,version` line per table)
  * published by a single atomic rename. Version directories become
  * visible only when a manifest references them, so a multi-table
  * write — the reference's `updateUserName` cascade, whose crash
  * window between file rewrites the reference documents and accepts
  * (buzzdb_lab1.cpp:791-930, SURVEY.md §3.3) — can materialize every
  * table's next version first and flip all of them live in one
  * rename: cross-table atomicity the reference never had, built from
  * the same versioned-directory primitive. The previous manifest is
  * retained one generation (the same horizon as table snapshots), so
  * racing readers keep a complete, mutually-consistent set of tables
  * under their feet. ManifestSpec asserts the matrix.
  */
class FlatFileEngine(spark: SparkSession, dir: String,
                     changelogWrites: Boolean = false,
                     compactAfter: Int = 4,
                     manifestCommits: Boolean = false) {

  import FlatFileEngine._

  private def path(table: String) = s"$dir/$table.csv"

  /** Serializes writers within this engine instance — the analog of
    * the reference's per-table mutexes (buzzdb_lab1.cpp:96-97).
    */
  private val writeLock = new Object

  private def fs =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** (version number, path) of every `<table>.csv.vN` directory. */
  private def listVersions(table: String): Seq[(Long, Path)] = {
    val base = new Path(dir)
    val prefix = s"$table.csv.v"
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix) && name.drop(prefix.length).forall(_.isDigit)
          && name.length > prefix.length)
        Some((name.drop(prefix.length).toLong, st.getPath))
      else None
    }
  }

  /** A version is visible once Spark's commit protocol has written its
    * `_SUCCESS` marker (the job-level commit, written last).
    */
  private def committed(p: Path): Boolean = fs.exists(new Path(p, "_SUCCESS"))

  // --------------------------------------------------- manifest commits

  /** (seq, path) of every published `_manifest.mN` file. A manifest is
    * a single file (one `table,version` line per table) published by
    * an atomic rename, so it either exists completely or not at all —
    * there is no torn-manifest state for the `_SUCCESS` rule to guard.
    */
  private def listManifests: Seq[(Long, Path)] = {
    val base = new Path(dir)
    val prefix = "_manifest.m"
    if (!fs.exists(base)) Nil
    else fs.listStatus(base).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix) && name.length > prefix.length &&
          name.drop(prefix.length).forall(_.isDigit))
        Some((name.drop(prefix.length).toLong, st.getPath))
      else None
    }
  }

  private def readManifest(p: Path): Map[String, Long] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in).getLines()
      .filter(_.nonEmpty).map { line =>
        val Array(t, v) = line.split(',')
        t -> v.toLong
      }.toMap
    finally in.close()
  }

  /** The current database snapshot: the highest manifest's
    * table→version map (empty before the first manifest commit).
    */
  private def currentManifest: Map[String, Long] =
    listManifests.sortBy(-_._1).headOption
      .map(m => readManifest(m._2)).getOrElse(Map.empty)

  /** Publish a new database snapshot: write the complete map to a tmp
    * file, then a single atomic rename to `_manifest.m{N+1}` — the one
    * instant at which every table version in the map becomes visible
    * together. A crash before the rename leaves only ignored tmp/orphan
    * files; there is no state in which a reader can observe some of the
    * map's tables updated and others not.
    */
  private def publishManifest(versions: Map[String, Long]): Unit = {
    val next = listManifests.map(_._1).maxOption.getOrElse(0L) + 1L
    val tmp = new Path(dir, s"_manifest.tmp$next")
    val out = fs.create(tmp, true)
    try out.write(versions.toSeq.sorted.map { case (t, v) => s"$t,$v" }
      .mkString("\n").getBytes("UTF-8"))
    finally out.close()
    if (!fs.rename(tmp, new Path(dir, s"_manifest.m$next")))
      throw new java.io.IOException(s"manifest publish failed: m$next")
    // retain the previous manifest for one generation (same horizon as
    // table snapshots), vacuum older ones and any abandoned tmp files
    listManifests.sortBy(-_._1).drop(2).foreach(m => fs.delete(m._2, false))
    fs.listStatus(new Path(dir)).foreach { st =>
      val n = st.getPath.getName
      if (n.startsWith("_manifest.tmp") && n != tmp.getName)
        fs.delete(st.getPath, false)
    }
  }

  /** Read-side snapshot resolution. Manifest mode: exactly the version
    * the current manifest names (a materialized-but-unreferenced dir —
    * a writer that crashed after its table write but before its
    * manifest publish — is invisible even though Spark marked it
    * `_SUCCESS`, because the manifest reference IS the publish).
    * Tables not yet committed through a manifest, and all tables in
    * the default mode, resolve to the highest `_SUCCESS`-committed
    * version, falling back to the bare fixture path. Never mutates the
    * filesystem, so racing readers are safe by construction.
    */
  private def tablePath(table: String): String =
    resolvePath(table, liveManifest)

  /** The manifest reads resolve against: the current one in manifest
    * mode, none (pure `_SUCCESS` resolution) in the default mode. */
  private def liveManifest: Map[String, Long] =
    if (manifestCommits) currentManifest else Map.empty

  /** Resolve `table` against a given manifest map (the manifest entry
    * wins — version 0 names the bare fixture; `_SUCCESS` resolution is
    * the fallback for unmapped tables and the default mode).
    */
  private def resolvePath(table: String, manifest: Map[String, Long]): String =
    manifest.get(table).map(v =>
      if (v == 0L) path(table) else path(table) + ".v" + v).getOrElse {
      listVersions(table).filter(v => committed(v._2))
        .sortBy(-_._1).headOption
        .map(_._2.toString).getOrElse(path(table))
    }

  /** The version number `table` currently resolves to (0 = the bare
    * fixture). Used to pin untouched tables into a complete manifest.
    */
  private def pinnedVersion(table: String): Long = {
    val name = new Path(tablePath(table)).getName
    val prefix = s"$table.csv.v"
    if (name.startsWith(prefix)) name.drop(prefix.length).toLong else 0L
  }

  /** First manifest-mode write to this directory: publish a genesis
    * manifest pinning every table at its CURRENT resolution *before*
    * anything is materialized. From that point readers resolve through
    * manifests only, so a version directory a writer is still
    * materializing — `_SUCCESS` or not — can never leak into a read:
    * without this, a reader racing the FIRST cascade would fall back
    * to `_SUCCESS` resolution and could see the tables it has written
    * so far mixed with fixtures for the rest.
    */
  private def ensureGenesis(): Unit =
    if (listManifests.isEmpty)
      publishManifest(
        Seq("users", "posts", "engagements")
          .map(t => t -> pinnedVersion(t)).toMap)

  /** A read view whose three tables all resolved through ONE manifest
    * read — the cross-table analog of the per-table snapshot a racing
    * reader already gets. In manifest mode no commit that lands after
    * this call can make the view observe half a cascade. In the
    * default mode resolution is per-table (there is nothing database-
    * level to pin), matching the engine's documented scope there.
    */
  def snapshot(): FlatFileEngine.SnapshotView = {
    val m = liveManifest
    // the view pins the three materialized frames themselves: a later
    // delta, compaction, vacuum or an append of part files into a
    // pinned base directory cannot reach rows that are already in memory
    new FlatFileEngine.SnapshotView(
      Seq("users", "posts", "engagements").map(t => t -> resolve(t, m)).toMap)
  }

  // ------------------------------------------------------- changelog deltas

  /** (seq, path) of every delta dir riding on the CURRENT base
    * snapshot: `<base>.dM` (e.g. `posts.csv.v3.d1`). The version
    * lister's all-digits check keeps delta names out of the version
    * namespace and vice versa.
    */
  private def listDeltas(table: String,
                         basePath: String = null): Seq[(Long, Path)] = {
    val base = if (basePath == null) tablePath(table) else basePath
    val prefix = s"${new Path(base).getName}.d"
    val root = new Path(dir)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.flatMap { st =>
      val name = st.getPath.getName
      if (name.startsWith(prefix) && name.length > prefix.length &&
          name.drop(prefix.length).forall(_.isDigit))
        Some((name.drop(prefix.length).toLong, st.getPath))
      else None
    }
  }

  // ------------------------------------------------------------ read path

  /** The current committed state of `table`, served from the one frame
    * the engine holds for it (see "Read path" in the class doc). Every
    * table access — the loads, each write's read of the table it
    * rewrites, [[snapshot]] — goes through here.
    */
  private def currentTable(table: String): DataFrame =
    resolve(table, liveManifest)

  /** table → (identity, frame, id of the frame's checkpointed RDD). */
  private val held = scala.collection.mutable.Map[String, (Identity, DataFrame, Int)]()

  private[graft] def heldFrames: Int = held.synchronized(held.size)

  private def resolve(table: String, manifest: Map[String, Long]): DataFrame = {
    val id = identity(table, manifest)
    held.synchronized {
      held.get(table) match {
        // an unpersisted checkpoint (a caller draining every persistent
        // RDD between runs) would fail on its first scan: rebuild
        case Some((i, frame, rdd)) if i == id &&
          spark.sparkContext.getPersistentRDDs.contains(rdd) => frame
        case _ =>
          val frame = load(table, id)
          val rdd = frame.queryExecution.logical.collectFirst {
            case r: LogicalRDD => r.rdd.id
          }.get
          held(table) = (id, frame, rdd)
          frame
      }
    }
  }

  /** What `table` resolves to, from listings alone. The leaf files are
    * part of the key because appends add part files to the base
    * directory in place; Spark's hidden-file rule (`_`/`.` prefixes)
    * keeps `_SUCCESS`, checksums and in-flight `_temporary` dirs out.
    */
  private def identity(table: String, manifest: Map[String, Long]): Identity = {
    val base = resolvePath(table, manifest)
    val deltas = listDeltas(table, base).filter(d => committed(d._2))
      .sortBy(_._1).map { case (m, p) => (m, p.toString) }
    val files = fs.listStatus(new Path(base)).toSeq.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
    Identity(base, deltas, files.sortBy(_._1))
  }

  /** Merge-on-read over exactly the identity's files: the base with
    * every COMMITTED delta applied, the highest-sequence row image per
    * id winning ([[graft.operators.Merge.latestWins]] — one key
    * shuffle, no join); an uncommitted delta (crashed writer) is
    * invisible, the same `_SUCCESS` rule as full versions. Parsed once
    * and materialized, so the frame reads no file after this returns.
    */
  private def load(table: String, id: Identity): DataFrame = {
    val schema = schemaOf(table)
    val base = CsvIngest.readFlatFile(spark, id.files.map(_._1), schema)
    val merged =
      if (id.deltas.isEmpty) base
      else {
        val all = id.deltas.foldLeft(base.withColumn("_seq", lit(0L))) {
          case (acc, (m, p)) =>
            acc.unionByName(CsvIngest.readFlatFile(spark, Seq(p), schema)
              .withColumn("_seq", lit(m)))
        }
        graft.operators.Merge.latestWins(all, Seq("id"), Seq("_seq"))
          .drop("_seq")
      }
    merged.localCheckpoint(eager = true, StorageLevel.MEMORY_AND_DISK)
  }

  // ------------------------------------------------------------------ loads

  /** `loadFlatFile` (buzzdb_lab1.cpp:126-316): typed, trimmed,
    * malformed-row-dropping reads plus the dual semi-join RI filter.
    * Parallelism note: the reference's `loadMultipleFlatFilesInParallel`
    * exists only to read 3 files on 3 threads; Spark scans are
    * split-parallel natively, so the serial/parallel distinction
    * dissolves (SURVEY.md §2.1 S2).
    */
  def users: DataFrame = currentTable("users")

  def posts: DataFrame = riPosts(currentTable("posts"), users)

  def engagements: DataFrame =
    riEngagements(currentTable("engagements"), posts, users)

  // ----------------------------------------------------------------- reads

  /** `getAllUserComments` (buzzdb_lab1.cpp:682-716): (postId, comment)
    * for one user, ordered by (postId, comment) — ties included,
    * matching the reference's lexicographic tie-break.
    */
  def getAllUserComments(userId: Int): DataFrame =
    SocialOps.userActivity(
      engagements, users, col("id") === userId, lit("comment"),
      "username", "username", "type",
      Seq("postId", "comment"), Seq("postId", "comment"))

  /** `getAllEngagementsByLocation` (buzzdb_lab1.cpp:729-763): one-row
    * (likes, comments) count pair for a location's users.
    */
  def getAllEngagementsByLocation(location: String): DataFrame =
    SocialOps.activityByCohort(
      engagements, users, col("location") === location,
      "username", "username", "type",
      Seq("like" -> "likes", "comment" -> "comments"))

  /** RI sweep (`check_no_dangling_post_ids`, buzzdb_lab1.cpp:1063-1070). */
  def danglingEngagements: DataFrame =
    SocialOps.dangling(currentTable("engagements"),
      "postId", posts.select(col("id")), "id")

  // ----------------------------------------------------------- time travel

  /** Committed snapshot versions of a table, ascending. Depth is
    * bounded by the vacuum horizon: the current generation plus the
    * one it replaced (see [[swapIn]]) — the single-table form of a
    * table format's retention window. In manifest mode "committed"
    * means "referenced by a retained manifest" (an unreferenced
    * `_SUCCESS` orphan from a crashed writer is not a version), with
    * the `_SUCCESS` rule as fallback for tables that predate the
    * first manifest.
    */
  def snapshotVersions(table: String): Seq[Long] = {
    val viaManifests =
      if (!manifestCommits) Nil
      else listManifests.map(m => readManifest(m._2))
        .flatMap(_.get(table)).filter(_ > 0L).distinct.sorted
    if (viaManifests.nonEmpty) viaManifests
    else listVersions(table).filter(v => committed(v._2)).map(_._1).sorted
  }

  /** Time-travel read of one committed snapshot version (raw rows —
    * RI filtering is a load-time semantic of the *current* tables, not
    * of a historical snapshot).
    */
  def tableAt(table: String, version: Long): DataFrame = {
    require(snapshotVersions(table).contains(version),
      s"$table has no committed version $version " +
        s"(retained: ${snapshotVersions(table).mkString(", ")})")
    CsvIngest.readFlatFile(spark, Seq(path(table) + ".v" + version),
      schemaOf(table))
  }

  private def schemaOf(table: String): StructType = table match {
    case "users"       => userSchema
    case "posts"       => postSchema
    case "engagements" => engagementSchema
    case other => throw new IllegalArgumentException(s"unknown table $other")
  }

  // ---------------------------------------------------------------- writes

  /** `updatePostViews` (buzzdb_lab1.cpp:603-631): clamp-at-zero delta
    * on one post. Returns false (no write) when the id is absent,
    * like the reference. Rewrite mode persists via write-new + atomic
    * swap (faithful to the reference's O(table) rewrite,
    * buzzdb_lab1.cpp:1032-1059); changelog mode appends a one-row
    * RESOLVED row image as a committed delta — write cost independent
    * of table size — and compacts every `compactAfter` deltas. Both
    * modes read through the merge-on-read view, so they compose
    * freely on one table.
    */
  def updatePostViews(postId: Int, delta: Int): Boolean =
    writeLock.synchronized {
      val current = currentTable("posts")
      val hit = current.filter(col("id") === postId).collect()
      if (hit.isEmpty) false
      else if (!changelogWrites) {
        val updated = current.withColumn("views",
          when(col("id") === postId,
            greatest(lit(0), col("views") + delta)).otherwise(col("views")))
        swapIn(updated, "posts")
        true
      } else {
        // the delta stores the resolved, per-update-clamped row image
        // (NOT a raw increment: summing increments would clamp once at
        // read time — "views 2, -10, +3" must end at 3, not 0)
        val r = hit.head
        val one = spark.createDataFrame(
          java.util.List.of(org.apache.spark.sql.Row(
            r.getAs[Int]("id"), r.getAs[String]("content"),
            r.getAs[String]("username"),
            math.max(0, r.getAs[Int]("views") + delta))),
          postSchema)
        // next sequence past EVERY delta dir, committed or orphaned —
        // never overwrite a dir a concurrent/killed writer may own
        val m = listDeltas("posts").map(_._1).maxOption.getOrElse(0L) + 1L
        val target = new Path(dir,
          s"${new Path(tablePath("posts")).getName}.d$m")
        one.coalesce(1).write.mode(SaveMode.Overwrite)
          .option("header", true).csv(target.toString)
        if (listDeltas("posts").count(d => committed(d._2)) >= compactAfter)
          swapIn(currentTable("posts"), "posts")
        true
      }
    }

  /** `addEngagementRecord` batch form (buzzdb_lab1.cpp:639-673):
    * FK-validate fresh rows (silently dropping violations, as the
    * reference does) and append — appends add new part files, no
    * rewrite of existing data.
    */
  def addEngagementRecords(fresh: DataFrame): Unit = writeLock.synchronized {
    // appends add part files to the current snapshot *directory*
    // (per-file commit is atomic, and Spark readers ignore the
    // in-flight `_temporary` dir); a fixture that starts as a single
    // CSV file is first converted to a version directory
    val cur = new Path(tablePath("engagements"))
    if (fs.exists(cur) && fs.getFileStatus(cur).isFile)
      swapIn(currentTable("engagements"), "engagements")
    val valid = riEngagements(fresh, posts, users)
    // semi-joins move the key column first; restore schema order so
    // every part file in the table directory has the same header
    valid.select(engagementSchema.fields.map(f => col(f.name)).toSeq: _*)
      .write.mode(SaveMode.Append)
      .option("header", true).csv(tablePath("engagements"))
  }

  /** `updateUserName` (buzzdb_lab1.cpp:775-963): cascading rename
    * across all three tables. Per-table swaps are always atomic. In
    * the default mode, cross-table atomicity is out of scope exactly
    * as in the reference (a crash between file rewrites leaves the
    * same inconsistency window, SURVEY.md §3.3). With
    * `manifestCommits = true` the window is closed: all three next
    * versions are materialized first — invisible, whatever their
    * `_SUCCESS` state — and ONE manifest rename publishes them
    * together, so readers see either the whole cascade or none of it.
    * Returns false if the id is absent, true (no-op) if the name is
    * unchanged.
    */
  def updateUserName(userId: Int, newName: String): Boolean =
    writeLock.synchronized {
    val u = currentTable("users")
    val row = u.filter(col("id") === userId).select("username").collect()
    if (row.isEmpty) return false
    val oldName = row.head.getString(0)
    if (oldName == newName) return true

    val renameCol = (c: String) =>
      when(col(c) === oldName, lit(newName)).otherwise(col(c)).as(c)
    val newUsers = u.withColumn("username",
      when(col("id") === userId, lit(newName)).otherwise(col("username")))
    if (!manifestCommits) {
      swapIn(newUsers, "users")
      val p = currentTable("posts")
      swapIn(p.select(col("id"), col("content"), renameCol("username"),
        col("views")), "posts")
      val e = currentTable("engagements")
      swapIn(e.select(col("id"), col("postId"), renameCol("username"),
        col("type"), col("comment"), col("timestamp")), "engagements")
    } else {
      // build every frame against the CURRENT snapshot, materialize
      // all three (still invisible), then publish one manifest
      ensureGenesis()
      val newPosts = currentTable("posts").select(col("id"),
        col("content"), renameCol("username"), col("views"))
      val newEng = currentTable("engagements").select(col("id"),
        col("postId"), renameCol("username"), col("type"),
        col("comment"), col("timestamp"))
      val tables = Seq("users" -> newUsers, "posts" -> newPosts,
        "engagements" -> newEng)
      val prevNames =
        tables.map { case (t, _) => t -> new Path(tablePath(t)).getName }
      val versions = tables.map { case (t, df) => t -> materialize(df, t) }
      publishManifest(currentManifest ++ versions)
      versions.zip(prevNames).foreach { case ((t, v), (_, prev)) =>
        vacuumTable(t, Set(s"$t.csv.v$v", prev))
      }
    }
    true
    }

  /** Commit a new table snapshot: materialize the complete next
    * version directory (Spark's commit protocol writes `_SUCCESS`
    * last — that marker IS the publish), then vacuum everything except
    * the new version and the one it replaced. Retaining one
    * generation lets a reader that resolved the previous snapshot
    * finish its (lazy) scan while this commit lands; a reader older
    * than one full commit must re-resolve — the documented vacuum
    * horizon. Crash at any point leaves either the old snapshot
    * current (uncommitted orphan ignored by readers, vacuumed by the
    * next writer) or the new one fully committed — there is no
    * in-between state, because nothing that readers resolve is ever
    * renamed or deleted inside the commit.
    */
  private def swapIn(updated: DataFrame, table: String): Unit = {
    if (manifestCommits) ensureGenesis()
    val cur = new Path(tablePath(table)).getName
    val next = materialize(updated, table)
    if (manifestCommits) publishManifest(currentManifest + (table -> next))
    vacuumTable(table, Set(s"$table.csv.v$next", cur))
  }

  /** Write the complete next version directory for `table` and return
    * its version number. In the default mode the `_SUCCESS` marker
    * Spark writes last IS the publish; in manifest mode the directory
    * stays invisible (regardless of `_SUCCESS`) until a manifest
    * references it.
    */
  private def materialize(updated: DataFrame, table: String): Long = {
    val next = listVersions(table).map(_._1).maxOption.getOrElse(0L) + 1L
    updated.write.mode(SaveMode.Overwrite).option("header", true)
      .csv(path(table) + ".v" + next)
    next
  }

  /** Vacuum everything of `table` except the named snapshots (compare
    * by directory NAME: listed paths are scheme-qualified `file:/...`,
    * constructed ones are bare — string-equality on full paths would
    * vacuum the snapshot we mean to keep). Retaining the replaced
    * generation lets a reader that resolved the previous snapshot
    * finish its (lazy) scan while a commit lands; a reader older than
    * one full commit must re-resolve — the documented vacuum horizon.
    * Deltas ride their base snapshot's retention; deltas of vacuumed
    * generations go with them.
    */
  private def vacuumTable(table: String, keep: Set[String]): Unit = {
    listVersions(table).foreach { case (_, v) =>
      if (!keep.contains(v.getName)) fs.delete(v, true)
    }
    val root = new Path(dir)
    if (fs.exists(root)) fs.listStatus(root).foreach { st =>
      val name = st.getPath.getName
      val di = name.lastIndexOf(".d")
      if (name.startsWith(s"$table.csv") && di > 0 &&
          name.length > di + 2 && name.drop(di + 2).forall(_.isDigit) &&
          !keep.contains(name.take(di)))
        fs.delete(st.getPath, true)
    }
    val legacy = new Path(path(table))
    if (!keep.contains(legacy.getName) && fs.exists(legacy))
      fs.delete(legacy, true)
  }
}

object FlatFileEngine {

  /** Read view over the three frames one [[FlatFileEngine.snapshot]]
    * resolved, with the engine's load-time RI semantics applied within
    * the pinned set.
    */
  final class SnapshotView private[graft] (frames: Map[String, DataFrame]) {
    def users: DataFrame = frames("users")
    def posts: DataFrame = riPosts(frames("posts"), users)
    def engagements: DataFrame =
      riEngagements(frames("engagements"), posts, users)
  }

  /** A table's committed identity: resolved base path, committed delta
    * chain (seq, path), and the base's leaf files (path, length, mtime).
    */
  private final case class Identity(base: String, deltas: Seq[(Long, String)],
                                    files: Seq[(String, Long, Long)])

  /** The load-time RI filters: posts by a live author; engagements on
    * a live post by a live user. */
  private def riPosts(posts: DataFrame, users: DataFrame): DataFrame =
    SocialOps.riFilter(posts, "username", users, "username")

  private def riEngagements(e: DataFrame, posts: DataFrame,
                            users: DataFrame): DataFrame =
    SocialOps.riFilter(
      SocialOps.riFilter(e, "postId", posts.select(col("id")), "id"),
      "username", users, "username")

  /** The reference's three fixed schemas (buzzdb_lab1.cpp:39-83). */
  val userSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("username", StringType),
    StructField("location", StringType)))
  val postSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("content", StringType),
    StructField("username", StringType), StructField("views", IntegerType)))
  val engagementSchema: StructType = StructType(Seq(
    StructField("id", IntegerType), StructField("postId", IntegerType),
    StructField("username", StringType), StructField("type", StringType),
    StructField("comment", StringType), StructField("timestamp", IntegerType)))
}
