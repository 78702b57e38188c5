package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.FlatFileEngine

/** `social_oltp`: the paper's own workload. FlatFileEngine in changelog
  * mode over generated users/posts/engagements CSVs, driven by a seeded
  * Zipf-skewed op mix: getAllUserComments, getAllEngagementsByLocation,
  * updatePostViews, addEngagementRecords batches and updateUserName.
  *
  * Every result is checked against an in-memory model of the reference
  * semantics (clamp at zero, FK violations dropped, cascading rename),
  * and the end state of all three tables against the model's.
  */
final class SocialWorkload(spark: SparkSession, work: String, seed: Long)
    extends Workload {
  private val fixtures = new File(work, "social")
  private var dir: File = _
  private var engine: FlatFileEngine = _
  private val rnd = new java.util.Random(seed ^ 0x50C1A1L)

  // the model: id -> (username, location); id -> (content, username, views)
  private val users = mutable.Map[Int, (String, String)]()
  private val posts = mutable.Map[Int, (String, String, Int)]()
  private val engs = mutable.ArrayBuffer[(Int, Int, String, String, String, Int)]()
  private var nextEngId = 0
  private var renames = 0
  // the skew of perfbench/gen.py's ZIPF_A
  private lazy val userZipf = new Util.Zipf(users.size, 0.99, rnd)
  private lazy val postZipf = new Util.Zipf(posts.size, 0.99, rnd)
  private lazy val locations = users.values.map(_._2).toSeq.distinct.sorted

  // per-layer counters
  private var compactions = 0L
  private var pendingMax = 0L

  private def readCsv(name: String): Seq[Array[String]] = {
    val src = scala.io.Source.fromFile(new File(fixtures, name), "UTF-8")
    try src.getLines().drop(1).map(_.split(",", -1)).toVector finally src.close()
  }

  def setup(): Unit = {
    dir = new File(work, "engine")
    dir.mkdirs()
    for (t <- Seq("users", "posts", "engagements"))
      java.nio.file.Files.copy(new File(fixtures, s"$t.csv").toPath,
        new File(dir, s"$t.csv").toPath)
    readCsv("users.csv").foreach(a => users(a(0).toInt) = (a(1), a(2)))
    readCsv("posts.csv").foreach(a => posts(a(0).toInt) = (a(1), a(2), a(3).toInt))
    readCsv("engagements.csv").foreach(a =>
      engs += ((a(0).toInt, a(1).toInt, a(2), a(3), a(4), a(5).toInt)))
    nextEngId = engs.map(_._1).max + 1
    engine = new FlatFileEngine(spark, dir.getAbsolutePath, changelogWrites = true)
  }

  /** Every op kind once; compactions and pending deltas count from the
    * measured phase on. */
  def warmUp(): Unit = {
    Seq(comments _, byLocation _, views _, engagements _, rename _).foreach(mk => warm(mk()))
    compactions = 0
    pendingMax = 0
  }

  /** The op mix comes in blocks of 50 ops in a seeded order — 25 comment
    * reads, 10 by-location reads, 10 view updates, 4 engagement batches
    * and 1 rename (50/20/20/8/2%). A pass is one block. */
  private val Block = Vector.fill(25)(0) ++ Vector.fill(10)(1) ++ Vector.fill(10)(2) ++
    Vector.fill(4)(3) ++ Vector(4)
  private var block = Vector.empty[Int]

  def next(): Op = {
    if (block.isEmpty) block = scala.util.Random.javaRandomToRandom(rnd).shuffle(Block)
    val k = block.head
    block = block.tail
    k match {
      case 0 => comments()
      case 1 => byLocation()
      case 2 => views()
      case 3 => engagements()
      case _ => rename()
    }
  }

  override def atBoundary: Boolean = block.isEmpty

  private def userId(): Int = userZipf.next() + 1
  private def postId(): Int = postZipf.next() + 1

  private def timed[T](name: String)(body: => T): T = Trace.span(s"flatfile.$name")(body)

  private def validEngagements = {
    val livePosts = posts.keySet
    val liveNames = users.values.map(_._1).toSet
    engs.iterator.filter(e => livePosts(e._2) && liveNames(e._3) &&
      liveNames(posts(e._2)._2))
  }

  private def comments(): Op = {
    val id = userId()
    Op("getAllUserComments", "read", 0L, () => {
      val rows = timed("user_comments")(engine.getAllUserComments(id).collect())
      () => {
        val got = rows.map(r => (r.get(0).toString.toInt, r.getString(1))).toSeq
        val name = users(id)._1
        val want = validEngagements.filter(e => e._3 == name && e._4 == "comment")
          .map(e => (e._2, e._5)).toSeq.sorted
        got == want
      }
    })
  }

  private def byLocation(): Op = {
    val loc = locations(rnd.nextInt(locations.size))
    Op("getAllEngagementsByLocation", "read", 0L, () => {
      val r = timed("by_location")(engine.getAllEngagementsByLocation(loc).collect())
      () => {
        val names = users.values.filter(_._2 == loc).map(_._1).toSet
        val mine = validEngagements.filter(e => names(e._3)).toSeq
        val want = (mine.count(_._4 == "like").toLong, mine.count(_._4 == "comment").toLong)
        r.length == 1 && (num(r.head, 0), num(r.head, 1)) == want
      }
    })
  }

  private def num(r: Row, i: Int): Long = if (r.isNullAt(i)) 0L else r.get(i).toString.toLong

  private def views(): Op = {
    // one update in 50 names a post that does not exist
    val id = if (rnd.nextInt(50) == 0) posts.size + 1 + rnd.nextInt(1000) else postId()
    val delta = rnd.nextInt(601) - 300
    Op("updatePostViews", "write", 1L, () => {
      val got = timed("update_views")(engine.updatePostViews(id, delta))
      () => {
        val want = posts.get(id) match {
          case Some((c, u, v)) => posts(id) = (c, u, math.max(0, v + delta)); true
          case None => false
        }
        observeDeltas()
        got == want
      }
    })
  }

  private def engagements(): Op = {
    val n = 20
    val batch = (0 until n).map { i =>
      val eid = nextEngId + i
      // one row in ten names a missing post and one in ten a missing
      // user; both must be dropped
      val bad = rnd.nextInt(10)
      val pid = if (bad == 0) posts.size + 5000 + rnd.nextInt(100) else postId()
      val uname = if (bad == 1) s"ghost_${rnd.nextInt(1000)}" else users(userId())._1
      val like = rnd.nextBoolean()
      (eid, pid, uname, if (like) "like" else "comment",
        if (like) "None" else s"re ${rnd.nextInt(1000)}", 500000 + eid)
    }
    nextEngId += n
    val df = spark.createDataFrame(
      java.util.List.of(batch.map(b => Row(b._1, b._2, b._3, b._4, b._5, b._6)): _*),
      FlatFileEngine.engagementSchema)
    Op("addEngagementRecords", "write", n.toLong, () => {
      timed("add_engagements")(engine.addEngagementRecords(df))
      () => {
        val liveNames = users.values.map(_._1).toSet
        engs ++= batch.filter(b => posts.contains(b._2) && liveNames(b._3))
        true
      }
    })
  }

  private def rename(): Op = {
    val id = userId()
    renames += 1
    val fresh = s"renamed${seed}_${renames}_$id"
    Op("updateUserName", "write", 1L, () => {
      val got = timed("rename_user")(engine.updateUserName(id, fresh))
      () => {
        val (old, loc) = users(id)
        users(id) = (fresh, loc)
        posts.mapValuesInPlace { case (_, (c, u, v)) => (c, if (u == old) fresh else u, v) }
        for (i <- engs.indices if engs(i)._3 == old) engs(i) = engs(i).copy(_3 = fresh)
        observeDeltas()
        got
      }
    })
  }

  /** Committed posts deltas pending, and compactions seen (the base
    * version of posts moved). */
  private var lastBase = ""
  private def observeDeltas(): Unit = {
    val names = Option(dir.list()).getOrElse(Array.empty[String])
    val bases = names.filter(n => n.matches("posts\\.csv\\.v\\d+") &&
      new File(dir, s"$n/_SUCCESS").exists())
    val base = bases.sortBy(_.drop(11).toLong).lastOption.getOrElse("")
    if (base != lastBase && lastBase.nonEmpty) compactions += 1
    lastBase = base
    val pending = names.count(n => base.nonEmpty && n.startsWith(base + ".d") &&
      new File(dir, s"$n/_SUCCESS").exists())
    pendingMax = math.max(pendingMax, pending.toLong)
  }

  def finish(): Int = {
    def strs(rows: Array[Row]) = rows.map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq
    def cols(df: org.apache.spark.sql.DataFrame, names: String*) =
      df.select(names.map(org.apache.spark.sql.functions.col): _*).collect()
    val gotUsers = strs(cols(engine.users, "id", "username", "location"))
    val wantUsers = users.toSeq.map { case (i, (u, l)) => s"$i|$u|$l" }.sorted
    val gotPosts = strs(cols(engine.posts, "id", "content", "username", "views"))
    val liveNames = users.values.map(_._1).toSet
    val wantPosts = posts.toSeq.filter(p => liveNames(p._2._2))
      .map { case (i, (c, u, v)) => s"$i|$c|$u|$v" }.sorted
    val gotEngs = strs(cols(engine.engagements, "id", "postId", "username", "type",
      "comment", "timestamp"))
    val wantEngs = validEngagements.map(e => Seq(e._1, e._2, e._3, e._4, e._5, e._6).mkString("|"))
      .toSeq.sorted
    val pairs = Seq(("users", gotUsers, wantUsers), ("posts", gotPosts, wantPosts),
      ("engagements", gotEngs, wantEngs))
    pairs.foreach { case (t, g, w) =>
      if (g != w) mismatches += s"$t: ${g.size} rows vs model ${w.size}; " +
        s"only engine ${g.diff(w).take(2).mkString(" / ")}; only model ${w.diff(g).take(2).mkString(" / ")}"
    }
    pairs.count(p => p._2 != p._3)
  }

  private val mismatches = mutable.ArrayBuffer[String]()

  override def report: Map[String, String] =
    Map("end_state" -> mismatches.map(Util.jstr).mkString("[", ",", "]"))

  def roots: Seq[File] = Seq(dir)
  def inputBytes: Long = Util.bytesUnder(fixtures)

  override def layerMetrics: Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    for (k <- Seq("user_comments", "by_location", "update_views", "add_engagements", "rename_user")) {
      m(s"flatfile.${k}_s") = Trace.meanSeconds(s"flatfile.$k")
    }
    m("flatfile.compactions") = compactions.toDouble
    m("flatfile.deltas_pending_max") = pendingMax.toDouble
    m("flatfile.bytes") = Util.bytesUnder(dir).toDouble
    m.toMap
  }
}
