package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** The engine's read path holds one materialized frame per table, keyed
  * by the table's committed identity (base path, committed delta chain,
  * base leaf files). These tests pin what that key is for: a writer in
  * another engine instance (the cross-process case) is seen on the next
  * read, the engine holds exactly one frame per table and registers
  * nothing with Spark's CacheManager, and a frame whose checkpoint
  * blocks were dropped is rebuilt rather than failing its scan.
  */
class HeldFramesSpec extends SparkSpec {
  import spark.implicits._

  /** Engagements start as a fixture DIRECTORY, so an append adds a part
    * file to the very base the held frame was keyed on. */
  private def freshDir(): String = {
    val d = Files.createTempDirectory("graft-frames").toString
    Files.writeString(Paths.get(d, "users.csv"),
      "id,username,location\n1,alice,Austin\n2,bob,Austin\n3,carol,Boston\n")
    Files.writeString(Paths.get(d, "posts.csv"),
      "id,content,username,views\n19,Sunset,alice,99\n20,Coffee,bob,10\n")
    Files.createDirectory(Paths.get(d, "engagements.csv"))
    Files.writeString(Paths.get(d, "engagements.csv", "part-00000.csv"),
      "id,postId,username,type,comment,timestamp\n" +
        "1,19,bob,like,None,100\n2,20,alice,comment,Nice,101\n")
    d
  }

  private def batch(ids: Int*): DataFrame =
    ids.map(i => (i, 19, "carol", "comment", s"c$i", 100 + i))
      .toDF("id", "postId", "username", "type", "comment", "timestamp")

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  private def tables(e: FlatFileEngine) =
    (rows(e.users), rows(e.posts), rows(e.engagements))

  test("another engine's writes reach a held frame on the next read") {
    val dir = freshDir()
    val a = new FlatFileEngine(spark, dir)
    val b = new FlatFileEngine(spark, dir, changelogWrites = true)
    tables(a)
    assert(a.heldFrames == 3)
    def fresh = tables(new FlatFileEngine(spark, dir))
    def views(id: Int) =
      a.posts.filter($"id" === id).select("views").as[Int].head()

    assert(b.updatePostViews(19, +1)) // d1
    assert(tables(a) == fresh)
    assert(views(19) == 100)
    assert(b.updatePostViews(20, +2)) // d2
    assert(b.updatePostViews(19, +3)) // d3
    assert(tables(a) == fresh)
    assert(b.updatePostViews(20, +4)) // d4 → compaction into v1
    assert(b.snapshotVersions("posts") == Seq(1L))
    assert(tables(a) == fresh)
    assert(views(19) == 103 && views(20) == 16)

    b.addEngagementRecords(batch(3, 4)) // part files into the base dir
    assert(tables(a) == fresh)
    assert(a.engagements.count() == 4)

    assert(b.updateUserName(1, "alicia"))
    assert(tables(a) == fresh)
    assert(a.posts.filter($"id" === 19).select("username").as[String]
      .head() == "alicia")
  }

  test("mixed writes hold exactly one frame per table and cache nothing") {
    spark.catalog.clearCache()
    val dir = freshDir()
    val e = new FlatFileEngine(spark, dir, changelogWrites = true)
    (1 to 20).foreach { i =>
      i % 4 match {
        case 0 => assert(e.updatePostViews(19, i))
        case 1 => e.addEngagementRecords(batch(100 + i))
        case 2 => assert(e.updateUserName(2, s"bob$i"))
        case _ => assert(e.updatePostViews(20, -i))
      }
      e.getAllUserComments(3).collect()
    }
    val state = tables(e)
    assert(e.heldFrames == 3)
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(state == tables(new FlatFileEngine(spark, dir)))
  }

  test("a read after every checkpoint was unpersisted rebuilds its frame") {
    val dir = freshDir()
    val e = new FlatFileEngine(spark, dir)
    val before = tables(e)
    assert(e.getAllUserComments(1).as[(Int, String)].collect().toSeq ==
      Seq((20, "Nice")))
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(tables(e) == before)
    assert(e.getAllUserComments(1).as[(Int, String)].collect().toSeq ==
      Seq((20, "Nice")))
    assert(e.heldFrames == 3)
  }
}
