package graft.operators

import java.io.File
import java.nio.file.Files

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** The delta-log format and protocol ([[DeltaLog]]) without a Spark
  * session: the ledger codec, the tagged-append protocol on a
  * hand-written writer, and tag validation at every tagged family
  * entry point. The rejection cases pass `null` frames — validation
  * runs before anything else, so a frame is never touched.
  */
class DeltaLogSpec extends AnyFunSuite {

  private val TagChars =
    ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++ Seq('.', '_', '-')
  private val tagGen: Gen[String] =
    Gen.nonEmptyListOf(Gen.oneOf(TagChars)).map(_.mkString)

  private def sample[A](g: Gen[A], n: Int): Seq[A] =
    Gen.listOfN(n, g).apply(Gen.Parameters.default, Seed(7L)).get

  /** The ledger writer every family carried before the codec existed. */
  private def legacyEncode(names: Seq[String]): String =
    names.sorted.map(n => s""""$n"""").mkString("[", ",", "]")

  private def emptyRoot(): String =
    Files.createTempDirectory("deltalog").toString

  test("random valid tag sets round-trip through the ledger codec") {
    sample(Gen.listOf(tagGen), 300).foreach { tags =>
      val names = tags.map(t => s"batch-$t")
      assert(DeltaLog.decode(DeltaLog.encode(names)) == names.toSet)
    }
  }

  test("the codec writes the bytes the families wrote before it") {
    assert(DeltaLog.encode(Nil) == "[]")
    assert(DeltaLog.encode(Seq("batch-b", "batch-a")) ==
      """["batch-a","batch-b"]""")
    sample(Gen.listOf(tagGen).map(_.distinct), 300).foreach { tags =>
      val names = tags.map(t => s"batch-$t")
      assert(DeltaLog.encode(names) == legacyEncode(names))
    }
    val gen = emptyRoot()
    DeltaLog.writeLedger(gen, DeltaLog.Folded, Seq("batch-y", "batch-x"))
    assert(Files.readString(new File(gen, "_folded.json").toPath) ==
      """["batch-x","batch-y"]""")
    assert(DeltaLog.ledger(gen) == Set("batch-x", "batch-y"))
  }

  test("an absent ledger reads as empty") {
    val gen = emptyRoot()
    assert(DeltaLog.ledger(gen).isEmpty)
    assert(DeltaLog.ledger(gen, DeltaLog.Purged).isEmpty)
  }

  test("an empty ledger write leaves no file and reads back empty") {
    val gen = emptyRoot()
    DeltaLog.writeLedger(gen, DeltaLog.Folded, Nil)
    DeltaLog.writeLedger(gen, DeltaLog.Purged, Set.empty[String])
    assert(new File(gen).list().isEmpty,
      s"wrote ${new File(gen).list().mkString(",")}")
    assert(DeltaLog.ledger(gen).isEmpty)
    assert(DeltaLog.ledger(gen, DeltaLog.Purged).isEmpty)
  }

  test("a name that would forge ledger entries is refused by the codec") {
    intercept[IllegalArgumentException] {
      DeltaLog.encode(Seq("""batch-x","batch-y"""))
    }
  }

  test("append commits, absorbs live and folded tags, and drops a failed or empty stage") {
    val root = emptyRoot()
    val gen = new File(root, "index.v1"); gen.mkdirs()
    def marker(st: File): Boolean = {
      st.mkdirs(); new File(st, "_SUCCESS").createNewFile()
    }
    val a = DeltaLog.append(root, gen.getPath, "a")(marker)
    assert(a == new File(DeltaLog.dir(root), "batch-a").getAbsolutePath)
    assert(DeltaLog.committed(root) == Seq(a))
    // live redelivery: absorbed, writer never called
    assert(DeltaLog.append(root, gen.getPath, "a")(_ => fail("rewrote")) == a)
    // folded redelivery: absorbed through the generation's ledger
    DeltaLog.writeLedger(gen.getPath, DeltaLog.Folded, Seq("batch-b"))
    assert(DeltaLog.append(root, gen.getPath, "b")(_ => fail("rewrote")) ==
      gen.getPath)
    assert(DeltaLog.live(root, gen.getPath) == Seq(a))
    // nothing to commit, or a throwing writer: no dir, no staging left
    assert(DeltaLog.append(root, gen.getPath, "c") { st =>
      marker(st); false } == gen.getPath)
    intercept[IllegalStateException] {
      DeltaLog.append(root, gen.getPath, "d") { st =>
        marker(st); throw new IllegalStateException("headroom") }
    }
    assert(DeltaLog.dir(root).list().toSet == Set("batch-a"))
  }

  private val badTags = Seq("", "a\"b", "a/b", "a b")

  /** One case per tagged entry point: each must reject `tag` before
    * resolving `root`.
    */
  private val entryPoints: Seq[(String, (String, String) => Any)] = Seq(
    "SimIndex.appendDelta" -> ((root, tag) =>
      SimIndex.appendDelta(null, "id", "vec", root, tag)),
    "SketchIndex.appendDelta" -> ((root, tag) =>
      SketchIndex.appendDelta(null, null, "term", root, tag)),
    "LexIndex.appendDelta" -> ((root, tag) =>
      LexIndex.appendDelta(null, "id", "text", root, tag)),
    "GraphIndex.fold" -> ((root, tag) =>
      GraphIndex.fold(null, null, root, tag)),
    "FirstSeenIndex.fold" -> ((root, tag) =>
      FirstSeenIndex.fold(null, null, root, tag)),
    "BpeIndex.foldMemo" -> ((root, tag) =>
      BpeIndex.foldMemo(null, null, root, tag)),
    "SimIndex.folded" -> ((root, tag) => SimIndex.folded(root, tag)),
    "SketchIndex.folded" -> ((root, tag) => SketchIndex.folded(root, tag)),
    "GraphIndex.folded" -> ((root, tag) => GraphIndex.folded(root, tag)),
    "FirstSeenIndex.folded" -> ((root, tag) =>
      FirstSeenIndex.folded(root, tag)),
    "BpeIndex.folded" -> ((root, tag) => BpeIndex.folded(root, tag)),
    "LexIndex.appended" -> ((root, tag) => LexIndex.appended(root, tag)),
    "SketchIndex.purged" -> ((root, tag) => SketchIndex.purged(root, tag)),
    "SketchIndex.purge" -> ((root, tag) =>
      SketchIndex.purge(null, null, "term", root, Some(tag))))

  entryPoints.foreach { case (name, call) =>
    test(s"$name rejects malformed tags before touching the root") {
      badTags.foreach { tag =>
        val root = emptyRoot()
        val ex = intercept[IllegalArgumentException](call(root, tag))
        assert(ex.getMessage.contains("invalid batch tag"),
          s"$name('$tag'): ${ex.getMessage}")
        assert(new File(root).list().isEmpty,
          s"$name('$tag') created ${new File(root).list().mkString(",")}")
      }
    }
  }
}
