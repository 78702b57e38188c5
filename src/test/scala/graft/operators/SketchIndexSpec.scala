package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The persisted count-min sketch (seventh family): linear fold,
  * exact subtraction purge, double-count closure.
  */
class SketchIndexSpec extends SparkSpec {
  import spark.implicits._

  private val D = 4; private val W = 64

  private def terms(xs: (String, Int)*) =
    xs.flatMap { case (t, n) => Seq.fill(n)(t) }.toDF("term")

  private def estMap(root: String, qs: Seq[String]) =
    SketchIndex.estimate(spark, qs.toDF("term"), "term", root)
      .select("term", "cms_est")
      .as[(String, Long)].collect().toMap

  test("delta fold ≡ one-shot build (linearity), n_total derived from cells") {
    val root = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 5, "b" -> 2), "term", D, W, root)
    SketchIndex.appendDelta(spark, terms("a" -> 3, "c" -> 7), "term",
      root, tag = "b0")
    // redelivered tagged append absorbed (sums are NOT idempotent)
    SketchIndex.appendDelta(spark, terms("a" -> 3, "c" -> 7), "term",
      root, tag = "b0")
    assert(SketchIndex.deltas(root).size == 1)
    val oneShot = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 8, "b" -> 2, "c" -> 7), "term",
      D, W, oneShot)
    val qs = Seq("a", "b", "c", "zz")
    assert(estMap(root, qs) == estMap(oneShot, qs),
      "base + delta diverged from the one-shot build")
    val n = SketchIndex.estimate(spark, Seq("a").toDF("term"), "term", root)
      .select("n_total").as[Long].head()
    assert(n == 17L, s"n_total from row-0 cells wrong: $n")
    // mergeCompact folds physically and keeps serving identically
    SketchIndex.mergeCompact(spark, root)
    assert(SketchIndex.deltas(root).isEmpty)
    assert(SketchIndex.folded(root, "b0"),
      "merge lost the consumed delta's durable record")
    assert(estMap(root, qs) == estMap(oneShot, qs))
    // a redelivered append AFTER the merge must not double-count
    SketchIndex.appendDelta(spark, terms("a" -> 3, "c" -> 7), "term",
      root, tag = "b0")
    assert(SketchIndex.deltas(root).isEmpty,
      "post-merge redelivery re-committed the folded delta")
    assert(estMap(root, qs) == estMap(oneShot, qs))
  }

  test("purge is an exact subtraction ≡ fresh build over the survivors") {
    val root = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 5, "b" -> 2), "term", D, W, root)
    SketchIndex.appendDelta(spark, terms("a" -> 3, "c" -> 7), "term",
      root, tag = "b0")
    // forget three of the a's and all of b (ingested rows only)
    SketchIndex.purge(spark, terms("a" -> 3, "b" -> 2), "term", root)
    assert(SketchIndex.deltas(root).isEmpty, "purge must consume deltas")
    val fresh = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 5, "c" -> 7), "term", D, W, fresh)
    val qs = Seq("a", "b", "c")
    assert(estMap(root, qs) == estMap(fresh, qs),
      "subtraction diverged from the survivor build")
    assert(estMap(root, qs)("b") == 0L, "fully-deleted term must read 0")
  }

  test("a repeated purge of the same deletion set is absorbed (no double subtraction)") {
    val root = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 5, "b" -> 2), "term", D, W, root)
    val del = terms("a" -> 2)
    SketchIndex.purge(spark, del, "term", root)
    assert(estMap(root, Seq("a"))("a") == 3L)
    // at-least-once compliance runner retries the same request: the
    // content-fingerprint tag absorbs it
    val vBefore = VersionedDirs.versionsOf(root).size
    SketchIndex.purge(spark, del, "term", root)
    assert(VersionedDirs.versionsOf(root).size == vBefore,
      "repeated purge committed a second subtraction generation")
    assert(estMap(root, Seq("a"))("a") == 3L,
      "repeated purge double-subtracted")
    // a DIFFERENT deletion set is a new purge, not a repeat
    SketchIndex.purge(spark, terms("a" -> 1), "term", root)
    assert(estMap(root, Seq("a"))("a") == 2L)
    // cascade re-run shape: same ids through the PurgeCascade arm twice
    val docs = Seq((1L, "x y"), (2L, "x z")).toDF("doc_id", "text")
    val cRoot = Files.createTempDirectory("cms").toString
    SketchIndex.publish(docs.select(
      explode(split($"text", " ")).as("term")), "term", D, W, cRoot)
    for (_ <- 1 to 2)
      PurgeCascade.purge(spark, Seq(1L).toDF("id"),
        Seq(PurgeCascade.sketch(cRoot, docs, "id")))
    assert(estMap(cRoot, Seq("x", "y", "z"))
      == Map("x" -> 1L, "y" -> 0L, "z" -> 1L),
      "cascade re-run double-subtracted the sketch arm")
  }

  test("a merge crash-leftover delta is never double-counted") {
    val root = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 5), "term", D, W, root)
    val deltaPath = SketchIndex.appendDelta(spark, terms("a" -> 3),
      "term", root, tag = "b0")
    // snapshot the delta, merge (consumes it), restore the snapshot —
    // the crash window between a rewrite's commit and its cleanup
    val backup = Files.createTempDirectory("cms-bak").toString
    def copy(src: java.io.File, dst: java.io.File): Unit = {
      if (src.isDirectory) {
        dst.mkdirs()
        Option(src.listFiles()).getOrElse(Array.empty)
          .foreach(f => copy(f, new java.io.File(dst, f.getName)))
      } else {
        java.nio.file.Files.copy(src.toPath, dst.toPath); ()
      }
    }
    copy(new java.io.File(deltaPath), new java.io.File(backup, "batch-b0"))
    SketchIndex.mergeCompact(spark, root)
    copy(new java.io.File(backup, "batch-b0"), new java.io.File(deltaPath))
    assert(SketchIndex.deltas(root).size == 1, "leftover not restored")
    // sums are not idempotent: the folded filter is what keeps the
    // leftover from doubling every b0 cell
    assert(estMap(root, Seq("a"))("a") == 8L,
      "crash-leftover delta double-counted on read")
    // and a subsequent rewrite must not persist the double count
    SketchIndex.mergeCompact(spark, root)
    assert(estMap(root, Seq("a"))("a") == 8L,
      "next merge summed the leftover into the committed cells")
    assert(SketchIndex.deltas(root).isEmpty,
      "merge did not clean the already-folded leftover")
  }

  test("regrowOnBias fires on a saturated width, absorbs on the regrown one") {
    val root = Files.createTempDirectory("cms").toString
    // 40 distinct terms into width 2: guaranteed saturation
    val corpus = terms((0 until 40).map(i => s"t$i" -> (i % 3 + 1)): _*)
    SketchIndex.publish(corpus, "term", D, 2, root)
    val audit0 = SketchIndex.biasAudit(spark, corpus, "term", root)
      .collect().head
    assert(audit0.getAs[Long]("width") == 2L)
    assert(audit0.getAs[Long]("max_err") > 0L, "width 2 not saturated?")
    val fired = SketchIndex.regrowOnBias(spark, corpus, "term", root,
      budgetPpm = 10000L, widthFactor = 64)
    assert(fired.nonEmpty, "trigger must fire at width 2")
    assert(SketchIndex.geometry(root) == ((D, 128)))
    // the regrown artifact serves exactly a fresh wide build
    val fresh = Files.createTempDirectory("cms").toString
    SketchIndex.publish(corpus, "term", D, 128, fresh)
    val qs = (0 until 40).map(i => s"t$i")
    assert(estMap(root, qs) == estMap(fresh, qs),
      "regrown sketch diverged from a fresh build at the new width")
    // and the same budget holds at the regrown width — no re-fire
    assert(SketchIndex.regrowOnBias(spark, corpus, "term", root,
      budgetPpm = 10000L, widthFactor = 64).isEmpty)
  }

  test("re-publish (regrow) invalidates the delta log; redelivered tags absorb") {
    val root = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 5, "b" -> 2), "term", D, 2, root)
    SketchIndex.appendDelta(spark, terms("a" -> 3, "c" -> 7), "term",
      root, tag = "b0")
    // the rebuild corpus covers base ∪ deltas (the publish contract)
    SketchIndex.publish(terms("a" -> 8, "b" -> 2, "c" -> 7), "term",
      D, W, root)
    assert(SketchIndex.deltas(root).isEmpty,
      "re-publish left old-geometry deltas in the log")
    // a redelivery of the consumed tag must absorb, not sum
    // old-width cells into the new generation
    SketchIndex.appendDelta(spark, terms("a" -> 3, "c" -> 7), "term",
      root, tag = "b0")
    assert(SketchIndex.deltas(root).isEmpty,
      "redelivered tag re-committed across the re-publish")
    val fresh = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 8, "b" -> 2, "c" -> 7), "term",
      D, W, fresh)
    val qs = Seq("a", "b", "c")
    assert(estMap(root, qs) == estMap(fresh, qs))
  }

  test("geometry is frozen across the lifecycle; vacuum keeps the head") {
    val root = Files.createTempDirectory("cms").toString
    SketchIndex.publish(terms("a" -> 1), "term", D, W, root)
    SketchIndex.purge(spark, terms("a" -> 1), "term", root)
    assert(SketchIndex.geometry(root) == ((D, W)))
    assert(VersionedDirs.versionsOf(root).size == 2)
    SketchIndex.vacuumOld(root)
    assert(VersionedDirs.versionsOf(root).size == 1)
    assert(SketchIndex.geometry(root) == ((D, W)))
  }

  test("an estimate on a resolved generation keeps its geometry across a regrow") {
    val root = Files.createTempDirectory("cms").toString
    val corpus = terms((0 until 40).map(i => s"t$i" -> (1 + i % 5)): _*)
    SketchIndex.publish(corpus, "term", D, 16, root)
    val qs = (0 until 40).map(i => s"t$i")
    val want = estMap(root, qs)
    // the generation an estimate resolved; then a regrow commits a
    // 4×-wider generation before the estimate reads its geometry
    val gen = SketchIndex.resolve(root).get
    SketchIndex.publish(corpus, "term", D, 64, root)
    assert(SketchIndex.geometry(root) == ((D, 64)))
    val got = SketchIndex.estimateOn(spark, qs.toDF("term"), "term", gen, Nil)
      .select("term", "cms_est").as[(String, Long)].collect().toMap
    assert(got == want,
      "estimate mixed the resolved generation's cells with another width")
  }
}
