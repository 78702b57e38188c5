package graft.operators

import java.io.File
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The sidecar codec ([[Sidecar]]) without a Spark session: the bytes
  * each family's `_params.json` / `_stats.json` had before the codec
  * existed, the defaults of optional fields, and the error on a
  * missing required one.
  */
class SidecarSpec extends AnyFunSuite {

  private def dir(): String = Files.createTempDirectory("sidecar").toString

  /** Write `fields` as `file` into a fresh dir; the bytes written. */
  private def written(file: String, fields: (String, Any)*): String = {
    val d = dir()
    Sidecar.write(d, file, fields: _*)
    Files.readString(new File(d, file).toPath)
  }

  test("each family's sidecar keeps its bytes: field order, no spaces") {
    assert(written(Sidecar.Params, "bits" -> 8, "tables" -> 4) ==
      """{"bits":8,"tables":4}""")
    assert(written(Sidecar.Params, "depth" -> 4, "width" -> 256) ==
      """{"depth":4,"width":256}""")
    assert(written(Sidecar.Params, "rounds" -> 12, "fert" -> 1875L) ==
      """{"rounds":12,"fert":1875}""")
    assert(written(Sidecar.Stats, "n_docs" -> 30L, "sumdl" -> 330L,
        "max_dl" -> 11L) ==
      """{"n_docs":30,"sumdl":330,"max_dl":11}""")
    val pq = Seq("m" -> 4, "dsub" -> 4, "ks" -> 8, "iters" -> 2)
    assert(written(Sidecar.Params, pq ++ Seq("c" -> 0, "citers" -> 0,
        "resid" -> 0, "qerr" -> 1234L): _*) ==
      """{"m":4,"dsub":4,"ks":8,"iters":2,"c":0,"citers":0,""" +
        """"resid":0,"qerr":1234}""")
    assert(written(Sidecar.Params, pq ++ Seq("c" -> 6, "citers" -> 3,
        "resid" -> 1, "qerr" -> 77L): _*) ==
      """{"m":4,"dsub":4,"ks":8,"iters":2,"c":6,"citers":3,""" +
        """"resid":1,"qerr":77}""")
    assert(written(Sidecar.Params, pq ++ Seq("c" -> 0, "citers" -> 0,
        "resid" -> 0, "qerr" -> 5L, "perm" -> Seq(3, 0, 2, 1)): _*) ==
      """{"m":4,"dsub":4,"ks":8,"iters":2,"c":0,"citers":0,""" +
        """"resid":0,"qerr":5,"perm":[3,0,2,1]}""")
  }

  test("written fields read back") {
    val d = dir()
    Sidecar.write(d, Sidecar.Params, "m" -> 4, "qerr" -> 9000000000L,
      "perm" -> Seq(1, 0))
    val p = Sidecar.read(d, Sidecar.Params)
    assert(p.int("m") == 4)
    assert(p.long("qerr") == 9000000000L)
    assert(p.ints("perm").contains(Seq(1, 0)))
  }

  test("absent optional fields read as their defaults") {
    val d = dir()
    // a Pq sidecar from before the coarse, residual, drift and
    // permutation fields; a Lex stats sidecar from before max_dl
    Files.writeString(new File(d, Sidecar.Params).toPath,
      """{"m":4,"dsub":4,"ks":8,"iters":2}""")
    Files.writeString(new File(d, Sidecar.Stats).toPath,
      """{"n_docs":30,"sumdl":330}""")
    val p = Sidecar.read(d, Sidecar.Params)
    assert(p.int("c", 0) == 0 && p.int("citers", 0) == 0)
    assert(p.int("resid", 0) == 0 && p.long("qerr", 0L) == 0L)
    assert(p.ints("perm").isEmpty)
    val s = Sidecar.read(d, Sidecar.Stats)
    assert(s.long("n_docs") == 30L && s.long("sumdl") == 330L)
    assert(s.long("max_dl", 0L) == 0L)
    // an empty permutation reads as an empty array
    Files.writeString(new File(d, Sidecar.Params).toPath,
      """{"m":4,"perm":[]}""")
    assert(Sidecar.read(d, Sidecar.Params).ints("perm").contains(Nil))
  }

  test("a missing required field fails naming the file and its dir") {
    val d = dir()
    Files.writeString(new File(d, Sidecar.Params).toPath, """{"bits":8}""")
    val ex = intercept[IllegalStateException] {
      Sidecar.read(d, Sidecar.Params).int("tables")
    }
    assert(ex.getMessage.startsWith(s"malformed _params.json in $d"),
      ex.getMessage)
    assert(ex.getMessage.contains("tables"), ex.getMessage)
  }
}
