package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Pins the text of every DuckDB oracle without a Spark session or
  * DuckDB: the SHA-256 of each `SparkEntry.oracleSql` entry, and the
  * key set, must equal the golden file
  * `src/test/resources/oracle_sql.sha256` (one `<query> <hex>` line
  * per oracle, sorted by query name). A refactor of the shared SQL
  * builders that changes a single byte of any oracle fails here, in
  * seconds, instead of in a full `graft.Verify` + DuckDB run.
  *
  * An INTENDED oracle change regenerates the golden file with
  * {{{
  * sbt "Test/runMain graft.OracleSqlDigestSpec src/test/resources/oracle_sql.sha256"
  * }}}
  * and records the changed queries on their own CHANGES.md line.
  */
class OracleSqlDigestSpec extends AnyFunSuite {

  private lazy val golden: Map[String, String] = {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    assert(in != null, "golden file oracle_sql.sha256 missing from test resources")
    val src = Source.fromInputStream(in, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(k, h) = l.split(' ')
      k -> h
    }.toMap
    finally src.close()
  }

  private lazy val actual = OracleSqlDigestSpec.digests

  test("the oracle key set equals the golden key set") {
    val missing = golden.keySet -- actual.keySet
    val added = actual.keySet -- golden.keySet
    assert(missing.isEmpty && added.isEmpty,
      s"oracles missing: ${missing.toSeq.sorted.mkString(", ")}; " +
        s"oracles added: ${added.toSeq.sorted.mkString(", ")}")
  }

  test("every oracle's text is byte-identical to the golden digest") {
    val changed = actual.keySet.intersect(golden.keySet).toSeq.sorted
      .filter(k => actual(k) != golden(k))
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }
}

object OracleSqlDigestSpec {

  /** query name → lowercase hex SHA-256 of its oracle's UTF-8 bytes. */
  def digests: Map[String, String] =
    SparkEntry.oracleSql.map { case (k, sql) =>
      val md = MessageDigest.getInstance("SHA-256")
      k -> md.digest(sql.getBytes(UTF_8)).map(b => f"${b & 0xff}%02x").mkString
    }

  /** Writes the golden file to the path given as the only argument. */
  def main(args: Array[String]): Unit = {
    val lines = digests.toSeq.sortBy(_._1).map { case (k, h) => s"$k $h\n" }
    Files.write(Paths.get(args(0)), lines.mkString.getBytes(UTF_8))
    println(s"wrote ${lines.size} oracle digests to ${args(0)}")
  }
}
