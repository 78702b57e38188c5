package graft.operators

import java.io.File
import java.nio.file.Files

/** The codec of the families' JSON sidecars: `_params.json` (the
  * frozen parameters of [[SimIndex]], [[SketchIndex]], [[PqIndex]],
  * [[BpeIndex]]) and [[LexIndex]]'s `_stats.json`. A sidecar is one
  * flat object whose values are integers or integer arrays, written
  * in the caller's field order with no whitespace:
  * `{"bits":8,"tables":4}`, `{…,"qerr":12,"perm":[3,0,2,1]}`.
  */
private[graft] object Sidecar {

  val Params = "_params.json"
  val Stats = "_stats.json"

  private val FieldPattern = """"([A-Za-z_]+)"\s*:\s*(\[[^\]]*\]|-?\d+)""".r

  /** The bytes of `fields`: a Seq value is an array, anything else a number. */
  def encode(fields: Seq[(String, Any)]): String =
    fields.map {
      case (k, v: Seq[_]) => s""""$k":${v.mkString("[", ",", "]")}"""
      case (k, v) => s""""$k":$v"""
    }.mkString("{", ",", "}")

  def write(dir: String, file: String, fields: (String, Any)*): Unit = {
    Files.writeString(new File(dir, file).toPath, encode(fields))
    ()
  }

  /** The sidecar `file` of the generation or delta dir `dir`. */
  def read(dir: String, file: String): Fields = {
    val text = Files.readString(new File(dir, file).toPath)
    new Fields(s"$file in $dir", text,
      FieldPattern.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap)
  }

  /** The decoded fields of one sidecar; `where` names it in errors. */
  final class Fields(where: String, text: String, values: Map[String, String]) {

    /** A required number; IllegalStateException when absent. */
    def long(k: String): Long = values.get(k).filterNot(_.startsWith("["))
      .getOrElse(throw new IllegalStateException(
        s"malformed $where: no \"$k\" in $text"))
      .toLong

    /** An optional number, `default` when absent (a sidecar written
      * before the field existed).
      */
    def long(k: String, default: Long): Long =
      if (values.contains(k)) long(k) else default

    def int(k: String): Int = long(k).toInt

    def int(k: String, default: Int): Int = long(k, default.toLong).toInt

    /** An optional integer array. */
    def ints(k: String): Option[Seq[Int]] =
      values.get(k).filter(_.startsWith("[")).map(a =>
        a.stripPrefix("[").stripSuffix("]").split(',').toSeq
          .map(_.trim).filter(_.nonEmpty).map(_.toInt))
  }
}
