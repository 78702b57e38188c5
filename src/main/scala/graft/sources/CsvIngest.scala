package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Headered-CSV ingest with the reference's exact load semantics
  * (buzzdb_lab1.cpp:126-316, SURVEY.md §2.1 S1-S4):
  *
  *  - header row skipped (`option("header", true)`)
  *  - naive comma split, NO quoting/escaping (`split_csv`,
  *    buzzdb_lab1.cpp:156-165) — quoting is disabled in the reader so
  *    a quoted field round-trips byte-identically to the reference
  *  - every cell whitespace-trimmed (`trim`, :131-141)
  *  - wrong arity ⇒ row dropped (`arr.size() != N`, :191)
  *  - strict int parse failure ⇒ whole row silently dropped
  *    (`to_int`, :144-154) — Spark form: `try_cast` + null filter on
  *    the int-typed columns ONLY: an empty *string* cell survives as
  *    "" exactly as the reference's split_csv keeps empty tokens
  *    (a user with a blank location is a valid row there)
  *  - blank lines skipped (:186)
  *
  * The reader itself is partition-parallel: what the reference's
  * `loadMultipleFlatFilesInParallel` (:329-593) builds with
  * `std::async` per file, Spark does natively per input split — and
  * keeps doing at 100 TB, where one thread per file stops working.
  */
object CsvIngest {

  /** Read headered CSV files or directories as all-string columns with
    * reference tokenization (no quotes, no escapes, whitespace-trimmed).
    */
  def readRaw(spark: SparkSession, paths: Seq[String], columns: Seq[String]): DataFrame = {
    val raw = spark.read
      .option("header", true)
      .option("quote", "")          // reference split_csv has no quoting
      .option("mode", "DROPMALFORMED")
      .schema(StructType(columns.map(StructField(_, StringType, nullable = true))))
      .csv(paths: _*)
    // an empty cell parses as null, but wrong-arity rows were already
    // dropped above — so every surviving null IS an empty cell, which
    // the reference keeps as "" (split_csv keeps empty tokens)
    raw.select(columns.map(c => coalesce(trim(col(c)), lit("")).as(c)): _*)
  }

  /** Apply the reference's typed-load semantics: strict int parse on
    * the integer columns, dropping any row where a parse fails
    * (wrong-arity rows are already dropped by the DROPMALFORMED
    * reader). String columns are NOT null-filtered: the reference
    * keeps empty cells as empty strings (split_csv,
    * buzzdb_lab1.cpp:156-165).
    */
  def typed(df: DataFrame, schema: StructType): DataFrame = {
    val converted = df.select(schema.fields.map { f =>
      (f.dataType match {
        // try_cast, not cast: ANSI mode would throw on a malformed
        // cell, but the reference silently drops the row
        case IntegerType | LongType =>
          expr(s"try_cast(${f.name} AS ${f.dataType.sql})")
        case _ => df.col(f.name)
      }).as(f.name)
    }.toSeq: _*)
    // a failed int parse is null ⇒ drop the whole row, mirroring the
    // reference's silent row drop (buzzdb_lab1.cpp:198-200)
    val intCols = schema.fields.collect {
      case f if f.dataType == IntegerType || f.dataType == LongType => f.name
    }
    converted.na.drop("any", intCols.toSeq)
  }

  /** Full reference load pipeline for one table's files. */
  def readFlatFile(spark: SparkSession, paths: Seq[String], schema: StructType): DataFrame =
    typed(readRaw(spark, paths, schema.fields.map(_.name).toSeq), schema)
}
