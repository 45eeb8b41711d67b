package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JSONL corpus interchange — the de-facto wire format for LLM training
  * corpora (one JSON document per line). The reader enforces the
  * `documents` schema EXPLICITLY instead of letting Spark infer it:
  * schema inference is a full extra pass over 100 TB and silently
  * widens/reorders types per file batch; a declared schema is one pass
  * and stable. Line-splittable (text files split on newlines), so a
  * 100 TB corpus parallelizes to block-sized tasks with no coordination.
  *
  * Corrupt handling is explicit: the default PERMISSIVE read carries a
  * `_corrupt` column (NULL for clean rows — callers route bad lines to a
  * quarantine sink instead of losing them); `strict = true` uses FAILFAST
  * so a malformed byte kills the job loudly. Both modes are pinned in
  * `JsonlSpec` against the parquet truth.
  */
object Jsonl {

  /** The documents-table schema (`FIXTURES.md`): matches the parquet
    * fixtures column-for-column so either source feeds the same pipeline. */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Read a JSONL corpus. PERMISSIVE by default with an explicit
    * `_corrupt` column; `strict = true` → FAILFAST. Spark constraint on
    * the quarantine pattern: a query that references ONLY `_corrupt`
    * against the raw scan is rejected
    * (`QUERY_ONLY_CORRUPT_RECORD_COLUMN`) — persist the parsed result
    * (or select data columns alongside) before auditing corrupt rows. */
  def readDocuments(spark: SparkSession, path: String,
                    strict: Boolean = false): DataFrame = {
    if (strict)
      spark.read
        .schema(documentsSchema)
        .option("mode", "FAILFAST")
        .json(path)
    else
      spark.read
        .schema(documentsSchema.add("_corrupt", StringType))
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
  }

  /** Write a corpus as JSONL (one object per line, UTF-8) — the sink side
    * of the interchange. Plain `df.write.json`; kept as a named seam so
    * compression/partitioning policy lives in one place. */
  def writeDocuments(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Distributed JSON SCHEMA INFERENCE over flat JSONL lines — the
    * first question against an unfamiliar corpus drop: which fields
    * exist, with which types, how often, and does any field's type
    * DRIFT across producers (the `"score": 3.2` vs `"score": "3.2"`
    * split that breaks a declared-schema read halfway through a
    * 100 TB load). Per line, one regex scan captures each top-level
    * key with the FIRST CHARACTER of its value — enough to class it
    * as string/number/boolean/null/array/object without parsing; the
    * caller explodes and aggregates `(key, vtype) -> count` into the
    * field histogram (map-side-combinable, the only shuffle).
    * Flat-object scan by design: nested keys belong to a second pass
    * over the extracted subtree, not to a corpus census. */
  def schemaTypeTokens(line: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val toks = regexp_extract_all(line,
      lit("\"[A-Za-z_][A-Za-z0-9_]*\"\\s*:\\s*(?:\"|-|[0-9]|t|f|n|\\[|\\{)"),
      lit(0))
    transform(toks, t => {
      val first = regexp_extract(t, ":\\s*(.)$", 1)
      struct(
        regexp_extract(t, "\"([A-Za-z_][A-Za-z0-9_]*)\"", 1).as("key"),
        when(first === "\"", lit("string"))
          .when(first.rlike("[0-9-]"), lit("number"))
          .when(first.isin("t", "f"), lit("boolean"))
          .when(first === "n", lit("null"))
          .when(first === "[", lit("array"))
          .otherwise(lit("object")).as("vtype"))
    })
  }
}
