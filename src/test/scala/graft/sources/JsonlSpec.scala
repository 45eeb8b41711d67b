package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.tsne.SparkTestBase

/** JSONL source/sink against the parquet truth: a write→read roundtrip
  * must be value-identical, corrupt lines must be quarantined (never
  * silently dropped), and strict mode must fail loudly. */
class JsonlSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val parquetDir = "/root/testdata/sf0.001"

  behavior of "Jsonl"

  it should "roundtrip the documents table value-identically" in {
    val s = spark
    val docs = s.read.parquet(s"$parquetDir/documents.parquet")
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString + "/docs"
    Jsonl.writeDocuments(docs, dir)
    // cache: Spark refuses corrupt-column-only queries on a raw JSON scan
    // (QUERY_ONLY_CORRUPT_RECORD_COLUMN) — parse once, then audit
    val back = Jsonl.readDocuments(s, dir).cache()
    back.columns should contain("_corrupt")
    back.where(col("_corrupt").isNotNull).count() shouldBe 0L
    val a = docs.orderBy("doc_id").collect().map(_.toSeq)
    val b = back.drop("_corrupt").orderBy("doc_id").collect().map(_.toSeq)
    b shouldBe a
  }

  it should "roundtrip embedded newlines and quotes (the line-format hazard)" in {
    val s = spark
    import s.implicits._
    // JSON escapes \n inside strings, so a doc whose TEXT contains
    // newlines must still occupy exactly one line on disk and roundtrip
    // byte-identically — raw line-based formats get this wrong
    val tricky = Seq(
      (1L, "line one\nline two\r\nline three", "en", "s", 30L),
      (2L, "quote \" backslash \\ tab \t", "en", "s", 25L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString + "/tricky"
    Jsonl.writeDocuments(tricky, dir)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".json"))
    val physicalLines = files.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().toList).count(_.nonEmpty)
    physicalLines shouldBe 2 // one line per doc despite embedded newlines
    val back = Jsonl.readDocuments(s, dir).cache()
    back.where(col("_corrupt").isNotNull).count() shouldBe 0L
    back.drop("_corrupt").orderBy("doc_id").collect().map(_.toSeq) shouldBe
      tricky.orderBy("doc_id").collect().map(_.toSeq)
  }

  it should "quarantine corrupt lines in PERMISSIVE mode and fail fast in strict" in {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val good =
      """{"doc_id": 1, "text": "a b", "lang": "en", "source": "s", "n_chars": 3}"""
    val bad = """{"doc_id": oops not json"""
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/part.jsonl"),
      (good + "\n" + bad + "\n").getBytes("UTF-8"))
    val read = Jsonl.readDocuments(s, dir).cache()
    read.count() shouldBe 2L // nothing silently dropped
    read.where(col("_corrupt").isNotNull).count() shouldBe 1L
    read.where(col("_corrupt").isNull).select("doc_id", "text")
      .as[(Long, String)].collect() shouldBe Array((1L, "a b"))
    // FAILFAST surfaces as FAILED_READ_FILE wrapping the malformed-record
    // error — the point is it throws instead of quietly nulling the row
    val ex = intercept[Exception] {
      Jsonl.readDocuments(s, dir, strict = true).count()
    }
    ex.getMessage.toLowerCase should include("error while reading file")
  }

  "schemaTypeTokens" should "class every top-level value by first char" in {
    val s = spark
    import s.implicits._
    val line = """{"a":1,"b":"x","c":true,"d":false,"e":null,""" +
      """"f":[1,2],"g":{},"h":-3.5}"""
    Seq(line).toDF("l")
      .select(org.apache.spark.sql.functions.explode(
        Jsonl.schemaTypeTokens(org.apache.spark.sql.functions.col("l")))
        .as("kv"))
      .select("kv.key", "kv.vtype").as[(String, String)]
      .collect().toSeq shouldBe Seq(
      ("a", "number"), ("b", "string"), ("c", "boolean"),
      ("d", "boolean"), ("e", "null"), ("f", "array"), ("g", "object"),
      ("h", "number"))
  }

  it should "not read string CONTENT as keys" in {
    val s = spark
    import s.implicits._
    // the value text contains a colon-adjacent quoted word — not a key
    val line = """{"msg":"see: 42","n":7}"""
    Seq(line).toDF("l")
      .select(org.apache.spark.sql.functions.explode(
        Jsonl.schemaTypeTokens(org.apache.spark.sql.functions.col("l")))
        .as("kv"))
      .select("kv.key").as[String].collect().toSeq shouldBe
      Seq("msg", "n")
  }
}
