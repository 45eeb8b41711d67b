package graft

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.tsne.SparkTestBase

/** Pins Verify's failure contract (VERDICT r7 "what's missing" #2): a
  * broken query must leave a `_FAILED` marker where its parquet would be —
  * so the driver's read errors and CORRECTNESS records `err != null` — and
  * must never leave a previous round's stale parquet in place (which would
  * hash-compare as a false PASS).
  */
class VerifySpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val good: (SparkSession, String) => DataFrame =
    (s, dir) => s.read.parquet(s"$dir/nation.parquet").orderBy("n_nationkey")
  private val analysisError: (SparkSession, String) => DataFrame =
    (s, dir) => s.read.parquet(s"$dir/nation.parquet")
      .select(col("no_such_column"))
  private val runtimeError: (SparkSession, String) => DataFrame =
    (s, dir) => {
      val d = s.read.parquet(s"$dir/nation.parquet")
      import org.apache.spark.sql.Encoders
      d.select(col("n_nationkey").cast("int")).as[Int](Encoders.scalaInt)
        .map(i => if (i >= 0) throw new IllegalStateException("boom") else i)(
          Encoders.scalaInt).toDF("x")
    }

  "dumpQueries" should "dump good queries and leave _FAILED markers for broken ones" in {
    val out = java.nio.file.Files.createTempDirectory("verify-spec").toString
    val failures = Verify.dumpQueries(spark, "/root/testdata/sf0.001", out,
      Seq("q_ok" -> good, "q_broken_analysis" -> analysisError,
        "q_broken_runtime" -> runtimeError)).toMap

    failures.keySet shouldBe Set("q_broken_analysis", "q_broken_runtime")
    failures("q_broken_runtime") should include("boom")

    // good query: parquet present, readable, no marker
    val okFiles = new java.io.File(s"$out/q_ok").listFiles().map(_.getName)
    okFiles.count(_.endsWith(".parquet")) shouldBe 1
    okFiles should not contain "_FAILED"
    spark.read.parquet(s"$out/q_ok").count() shouldBe 25

    // broken queries: marker present, NO parquet file — a driver-style
    // read of the directory must error rather than hash an empty result
    for (name <- Seq("q_broken_analysis", "q_broken_runtime")) {
      val files = new java.io.File(s"$out/$name").listFiles().map(_.getName)
      files should contain("_FAILED")
      files.count(_.endsWith(".parquet")) shouldBe 0
      intercept[Exception] { spark.read.parquet(s"$out/$name").collect() }
    }
  }

  it should "replace a previous round's stale parquet with the failure marker" in {
    val out = java.nio.file.Files.createTempDirectory("verify-spec2").toString
    // round N-1: the query worked and dumped real parquet
    Verify.dumpQueries(spark, "/root/testdata/sf0.001", out,
      Seq("q_flips" -> good)) shouldBe empty
    spark.read.parquet(s"$out/q_flips").count() shouldBe 25
    // round N: the same query now fails — the stale parquet must be gone
    // (a leftover would hash-compare as a false PASS)
    val failures = Verify.dumpQueries(spark, "/root/testdata/sf0.001", out,
      Seq("q_flips" -> analysisError)).toMap
    failures.keySet shouldBe Set("q_flips")
    val files = new java.io.File(s"$out/q_flips").listFiles().map(_.getName)
    files should contain("_FAILED")
    files.count(_.endsWith(".parquet")) shouldBe 0
  }

  it should "release the checkpoints a query leaves persistent" in {
    val out = java.nio.file.Files.createTempDirectory("verify-spec3").toString
    // clearCache alone leaves a localCheckpoint's RDD resident
    val checkpointed: (SparkSession, String) => DataFrame =
      (s, _) => s.range(25).toDF("id").localCheckpoint()
    SubmittedWork.storedBy(spark) {
      SubmittedWork.persistedBy(spark) {
        Verify.dumpQueries(spark, "unused", out,
          Seq("q_checkpointed" -> checkpointed)) shouldBe empty
      } shouldBe 0
    } shouldBe 0
    // positive control: the same checkpoint made outside dumpQueries stays
    // stored
    var leaked: DataFrame = null
    SubmittedWork.storedBy(spark) { leaked = checkpointed(spark, "unused") } shouldBe 1
    Release.checkpoint(leaked)
    spark.read.parquet(s"$out/q_checkpointed").count() shouldBe 25
  }
}
