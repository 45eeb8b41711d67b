package graft.expressions

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.Inspectors

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.tsne.{Distances, SparkTestBase}

/** The native fused-loop distance expressions must agree bit-for-bit with
  * both the scalar kernels and the composable `aggregate(zip_with(...))`
  * forms they replace (same left-to-right summation), and must stay inside
  * whole-stage codegen. */
class ArrayDistancesSpec extends AnyFlatSpec with Matchers with Inspectors with SparkTestBase {

  private lazy val vecs = {
    val rnd = new scala.util.Random(5)
    (0 until 50).map(i => (i.toLong, Array.fill(17)(rnd.nextGaussian() * 3)))
  }

  /** The dot product as its native expression, and in the composable
    * `aggregate(zip_with(...))` form it replaces. */
  private def dot(a: Column, b: Column): Column = {
    import org.apache.spark.sql.{graftglue => glue}
    glue.column(DotProduct(glue.expression(a), glue.expression(b)))
  }
  private def dotBuiltin(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  private def pairsDf = {
    val s = spark
    import s.implicits._
    val df = vecs.toDF("id", "vec")
    df.select(col("id").as("i"), col("vec").as("va"))
      .crossJoin(df.select(col("id").as("j"), col("vec").as("vb")))
  }

  "native distance expressions" should "agree bit-for-bit with the scalar kernels" in {
    val rows = pairsDf.select(col("i"), col("j"),
      Distances.sqEuclideanCol(col("va"), col("vb")).as("sq"),
      Distances.euclideanCol(col("va"), col("vb")).as("eu"),
      dot(col("va"), col("vb")).as("dot"),
      Distances.cosineSimCol(col("va"), col("vb")).as("cos"))
      .collect()
    val byId = vecs.toMap
    def sim(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (k <- a.indices) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    forAll(rows.toSeq) { r =>
      val a = byId(r.getLong(0)); val b = byId(r.getLong(1))
      r.getDouble(2) shouldBe Distances.sqEuclidean(a, b)
      r.getDouble(3) shouldBe Distances.euclidean(a, b)
      r.getDouble(4) shouldBe sim(a, b) * math.sqrt(
        a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum) +- 1e-9 // dot
      r.getDouble(5) shouldBe sim(a, b) // bit-exact vs same-order scalar
      // and the distance form is exactly 1 − sim
      (1.0 - r.getDouble(5)) shouldBe Distances.cosine(a, b) +- 1e-15
    }
  }

  it should "agree bit-for-bit with the composable built-in forms" in {
    val rows = pairsDf.select(
      (dot(col("va"), col("vb")) === dotBuiltin(col("va"), col("vb"))).as("dotOk"))
      .collect()
    forAll(rows.toSeq) { r => r.getBoolean(0) shouldBe true }
  }

  it should "stay inside whole-stage codegen" in {
    val df = pairsDf.select(Distances.sqEuclideanCol(col("va"), col("vb")).as("d"))
    df.collect() // finalize the (possibly adaptive) plan first
    // codegen spans render as "*(n) Project ..." in the physical plan
    df.queryExecution.executedPlan.toString should include("*(")
  }

  it should "be null-safe and length-tolerant" in {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(Array(1.0, 2.0)), Some(Array(1.0, 2.0, 99.0))), // length mismatch → NULL
      (None, Some(Array(1.0, 2.0))),
      (Some(Array(1.0, 2.0)), None),
      (Some(Array(1.0, 5.0)), Some(Array(1.0, 2.0))))
      .toDF("a", "b")
    val out = df.select(Distances.sqEuclideanCol(col("a"), col("b"))).collect()
    // zip_with-compatible semantics: mismatch and null-in → NULL out
    out(0).isNullAt(0) shouldBe true
    out(1).isNullAt(0) shouldBe true
    out(2).isNullAt(0) shouldBe true
    out(3).getDouble(0) shouldBe 9.0
  }

  "GraftExtensions" should "register the SQL functions" in {
    val s = spark
    import s.implicits._
    new graft.GraftExtensions() // construction sanity
    // the shared test session was built with the extension config
    vecs.take(4).toDF("id", "vec").createOrReplaceTempView("vtest")
    val r = s.sql(
      """SELECT a.id, b.id, graft_sqeuclidean(a.vec, b.vec) AS d,
        |       graft_cosine_sim(a.vec, b.vec) AS c,
        |       graft_dot(a.vec, b.vec) AS t,
        |       graft_euclidean(a.vec, b.vec) AS e
        |FROM vtest a JOIN vtest b ON a.id < b.id""".stripMargin).collect()
    r.length shouldBe 6
    val byId = vecs.toMap
    forAll(r.toSeq) { row =>
      row.getDouble(2) shouldBe Distances.sqEuclidean(byId(row.getLong(0)), byId(row.getLong(1)))
    }
    // wrong arity → a proper analysis error, not a MatchError
    val err = intercept[Exception](s.sql("SELECT graft_dot(vec) FROM vtest").collect())
    err.getMessage should include("graft_dot")
  }

  it should "register the unary text/hash helpers matching the Column API" in {
    val s = spark
    import s.implicits._
    val samples = Seq("Hello, World!", "  a\tB c  ", "héllo wörld", "x")
    samples.toDF("t").createOrReplaceTempView("ttest")
    val rows = s.sql(
      "SELECT t, graft_hash60(t) AS h, graft_normalize(t) AS n FROM ttest")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    // the SQL spellings must be bit-identical to the Column-API
    // definitions (and, transitively, to the DuckDB oracle convention)
    val expected = samples.toDF("t").select(col("t"),
        graft.pipeline.Hashing.hash60(col("t")).as("h"),
        graft.pipeline.TextOps.normalizeText(col("t")).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getString(2))).toMap
    rows shouldBe expected
    rows("Hello, World!")._2 shouldBe "hello world"
    samples.foreach { t =>
      rows(t)._1 shouldBe graft.pipeline.Hashing.hash60(t)
    }
    val err1 = intercept[Exception](
      s.sql("SELECT graft_normalize(t, t) FROM ttest").collect())
    err1.getMessage should include("graft_normalize")
  }
}
