package graft.tsne

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Distance metrics (ref: `Tsne.scala:161-168` — sqeuclidean | euclidean |
  * cosine, dispatched by name; unknown name throws).
  *
  * Two forms are provided:
  *   - Scala functions on `Array[Double]` for typed/imperative code paths
  *     (perplexity search, gradient kernels, driver-side math);
  *   - `Column` expressions (native fused-loop Catalyst expressions) so
  *     that DataFrame pipelines stay inside whole-stage codegen (no UDF,
  *     no deserialization) and remain DuckDB-oracle-expressible.
  */
object Distances {

  // ---------------- Scala kernels (hot loops, no boxing) ----------------

  def sqEuclidean(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var k = 0
    while (k < a.length) { val d = a(k) - b(k); s += d * d; k += 1 }
    s
  }

  def euclidean(a: Array[Double], b: Array[Double]): Double =
    math.sqrt(sqEuclidean(a, b))

  /** Cosine *distance* = 1 − cos-similarity (matches Breeze
    * `cosineDistance`, used by ref `Tsne.scala:165`). */
  def cosine(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var k = 0
    while (k < a.length) {
      dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Metric dispatch by name — same names and failure mode as the
    * reference (`Tsne.scala:161-168`). */
  def byName(name: String): (Array[Double], Array[Double]) => Double =
    name match {
      case "sqeuclidean" => sqEuclidean
      case "euclidean"   => euclidean
      case "cosine"      => cosine
      case _ => throw new IllegalArgumentException(s"Metric '$name' not defined")
    }

  // ---------------- Column expressions (codegen'd, oracle-friendly) ----
  //
  // Native fused-loop Catalyst expressions (graft.expressions): a single
  // primitive loop over both ArrayData in place. The earlier composable
  // `aggregate(zip_with(...))` forms allocate an intermediate array per
  // row — on an N² kNN that allocation was most of the bench. Summation
  // order is identical, so results are bit-for-bit the same.

  import org.apache.spark.sql.{graftglue => glue}
  import graft.expressions._

  def sqEuclideanCol(a: Column, b: Column): Column =
    glue.column(SqEuclideanDistance(glue.expression(a), glue.expression(b)))

  def euclideanCol(a: Column, b: Column): Column =
    glue.column(EuclideanDistance(glue.expression(a), glue.expression(b)))

  def cosineSimCol(a: Column, b: Column): Column =
    glue.column(CosineSimilarity(glue.expression(a), glue.expression(b)))

  def cosineDistCol(a: Column, b: Column): Column =
    lit(1.0) - cosineSimCol(a, b)

  def colByName(name: String): (Column, Column) => Column = name match {
    case "sqeuclidean" => sqEuclideanCol
    case "euclidean"   => euclideanCol
    case "cosine"      => cosineDistCol
    case _ => throw new IllegalArgumentException(s"Metric '$name' not defined")
  }
}
