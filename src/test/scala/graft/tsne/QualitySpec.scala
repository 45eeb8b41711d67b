package graft.tsne

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Pins the embedding-quality metric and the `q_tsne_quality` gate
  * (VERDICT r3 next-round #1): recall is 1 on a geometry-preserving
  * embedding, collapses to ~chance on a structure-destroying one, and the
  * shipped CORRECTNESS row holds its floor on the sf0.001 fixture. */
class QualitySpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val k = 5

  private def cloud(seed: Int, n: Int, dim: Int): Seq[Point] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => Point(i.toLong, Array.fill(dim)(rng.nextGaussian())))
  }

  "neighborRecall" should "be 1.0 when the embedding preserves the geometry" in {
    val s = spark
    import s.implicits._
    val pts = s.createDataset(cloud(1, 120, 2))
    val truth = Knn.bruteForce(pts, k, "sqeuclidean").toDF()
    val row = Quality.neighborRecall(truth, pts, k).head()
    row.getLong(row.fieldIndex("n_points")) shouldBe 120L
    row.getLong(row.fieldIndex("hits")) shouldBe 120L * k
  }

  it should "collapse toward chance when the embedding shuffles the points" in {
    val s = spark
    import s.implicits._
    val pts = s.createDataset(cloud(2, 120, 8))
    val truth = Knn.bruteForce(pts, k, "sqeuclidean").toDF()
    // unrelated random 2-D positions: neighborhoods are destroyed
    val shuffled = s.createDataset(cloud(3, 120, 2))
    val row = Quality.neighborRecall(truth, shuffled, k).head()
    val recall = row.getLong(row.fieldIndex("hits")).toDouble / (120.0 * k)
    // chance level is k/(n-1) ≈ 0.042; allow generous slack
    recall should be < 0.15
  }

  "q_tsne_quality" should "hold its recall floor on the sf0.001 fixture" in {
    val row = graft.SparkEntry.queries("q_tsne_quality")(
      spark, "/root/testdata/sf0.001").head()
    row.getLong(row.fieldIndex("n_points")) shouldBe 500L
    row.getLong(row.fieldIndex("recall_ok")) shouldBe 1L
  }

  "q_tsne_quality_clustered" should "hold its 0.6 floor on the clustered fixture" in {
    val row = graft.SparkEntry.queries("q_tsne_quality_clustered")(
      spark, "unused-dir").head()
    row.getLong(row.fieldIndex("n_points")) shouldBe 2000L
    row.getLong(row.fieldIndex("recall_ok")) shouldBe 1L
  }

  it should "be discriminating: a mis-scheduled optimizer fails the floor" in {
    // The broken run goes through the IDENTICAL local loop with the
    // schedule truncated after phase 1 (the 20 exaggerated warm-up iters) —
    // the mis-schedule that measurably damages output. Measured 0.332 vs
    // healthy 0.900 (ClusteredCalibrate); floor 0.6. (Skipping only phase 2
    // measured harmless at 0.895 — the remaining plain iterations recover —
    // so that variant is NOT a discriminator and is not pinned.)
    val s = spark
    import s.implicits._
    val k = 10
    val points = s.createDataset(Quality.clusteredCloud(2000, 200, 10, seed = 4242L))
    val ranked = Knn.bruteForceRanked(points, 30, "sqeuclidean")
      .persist()
    val knn = ranked.select(
      org.apache.spark.sql.functions.col("i"),
      org.apache.spark.sql.functions.col("j"),
      org.apache.spark.sql.functions.col("dist")).as[Neighbor]
    val params = Optimizer.Params(perplexity = 5.0, iterations = 250, seed = 42L)
    val p = Affinities.highDimAffinities(knn, params.perplexity)
    val pArr = p.collect()
    val ws0 = Optimizer.initWorkingSet(p, 2, params.seed).collect()
    val truncated = Seq((20, params.initialMomentum, true, 0))
    val (brokenPts, _) = Optimizer.optimizeLocalSchedule(pArr, ws0, params, truncated)
    val truth = ranked.where(org.apache.spark.sql.functions.col("rn") <= k)
    val row = Quality.neighborRecall(truth, s.createDataset(brokenPts.toSeq), k).head()
    val recall = row.getLong(row.fieldIndex("hits")).toDouble / (2000.0 * k)
    ranked.unpersist()
    recall should be < 0.6
  }
}
