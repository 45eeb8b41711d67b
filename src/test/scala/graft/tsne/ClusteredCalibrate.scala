package graft.tsne

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off calibration for the `q_tsne_quality_clustered` recall floor:
  * prints healthy vs broken-schedule (phase 2 skipped) neighbor-recall@10
  * on candidate clustered fixtures.
  * Run: `sbt 'Test/runMain graft.tsne.ClusteredCalibrate'` */
object ClusteredCalibrate {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("clustered-calibrate")
      .master("local[*]")
      .config("spark.sql.shuffle.partitions", 32)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val k = 10
    try for ((n, clusters, dim, perp) <- Seq(
      (2000, 200, 10, 5.0), (2000, 200, 10, 10.0), (2000, 250, 10, 5.0))) {
      val points = spark.createDataset(Quality.clusteredCloud(n, clusters, dim, seed = 4242L))
      val ranked = Knn.bruteForceRanked(points, 30, "sqeuclidean")
        .persist()
      val knn = ranked.select(col("i"), col("j"), col("dist")).as[Neighbor]
      val truth = ranked.where(col("rn") <= k)
      val params = Optimizer.Params(perplexity = perp, iterations = 250, seed = 42L)

      def recallOf(emb: org.apache.spark.sql.Dataset[Point]): Double = {
        val row = Quality.neighborRecall(truth, emb, k).head()
        row.getLong(row.fieldIndex("hits")).toDouble /
          (row.getLong(row.fieldIndex("n_points")) * k)
      }

      val healthy = recallOf(Tsne.computeEmbedding(knn, params))

      val p = Affinities.highDimAffinities(knn, params.perplexity)
      val pArr = p.collect()
      val ws0 = Optimizer.initWorkingSet(p, 2, params.seed).collect()
      def runSchedule(sched: Seq[(Int, Double, Boolean, Int)]): Double = {
        val (pts, _) = Optimizer.optimizeLocalSchedule(
          pArr.map(r => r.copy(js = r.js.clone(), ps = r.ps.clone())),
          ws0.map(w => w.copy(y = w.y.clone(), lastGrad = w.lastGrad.clone(),
            gains = w.gains.clone())),
          params, sched)
        recallOf(spark.createDataset(pts.toSeq))
      }
      val im = params.initialMomentum; val fm = params.finalMomentum
      val skipP2 = runSchedule(Seq((20, im, true, 0), (199, fm, false, 20)))
      val onlyP1 = runSchedule(Seq((20, im, true, 0)))
      val noExagg = runSchedule(Seq((20, im, false, 0), (81, fm, false, 20),
        (149, fm, false, 101)))
      val skipP3 = runSchedule(Seq((20, im, true, 0), (81, fm, true, 20)))

      println(f"CLUSTCALIB n=$n clusters=$clusters dim=$dim perp=$perp " +
        f"healthy=$healthy%.3f skipP2=$skipP2%.3f onlyP1=$onlyP1%.3f " +
        f"noExagg=$noExagg%.3f skipP3=$skipP3%.3f")
      ranked.unpersist()
    } finally spark.stop()
  }
}
