package graft.tsne

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** One-off calibration harness for the `q_tsne_quality` recall floor:
  * prints the raw neighbor-recall@10 of the seeded pipeline per sf dir
  * (the shipped query only emits the floored flag).
  * Run: `sbt 'Test/runMain graft.tsne.QualityCalibrate /root/testdata/sf0.01'` */
object QualityCalibrate {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("quality-calibrate")
      .master(sys.env.getOrElse("CALIB_MASTER", "local[*]"))
      .config("spark.sql.extensions",
        sys.env.getOrElse("CALIB_EXTENSIONS", ""))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    try args.foreach { dir =>
      val k = 10
      val points = IO.readEmbeddings(spark, dir)
      val ranked = Knn.bruteForceRanked(points, 30, "sqeuclidean")
        .persist()
      val knn = ranked.select(col("i"), col("j"), col("dist")).as[Neighbor]
      knn.count() // materialize the cached kNN before timing the pipeline
      val t0 = System.nanoTime()
      val emb = Tsne.computeEmbedding(knn,
        Optimizer.Params(perplexity = 10.0, iterations = 250, seed = 42L))
      val row = Quality.neighborRecall(ranked.where(col("rn") <= k), emb, k)
        .head()
      val n = row.getLong(row.fieldIndex("n_points"))
      val hits = row.getLong(row.fieldIndex("hits"))
      println(f"CALIB $dir n=$n recall=${hits.toDouble / (n * k)}%.4f " +
        f"pipeline_sec=${(System.nanoTime() - t0) / 1e9}%.1f")
      ranked.unpersist()
    } finally spark.stop()
  }
}
