package graft.tsne

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A verbatim copy of `Knn.bruteForce` as it stood before the one-stage
  * kernel: the left side repartitioned over the shuffle parallelism, a
  * cross join computing the codegen'd distance per pair, self-pairs
  * dropped, then the ranking window over `i` ordered by `(dist, j)`.
  * `KnnSpec` pins the kernel `==` to it bit for bit; `KnnBench` times it.
  */
private[tsne] object FormerKnn {

  def bruteForceRanked(points: Dataset[Point], k: Int, metric: String): DataFrame = {
    val spark = points.sparkSession
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val df = points.toDF()
    val a = df.repartition(parallelism).select(col("id").as("i"), col("vec").as("va"))
    val b = df.select(col("id").as("j"), col("vec").as("vb"))
    val pairs = a.crossJoin(b)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        Distances.colByName(metric)(col("va"), col("vb")).as("dist"))
    val w = Window.partitionBy("i").orderBy(col("dist"), col("j"))
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("i"), col("j"), col("rn"), col("dist"))
  }

  def bruteForce(points: Dataset[Point], k: Int, metric: String): Dataset[Neighbor] = {
    val spark = points.sparkSession
    import spark.implicits._
    bruteForceRanked(points, k, metric).select(col("i"), col("j"), col("dist")).as[Neighbor]
  }
}
