package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tsne.Distances

/** Prototypicality scoring over a clustered embedding corpus — the
  * centroid-distance signal SemDeDup-family pruning strategies rank by
  * (drop the most prototypical rows as redundant, or the farthest as
  * outliers; arXiv:2303.09540, arXiv:2308.12284 "D4"). Exact and fully
  * relational: the centroid is a per-(cluster, dim) average via
  * `posexplode` + one hash aggregation (map-side partials — never a
  * per-cluster `collect`), the score one broadcast join + the codegen'd
  * cosine expression, and the per-cluster top-k executes through Spark's
  * `WindowGroupLimit` (k rows per cluster and task cross the exchange;
  * clusters are never ranked whole). Scale shape: shuffle ∝ N·d for the
  * centroid agg + N for the rank — no pairwise term anywhere, unlike the
  * near-dup operators.
  */
object Prototypes {

  /** Per-cluster mean vector: `(cluster, centroid)`. Dims are averaged as
    * `(cluster, pos)` groups, then reassembled in position order — two
    * hash aggregations, any cluster count. */
  def clusterCentroids(df: DataFrame, clusterCol: String,
                       vecCol: String): DataFrame =
    df.select(col(clusterCol).as("cluster"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("cluster", "pos").agg(avg("v").as("m"))
      .groupBy("cluster")
      // struct sort orders by the leading field (pos) — the reassembled
      // array is in dimension order regardless of aggregation order
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cluster"), col("pm.m").as("centroid"))

  /** The `k` most prototypical rows per cluster: cosine similarity to the
    * cluster centroid, descending, ties by id. Returns
    * `(cluster, id, proto_sim, rn)`. */
  def topPrototypes(df: DataFrame, clusterCol: String, idCol: String,
                    vecCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // the centroid side's key is renamed so a caller whose cluster column
    // is literally named "cluster" doesn't hit an ambiguous reference
    val cents = clusterCentroids(df, clusterCol, vecCol)
      .select(col("cluster").as("__cl"), col("centroid"))
    val scored = df
      .join(broadcast(cents), col(clusterCol) === col("__cl"))
      .select(col(clusterCol), col(idCol).as("id"),
        Distances.cosineSimCol(col(vecCol), col("centroid")).as("proto_sim"))
    val w = Window.partitionBy(col(clusterCol))
      .orderBy(col("proto_sim").desc, col("id"))
    scored.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }
}
