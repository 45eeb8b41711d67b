package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._
import graft.tsne._

/** Driver contract: the flagship `entry` plus every named query with its
  * DuckDB oracle. Each query is one [[graft.queries.QuerySpec]], declared
  * in the object of its family; to add a query, add its spec there. */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0: the full
    * t-SNE pipeline on the embeddings table (kNN → affinities → optimize). */
  def entry(spark: SparkSession): DataFrame = {
    val points = IO.readEmbeddings(spark, "/root/testdata/sf0.001")
    val knn = Knn.bruteForce(points, 10, "sqeuclidean")
    val emb = Tsne.computeEmbedding(knn,
      Optimizer.Params(perplexity = 3.0, iterations = 50, seed = 42L))
    emb.select(col("id"), col("vec")(0).as("y0"), col("vec")(1).as("y1"))
  }

  /** Every registered query by name, built once. */
  private val registry: Map[String, QuerySpec] = QuerySpec.registry(
    TsneQueries.specs ++ RelationalQueries.specs ++ TextQueries.specs ++
      DedupQueries.specs ++ GraphQueries.specs ++ AnnQueries.specs ++
      FitQueries.specs ++ EventQueries.specs ++ CrawlQueries.specs ++
      ExtractQueries.specs ++ MediaQueries.specs ++ SamplingQueries.specs)

  /** The query bodies by name (a view of [[registry]]). */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.view.mapValues(_.run).toMap

  /** The oracle SQL by name (a view of [[registry]]). */
  val oracleSql: Map[String, String] = registry.view.mapValues(_.oracle).toMap
}
