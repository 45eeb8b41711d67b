package graft

import org.apache.spark.rdd.{GraftBlocks, RDD}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Releasing what Spark keeps resident: `spark.catalog.clearCache()` drops
  * Dataset cache entries only, not RDD-level persistence, and a
  * `localCheckpoint`'s blocks are RDD-level. */
object Release {

  /** Drops an RDD's blocks. A local checkpoint is freed quietly: its
    * lineage is truncated by design, so `unpersist`'s WARN says nothing. */
  def rdd(r: RDD[_]): Unit = GraftBlocks.release(r)

  /** Drops the blocks behind a `localCheckpoint`ed frame nothing reads. */
  def checkpoint(checkpointed: Dataset[_]): Unit =
    checkpointed.queryExecution.logical.collect { case r: LogicalRDD => rdd(r.rdd) }

  /** Runs `body`, then clears the Dataset cache and unpersists every RDD
    * that became persistent while it ran — the isolation between queries
    * the Verify and Bench harnesses give each run. */
  def isolated[A](spark: SparkSession)(body: => A): A = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    try body
    finally {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, r) => if (!before(id)) rdd(r) }
    }
  }
}
