package org.apache.spark.rdd

/** Glue into what Spark keeps private: `RDD.isLocallyCheckpointed` and
  * `SparkContext.unpersistRDD`. It frees a local checkpoint's blocks as
  * `RDD.unpersist` does, without the WARN that `unpersist` logs for one: a
  * superseded checkpoint is dropped on purpose, and its truncated lineage
  * is no news. */
object GraftBlocks {
  def release(rdd: RDD[_]): Unit =
    if (rdd.isLocallyCheckpointed) rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    else rdd.unpersist()
}
