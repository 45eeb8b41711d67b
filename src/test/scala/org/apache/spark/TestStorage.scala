package org.apache.spark

/** Test access to the block manager master, which is private to Spark. */
object TestStorage {

  /** Ids of the RDDs with at least one block stored on some block manager,
    * whether or not anything still references the RDD. */
  def rddsWithBlocks(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .flatMap(_.asRDDId).map(_.rddId).toSet
}
