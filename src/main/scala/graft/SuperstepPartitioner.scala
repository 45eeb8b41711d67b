package graft

import org.apache.spark.Partitioner
import org.apache.spark.sql.SparkSession

/** Shuffle key of what one map task sends reduce partition `partition` as
  * one record: a partial of a global quantity (the affinity normalization
  * total, [[graft.tsne.Affinities]]) or a packed block of ids and values
  * (the graph superstep kernels, [[graft.ops.Graph]]). */
private[graft] final case class ReduceShare(partition: Int)

/** Hash partitioning of ids (the `HashPartitioner` rule) that sends each
  * [[ReduceShare]] to the reduce partition it names, so every reduce
  * partition receives a global partial in the same shuffle as its own
  * rows, and no aggregate job runs for it. */
private[graft] final case class SuperstepPartitioner(numPartitions: Int)
    extends Partitioner {
  def getPartition(key: Any): Int = key match {
    case ReduceShare(p) => p
    case k => owner(k.hashCode)
  }

  /** The partition of id `v`, as [[getPartition]] places a boxed `Long`,
    * without boxing it. */
  def partitionOf(v: Long): Int = owner(java.lang.Long.hashCode(v))

  private def owner(hash: Int): Int = {
    val m = hash % numPartitions
    if (m < 0) m + numPartitions else m
  }

  /** One copy of a map task's `partial` per reduce partition, each under
    * the [[ReduceShare]] key routed to it. */
  def shares[V](partial: V): Iterator[(Any, V)] =
    Iterator.tabulate(numPartitions)(p => (ReduceShare(p), partial))
}

private[graft] object SuperstepPartitioner {

  /** `spark.sql.shuffle.partitions` parts, the session's shuffle width. */
  def of(spark: SparkSession): SuperstepPartitioner =
    SuperstepPartitioner(spark.sessionState.conf.numShufflePartitions)
}
