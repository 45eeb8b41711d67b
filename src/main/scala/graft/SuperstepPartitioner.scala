package graft

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.sql.SparkSession

/** Shuffle key of what one map task sends reduce partition `partition` as
  * one record: a partial of a global quantity (the affinity normalization
  * total, [[graft.tsne.Affinities]]) or a packed block of ids and values
  * (the graph superstep kernels, [[graft.ops.Graph]]; the MinHash kernel,
  * [[graft.pipeline.Dedup]]). */
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

/** One map task's messages for one reduce partition: `values(i)` for id
  * `ids(i)`, and the task's share of a global sum (PageRank's dangling
  * mass). */
private[graft] final case class Messages(ids: Array[Long], values: Array[Long], partial: Long)

/** A map task's `(id, value)` buffers, one per reduce partition. */
private[graft] final class Outbox(part: SuperstepPartitioner) {
  private def buffers = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
  private val (ids, values) = (buffers, buffers)

  def add(q: Int, id: Long, value: Long): Unit = { ids(q) += id; values(q) += value }
  def send(id: Long, value: Long): Unit = add(part.partitionOf(id), id, value)

  /** One [[Messages]] block for each reduce partition that has
    * messages, or for every one when the partial is not zero. */
  def blocks(partial: Long): Iterator[(Any, Messages)] =
    Iterator.range(0, part.numPartitions).flatMap { q =>
      val m = Messages(ids(q).result(), values(q).result(), partial)
      if (m.ids.isEmpty && partial == 0L) None else Some((ReduceShare(q), m))
    }
}

private[graft] object Outbox {

  /** `a` ascending without repeats; sorts `a` in place. */
  def sortedDistinct(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var w = 0
    for (r <- a.indices) if (r == 0 || a(r) != a(r - 1)) { a(w) = a(r); w += 1 }
    java.util.Arrays.copyOf(a, w)
  }
}
