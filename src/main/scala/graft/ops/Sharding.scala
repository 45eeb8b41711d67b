package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.pipeline.Hashing

/** Deterministic global shuffle + fixed-size shard assignment — the final
  * stage of a training-data pipeline: examples must reach the trainer in a
  * reproducible pseudo-random order, cut into equal shards (files) whose
  * membership and internal order never depend on cluster layout.
  *
  * The order is (hash60(key#salt), key): a seeded permutation of the
  * dataset decided per row identity, so the same corpus + salt yields the
  * same shard layout on any engine — and a different salt reshuffles
  * between epochs without touching the data.
  *
  * The global rank is computed terasort-style: range-partition by the sort
  * key, sort within partitions (range partitions are globally ordered, so
  * concatenation IS the total order), then offset each partition by the
  * preceding partitions' row counts — a bounded P-element count exchange
  * (`zipWithIndex`'s plan), NOT a single-partition window. A
  * `row_number() OVER (ORDER BY ...)` with no partition clause — the
  * naive spelling — funnels 100 TB through one task; this never
  * materializes more than a partition per task. The assignment is also
  * independent of the partition count: rank only depends on the total
  * order, so any P gives byte-identical shards (pinned in OpsSpec).
  */
object Sharding {

  /** Adds `(shard, pos)` to `df`: `shard` = rank / shardSize, `pos` =
    * rank % shardSize under the salted global order. `keyCol` must be
    * unique (it is the tiebreaker that makes the order total). */
  def assignShards(df: DataFrame, keyCol: String, shardSize: Long,
                   salt: String = "shard", partitions: Int = 0): DataFrame = {
    require(shardSize > 0, s"shardSize must be positive, got $shardSize")
    Seq("shard", "pos", "__h", "__rank").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column (reserved by assignShards)"))
    val spark = df.sparkSession
    val h = Hashing.hash60(
      concat(coalesce(col(keyCol).cast("string"), lit("null")),
        lit("#" + salt)))
    // no explicit partition count unless the caller pins one: AQE sizes an
    // unnumbered range exchange by bytes, and the assignment is
    // partition-count invariant (rank depends only on the total order)
    val withH = df.withColumn("__h", h)
    val ranged =
      if (partitions > 0) withH.repartitionByRange(partitions, col("__h"), col(keyCol))
      else withH.repartitionByRange(col("__h"), col(keyCol))
    val sorted = ranged.sortWithinPartitions(col("__h"), col(keyCol))
    val schema = sorted.schema.add("__rank", LongType, nullable = false)
    val indexed = spark.createDataFrame(
      sorted.rdd.zipWithIndex().map { case (row, idx) =>
        Row.fromSeq(row.toSeq :+ idx)
      }, schema)
    indexed.select(
      df.columns.map(col) ++ Seq(
        (col("__rank") / shardSize).cast("long").as("shard"),
        (col("__rank") % shardSize).as("pos")): _*)
  }
}
