package graft.ops

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ReduceShare, SuperstepPartitioner}

/** A verbatim copy of the `Graph` superstep kernels as they stood before
  * the packed-block kernels: the adjacency built by a `cogroup` of the
  * edge rows, and every superstep one per-record `reduceByKey`.
  * `GraphKernelSpec` pins the current kernels `==` to these bit for bit.
  */
private[ops] object FormerGraph {

  def pageRank(edges: DataFrame, iters: Int = 5,
               scale: Long = 1000000000000L,
               checkpointEvery: Int = 6): DataFrame =
    rankSupersteps(edges, None, iters, scale, checkpointEvery)

  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           scale: Long = 1000000000000L,
                           checkpointEvery: Int = 6): DataFrame =
    rankSupersteps(edges, Some(seeds), iters, scale, checkpointEvery)

  /** A node's static superstep state: its out-neighbours (duplicates kept,
    * so multiplicity counts) and whether it takes restart and dangling
    * mass (every node in PageRank, the seeds in PPR). */
  private final case class Adjacency(out: Array[Long], restart: Boolean)

  /** The PageRank/PPR superstep kernel. The adjacency is built once,
    * partitioned by [[SuperstepPartitioner]] and `localCheckpoint`ed; the
    * job that materializes it also counts the restart nodes. The rank RDD
    * is always produced by walking the adjacency partition in order, so
    * each superstep reads both sides position by position (a narrow,
    * co-partitioned join) and runs ONE shuffle: a `reduceByKey` of the
    * contributions keyed by `dst`, plus one dangling partial per map task
    * for every reduce partition. No job runs per superstep — the caller's
    * action executes all of them. */
  private def rankSupersteps(edges: DataFrame, seeds: Option[DataFrame],
                             iters: Int, scale: Long,
                             checkpointEvery: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val spark = edges.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val everyNode = seeds.isEmpty
    val e = longPairs(edges.select("src", "dst"))
    val seedIds = seeds.fold(spark.sparkContext.emptyRDD[(Long, Unit)])(
      _.select(col("node").cast("long")).na.drop().rdd.map(r => (r.getLong(0), ())))
    val adj = e.cogroup(e.map { case (_, d) => (d, ()) }, seedIds, part)
      .mapValues { case (out, _, seed) =>
        Adjacency(out.toArray, everyNode || seed.nonEmpty) }
      .localCheckpoint()
    val restartNodes = adj.aggregate(0L)(
      (n, a) => if (a._2.restart) n + 1 else n, _ + _)
    require(restartNodes > 0,
      if (everyNode) "pageRank needs a non-empty edge table"
      else "personalizedPageRank needs a non-empty seed set")
    val base = scale / restartNodes

    var ranks = adj.mapValues(a => if (a.restart) base else 0L)
    var it = 0
    while (it < iters) {
      val sums = adj.zipPartitions(ranks) { (as, rs) =>
        var dm = 0L
        val contribs = as.zip(rs).flatMap { case ((_, a), (_, r)) =>
          if (a.out.isEmpty) { dm += r; Iterator.empty }
          else {
            val c = r / a.out.length
            a.out.iterator.map(d => (d: Any, c))
          }
        }
        // `++` takes its operand by name: the partials are built after
        // the contributions are drained, when `dm` is final
        contribs ++ (if (dm == 0L) Iterator.empty else part.shares(dm))
      }.reduceByKey(part, _ + _)
      ranks = adj.zipPartitions(sums) { (as, ss) =>
        val contrib = new mutable.LongMap[Long]
        var dm = 0L
        ss.foreach {
          case (ReduceShare(_), x) => dm = x
          case (v: Long, x) => contrib(v) = x
        }
        val share = dm / restartNodes
        as.map { case (v, a) =>
          val (b, d) = if (a.restart) (base, share) else (0L, 0L)
          (v, (15L * b + 85L * (contrib.getOrElse(v, 0L) + d)) / 100L)
        }
      }
      it += 1
      if (it % checkpointEvery == 0 && it < iters) ranks.localCheckpoint()
    }
    spark.createDataFrame(ranks).toDF("node", "rank")
  }

  /** The first two columns of `df` as long pairs, rows with a null dropped. */
  private def longPairs(df: DataFrame): RDD[(Long, Long)] =
    df.select(df.columns.take(2).toSeq.map(c => col(c).cast("long")): _*)
      .na.drop().rdd.map(r => (r.getLong(0), r.getLong(1)))

  /** The undirected simple adjacency `node → distinct neighbours` of
    * `edges` (self-loops dropped, parallel and reversed edges collapsed),
    * partitioned by `part` and `localCheckpoint`ed; the caller's first job
    * materializes it. With a `domain`, only its ids are keys, though their
    * neighbour arrays may still name ids outside it. */
  private def undirectedAdjacency(edges: RDD[(Long, Long)],
                                  domain: Option[RDD[Long]],
                                  part: Partitioner): RDD[(Long, Array[Long])] = {
    val restricted = domain.isDefined
    val arcs = edges.flatMap { case (a, b) =>
      if (a == b) Iterator.empty else Iterator((a, b), (b, a)) }
    val keys = domain.fold(edges.sparkContext.emptyRDD[(Long, Unit)])(
      _.map(v => (v, ())))
    arcs.cogroup(keys, part)
      .filter { case (_, (ns, in)) => ns.nonEmpty && (!restricted || in.nonEmpty) }
      .mapValues { case (ns, _) => ns.toArray.distinct }
      .localCheckpoint()
  }

  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val idType = edges.select(least(col("src"), col("dst"))).schema.head.dataType
    val adj = undirectedAdjacency(longPairs(edges.select("src", "dst")), None, part)
    val peels = (d: Int) => d >= 0 && d < k
    var deg = adj.mapValues(_.length).localCheckpoint()
    var dying = deg.filter(v => peels(v._2)).count()
    var rounds = 0
    while (dying > 0) {
      if (rounds == maxRounds)
        throw new IllegalStateException(
          s"kCore(k=$k) did not reach the fixpoint in $maxRounds rounds " +
            "(pathologically deep cascade) — raise maxRounds")
      val lost = adj.zipPartitions(deg) { (as, ds) =>
        as.zip(ds).flatMap { case ((_, ns), (_, d)) =>
          if (peels(d)) ns.iterator.map(n => (n, 1)) else Iterator.empty }
      }.reduceByKey(part, _ + _)
      val next = deg.zipPartitions(lost) { (ds, ls) =>
        val m = mutable.LongMap.from(ls)
        ds.map { case (v, d) => (v, if (d < k) -1 else d - m.getOrElse(v, 0)) }
      }.localCheckpoint()
      dying = next.filter(v => peels(v._2)).count()
      deg.unpersist()
      deg = next
      rounds += 1
    }
    adj.unpersist()
    spark.createDataFrame(deg.filter(_._2 >= k).mapValues(_.toLong))
      .toDF("node", "deg").select(col("node").cast(idType), col("deg"))
  }

  /** The connected-components kernel of
    * [[graft.pipeline.Dedup.duplicateClusters]], which states the contract.
    * The state is each connected node's label and whether it changed last
    * round (only a changed label is sent). Per round: ONE `reduceByKey` of
    * neighbour minima, a narrow apply, from the third round
    * [[halvePaths]], then a `localCheckpoint` whose job counts the changed
    * labels. Ids without an edge skip the rounds and are unioned back. */
  private[graft] def components(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val id = nodes.schema.head
    val ids = nodes.select(col(id.name).cast("long")).na.drop().rdd.map(_.getLong(0))
    val adj = undirectedAdjacency(longPairs(edges), Some(ids), part)
    var labels = adj.mapPartitions(_.map { case (v, _) => (v, (v, true)) },
      preservesPartitioning = true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val nbrMin = adj.zipPartitions(labels) { (as, ls) =>
        as.zip(ls).flatMap { case ((_, ns), (_, (l, fresh))) =>
          if (fresh) ns.iterator.map(n => (n, l)) else Iterator.empty }
      }.reduceByKey(part, math.min(_, _))
      val prop = labels.zipPartitions(nbrMin, preservesPartitioning = true) { (ls, ms) =>
        val m = mutable.LongMap.from(ms)
        ls.map { case (v, (l, _)) => val b = math.min(l, m.getOrElse(v, l)); (v, (b, b < l)) }
      }
      // plain propagation settles the shallow stars of real near-dup
      // graphs in two rounds; halving from the third keeps a deep chain
      // at O(log D) rounds
      val next = (if (rounds < 2) prop else halvePaths(prop, part)).localCheckpoint()
      changed = next.filter(_._2._2).count()
      labels.unpersist()
      labels = next
      rounds += 1
    }
    adj.unpersist()
    // convergence is a CORRECTNESS property, not best-effort: exiting on
    // the round cap with changes still flowing would silently return split
    // components for any duplicate chain of diameter > cap
    require(changed == 0,
      s"duplicateClusters did not converge after $rounds rounds " +
        "(a duplicate chain longer than the round cap exists); " +
        "raise the cap or pre-collapse exact duplicates first")
    val singletons = ids.map(v => (v, ())).subtractByKey(labels, part)
      .map { case (v, _) => (v, v) }
    spark.createDataFrame(labels.mapValues(_._1).union(singletons))
      .toDF("id", "cluster")
      .select(col("id").cast(id.dataType), col("cluster").cast(id.dataType))
  }

  /** One path-halving step, `l(v) ← min(l(v), l(l(v)))`: every label is
    * a node of the same state, so each node asks its label's owner (two
    * shuffles, there and back) and a chain's depth halves. */
  private def halvePaths(labels: RDD[(Long, (Long, Boolean))],
                         part: Partitioner): RDD[(Long, (Long, Boolean))] = {
    val asks = labels.flatMap { case (v, (l, _)) =>
      if (l == v) Iterator.empty else Iterator((l, v)) }.partitionBy(part)
    val answers = labels.zipPartitions(asks) { (ls, qs) =>
      val own = mutable.LongMap.from(ls.map { case (v, (l, _)) => (v, l) })
      qs.map { case (t, v) => (v, own(t)) }
    }.partitionBy(part)
    labels.zipPartitions(answers, preservesPartitioning = true) { (ls, as) =>
      val m = mutable.LongMap.from(as)
      ls.map { case (v, (l, fresh)) =>
        val j = m.getOrElse(v, l)
        if (j < l) (v, (j, true)) else (v, (l, fresh))
      }
    }
  }
}
