package graft.tsne

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

import graft.{ReduceShare, SuperstepPartitioner}

/** High-dimensional affinity computation (ref: `TsneHelpers.scala:162-196,
  * 434-504` and the sparse-row assembly at `Tsne.scala:119-129`): the
  * perplexity calibration, and the affinity kernel that turns kNN
  * distances into P's sparse rows in two shuffles on the superstep
  * partitioner (see [[highDimAffinities]]).
  */
object Affinities {

  // ---------------- O21: per-point perplexity calibration (pure math) ----

  /** Entropy H(Pᵢ) at a given β = 1/2σ² (ref `TsneHelpers.scala:490-495`):
    * H = log ΣP + β · Σ(d·P)/ΣP with ΣP floored at 1e-7. */
  private[tsne] def computeH(dists: Array[Double], beta: Double): Double = {
    var sumP = 0.0
    var sumDP = 0.0
    var k = 0
    while (k < dists.length) {
      val p = math.exp(-dists(k) * beta)
      sumP += p
      sumDP += dists(k) * p
      k += 1
    }
    if (sumP == 0.0) sumP = 1e-7
    math.log(sumP) + beta * sumDP / sumP
  }

  /** Normalized conditional probabilities p_{j|i} at a given β
    * (ref `TsneHelpers.scala:497-504`, same 1e-7 zero-sum guard). */
  private[tsne] def computeP(dists: Array[Double], beta: Double): Array[Double] = {
    val p = new Array[Double](dists.length)
    var sumP = 0.0
    var k = 0
    while (k < dists.length) { p(k) = math.exp(-dists(k) * beta); sumP += p(k); k += 1 }
    if (sumP == 0.0) sumP = 1e-7
    k = 0
    while (k < dists.length) { p(k) /= sumP; k += 1 }
    p
  }

  /** 50-iteration bisection on β to hit H(Pᵢ) = log(perplexity) within 1e-5
    * (ref `TsneHelpers.scala:434-488`): doubles β while unbounded above,
    * halves while unbounded below, bisects once bracketed. Iterative rather
    * than the reference's recursion — same sequence of β values. */
  private[tsne] def calibrateBeta(dists: Array[Double], perplexity: Double,
                                  maxIter: Int = 50, tol: Double = 1e-5): Array[Double] = {
    val targetH = math.log(perplexity)
    var beta = 1.0
    var lo = Double.NegativeInfinity
    var hi = Double.PositiveInfinity
    var iter = maxIter
    var h = computeH(dists, beta)
    while (math.abs(h - targetH) >= tol && iter > 0) {
      if (h - targetH > 0) {
        // entropy too high -> raise beta; current guess becomes lower bound
        lo = beta
        beta = if (hi.isInfinite) beta * 2 else (beta + hi) / 2
      } else {
        hi = beta
        beta = if (lo.isInfinite) beta / 2 else (beta + lo) / 2
      }
      h = computeH(dists, beta)
      iter -= 1
    }
    computeP(dists, beta)
  }

  // ---------------- O10: pairwise affinities ----------------------------

  /** Conditional distribution p_{j|i} from kNN distances
    * (ref `TsneHelpers.scala:162-180`): the first step of the affinity
    * kernel ([[conditional]]), a shuffle on `i` and the per-point
    * bisection, as a Dataset. */
  def pairwiseAffinities(knn: Dataset[Neighbor], perplexity: Double): Dataset[Neighbor] = {
    val spark = knn.sparkSession
    import spark.implicits._
    spark.createDataset(conditional(knn.rdd, perplexity, SuperstepPartitioner.of(spark)))
  }

  // ---------------- the affinity kernel: kNN → P in sparse rows ----------

  /** One map task's entries `(j, v)` of one row. */
  private final case class RowPart(js: Array[Long], vs: Array[Double])

  /** Folds a map task's `(row, j, v)` entries into one [[RowPart]] per
    * row, so a shuffle by row id moves one record per row and task. */
  private final class RowFolder {
    private val rows =
      new mutable.LongMap[(mutable.ArrayBuilder.ofLong, mutable.ArrayBuilder.ofDouble)]

    def add(row: Long, j: Long, v: Double): Unit = {
      val (js, vs) = rows.getOrElseUpdate(row,
        (new mutable.ArrayBuilder.ofLong, new mutable.ArrayBuilder.ofDouble))
      js += j
      vs += v
    }

    def parts: Iterator[(Any, Any)] =
      rows.iterator.map { case (row, (js, vs)) => (row, RowPart(js.result(), vs.result())) }
  }

  /** A sum of doubles kept exact: the finite terms as a `BigDecimal`,
    * and the NaN and infinite ones, which a double sum would propagate,
    * as a double. */
  private final case class ExactSum(finite: java.math.BigDecimal, other: Double) {
    def +(v: Double): ExactSum =
      if (java.lang.Double.isFinite(v)) ExactSum(finite.add(new java.math.BigDecimal(v)), other)
      else ExactSum(finite, other + v)
    def +(o: ExactSum): ExactSum = ExactSum(finite.add(o.finite), other + o.other)
    /** The sum, rounded once. */
    def toDouble: Double = finite.doubleValue + other
  }
  private val ZeroSum = ExactSum(java.math.BigDecimal.ZERO, 0.0)

  /** A reduce partition's rows: every [[RowPart]] of one row id gathered
    * into `(j, v)` entries, plus the sum of the [[graft.ReduceShare]]
    * partials it received (zero when none were sent). */
  private def gather(received: Iterator[(Any, Any)])
      : (Iterator[(Long, Array[(Long, Double)])], ExactSum) = {
    val parts = new mutable.LongMap[List[RowPart]]
    var total = ZeroSum
    received.foreach {
      case (ReduceShare(_), partial: ExactSum) => total += partial
      case (row: Long, rp: RowPart) => parts(row) = rp :: parts.getOrElse(row, Nil)
    }
    val rows = parts.iterator.map { case (row, rps) =>
      (row, rps.iterator.flatMap(rp => rp.js.iterator.zip(rp.vs.iterator)).toArray)
    }
    (rows, total)
  }

  /** O10, the reference's `groupBy(i).reduceGroup`: the kNN rows shuffled
    * by `i` (one [[RowPart]] per point and map task), then each point's
    * bisection. A point's neighbours are calibrated in `(dist, j)` order,
    * so its sums, and hence p, do not depend on the order the rows arrive
    * in; nearest first is the order the [[Knn]] methods emit them in, so
    * on their output p is bit-identical to a bisection in arrival order.
    * Within [[highDimAffinities]] the output stays in its reduce tasks,
    * where [[jointRows]] picks it up without another stage. */
  private def conditional(knn: RDD[Neighbor], perplexity: Double,
                          part: SuperstepPartitioner): RDD[Neighbor] =
    knn.mapPartitions { rows =>
      val folder = new RowFolder
      rows.foreach(n => folder.add(n.i, n.j, n.dist))
      folder.parts
    }.partitionBy(part).mapPartitions { received =>
      gather(received)._1.flatMap { case (i, neighbours) =>
        neighbours.sortInPlaceWith { (a, b) =>
          val c = java.lang.Double.compare(a._2, b._2)
          if (c != 0) c < 0 else a._1 < b._1
        }
        val p = calibrateBeta(neighbours.map(_._2), perplexity)
        neighbours.indices.iterator.map(k => Neighbor(i, neighbours(k)._1, p(k)))
      }
    }

  /** Symmetrize + normalize + sparse-row assembly (O11 + O12, ref
    * `TsneHelpers.scala:182-196` and `Tsne.scala:119-129`) in ONE shuffle:
    * p_ij = (p_{j|i} + p_{i|j}) / Σ, grouped by row id `i` into parallel
    * `(js, ps)` arrays sorted by `j`.
    *
    * Each map task sends every conditional entry to both of its rows, `i`
    * and `j`. Next to those it sends its partial of the normalization
    * total to every reduce partition under a [[graft.ReduceShare]] key
    * (the trick the PageRank kernel uses for its dangling mass), so the
    * same shuffle by row id carries both and no aggregate job runs. A
    * reduce task sums its rows' entries per `(row, j)` in `(j, p)` order
    * and divides by the total.
    *
    * The total is Σ over the symmetrized entries, i.e. 2·Σ p_{j|i}. It is
    * summed exactly ([[ExactSum]]) and rounded once, so P is
    * bit-identical at every shuffle-partition count and row arrival
    * order. (The reference's `max(_, Double.MinValue)` clamps at
    * `:191,194` are no-ops, since scala `Double.MinValue` is −1.8e308, so
    * plain division is faithful; SURVEY.md §2 O11.) */
  private def jointRows(cond: RDD[Neighbor], part: SuperstepPartitioner): RDD[AffinityRow] =
    cond.mapPartitions { entries =>
      val folder = new RowFolder
      var sum = ZeroSum
      entries.foreach { n =>
        folder.add(n.i, n.j, n.dist)
        folder.add(n.j, n.i, n.dist)
        sum += n.dist
      }
      folder.parts ++ part.shares(sum)
    }.partitionBy(part).mapPartitions { received =>
      val (rows, sum) = gather(received)
      val total = 2 * sum.toDouble
      rows.map { case (id, es) => symmetrizedRow(id, es, total) }
    }

  /** Row `id` of P from its entries: sorted by `(j, p)`, the values of one
    * `j` summed in that order, each sum divided by `total`. */
  private def symmetrizedRow(id: Long, es: Array[(Long, Double)], total: Double): AffinityRow = {
    es.sortInPlace()(Ordering.Tuple2(Ordering.Long, Ordering.Double.TotalOrdering))
    val js = new mutable.ArrayBuilder.ofLong
    val ps = new mutable.ArrayBuilder.ofDouble
    var k = 0
    while (k < es.length) {
      val j = es(k)._1
      var p = es(k)._2
      k += 1
      while (k < es.length && es(k)._1 == j) { p += es(k)._2; k += 1 }
      js += j
      ps += p / total
    }
    AffinityRow(id, js.result(), ps.result())
  }

  /** O11 — the joint distribution p_ij of conditional affinities `p`, as
    * `(i, j, p)` triples: the rows of [[jointRows]], exploded. */
  def jointDistribution(p: Dataset[Neighbor]): Dataset[Neighbor] = {
    val spark = p.sparkSession
    import spark.implicits._
    spark.createDataset(jointRows(p.rdd, SuperstepPartitioner.of(spark)).flatMap(r =>
      r.js.indices.iterator.map(k => Neighbor(r.id, r.js(k), r.ps(k)))))
  }

  // ---------------- O12: COO → sparse-row assembly -----------------------

  /** Group a joint distribution given as triples by row id into parallel
    * (j, p) arrays, sorted by j (ref `Tsne.scala:119-129` builds a Breeze
    * SparseVector of fake capacity n²; only the active entries matter).
    * One hash shuffle. [[highDimAffinities]] assembles its rows inside
    * the [[jointRows]] kernel instead. */
  def toAffinityRows(joint: Dataset[Neighbor]): Dataset[AffinityRow] = {
    val spark = joint.sparkSession
    import spark.implicits._
    joint.groupByKey(_.i)
      .mapGroups { (i, rows) =>
        val sorted = rows.toArray.sortBy(_.j)
        AffinityRow(i, sorted.map(_.j), sorted.map(_.dist))
      }
  }

  /** The affinity kernel: kNN distances → P as sparse rows, with the
    * early-exaggeration factor applied lazily by the optimizer. Two
    * shuffles, both on [[graft.SuperstepPartitioner]]: the kNN rows by
    * `i` ([[conditional]]), then the conditional entries by row id
    * ([[jointRows]]), the calibration running in the second one's map
    * tasks. `Dataset.rdd` runs the exchanges `knn`'s own plan has (AQE
    * materializes them) when P is built; the kernel's two shuffles run
    * with the caller's first action. */
  def highDimAffinities(knn: Dataset[Neighbor], perplexity: Double): Dataset[AffinityRow] = {
    val spark = knn.sparkSession
    import spark.implicits._
    spark.createDataset(affinityRows(knn, perplexity))
  }

  /** [[highDimAffinities]] as an RDD, the lineage `--executionPlan` dumps. */
  private[tsne] def affinityRows(knn: Dataset[Neighbor], perplexity: Double): RDD[AffinityRow] = {
    val part = SuperstepPartitioner.of(knn.sparkSession)
    jointRows(conditional(knn.rdd, perplexity, part), part)
  }

  /** [[highDimAffinities]] with a release handle, for callers written
    * against the form that returned one. P holds no cache any more, so
    * the handle does nothing. */
  def highDimAffinitiesWithRelease(knn: Dataset[Neighbor],
                                   perplexity: Double): (Dataset[AffinityRow], () => Unit) =
    (highDimAffinities(knn, perplexity), () => ())
}
