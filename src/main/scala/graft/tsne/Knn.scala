package graft.tsne

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

import graft.SuperstepPartitioner

/** k-nearest-neighbor variants (ref: `TsneHelpers.scala:41-160`), Spark-first.
  *
  * All three return the same logical table `(i, j, dist)` with `k` rows per
  * `i`, sorted ascending by distance. Ties are broken by `j` ascending — the
  * reference leaves tie order unspecified (`sortGroup` + `first(k)`,
  * `TsneHelpers.scala:54-58`), and a total order is required for the
  * hash-compared DuckDB oracle (SURVEY.md §7).
  */
object Knn {

  /** Grouped top-k with the rank kept: `(i, j, rn, dist)`, rank ordered by
    * `(dist, j)` ascending.
    *
    * Deliberately written as the declarative ranking-window idiom: Spark's
    * `InferWindowGroupLimit` plans it as `WindowGroupLimit` — each key
    * keeps its first k rows before the hash exchange (≤ partitions·keys·k
    * rows cross it) and again after it, so the window ranks only those.
    * Declaring the intent and letting the planner pick the physical
    * strategy is the Spark-first shape. */
  def topKPerPointRanked(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("i").orderBy(col("dist"), col("j"))
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("i"), col("j"), col("rn"), col("dist"))
  }

  /** The brute-force all-pairs distance table `(i, j, dist)`, for callers
    * that filter the pairs before ranking them (`q_rrf_fusion`); the kNN
    * itself is [[bruteForce]]. The left side is spread over the shuffle
    * parallelism before the cross join, which inherits its partitioning. */
  def bruteForcePairs(points: Dataset[Point], metric: String): DataFrame = {
    val spark = points.sparkSession
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val df = points.toDF()
    val a = df.repartition(parallelism).select(col("id").as("i"), col("vec").as("va"))
    val b = df.select(col("id").as("j"), col("vec").as("vb"))
    a.crossJoin(b)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        Distances.colByName(metric)(col("va"), col("vb")).as("dist"))
  }

  /** O5 — brute-force kNN (ref `TsneHelpers.scala:41-59`): every point's k
    * nearest other points by `metric`, exact, in one stage with no
    * exchange ([[bruteForceKernel]]).
    *
    * Each of the `spark.sql.shuffle.partitions` tasks holds the whole
    * point set, N·d doubles, so this is the route for point sets that fit
    * in one task's memory (README "Choosing a path"); `partitionKnn`
    * bounds per-task memory instead. Each task reads `points` once: an
    * uncached input's lineage (a CSV scan, a grouping) re-runs once per
    * task, so persist an expensive one first. Building the kernel calls
    * `points.rdd`, which runs the exchanges in `points`' own plan. */
  def bruteForce(points: Dataset[Point], k: Int, metric: String): Dataset[Neighbor] = {
    val spark = points.sparkSession
    import spark.implicits._
    spark.createDataset(bruteForceKernel(points, k, metric).flatMap(_.iterator))
  }

  /** [[bruteForce]] with the rank kept: `(i, j, rn, dist)`, `rn` counting
    * from 1 in `(dist, j)` order, the rows of
    * [[topKPerPointRanked]] over [[bruteForcePairs]]. */
  def bruteForceRanked(points: Dataset[Point], k: Int, metric: String): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    spark.createDataset(bruteForceKernel(points, k, metric).flatMap(withRank))
      .toDF("i", "j", "rn", "dist")
  }

  /** The [[bruteForce]] kernel: one array per point id, its neighbours
    * ascending in `(dist, j)`. Task `t` of `p` = `spark.sql.shuffle.partitions`
    * reads the whole point set (`coalesce(1)` crossed with the task
    * numbers) and answers the ids [[graft.SuperstepPartitioner]] routes to
    * `t`. Rows sharing an id are pooled into one heap, as a ranking window
    * over `i` pools them. The distances are [[Distances.byName]]'s, whose
    * summation order is the codegen'd expressions', so every value is
    * bit-identical to the cross-join form; vectors of different lengths
    * are an error. */
  private[tsne] def bruteForceKernel(points: Dataset[Point], k: Int,
                                     metric: String): RDD[Array[Neighbor]] = {
    val part = SuperstepPartitioner.of(points.sparkSession)
    val fn = Distances.byName(metric)
    points.sparkSession.sparkContext
      .parallelize(0 until part.numPartitions, part.numPartitions)
      .cartesian(points.rdd.coalesce(1))
      .mapPartitions { rows =>
        val all = rows.toArray
        if (all.isEmpty) Iterator.empty
        else {
          val task = all(0)._1
          val ids = all.map(_._2.id)
          val vecs = all.map(_._2.vec)
          var q = 0
          while (q < vecs.length) {
            require(vecs(q) != null, s"bruteForce: vector ${ids(q)} is null")
            require(vecs(q).length == vecs(0).length, s"bruteForce: vector ${ids(q)} " +
              s"has length ${vecs(q).length} but vector ${ids(0)} has ${vecs(0).length}")
            q += 1
          }
          val own = all.indices.filter(r => part.getPartition(ids(r)) == task)
            .sortBy(r => ids(r)).toArray
          val heap = new NeighborHeap(k)
          new Iterator[Array[Neighbor]] {
            private var g = 0
            def hasNext: Boolean = g < own.length
            def next(): Array[Neighbor] = {
              val i = ids(own(g))
              while (g < own.length && ids(own(g)) == i) {
                val a = vecs(own(g))
                var c = 0
                while (c < vecs.length) {
                  if (ids(c) != i) heap.offer(fn(a, vecs(c)), ids(c))
                  c += 1
                }
                g += 1
              }
              heap.drain(i)
            }
          }
        }
      }
  }

  /** O6 — block-nested-loop kNN (ref `TsneHelpers.scala:61-91`): points are
    * modulo-partitioned into `blocks` blocks, blocks are crossed, and
    * distances are computed block-pair-at-a-time.
    *
    * Spark-first shape, two scale properties the reference's doesn't have:
    *   - each block-pair group keeps only a local top-k per left point, so
    *     the second shuffle carries N·blocks·k rows instead of the
    *     reference's full N² distance triples (`TsneHelpers.scala:80-88`);
    *   - a block is never materialized as one giant row (the round-1
    *     rebuild packed N/blocks points into a single Dataset row — gigabyte
    *     rows at scale); instead each point is *replicated* `blocks` times,
    *     tagged (blockPair, side), and block pairs meet in `flatMapGroups`,
    *     so per-task memory is bounded by 2·N/blocks points and every row
    *     stays row-sized. Shuffle volume: 2·N·blocks vectors, the standard
    *     block-nested-loop trade (pick blocks ≈ √(N·d·8 / executorBudget)).
    */
  def partitionKnn(points: Dataset[Point], k: Int, metric: String, blocks: Int): Dataset[Neighbor] = {
    val spark = points.sparkSession
    import spark.implicits._
    partitionLocalTopK(points, k, metric, blocks)
      .groupByKey(_.i)
      .flatMapGroups((i: Long, it: Iterator[Neighbor]) => merge(i, it, k).iterator)
  }

  /** Ranked form of [[partitionKnn]]: the final per-point merge emits the
    * rank directly, so no extra window pass is needed downstream. */
  def partitionKnnRanked(points: Dataset[Point], k: Int, metric: String,
                         blocks: Int): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    partitionLocalTopK(points, k, metric, blocks)
      .groupByKey(_.i)
      .flatMapGroups((i: Long, it: Iterator[Neighbor]) => withRank(merge(i, it, k)))
      .toDF("i", "j", "rn", "dist")
  }

  /** [[partitionKnn]]'s final merge: point `i`'s block-local top-k lists
    * pooled in one [[NeighborHeap]]. */
  private def merge(i: Long, lists: Iterator[Neighbor], k: Int): Array[Neighbor] = {
    val heap = new NeighborHeap(k)
    lists.foreach(n => heap.offer(n.dist, n.j))
    heap.drain(i)
  }

  private def partitionLocalTopK(points: Dataset[Point], k: Int, metric: String,
                                 blocks: Int): Dataset[Neighbor] = {
    val spark = points.sparkSession
    import spark.implicits._
    val fn = Distances.byName(metric)
    val b = blocks

    // (blockPair = bl*b + br, side): left copies fan out over br, right over bl
    val tagged: Dataset[(Int, Boolean, Point)] = points.flatMap { p =>
      val own = (math.floorMod(p.id, b.toLong)).toInt
      Iterator.range(0, b).flatMap { other =>
        Iterator((own * b + other, true, p), (other * b + own, false, p))
      }
    }

    tagged
      .groupByKey(_._1)
      .flatMapGroups[Neighbor] { (_: Int, it: Iterator[(Int, Boolean, Point)]) =>
        val lefts = scala.collection.mutable.ArrayBuffer.empty[Point]
        val rights = scala.collection.mutable.ArrayBuffer.empty[Point]
        it.foreach { case (_, isLeft, p) => (if (isLeft) lefts else rights) += p }
        val heap = new NeighborHeap(k)
        lefts.iterator.flatMap { p =>
          var idx = 0
          while (idx < rights.length) {
            val q = rights(idx)
            if (q.id != p.id) heap.offer(fn(p.vec, q.vec), q.id)
            idx += 1
          }
          heap.drain(p.id).iterator
        }
      }
  }

  /** A point's ascending neighbours as `(i, j, rn, dist)`, `rn` from 1. */
  private def withRank(ns: Array[Neighbor]): Iterator[(Long, Long, Long, Double)] =
    ns.iterator.zipWithIndex.map { case (n, r) => (n.i, n.j, r + 1L, n.dist) }

  /** O7/O8 — approximate kNN by z-order projections
    * (ref `TsneHelpers.scala:93-160`): the points (plus `iterations − 1`
    * randomly shifted copies) are sorted in Morton order; each point's ±k
    * neighbors in every sort order become candidates; candidates are
    * deduplicated and re-ranked by true distance.
    *
    * The reference's sort is a parallelism-1 `reduceGroup`
    * (`TsneHelpers.scala:140`); here the Morton code is a materialized
    * sortable key (see [[ZOrderKey]]) so the sort is a distributed
    * range-partitioned `orderBy`, and the ±k neighborhood is an equi-join
    * on rank offsets — no single-task bottleneck anywhere.
    *
    * `seed` makes the random shift vectors deterministic (the reference
    * leaves them unseeded — `DenseVector.rand`, `TsneHelpers.scala:98` — an
    * acknowledged quirk the rebuild fixes, SURVEY.md §7).
    *
    * `dimension` is passed in like the reference does (`Tsne.scala:77`);
    * when < 0 it is read from one row (an extra Spark job — avoid on hot
    * paths).
    *
    * **Scale routing rule.** Candidate volume is O(N · window ·
    * iterations) — sub-quadratic whenever the window is a constant. On
    * data with low-dimensional structure (real embeddings cluster), a
    * *fixed* window holds its recall as N grows, because a point's true
    * neighbors stay within a bounded span of each Morton order
    * (`KnnSpec` pins this: 4× the points, fixed window, recall ≥ 0.9,
    * candidate growth ~linear). On structure-free (isotropic
    * high-dimensional) data no sorted order concentrates neighborhoods,
    * so holding recall needs window ∝ N — quadratic work in disguise.
    * Callers should cap the window (the driver queries cap at 512) and
    * route structure-free corpora to `pipeline.Ann.lshTopK`/`ivfTopK`,
    * whose bucketing does not depend on 1-D locality. */
  def projectKnn(points: Dataset[Point], k: Int, metric: String,
                 iterations: Int, seed: Long = 42L,
                 dimension: Int = -1, window: Int = -1): Dataset[Neighbor] = {
    val (allCandidates, nPoints, dim) =
      projectCandidates(points, k, iterations, seed, dimension, window)

    // Re-rank candidates by true distance on the original vectors. The
    // candidate table is ~2·w·iters/k times larger than the points table;
    // when the vectors fit comfortably in a broadcast (their exact size is
    // known from the ranking pass — no stats guessing), hint it so Spark
    // doesn't sort-merge the multi-million-row candidate side twice.
    val vecBytes = nPoints * (dim + 2L) * 8L
    val small = vecBytes < 64L * 1024 * 1024
    def hint(df: DataFrame): DataFrame = if (small) broadcast(df) else df
    val va = hint(points.toDF().select(col("id").as("i"), col("vec").as("va")))
    val vb = hint(points.toDF().select(col("id").as("j"), col("vec").as("vb")))
    val pairs = allCandidates.join(va, "i").join(vb, "j")
      .select(col("i"), col("j"),
        Distances.colByName(metric)(col("va"), col("vb")).as("dist"))
    val spark = points.sparkSession
    import spark.implicits._
    topKPerPointRanked(pairs, k).select(col("i"), col("j"), col("dist")).as[Neighbor]
  }

  /** The deduplicated ±window rank-neighborhood candidate pairs of
    * [[projectKnn]], before true-distance re-ranking — exposed so tests
    * (and capacity planning) can measure the exact candidate volume the
    * window induces. Returns (candidates `(i, j)`, nPoints, dim). */
  private[tsne] def projectCandidates(points: Dataset[Point], k: Int,
                                      iterations: Int, seed: Long,
                                      dimension: Int, window: Int)
      : (DataFrame, Long, Int) = {
    val spark = points.sparkSession
    import spark.implicits._

    val dim = if (dimension > 0) dimension else points.head().vec.length
    // candidate window per sort order: the reference hardwires ±k
    // (`TsneHelpers.scala:146-156`); a wider window trades linearly more
    // re-rank work for recall, which is the right knob in high dimensions
    // where one z-order preserves little locality
    val w = if (window > 0) window else k
    val rnd = new Random(seed)
    val shifts: Array[Array[Double]] =
      (Array.fill(dim)(0.0) +: Seq.fill(iterations - 1)(Array.fill(dim)(rnd.nextDouble()))).toArray
    val bcShifts = spark.sparkContext.broadcast(shifts)

    // ALL projections in one table (proj, id, z): one flatMap, one ranking
    // pass, one neighborhood join — instead of 2 Spark jobs per projection.
    // At cluster scale, `iterations` sequential sort jobs are pure
    // scheduling overhead; one 14×N-row sort is the same shuffle bytes with
    // one barrier.
    val keyed = points.flatMap { p =>
      val sh = bcShifts.value
      require(p.vec.length == dim,
        s"projectKnn dimension=$dim but vector ${p.id} has ${p.vec.length}")
      Iterator.tabulate(sh.length) { t =>
        val shift = sh(t)
        val shifted = new Array[Double](p.vec.length)
        var d = 0
        while (d < p.vec.length) { shifted(d) = p.vec(d) + shift(d); d += 1 }
        (t, p.id, ZOrderKey.morton(shifted))
      }
    }

    val (rankedDs, totalRows) = rankWithinProjectionWithCount(keyed)
    val ranked = rankedDs.toDF("proj", "id", "rank")
    val nPoints = totalRows / shifts.length

    // ±w rank neighborhood as an equi-join on (projection, rank + offset).
    val offs = ranked
      .select(col("proj"), col("id").as("i"), col("rank"),
        explode(sequence(lit(1), lit(w))).as("off"))
    val nbr = offs.select(col("proj"), col("i"), (col("rank") + col("off")).as("nrank"))
      .union(offs.select(col("proj"), col("i"), (col("rank") - col("off")).as("nrank")))
    val allCandidates = nbr
      .join(ranked.select(col("proj"), col("id").as("j"), col("rank").as("nrank")),
        Seq("proj", "nrank"))
      .select("i", "j").dropDuplicates("i", "j")
    (allCandidates, nPoints, dim)
  }

  /** Exact global rank of each row *within its projection*, ordered by
    * (z, id): range-repartition on (proj, z, id) so each projection's rows
    * are globally sorted across partitions, then two passes in the
    * zipWithIndex style — per-partition per-projection counts to the
    * driver, prefix offsets broadcast back, sequential rank assignment.
    * A `row_number() OVER (PARTITION BY proj)` would gather each whole
    * projection into one task; this keeps the sort distributed and is
    * exact (not partition-dependent): the rank is a pure function of the
    * (proj, z, id) total order.
    *
    * Also returns the exact total row count — free here (the count pass
    * already ran on the driver), and it lets callers make size-based
    * planning decisions without an extra job. */
  private[tsne] def rankWithinProjectionWithCount(
      keyed: Dataset[(Int, Long, Array[Byte])]): (Dataset[(Int, Long, Long)], Long) = {
    val spark = keyed.sparkSession
    import spark.implicits._
    // RDD-level persist: the sorted table is consumed by the counts pass
    // and by every plan subtree that reads the ranks (3× in projectKnn) —
    // without it, the post-shuffle sort re-runs per consumer. RDD caches
    // (unlike DataFrame cache entries) are auto-unpersisted by Spark's
    // ContextCleaner once unreachable, so this cannot leak across queries.
    val sorted = keyed.toDF("proj", "id", "z")
      .repartitionByRange(col("proj"), col("z"), col("id"))
      .sortWithinPartitions("proj", "z", "id")
      .as[(Int, Long, Array[Byte])]
      .rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val counts: Array[Map[Int, Long]] = sorted
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.Map.empty[Int, Long]
        it.foreach { case (proj, _, _) => m.update(proj, m.getOrElse(proj, 0L) + 1) }
        Iterator((pid, m.toMap))
      }
      .collect().sortBy(_._1).map(_._2)
    val offsets: Array[Map[Int, Long]] = counts
      .scanLeft(Map.empty[Int, Long]) { (acc, m) =>
        (acc.keySet ++ m.keySet).iterator
          .map(p => p -> (acc.getOrElse(p, 0L) + m.getOrElse(p, 0L))).toMap
      }
      .dropRight(1)
    val bcOffsets = spark.sparkContext.broadcast(offsets)

    val ranked = sorted.mapPartitionsWithIndex { (pid, it) =>
      val next = scala.collection.mutable.Map(bcOffsets.value(pid).toSeq: _*)
      it.map { case (proj, id, _) =>
        val r = next.getOrElse(proj, 0L)
        next.update(proj, r + 1)
        (proj, id, r)
      }
    }.toDS()
    (ranked, counts.iterator.flatMap(_.valuesIterator).sum)
  }

  /** The ±window rule shared by the driver query (`q_knn_project`) and the
    * CLI dispatch (VERDICT r4 #7): 5.5% of N — measured to hold recall
    * ≥ 0.9 on isotropic fixtures — floored at 50 and CAPPED at 512 so the
    * candidate volume (O(N·window·iterations)) never grows quadratically.
    * Past the cap, [[projectKnn]] trades recall instead of work; see the
    * scale-routing rule in its scaladoc. */
  def tunedWindow(nPoints: Long): Int =
    math.min(512, math.max(50, math.ceil(nPoints * 0.055).toInt))

  /** kNN method dispatch mirroring the CLI surface
    * (ref `Tsne.scala:74-79`). */
  def byMethod(method: String, points: Dataset[Point], k: Int, metric: String,
               blocks: Int, knnIterations: Int, seed: Long = 42L,
               dimension: Int = -1): Dataset[Neighbor] =
    method match {
      case "bruteforce" => bruteForce(points, k, metric)
      case "partition"  => partitionKnn(points, k, metric, blocks)
      case "project"    =>
        // the reference hardwires window = k (`TsneHelpers.scala:146-156`);
        // the tuned fractional window is what holds recall at real N — CLI
        // users get the same rule the driver queries are gated on
        projectKnn(points, k, metric, knnIterations, seed, dimension,
          window = math.max(tunedWindow(points.count()), k))
      case _ => throw new IllegalArgumentException(s"Knn method '$method' not defined")
    }

  /** A point's k nearest candidates so far: a bounded max-heap on
    * `(dist, j)` in Spark's sort order — `java.lang.Double.compare` puts
    * NaN last (a distance is never −0.0, where the two orders differ),
    * ties go to the lower `j`. One instance serves any number of points:
    * [[drain]] empties it. */
  private[tsne] final class NeighborHeap(k: Int) {
    private val cap = math.max(k, 0)
    private val ds = new Array[Double](cap)
    private val js = new Array[Long](cap)
    private var size = 0

    private def after(a: Int, b: Int): Boolean = {
      val c = java.lang.Double.compare(ds(a), ds(b))
      c > 0 || (c == 0 && js(a) > js(b))
    }

    private def swap(a: Int, b: Int): Unit = {
      val d = ds(a); ds(a) = ds(b); ds(b) = d
      val j = js(a); js(a) = js(b); js(b) = j
    }

    private def siftDown(from: Int, n: Int): Unit = {
      var h = from
      var done = false
      while (!done) {
        val l = 2 * h + 1
        if (l >= n) done = true
        else {
          val c = if (l + 1 < n && after(l + 1, l)) l + 1 else l
          if (after(c, h)) { swap(c, h); h = c } else done = true
        }
      }
    }

    def offer(dist: Double, j: Long): Unit =
      if (size < cap) {
        ds(size) = dist; js(size) = j
        var h = size
        size += 1
        while (h > 0 && after(h, (h - 1) / 2)) { swap(h, (h - 1) / 2); h = (h - 1) / 2 }
      } else if (cap > 0) {
        val c = java.lang.Double.compare(dist, ds(0))
        if (c < 0 || (c == 0 && j < js(0))) {
          ds(0) = dist; js(0) = j
          siftDown(0, size)
        }
      }

    /** Point `i`'s neighbours, ascending; leaves the heap empty. */
    def drain(i: Long): Array[Neighbor] = {
      var n = size
      while (n > 1) { n -= 1; swap(0, n); siftDown(0, n) }
      val out = Array.tabulate(size)(r => Neighbor(i, js(r), ds(r)))
      size = 0
      out
    }
  }
}
