package graft.tsne

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.{Release, SuperstepPartitioner}

/** t-SNE optimizer: init, iteration loop and 3-phase schedule
  * (ref: `TsneHelpers.scala:198-219` init, `:371-394` iteration,
  * `:396-430` schedule).
  *
  * Spark has no bulk-iteration primitive, so the superstep loop is a driver
  * loop (the classic MLlib pattern). Two execution paths share the exact
  * same math kernels ([[Gradient]], [[BhTree]]):
  *
  *   - **local**: when P fits comfortably on the driver
  *     (`maxLocalPEntries`), the whole loop runs in memory. With N in the
  *     thousands each distributed superstep is pure scheduling overhead —
  *     the same adaptive local fallback MLlib uses for small problems, and
  *     the result is identical because the kernels are.
  *
  *   - **distributed** ([[optimizeDistributed]]): P and the working set
  *     stay on the executors, co-partitioned by id, and each superstep is
  *     two jobs. Only the N × 2 positions cross the driver, which builds
  *     the tree from them like the reference (`TsneHelpers.scala:234-277`
  *     broadcasts the whole embedding each superstep).
  */
object Optimizer {

  final case class Params(
      perplexity: Double = 30.0,
      nComponents: Int = 2,
      earlyExaggeration: Double = 4.0,
      learningRate: Double = 1000.0,
      iterations: Int = 300,
      initialMomentum: Double = 0.5,
      finalMomentum: Double = 0.8,
      theta: Double = 0.25,
      minGain: Double = 0.01,
      metric: String = "sqeuclidean",
      seed: Long = 0L,
      maxLocalPEntries: Long = 2000000L,
      /** Read by nothing; kept for callers that set it by name. */
      maxBroadcastStateRows: Long = 5000000L)

  /** O13 — init working set: y ~ N(0, σ=1e-4), step = 0⃗, gains = 1⃗
    * (ref `TsneHelpers.scala:198-219`). The reference accepts a
    * `randomState` but never seeds (`Rand.gaussian` unseeded — SURVEY.md §2
    * O13 quirk); here the draw is a pure function of (seed, id), so results
    * are deterministic *and* independent of partitioning. */
  def initWorkingSet(p: Dataset[AffinityRow], nComponents: Int, seed: Long): Dataset[WorkingSet] = {
    val spark = p.sparkSession
    import spark.implicits._
    p.map(row => initRow(row.id, nComponents, seed))
  }

  private[tsne] def initRow(id: Long, nComponents: Int, seed: Long): WorkingSet = {
    val rng = new java.util.Random(seed ^ (id * 0x9E3779B97F4A7C15L))
    WorkingSet(
      id,
      Array.fill(nComponents)(rng.nextGaussian() * 1e-4),
      Array.fill(nComponents)(0.0),
      Array.fill(nComponents)(1.0))
  }

  /** O20 — the 3-phase momentum/exaggeration schedule
    * (ref `TsneHelpers.scala:396-430`, arithmetic replicated verbatim):
    * phase 1 = min(iterations, 20) iters, initial momentum, P × exaggeration;
    * phase 2 = min(iterations − p1, 81) iters, final momentum, exaggerated;
    * phase 3 = remainder, final momentum, plain P. */
  private[tsne] def phases(p: Params): Seq[(Int, Double, Boolean, Int)] = {
    val p1 = math.min(p.iterations, 20)
    val p2 = math.min(p.iterations - p1, 101 - 20)
    val p3 = p.iterations - p2 - p1
    Seq(
      (p1, p.initialMomentum, true, 0),
      (p2, p.finalMomentum, true, p1),
      (p3, p.finalMomentum, false, p2 + p1)
    ).filter(_._1 > 0)
  }

  /** The schedule unrolled, one entry per superstep: (1-based iteration
    * number, the one the loss series is keyed by; momentum; P factor). */
  private def supersteps(params: Params, schedule: Seq[(Int, Double, Boolean, Int)])
      : Seq[(Int, Double, Double)] =
    schedule.flatMap { case (iters, momentum, exaggerate, offset) =>
      val factor = if (exaggerate) params.earlyExaggeration else 1.0
      (1 to iters).map(it => (it + offset, momentum, factor))
    }

  /** Full optimize: picks the local path or the distributed loop by |P|.
    *
    * P is persisted here unless the caller has persisted it: the size
    * probe, the path's own passes and `ws0` (whose plan contains P as a
    * subtree) would otherwise each re-run the whole kNN → perplexity-search
    * lineage. Only what is persisted here is unpersisted, so a caller's
    * cache survives. The probe is one RDD aggregate, a job with no
    * exchange. Both paths return driver-local points and leave nothing
    * persistent behind. */
  def optimize(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet], params: Params,
               lossAcc: Option[MapAccumulator] = None): Dataset[Point] = {
    require(params.nComponents == 2,
      "gradient is 2-D only, like the reference (TsneHelpers.scala:228, QuadTree.scala:156)")
    val spark = p.sparkSession
    import spark.implicits._
    val owned = p.storageLevel == StorageLevel.NONE
    val pCached = if (owned) p.persist(StorageLevel.MEMORY_AND_DISK) else p
    try {
      val pEntries = pCached.rdd.aggregate(0L)(_ + _.js.length, _ + _)
      require(pEntries > 0, "cannot optimize an empty affinity dataset")
      if (pEntries <= params.maxLocalPEntries) {
        val (points, loss) = optimizeLocal(pCached.collect(), ws0.collect(), params)
        lossAcc.foreach(acc => loss.foreach(acc.add))
        spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(points))
      } else optimizeDistributed(pCached, ws0, params, lossAcc)
    } finally if (owned) pCached.unpersist()
  }

  /** The phase-1 superstep of [[optimizeDistributed]] as UNEXECUTED RDD
    * lineage for `--executionPlan` (ref `Tsne.scala:89-95` dumps the Flink
    * plan *instead of* executing; Spark's iterative loop is imperative, so
    * the dumpable unit is one superstep). The lineages come from the
    * builders the loop itself runs, over a 1-point broadcast embedding;
    * building and printing them submits NO Spark job (pinned by
    * `TsneE2ESpec`'s job-listener assertion). */
  def superstepPlanString(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet],
                          params: Params): String = {
    val static = staticSide(p, ws0)
    val origin = Array(Array(0.0, 0.0))
    val bc = p.sparkSession.sparkContext.broadcast(
      new Embedding(BhTree.build(origin), Array(0L), origin, 0.0, 0.0))
    val forces = forceRows(static, static.map(_._2), bc, params,
      params.earlyExaggeration, needLoss = true)
    val next = updatedState(forces, params, params.initialMomentum, sumQ = 1.0)
    try {
      "== superstep forces (job A: static side zipped with state, " +
        "attractive + Barnes-Hut repulsive) ==\n" +
        forces.toDebugString +
        "\n== superstep global aggregation (job A's result: one sumQ + loss partial per " +
        "partition of the forces RDD above, summed on the driver in partition order) ==\n" +
        s"${forces.getNumPartitions} partials\n" +
        "\n== superstep state update (job B: update, localCheckpoint, collect positions) ==\n" +
        next.toDebugString
    } finally {
      Seq(next, forces, static).foreach(Release.rdd)
      bc.destroy()
    }
  }

  // ================= driver-local fast path ==============================

  /** The per-point work runs data-parallel across the driver's cores in
    * two passes per superstep: the Barnes-Hut repulsion (which needs the
    * whole tree), then one fused pass that computes each point's
    * attraction, its loss partial on loss supersteps, its gradient and its
    * delta-bar-delta update, writing the new position into a second
    * buffer. During early exaggeration the collapsed embedding defeats the
    * replicated squared-distance BH criterion (every traversal descends
    * fully), so the parallel repulsion matters most in exactly the
    * iterations that cost the most. Every parallel pass writes only its own
    * index; all reductions (sumQ, loss, centering means) are folded
    * sequentially in index order afterwards, so the result is bit-identical
    * to a sequential loop (and agrees with the distributed path, which
    * `OptimizerSpec` pins at 1e-9). */
  def optimizeLocal(pRows0: Array[AffinityRow], ws00: Array[WorkingSet],
                    params: Params): (Array[Point], Map[Int, Double]) =
    optimizeLocalSchedule(pRows0, ws00, params, phases(params))

  /** [[optimizeLocal]] with a caller-supplied phase schedule — `QualitySpec`
    * drives a deliberately broken schedule (phase 2 skipped) through the
    * identical loop to prove the clustered quality gate is discriminating,
    * not just non-trivial. */
  private[tsne] def optimizeLocalSchedule(
      pRows0: Array[AffinityRow], ws00: Array[WorkingSet], params: Params,
      schedule: Seq[(Int, Double, Boolean, Int)]): (Array[Point], Map[Int, Double]) = {
    val metric = Distances.byName(params.metric)
    val (theta, minGain, lr) = (params.theta, params.minGain, params.learningRate)
    // Canonical id order: the inputs arrive in collect() partition order,
    // which varies with shuffle partitioning — and the tree insertion order
    // (hence center-of-mass summation order) would otherwise leak that
    // ordering into the trajectory via FP noise that chaotic supersteps
    // amplify. Sorted, the whole loop is a pure function of (data, seed).
    val ws0 = ws00.sortBy(_.id)
    val n = ws0.length
    val ids = ws0.map(_.id)
    def indexOf(id: Long): Int = {
      val i = java.util.Arrays.binarySearch(ids, id)
      require(i >= 0, s"point $id of the affinities is not in the working set")
      i
    }
    // each point's P row with its neighbour ids resolved to indices once; a
    // point with no row feels no attraction, as on the distributed path
    val nbr = Array.fill(n)(Array.emptyIntArray)
    val p = Array.fill(n)(Array.emptyDoubleArray)
    pRows0.foreach { r =>
      val i = indexOf(r.id)
      nbr(i) = r.js.map(indexOf)
      p(i) = r.ps
    }
    val step = ws0.map(_.lastGrad.clone())
    val gains = ws0.map(_.gains.clone())
    var y = ws0.map(_.y.clone())
    var yNext = ws0.map(_.y.clone()) // each pass writes the new positions here
    val (rx, ry, rq) = (new Array[Double](n), new Array[Double](n), new Array[Double](n))
    val lossParts = new Array[Double](n)
    val loss = scala.collection.mutable.Map.empty[Int, Double]
    var ps = p // P × the current phase's exaggeration, scaled once per phase
    var psFactor = 1.0

    def parRange(bound: Int)(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, bound).parallel()
        .forEach(k => body(k))

    for ((lossIter, momentum, factor) <- supersteps(params, schedule)) {
      if (factor != psFactor) {
        ps = if (factor == 1.0) p else p.map(_.map(_ * factor))
        psFactor = factor
      }
      val needLoss = lossIter % 10 == 0
      // gradient (ref TsneHelpers.scala:221-318); the parallel passes
      // capture this superstep's buffers as vals
      val (ys, out, pf) = (y, yNext, ps)
      val tree = BhTree.build(ys)
      parRange(n) { i =>
        val (fx, fy, q) = tree.repulsiveForce(ys(i)(0), ys(i)(1), theta)
        rx(i) = fx; ry(i) = fy; rq(i) = q
      }
      var sumQ = 0.0
      var i = 0
      while (i < n) { sumQ += rq(i); i += 1 }
      val sq = sumQ
      // attraction, loss partial, gradient and update (ref
      // TsneHelpers.scala:284-305, :341-369) in one pass per point
      parRange(n) { i =>
        val yi = ys(i)
        val (ax, ay) = Gradient.attractiveForce(nbr(i), pf(i), yi, ys, metric)
        if (needLoss) lossParts(i) = Gradient.lossPart(nbr(i), pf(i), yi, ys, metric, sq)
        out(i)(0) = Gradient.updateComponent(yi(0), step(i), gains(i), 0,
          Gradient.gradient(ax, rx(i), sq), minGain, momentum, lr)
        out(i)(1) = Gradient.updateComponent(yi(1), step(i), gains(i), 1,
          Gradient.gradient(ay, ry(i), sq), minGain, momentum, lr)
      }
      if (needLoss) {
        var l = 0.0
        i = 0
        while (i < n) { l += lossParts(i); i += 1 }
        loss(lossIter) = l
      }
      // center (ref TsneHelpers.scala:320-329)
      centerInPlace(out)
      yNext = ys
      y = out
    }
    (ids.zip(y).map { case (id, v) => Point(id, v) }, loss.toMap)
  }

  /** Subtract the mean in place (ref `TsneHelpers.scala:320-329`), summing
    * in array order — callers pass id-sorted points, so the centering sums
    * never inherit collect()'s partition-dependent ordering. Returns the
    * mean. */
  private def centerInPlace(ys: Array[Array[Double]]): (Double, Double) = {
    var mx = 0.0; var my = 0.0
    ys.foreach { y => mx += y(0); my += y(1) }
    mx /= ys.length; my /= ys.length
    ys.foreach { y => y(0) -= mx; y(1) -= my }
    (mx, my)
  }

  // ================= distributed path ====================================

  /** What one superstep broadcasts: the driver-built tree, the id-sorted
    * centered positions and the mean they were centered by. */
  private final class Embedding(val tree: BhTree, ids: Array[Long], val ys: Array[Array[Double]],
                                val mx: Double, val my: Double) extends Serializable {
    def index(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
  }

  /** A point's row of one superstep's forces RDD: its state with the
    * position centered, its attractive (ax, ay) and Barnes-Hut repulsive
    * (rx, ry) forces, its sumQ partial and — on loss supersteps only, else
    * 0 — the sumQ-independent loss partials `lossPre` = Σⱼ p·log(p/q) and
    * `pSum` = Σⱼ p, which combine to Σ lossPre + (Σ pSum)·log(sumQ) (ref
    * gradient sub-steps c–e, `TsneHelpers.scala:258-308`). */
  private final case class Forces(w: WorkingSet, ax: Double, ay: Double, rx: Double,
                                  ry: Double, sumQ: Double, lossPre: Double, pSum: Double)

  /** The loop's static side: P's rows and the initial working set cogrouped
    * by id on [[SuperstepPartitioner]], each partition sorted by id (so the
    * loop is a pure function of the data and the partition count), and
    * `localCheckpoint`ed. Every point of `ws0` is kept; one with no P row
    * gets an empty row, so it still feels repulsion and centering. */
  private def staticSide(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet])
      : RDD[(AffinityRow, WorkingSet)] =
    p.rdd.map(r => (r.id, r))
      .cogroup(ws0.rdd.map(w => (w.id, w)), SuperstepPartitioner.of(p.sparkSession))
      .mapPartitions(_.flatMap { case (id, (rows, ws)) =>
        val row = rows.headOption.getOrElse(
          AffinityRow(id, Array.emptyLongArray, Array.emptyDoubleArray))
        ws.headOption.map(w => (row, w))
      }.toArray.sortBy(_._1.id).iterator)
      .localCheckpoint()

  /** Job A's RDD: the static side zipped partition by partition with the
    * state (which always walks the static partitions in order), the
    * attraction against the broadcast positions, the repulsion from the
    * broadcast tree and, on loss supersteps, the loss partials — the loss
    * costs no extra job, as the reference accumulates it inside the
    * attractive-force map (ref `TsneHelpers.scala:297-300`). Persisted for
    * its two readers, the partials and the update. */
  private def forceRows(static: RDD[(AffinityRow, WorkingSet)], state: RDD[WorkingSet],
                         bc: Broadcast[Embedding], params: Params, factor: Double,
                         needLoss: Boolean): RDD[Forces] = {
    val (metricName, theta) = (params.metric, params.theta)
    static.zipPartitions(state) { (rows, ws) =>
      val metric = Distances.byName(metricName)
      val e = bc.value
      rows.zip(ws).map { case ((row, _), w) =>
        val yi = Array(w.y(0) - e.mx, w.y(1) - e.my)
        val ps = if (factor == 1.0) row.ps else row.ps.map(_ * factor)
        val nbr = row.js.map(e.index)
        val (ax, ay) = Gradient.attractiveForce(nbr, ps, yi, e.ys, metric)
        val (rx, ry, sq) = e.tree.repulsiveForce(yi(0), yi(1), theta)
        val (lp, psum) =
          if (needLoss) Gradient.lossPartsPreSumQ(nbr, ps, yi, e.ys, metric)
          else (0.0, 0.0)
        Forces(WorkingSet(w.id, yi, w.lastGrad, w.gains), ax, ay, rx, ry, sq, lp, psum)
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** Job B's RDD: the delta-bar-delta update of every centered state with
    * the global sumQ, `localCheckpoint`ed. */
  private def updatedState(forces: RDD[Forces], params: Params, momentum: Double,
                          sumQ: Double): RDD[WorkingSet] = {
    val (minGain, lr) = (params.minGain, params.learningRate)
    forces.map { f =>
      val grad = Array(Gradient.gradient(f.ax, f.rx, sumQ), Gradient.gradient(f.ay, f.ry, sumQ))
      val (ny, ns, ng) = Gradient.update(f.w.y, f.w.lastGrad, f.w.gains, grad, minGain,
        momentum, lr)
      WorkingSet(f.w.id, ny, ns, ng)
    }.localCheckpoint()
  }

  /** The job that materializes a state RDD (and its checkpoint): its ids
    * and positions, shipped as primitive arrays per partition and sorted
    * by id here. */
  private def positionsOf(state: RDD[WorkingSet]): (Array[Long], Array[Array[Double]]) = {
    val byId = state.sparkContext.runJob(state, (ws: Iterator[WorkingSet]) => {
      val a = ws.toArray
      (a.map(_.id), a.flatMap(_.y))
    }).flatMap { case (ids, xy) =>
      ids.indices.map(k => (ids(k), Array(xy(2 * k), xy(2 * k + 1))))
    }.sortBy(_._1)
    (byId.map(_._1), byId.map(_._2))
  }

  /** The distributed superstep loop. Setup is one job: it materializes
    * the static side and collects the initial positions. Per superstep the
    * driver centers the positions in id order (the sums of
    * [[centerInPlace]]), builds the tree (ref: one parallelism-1 reduce,
    * `TsneHelpers.scala:234-256`) and broadcasts it with the positions and
    * the mean; then
    *
    *   - job A persists [[forceRows]] and returns one (sumQ, lossPre,
    *     pSum) partial per partition, summed here in partition-index order
    *     (never in task-completion order, as `RDD.aggregate` merges);
    *   - job B checkpoints [[updatedState]] and collects its positions in
    *     the same job. The last superstep's collect is the result.
    *
    * The stored state is uncentered (post-update); each superstep centers
    * it by the broadcast mean. P is read as given; [[optimize]] persists
    * it. `OptimizerSpec` pins agreement with [[optimizeLocal]] at 1e-9. */
  private[tsne] def optimizeDistributed(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet],
                                        params: Params,
                                        lossAcc: Option[MapAccumulator]): Dataset[Point] = {
    val spark = p.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val static = staticSide(p, ws0)
    var state = static.map(_._2)
    val (ids, ys0) = positionsOf(state)
    var ys = ys0
    // the very first working set is used as-is, like the reference
    var needCenter = false

    for ((lossIter, momentum, factor) <- supersteps(params, phases(params))) {
      val (mx, my) = if (needCenter) centerInPlace(ys) else (0.0, 0.0)
      needCenter = true
      val bc = sc.broadcast(new Embedding(BhTree.build(ys), ids, ys, mx, my))
      val needLoss = lossIter % 10 == 0 && lossAcc.nonEmpty
      val forces = forceRows(static, state, bc, params, factor, needLoss)
      var (sumQ, lossPre, pSum) = (0.0, 0.0, 0.0)
      sc.runJob(forces, (fs: Iterator[Forces]) => {
        var (q, l, s) = (0.0, 0.0, 0.0)
        fs.foreach { f => q += f.sumQ; l += f.lossPre; s += f.pSum }
        (q, l, s)
      }).foreach { case (q, l, s) => sumQ += q; lossPre += l; pSum += s }
      if (needLoss) lossAcc.foreach(_.add((lossIter, lossPre + pSum * math.log(sumQ))))
      val next = updatedState(forces, params, momentum, sumQ)
      ys = positionsOf(next)._2 // the ids never change
      Release.rdd(forces)
      bc.destroy()
      Release.rdd(state)
      state = next
    }
    if (needCenter) centerInPlace(ys)
    Release.rdd(static)
    Release.rdd(state)
    spark.createDataset(ids.indices.map(k => Point(ids(k), ys(k))))
  }

  /** O14 as a standalone operator — one gradient evaluation of KL(P‖Q) at a
    * given embedding (ref `TsneHelpers.scala:221-318`). θ=0 forces full
    * tree descent, i.e. the mathematically exact gradient — the reference
    * pins its gradient goldens the same way (`TsneHelpersTestSuite.scala:
    * 168-209`). The embedding (N×2 doubles) is collected and broadcast,
    * exactly the reference's own strategy (`TsneHelpers.scala:277`), with
    * each point's repulsion; the O(N·k) attraction pass over P stays
    * distributed. */
  def gradientDataset(p: Dataset[AffinityRow], y: Dataset[Point], theta: Double,
                      metric: String): Dataset[Point] = {
    val spark = p.sparkSession
    import spark.implicits._
    val metricName = metric
    val arr = y.collect().sortBy(_.id) // canonical order, like the optimizer
    val ids = arr.map(_.id)
    val ys = arr.map(_.vec)
    val tree = BhTree.build(ys)
    val rep = ys.map(v => tree.repulsiveForce(v(0), v(1), theta))
    var sumQ = 0.0
    rep.foreach(r => sumQ += r._3)
    val bc = spark.sparkContext.broadcast((ids, ys, rep))
    val sq = sumQ
    p.mapPartitions { rows =>
      val m = Distances.byName(metricName)
      val (ids, ys, rep) = bc.value
      def index(id: Long) = java.util.Arrays.binarySearch(ids, id)
      rows.map { row =>
        val i = index(row.id)
        val (ax, ay) = Gradient.attractiveForce(row.js.map(index), row.ps, ys(i), ys, m)
        Point(row.id,
          Array(Gradient.gradient(ax, rep(i)._1, sq), Gradient.gradient(ay, rep(i)._2, sq)))
      }
    }
  }

  /** O15 — centering as a standalone relational operator
    * (ref `TsneHelpers.scala:320-339`): subtract the per-component mean.
    * Expressed with a 1-row cross join so the plan stays lazy. */
  def centerPoints(points: Dataset[Point]): Dataset[Point] = {
    val spark = points.sparkSession
    import spark.implicits._
    val df = points.toDF()
    val means = df.select(posexplode(col("vec")).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg("v").as("mean"))
      .groupBy().agg(sort_array(collect_list(struct(col("pos"), col("mean")))).as("means"))
      .select(col("means.mean").as("mean"))
    df.crossJoin(means)
      .select(col("id"), zip_with(col("vec"), col("mean"), (v, m) => v - m).as("vec"))
      .as[Point]
  }
}
