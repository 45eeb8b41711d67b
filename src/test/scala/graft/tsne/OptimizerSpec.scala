package graft.tsne

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Ports the reference's optimizer-stage tests
  * (ref `TsneHelpersTestSuite.scala:139-166` centering, `:211-231` init,
  * `:273-327` one full iteration superstep, tol 1e-9), plus rebuild-specific
  * checks: the 3-phase schedule arithmetic, seeded-init determinism, and
  * local-vs-distributed path equivalence (the reference has a single path;
  * the rebuild's two must agree).
  */
class OptimizerSpec extends AnyFlatSpec with Matchers with org.scalatest.Inspectors with SparkTestBase {

  private def toRows(p: Seq[(Long, Long, Double)]): Array[AffinityRow] =
    p.groupBy(_._1).toSeq.sortBy(_._1).map { case (i, rows) =>
      val sorted = rows.sortBy(_._2)
      AffinityRow(i, sorted.map(_._2).toArray, sorted.map(_._3).toArray)
    }.toArray

  private val superstepParams = Optimizer.Params(
    iterations = 1, initialMomentum = 0.5, earlyExaggeration = 1.0,
    learningRate = 300, theta = 0.0, minGain = 0.01)

  "optimizeLocal" should "reproduce one reference superstep (gradient+update+center)" in {
    val ws0 = Goldens.initialEmbedding.map(p =>
      WorkingSet(p.id, p.vec.clone(), Array(0.0, 0.0), Array(1.0, 1.0)))
    val (points, _) = Optimizer.optimizeLocal(
      toRows(Goldens.denseJointProbabilities), ws0.toArray, superstepParams)
    val expected = Goldens.updatedAndCentredEmbedding.map(p => p.id -> p.vec).toMap
    points.length shouldBe expected.size
    for (p <- points; d <- 0 until 2) {
      withClue(s"y(${p.id})($d): ") { p.vec(d) shouldBe expected(p.id)(d) +- 1e-9 }
    }
  }

  private def goldenWorkingSet: Seq[WorkingSet] = Goldens.initialEmbedding.map(p =>
    WorkingSet(p.id, p.vec.clone(), Array(0.0, 0.0), Array(1.0, 1.0)))

  // superstep-equivalent like TsneHelpers.scala:378's loop: same loss
  // supersteps, same values (the distributed loss is fused into the forces
  // pass via the sumQ-independent decomposition, so this also pins that
  // identity), positions at 1e-9, whatever the partitioning
  private def assertDistributedMatchesLocal(parts: Int): Unit = {
    val s = spark
    import s.implicits._
    val pRows = toRows(Goldens.denseJointProbabilities)
    val ws0 = goldenWorkingSet
    val params = superstepParams.copy(iterations = 25)
    val (localPoints, localLoss) = Optimizer.optimizeLocal(
      pRows.map(r => r.copy(js = r.js.clone(), ps = r.ps.clone())),
      ws0.map(w => w.copy(y = w.y.clone(), lastGrad = w.lastGrad.clone(),
        gains = w.gains.clone())).toArray,
      params)
    val localMap = localPoints.map(p => p.id -> p.vec).toMap

    val acc = new MapAccumulator
    s.sparkContext.register(acc, s"loss-test-$parts")
    val distPoints = withShufflePartitions(parts) {
      Optimizer.optimizeDistributed(
        s.createDataset(pRows.toSeq), s.createDataset(ws0), params, Some(acc)).collect()
    }
    distPoints.length shouldBe localPoints.length
    for (p <- distPoints; d <- 0 until 2) {
      withClue(s"y(${p.id})($d): ") { p.vec(d) shouldBe localMap(p.id)(d) +- 1e-9 }
    }
    acc.value.keySet shouldBe localLoss.keySet
    for ((k, v) <- localLoss) acc.value(k) shouldBe v +- 1e-9
  }

  /** P and the seeded working set of a 300-point, 30-cluster mixture. */
  private lazy val mixtureInput: (Array[AffinityRow], Array[WorkingSet]) = {
    val s = spark
    import s.implicits._
    val pts = s.createDataset(Quality.clusteredCloud(300, 30, 10, seed = 99L))
    val p = Affinities.highDimAffinities(Knn.bruteForce(pts, 30, "sqeuclidean"), 10.0)
    (p.collect(), Optimizer.initWorkingSet(p, 2, seed = 5L).collect())
  }

  private def assertSameAsFormerLoop(pRows: Array[AffinityRow], ws0: Array[WorkingSet],
                                     params: Optimizer.Params,
                                     schedule: Seq[(Int, Double, Boolean, Int)]): Unit = {
    val (now, nowLoss) = Optimizer.optimizeLocalSchedule(pRows, ws0, params, schedule)
    val (before, beforeLoss) = FormerLocalLoop.optimizeLocalSchedule(pRows, ws0, params, schedule)
    now.map(p => (p.id, p.vec.toSeq)) shouldBe before.map(p => (p.id, p.vec.toSeq))
    nowLoss shouldBe beforeLoss
  }

  it should "equal the former loop bit for bit through all three phases" in {
    val (pRows, ws0) = mixtureInput
    val params = Optimizer.Params(perplexity = 10.0, iterations = 130, seed = 5L)
    assertSameAsFormerLoop(pRows, ws0, params, Optimizer.phases(params))
  }

  it should "equal the former loop bit for bit on QualitySpec's broken schedule" in {
    val (pRows, ws0) = mixtureInput
    val params = Optimizer.Params(perplexity = 10.0, iterations = 250, seed = 5L)
    // the schedule truncated after phase 1
    assertSameAsFormerLoop(pRows, ws0, params, Seq((20, params.initialMomentum, true, 0)))
  }

  "optimizeDistributed" should "match the local path on the same input" in {
    assertDistributedMatchesLocal(parts = 1)
  }

  it should "match the local path at seven partitions" in {
    assertDistributedMatchesLocal(parts = 7)
  }

  it should "keep a point with an empty affinity row in the embedding" in {
    val s = spark
    import s.implicits._
    val ws = goldenWorkingSet ++ Seq(
      WorkingSet(98L, Array(-0.05, 0.05), Array(0.0, 0.0), Array(1.0, 1.0)),
      WorkingSet(99L, Array(0.05, -0.05), Array(0.0, 0.0), Array(1.0, 1.0)))
    // point 98 has an empty affinity row and point 99 no row at all: both
    // paths must keep both — they feel no attraction but still feel
    // repulsion and centering, every superstep, and appear in the output
    val pRows = toRows(Goldens.denseJointProbabilities) :+
      AffinityRow(98L, Array.empty[Long], Array.empty[Double])
    val params = superstepParams.copy(iterations = 5)
    val out = Optimizer.optimizeDistributed(
      s.createDataset(pRows.toSeq), s.createDataset(ws), params, None).collect()
    val (local, _) = Optimizer.optimizeLocal(pRows, ws.toArray, params)
    val localMap = local.map(p => p.id -> p.vec).toMap
    local.map(_.id).toSet shouldBe ws.map(_.id).toSet
    out.map(_.id).toSet shouldBe ws.map(_.id).toSet
    for (p <- out; d <- 0 until 2) {
      withClue(s"y(${p.id})($d): ") { p.vec(d) shouldBe localMap(p.id)(d) +- 1e-9 }
    }
  }

  "optimize" should "take the distributed path when maxLocalPEntries = 0 and agree" in {
    val s = spark
    import s.implicits._
    val pRows = toRows(Goldens.denseJointProbabilities)
    val ws0 = goldenWorkingSet
    val params = superstepParams.copy(iterations = 3)

    val viaLocal = Optimizer.optimize(
      s.createDataset(pRows.toSeq), s.createDataset(ws0), params)
      .collect().map(p => p.id -> p.vec).toMap
    val viaDist = Optimizer.optimize(
      s.createDataset(pRows.toSeq), s.createDataset(ws0),
      params.copy(maxLocalPEntries = 0L))
      .collect().map(p => p.id -> p.vec).toMap

    viaDist.keySet shouldBe viaLocal.keySet
    for ((id, v) <- viaDist; d <- 0 until 2) v(d) shouldBe viaLocal(id)(d) +- 1e-9
  }

  it should "leave no RDD persistent on the distributed dispatch" in {
    val s = spark
    import s.implicits._
    val pRows = toRows(Goldens.denseJointProbabilities)
    val ws0 = goldenWorkingSet
    // P, the static side, every forces RDD and superseded state checkpoint,
    // and the final one
    graft.SubmittedWork.storedBy(s) {
      graft.SubmittedWork.persistedBy(s) {
        Optimizer.optimize(s.createDataset(pRows.toSeq), s.createDataset(ws0),
          superstepParams.copy(iterations = 5, maxLocalPEntries = 0L))
          .collect().length shouldBe ws0.length
      } shouldBe 0
    } shouldBe 0
  }

  it should "keep the cache of a P the caller persisted, on both dispatches" in {
    val s = spark
    import s.implicits._
    val ws0 = goldenWorkingSet
    for (maxLocal <- Seq(Optimizer.Params().maxLocalPEntries, 0L))
      withClue(s"maxLocalPEntries=$maxLocal: ") {
        val p = s.createDataset(toRows(Goldens.denseJointProbabilities).toSeq).persist()
        try {
          Optimizer.optimize(p, s.createDataset(ws0),
            superstepParams.copy(iterations = 3, maxLocalPEntries = maxLocal))
            .collect().length shouldBe ws0.length
          p.storageLevel should not be org.apache.spark.storage.StorageLevel.NONE
        } finally p.unpersist()
      }
  }

  it should "submit at most three jobs on the local dispatch" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toRows(Goldens.denseJointProbabilities).toSeq)
    // the dispatch probe, P's collect and the working set's collect; a
    // relational sum/count probe made it five
    graft.SubmittedWork.of(s) {
      Optimizer.optimize(p, Optimizer.initWorkingSet(p, 2, seed = 7L),
        superstepParams.copy(iterations = 5)).collect().length shouldBe 10
    }.jobs should be <= 3
  }

  it should "submit at most two jobs per superstep on the distributed dispatch" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toRows(Goldens.denseJointProbabilities).toSeq)
    def jobs(iterations: Int): Int = graft.SubmittedWork.of(s) {
      Optimizer.optimize(p, Optimizer.initWorkingSet(p, 2, seed = 7L),
        superstepParams.copy(iterations = iterations, maxLocalPEntries = 0L))
        .collect().length shouldBe 10
    }.jobs
    // the forces job and the update job; setup is the same at any count
    jobs(25) - jobs(5) should be <= 2 * (25 - 5)
  }

  "initWorkingSet" should "initialize gradient to zero, gains to one, y ~ N(0, 1e-4), seeded" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toRows(Goldens.denseJointProbabilities).toSeq)
    val results = Optimizer.initWorkingSet(p, 2, seed = 7L).collect()
    results.length shouldBe 10
    forAll(results.toSeq) { w =>
      w.lastGrad.toSeq shouldBe Seq(0.0, 0.0)
      w.gains.toSeq shouldBe Seq(1.0, 1.0)
      w.y.length shouldBe 2
      forAll(w.y.toSeq) { y => math.abs(y) should be < 1e-3 } // σ = 1e-4
    }
    // deterministic in (seed, id): a rerun is identical, independent of partitioning
    val again = Optimizer.initWorkingSet(p.repartition(7), 2, seed = 7L)
      .collect().map(w => w.id -> w.y.toSeq).toMap
    forAll(results.toSeq) { w => again(w.id) shouldBe w.y.toSeq }
    // a different seed draws different positions
    val other = Optimizer.initWorkingSet(p, 2, seed = 8L)
      .collect().map(w => w.id -> w.y.toSeq).toMap
    results.count(w => other(w.id) == w.y.toSeq) shouldBe 0
  }

  "phases" should "replicate the reference 20/81/rest schedule" in {
    def sched(iters: Int) = Optimizer.phases(Optimizer.Params(iterations = iters))
      .map(p => (p._1, p._2, p._3))
    // ref TsneHelpers.scala:396-427: phase1 = min(n, 20) @ initial momentum,
    // exaggerated; phase2 = min(n-20, 81) @ final momentum, exaggerated;
    // phase3 = rest @ final momentum, plain P
    sched(300) shouldBe Seq((20, 0.5, true), (81, 0.8, true), (199, 0.8, false))
    sched(100) shouldBe Seq((20, 0.5, true), (80, 0.8, true))
    sched(10) shouldBe Seq((10, 0.5, true))
    sched(101) shouldBe Seq((20, 0.5, true), (81, 0.8, true))
    // loss-iteration offsets are cumulative
    Optimizer.phases(Optimizer.Params(iterations = 300)).map(_._4) shouldBe Seq(0, 20, 101)
  }

  "centerPoints" should "subtract the component means (reference centering golden)" in {
    val s = spark
    import s.implicits._
    val centred = Optimizer.centerPoints(s.createDataset(Goldens.centeringInput))
      .collect().map(p => p.id -> p.vec.toSeq).toMap
    for (e <- Goldens.centeringResults) centred(e.id) shouldBe e.vec.toSeq
  }
}
