package graft.tsne

import org.apache.spark.{ShuffleDependency, SparkException}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Ports the reference's kNN operator tests (ref
  * `TsneHelpersTestSuite.scala:29-74`): all three variants on the 9-point
  * collinear lattice, exact-match against the hand-computed golden set.
  */
class KnnSpec extends AnyFlatSpec with Matchers with org.scalatest.Inspectors with SparkTestBase {

  private def asSet(res: Seq[Neighbor]): Set[(Long, Long, Double)] =
    res.map(n => (n.i, n.j, n.dist)).toSet

  "bruteForce kNN" should "return the k nearest neighbors for each point" in {
    val s = spark
    import s.implicits._
    val input = s.createDataset(Goldens.knnInput)
    val results = Knn.bruteForce(input, 2, "sqeuclidean").collect().toSeq
    results.size shouldBe Goldens.knnResults.size
    // Ties at equal distance are broken by j ascending in the rebuild; the
    // golden set contains every admissible neighbor, so membership is the
    // right check (same as the reference's `should contain`).
    forAll(results) { r => Goldens.knnResults should contain((r.i, r.j, r.dist)) }
  }

  "partitionKnn" should "match the brute-force result" in {
    val s = spark
    import s.implicits._
    val input = s.createDataset(Goldens.knnInput)
    val results = Knn.partitionKnn(input, 2, "sqeuclidean", 3).collect().toSeq
    results.size shouldBe Goldens.knnResults.size
    forAll(results) { r => Goldens.knnResults should contain((r.i, r.j, r.dist)) }
  }

  it should "match brute force on the 10x784 fixture for every block count" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val expected = asSet(Knn.bruteForce(input, 3, "sqeuclidean").collect().toSeq)
    for (blocks <- Seq(1, 2, 4)) {
      asSet(Knn.partitionKnn(input, 3, "sqeuclidean", blocks).collect().toSeq) shouldBe expected
    }
  }

  "projectKnn" should "produce k rows per point with high recall on the lattice" in {
    val s = spark
    import s.implicits._
    val input = s.createDataset(Goldens.knnInput)
    val k = 2
    val results = Knn.projectKnn(input, k, "sqeuclidean", iterations = 4,
      seed = 42L, dimension = 4).collect().toSeq
    // shape: exactly k candidates per point
    results.groupBy(_.i).foreach { case (_, rows) => rows.size shouldBe k }
    // the ±k z-order window on collinear points recovers the true neighbors
    val hits = results.count(r => Goldens.knnResults.contains((r.i, r.j, r.dist)))
    hits.toDouble / results.size should be >= 0.8
  }

  "rankWithinProjection" should "assign exact per-projection ranks across partitions" in {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5L)
    // multiple projections, enough rows to span several range partitions
    val rows = (0 until 3).flatMap { proj =>
      (0 until 500).map { i =>
        (proj, i.toLong, ZOrderKey.morton(Array(rnd.nextDouble(), rnd.nextDouble())))
      }
    }
    val got = Knn.rankWithinProjectionWithCount(s.createDataset(rows).repartition(7))._1
      .collect().map { case (p, id, r) => (p, id) -> r }.toMap
    // ground truth: index in the (z, id)-sorted order, per projection
    implicit val byteOrd: Ordering[Array[Byte]] =
      (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)
    rows.groupBy(_._1).foreach { case (proj, group) =>
      group.sortBy(t => (t._3, t._2)).zipWithIndex.foreach { case ((_, id, _), idx) =>
        got((proj, id)) shouldBe idx.toLong
      }
    }
  }

  it should "reach full recall on the fixture with enough projections" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val truth = asSet(Knn.bruteForce(input, 3, "sqeuclidean").collect().toSeq).map(t => (t._1, t._2))
    val approx = Knn.projectKnn(input, 3, "sqeuclidean", iterations = 6,
      seed = 42L, dimension = 784).collect().toSeq
    val hits = approx.count(r => truth.contains((r.i, r.j)))
    hits.toDouble / truth.size should be >= 0.9
  }

  it should "hold recall at a FIXED window on clustered data with sub-quadratic candidates" in {
    // The scale guard behind q_knn_project's window cap (VERDICT r3
    // next-round #5): on data with low-dimensional structure, a constant
    // window holds its recall as N grows — so candidate volume grows
    // ~linearly in N, not quadratically. (Isotropic data is the documented
    // exception: route to Ann.lshTopK per Knn.projectKnn's scaladoc.)
    val s = spark
    import s.implicits._
    val k = 10
    val window = 40
    val dim = 16
    def clustered(n: Int): Seq[Point] = {
      val rng = new scala.util.Random(7L)
      val centers = Array.fill(20)(Array.fill(dim)(rng.nextGaussian() * 10.0))
      (0 until n).map { i =>
        val c = centers(i % centers.length)
        Point(i.toLong, Array.tabulate(dim)(d => c(d) + rng.nextGaussian() * 0.5))
      }
    }
    val counts = for (n <- Seq(500, 2000)) yield {
      val pts = s.createDataset(clustered(n))
      val truth = asSet(Knn.bruteForce(pts, k, "sqeuclidean").collect().toSeq)
        .map(t => (t._1, t._2))
      val approx = Knn.projectKnn(pts, k, "sqeuclidean", iterations = 8,
        seed = 42L, dimension = dim, window = window).collect().toSeq
      val hits = approx.count(r => truth.contains((r.i, r.j)))
      withClue(s"recall at n=$n, fixed window=$window: ") {
        hits.toDouble / truth.size should be >= 0.9
      }
      val (cands, _, _) = Knn.projectCandidates(pts, k, iterations = 8,
        seed = 42L, dimension = dim, window = window)
      cands.count()
    }
    // 4x the points: candidates grow ~4x (linear), nowhere near 16x
    // (quadratic); 6x allows for boundary effects
    counts(1).toDouble / counts(0) should be < 6.0
  }

  "knn metrics" should "agree with the scalar kernels on euclidean and cosine" in {
    val s = spark
    import s.implicits._
    // drop the all-zero point: cosine distance to it is NaN (0/0), in both
    // the Breeze reference (`Tsne.scala:165`) and this rebuild
    val pts = Goldens.knnInput.filter(_.id != 0L)
    val input = s.createDataset(pts)
    val vecs = pts.map(p => p.id -> p.vec).toMap
    for (metric <- Seq("euclidean", "cosine")) {
      val fn = Distances.byName(metric)
      val byCol = Knn.bruteForce(input, 2, metric).collect()
      forAll(byCol.toSeq) { r =>
        r.dist shouldBe fn(vecs(r.i), vecs(r.j)) +- 1e-12
      }
    }
  }

  // ---- the one-stage kernel against the former cross join + ranking window

  private def cloud(n: Int, dim: Int, seed: Long): Seq[Point] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map(i => Point(i.toLong, Array.fill(dim)(rng.nextGaussian())))
  }

  /** `(i, rn, j, dist bits)` of ranked rows, sorted. */
  private def rankedBits(df: DataFrame): Seq[(Long, Long, Long, Long)] =
    df.collect().toSeq.map { r =>
      (r.getAs[Long]("i"), r.getAs[Long]("rn"), r.getAs[Long]("j"),
        java.lang.Double.doubleToLongBits(r.getAs[Double]("dist")))
    }.sorted

  /** `(i, j, dist bits)` of neighbour rows, sorted. */
  private def neighbourBits(rows: Seq[Neighbor]): Seq[(Long, Long, Long)] =
    rows.map(n => (n.i, n.j, java.lang.Double.doubleToLongBits(n.dist))).sorted

  private val allMetrics = Seq("sqeuclidean", "euclidean", "cosine")

  // (case, points, k, metrics): every one is run at 1 and 7 shuffle
  // partitions on a shuffled row order
  private lazy val pinCases: Seq[(String, Seq[Point], Int, Seq[String])] = {
    val lattice = {
      // coordinates in {0, 1, 2}: exact-duplicate vectors, distance ties
      // everywhere, and all-zero vectors (NaN under cosine)
      val rng = new scala.util.Random(11L)
      (0 until 60).map(i => Point(i.toLong, Array.fill(3)(rng.nextInt(3).toDouble)))
    }
    val zeros = Seq(Point(1000L, Array.fill(8)(0.0)), Point(1001L, Array.fill(8)(0.0)))
    val small = cloud(12, 4, 3L)
    Seq(
      ("a random cloud", cloud(300, 16, 1L), 10, allMetrics),
      ("exact-duplicate vectors", lattice, 7, allMetrics),
      ("an all-zero vector", cloud(100, 8, 2L) ++ zeros, 10, Seq("cosine")),
      ("a duplicated id", cloud(40, 6, 4L) ++
        Seq(Point(3L, Array.fill(6)(0.5)), Point(5L, cloud(40, 6, 4L)(5).vec)), 5, allMetrics),
      ("k >= N", small, small.length + 3, allMetrics),
      ("k = 0", small, 0, Seq("sqeuclidean")),
      ("an empty input", Seq.empty[Point], 5, Seq("sqeuclidean")),
      ("a single point", Seq(Point(7L, Array(1.0, 2.0))), 5, Seq("sqeuclidean")))
  }

  "bruteForce" should "equal the former cross join and ranking window bit for bit" in {
    val s = spark
    import s.implicits._
    for ((name, points, k, metrics) <- pinCases; metric <- metrics; parts <- Seq(1, 7))
      withClue(s"$name, $metric, $parts partitions: ") {
        withShufflePartitions(parts) {
          val ds = s.createDataset(new scala.util.Random(parts.toLong).shuffle(points))
          val former = rankedBits(FormerKnn.bruteForceRanked(ds, k, metric))
          rankedBits(Knn.bruteForceRanked(ds, k, metric)) shouldBe former
          neighbourBits(Knn.bruteForce(ds, k, metric).collect().toSeq) shouldBe
            former.map(r => (r._1, r._3, r._4)).sorted
          if (name == "a random cloud") former.size shouldBe points.size * k
        }
      }
  }

  it should "sort a NaN distance last and break distance ties by the lower j" in {
    val s = spark
    import s.implicits._
    val ds = s.createDataset(Seq(Point(1L, Array(1.0, 0.0)), Point(2L, Array(0.0, 0.0)),
      Point(3L, Array(0.0, 1.0)), Point(4L, Array(0.0, 1.0))))
    Knn.bruteForceRanked(ds, 3, "cosine").where("i = 1").orderBy("rn")
      .collect().map(r => r.getAs[Long]("j")).toSeq shouldBe Seq(3L, 4L, 2L)
  }

  it should "reject vectors of different lengths" in {
    val s = spark
    import s.implicits._
    // the cross-join form gave such a pair a null distance, ranked first
    val ds = s.createDataset(Seq(Point(1L, Array(0.0, 1.0, 2.0)), Point(2L, Array(0.0, 1.0))))
    intercept[SparkException] {
      Knn.bruteForce(ds, 1, "sqeuclidean").collect()
    }.getMessage should include("has length")
  }

  it should "run as one stage: no shuffle, and no more jobs than the cross join" in {
    val s = spark
    import s.implicits._
    val ds = s.createDataset(cloud(200, 8, 5L))
    def shuffles(rdd: RDD[_]): Seq[ShuffleDependency[_, _, _]] =
      rdd.dependencies.flatMap {
        case d: ShuffleDependency[_, _, _] => d +: shuffles(d.rdd)
        case d => shuffles(d.rdd)
      }
    shuffles(Knn.bruteForceKernel(ds, 10, "sqeuclidean")) shouldBe empty
    val jobs = graft.SubmittedWork.of(s)(Knn.bruteForce(ds, 10, "sqeuclidean").count()).jobs
    val former = graft.SubmittedWork.of(s)(FormerKnn.bruteForce(ds, 10, "sqeuclidean").count()).jobs
    jobs should be <= former
  }

  "partitionKnn" should "equal bruteForce bit for bit on ties, NaN and a duplicated id" in {
    val s = spark
    import s.implicits._
    for ((name, points, k, metrics) <- pinCases.take(4); metric <- metrics)
      withClue(s"$name, $metric: ") {
        val ds = s.createDataset(points)
        rankedBits(Knn.partitionKnnRanked(ds, k, metric, 3)) shouldBe
          rankedBits(Knn.bruteForceRanked(ds, k, metric))
      }
  }
}
