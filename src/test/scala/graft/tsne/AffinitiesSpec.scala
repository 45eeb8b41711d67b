package graft.tsne

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Ports the reference's affinity-pipeline golden tests
  * (ref `TsneHelpersTestSuite.scala:76-137`): pairwise affinities on the
  * 10×784 fixture at perplexity 2 against the van der Maaten Python oracle
  * (tol 1e-12), joint distribution against both the dense Python goldens
  * (1e-12) and the sparse C++ Barnes-Hut goldens (1e-6), plus the Σp = 1
  * invariants the reference asserts at `:116,136`; and the one-shuffle
  * joint-distribution kernel against the three-operator composition it
  * replaced.
  */
class AffinitiesSpec extends AnyFlatSpec with Matchers with org.scalatest.Inspectors with SparkTestBase {

  private def toNeighbors(rows: Seq[(Long, Long, Double)]): Seq[Neighbor] =
    rows.map { case (i, j, v) => Neighbor(i, j, v) }

  private def asMap(rows: Seq[Neighbor]): Map[(Long, Long), Double] =
    rows.map(n => (n.i, n.j) -> n.dist).toMap

  "pairwiseAffinities" should "match the Python oracle on the fixture at perplexity 2" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val knn = Knn.bruteForce(input, 10, "sqeuclidean")
    val results = asMap(Affinities.pairwiseAffinities(knn, 2.0).collect().toSeq)

    results.size shouldBe Goldens.densePairwiseAffinities.size
    for ((i, j, expected) <- Goldens.densePairwiseAffinities) {
      withClue(s"p($j|$i): ") {
        results((i, j)) shouldBe expected +- 1e-12
      }
    }
  }

  it should "produce rows that each sum to one" in {
    val s = spark
    import s.implicits._
    val input = IO.readInput(s, fixturePath("dense_input.csv"), 784)
    val knn = Knn.bruteForce(input, 10, "sqeuclidean")
    val rowSums = Affinities.pairwiseAffinities(knn, 2.0).collect()
      .groupBy(_.i).map { case (_, rows) => rows.map(_.dist).sum }
    forAll(rowSums.toSeq) { _ shouldBe 1.0 +- 1e-9 }
  }

  "jointDistribution" should "match the dense Python goldens" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toNeighbors(Goldens.densePairwiseAffinities))
    val results = Affinities.jointDistribution(p).collect().toSeq

    results.size shouldBe Goldens.denseJointProbabilities.size
    val m = asMap(results)
    for ((i, j, expected) <- Goldens.denseJointProbabilities) {
      withClue(s"p($i,$j): ") { m((i, j)) shouldBe expected +- 1e-12 }
    }
    results.map(_.dist).sum shouldBe 1.0 +- 1e-12
  }

  it should "match the sparse C++ Barnes-Hut goldens" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toNeighbors(Goldens.sparsePairwiseAffinities))
    val results = Affinities.jointDistribution(p).collect().toSeq

    results.size shouldBe Goldens.sparseJointProbabilities.size
    val m = asMap(results)
    for ((i, j, expected) <- Goldens.sparseJointProbabilities) {
      withClue(s"p($i,$j): ") { m((i, j)) shouldBe expected +- 1e-6 }
    }
    results.map(_.dist).sum shouldBe 1.0 +- 1e-12
  }

  it should "propagate a NaN affinity to every entry, as a double sum does" in {
    val s = spark
    import s.implicits._
    val p = Goldens.densePairwiseAffinities.map { case (i, j, v) =>
      Neighbor(i, j, if (i == 3L && j == 5L) Double.NaN else v) }
    val results = Affinities.jointDistribution(s.createDataset(p)).collect()
    results.length shouldBe Goldens.denseJointProbabilities.size
    forAll(results.toSeq) { n => n.dist.isNaN shouldBe true }
  }

  "calibrateBeta" should "hit the target perplexity" in {
    // entropy of the returned distribution must equal log(perplexity)
    // within the reference's tolerance regime (ref TsneHelpers.scala:452)
    val dists = Array(1.0, 4.0, 9.0, 16.0, 25.0, 36.0)
    for (perplexity <- Seq(2.0, 3.0, 5.0)) {
      val p = Affinities.calibrateBeta(dists, perplexity)
      p.sum shouldBe 1.0 +- 1e-12
      val h = -p.filter(_ > 0).map(x => x * math.log(x)).sum
      h shouldBe math.log(perplexity) +- 1e-4
    }
  }

  "toAffinityRows" should "assemble sorted sparse rows" in {
    val s = spark
    import s.implicits._
    val p = s.createDataset(toNeighbors(Goldens.denseJointProbabilities))
    val rows = Affinities.toAffinityRows(p).collect()
    rows.length shouldBe 10
    forAll(rows.toSeq) { r =>
      r.js.toSeq shouldBe r.js.toSeq.sorted
      r.js.length shouldBe 9
    }
  }

  /** The affinity pipeline as three relational operators, in the shape
    * `highDimAffinities` had before the joint-distribution kernel: the
    * bisection in arrival order; a union with the transposed copy and a
    * `groupBy(i, j)`; a global sum and a 1-row cross join; a regroup into
    * sorted rows. */
  private def threeOperatorAffinities(knn: Dataset[Neighbor],
                                      perplexity: Double): Map[Long, AffinityRow] = {
    val s = knn.sparkSession
    import s.implicits._
    val cond = knn.groupByKey(_.i).flatMapGroups { (i, rows) =>
      val arr = rows.toArray
      val p = Affinities.calibrateBeta(arr.map(_.dist), perplexity)
      arr.indices.iterator.map(k => Neighbor(i, arr(k).j, p(k)))
    }.toDF()
    val sym = cond.union(cond.select(col("j").as("i"), col("i").as("j"), col("dist")))
      .groupBy("i", "j").agg(sum("dist").as("dist"))
    val joint = sym.crossJoin(sym.agg(sum("dist").as("total")))
      .select(col("i"), col("j"), (col("dist") / col("total")).as("dist"))
      .as[Neighbor]
    Affinities.toAffinityRows(joint).collect().map(r => r.id -> r).toMap
  }

  private def kernelAffinities(knn: Dataset[Neighbor],
                               perplexity: Double): Map[Long, AffinityRow] =
    Affinities.highDimAffinities(knn, perplexity).collect().map(r => r.id -> r).toMap

  /** Exact kNN rows of a seeded Gaussian cloud. */
  private def cloudKnn(n: Int, dim: Int, k: Int, seed: Long): Seq[Neighbor] = {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(seed)
    val pts = (0 until n).map(i => Point(i.toLong, Array.fill(dim)(rng.nextGaussian())))
    Knn.bruteForce(s.createDataset(pts), k, "sqeuclidean").collect().toSeq
  }

  "highDimAffinities" should "equal the three-operator composition it replaced" in {
    val s = spark
    import s.implicits._
    val clouds = Seq(
      "cloud n=120" -> cloudKnn(120, 5, 12, seed = 3L),
      "cloud n=300" -> cloudKnn(300, 8, 20, seed = 11L))
    // point 50 has no kNN row of its own, it appears only as some j
    val onlyAsJ = cloudKnn(60, 4, 6, seed = 5L).filter(_.i != 50L)
    // every distance of row 0 underflows exp(−d·β) down to the last β the
    // bisection tries: its ΣP takes the 1e-7 floor and each p_{j|0} is 0
    val underflow = cloudKnn(40, 3, 5, seed = 7L)
      .map(n => if (n.i == 0L) n.copy(dist = 1e300) else n)
    for ((name, rows) <- clouds :+ ("only as j" -> onlyAsJ) :+ ("underflow" -> underflow))
      withClue(s"$name: ") {
        val knn = s.createDataset(rows)
        val want = threeOperatorAffinities(knn, 5.0)
        val got = kernelAffinities(knn, 5.0)
        got.keySet shouldBe want.keySet
        forAll(want.toSeq) { case (id, w) =>
          val g = got(id)
          g.js.toSeq shouldBe w.js.toSeq
          forAll(g.ps.indices.toSeq) { k =>
            math.abs(g.ps(k) - w.ps(k)) should be <= 1e-12 * math.abs(w.ps(k))
          }
        }
      }
    kernelAffinities(s.createDataset(onlyAsJ), 5.0).keySet should contain(50L)
  }

  it should "be bit-identical at 1 and 7 shuffle partitions and in any row order" in {
    val s = spark
    import s.implicits._
    val rows = cloudKnn(200, 6, 15, seed = 13L)
    def bits(knn: => Dataset[Neighbor], parts: Int): Map[Long, (Seq[Long], Seq[Long])] =
      withShufflePartitions(parts) {
        kernelAffinities(knn, 7.0).map { case (id, r) =>
          id -> (r.js.toSeq, r.ps.toSeq.map(java.lang.Double.doubleToLongBits))
        }
      }
    val one = bits(s.createDataset(rows), 1)
    one.size shouldBe 200
    bits(s.createDataset(rows), 7) shouldBe one
    val shuffled = new scala.util.Random(17L).shuffle(rows)
    bits(s.createDataset(shuffled).repartition(3), 7) shouldBe one
  }

  it should "build P and count it in at most three jobs, leaving nothing stored" in {
    val s = spark
    import s.implicits._
    val knn = s.createDataset(cloudKnn(100, 4, 10, seed = 19L))
    // the count's two stage-jobs, the kernel's two shuffles inside the
    // first of them (the three-operator composition submitted 9 here)
    graft.SubmittedWork.of(s) {
      Affinities.highDimAffinities(knn, 5.0).count() shouldBe 100
    }.jobs should be <= 3
    graft.SubmittedWork.storedBy(s) {
      graft.SubmittedWork.persistedBy(s) {
        Affinities.highDimAffinities(knn, 5.0).count() shouldBe 100
      } shouldBe 0
    } shouldBe 0
  }
}
