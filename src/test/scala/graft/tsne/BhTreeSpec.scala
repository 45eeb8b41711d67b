package graft.tsne

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import scala.util.Random

/** Direct QuadTree unit tests — the reference ships an *empty* placeholder
  * suite (`QuadTreeTestSuite.scala:4-6`) and covers the tree only indirectly
  * through the θ=0 gradient test; these pin the tree itself.
  */
class BhTreeSpec extends AnyFlatSpec with Matchers {

  /** Exact all-pairs repulsion with the reference's kernel
    * (ref `QuadTree.scala:135-141`): q = 1/(1+D), D = squared euclidean;
    * F += q²·(y−com), sumQ += q — per point. The reference's self-test at
    * `QuadTree.scala:128` compares *coordinates*, so every point at the
    * query position is excluded (exact duplicates contribute nothing),
    * not just the query index. */
  private def bruteRepulsion(pts: Array[Array[Double]], i: Int): (Double, Double, Double) = {
    var fx = 0.0; var fy = 0.0; var sumQ = 0.0
    val p = pts(i)
    for (j <- pts.indices if pts(j)(0) != p(0) || pts(j)(1) != p(1)) {
      val dx = p(0) - pts(j)(0); val dy = p(1) - pts(j)(1)
      val d = dx * dx + dy * dy
      val q = 1.0 / (1.0 + d)
      sumQ += q
      fx += q * q * dx
      fy += q * q * dy
    }
    (fx, fy, sumQ)
  }

  "BhTree at theta = 0" should "compute the exact repulsion on the seed embedding" in {
    val pts = Goldens.initialEmbedding.map(_.vec).toArray
    val tree = BhTree.build(pts)
    tree.size shouldBe pts.length
    for (i <- pts.indices) {
      val (efx, efy, esq) = bruteRepulsion(pts, i)
      val (fx, fy, sq) = tree.repulsiveForce(pts(i)(0), pts(i)(1), 0.0)
      fx shouldBe efx +- 1e-12
      fy shouldBe efy +- 1e-12
      sq shouldBe esq +- 1e-12
    }
  }

  it should "be exact on random clouds including boundary and duplicate points" in {
    val rnd = new Random(1234)
    val base = Array.fill(200)(Array(rnd.nextGaussian(), rnd.nextGaussian()))
    // exact duplicates (mass accumulation, ref QuadTree.scala:50-53) and
    // points that land exactly on cell boundaries after subdivision
    val pts = base ++ base.take(5).map(_.clone()) ++
      Array(Array(0.0, 0.0), Array(0.5, 0.5), Array(-0.5, 0.5))
    val tree = BhTree.build(pts)
    tree.size shouldBe pts.length
    for (i <- pts.indices.take(50)) {
      val (efx, efy, esq) = bruteRepulsion(pts, i)
      val (fx, fy, sq) = tree.repulsiveForce(pts(i)(0), pts(i)(1), 0.0)
      fx shouldBe efx +- 1e-9
      fy shouldBe efy +- 1e-9
      sq shouldBe esq +- 1e-9
    }
  }

  it should "handle pathologically close points without unbounded depth" in {
    val eps = java.lang.Math.ulp(1.0)
    val pts = Array(Array(1.0, 1.0), Array(1.0 + eps, 1.0), Array(1.0, 1.0 + eps),
      Array(0.0, 0.0))
    val tree = BhTree.build(pts) // must terminate
    tree.size shouldBe 4
    val (_, _, sq) = tree.repulsiveForce(0.0, 0.0, 0.0)
    sq should be > 0.0
  }

  "BhTree at the default theta = 0.25" should "approximate the exact repulsion" in {
    // NOTE the replicated quirk (ref QuadTree.scala:133-134): the criterion
    // is hw/D < θ with D the *squared* distance, far more aggressive than
    // standard Barnes-Hut hw/dist < θ — so the tolerance here is loose; the
    // bit-exact behavior is pinned by the θ=0 tests above.
    val rnd = new Random(99)
    val pts = Array.fill(500)(Array(rnd.nextGaussian() * 5, rnd.nextGaussian() * 5))
    val tree = BhTree.build(pts)
    var sqErrSum = 0.0
    for (i <- 0 until 50) {
      val (_, _, esq) = bruteRepulsion(pts, i)
      val (_, _, sq) = tree.repulsiveForce(pts(i)(0), pts(i)(1), 0.25)
      sqErrSum += math.abs(sq - esq) / esq
    }
    (sqErrSum / 50) should be < 0.35
  }

  "BhTree" should "return the former traversal's forces bit for bit" in {
    // the centres of mass computed once at build and the empty children
    // never pushed must not change a single bit of (fx, fy, sumQ)
    val rnd = new Random(2718)
    def cloud(n: Int, sigma: Double) =
      Array.fill(n)(Array(rnd.nextGaussian() * sigma, rnd.nextGaussian() * sigma))
    val spread = cloud(600, 5.0)
    val eps = java.lang.Math.ulp(1.0)
    val clouds = Seq(
      "collapsed" -> cloud(1000, 1e-4),
      "spread" -> spread,
      "duplicates" -> (spread.take(200) ++ spread.take(30).map(_.clone()) ++
        Array.fill(7)(spread(3).clone())),
      // a dyadic grid: the mean is exactly 0 and the root cell [-2, 2]², so
      // every point lies on cell edges down to the quarter grid
      "boundary" -> (for (i <- -4 to 4; j <- -4 to 4) yield Array(i / 4.0, j / 4.0)).toArray,
      "close" -> Array(Array(1.0, 1.0), Array(1.0 + eps, 1.0), Array(1.0, 1.0 + eps),
        Array(1.0 + 2 * eps, 1.0 + eps), Array(1.0 + eps, 1.0 + eps), Array(0.0, 0.0),
        Array(1.0, 1.0), Array(-3.0, 2.0)))
    val strays = cloud(20, 1.0) // queries that are no point of the tree
    for ((name, pts) <- clouds; theta <- Seq(0.0, 0.25, 1.0)) {
      val now = BhTree.build(pts)
      val before = FormerBhTree.build(pts)
      for (p <- pts ++ strays) withClue(s"$name, theta=$theta, (${p(0)}, ${p(1)}): ") {
        now.repulsiveForce(p(0), p(1), theta) shouldBe before.repulsiveForce(p(0), p(1), theta)
      }
    }
  }

  it should "keep its centres of mass current across inserts after the build" in {
    val rnd = new Random(31)
    val pts = Array.fill(300)(Array(rnd.nextGaussian(), rnd.nextGaussian()))
    val now = BhTree.build(pts.take(200))
    val before = FormerBhTree.build(pts.take(200))
    pts.drop(200).foreach { p =>
      now.insert(p(0), p(1)) shouldBe before.insert(p(0), p(1))
    }
    for (p <- pts; theta <- Seq(0.0, 0.25))
      now.repulsiveForce(p(0), p(1), theta) shouldBe before.repulsiveForce(p(0), p(1), theta)
  }

  "insert" should "reject points outside the root cell like the reference" in {
    val pts = Array(Array(0.0, 0.0), Array(1.0, 1.0), Array(0.5, 0.2))
    val tree = BhTree.build(pts)
    tree.insert(100.0, 100.0) shouldBe false // ref QuadTree.scala:74-76 drops it
    tree.size shouldBe 3
  }
}
