package perfbench

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Every output check accepts a correct output and rejects a deliberately
  * corrupted one. */
class ChecksSpec extends AnyFlatSpec with Matchers {

  private def rows(pts: Array[Array[Double]]) = pts.indices.map(i => (i.toLong, pts(i))).toArray

  "the t-SNE embedding check" should "accept a neighbor-preserving embedding and reject corruptions" in {
    val input = Gen.mixture(200, 2, 5, seed = 9) // 2-D, so the input is a perfect embedding
    val truth = Checks.topK(input, 10)
    val good = rows(input)
    Checks.tsneLocal(good, truth, 0.08)._1 shouldBe None
    Checks.tsneLocal(good, truth, 0.08)._2 shouldBe 1.0

    Checks.tsneLocal(good.dropRight(1), truth, 0.08)._1 shouldBe defined
    Checks.tsneLocal(good.updated(3, (3L, Array(Double.NaN, 0.0))), truth, 0.08)._1 shouldBe defined
    Checks.tsneLocal(good.updated(3, (3L, Array(0.0, 0.0, 0.0))), truth, 0.08)._1 shouldBe defined
    val rng = new Rng(1)
    val scrambled = good.map { case (id, _) => (id, Array(rng.nextGaussian(), rng.nextGaussian())) }
    Checks.tsneLocal(scrambled, truth, 0.08)._1 shouldBe defined
  }

  "the exact top-k" should "equal a full sort by (distance, id)" in {
    // integer grid coordinates, so equal distances (ties) are common
    val rng = new Rng(4)
    val pts = Array.fill(120)(Array.fill(2)(rng.nextInt(6).toDouble))
    val byId = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    val sorted = pts.indices.map { i =>
      pts.indices.filter(_ != i).map(j => (pts(i).zip(pts(j)).map { case (a, b) => (a - b) * (a - b) }.sum, j))
        .sorted(byId).take(10).map(_._2)
    }
    Checks.topK(pts, 10).map(_.toSeq).toSeq shouldBe sorted
  }

  "the same-embedding check" should "hold at 1e-9 and reject a larger drift" in {
    val ref = rows(Gen.mixture(50, 2, 2, seed = 1))
    Checks.sameEmbedding(ref.map { case (i, v) => (i, v.map(_ + 1e-12)) }, ref, 1e-9) shouldBe None
    Checks.sameEmbedding(ref.map { case (i, v) => (i, if (i == 7) v.map(_ + 1e-6) else v) }, ref, 1e-9) shouldBe defined
    Checks.sameEmbedding(ref.tail, ref, 1e-9) shouldBe defined
  }

  private val docs = Gen.documents(n = 300, dupShare = 0.05, seed = 2)
  private val exact = Checks.jaccardPairs(docs, 0.7)
  private val good = exact.toArray.map { case ((i, j), s) => (i, j, s) }.sortBy(p => (p._1, p._2))

  "the MinHash pair check" should "accept the exact pair set and reject corrupted ones" in {
    good should not be empty
    Checks.pairs(good, exact, 0.7) shouldBe None
    Checks.pairs(good.tail, exact, 0.7) shouldBe defined                          // a missed pair
    Checks.pairs(good :+ good.head, exact, 0.7) shouldBe defined                  // a repeated pair
    Checks.pairs(good.updated(0, good(0).copy(_3 = good(0)._3 + 1e-9)), exact, 0.7) shouldBe defined
    val below = Checks.jaccardPairs(docs, 0.0).maxBy(p => if (p._2 < 0.7) p._2 else -1.0)
    Checks.pairs(good :+ ((below._1._1, below._1._2, below._2)), exact, 0.7) shouldBe defined
  }

  "the cluster check" should "accept connected components and reject a wrong label" in {
    val ref = Checks.clusters(docs.map(_.doc_id), exact.keys)
    val out = ref.toArray
    Checks.sameRows("clusters", out, ref) shouldBe None
    val (id, c) = out.find { case (i, c) => i != c }.get // a non-root member
    Checks.sameRows("clusters", out.map { case (i, l) => if (i == id) (i, i) else (i, l) }, ref) shouldBe defined
    Checks.sameRows("clusters", out.tail, ref) shouldBe defined
    c should be < id
  }

  "the k-core reference" should "peel to the core and the check reject corruptions" in {
    // a 5-clique plus a pendant path: the 4-core is exactly the clique
    val clique = for (a <- 0L until 5L; b <- a + 1 until 5L) yield Edge(a, b)
    val edges = (clique ++ Seq(Edge(4, 5), Edge(5, 6), Edge(6, 6))).toArray
    val ref = Checks.kCore(edges, 4)
    ref shouldBe (0L until 5L).map(_ -> 4L).toMap
    Checks.sameRows("k-core", ref.toArray, ref) shouldBe None
    Checks.sameRows("k-core", ref.toArray :+ (5L -> 1L), ref) shouldBe defined
    Checks.sameRows("k-core", ref.toArray.map { case (v, d) => (v, if (v == 0) d - 1 else d) }, ref) shouldBe defined
  }

  "the PageRank reference" should "match the fixed-point recurrence and the check reject an off-by-one" in {
    Checks.pageRank(Array(Edge(0, 1), Edge(1, 0)), 5) shouldBe Map(0L -> 500000000000L, 1L -> 500000000000L)
    // node 2 is dangling: its mass is shared evenly by all three nodes
    val ranks = Checks.pageRank(Array(Edge(0, 1), Edge(1, 0), Edge(0, 2)), 1)
    val base = 1000000000000L / 3
    ranks(2) shouldBe (15 * base + 85 * (base / 2 + base / 3)) / 100
    Checks.sameRows("pagerank", ranks.toArray, ranks) shouldBe None
    Checks.sameRows("pagerank", ranks.toArray.map { case (v, r) => (v, if (v == 1) r + 1 else r) }, ranks) shouldBe defined
  }
}
