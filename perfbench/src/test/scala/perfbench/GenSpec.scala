package perfbench

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

class GenSpec extends AnyFlatSpec with Matchers {

  "Gen.mixture" should "give identical points for the same seed and different ones for another" in {
    val a = Gen.mixture(300, 64, 10, seed = 1)
    val b = Gen.mixture(300, 64, 10, seed = 1)
    a.map(_.toSeq).toSeq shouldBe b.map(_.toSeq).toSeq
    Gen.mixture(300, 64, 10, seed = 2).map(_.toSeq).toSeq should not be a.map(_.toSeq).toSeq
    all(a.map(_.length)) shouldBe 64
  }

  "Gen.documents" should "be a pure function of the seed, with planted near-duplicates" in {
    val a = Gen.documents(n = 400, dupShare = 0.05, seed = 5)
    Gen.documents(n = 400, dupShare = 0.05, seed = 5).toSeq shouldBe a.toSeq
    Gen.documents(n = 400, dupShare = 0.05, seed = 6).toSeq should not be a.toSeq
    a.map(_.doc_id).sorted.toSeq shouldBe (0L until 400L)
    all(a.map(_.text.split(" ").length)) should (be >= 10 and be <= 101)
    a.flatMap(_.text.split(" ")).distinct.length shouldBe 31 // 30 words and the marker
    val pairs = Checks.jaccardPairs(a, 0.7)
    pairs should not be empty
    all(pairs.values) should be >= 0.88
  }

  "the graph generators" should "be pure functions of the seed" in {
    val lines = Gen.orderLines(orders = 300, items = 100, seed = 3)
    Gen.orderLines(orders = 300, items = 100, seed = 3).map(_.toSeq).toSeq shouldBe lines.map(_.toSeq).toSeq
    Gen.orderLines(orders = 300, items = 100, seed = 4).map(_.toSeq).toSeq should not be lines.map(_.toSeq).toSeq
    all(lines.map(_.length)) should (be >= 1 and be <= 14)
    all(Gen.coOccurrence(lines).map(e => e.src < e.dst)) shouldBe true
    val rank = Gen.bipartite(lines)
    rank.distinct.length shouldBe rank.length
    rank.map(e => Edge(e.dst, e.src)).toSet shouldBe rank.toSet
    Checks.kCore(Gen.coOccurrence(Gen.orderLines(2000, 1000, seed = 3)), 16) should not be empty
  }

  "Rng" should "repeat its sequence for a seed" in {
    val (a, b) = (new Rng(42), new Rng(42))
    Seq.fill(100)(a.nextGaussian()) shouldBe Seq.fill(100)(b.nextGaussian())
    all(Seq.fill(1000)(a.nextInt(7))) should (be >= 0 and be < 7)
  }
}
