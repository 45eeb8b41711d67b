package graft.tsne

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** Ports the reference's gradient/update golden tests
  * (ref `TsneHelpersTestSuite.scala:168-271`): the exact (θ=0) gradient of
  * KL(P‖Q) at the seed embedding against the Python oracle (tol 1e-12), and
  * one delta-bar-delta update at η=300 (tol 1e-9) including the gain table.
  */
class GradientSpec extends AnyFlatSpec with Matchers {

  /** One gradient evaluation over an explicit P, the way both Optimizer
    * paths compute it: Barnes-Hut repulsion (θ=0 ⇒ exact descent) + sparse
    * attraction, combined as F_attr − F_rep/sumQ. */
  private def gradientAt(pRows: Seq[(Long, Long, Double)], emb: Seq[Point],
                         theta: Double): Map[Long, Array[Double]] = {
    val index = emb.map(_.id).zipWithIndex.toMap
    val ys = emb.map(_.vec).toArray
    val tree = BhTree.build(ys)
    val rep = emb.map(p => p.id -> tree.repulsiveForce(p.vec(0), p.vec(1), theta)).toMap
    val sumQ = emb.map(p => rep(p.id)._3).sum
    pRows.groupBy(_._1).map { case (i, rows) =>
      val nbr = rows.map(r => index(r._2)).toArray
      val ps = rows.map(_._3).toArray
      val (ax, ay) = Gradient.attractiveForce(nbr, ps, ys(index(i)), ys, Distances.sqEuclidean)
      i -> Array(Gradient.gradient(ax, rep(i)._1, sumQ), Gradient.gradient(ay, rep(i)._2, sumQ))
    }
  }

  "gradient with theta = 0" should "match the Python oracle exactly" in {
    val grad = gradientAt(Goldens.denseJointProbabilities, Goldens.initialEmbedding, 0.0)
    grad.size shouldBe Goldens.denseGradient.size
    for (expected <- Goldens.denseGradient; d <- 0 until 2) {
      withClue(s"grad(${expected.id})($d): ") {
        grad(expected.id)(d) shouldBe expected.vec(d) +- 1e-12
      }
    }
  }

  "gradient with theta > 0" should "approximate the exact gradient" in {
    val exact = gradientAt(Goldens.denseJointProbabilities, Goldens.initialEmbedding, 0.0)
    val approx = gradientAt(Goldens.denseJointProbabilities, Goldens.initialEmbedding, 0.25)
    // Barnes-Hut at θ=0.25 on 10 points: loose bound, just pins that the
    // approximation is in the neighborhood and finite
    for ((id, g) <- approx; d <- 0 until 2) {
      g(d) shouldBe exact(id)(d) +- 0.05
    }
  }

  "updateEmbedding" should "match the golden embedding and gains after one step" in {
    val grad = Goldens.denseGradient.map(p => p.id -> p.vec).toMap
    val expected = Goldens.updatedEmbedding.map(p => p.id -> p.vec).toMap
    val expectedGains = Goldens.updatedGains.map(p => p.id -> p.vec).toMap

    for (p0 <- Goldens.initialEmbedding) {
      val (ny, ns, ng) = Gradient.update(
        p0.vec, Array(0.0, 0.0), Array(1.0, 1.0), grad(p0.id),
        minGain = 0.01, momentum = 0.5, learningRate = 300)
      for (d <- 0 until 2) {
        withClue(s"y(${p0.id})($d): ") { ny(d) shouldBe expected(p0.id)(d) +- 1e-9 }
        withClue(s"gain(${p0.id})($d): ") { ng(d) shouldBe expectedGains(p0.id)(d) +- 1e-12 }
        ns(d) shouldBe (ny(d) - p0.vec(d)) +- 1e-9
      }
    }
  }

  "lossPart" should "be non-negative over a full P and decrease toward matched Q" in {
    // KL(P‖Q) summed over all rows is ≥ 0; pin the kernel's sign convention
    val emb = Goldens.initialEmbedding
    val index = emb.map(_.id).zipWithIndex.toMap
    val ys = emb.map(_.vec).toArray
    val tree = BhTree.build(ys)
    val sumQ = emb.map(p => tree.repulsiveForce(p.vec(0), p.vec(1), 0.0)._3).sum
    val total = Goldens.denseJointProbabilities.groupBy(_._1).map { case (i, rows) =>
      Gradient.lossPart(rows.map(r => index(r._2)).toArray, rows.map(_._3).toArray,
        ys(index(i)), ys, Distances.sqEuclidean, sumQ)
    }.sum
    total should be >= 0.0
  }
}
