package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.tsne.SparkTestBase

import scala.util.Random

/** The driver-built / Column-probed Bloom filter: the JVM insert path and
  * the codegen'd probe path must compute identical probe slots (any drift
  * is a false NEGATIVE — the one failure mode a Bloom prefilter must never
  * have), and the end-to-end decontamination prefilter must reproduce the
  * exact operator bit-for-bit. */
class BloomSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private lazy val s = spark

  behavior of "Bloom build/probe parity"

  it should "never false-negative on inserted 60-bit hashes" in {
    import s.implicits._
    val rnd = new Random(7L)
    val keys = Array.fill(5000)(rnd.nextLong() & ((1L << 60) - 1))
    val bits = Bloom.build(keys, bitsPerKey = 16, k = 4)
    val missed = keys.toSeq.toDF("h")
      .where(!Bloom.mightContain(bits, col("h")))
      .count()
    missed shouldBe 0L
  }

  it should "hold the designed false-positive ballpark on non-members" in {
    import s.implicits._
    val rnd = new Random(8L)
    val keys = Array.fill(5000)(rnd.nextLong() & ((1L << 60) - 1))
    val member = keys.toSet
    val bits = Bloom.build(keys, bitsPerKey = 16, k = 4)
    val probes = Iterator.continually(rnd.nextLong() & ((1L << 60) - 1))
      .filterNot(member).take(20000).toSeq
    val fp = probes.toDF("h")
      .where(Bloom.mightContain(bits, col("h")))
      .count()
    // design point ~0.24%; accept < 1% (power-of-two rounding only helps)
    fp.toDouble / probes.size should be < 0.01
  }

  it should "probe NULL hashes as NULL (filtered, not matched)" in {
    import s.implicits._
    val bits = Bloom.build(Array(1L, 2L, 3L))
    val df = Seq(Some(1L), None).toDF("h")
    df.where(Bloom.mightContain(bits, col("h"))).count() shouldBe 1L
  }

  behavior of "TextOps.decontaminateBloom"

  it should "equal the exact decontaminate operator row-for-row" in {
    import s.implicits._
    val rnd = new Random(9L)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta")
    val docs = (0L until 120L).map { i =>
      (i, Seq.fill(12)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val corpus = docs.where(col("doc_id") % 5 =!= 0)
    val bench = docs.where(col("doc_id") % 5 === 0)
    val exact = TextOps.decontaminate(corpus, bench).orderBy("doc_id").collect()
    val bloomed = TextOps.decontaminateBloom(corpus, bench)
      .orderBy("doc_id").collect()
    bloomed shouldBe exact
  }
}
