package graft.pipeline

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.functions._

import graft.tsne.SparkTestBase

/** [[Dsir]] — hashed-ngram importance weighting (Xie et al. 2023). The
  * claims under test: bit-parity with a plain-Scala reference of the same
  * quantized math, target-likeness ordering, partitioning invariance of
  * the long-sum weights, the n_feats = 2·tokens − 1 feature count, and
  * the exact resample cutoff. */
class DsirSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val B = 64

  private def mkDocs(rows: Seq[(Long, String, Boolean)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text", "tgt")
  }

  /** Plain-Scala reference of the exact quantized pipeline. */
  private def refWeights(rows: Seq[(Long, String, Boolean)],
                         buckets: Int): Map[Long, (Long, Long)] = {
    def grams(text: String): Seq[Int] = {
      val t = text.split("\\s+").filter(_.nonEmpty)
      val uni = t.map(w => (Hashing.hash60(w) % buckets).toInt)
      val bi = t.sliding(2).filter(_.length == 2)
        .map(p => (Hashing.hash60(p.mkString(" ")) % buckets).toInt).toSeq
      (uni ++ bi).toSeq
    }
    val all = rows.map { case (id, tx, tg) => (id, grams(tx), tg) }
    val ct = new Array[Long](buckets); val cr = new Array[Long](buckets)
    all.foreach { case (_, gs, tg) =>
      gs.foreach { b => cr(b) += 1; if (tg) ct(b) += 1 } }
    val tt = ct.sum; val tr = cr.sum
    val lrU = Array.tabulate(buckets) { b =>
      math.floor((math.log((ct(b) + 1).toDouble / (tt + buckets).toDouble) -
        math.log((cr(b) + 1).toDouble / (tr + buckets).toDouble)) * 1e6
        + 0.5).toLong
    }
    all.map { case (id, gs, _) =>
      id -> (gs.size.toLong, gs.map(lrU).sum)
    }.toMap
  }

  private val corpus: Seq[(Long, String, Boolean)] = {
    val rnd = new scala.util.Random(7)
    val tgtVocab = Seq("alpha", "beta", "gamma", "delta")
    val rawVocab = Seq("zig", "zag", "zog", "alpha")
    (0L until 40L).map { i =>
      val isTgt = i < 12
      val v = if (isTgt) tgtVocab else rawVocab
      val words = Seq.fill(6 + rnd.nextInt(5))(v(rnd.nextInt(v.size)))
      (i, words.mkString(" "), isTgt)
    }
  }

  "Dsir.importanceWeights" should "match the plain-Scala quantized reference bit-for-bit" in {
    val got = Dsir.importanceWeights(mkDocs(corpus), col("tgt"), B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val want = refWeights(corpus, B)
    got.keySet shouldBe want.keySet
    got.foreach { case (id, v) => v shouldBe want(id) }
  }

  it should "rank target-like docs above raw-only docs" in {
    // a doc made of target vocab vs one of raw-only vocab, both unseen ids
    val probe = corpus ++ Seq(
      (100L, "alpha beta gamma delta alpha beta", false),
      (101L, "zig zag zog zig zag zog", false))
    val w = Dsir.importanceWeights(mkDocs(probe), col("tgt"), B)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    w(100L) should be > w(101L)
  }

  it should "be bit-identical under repartitioning and count 2n-1 features" in {
    val df = mkDocs(corpus)
    val a = Dsir.importanceWeights(df, col("tgt"), B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val b = Dsir.importanceWeights(df.repartition(13), col("tgt"), B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    a shouldBe b
    val nTokens = corpus.map { case (id, tx, _) =>
      id -> tx.split("\\s+").count(_.nonEmpty).toLong }.toMap
    a.foreach { case (id, nf, _) => nf shouldBe (2 * nTokens(id) - 1) }
  }

  it should "give token-less docs (0, 0) and keep them in the output" in {
    val w = Dsir.importanceWeights(
        mkDocs(corpus :+ (200L, "   ", false)), col("tgt"), B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    w(200L) shouldBe ((0L, 0L))
  }

  it should "equal the former lambda-built grams on edge-case texts at 1 and 7 partitions" in {
    val s = spark
    import s.implicits._
    val edge: Seq[(Long, Option[String], Boolean)] = Seq(
      (300L, None, true), (301L, Some(""), false), (302L, Some(" \t\n\r "), true),
      (303L, Some("solo"), false), (304L, Some("  lead and trail  "), true),
      (305L, Some("tab\tsep\nnew line\r\nend\u000b\u000cx"), false),
      (306L, Some("héllo wörld 日本語 テキスト ñandú"), true),
      (307L, Some("émoji 🙂 text 🙂 text"), false),
      (308L, Some("nbsp\u00a0stays inside\u00a0a token"), true))
    val docs = (corpus.map { case (id, tx, tg) => (id, Option(tx), tg) } ++ edge)
      .toDF("doc_id", "text", "tgt")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    def grams(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2))).toSeq.sorted
    for (parts <- Seq(1, 7)) withShufflePartitions(parts) {
      withClue(s"$parts partitions: ") {
        grams(Dsir.gramBuckets(docs, col("tgt"), B)) shouldBe
          grams(FormerDsir.gramBuckets(docs, col("tgt"), B))
        val got = rows(Dsir.importanceWeights(docs, col("tgt"), B))
        got shouldBe rows(FormerDsir.importanceWeights(docs, col("tgt"), B))
        got.length shouldBe docs.count()
      }
    }
  }

  "Dsir.resample" should "keep exactly ceil(n·num/den) docs, ranked by perturbed weight" in {
    val kept = Dsir.resample(mkDocs(corpus), col("tgt"), B,
      keepNum = 1L, keepDen = 4L, salt = "t0").collect()
    kept.length shouldBe 10 // ceil(40 / 4)
    val ranks = kept.map(_.getAs[Long]("sample_rank")).sorted
    ranks shouldBe (1L to 10L).toArray
    // scores are the weights plus a seeded perturbation — monotone ranks
    val byRank = kept.sortBy(_.getAs[Long]("sample_rank"))
      .map(_.getAs[Long]("score_u"))
    byRank.zip(byRank.tail).foreach { case (hi, lo) => hi should be >= lo }
  }
}
