package graft.plans

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers
import org.scalatest.Inspectors

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.RankLimits
import graft.tsne.SparkTestBase

/** Ranking filters on Spark's own `WindowGroupLimit`: every
  * `row_number()`/`rank()`/`dense_rank() <= k` (and `= 1`) filter plans a
  * per-key group limit under its window, and its rows equal a driver-side
  * ranking of the same input.
  *
  * The suite and its test names are kept from the grouped top-k plan
  * extension these filters used to be rewritten to (deleted: Spark's
  * rewrite measured the same, LEDGER.md "GroupedTopK vs WindowGroupLimit
  * (deleted)"), so each test's id stays stable.
  */
class GroupedTopKSpec extends AnyFlatSpec with Matchers with Inspectors with SparkTestBase {

  private type Row4 = (Long, Long, Double, Long)

  private def rowsOf(seed: Int, n: Int, keys: Int, scores: Int): Seq[(Long, Long, Double)] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map(i => (rnd.nextInt(keys).toLong, i.toLong, rnd.nextInt(scores).toDouble))
  }

  private val sample = rowsOf(17, 5000, 40, 500)

  private def toDf(rows: Seq[(Long, Long, Double)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("g", "id", "score")
  }

  /** Driver-side reference: per key (one key when `partitioned` is false),
    * rows in `(score desc, id)` order, numbered by `fn`; `rank` and
    * `dense_rank` number by score alone. */
  private def ranked(rows: Seq[(Long, Long, Double)], fn: String,
                     partitioned: Boolean = true): Seq[Row4] =
    rows.groupBy(r => if (partitioned) r._1 else 0L).values.toSeq.flatMap { grp =>
      val sorted = grp.sortBy(r => (-r._3, r._2))
      val distinct = sorted.map(_._3).distinct
      sorted.zipWithIndex.map { case ((g, id, score), i) =>
        val rk = fn match {
          case "row_number" => i + 1
          case "rank" => sorted.indexWhere(_._3 == score) + 1
          case "dense_rank" => distinct.indexOf(score) + 1
        }
        (g, id, score, rk.toLong)
      }
    }

  private def collected(df: DataFrame, rankCol: String): Set[Row4] =
    df.collect().map(r => (r.getAs[Long]("g"), r.getAs[Long]("id"),
      r.getAs[Double]("score"), r.getAs[Number](rankCol).longValue)).toSet

  /** Runs `df` and returns its final executed plan, after checking that
    * no ranking window in it ranks a whole key. */
  private def planOf(df: DataFrame): String = {
    df.collect()
    RankLimits.unboundedRankingWindows(df.queryExecution.executedPlan) shouldBe empty
    df.queryExecution.executedPlan.toString
  }

  private val byScoreThenId = Window.partitionBy("g").orderBy(col("score").desc, col("id"))
  private val byScore = Window.partitionBy("g").orderBy(col("score").desc)

  "the rewrite rule" should "plan a direct rank filter as GroupedTopKLimitExec" in {
    val df = toDf(sample).withColumn("rn", row_number().over(byScoreThenId)).where(col("rn") <= 3)
    planOf(df) should include("WindowGroupLimit")
    RankLimits.hasGroupLimit(df.queryExecution.optimizedPlan) shouldBe true
    collected(df, "rn") shouldBe ranked(sample, "row_number").filter(_._4 <= 3).toSet
  }

  it should "produce exactly the window idiom's rows" in {
    val want = ranked(sample, "row_number").filter(_._4 <= 3).toSet
    want.size shouldBe 40 * 3
    for (parts <- Seq(1, 7)) withShufflePartitions(parts) {
      val df = toDf(sample).repartition(parts)
        .withColumn("rn", row_number().over(byScoreThenId)).where(col("rn") <= 3)
      planOf(df) should include("WindowGroupLimit")
      withClue(s"$parts partitions: ") { collected(df, "rn") shouldBe want }
    }
  }

  it should "keep residual predicates and strict bounds" in {
    // the extra conjunct stays a filter; rn < 4 ≡ rn <= 3
    val df = toDf(sample).withColumn("rn", row_number().over(byScoreThenId))
      .where(col("rn") < 4 && col("g") =!= 7L)
    planOf(df) should include("WindowGroupLimit")
    collected(df, "rn") shouldBe
      ranked(sample, "row_number").filter(r => r._4 <= 3 && r._1 != 7L).toSet
  }

  it should "drive the heap from the literal bound and keep a variable rank quota residual" in {
    val s = spark
    import s.implicits._
    // per-group variable quota (the politeness-budget frontier shape): the
    // literal rn <= 3 bounds the group limit, rn <= quota filters above it
    val quotas = (0L until 40L).map(g => (g, 1L + g % 3)).toDF("g", "quota")
    val df = toDf(sample).join(broadcast(quotas), "g")
      .withColumn("rn", row_number().over(byScoreThenId).cast("long"))
      .where(col("rn") <= 3 && col("rn") <= col("quota"))
    planOf(df) should include("WindowGroupLimit")
    collected(df, "rn") shouldBe
      ranked(sample, "row_number").filter(r => r._4 <= 1L + r._1 % 3).toSet
    // two literal bounds: the tighter one is the limit
    val df2 = toDf(sample).withColumn("rn", row_number().over(byScoreThenId))
      .where(col("rn") <= 5 && col("rn") <= 2)
    planOf(df2) should include("row_number(), 2,")
    collected(df2, "rn") shouldBe ranked(sample, "row_number").filter(_._4 <= 2).toSet
  }

  it should "rewrite rank() with exact tie semantics (groups straddling k survive whole)" in {
    // few distinct scores per key => heavy ties; rank() <= 3 keeps every
    // row of a tie group that starts within the first 3
    val tied = rowsOf(23, 4000, 25, 4)
    val df = toDf(tied).withColumn("rk", rank().over(byScore)).where(col("rk") <= 3)
    planOf(df) should include("WindowGroupLimit")
    val got = collected(df, "rk")
    got shouldBe ranked(tied, "rank").filter(_._4 <= 3).toSet
    // the tie semantics were exercised: some key keeps more than 3 rows
    got.groupBy(_._1).values.map(_.size).max should be > 3
  }

  it should "match the window idiom across tie densities, k=1, and all-tied keys" in {
    // (seed, rows, keys, distinctScores, k): distinctScores=1 ties whole
    // keys at rank 1, so every row survives any k
    val cases = Seq((1, 900, 7, 1, 2), (2, 1200, 13, 2, 1),
      (3, 1500, 5, 50, 4), (4, 800, 3, 400, 3))
    forAll(cases) { case (seed, n, keys, scores, k) =>
      val rows = rowsOf(seed, n, keys, scores)
      val df = toDf(rows).withColumn("rk", rank().over(byScore)).where(col("rk") <= k)
      withClue(s"seed=$seed k=$k distinctScores=$scores: ") {
        planOf(df) should include("WindowGroupLimit")
        collected(df, "rk") shouldBe ranked(rows, "rank").filter(_._4 <= k).toSet
      }
    }
  }

  it should "fire on the argmax idiom (rn = 1) but abstain on rn = k for k > 1" in {
    val want1 = ranked(sample, "row_number").filter(_._4 == 1).toSet
    val argmax = toDf(sample).withColumn("rn", row_number().over(byScoreThenId))
      .where(col("rn") === 1)
    planOf(argmax) should include("WindowGroupLimit")
    collected(argmax, "rn") shouldBe want1
    // literal-first spelling too
    val argmax2 = toDf(sample).withColumn("rn", row_number().over(byScoreThenId))
      .where(lit(1) === col("rn"))
    planOf(argmax2) should include("WindowGroupLimit")
    collected(argmax2, "rn") shouldBe want1
    // rn = 2 is not a rank prefix: Spark limits each key to 2 rows and the
    // equality stays a filter, so exactly the second row survives
    val eq2 = toDf(sample).withColumn("rn", row_number().over(byScoreThenId))
      .where(col("rn") === 2)
    planOf(eq2)
    collected(eq2, "rn") shouldBe ranked(sample, "row_number").filter(_._4 == 2).toSet
    // rank() = 1 keeps the whole top tie group, same as rank() <= 1
    val rankEq = toDf(sample).withColumn("rk", rank().over(byScore)).where(col("rk") === 1)
    planOf(rankEq) should include("WindowGroupLimit")
    collected(rankEq, "rk") shouldBe ranked(sample, "rank").filter(_._4 == 1).toSet
  }

  it should "rewrite dense_rank() with first-k-distinct-values semantics" in {
    // few distinct scores => every kept value carries many rows: the
    // survivors are the rows of each key's first k distinct scores
    val tied = rowsOf(29, 4000, 25, 6)
    def run(k: Int) = {
      val df = toDf(tied).withColumn("rk", dense_rank().over(byScore)).where(col("rk") <= k)
      planOf(df) should include("WindowGroupLimit")
      collected(df, "rk")
    }
    val got = run(3)
    got shouldBe ranked(tied, "dense_rank").filter(_._4 <= 3).toSet
    // dense semantics differ from rank(): a key's survivors span at most 3
    // values and far more than 3 rows
    got.groupBy(_._1).values.map(_.map(_._3).size).foreach(_ should be <= 3)
    got.groupBy(_._1).values.map(_.size).max should be > 3
    // k = 1 and a k wider than the distinct-value count
    for (k <- Seq(1, 10)) run(k) shouldBe ranked(tied, "dense_rank").filter(_._4 <= k).toSet
  }

  it should "not fire on unpartitioned windows" in {
    // unpartitioned row_number() <= k is a plain top-k: Spark plans a
    // bounded sort-and-limit, no group limit
    val wGlobal = Window.orderBy(col("score").desc, col("id"))
    val globalDf = toDf(sample).withColumn("rn", row_number().over(wGlobal)).where(col("rn") <= 3)
    globalDf.collect()
    val plan = globalDf.queryExecution.executedPlan.toString
    plan should not include "WindowGroupLimit"
    plan should include("TakeOrderedAndProject")
    collected(globalDf, "rn") shouldBe
      ranked(sample, "row_number", partitioned = false).filter(_._4 <= 3).toSet
    // unpartitioned rank() <= k keeps its ties through a group limit
    val rankDf = toDf(sample).withColumn("rk", rank().over(Window.orderBy(col("score").desc)))
      .where(col("rk") <= 3)
    planOf(rankDf) should include("WindowGroupLimit")
    collected(rankDf, "rk") shouldBe
      ranked(sample, "rank", partitioned = false).filter(_._4 <= 3).toSet
  }

  it should "fire through the cast-to-long form the library queries use" in {
    val df = toDf(sample)
      .withColumn("rn", row_number().over(byScoreThenId).cast("long"))
      .where(col("rn") <= 3L)
    // cast unwrapping turns the long comparison back into the integer
    // bound the group-limit inference matches
    planOf(df) should include("WindowGroupLimit")
    collected(df, "rn") shouldBe ranked(sample, "row_number").filter(_._4 <= 3).toSet
  }
}
