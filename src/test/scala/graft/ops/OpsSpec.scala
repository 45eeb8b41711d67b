package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.tsne.SparkTestBase

import scala.util.Random

/** Temporal joins, skew-safe aggregation and sketch contracts — each checked
  * against an independent brute-force or built-in formulation. */
class OpsSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private lazy val s = spark

  // Seeded synthetic event stream: (user_id, id, ts) with clustered
  // timestamps so band/as-of joins have real matches and real misses.
  private def events(n: Int, users: Int, seed: Long): Seq[(Long, Long, Long)] = {
    val rnd = new Random(seed)
    (0 until n).map { i =>
      (rnd.nextInt(users).toLong, i.toLong, rnd.nextInt(100000).toLong)
    }
  }

  behavior of "asOfJoin"

  it should "match the brute-force latest-at-or-before per row" in {
    import s.implicits._
    val left = events(300, 10, 1L)
    val right = events(200, 10, 2L)
    val l = left.toDF("user_id", "event_id", "ts")
    val r = right.toDF("user_id", "v_id", "v_ts")
      .withColumn("v_val", col("v_id").cast("double") * 1.5)

    val got = TemporalJoins.asOfJoin(l, r, Seq("user_id"),
      leftTs = "ts", rightTs = "v_ts",
      rightVals = Seq("v_ts", "v_val"), rightTieBreak = Some("v_id"))
      .select("event_id", "v_ts", "v_val")
      .collect().map(row => (row.getLong(0),
        if (row.isNullAt(1)) None else Some(row.getLong(1)),
        if (row.isNullAt(2)) None else Some(row.getDouble(2)))).toSeq.sortBy(_._1)

    val expected = left.map { case (u, id, ts) =>
      // latest right row with same user, v_ts <= ts; ties by max v_id
      val cand = right.filter { case (ru, _, rts) => ru == u && rts <= ts }
      if (cand.isEmpty) (id, None, None)
      else {
        val best = cand.maxBy { case (_, rid, rts) => (rts, rid) }
        (id, Some(best._3), Some(best._2.toDouble * 1.5))
      }
    }.sortBy(_._1)

    got should have size expected.size.toLong
    got.zip(expected).foreach { case (g, e) => g shouldBe e }
  }

  it should "treat an equal timestamp as a match (<= semantics)" in {
    import s.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("user_id", "event_id", "ts")
    val r = Seq((1L, 7L, 100L, 3.0)).toDF("user_id", "v_id", "v_ts", "v_val")
    val row = TemporalJoins.asOfJoin(l, r, Seq("user_id"), "ts", "v_ts",
      Seq("v_val"), Some("v_id")).select("v_val").head
    row.getDouble(0) shouldBe 3.0
  }

  it should "never match right rows with NULL timestamps" in {
    import s.implicits._
    // a NULL rightTs satisfies rightTs <= leftTs for NO left row; with
    // Spark's nulls-first ascending sort it would otherwise sort before
    // everything and be carried forward as a fabricated match
    val l = Seq((1L, 10L, 100L)).toDF("user_id", "event_id", "ts")
    val r = Seq((1L, 7L, Option.empty[Long], 5.0))
      .toDF("user_id", "v_id", "v_ts", "v_val")
    val row = TemporalJoins.asOfJoin(l, r, Seq("user_id"), "ts", "v_ts",
      Seq("v_val"), Some("v_id")).select("v_val").head
    row.isNullAt(0) shouldBe true
  }

  it should "reject right value columns that collide with left columns" in {
    import s.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("user_id", "v_val", "ts")
    val r = Seq((1L, 7L, 90L, 3.0)).toDF("user_id", "v_id", "v_ts", "v_val")
    an[IllegalArgumentException] should be thrownBy
      TemporalJoins.asOfJoin(l, r, Seq("user_id"), "ts", "v_ts", Seq("v_val"))
  }

  behavior of "bandJoin"

  it should "equal the cross-join filter formulation exactly" in {
    import s.implicits._
    val ev = events(400, 8, 3L).toDF("user_id", "event_id", "ts")
    val band = 5000L

    val got = TemporalJoins.bandJoin(ev, Seq("user_id"), "ts", "event_id", band)
      .select("user_id", "i", "j", "dt_us")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    val a = ev.select(col("user_id"), col("event_id").as("i"), col("ts").as("ta"))
    val b = ev.select(col("user_id").as("ub"), col("event_id").as("j"), col("ts").as("tb"))
    val expected = a.join(b, col("user_id") === col("ub") &&
        (col("tb") > col("ta") ||
          (col("tb") === col("ta") && col("j") > col("i"))) &&
        col("tb") <= col("ta") + band)
      .select(col("user_id"), col("i"), col("j"), (col("tb") - col("ta")).as("dt"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

    got shouldBe expected
    got should not be empty
  }

  it should "yield left rows with nulls when the right side is empty" in {
    import s.implicits._
    val l = Seq((1L, 10L, 100L), (2L, 11L, 50L)).toDF("user_id", "event_id", "ts")
    val r = Seq.empty[(Long, Long, Long, Double)].toDF("user_id", "v_id", "v_ts", "v_val")
    val rows = TemporalJoins.asOfJoin(l, r, Seq("user_id"), "ts", "v_ts",
      Seq("v_val"), Some("v_id")).collect()
    rows should have length 2
    // output columns: user_id, event_id, ts, v_val
    rows.foreach(_.isNullAt(3) shouldBe true)
  }

  it should "take NULL fields from the latest right row, not stale-fill them" in {
    import s.implicits._
    val l = Seq((1L, 10L, 100L)).toDF("user_id", "event_id", "ts")
    val r = Seq((1L, 1L, 50L, Some(5.0)), (1L, 2L, 60L, None))
      .toDF("user_id", "v_id", "v_ts", "v_val")
    val row = TemporalJoins.asOfJoin(l, r, Seq("user_id"), "ts", "v_ts",
      Seq("v_ts", "v_val"), Some("v_id")).select("v_ts", "v_val").head
    // the latest right row is (v_ts=60, v_val=NULL) — v_val must be NULL,
    // not resurrected from the older row
    row.getLong(0) shouldBe 60L
    row.isNullAt(1) shouldBe true
  }

  it should "never match NULL keys (join semantics), but keep null-key left rows" in {
    import s.implicits._
    val l = Seq((Some(1L), 10L, 100L), (None, 11L, 100L))
      .toDF("user_id", "event_id", "ts")
    val r = Seq((Option.empty[Long], 1L, 50L, 7.0))
      .toDF("user_id", "v_id", "v_ts", "v_val")
    val rows = TemporalJoins.asOfJoin(l, r, Seq("user_id"), "ts", "v_ts",
      Seq("v_val"), Some("v_id"))
      .collect().map(x => (x.getLong(1), x.isNullAt(3))).toSet
    // both left rows survive; neither matches the null-key right row
    rows shouldBe Set((10L, true), (11L, true))
  }

  it should "produce no pairs from an empty or singleton input" in {
    import s.implicits._
    val empty = Seq.empty[(Long, Long, Long)].toDF("user_id", "event_id", "ts")
    TemporalJoins.bandJoin(empty, Seq("user_id"), "ts", "event_id", 100L)
      .count() shouldBe 0L
    val one = Seq((1L, 1L, 5L)).toDF("user_id", "event_id", "ts")
    TemporalJoins.bandJoin(one, Seq("user_id"), "ts", "event_id", 100L)
      .count() shouldBe 0L
  }

  behavior of "Skew"

  it should "compute distinctCountByKey identically to countDistinct" in {
    import s.implicits._
    val rnd = new Random(7L)
    val df = Seq.fill(2000)((rnd.nextInt(5), rnd.nextInt(100)))
      .toDF("k", "v")
    val got = Skew.distinctCountByKey(df, Seq("k"), "v", "n")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val exp = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    got shouldBe exp
  }

  it should "ignore NULL values but keep all-NULL keys at count 0, like countDistinct" in {
    import s.implicits._
    val df = Seq((1, Some(10)), (1, None), (1, Some(20)), (2, None))
      .toDF("k", "v")
    val got = Skew.distinctCountByKey(df, Seq("k"), "v", "n")
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val exp = df.groupBy("k").agg(countDistinct("v").as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    got shouldBe exp
    got shouldBe Map(1 -> 2L, 2 -> 0L)
  }

  it should "count distinct values of the NULL key group (null-safe join back)" in {
    import s.implicits._
    // groupBy treats NULL as a key value; the join back must use <=> or
    // the NULL-key group's count silently collapses to 0
    val df = Seq((Option.empty[Int], 10), (None, 20), (None, 10), (Some(1), 30))
      .toDF("k", "v")
    val got = Skew.distinctCountByKey(df, Seq("k"), "v", "n")
      .collect().map(r => (if (r.isNullAt(0)) -1 else r.getInt(0)) -> r.getLong(1)).toMap
    got shouldBe Map(-1 -> 2L, 1 -> 1L)
  }

  it should "compute saltedSum identically to the plain grouped sum" in {
    import s.implicits._
    val rnd = new Random(11L)
    val df = Seq.fill(3000)((rnd.nextInt(3), rnd.nextInt(1000), rnd.nextInt(50).toLong))
      .toDF("k", "id", "v")
    val got = Skew.saltedSum(df, Seq("k"), Seq("v"), saltFrom = "id", salts = 8)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    val exp = df.groupBy("k").agg(sum("v").as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toMap
    got shouldBe exp
  }

  behavior of "Sampling"

  it should "be deterministic, monotone in rate, and near the target rate" in {
    val df = s.range(20000).toDF("id")
    val small = Sampling.hashSample(df, "id", 0.05, "t")
      .collect().map(_.getLong(0)).toSet
    val big = Sampling.hashSample(df, "id", 0.20, "t")
      .collect().map(_.getLong(0)).toSet
    // monotone: the 5% slice is a subset of the 20% slice
    small.subsetOf(big) shouldBe true
    // deterministic: same inputs, same set
    Sampling.hashSample(df, "id", 0.05, "t")
      .collect().map(_.getLong(0)).toSet shouldBe small
    // close to the target rate (md5 is uniform; 3σ ≈ 0.0046 at n=20000)
    small.size.toDouble / 20000 shouldBe 0.05 +- 0.01
    big.size.toDouble / 20000 shouldBe 0.20 +- 0.015
  }

  it should "keep NULL-key rows in the sample population (sentinel hash)" in {
    import s.implicits._
    val df = Seq(Some(1L), None, Some(2L), None).toDF("id")
    // rate 1.0 must return EVERY row — a NULL predicate would silently
    // drop the NULL-key rows from a "100% sample"
    Sampling.hashSample(df, "id", 1.0, "t").count() shouldBe 4L
    // and NULL keys sample deterministically like any other key
    val got = Sampling.hashSample(df, "id", 0.5, "t").count()
    Sampling.hashSample(df, "id", 0.5, "t").count() shouldBe got
  }

  it should "bootstrap the mean with Poisson(1) weights: calibrated, exact, partition-invariant" in {
    // thresholds: monotone, full-cover ladder
    val thr = Sampling.poissonThresholds()
    thr.last shouldBe (1L << 60)
    thr.sliding(2).foreach(p => p(0) should be <= p(1))
    // P(0) = P(1) = e^-1 ≈ 0.3679 on the grid
    (thr.head.toDouble / (1L << 60)) shouldBe math.exp(-1.0) +- 1e-12
    val df = s.range(5000).toDF("id")
      .withColumn("v", (col("id") % 100) + 10)
    val got = Sampling.bootstrapMeans(df, "id", "v", b = 32)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    got.size shouldBe 32
    val trueMean = (0 until 5000).map(i => (i % 100) + 10).sum / 5000.0
    // Poisson(1) weights: every replicate's effective size ≈ N (±5σ ≈
    // ±354 at N=5000) and the replicate means straddle the true mean
    got.values.foreach { case (nEff, _, _) =>
      nEff.toDouble shouldBe 5000.0 +- 400.0
    }
    val means = got.values.map(_._3).toSeq
    means.min should be <= trueMean
    means.max should be >= trueMean
    // the spread is the σ/√N error bar, not degenerate and not wild:
    // sd(v) ≈ 28.9 → se ≈ 0.41; the 32-rep sd should be within 3× of it
    val se = math.sqrt(means.map(m => (m - trueMean) * (m - trueMean)).sum / 32)
    se should be > 0.1
    se should be < 1.3
    // exact longs + literal ladder: bit-identical under repartitioning
    Sampling.bootstrapMeans(df.repartition(11), "id", "v", b = 32)
      .collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap shouldBe got
  }

  it should "draw k uniform negatives per anchor, never itself, exactly as the reference" in {
    import s.implicits._
    // non-contiguous keys: rank-based position sampling must not assume
    // dense ids
    val keys = (0L until 500L).map(_ * 7 + 3)
    val df = keys.toDF("id")
    val got = Sampling.negativePairs(df, "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.length shouldBe 1500
    got.foreach { case (i, _, j) => j should not be i }
    // plain-Scala reference: sorted-rank draw with the self-bump
    val sorted = keys.sorted
    val rankOf = sorted.zipWithIndex.toMap
    val n = sorted.size
    val expect = keys.flatMap { i =>
      (0L until 3L).map { idx =>
        val t0 = (graft.pipeline.Hashing.hash60(s"$i#neg#$idx") % n + n) % n
        val t = if (t0 == rankOf(i)) (t0 + 1) % n else t0
        (i, idx, sorted(t.toInt))
      }
    }.toSet
    got.toSet shouldBe expect
    // uniformity sanity: no row is drawn wildly more than the k-average
    val counts = got.groupBy(_._3).view.mapValues(_.length)
    counts.values.max should be <= 15 // mean 3, Poisson tail at n=500
    // partition invariance
    Sampling.negativePairs(df.repartition(13), "id", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet shouldBe expect
  }

  it should "pack next-fit bins that never split a document and match the sequential reference" in {
    import s.implicits._
    val rnd = new Random(61L)
    val rows = (0L until 300L).map(i => (i, rnd.nextInt(120).toLong + 1)) ++
      Seq((900L, 500L)) // oversize doc: must land in a bin alone
    val df = rows.toDF("doc_id", "n_tokens")
    val got = Packing.packBinsNoSplit(df, "doc_id", "n_tokens",
      capacity = 256L, shardSize = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    got.length shouldBe rows.size
    // sequential reference over the same (hash, key) order
    val order = rows.sortBy { case (id, _) =>
      (graft.pipeline.Hashing.hash60(s"$id#packns"), id)
    }
    val expect = order.zipWithIndex.map { case ((id, t), rk) =>
      (id, t, rk / 64L, rk % 64L)
    }.groupBy(_._3).toSeq.flatMap { case (shard, docs) =>
      var bin = -1L; var run = 0L
      docs.sortBy(_._4).map { case (id, t, _, pos) =>
        if (bin < 0L || run + t > 256L) { bin += 1; run = 0L }
        val start = run
        run += t
        (id, t, shard, pos, bin, start)
      }
    }.toSet
    got.toSet shouldBe expect
    // invariants: no bin exceeds capacity unless it holds ONE oversize
    // doc, and every doc is whole (start + tokens stays in its bin)
    got.groupBy(g => (g._3, g._5)).values.foreach { binDocs =>
      val total = binDocs.map(_._2).sum
      if (total > 256L) binDocs.length shouldBe 1
      binDocs.foreach { case (_, t, _, _, _, start) =>
        start + t shouldBe <=(math.max(256L, t))
      }
    }
    // the oversize doc sits alone
    val over = got.find(_._1 == 900L).get
    got.count(g => (g._3, g._5) == ((over._3, over._5))) shouldBe 1
    // partition invariance
    Packing.packBinsNoSplit(df.repartition(9), "doc_id", "n_tokens",
      capacity = 256L, shardSize = 64L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet shouldBe expect
  }

  it should "assign every row to exactly one split at the target fractions" in {
    val df = s.range(20000).toDF("id")
    val splits = Sampling.assignSplit(df, "id",
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .groupBy("split").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exhaustive + disjoint: counts sum to the corpus
    splits.values.sum shouldBe 20000L
    splits.keySet shouldBe Set("train", "val", "test")
    splits("train").toDouble / 20000 shouldBe 0.8 +- 0.01
    splits("val").toDouble / 20000 shouldBe 0.1 +- 0.01
    splits("test").toDouble / 20000 shouldBe 0.1 +- 0.01
  }

  it should "keep split assignments stable under repartitioning and appends" in {
    val df = s.range(2000).toDF("id")
    def asMap(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    val base = asMap(Sampling.assignSplit(df, "id", fr).select("id", "split"))
    val reparted = asMap(Sampling.assignSplit(df.repartition(13), "id", fr)
      .select("id", "split"))
    reparted shouldBe base
    // appending rows never moves an existing key's split
    val grown = asMap(Sampling.assignSplit(
      s.range(4000).toDF("id"), "id", fr).select("id", "split"))
    base.foreach { case (k, v) => grown(k) shouldBe v }
  }

  it should "reject fractions that do not sum to 1" in {
    val df = s.range(10).toDF("id")
    an[IllegalArgumentException] should be thrownBy
      Sampling.assignSplit(df, "id", Seq("a" -> 0.5, "b" -> 0.4))
  }

  it should "give independent samples under different salts" in {
    val df = s.range(20000).toDF("id")
    val a = Sampling.hashSample(df, "id", 0.1, "holdout")
      .collect().map(_.getLong(0)).toSet
    val b = Sampling.hashSample(df, "id", 0.1, "train")
      .collect().map(_.getLong(0)).toSet
    // overlap ≈ rate² = 1%, far from either salt reusing the other's picks
    val overlap = a.intersect(b).size.toDouble / 20000
    overlap shouldBe 0.01 +- 0.01
    a should not equal b
  }

  it should "apply per-stratum rates and drop unlisted strata" in {
    import s.implicits._
    val df = s.range(30000)
      .select(col("id"), (col("id") % 3).cast("string").as("g"))
    val got = Sampling.stratifiedHashSample(df, "id", "g",
      Map("0" -> 0.3, "1" -> 0.05), "t")
      .groupBy("g").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    got.keySet shouldBe Set("0", "1") // stratum "2" dropped entirely
    got("0").toDouble / 10000 shouldBe 0.3 +- 0.02
    got("1").toDouble / 10000 shouldBe 0.05 +- 0.01
  }

  it should "keep the exact hash-ordered token prefix per budgeted stratum" in {
    import s.implicits._
    val df = s.range(3000)
      .select(col("id"), (col("id") % 3).cast("string").as("g"),
        (col("id") % 7 + 1).as("toks"))
    val got = Sampling.tokenBudgetSample(df, "id", "g", col("toks"),
      Map("0" -> 500L, "1" -> 120L), "t")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    // brute-force truth: per stratum, sort by (hash, id), take the prefix
    val all = df.withColumn("h", graft.pipeline.Hashing.hash60(
        concat(col("id").cast("string"), lit("#t"))))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3)))
    def prefix(g: String, budget: Long) = {
      var cum = 0L
      all.filter(_._2 == g).sortBy(t => (t._4, t._1)).takeWhile { t =>
        cum += t._3; cum <= budget
      }.map(_._1).toSet
    }
    got.filter(_._2 == "0").map(_._1).toSet shouldBe prefix("0", 500L)
    got.filter(_._2 == "1").map(_._1).toSet shouldBe prefix("1", 120L)
    got.map(_._2).toSet shouldBe Set("0", "1") // no budget, no rows
    // cum_tokens is the running total in the kept order and fits budget
    got.filter(_._2 == "0").foreach { t => t._4 should be <= 500L }
    // monotone: doubling a budget only appends
    val bigger = Sampling.tokenBudgetSample(df, "id", "g", col("toks"),
      Map("0" -> 1000L, "1" -> 120L), "t")
      .collect().map(_.getLong(0)).toSet
    got.map(_._1).toSet.subsetOf(bigger) shouldBe true
  }

  it should "equal the one-task window spelling, at any partition count" in {
    import s.implicits._
    // skewed like a real mix: one stratum holds ~80% of the rows — exactly
    // the regime where the naive PARTITION BY window becomes a single-task
    // funnel and the two-phase scan must still produce the identical prefix
    val df = s.range(4000)
      .select(col("id"),
        when(col("id") % 10 < 8, lit("web")).otherwise(
          when(col("id") % 10 === 8, lit("code")).otherwise(lit("math")))
          .as("g"),
        (col("id") % 11 + 1).as("toks"))
    val budgets = Map("web" -> 900L, "code" -> 300L, "math" -> 250L)
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    val got = rows(Sampling.tokenBudgetSample(df, "id", "g", col("toks"),
      budgets, "mixw"))
    // the textbook window form — correct but single-task-per-stratum —
    // serves as the semantic oracle, cum_tokens included
    val h = graft.pipeline.Hashing.hash60(
      concat(col("id").cast("string"), lit("#mixw")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(h.asc, col("id").asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val budgetCol = budgets.foldLeft(lit(-1L)) { case (acc, (g, b)) =>
      when(col("g") === g, lit(b)).otherwise(acc)
    }
    val windowed = rows(df.withColumn("cum_tokens", sum(col("toks")).over(w))
      .where(col("cum_tokens") <= budgetCol))
    got shouldBe windowed
    // partition-count invariance: the selected set and every cum_tokens
    // value are a pure function of (data, salt, budgets)
    for (p <- Seq(1, 3, 17)) {
      rows(Sampling.tokenBudgetSample(df, "id", "g", col("toks"),
        budgets, "mixw", partitions = p)) shouldBe got
    }
  }

  it should "hit √count-proportional temperature targets exactly" in {
    import s.implicits._
    // three sources with counts 6400 / 1600 / 400: √-weights 80/40/20,
    // so a 700-doc budget splits 400/200/100 by exact integer division
    val df = s.range(8400)
      .select(col("id"),
        when(col("id") < 6400, lit("web"))
          .otherwise(when(col("id") < 8000, lit("code"))
            .otherwise(lit("math"))).as("g"))
    val got = Sampling.temperatureSample(df, "id", "g", totalDocs = 700L,
      salt = "tmp")
    val byG = got.groupBy("g").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    byG shouldBe Map("web" -> 400L, "code" -> 200L, "math" -> 100L)
    // the selected rows are the per-stratum hash-order prefix — equal to
    // the window spelling (same machinery as tokenBudgetSample, weight 1)
    val h = graft.pipeline.Hashing.hash60(
      concat(col("id").cast("string"), lit("#tmp")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(h.asc, col("id").asc)
    val targets = Map("web" -> 400L, "code" -> 200L, "math" -> 100L)
    val tCol = targets.foldLeft(lit(-1L)) { case (acc, (g, t)) =>
      when(col("g") === g, lit(t)).otherwise(acc)
    }
    val windowed = df.withColumn("stratum_rank", row_number().over(w))
      .where(col("stratum_rank") <= tCol)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2).toLong))
      .toSet
    got.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .toSet shouldBe windowed
  }

  it should "solve the exact integer waterline on hand-checked fixtures" in {
    val inv = Array(("a", 100L), ("b", 10L), ("c", 30L))
    // b fully taken, then c, a capped at the residual
    Sampling.waterfillTargets(inv, 80L) shouldBe
      Map("a" -> 40L, "b" -> 10L, "c" -> 30L)
    Sampling.waterfillTargets(inv, 75L) shouldBe
      Map("a" -> 35L, "b" -> 10L, "c" -> 30L)
    // waterline between b and c: a and c share evenly
    Sampling.waterfillTargets(inv, 50L) shouldBe
      Map("a" -> 20L, "b" -> 10L, "c" -> 20L)
    // odd remainder: +1 to the lexicographically smallest survivor
    Sampling.waterfillTargets(inv, 51L) shouldBe
      Map("a" -> 21L, "b" -> 10L, "c" -> 20L)
    // budget covers everything: every stratum taken in full
    Sampling.waterfillTargets(inv, 141L) shouldBe
      Map("a" -> 100L, "b" -> 10L, "c" -> 30L)
    Sampling.waterfillTargets(inv, 0L) shouldBe
      Map("a" -> 0L, "b" -> 0L, "c" -> 0L)
    Sampling.waterfillTargets(Array.empty[(String, Long)], 10L) shouldBe
      Map.empty
  }

  it should "hold the waterfill laws on randomized inventories" in {
    val rnd = new Random(7L)
    for (trial <- 0 until 50) {
      val inv = Array.tabulate(1 + rnd.nextInt(8))(i =>
        (s"s$i", rnd.nextInt(1000).toLong))
      val total = inv.map(_._2).sum
      val budget = rnd.nextInt(1500).toLong
      val t = Sampling.waterfillTargets(inv, budget)
      val invMap = inv.toMap
      withClue(s"trial $trial inv ${inv.toSeq} budget $budget: ") {
        // allocates exactly min(budget, inventory), never over-draws a stratum
        t.values.sum shouldBe math.min(budget, total)
        t.foreach { case (g, v) => v should be <= invMap(g) }
        // max-min fairness: survivors (capped strata) differ by at most 1,
        // and every fully-taken stratum fits under every survivor's share
        val survivors = t.filter { case (g, v) => v < invMap(g) }
        if (survivors.nonEmpty) {
          (survivors.values.max - survivors.values.min) should be <= 1L
          val floor = survivors.values.min
          t.foreach { case (g, v) =>
            if (v == invMap(g)) v should be <= floor + 1
          }
        }
      }
    }
  }

  it should "waterfill a global token budget down to the selected rows" in {
    import s.implicits._
    // skewed like a real mix: web ~80% of tokens, math tiny — math must be
    // taken in full and its leftover re-flood web/code
    val df = s.range(3000)
      .select(col("id"),
        when(col("id") % 10 < 8, lit("web")).otherwise(
          when(col("id") % 10 === 8, lit("code")).otherwise(lit("math")))
          .as("g"),
        (col("id") % 7 + 1).as("toks"))
      .where(!(col("g") === "math" && col("id") > 300)) // shrink math
    val invArr = df.groupBy("g").agg(sum("toks").as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val inv = invArr.toMap
    val budget = inv("math") + 1000L // math drowns, web/code split ~500 each
    val got = Sampling.waterfillTokenBudget(df, "id", "g", col("toks"),
      budget, salt = "wf")
    val targets = Sampling.waterfillTargets(invArr, budget)
    targets("math") shouldBe inv("math")
    // the selection IS tokenBudgetSample at the waterfill targets, with
    // the stratum's target decorating every row
    val viaBudgets = Sampling.tokenBudgetSample(df, "id", "g", col("toks"),
      targets, salt = "wf")
    got.select("id", "g", "toks", "cum_tokens").collect().toSet shouldBe
      viaBudgets.collect().toSet
    got.collect().foreach { r =>
      r.getAs[Long]("target_tokens") shouldBe targets(r.getAs[String]("g"))
    }
    // every math row survives (full take); kept token mass fits the budget
    val keptByG = got.groupBy("g").agg(sum("toks").as("k"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    keptByG("math") shouldBe inv("math")
    keptByG.values.sum should be <= budget
    // partition invariance
    for (p <- Seq(1, 3, 17)) {
      Sampling.waterfillTokenBudget(df, "id", "g", col("toks"), budget,
        salt = "wf", partitions = p).collect().toSet shouldBe
        got.collect().toSet
    }
    // a budget covering the whole corpus keeps every row
    Sampling.waterfillTokenBudget(df, "id", "g", col("toks"),
      inv.values.sum, salt = "wf").count() shouldBe df.count()
    // NULL strata are dropped like tokenBudgetSample's unlisted strata
    val withNull = df.withColumn("g",
      when(col("id") % 13 === 0, lit(null: String)).otherwise(col("g")))
    Sampling.waterfillTokenBudget(withNull, "id", "g", col("toks"),
        budget, salt = "wf")
      .where(col("g").isNull).count() shouldBe 0L
  }

  it should "keep the exact per-stratum top fraction with hash tie-break" in {
    import s.implicits._
    // scores with heavy ties (id % 5) force the deterministic hash
    // tie-break; fraction 3/10 → ceil cutoffs per stratum
    val df = s.range(2000)
      .select(col("id"), (col("id") % 4).cast("string").as("g"),
        (col("id") % 5).as("score"))
    val got = Sampling.topFractionPerStratum(df, "id", "g", col("score"),
      keepNum = 3L, keepDen = 10L, salt = "tf")
    val h = graft.pipeline.Hashing.hash60(
      concat(col("id").cast("string"), lit("#tf")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("score").desc, h.asc, col("id").asc)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val windowed = df
      .withColumn("stratum_rank", row_number().over(w))
      .withColumn("c", count(lit(1)).over(cw))
      .where(col("stratum_rank") <= ceil(col("c") * 3 / 10))
      .select("id", "g", "score", "stratum_rank")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getInt(3).toLong)).toSet
    val gotRows = got.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSet
    gotRows shouldBe windowed
    // each stratum keeps exactly ceil(500 · 3/10) = 150 rows
    gotRows.groupBy(_._2).view.mapValues(_.size).toMap shouldBe
      Map("0" -> 150, "1" -> 150, "2" -> 150, "3" -> 150)
    // partition-count invariance
    for (p <- Seq(1, 7)) {
      Sampling.topFractionPerStratum(df, "id", "g", col("score"),
        3L, 10L, "tf", partitions = p)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
          r.getLong(3))).toSet shouldBe gotRows
    }
  }

  it should "pick exact nearest-rank quantiles per stratum" in {
    import s.implicits._
    // stratum "a": values 1..100 → p50 = 50, p90 = 90, p01 = 1;
    // stratum "b": values 10,20,30 → p50 = ceil(1.5) = rank 2 = 20
    val df = ((1 to 100).map(i => (i.toLong, "a", i.toLong)) ++
      Seq((101L, "b", 10L), (102L, "b", 20L), (103L, "b", 30L)))
      .toDF("id", "g", "v")
    val got = Sketches.exactQuantilesPerStratum(df, "id", "g", "v",
      Map("p50" -> ((1L, 2L)), "p90" -> ((9L, 10L)), "p01" -> ((1L, 100L))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    got shouldBe Set(("a", "p50", 50L), ("a", "p90", 90L), ("a", "p01", 1L),
      ("b", "p50", 20L), ("b", "p90", 30L), ("b", "p01", 10L))
    // value ties are resolved by the deterministic hash order — equal to
    // the window spelling, at any partition count
    val tied = s.range(1000)
      .select(col("id"), (col("id") % 2).cast("string").as("g"),
        (col("id") % 7).as("v"))
    val h = graft.pipeline.Hashing.hash60(
      concat(col("id").cast("string"), lit("#quant")))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
      .orderBy(col("v").asc, h.asc, col("id").asc)
    val cw = org.apache.spark.sql.expressions.Window.partitionBy(col("g"))
    val windowed = tied
      .withColumn("rn", row_number().over(w))
      .withColumn("c", count(lit(1)).over(cw))
      .where(col("rn") === greatest(ceil(col("c") * 3 / 4), lit(1)))
      .select(col("g"), col("v"))
      .collect().map(r => (r.getString(0), "p75", r.getLong(1))).toSet
    for (p <- Seq(0, 1, 7)) {
      Sketches.exactQuantilesPerStratum(tied, "id", "g", "v",
        Map("p75" -> ((3L, 4L))), partitions = p)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet shouldBe windowed
    }
  }

  it should "pick exact WEIGHTED quantiles by cumulative mass" in {
    import s.implicits._
    // hand fixture: values 1..4 with weights 1,1,1,7 (W=10) — the heavy
    // row drags every weighted quantile ≥ p40 onto value 4, while the row
    // median of the same data is 2
    val df = Seq((1L, "a", 1L, 1L), (2L, "a", 2L, 1L),
      (3L, "a", 3L, 1L), (4L, "a", 4L, 7L)).toDF("id", "g", "v", "wt")
    val got = Sketches.weightedQuantilesPerStratum(df, "id", "g", "v",
      col("wt"), Map("p30" -> ((3L, 10L)), "p50" -> ((1L, 2L)),
        "p90" -> ((9L, 10L))))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      .toSet
    got shouldBe Set(("a", "p30", 3L), ("a", "p50", 4L), ("a", "p90", 4L))
    Sketches.exactQuantilesPerStratum(df, "id", "g", "v",
      Map("p50" -> ((1L, 2L)))).collect().head.getLong(2) shouldBe 2L
    // weight ≡ 1 degrades to the row-count quantile exactly; randomized,
    // with ties, at several partition counts, vs a plain-Scala reference
    val rnd = new Random(3L)
    val rows = (0 until 800).map(i =>
      (i.toLong, (i % 3).toString, rnd.nextInt(9).toLong,
        rnd.nextInt(5).toLong)) // weights 0..4 incl. zero-weight rows
    val big = rows.toDF("id", "g", "v", "wt")
    val hashed = rows.map { case (id, g, v, wt) =>
      val h = graft.pipeline.Hashing.hash60(s"$id#wq")
      (id, g, v, wt, h)
    }
    def reference(num: Long, den: Long): Set[(String, Long)] =
      hashed.groupBy(_._2).flatMap { case (g, rs) =>
        val sorted = rs.sortBy(t => (t._3, t._5, t._1))
        val tw = sorted.map(_._4).sum
        val target = math.max(1L, (tw * num + den - 1) / den)
        var cum = 0L
        sorted.collectFirst {
          case t if { cum += t._4; cum >= target && cum - t._4 < target } =>
            (g, t._3)
        }
      }.toSet
    for (p <- Seq(0, 1, 7)) {
      Sketches.weightedQuantilesPerStratum(big, "id", "g", "v", col("wt"),
        Map("p50" -> ((1L, 2L)), "p95" -> ((19L, 20L))), salt = "wq",
        partitions = p)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .groupBy(_._2).map { case (q, ts) => q -> ts.map(t => (t._1, t._3)).toSet }
        .toMap shouldBe Map("p50" -> reference(1L, 2L),
          "p95" -> reference(19L, 20L))
    }
  }

  it should "equal the plain join row-for-row under heavy key skew" in {
    import s.implicits._
    // 90% of big-side rows share one hot key; small side has duplicate
    // keys too (multiplicity must survive the salt exactly)
    val big = s.range(5000)
      .select(col("id"),
        when(col("id") % 10 < 9, lit(1L)).otherwise(col("id") % 7).as("k"),
        (col("id") * 3).as("payload"))
    val small = Seq((1L, "hot"), (1L, "hot2"), (2L, "b"), (3L, "c"))
      .toDF("k", "name")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).groupBy(identity).view.mapValues(_.size).toMap
    val salted = Skew.saltedJoin(big, small, Seq("k"), col("id"), factor = 8)
      .select("k", "id", "payload", "name")
    val plain = big.join(small, "k").select("k", "id", "payload", "name")
    rows(salted) shouldBe rows(plain)
    // deterministic: same result again; reserved column rejected loudly
    rows(Skew.saltedJoin(big, small, Seq("k"), col("id"), 8)
      .select("k", "id", "payload", "name")) shouldBe rows(plain)
    an[IllegalArgumentException] should be thrownBy
      Skew.saltedJoin(big.withColumn("__salt", lit(1)), small, Seq("k"),
        col("id"), 8)
  }

  behavior of "Sharding"

  it should "assign ranks matching the global salted order, at any partition count" in {
    import s.implicits._
    val df = s.range(5000).toDF("id")
    val got = Sharding.assignShards(df, "id", shardSize = 64L,
      salt = "e0", partitions = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    got.length shouldBe 5000
    // brute-force truth: one global sort by (hash, id)
    val order = df.withColumn("h", graft.pipeline.Hashing.hash60(
        concat(col("id").cast("string"), lit("#e0"))))
      .collect().map(r => (r.getLong(1), r.getLong(0))) // (h, id)
      .sortBy(identity).map(_._2).zipWithIndex
      .map { case (id, i) => id -> (i / 64L, i % 64L) }.toMap
    got.foreach { case (id, shard, pos) =>
      (shard, pos) shouldBe order(id)
    }
    // partition-count invariance: the layout is a pure function of the
    // data + salt, not of the cluster shape
    val p13 = Sharding.assignShards(df, "id", shardSize = 64L,
      salt = "e0", partitions = 13)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    p13 shouldBe got.toSet
    // a different salt is a different permutation
    val e1 = Sharding.assignShards(df, "id", shardSize = 64L,
      salt = "e1", partitions = 7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    e1 should not equal got.toSet
    // every shard except the last is exactly full
    val sizes: Map[Long, Int] = got.groupBy(_._2).map { case (k, v) => k -> v.length }
    val lastShard = sizes.keys.max
    sizes.foreach { case (shard, n) =>
      if (shard != lastShard) n shouldBe 64 else n should be <= 64
    }
  }

  behavior of "Packing"

  it should "tile the salted token stream exactly, at any partition count" in {
    import s.implicits._
    val df = s.range(2000)
      .select(col("id"), (col("id") % 11).as("toks")) // includes zero-token docs
    val got = Packing.packSequences(df, "id", "toks", seqLen = 100L,
      salt = "p0", partitions = 7)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // brute-force truth: sort by (hash, id), running prefix sum
    val order = df.where(col("toks") > 0)
      .withColumn("h", graft.pipeline.Hashing.hash60(
        concat(col("id").cast("string"), lit("#p0"))))
      .collect().map(r => (r.getLong(2), r.getLong(0), r.getLong(1)))
      .sortBy(t => (t._1, t._2))
    var cum = 0L
    val truth = order.map { case (_, id, toks) =>
      val start = cum; cum += toks
      id -> (toks, start, start / 100L, (start + toks - 1) / 100L, start % 100L)
    }.toMap
    got.length shouldBe truth.size // zero-token docs dropped
    got.foreach { case (id, toks, start, sf, sl, pos) =>
      (toks, start, sf, sl, pos) shouldBe truth(id)
    }
    // the stream tiles with no gaps: starts are exactly the running sums
    got.map(t => t._3 + t._2).sorted.lastOption shouldBe Some(cum)
    // partition-count invariance
    val p13 = Packing.packSequences(df, "id", "toks", seqLen = 100L,
      salt = "p0", partitions = 13)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    got.map(t => t._1 -> t._3).toMap shouldBe p13
  }

  behavior of "argument validation"

  it should "reject invalid arguments with clear messages" in {
    import s.implicits._
    val df = Seq((1L, 1L, 1L)).toDF("user_id", "event_id", "ts")
    intercept[IllegalArgumentException] {
      TemporalJoins.bandJoin(df, Seq("user_id"), "ts", "event_id", bandUs = 0L)
    }.getMessage should include("bandUs")
    intercept[IllegalArgumentException] {
      TemporalJoins.asOfJoin(df, df, Seq("user_id"), "ts", "ts", Seq.empty)
    }.getMessage should include("right value column")
    intercept[IllegalArgumentException] {
      Sampling.hashSample(df, "user_id", rate = 1.5)
    }.getMessage should include("rate")
    intercept[IllegalArgumentException] {
      Sampling.stratifiedHashSample(df, "user_id", "event_id", Map.empty)
    }.getMessage should include("stratum")
    intercept[IllegalArgumentException] {
      Skew.saltedSum(df, Seq("user_id"), Seq("ts"), "event_id", salts = 0)
    }.getMessage should include("salts")
    intercept[IllegalArgumentException] {
      Bucketing.writeBucketed(df, "bad", "user_id", buckets = -1)
    }.getMessage should include("buckets")
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(df, "user_id", "event_id", col("ts"), Map.empty)
    }.getMessage should include("budget")
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(df, "user_id", "event_id", col("ts"),
        Map("a" -> -1L))
    }.getMessage should include("budget")
    intercept[IllegalArgumentException] {
      Sharding.assignShards(df, "user_id", shardSize = 0L)
    }.getMessage should include("shardSize")
    intercept[IllegalArgumentException] {
      Packing.packSequences(df, "user_id", "ts", seqLen = 0L)
    }.getMessage should include("seqLen")
    intercept[IllegalArgumentException] {
      graft.pipeline.Prototypes.topPrototypes(
        Seq((1L, Array(1.0), 0)).toDF("id", "vec", "cluster"),
        "cluster", "id", "vec", k = 0)
    }.getMessage should include("k")
    // appended/internal column names are reserved, not silently shadowed
    intercept[IllegalArgumentException] {
      Sampling.tokenBudgetSample(df.withColumnRenamed("ts", "cum_tokens"),
        "user_id", "event_id", col("cum_tokens"), Map("a" -> 1L))
    }.getMessage should include("cum_tokens")
    intercept[IllegalArgumentException] {
      Sharding.assignShards(df.withColumnRenamed("ts", "shard"), "user_id", 8L)
    }.getMessage should include("shard")
    intercept[IllegalArgumentException] {
      Packing.packSequences(df.withColumnRenamed("ts", "seq_first"),
        "user_id", "event_id", 8L)
    }.getMessage should include("seq_first")
  }

  behavior of "Sketches"

  it should "land approx_count_distinct within its rsd contract" in {
    val df = s.range(50000).select((col("id") % 9173).as("x"))
    val row = Sketches.distinctWithinRsd(df, "x", rsd = 0.05).head
    row.getLong(0) shouldBe 9173L
    row.getLong(1) shouldBe 1L
  }

  it should "land approx_percentile within the rank tolerance" in {
    val df = s.range(100000).select((col("id") * 37 % 100000).cast("double").as("x"))
    val row = Sketches.quantilesWithinRankError(df, "x",
      qs = Seq(0.5, 0.9, 0.99), accuracy = 10000, rankTol = 0.005).head
    row.getLong(0) shouldBe 100000L
    row.getLong(1) shouldBe 1L
  }

  it should "bound count-min estimates for the heavy hitters" in {
    import s.implicits._
    // zipf-ish: value v appears ~50000/v times
    val rows = (1 to 200).flatMap(v => Seq.fill(50000 / v)(s"tok$v"))
    val df = rows.toDF("tok")
    val row = Sketches.heavyHittersWithinError(df, "tok", topN = 10,
      eps = 0.001, confidence = 0.99, seed = 42).head
    row.getLong(0) shouldBe rows.size.toLong
    row.getLong(1) shouldBe 1L
  }

  it should "accept a duplicate-heavy column where one value spans the target rank" in {
    // one value covers ranks 0.2..0.8: the correct median IS that value,
    // even though P(x <= v) = 0.8 is far from 0.5
    val df = s.range(10000).select(
      when(col("id") < 2000, col("id"))
        .when(col("id") < 8000, lit(5000L))
        .otherwise(col("id")).cast("double").as("x"))
    val row = Sketches.quantilesWithinRankError(df, "x",
      qs = Seq(0.5), accuracy = 10000, rankTol = 0.005).head
    row.getLong(1) shouldBe 1L
  }
}
