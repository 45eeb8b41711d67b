package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}

import graft.pipeline.Hashing

/** Deterministic sampling for training-data pipelines.
  *
  * `df.sample()` draws from a partition-seeded RNG: the selected set changes
  * with partitioning, engine, and re-runs — useless for reproducible corpus
  * construction, holdout splits, or cross-engine verification. Hash
  * sampling decides membership per *row identity*: a row is in the sample
  * iff `h(key, salt) < rate · 2⁶⁰`, with [[Hashing.hash60]] (md5-60bit) as
  * `h`. Properties a 100 TB curation pipeline needs:
  *
  *   - reproducible: same (key, salt, rate) → same sample, on any engine,
  *     any partitioning, any day — and exactly recomputable in SQL;
  *   - monotone: raising the rate only *adds* rows (nested samples), so a
  *     1% dev slice is a subset of the 10% training slice by construction;
  *   - streaming/join-safe: membership is a pure map-side predicate — no
  *     shuffle, no state, pushes past joins on the key;
  *   - splittable: disjoint salts give independent samples (holdout vs
  *     train never overlap by accident).
  */
object Sampling {

  /** Membership predicate: `hash60(key # salt) < rate · 2⁶⁰`. NULL keys
    * hash the literal string "null" rather than propagating SQL NULL — a
    * NULL predicate silently drops the row from EVERY sample (a "100%
    * sample" that isn't the dataset); hashing a sentinel keeps NULL-key
    * rows sampled at the same rate, deterministically, on both engines
    * (`COALESCE(CAST(k AS VARCHAR), 'null')` on the oracle side). */
  def hashSamplePredicate(key: Column, rate: Double, salt: String): Column = {
    require(rate >= 0.0 && rate <= 1.0, s"rate must be in [0, 1], got $rate")
    // 2^60 fits a signed long; the threshold is exact for rate = 0 and 1
    val threshold = math.round(rate * (1L << 60).toDouble)
    Hashing.hash60(concat(coalesce(key.cast("string"), lit("null")),
      lit("#" + salt))) < lit(threshold)
  }

  /** Uniform deterministic sample at `rate` keyed on `keyCol`. */
  def hashSample(df: DataFrame, keyCol: String, rate: Double,
                 salt: String = "sample"): DataFrame =
    df.where(hashSamplePredicate(col(keyCol), rate, salt))

  /** Seeded Gumbel noise in integer micro-units:
    * `floor(−ln(−ln(u)) · 1e6 + 0.5)` with
    * `u = (hash60(key#salt!g) + 0.5) / 2⁶⁰` — the deterministic noise
    * behind Gumbel-top-k sampling (Dsir resampling, weighted sampling).
    * Every sub-expression is an IEEE double op in fixed order, so the
    * value is engine-exact given the shared hash. */
  private[graft] def gumbelMicroU(key: Column, salt: String): Column = {
    val u = (Hashing.hash60(concat(coalesce(key.cast("string"), lit("null")),
        lit("#" + salt + "!g"))).cast("double") + 0.5) /
      1152921504606846976.0 // 2^60
    floor(-log(-log(u)) * 1e6 + 0.5).cast("long")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis via the
    * Gumbel-top-k identity): keeps the top `ceil(n · keepNum/keepDen)`
    * rows by `floor_micro(ln weight) + Gumbel(hash)`, which selects each
    * subset with the probability sequential weighted draws without
    * replacement would — deterministically, as a pure function of
    * (key set, weights, salt). `weight` must be positive; the two
    * integer micro-unit terms sum as longs, so scores have no float
    * order, and the rank runs through the shared two-phase prefix scan
    * (never a single-task window). Returns kept rows plus
    * `(score_u, sample_rank)`. */
  def weightedSample(df: DataFrame, keyCol: String, weight: Column,
                     keepNum: Long, keepDen: Long,
                     salt: String = "wsample",
                     partitions: Int = 0): DataFrame = {
    val scoreU = floor(log(weight.cast("double")) * 1e6 + 0.5).cast("long") +
      gumbelMicroU(col(keyCol), salt)
    val scored = df.withColumn("score_u", scoreU)
      .withColumn("__ws_all", lit("all"))
    topFractionPerStratum(scored, keyCol, "__ws_all", col("score_u"),
        keepNum, keepDen, salt, partitions)
      .withColumn("sample_rank", col("stratum_rank"))
      .drop("__ws_all", "stratum_rank")
  }

  /** Stratified deterministic sample: per-stratum rates (e.g. per-language
    * mixing weights), rows of unlisted strata are dropped. The threshold
    * lookup is a literal CASE expression over *precomputed integer*
    * thresholds — float-to-int conversion happens once here, not per row
    * per engine (Spark truncates double→long where DuckDB rounds, so a
    * runtime `rate · 2⁶⁰` cast would disagree across the oracle boundary
    * for rates with an inexact binary expansion). Still a pure map-side
    * predicate. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, strataCol: String,
                           rates: Map[String, Double],
                           salt: String = "sample"): DataFrame = {
    require(rates.nonEmpty, "need at least one stratum rate")
    rates.values.foreach(r =>
      require(r >= 0.0 && r <= 1.0, s"rate must be in [0, 1], got $r"))
    val thresholdCol = rates.foldLeft(lit(-1L)) { case (acc, (stratum, r)) =>
      when(col(strataCol) === stratum,
        lit(math.round(r * (1L << 60).toDouble))).otherwise(acc)
    }
    df.where(Hashing.hash60(
      concat(coalesce(col(keyCol).cast("string"), lit("null")),
        lit("#" + salt))) < thresholdCol)
  }

  /** Cumulative integer thresholds over 2^60 hash space for an ordered
    * list of split fractions. Computed ONCE driver-side in a fixed
    * association order — the oracle SQL interpolates these exact longs, so
    * float-to-int conversion can never disagree across the engine
    * boundary (0.8 + 0.1 is not the double closest to 0.9; recomputing
    * the cumulative sum per engine would put boundary keys in different
    * splits). */
  def cumThresholds(fractions: Seq[Double]): Seq[Long] = {
    require(fractions.nonEmpty, "need at least one fraction")
    fractions.foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fraction must be in [0, 1], got $f"))
    val total = fractions.sum
    require(math.abs(total - 1.0) < 1e-9, s"fractions must sum to 1, got $total")
    val raw = fractions.scanLeft(0.0)(_ + _).tail
      .map(c => math.round(math.min(c, 1.0) * (1L << 60).toDouble))
    // The float cumulative sum can land a hair under 1.0 (e.g. 0.7+0.2+0.1
    // = 0.9999999999999999); once the sum-to-1 tolerance check above has
    // passed, the final threshold MUST be exactly 2^60 or assignSplit
    // leaves a sliver of the hash space unlabeled.
    raw.init :+ (1L << 60)
  }

  /** Deterministic disjoint dataset split (train/val/test): every row gets
    * a `split` label from the position of hash60(key#salt) among the
    * cumulative fraction thresholds. A pure map-side projection — no
    * shuffle, no sort, no sampling state — so the assignment is
    * reproducible under repartitioning, stable under appends (an existing
    * key never changes split), and exactly partitions the key space: the
    * last threshold is 2^60 and hash60 < 2^60 always, so no row is
    * unlabeled and no row lands in two splits. */
  def assignSplit(df: DataFrame, keyCol: String,
                  fractions: Seq[(String, Double)],
                  salt: String = "split"): DataFrame = {
    val thr = cumThresholds(fractions.map(_._2))
    require(thr.last == (1L << 60),
      "fractions must cover the hash space (sum to 1)")
    val h = Hashing.hash60(
      concat(coalesce(col(keyCol).cast("string"), lit("null")),
        lit("#" + salt)))
    val splitCol = fractions.map(_._1).zip(thr)
      .foldRight(lit(null).cast("string")) { case ((name, t), acc) =>
        when(h < lit(t), lit(name)).otherwise(acc)
      }
    df.withColumn("split", splitCol)
  }

  /** Fixed-COUNT per-stratum sample: exactly `min(k, |stratum|)` rows per
    * stratum — the deterministic replacement for per-group reservoir
    * sampling ("5 eval docs per source", "k probes per language"), where
    * the rate samplers can only target an expected count. Rows rank by
    * (hash60(key#salt), key) within their stratum — the same reproducible
    * identity order the rate samplers use, so membership is a pure
    * function of (key set, salt, k), stable under repartitioning, and
    * adding rows to a stratum only displaces, never reshuffles, the
    * selection order.
    *
    * Shape at scale: the rank is a `row_number` window that Spark plans
    * as `WindowGroupLimit`: each task cuts its rows to k per stratum
    * before the one hash exchange and again after it, so a web-dominated
    * mix with one giant stratum shuffles O(k) rows of it per task, and the
    * window ranks only those — never the whole stratum. */
  def fixedKPerStratum(df: DataFrame, keyCol: String, strataCol: String,
                       k: Int, salt: String = "fixedk"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val h = Hashing.hash60(
      concat(coalesce(col(keyCol).cast("string"), lit("null")),
        lit("#" + salt)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(h.asc, col(keyCol).asc)
    df.withColumn("sample_rank",
        org.apache.spark.sql.functions.row_number().over(w).cast("long"))
      .where(col("sample_rank") <= k)
  }

  /** Token-budget mixture sampling: per stratum (source/domain), keep the
    * deterministic hash-ordered PREFIX of documents whose cumulative token
    * count fits the stratum's budget — how a training mix is actually
    * specified ("30B tokens of web, 5B of code"), where per-document rate
    * sampling can only target expected token mass. Strata without a budget
    * are dropped, like [[stratifiedHashSample]]'s unlisted strata. NULL
    * token counts count as zero tokens.
    *
    * Semantics: order each stratum by (hash60(key#salt), key) — the same
    * reproducible-identity order the rate samplers use — and keep rows
    * while the running token total stays ≤ budget. A strict prefix: the
    * first over-budget document ends the stratum (no skip-and-refill), so
    * membership is a pure function of (key set, salt, budgets), exactly
    * recomputable in SQL, and monotone in the budget (a bigger budget only
    * appends).
    *
    * Shape at scale: real mixes are dominated by one source (web is
    * routinely 80% of a corpus), so the textbook spelling — `SUM(tokens)
    * OVER (PARTITION BY stratum ORDER BY hash)` — funnels most of the
    * corpus through ONE task. This is instead the same two-phase
    * distributed scan [[Packing.packSequences]] uses, generalized to a
    * per-stratum prefix: range-partition by (stratum, hash, key) so each
    * stratum spans *contiguous* partitions sized by data volume, sum
    * tokens per (partition, stratum), prefix those sums on the driver
    * (P × |strata| longs — bounded), then stream each partition once
    * emitting the exact running total. The budget filter is then a pure
    * map. Parallelism scales with partitions, not strata. Emits
    * `cum_tokens` so downstream audits need no recompute. */
  def tokenBudgetSample(df: DataFrame, keyCol: String, strataCol: String,
                        tokenCount: Column, budgets: Map[String, Long],
                        salt: String = "budget",
                        partitions: Int = 0): DataFrame = {
    require(budgets.nonEmpty, "need at least one stratum budget")
    budgets.values.foreach(b =>
      require(b >= 0L, s"budget must be non-negative, got $b"))
    val budgetCol = budgets.foldLeft(lit(-1L)) { case (acc, (stratum, b)) =>
      when(col(strataCol) === stratum, lit(b)).otherwise(acc)
    }
    // unlisted strata are dropped up front (cheaper AND removes NULL
    // strata before the range exchange); the filter cannot change any
    // listed stratum's prefix because the scan is per stratum
    val cum = stratumPrefixCum(df.where(budgetCol >= 0L), keyCol, strataCol,
      tokenCount, sortByScore = None, "cum_tokens", salt, partitions)
    cum.where(col("cum_tokens") <= budgetCol)
  }

  /** Temperature mixture sampling (α = 0.5): per-stratum document targets
    * ∝ √count, the standard flattening that upweights small sources
    * relative to proportional sampling (multilingual / multi-domain
    * training mixes; α = 0.5 is the common published setting, e.g.
    * multilingual BERT's exponent-smoothed sampling). Selects, per
    * stratum, the deterministic hash-ordered prefix of
    * `totalDocs · √cᵢ / Σⱼ√cⱼ` documents.
    *
    * The target arithmetic is ENGINE-EXACT by construction: weights are
    * `floor(sqrt(count))` — IEEE-754 sqrt is correctly rounded, so for any
    * realistic count (< 2⁵²) this is the integer square root, identical in
    * the JVM and any SQL engine — and targets use integer
    * `totalDocs · wᵢ / W` division (BigInt on the driver, so no overflow
    * at any budget). No float crosses an engine boundary.
    *
    * Driver traffic: one count per stratum (bounded by |strata|), then the
    * same two-phase distributed prefix scan as [[tokenBudgetSample]] — no
    * single-task window, parallelism scales with partitions. Emits
    * `stratum_rank` (1-based position in the stratum's hash order). */
  def temperatureSample(df: DataFrame, keyCol: String, strataCol: String,
                        totalDocs: Long, salt: String = "temp",
                        partitions: Int = 0): DataFrame = {
    require(totalDocs >= 0L, s"totalDocs must be non-negative, got $totalDocs")
    val counts = df.groupBy(col(strataCol)).count().collect()
      .map(r => (r.get(0), r.getLong(1)))
    if (counts.isEmpty) return df.withColumn("stratum_rank", lit(0L)).limit(0)
    val weights = counts.map { case (g, c) =>
      (g, math.floor(math.sqrt(c.toDouble)).toLong)
    }
    val totalW = weights.map(_._2).sum
    val targets: Array[(Any, Long)] = weights.map { case (g, w) =>
      val t = if (totalW == 0L) 0L
              else (BigInt(totalDocs) * BigInt(w) / BigInt(totalW)).toLong
      (g, t)
    }
    val targetCol = targets.foldLeft(lit(-1L)) { case (acc, (stratum, t)) =>
      when(col(strataCol) <=> lit(stratum), lit(t)).otherwise(acc)
    }
    val cum = stratumPrefixCum(df, keyCol, strataCol, lit(1L),
      sortByScore = None, "stratum_rank", salt, partitions)
    cum.where(col("stratum_rank") <= targetCol)
  }

  /** Waterfill (capped-proportional) allocation of ONE global token
    * budget across strata: every stratum gets an equal share of the
    * budget EXCEPT strata whose whole inventory fits under that share —
    * those are taken in full and their leftover re-floods the rest. The
    * allocation every mixture design under per-source caps needs:
    * `temperatureSample`'s targets silently under-fill when a small
    * source's target exceeds its inventory; waterfill is the classic
    * max-min fair answer (`t_s = min(n_s, waterline)` with
    * `Σ t_s = min(budget, Σ n_s)` exactly).
    *
    * All arithmetic is exact-integer and deterministic, so the kept set
    * is a pure function of (key set, strata, salt, budget) and exactly
    * recomputable in SQL: strata sort ascending by (inventory, stratum);
    * a stratum is taken in full iff `n_i · m_i ≤ r_i` (both sides exact —
    * BigInt guards the product) where `r_i`/`m_i` are the remaining
    * budget/strata, a prefix-closed rule; the survivors get
    * `base = r div m` tokens each with the `r mod m` remainder spread
    * +1 to the lexicographically smallest survivors. Each survivor's
    * target is < its inventory by construction of the stop rule.
    * Selection then reuses [[tokenBudgetSample]]'s per-stratum
    * hash-ordered prefix verbatim. NULL strata are dropped like
    * `tokenBudgetSample`'s unlisted strata.
    *
    * Shape at scale: one per-stratum inventory aggregate (|strata| rows
    * to the driver — the same bounded traffic `temperatureSample`
    * accepts), the waterline solved on the driver over those rows, then
    * the shared two-phase distributed prefix scan. Emits `cum_tokens`
    * and the stratum's `target_tokens` so downstream audits need no
    * recompute. */
  def waterfillTokenBudget(df: DataFrame, keyCol: String, strataCol: String,
                           tokenCount: Column, budget: Long,
                           salt: String = "waterfill",
                           partitions: Int = 0): DataFrame = {
    require(budget >= 0L, s"budget must be non-negative, got $budget")
    val rows = df.where(col(strataCol).isNotNull)
    val inv: Array[(String, Long)] = rows
      .groupBy(col(strataCol).cast("string").as("__g"))
      .agg(sum(coalesce(tokenCount.cast("long"), lit(0L))).as("__n"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val targets = waterfillTargets(inv, budget)
    if (targets.isEmpty)
      return rows.withColumn("cum_tokens", lit(0L))
        .withColumn("target_tokens", lit(0L)).limit(0)
    val targetCol = targets.foldLeft(lit(-1L)) { case (acc, (g, t)) =>
      when(col(strataCol).cast("string") === g, lit(t)).otherwise(acc)
    }
    tokenBudgetSample(rows, keyCol, strataCol, tokenCount, targets,
      salt, partitions)
      .withColumn("target_tokens", targetCol)
  }

  /** The exact-integer waterline solve (driver-side, |strata| entries).
    * Exposed for specs and budget reports. */
  private[graft] def waterfillTargets(inv: Array[(String, Long)],
                                      budget: Long): Map[String, Long] = {
    inv.foreach { case (g, n) =>
      require(n >= 0L, s"negative token inventory $n for stratum $g") }
    val sorted = inv.sortBy { case (g, n) => (n, g) }
    val targets = scala.collection.mutable.Map[String, Long]()
    var r = budget
    var m = sorted.length
    var i = 0
    var filling = true
    while (i < sorted.length && filling) {
      val (g, n) = sorted(i)
      if (BigInt(n) * m <= BigInt(r)) {
        targets(g) = n; r -= n; m -= 1; i += 1
      } else filling = false
    }
    if (i < sorted.length) {
      val base = r / m
      val rem = (r % m).toInt
      val rest = sorted.drop(i).map(_._1).sorted
      rest.zipWithIndex.foreach { case (g, k) =>
        targets(g) = base + (if (k < rem) 1L else 0L)
      }
    }
    targets.toMap
  }

  /** Per-stratum top-fraction selection by a score — the quantile quality
    * gate ("keep the best 20% of each source by quality"): per stratum,
    * keep the `keepNum/keepDen` fraction of documents with the highest
    * score, ties broken by the deterministic hash order. The cutoff count
    * is `ceil(cᵢ · keepNum / keepDen)` in INTEGER arithmetic — the
    * fraction is a rational, not a float, so the kept set is exactly
    * recomputable in SQL at any scale (a float percentile threshold
    * equality would diverge across engines at ties).
    *
    * Shape at scale: the textbook spelling is `PERCENT_RANK() OVER
    * (PARTITION BY stratum ORDER BY score DESC)` — a single-task sort of
    * the dominant stratum. This is the same two-phase distributed prefix
    * scan as [[tokenBudgetSample]], ordered by (score DESC, hash, key):
    * range-partition, per-partition counts, driver prefix of P × |strata|
    * longs, streaming rank emit, then the cutoff filter is a pure map.
    * Emits `stratum_rank` (1 = best-scoring row of its stratum). */
  def topFractionPerStratum(df: DataFrame, keyCol: String, strataCol: String,
                            score: Column, keepNum: Long, keepDen: Long,
                            salt: String = "topfrac",
                            partitions: Int = 0): DataFrame = {
    require(keepDen > 0L, s"keepDen must be positive, got $keepDen")
    require(keepNum >= 0L, s"keepNum must be non-negative, got $keepNum")
    val counts = df.groupBy(col(strataCol)).count().collect()
      .map(r => (r.get(0), r.getLong(1)))
    if (counts.isEmpty) return df.withColumn("stratum_rank", lit(0L)).limit(0)
    val cutoffs: Array[(Any, Long)] = counts.map { case (g, c) =>
      // ceil(c · num / den) in exact integer arithmetic
      (g, ((BigInt(c) * BigInt(keepNum) + BigInt(keepDen) - 1)
        / BigInt(keepDen)).toLong)
    }
    val cutoffCol = cutoffs.foldLeft(lit(-1L)) { case (acc, (stratum, t)) =>
      when(col(strataCol) <=> lit(stratum), lit(t)).otherwise(acc)
    }
    val cum = stratumPrefixCum(df, keyCol, strataCol, lit(1L),
      sortByScore = Some(score), "stratum_rank", salt, partitions)
    cum.where(col("stratum_rank") <= cutoffCol)
  }

  /** Shared two-phase distributed per-stratum prefix scan (the scale-safe
    * replacement for `agg OVER (PARTITION BY stratum ORDER BY …)`):
    * range-partition by (stratum, [score DESC,] hash, key) so each stratum
    * spans contiguous partitions sized by data volume, sum `weight` per
    * (partition, stratum), prefix those sums on the driver
    * (P × |strata| longs — bounded), then stream each partition once
    * emitting the running total as `cumName`. Parallelism scales with
    * partitions, not strata — a stratum holding 80% of the corpus is
    * scanned by 80% of the partitions, not one task. */
  private[ops] def stratumPrefixCum(df: DataFrame, keyCol: String,
                                    strataCol: String, weight: Column,
                                    sortByScore: Option[Column], cumName: String,
                                    salt: String, partitions: Int,
                                    scoreAscending: Boolean = false): DataFrame = {
    Seq(cumName, "__h", "__w", "__s").foreach(c =>
      require(!df.columns.contains(c),
        s"input already has a '$c' column (reserved by the prefix scan)"))
    val spark = df.sparkSession
    val h = Hashing.hash60(
      concat(coalesce(col(keyCol).cast("string"), lit("null")),
        lit("#" + salt)))
    // helper columns are appended LAST (withColumn appends), so phase 2
    // can rebuild rows with a cheap dropRight
    val helpers = sortByScore.toSeq.map(s => ("__s", s)) ++
      Seq(("__h", h), ("__w", coalesce(weight.cast("long"), lit(0L))))
    val withHelpers = helpers.foldLeft(df) { case (d, (n, c)) =>
      d.withColumn(n, c)
    }
    val sortCols = sortByScore.map(_ =>
      if (scoreAscending) col("__s").asc else col("__s").desc).toSeq ++
      Seq(col("__h"), col(keyCol))
    // no explicit partition count unless the caller pins one: an
    // unnumbered range exchange lets AQE size partitions by bytes (small
    // input → few tasks; 100 TB → advisory-sized splits). Legal because
    // the scan is partition-count INVARIANT by construction — the driver
    // prefix works for any count, and range placement keeps sort order.
    val ranged =
      if (partitions > 0)
        withHelpers.repartitionByRange(partitions, (col(strataCol) +: sortCols): _*)
      else withHelpers.repartitionByRange((col(strataCol) +: sortCols): _*)
    val sorted = ranged
      .sortWithinPartitions((col(strataCol) +: sortCols): _*)
      // eager materialization: phase 1 and phase 2 both read this; local
      // checkpoint blocks are freed by the ContextCleaner when the
      // returned frame is dropped (no caller unpersist contract)
      .localCheckpoint()
    val wIdx = sorted.schema.fieldIndex("__w")
    val strIdx = sorted.schema.fieldIndex(strataCol)
    // phase 1: per-(partition, stratum) weight sums — P × |strata| longs
    // to the driver, nothing else. Range partitioning makes each stratum a
    // contiguous partition run, but per-stratum keying needs no such
    // assumption: the driver prefix below is correct for any placement
    // because partition order ≡ sort order under repartitionByRange.
    val partSums: Array[(Int, Array[(AnyRef, Long)])] = sorted.rdd
      .mapPartitionsWithIndex { (pid, rows) =>
        val sums = scala.collection.mutable.LinkedHashMap.empty[AnyRef, Long]
        rows.foreach { r =>
          val g = r.get(strIdx).asInstanceOf[AnyRef]
          sums.update(g, sums.getOrElse(g, 0L) + r.getLong(wIdx))
        }
        Iterator((pid, sums.toArray))
      }.collect()
    // driver prefix: offsets(pid)(stratum) = that stratum's weight in all
    // earlier partitions
    val running = scala.collection.mutable.HashMap.empty[AnyRef, Long]
    val offsets: Map[Int, Map[AnyRef, Long]] =
      partSums.sortBy(_._1).map { case (pid, sums) =>
        val before = sums.map { case (g, s) =>
          val off = running.getOrElse(g, 0L)
          running.update(g, off + s)
          (g, off)
        }.toMap
        (pid, before)
      }.toMap
    // phase 2: one streaming pass per partition, seeded with its offsets
    val nHelpers = helpers.size
    val outSchema = StructType(
      sorted.schema.dropRight(nHelpers))
      .add(cumName, LongType, nullable = false)
    spark.createDataFrame(
      sorted.rdd.mapPartitionsWithIndex { (pid, rows) =>
        val cum = scala.collection.mutable.HashMap.empty[AnyRef, Long]
        offsets.getOrElse(pid, Map.empty).foreach { case (g, o) =>
          cum.update(g, o)
        }
        rows.map { r =>
          val g = r.get(strIdx).asInstanceOf[AnyRef]
          val c = cum.getOrElse(g, 0L) + r.getLong(wIdx)
          cum.update(g, c)
          Row.fromSeq(r.toSeq.dropRight(nHelpers) :+ c)
        }
      }, outSchema)
  }

  /** Cumulative Poisson(1) thresholds on the 2^60 hash grid, for
    * [[bootstrapMeans]]: `thr(k) = round(P(X ≤ k)·2^60)`, the tail mass
    * past `kMax` folded into a final exact 2^60 (same forced-cover rule
    * as [[cumThresholds]]). Driver-computed once and embedded as
    * LITERALS in both engines' plans, so the weight assignment is
    * integer-exact cross-engine. */
  def poissonThresholds(kMax: Int = 20): Seq[Long] = {
    require(kMax >= 1, s"kMax must be >= 1, got $kMax")
    val pmf = new Array[Double](kMax)
    var k = 0
    var term = math.exp(-1.0) // P(0)
    while (k < kMax) {
      pmf(k) = term
      k += 1
      term = term / k
    }
    val cum = pmf.scanLeft(0.0)(_ + _).tail
      .map(c => math.round(math.min(c, 1.0) * (1L << 60).toDouble))
    cum.init :+ (1L << 60)
  }

  /** Uniform negative sampling for contrastive training — the random-
    * negative half of the pair-generation family ([[graft.pipeline.Ann.hardNegatives]]
    * is the hard half): for each anchor row, `k` deterministic
    * pseudo-uniform OTHER rows, as `(i, neg_idx, j)` pairs. Sampling by
    * POSITION over a dense 0..N−1 rank (the terasort two-phase shape —
    * range partition + per-partition offsets, never a one-task window)
    * makes the draw exactly uniform over rows whatever the key
    * distribution; the draw itself is `hash60(key#salt#idx) mod N` with
    * the self-collision bumped to the next rank (deterministic, so the
    * pair set is a pure function of (key set, salt, k) — reproducible
    * and engine-identical). Keys must be unique and non-null (they are
    * ids). Scale shape: one range exchange for the rank, one
    * co-partitioned equi-join of k·N slim pairs against the N-row rank
    * table; nothing driver-sized. */
  def negativePairs(df: DataFrame, keyCol: String, k: Int,
                    salt: String = "neg"): DataFrame = {
    require(k >= 1, s"need at least 1 negative per anchor, got $k")
    val spark = df.sparkSession
    val keyed = df.select(col(keyCol)).where(col(keyCol).isNotNull)
    val ranged = keyed.repartitionByRange(col(keyCol))
      .sortWithinPartitions(col(keyCol))
    val schema = ranged.schema.add("rk", LongType, nullable = false)
    val ranks = spark.createDataFrame(
      ranged.rdd.zipWithIndex().map { case (row, idx) =>
        Row.fromSeq(row.toSeq :+ idx)
      }, schema).localCheckpoint()
    val n = ranks.count()
    require(n >= 2, s"need at least 2 rows to sample negatives, got $n")
    val t0 = pmod(Hashing.hash60(
      concat(col("i").cast("string"), lit("#" + salt + "#"),
        col("neg_idx").cast("string"))), lit(n))
    val anchors = ranks
      .select(col(keyCol).as("i"), col("rk").as("ri"),
        explode(sequence(lit(0L), lit((k - 1).toLong))).as("neg_idx"))
      .select(col("i"), col("neg_idx"),
        when(t0 === col("ri"), (t0 + lit(1L)) % lit(n)).otherwise(t0)
          .as("target"))
    anchors.join(ranks.select(col(keyCol).as("j"), col("rk")),
        col("target") === col("rk"))
      .select(col("i"), col("neg_idx"), col("j"))
  }

  /** Poisson bootstrap over a distributed corpus (the one-pass bootstrap
    * of Chamandy et al. — "error bars on corpus statistics without
    * resampling the corpus"): replicate `b`'s resample weight for each
    * row is Poisson(1), derived DETERMINISTICALLY from
    * `hash60(key#salt#b)` through the literal threshold ladder, so
    * membership is a pure function of (key, salt, b) — reproducible,
    * append-stable, engine-identical. Emits one row per replicate:
    * `(rep, n_eff, wsum, mean)` with `n_eff = Σw`, `wsum = Σw·x` exact
    * longs and ONE terminal IEEE division — the spread of the B means IS
    * the sampling distribution of the corpus mean.
    *
    * Scale shape: the B-fold fan-out is a map-side generator over each
    * row (CPU ∝ B·N, no extra scan); the only shuffle is the hash
    * aggregate keyed by `rep` — B rows per partition after map-side
    * combine, B rows total out. `valueCol` must be integer-valued (the
    * repo's exactness contract); Σ w·x at Poisson weights ≤ ~20 holds
    * the long bound to ~10^5-magnitude values × 10^9 rows. */
  def bootstrapMeans(df: DataFrame, keyCol: String, valueCol: String,
                     b: Int = 32, salt: String = "boot"): DataFrame = {
    require(b >= 2, s"need at least 2 replicates, got $b")
    val thr = poissonThresholds()
    val x = col(valueCol).cast("long")
    val rep = explode(sequence(lit(0), lit(b - 1))).as("rep")
    val rows = df.where(col(keyCol).isNotNull && col(valueCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"), x.as("x"), rep)
    val u = Hashing.hash60(
      concat(col("k"), lit("#" + salt + "#"), col("rep").cast("string")))
    val w = thr.zipWithIndex.foldRight(lit(thr.size.toLong)) {
      case ((t, k), acc) => when(u < lit(t), lit(k.toLong)).otherwise(acc)
    }
    rows.select(col("rep").cast("long").as("rep"), col("x"), w.as("w"))
      .groupBy("rep")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("x")).as("wsum"))
      .select(col("rep"), col("n_eff"), col("wsum"),
        (col("wsum").cast("double") / col("n_eff").cast("double")).as("mean"))
  }
}
