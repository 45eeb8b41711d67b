package graft
package queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Shared._

/** Models fit from exact moments: ridge, leave-one-out influence,
  * conformal intervals, calibration, logistic regression and
  * cross-validation. */
object FitQueries {

  /** The quality model's training rows: the `keys` columns, then
    * `x1` = n_chars, `x2` = the whitespace-token count and `y` = the
    * quality score in micro-units, all longs. */
  private def qualityFeatures(docs: DataFrame, keys: String*): DataFrame =
    docs.select(keys.map(col) ++ Seq(
      col("n_chars").cast("long").as("x1"),
      size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
      floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y")): _*)

  /** The unrounded ridge weights `w0`..`w2` of a 3×3 system by
    * Cramer's rule — the select list over a CTE holding the matrix
    * `a00`..`a22` and right-hand side `c0`..`c2`, expanded along the
    * first row in the association order of `Fit.det3`. */
  private val cramerWeightsSql =
    """|    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
       |       + a02 * (c1 * a21 - a11 * c2))
       |    / (a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20)
       |       + a02 * (a10 * a21 - a11 * a20)) AS w0,
       |    (a00 * (c1 * a22 - a12 * c2) - c0 * (a10 * a22 - a12 * a20)
       |       + a02 * (a10 * c2 - c1 * a20))
       |    / (a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20)
       |       + a02 * (a10 * a21 - a11 * a20)) AS w1,
       |    (a00 * (a11 * c2 - c1 * a21) - a01 * (a10 * c2 - c1 * a20)
       |       + c0 * (a10 * a21 - a11 * a20))
       |    / (a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20)
       |       + a02 * (a10 * a21 - a11 * a20)) AS w2""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // sufficient-statistics model training: ridge-regress the round-6
    // quality score (micro-units) on (n_chars, n_tokens) — ONE map-side-
    // combinable pass reduces the corpus to exact long moments, the 3×3
    // solve is Cramer's rule in a fixed association order, and the oracle
    // recomputes the identical expansion term-for-term
    QuerySpec("q_ridge_quality", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = qualityFeatures(docs, "doc_id")
      val (n, w) = ops.Fit.ridgeNormal(feats, Seq("x1", "x2"), "y", lambda = 1.0)
      Seq((n, w(0), w(1), w(2))).toDF("n", "w0", "w1", "w2")
        .select(col("n"),
          // round-6, NOT 9: the intercept is ~1e6 micro-units, where the
          // 9th decimal is only ~8 double-ulps — the two engines' ROUND
          // can legitimately disagree there (observed once in 20 groups);
          // 1e-6 leaves ~1e4 ulps of margin at this magnitude
          (round(col("w0"), 6) + lit(0.0)).as("w0_r"),
          (round(col("w1"), 6) + lit(0.0)).as("w1_r"),
          (round(col("w2"), 6) + lit(0.0)).as("w2_r"))
    }, oracle =
      // the same exact-long moments and the same first-row-cofactor Cramer
      // expansion, term-for-term (Fit.det3); λ=1.0 lands on the feature
      // diagonals only
      (tokSql +
      s""", qual AS (
         |  SELECT doc_id, ROUND($qualityExprSql,
         |        6) AS q
         |  FROM (
         |  $qualityInnerSql)),
         |feat AS (
         |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x1,
         |         CAST(len(tk.t) AS BIGINT) AS x2,
         |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
         |  JOIN qual ON d.doc_id = qual.doc_id),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS g00,
         |         SUM(x1) AS g01, SUM(x2) AS g02,
         |         SUM(x1 * x1) AS g11, SUM(x1 * x2) AS g12,
         |         SUM(x2 * x2) AS g22,
         |         SUM(y) AS b0, SUM(x1 * y) AS b1, SUM(x2 * y) AS b2
         |  FROM feat),
         |a AS (
         |  SELECT CAST(g00 AS BIGINT) AS n,
         |         CAST(g00 AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01,
         |         CAST(g02 AS DOUBLE) AS a02, CAST(g01 AS DOUBLE) AS a10,
         |         CAST(g11 AS DOUBLE) + 1.0 AS a11, CAST(g12 AS DOUBLE) AS a12,
         |         CAST(g02 AS DOUBLE) AS a20, CAST(g12 AS DOUBLE) AS a21,
         |         CAST(g22 AS DOUBLE) + 1.0 AS a22,
         |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
         |         CAST(b2 AS DOUBLE) AS c2
         |  FROM m)
         |SELECT n,
         |$cramerRoundedSql
         |FROM a""".stripMargin)),

    // leave-one-out influence (closed-form data attribution): which docs
    // the quality model owes its fit to — exact Sherman–Morrison LOO
    // residual e/(1−h) + leverage from the driver 3×3 inverse, scored as
    // a pure map-side projection; every IEEE step (moments → cofactor
    // inverse → quadratic form) mirrored term-for-term by the oracle
    QuerySpec("q_loo_influence", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: the LOO operator passes over feats twice
      // (moment aggregate + the residual/leverage projection)
      val feats = qualityFeatures(docs, "doc_id")
        .localCheckpoint()
      ops.Fit.looInfluenceD2(feats, "doc_id", "x1", "x2", "y", lambda = 1.0)
        .select(col("doc_id"),
          (round(col("resid"), 4) + 0.0).as("resid_r"),
          (round(col("leverage"), 9) + 0.0).as("leverage_r"),
          (round(col("loo_resid"), 4) + 0.0).as("loo_r"))
        .orderBy("doc_id")
    }, oracle =
      // the identical moments, Cramer weights, cofactor inverse, and
      // quadratic-form spelling — resid/leverage/loo must match bit-for-bit
      // at the rounding grid
      (tokSql +
      s""", qual AS (
         |  SELECT doc_id, ROUND($qualityExprSql,
         |        6) AS q
         |  FROM (
         |  $qualityInnerSql)),
         |feat AS (
         |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x1,
         |         CAST(len(tk.t) AS BIGINT) AS x2,
         |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
         |  JOIN qual ON d.doc_id = qual.doc_id),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS g00,
         |         SUM(x1) AS g01, SUM(x2) AS g02,
         |         SUM(x1 * x1) AS g11, SUM(x1 * x2) AS g12,
         |         SUM(x2 * x2) AS g22,
         |         SUM(y) AS b0, SUM(x1 * y) AS b1, SUM(x2 * y) AS b2
         |  FROM feat),
         |a AS (
         |  SELECT CAST(g00 AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01,
         |         CAST(g02 AS DOUBLE) AS a02, CAST(g01 AS DOUBLE) AS a10,
         |         CAST(g11 AS DOUBLE) + 1.0 AS a11, CAST(g12 AS DOUBLE) AS a12,
         |         CAST(g02 AS DOUBLE) AS a20, CAST(g12 AS DOUBLE) AS a21,
         |         CAST(g22 AS DOUBLE) + 1.0 AS a22,
         |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
         |         CAST(b2 AS DOUBLE) AS c2
         |  FROM m),
         |dd AS (
         |  SELECT *, (a00 * (a11 * a22 - a12 * a21)
         |             - a01 * (a10 * a22 - a12 * a20)
         |             + a02 * (a10 * a21 - a11 * a20)) AS det
         |  FROM a),
         |mw AS (
         |  SELECT
         |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
         |       + a02 * (c1 * a21 - a11 * c2)) / det AS w0,
         |    (a00 * (c1 * a22 - a12 * c2) - c0 * (a10 * a22 - a12 * a20)
         |       + a02 * (a10 * c2 - c1 * a20)) / det AS w1,
         |    (a00 * (a11 * c2 - c1 * a21) - a01 * (a10 * c2 - c1 * a20)
         |       + c0 * (a10 * a21 - a11 * a20)) / det AS w2,
         |    (a11 * a22 - a12 * a21) / det AS m00,
         |    -(a01 * a22 - a02 * a21) / det AS m01,
         |    (a01 * a12 - a02 * a11) / det AS m02,
         |    (a00 * a22 - a02 * a20) / det AS m11,
         |    -(a00 * a12 - a02 * a10) / det AS m12,
         |    (a00 * a11 - a01 * a10) / det AS m22
         |  FROM dd),
         |sc AS (
         |  SELECT f.doc_id,
         |    CAST(f.y AS DOUBLE)
         |      - (w0 + w1 * CAST(f.x1 AS DOUBLE) + w2 * CAST(f.x2 AS DOUBLE))
         |      AS resid,
         |    (m00 + m01 * CAST(f.x1 AS DOUBLE) + m02 * CAST(f.x2 AS DOUBLE))
         |      + (m01 + m11 * CAST(f.x1 AS DOUBLE) + m12 * CAST(f.x2 AS DOUBLE))
         |        * CAST(f.x1 AS DOUBLE)
         |      + (m02 + m12 * CAST(f.x1 AS DOUBLE) + m22 * CAST(f.x2 AS DOUBLE))
         |        * CAST(f.x2 AS DOUBLE) AS lev
         |  FROM feat f CROSS JOIN mw)
         |SELECT doc_id, ROUND(resid, 4) + 0.0 AS resid_r,
         |       ROUND(lev, 9) + 0.0 AS leverage_r,
         |       ROUND(resid / (1.0 - lev), 4) + 0.0 AS loo_r
         |FROM sc ORDER BY doc_id""".stripMargin)),

    // split-conformal prediction intervals: distribution-free ±q around
    // the quality model's predictions with finite-sample ≥90% coverage
    // (Vovk/Lei split-conformal recipe) — hash three-way split, exact
    // nearest-rank conformal quantile on the calibration slice, integer
    // coverage count on the untouched test slice
    QuerySpec("q_conformal", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = qualityFeatures(docs, "doc_id")
      ops.Fit.conformalD2(feats, "doc_id", "x1", "x2", "y")
    }, oracle =
      // identical split thresholds, fit-slice Cramer weights, quantized
      // |residual| scores, nearest-rank conformal quantile, and the
      // integer coverage count
      {
      val thr = ops.Sampling.cumThresholds(Seq(0.5, 0.25, 0.25))
      tokSql +
        s""", qual AS (
           |  SELECT doc_id, ROUND($qualityExprSql,
           |        6) AS q
           |  FROM (
           |  $qualityInnerSql)),
           |feat AS (
           |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x1,
           |         CAST(len(tk.t) AS BIGINT) AS x2,
           |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
           |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
           |  JOIN qual ON d.doc_id = qual.doc_id),
           |sp AS (
           |  SELECT doc_id, x1, x2, y,
           |         CASE WHEN h < ${thr(0)} THEN 'fit'
           |              WHEN h < ${thr(1)} THEN 'cal'
           |              ELSE 'test' END AS split
           |  FROM (SELECT feat.*,
           |               ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
           |                                            'null') || '#conf'),
           |                               1, 15))::BIGINT AS h
           |        FROM feat) f),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS g00,
           |         SUM(x1) AS g01, SUM(x2) AS g02,
           |         SUM(x1 * x1) AS g11, SUM(x1 * x2) AS g12,
           |         SUM(x2 * x2) AS g22,
           |         SUM(y) AS b0, SUM(x1 * y) AS b1, SUM(x2 * y) AS b2
           |  FROM sp WHERE split = 'fit'),
           |a AS (
           |  SELECT CAST(g00 AS BIGINT) AS n_fit,
           |         CAST(g00 AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01,
           |         CAST(g02 AS DOUBLE) AS a02, CAST(g01 AS DOUBLE) AS a10,
           |         CAST(g11 AS DOUBLE) + 1.0 AS a11, CAST(g12 AS DOUBLE) AS a12,
           |         CAST(g02 AS DOUBLE) AS a20, CAST(g12 AS DOUBLE) AS a21,
           |         CAST(g22 AS DOUBLE) + 1.0 AS a22,
           |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
           |         CAST(b2 AS DOUBLE) AS c2
           |  FROM m),
           |ws AS (
           |  SELECT n_fit,
           |$cramerWeightsSql
           |  FROM a),
           |sc AS (
           |  SELECT sp.doc_id, sp.split,
           |         ABS(CAST(FLOOR(CAST(sp.y AS DOUBLE)
           |           - (ws.w0 + ws.w1 * CAST(sp.x1 AS DOUBLE)
           |              + ws.w2 * CAST(sp.x2 AS DOUBLE)) + 0.5)
           |           AS BIGINT)) AS score
           |  FROM sp CROSS JOIN ws),
           |calr AS (
           |  SELECT score,
           |         ROW_NUMBER() OVER (ORDER BY score, h2, doc_id) AS rn,
           |         COUNT(*) OVER () AS c
           |  FROM (SELECT doc_id, score,
           |               ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
           |                                            'null') || '#confr'),
           |                               1, 15))::BIGINT AS h2
           |        FROM sc WHERE split = 'cal') t),
           |qv AS (
           |  SELECT score AS q, CAST(c AS BIGINT) AS n_cal FROM calr
           |  WHERE rn = LEAST(c, ((c + 1) * 9 + 9) // 10)),
           |tst AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           |         CAST(SUM(CASE WHEN sc.score <= qv.q THEN 1 ELSE 0 END)
           |              AS BIGINT) AS n_covered
           |  FROM sc CROSS JOIN qv WHERE sc.split = 'test')
           |SELECT ws.n_fit, qv.n_cal, tst.n_test, qv.q, tst.n_covered
           |FROM ws CROSS JOIN qv CROSS JOIN tst""".stripMargin
    }),

    // Mondrian (per-source) conformal: the marginal guarantee can hide
    // 99%-on-web / 60%-on-tail coverage — per-stratum quantiles from the
    // stratified prefix scan restore the guarantee PER SOURCE
    QuerySpec("q_conformal_mondrian", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: train + per-stratum rank + coverage passes
      val feats = qualityFeatures(docs, "doc_id", "source")
        .localCheckpoint()
      ops.Fit.conformalMondrianD2(feats, "doc_id", "source",
          "x1", "x2", "y")
        .orderBy("source")
    }, oracle =
      // the conformal oracle stratified by source: per-source rank rule,
      // quantile, and coverage count
      {
      val thr = ops.Sampling.cumThresholds(Seq(0.5, 0.25, 0.25))
      tokSql +
        s""", qual AS (
           |  SELECT doc_id, ROUND($qualityExprSql,
           |        6) AS q
           |  FROM (
           |  $qualityInnerSql)),
           |feat AS (
           |  SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS x1,
           |         CAST(len(tk.t) AS BIGINT) AS x2,
           |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
           |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
           |  JOIN qual ON d.doc_id = qual.doc_id),
           |sp AS (
           |  SELECT doc_id, source, x1, x2, y,
           |         CASE WHEN h < ${thr(0)} THEN 'fit'
           |              WHEN h < ${thr(1)} THEN 'cal'
           |              ELSE 'test' END AS split
           |  FROM (SELECT feat.*,
           |               ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
           |                                            'null') || '#conf'),
           |                               1, 15))::BIGINT AS h
           |        FROM feat) f),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS g00,
           |         SUM(x1) AS g01, SUM(x2) AS g02,
           |         SUM(x1 * x1) AS g11, SUM(x1 * x2) AS g12,
           |         SUM(x2 * x2) AS g22,
           |         SUM(y) AS b0, SUM(x1 * y) AS b1, SUM(x2 * y) AS b2
           |  FROM sp WHERE split = 'fit'),
           |a AS (
           |  SELECT CAST(g00 AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01,
           |         CAST(g02 AS DOUBLE) AS a02, CAST(g01 AS DOUBLE) AS a10,
           |         CAST(g11 AS DOUBLE) + 1.0 AS a11, CAST(g12 AS DOUBLE) AS a12,
           |         CAST(g02 AS DOUBLE) AS a20, CAST(g12 AS DOUBLE) AS a21,
           |         CAST(g22 AS DOUBLE) + 1.0 AS a22,
           |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
           |         CAST(b2 AS DOUBLE) AS c2
           |  FROM m),
           |ws AS (
           |  SELECT
           |$cramerWeightsSql
           |  FROM a),
           |sc AS (
           |  SELECT sp.doc_id, sp.source, sp.split,
           |         ABS(CAST(FLOOR(CAST(sp.y AS DOUBLE)
           |           - (ws.w0 + ws.w1 * CAST(sp.x1 AS DOUBLE)
           |              + ws.w2 * CAST(sp.x2 AS DOUBLE)) + 0.5)
           |           AS BIGINT)) AS score
           |  FROM sp CROSS JOIN ws),
           |calr AS (
           |  SELECT source, score,
           |         ROW_NUMBER() OVER (PARTITION BY source
           |                            ORDER BY score, h2, doc_id) AS rn,
           |         COUNT(*) OVER (PARTITION BY source) AS c
           |  FROM (SELECT doc_id, source, score,
           |               ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
           |                                            'null') || '#confr'),
           |                               1, 15))::BIGINT AS h2
           |        FROM sc WHERE split = 'cal') t),
           |qv AS (
           |  SELECT source, CAST(c AS BIGINT) AS n_cal, score AS q
           |  FROM calr WHERE rn = LEAST(c, ((c + 1) * 9 + 9) // 10))
           |SELECT sc.source, qv.n_cal, qv.q,
           |       CAST(COUNT(*) AS BIGINT) AS n_test,
           |       CAST(SUM(CASE WHEN sc.score <= qv.q THEN 1 ELSE 0 END)
           |            AS BIGINT) AS n_covered
           |FROM sc JOIN qv ON sc.source = qv.source
           |WHERE sc.split = 'test'
           |GROUP BY 1, 2, 3 ORDER BY sc.source""".stripMargin
    }),

    // calibration report (reliability diagram) for the quality model:
    // equal-depth deciles by predicted score, mean predicted vs mean
    // actual per decile — rank from the two-phase prefix scan over the
    // quantized prediction, exact long sums, two terminal divisions
    QuerySpec("q_calibration", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // slim feature table materialized once: calibrationD2 consumes it
      // 3× (moment pass, count, rank scan) and each pass would otherwise
      // re-run the tokenize+quality trees over the corpus
      val feats = qualityFeatures(docs, "doc_id")
        .localCheckpoint()
      ops.Fit.calibrationD2(feats, "doc_id", "x1", "x2", "y", nBuckets = 10)
        .select(col("bucket"), col("n"), col("sp"), col("sy"),
          (round(col("mean_pred"), 6) + 0.0).as("mean_pred_r"),
          (round(col("mean_actual"), 6) + 0.0).as("mean_actual_r"))
        .orderBy("bucket")
    }, oracle =
      // identical weights (Cramer), identical quantized predictions,
      // identical (pred, hash, id) rank and decile arithmetic
      (tokSql +
      s""", qual AS (
         |  SELECT doc_id, ROUND($qualityExprSql,
         |        6) AS q
         |  FROM (
         |  $qualityInnerSql)),
         |feat AS (
         |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x1,
         |         CAST(len(tk.t) AS BIGINT) AS x2,
         |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
         |  JOIN qual ON d.doc_id = qual.doc_id),
         |m AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS g00,
         |         SUM(x1) AS g01, SUM(x2) AS g02,
         |         SUM(x1 * x1) AS g11, SUM(x1 * x2) AS g12,
         |         SUM(x2 * x2) AS g22,
         |         SUM(y) AS b0, SUM(x1 * y) AS b1, SUM(x2 * y) AS b2
         |  FROM feat),
         |a AS (
         |  SELECT CAST(g00 AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01,
         |         CAST(g02 AS DOUBLE) AS a02, CAST(g01 AS DOUBLE) AS a10,
         |         CAST(g11 AS DOUBLE) + 1.0 AS a11, CAST(g12 AS DOUBLE) AS a12,
         |         CAST(g02 AS DOUBLE) AS a20, CAST(g12 AS DOUBLE) AS a21,
         |         CAST(g22 AS DOUBLE) + 1.0 AS a22,
         |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
         |         CAST(b2 AS DOUBLE) AS c2
         |  FROM m),
         |ws AS (
         |  SELECT
         |$cramerWeightsSql
         |  FROM a),
         |pr AS (
         |  SELECT f.doc_id, f.y,
         |         CAST(FLOOR((ws.w0 + ws.w1 * CAST(f.x1 AS DOUBLE)
         |                     + ws.w2 * CAST(f.x2 AS DOUBLE)) + 0.5)
         |              AS BIGINT) AS p
         |  FROM feat f CROSS JOIN ws),
         |hh AS (
         |  SELECT doc_id, y, p,
         |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
         |                                      'null') || '#cal'),
         |                         1, 15))::BIGINT AS h
         |  FROM pr),
         |r AS (
         |  SELECT y, p, ROW_NUMBER() OVER (ORDER BY p, h, doc_id) AS rn,
         |         COUNT(*) OVER () AS c
         |  FROM hh)
         |SELECT ((rn - 1) * 10) // c AS bucket,
         |       CAST(COUNT(*) AS BIGINT) AS n,
         |       CAST(SUM(p) AS BIGINT) AS sp, CAST(SUM(y) AS BIGINT) AS sy,
         |       ROUND(CAST(SUM(p) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |         + 0.0 AS mean_pred_r,
         |       ROUND(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE), 6)
         |         + 0.0 AS mean_actual_r
         |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin)),

    // distributed binary classifier (is-English from length/token-count):
    // IRLS over the ALGEBRAIC sigmoid — rational IEEE ops only, so
    // per-row weights are bit-identical cross-engine (exp would differ in
    // ulps and poison every sum); contributions quantized once to the
    // 1e-6 grid and summed as longs. 3 iterations = 3 corpus passes; the
    // oracle unrolls all 3 with the identical spelling.
    QuerySpec("q_logistic_lang", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: IRLS makes 4 passes (3 iterations + accuracy)
      // and each would otherwise re-tokenize the corpus
      val feats = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        (col("lang") === "en").cast("long").as("y"))
        .localCheckpoint()
      val (n, w, nCorrect) = ops.Fit.logisticElliottD2(
        feats, "x1", "x2", "y", iters = 3, lambda = 1.0)
      Seq((n, w(0), w(1), w(2), nCorrect))
        .toDF("n", "w0", "w1", "w2", "n_correct")
        .select(col("n"),
          (round(col("w0"), 6) + 0.0).as("w0_r"),
          (round(col("w1"), 9) + 0.0).as("w1_r"),
          (round(col("w2"), 9) + 0.0).as("w2_r"),
          col("n_correct"))
    }, oracle =
      // the identical 3-round IRLS unroll: algebraic sigmoid, 1e-6-grid
      // long sums, Cramer per round — weights and the exact integer
      // n_correct must hash-match
      {
      val base = tokSql +
        """, rws AS MATERIALIZED (
          |  SELECT CAST(d.n_chars AS DOUBLE) AS x1,
          |         CAST(len(tk.t) AS DOUBLE) AS x2,
          |         CASE WHEN d.lang = 'en' THEN 1.0 ELSE 0.0 END AS y
          |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id),
          |w0t AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)""".stripMargin
      val rounds = (1 to 3).map { i =>
        s""",
           |r$i AS (
           |  SELECT x1, x2, y, (w0 + w1 * x1 + w2 * x2) AS eta
           |  FROM rws CROSS JOIN w${i - 1}t),
           |r2$i AS (
           |  SELECT x1, x2, y, eta,
           |         0.5 + eta / (2.0 * (1.0 + ABS(eta))) AS mu,
           |         1.0 / (2.0 * ((1.0 + ABS(eta)) * (1.0 + ABS(eta)))) AS s
           |  FROM r$i),
           |r3$i AS (
           |  SELECT x1, x2, s, (s * eta + (y - mu)) AS sz FROM r2$i),
           |m$i AS MATERIALIZED (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
           |    SUM(CAST(FLOOR(s * 1000000.0 + 0.5) AS BIGINT)) AS m00,
           |    SUM(CAST(FLOOR(s * x1 * 1000000.0 + 0.5) AS BIGINT)) AS m01,
           |    SUM(CAST(FLOOR(s * x2 * 1000000.0 + 0.5) AS BIGINT)) AS m02,
           |    SUM(CAST(FLOOR(s * x1 * x1 * 1000000.0 + 0.5) AS BIGINT)) AS m11,
           |    SUM(CAST(FLOOR(s * x1 * x2 * 1000000.0 + 0.5) AS BIGINT)) AS m12,
           |    SUM(CAST(FLOOR(s * x2 * x2 * 1000000.0 + 0.5) AS BIGINT)) AS m22,
           |    SUM(CAST(FLOOR(sz * 1000000.0 + 0.5) AS BIGINT)) AS b0,
           |    SUM(CAST(FLOOR(sz * x1 * 1000000.0 + 0.5) AS BIGINT)) AS b1,
           |    SUM(CAST(FLOOR(sz * x2 * 1000000.0 + 0.5) AS BIGINT)) AS b2
           |  FROM r3$i),
           |a$i AS (
           |  SELECT CAST(m00 AS DOUBLE) AS a00, CAST(m01 AS DOUBLE) AS a01,
           |         CAST(m02 AS DOUBLE) AS a02, CAST(m01 AS DOUBLE) AS a10,
           |         CAST(m11 AS DOUBLE) + 1000000.0 AS a11,
           |         CAST(m12 AS DOUBLE) AS a12,
           |         CAST(m02 AS DOUBLE) AS a20, CAST(m12 AS DOUBLE) AS a21,
           |         CAST(m22 AS DOUBLE) + 1000000.0 AS a22,
           |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
           |         CAST(b2 AS DOUBLE) AS c2
           |  FROM m$i),
           |w${i}t AS MATERIALIZED (
           |  SELECT
           |$cramerWeightsSql
           |  FROM a$i)""".stripMargin
      }.mkString
      base + rounds +
        """,
          |fin AS (
          |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
          |         CAST(SUM(CASE WHEN ((w0 + w1 * x1 + w2 * x2) > 0.0)
          |                            = (y > 0.5)
          |                  THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
          |  FROM rws CROSS JOIN w3t)
          |SELECT fin.n, ROUND(w3t.w0, 6) + 0.0 AS w0_r,
          |       ROUND(w3t.w1, 9) + 0.0 AS w1_r,
          |       ROUND(w3t.w2, 9) + 0.0 AS w2_r, fin.n_correct
          |FROM fin CROSS JOIN w3t""".stripMargin
    }),

    // k-fold cross-validated ridge in two corpus passes: hash folds, ONE
    // grouped moment aggregate, leave-one-fold-out by exact long
    // subtraction (total − fold), per-fold Cramer in Columns, held-out
    // MSE over integer-rounded residuals (long SSE — no float order).
    // The oracle re-derives folds, moments, subtraction, weights, and
    // SSE term-for-term; every value hash-exact.
    QuerySpec("q_cv_ridge", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: cvRidgeD2 makes two passes (fold moments +
      // held-out scoring) over the tokenize+quality trees
      val feats = qualityFeatures(docs, "doc_id")
        .localCheckpoint()
      ops.Fit.cvRidgeD2(feats, "doc_id", "x1", "x2", "y", k = 5, lambda = 1.0)
        .select(col("fold"), col("n_train"), col("n_test"),
          (round(col("w0"), 6) + 0.0).as("w0_r"),
          (round(col("w1"), 6) + 0.0).as("w1_r"),
          (round(col("w2"), 6) + 0.0).as("w2_r"),
          // the held-out error crosses the oracle as the EXACT long SSE —
          // round(mse, 6) at 1e9 magnitude is a sub-ulp grid where the
          // engines' ROUND legitimately disagree (observed 1-digit flip)
          col("sse"))
        .orderBy("fold")
    }, oracle =
      // folds, fold moments, total−fold training moments, the identical
      // Cramer expansion per fold, and the integer-residual SSE
      (tokSql +
      s""", qual AS (
         |  SELECT doc_id, ROUND($qualityExprSql,
         |        6) AS q
         |  FROM (
         |  $qualityInnerSql)),
         |feat AS (
         |  SELECT d.doc_id, CAST(d.n_chars AS BIGINT) AS x1,
         |         CAST(len(tk.t) AS BIGINT) AS x2,
         |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
         |  JOIN qual ON d.doc_id = qual.doc_id),
         |fr AS (
         |  SELECT doc_id, x1, x2, y,
         |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
         |                                      'null') || '#cv'),
         |                         1, 15))::BIGINT % 5 AS fold
         |  FROM feat),
         |fm AS (
         |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n,
         |         SUM(x1) AS s1, SUM(x2) AS s2,
         |         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
         |         SUM(x2 * x2) AS s22,
         |         SUM(y) AS c0, SUM(x1 * y) AS c1, SUM(x2 * y) AS c2
         |  FROM fr GROUP BY fold),
         |tot AS (
         |  SELECT SUM(n) AS t_n, SUM(s1) AS t_s1, SUM(s2) AS t_s2,
         |         SUM(s11) AS t_s11, SUM(s12) AS t_s12, SUM(s22) AS t_s22,
         |         SUM(c0) AS t_c0, SUM(c1) AS t_c1, SUM(c2) AS t_c2
         |  FROM fm),
         |tr AS (
         |  SELECT fold, CAST(t_n - n AS BIGINT) AS n_train,
         |         CAST(t_n - n AS DOUBLE) AS a00,
         |         CAST(t_s1 - s1 AS DOUBLE) AS a01,
         |         CAST(t_s2 - s2 AS DOUBLE) AS a02,
         |         CAST(t_s1 - s1 AS DOUBLE) AS a10,
         |         CAST(t_s11 - s11 AS DOUBLE) + 1.0 AS a11,
         |         CAST(t_s12 - s12 AS DOUBLE) AS a12,
         |         CAST(t_s2 - s2 AS DOUBLE) AS a20,
         |         CAST(t_s12 - s12 AS DOUBLE) AS a21,
         |         CAST(t_s22 - s22 AS DOUBLE) + 1.0 AS a22,
         |         CAST(t_c0 - c0 AS DOUBLE) AS c0,
         |         CAST(t_c1 - c1 AS DOUBLE) AS c1,
         |         CAST(t_c2 - c2 AS DOUBLE) AS c2
         |  FROM fm CROSS JOIN tot),
         |mw AS (
         |  SELECT fold, n_train,
         |$cramerWeightsSql
         |  FROM tr),
         |sc AS (
         |  SELECT fr.fold,
         |    CAST(FLOOR(CAST(fr.y AS DOUBLE)
         |      - (mw.w0 + mw.w1 * CAST(fr.x1 AS DOUBLE)
         |         + mw.w2 * CAST(fr.x2 AS DOUBLE)) + 0.5) AS BIGINT) AS rq
         |  FROM fr JOIN mw ON fr.fold = mw.fold),
         |ag AS (
         |  SELECT fold, CAST(COUNT(*) AS BIGINT) AS n_test,
         |         SUM(rq * rq) AS sse
         |  FROM sc GROUP BY fold)
         |SELECT mw.fold, mw.n_train, ag.n_test,
         |       ROUND(mw.w0, 6) + 0.0 AS w0_r,
         |       ROUND(mw.w1, 6) + 0.0 AS w1_r,
         |       ROUND(mw.w2, 6) + 0.0 AS w2_r,
         |       CAST(ag.sse AS BIGINT) AS sse
         |FROM mw JOIN ag ON mw.fold = ag.fold ORDER BY mw.fold""".stripMargin)),

    // train→serve composition: fit the ridge quality model on the TRAIN
    // split only (the deterministic hash split), score EVERY doc with a
    // pure map-side projection (Fit.predict), keep each source's top-5 by
    // integer-rounded predicted quality — the ranking executes through
    // Spark's WindowGroupLimit, so no source is ranked whole
    QuerySpec("q_quality_model_topk", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: consumed by the train-slice moment pass AND
      // the full scoring pass
      val feats = qualityFeatures(docs, "doc_id", "source")
        .localCheckpoint()
      val train = ops.Sampling.assignSplit(feats, "doc_id", splitFractions)
        .where(col("split") === "train")
      val (_, w) = ops.Fit.ridgeNormal(train, Seq("x1", "x2"), "y",
        lambda = 1.0)
      val scored = ops.Fit.predict(feats, Seq("x1", "x2"), w, "yhat")
        .select(col("doc_id"), col("source"),
          floor(col("yhat") + 0.5).cast("long").as("yhat_i"))
      val win = Window.partitionBy("source")
        .orderBy(col("yhat_i").desc, col("doc_id"))
      scored.withColumn("rn", row_number().over(win))
        .where(col("rn") <= 5)
        .select(col("source"), col("doc_id"), col("yhat_i"),
          col("rn").cast("long").as("rn"))
        .orderBy("source", "rn")
    }, oracle =
      // the train-split moments, the identical UNROUNDED Cramer weights,
      // the identical left-associated projection, integer-rounded scores,
      // the same (yhat DESC, doc_id) per-source rank
      {
      val thr0 = ops.Sampling.cumThresholds(splitFractions.map(_._2))(0)
      tokSql +
        s""", qual AS (
           |  SELECT doc_id, ROUND($qualityExprSql,
           |        6) AS q
           |  FROM (
           |  $qualityInnerSql)),
           |feat AS (
           |  SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS x1,
           |         CAST(len(tk.t) AS BIGINT) AS x2,
           |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y,
           |         ('0x' || substr(md5(COALESCE(CAST(d.doc_id AS VARCHAR),
           |                                      'null') || '#split'),
           |                         1, 15))::BIGINT AS h
           |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
           |  JOIN qual ON d.doc_id = qual.doc_id),
           |m AS (
           |  SELECT CAST(COUNT(*) AS BIGINT) AS g00,
           |         SUM(x1) AS g01, SUM(x2) AS g02,
           |         SUM(x1 * x1) AS g11, SUM(x1 * x2) AS g12,
           |         SUM(x2 * x2) AS g22,
           |         SUM(y) AS b0, SUM(x1 * y) AS b1, SUM(x2 * y) AS b2
           |  FROM feat WHERE h < $thr0),
           |a AS (
           |  SELECT CAST(g00 AS DOUBLE) AS a00, CAST(g01 AS DOUBLE) AS a01,
           |         CAST(g02 AS DOUBLE) AS a02, CAST(g01 AS DOUBLE) AS a10,
           |         CAST(g11 AS DOUBLE) + 1.0 AS a11, CAST(g12 AS DOUBLE) AS a12,
           |         CAST(g02 AS DOUBLE) AS a20, CAST(g12 AS DOUBLE) AS a21,
           |         CAST(g22 AS DOUBLE) + 1.0 AS a22,
           |         CAST(b0 AS DOUBLE) AS c0, CAST(b1 AS DOUBLE) AS c1,
           |         CAST(b2 AS DOUBLE) AS c2
           |  FROM m),
           |w AS (
           |  SELECT
           |$cramerWeightsSql
           |  FROM a),
           |sc AS (
           |  SELECT f.source, f.doc_id,
           |         CAST(FLOOR(w.w0 + w.w1 * CAST(f.x1 AS DOUBLE)
           |                    + w.w2 * CAST(f.x2 AS DOUBLE) + 0.5) AS BIGINT)
           |           AS yhat_i
           |  FROM feat f, w),
           |r AS (
           |  SELECT source, doc_id, yhat_i,
           |         ROW_NUMBER() OVER (PARTITION BY source
           |                            ORDER BY yhat_i DESC, doc_id) AS rn
           |  FROM sc)
           |SELECT source, doc_id, yhat_i, CAST(rn AS BIGINT) AS rn
           |FROM r WHERE rn <= 5
           |ORDER BY source, rn""".stripMargin
    }),

    // per-group model training: the same ridge, per SOURCE, with the 3×3
    // Cramer solve expressed as Column arithmetic — one grouped hash
    // aggregate then a projection, fully distributed, no driver solve
    QuerySpec("q_ridge_by_source", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = qualityFeatures(docs, "source")
      ops.Fit.ridgePerGroupD2(feats, "source", "x1", "x2", "y", lambda = 1.0)
        .select(col("source"), col("n"),
          // round-6, NOT 9: the intercept is ~1e6 micro-units, where the
          // 9th decimal is only ~8 double-ulps — the two engines' ROUND
          // can legitimately disagree there (observed once in 20 groups);
          // 1e-6 leaves ~1e4 ulps of margin at this magnitude
          (round(col("w0"), 6) + lit(0.0)).as("w0_r"),
          (round(col("w1"), 6) + lit(0.0)).as("w1_r"),
          (round(col("w2"), 6) + lit(0.0)).as("w2_r"))
        .orderBy("source")
    }, oracle =
      // grouped moments + the identical Cramer expansion, per source
      (tokSql +
      s""", qual AS (
         |  SELECT doc_id, ROUND($qualityExprSql,
         |        6) AS q
         |  FROM (
         |  $qualityInnerSql)),
         |feat AS (
         |  SELECT d.source, CAST(d.n_chars AS BIGINT) AS x1,
         |         CAST(len(tk.t) AS BIGINT) AS x2,
         |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM documents d JOIN toks tk ON d.doc_id = tk.doc_id
         |  JOIN qual ON d.doc_id = qual.doc_id),
         |m AS (
         |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |         SUM(x1) AS s1, SUM(x2) AS s2,
         |         SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
         |         SUM(x2 * x2) AS s22,
         |         SUM(y) AS cc0, SUM(x1 * y) AS cc1, SUM(x2 * y) AS cc2
         |  FROM feat GROUP BY source),
         |a AS (
         |  SELECT source, n,
         |         CAST(n AS DOUBLE) AS a00, CAST(s1 AS DOUBLE) AS a01,
         |         CAST(s2 AS DOUBLE) AS a02, CAST(s1 AS DOUBLE) AS a10,
         |         CAST(s11 AS DOUBLE) + 1.0 AS a11, CAST(s12 AS DOUBLE) AS a12,
         |         CAST(s2 AS DOUBLE) AS a20, CAST(s12 AS DOUBLE) AS a21,
         |         CAST(s22 AS DOUBLE) + 1.0 AS a22,
         |         CAST(cc0 AS DOUBLE) AS c0, CAST(cc1 AS DOUBLE) AS c1,
         |         CAST(cc2 AS DOUBLE) AS c2
         |  FROM m)
         |SELECT source, n,
         |$cramerRoundedSql
         |FROM a ORDER BY source""".stripMargin))
  )
}
