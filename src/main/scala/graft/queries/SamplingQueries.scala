package graft
package queries

import org.apache.spark.sql.functions._

import Shared._

/** Dataset assembly: sampling, mixing, packing, sharding, the
  * end-to-end curation pipelines, sketches and distribution statistics. */
object SamplingQueries {

  val specs: Seq[QuerySpec] = Seq(
    // shard manifest (round 12): the dataloader-facing summary a
    // training job reads before it opens a single shard — per shard the
    // doc count, token mass, byte mass, and source breadth, one hash
    // aggregation over the existing epoch-shuffle assignment. Oracle
    // replays the hash-order rank, the shard arithmetic, and the
    // aggregates.
    QuerySpec("q_shard_manifest", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("source"), col("n_chars"),
          size(pipeline.TextOps.tokens(col("text"))).cast("long")
            .as("n_tokens"))
      ops.Sharding.assignShards(docs, "doc_id", shardSize = 32L,
          salt = "epoch0")
        .groupBy("shard").agg(
          count(lit(1)).as("n_docs"),
          sum("n_tokens").as("tokens"),
          sum("n_chars").as("bytes"),
          countDistinct("source").as("n_sources"))
        .orderBy("shard")
    }, oracle =
      // the epoch-shuffle rank replayed (the q_shard_assignment spelling)
      // + the per-shard aggregates
      """WITH r AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |         ROW_NUMBER() OVER (
        |           ORDER BY ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#epoch0'), 1, 15))::BIGINT,
        |                    doc_id) - 1 AS rnk
        |  FROM documents)
        |SELECT CAST(rnk // 32 AS BIGINT) AS shard,
        |       CAST(COUNT(*) AS BIGINT) AS n_docs,
        |       CAST(SUM(n_tokens) AS BIGINT) AS tokens,
        |       CAST(SUM(n_chars) AS BIGINT) AS bytes,
        |       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin),

    // HyperLogLog++ distinct sketch, checked against its error contract
    // (same boolean-contract pattern as the ANN recall queries)
    QuerySpec("q_sketch_distinct", (s, dir) => {
      ops.Sketches.distinctWithinRsd(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey", rsd = 0.05)
    }, oracle =
      // sketch contracts: the oracle checks the exact value + the bound flag
      // (same pattern as the kNN/ANN recall queries)
      """SELECT COUNT(DISTINCT l_orderkey) AS n_exact, CAST(1 AS BIGINT) AS ok
        |FROM lineitem""".stripMargin),

    // count-min sketch over the token stream, checked against the exact
    // heavy-hitter counts (never underestimates; over by at most eps*n)
    QuerySpec("q_sketch_topk_tokens", (s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(pipeline.TextOps.tokens(col("text"))).as("tok"))
      ops.Sketches.heavyHittersWithinError(toks, "tok", topN = 20,
        eps = 0.001, confidence = 0.99, seed = 42)
    }, oracle = (tokSql +
      """SELECT CAST(SUM(len(t)) AS BIGINT) AS n, CAST(1 AS BIGINT) AS ok
        |FROM toks""".stripMargin)),

    // quantile sketch (approx_percentile), checked by true rank error
    QuerySpec("q_sketch_quantiles", (s, dir) => {
      ops.Sketches.quantilesWithinRankError(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice",
        qs = Seq(0.5, 0.9, 0.99), accuracy = 10000, rankTol = 0.005)
    }, oracle =
      // n = non-null population (what percentile_approx actually ranks over);
      // the fixture column is non-null so COUNT(col) == COUNT(*) here
      """SELECT COUNT(l_extendedprice) AS n, CAST(1 AS BIGINT) AS ok
        |FROM lineitem""".stripMargin),

    // deterministic hash sampling — reproducible corpus slicing: membership
    // is a pure map-side predicate on md5-60bit(key#salt), so the oracle
    // recomputes the *exact* selected set (df.sample() could never be
    // cross-checked this way)
    QuerySpec("q_sample_uniform", (s, dir) => {
      ops.Sampling.hashSample(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", 0.1, "train")
        .select("doc_id").orderBy("doc_id")
    }, oracle =
      s"""SELECT doc_id FROM documents
         |WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#train'), 1, 15))::BIGINT
         |      < ${math.round(0.1 * (1L << 60).toDouble)}
         |ORDER BY doc_id""".stripMargin),

    // stratified variant: per-language mixing weights (the corpus-mixing
    // primitive of a training-data pipeline)
    QuerySpec("q_sample_stratified", (s, dir) => {
      ops.Sampling.stratifiedHashSample(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), "mix")
        .select("doc_id", "lang").orderBy("doc_id")
    }, oracle = {
      def thr(r: Double) = math.round(r * (1L << 60).toDouble)
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#mix'), 1, 15))::BIGINT
         |      < CASE lang WHEN 'en' THEN ${thr(0.5)} WHEN 'de' THEN ${thr(0.25)}
         |                  WHEN 'zh' THEN ${thr(0.1)} ELSE -1 END
         |ORDER BY doc_id""".stripMargin
    }),

    // token-budget mixture: the mix specified in TOKENS per source, not
    // rates — the deterministic hash-ordered prefix per stratum whose
    // running token total fits the budget
    QuerySpec("q_sample_token_budget", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val projected = docs.select(col("doc_id"), col("source"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      ops.Sampling.tokenBudgetSample(projected, "doc_id", "source",
        col("n_tokens"),
        Map("src0" -> 800L, "src1" -> 500L, "src2" -> 10000L), salt = "mix")
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, source,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#mix'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, source, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT doc_id, source, n_tokens, CAST(cum AS BIGINT) AS cum_tokens
        |FROM c
        |WHERE cum <= CASE source WHEN 'src0' THEN 800 WHEN 'src1' THEN 500
        |                         WHEN 'src2' THEN 10000 ELSE -1 END
        |ORDER BY doc_id""".stripMargin),

    // waterfill (capped-proportional) global token budget: 4/5 of the
    // corpus' tokens allocated across languages — small languages taken
    // in full, the leftover re-floods the rest, remainder +1 to the
    // lexicographically smallest survivors; per-language selection is
    // the same hash-ordered token prefix as q_sample_token_budget
    QuerySpec("q_waterfill_budget", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: three passes consume it (global total, the
      // waterline inventory aggregate, the prefix scan) and each would
      // otherwise re-tokenize the corpus
      val projected = docs.select(col("doc_id"), col("lang"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .localCheckpoint()
      val total = projected.agg(sum("n_tokens")).first.getLong(0)
      val budget = (BigInt(4) * BigInt(total) / BigInt(5)).toLong
      ops.Sampling.waterfillTokenBudget(projected, "doc_id", "lang",
          col("n_tokens"), budget, salt = "wfill")
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"), col("target_tokens"))
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, lang,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#wfill'), 1, 15))::BIGINT AS h
        |  FROM documents WHERE lang IS NOT NULL),
        |b AS (SELECT 4 * SUM(n_tokens) // 5 AS budget FROM d),
        |inv AS (SELECT lang, SUM(n_tokens)::BIGINT AS n FROM d GROUP BY lang),
        |ord AS (
        |  SELECT lang, n,
        |         ROW_NUMBER() OVER (ORDER BY n, lang) AS i,
        |         COUNT(*) OVER () AS s,
        |         SUM(n) OVER (ORDER BY n, lang ROWS UNBOUNDED PRECEDING) AS cumn
        |  FROM inv),
        |fl AS (
        |  SELECT lang, n, i, s, cumn,
        |         BOOL_AND(n * (s - i + 1) <= b.budget - (cumn - n))
        |           OVER (ORDER BY i ROWS UNBOUNDED PRECEDING) AS taken
        |  FROM ord CROSS JOIN b),
        |agg AS (
        |  SELECT COALESCE(SUM(n) FILTER (WHERE taken), 0) AS taken_tok,
        |         COUNT(*) FILTER (WHERE taken) AS k, MAX(s) AS s
        |  FROM fl),
        |wl AS (
        |  SELECT CASE WHEN a.s - a.k > 0
        |              THEN (b.budget - a.taken_tok) // (a.s - a.k)
        |              ELSE 0 END AS base,
        |         CASE WHEN a.s - a.k > 0
        |              THEN (b.budget - a.taken_tok) % (a.s - a.k)
        |              ELSE 0 END AS extra
        |  FROM agg a CROSS JOIN b),
        |notk AS (SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) AS rl
        |         FROM fl WHERE NOT taken),
        |tgt AS (
        |  SELECT f.lang,
        |         CASE WHEN f.taken THEN f.n
        |              ELSE w.base + CASE WHEN nk.rl <= w.extra THEN 1 ELSE 0 END
        |         END AS target
        |  FROM fl f CROSS JOIN wl w LEFT JOIN notk nk ON nk.lang = f.lang),
        |c AS (
        |  SELECT doc_id, lang, n_tokens,
        |         SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |                             ROWS UNBOUNDED PRECEDING) AS cum
        |  FROM d)
        |SELECT c.doc_id, c.lang, c.n_tokens, CAST(c.cum AS BIGINT) AS cum_tokens,
        |       CAST(t.target AS BIGINT) AS target_tokens
        |FROM c JOIN tgt t ON t.lang = c.lang
        |WHERE c.cum <= t.target
        |ORDER BY c.doc_id""".stripMargin),

    // EXACT per-source quantiles (nearest-rank, integer arithmetic) — the
    // exact counterpart of q_sketch_quantiles, through the two-phase
    // prefix scan + a broadcast target join instead of a one-task sort
    QuerySpec("q_exact_quantiles", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      ops.Sketches.exactQuantilesPerStratum(
        docs.select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars",
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L)),
          "p99" -> ((99L, 100L))),
        salt = "eq0")
        .orderBy("source", "quantile")
    }, oracle =
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#eq0'), 1, 15))::BIGINT AS h
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT source, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |                                ORDER BY n_chars, h, doc_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY source) AS c
        |      FROM h),
        |q(quantile, num, den) AS (
        |  VALUES ('p50', 50, 100), ('p90', 90, 100), ('p99', 99, 100))
        |SELECT source, quantile, n_chars
        |FROM r JOIN q ON rn = GREATEST((c * num + den - 1) // den, 1)
        |ORDER BY source, quantile""".stripMargin),

    // token-WEIGHTED per-source quantiles of document length: the value
    // where the cumulative TOKEN mass (not row count) crosses ceil(q·W) —
    // the datacard stat a handful of huge docs moves while a row median
    // sits still; targets in exact integer arithmetic, crossing test all-long
    QuerySpec("q_weighted_quantiles", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: the mass-totals collect and the prefix scan
      // both consume it — each would otherwise re-tokenize the corpus
      val projected = docs.select(col("doc_id"), col("source"), col("n_chars"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
        .localCheckpoint()
      ops.Sketches.weightedQuantilesPerStratum(projected,
        "doc_id", "source", "n_chars", col("n_tokens"),
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L))),
        salt = "wq0")
        .orderBy("source", "quantile")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id, source, n_chars,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#wq0'), 1, 15))::BIGINT AS h
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (SELECT source, n_chars, n_tokens,
        |             SUM(n_tokens) OVER (PARTITION BY source
        |                                 ORDER BY n_chars, h, doc_id
        |                                 ROWS UNBOUNDED PRECEDING) AS cw,
        |             SUM(n_tokens) OVER (PARTITION BY source) AS W
        |      FROM d),
        |q(quantile, num, den) AS (VALUES ('p50', 50, 100), ('p90', 90, 100))
        |SELECT source, quantile, n_chars
        |FROM r JOIN q ON cw >= GREATEST((W * num + den - 1) // den, 1)
        |             AND cw - n_tokens < GREATEST((W * num + den - 1) // den, 1)
        |ORDER BY source, quantile""".stripMargin),

    // temperature mixture sampling (α = 0.5): per-source doc targets
    // ∝ √count — engine-exact by construction (floor(sqrt) integer
    // weights, integer target division), so the oracle re-derives the
    // targets from COUNT(*) and must agree bit-for-bit
    QuerySpec("q_sample_temperature", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      ops.Sampling.temperatureSample(docs.select("doc_id", "source"),
        "doc_id", "source", totalDocs = 400L, salt = "temp0")
        .select("doc_id", "source", "stratum_rank").orderBy("doc_id")
    }, oracle =
      // targets re-derived in SQL: FLOOR(SQRT(count)) is the integer sqrt
      // for any realistic count (IEEE sqrt is correctly rounded), and `//`
      // is integer floor division — no float crosses the engine boundary
      """WITH h AS (
        |  SELECT doc_id, source,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#temp0'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |w AS (SELECT source,
        |             CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT) AS w
        |      FROM documents GROUP BY source),
        |t AS (SELECT source,
        |             CAST(CAST(400 AS HUGEINT) * w // (SELECT SUM(w) FROM w)
        |                  AS BIGINT) AS target
        |      FROM w),
        |r AS (SELECT doc_id, source,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |                                ORDER BY h, doc_id) AS rn
        |      FROM h)
        |SELECT r.doc_id, r.source, CAST(r.rn AS BIGINT) AS stratum_rank
        |FROM r JOIN t USING (source)
        |WHERE r.rn <= t.target ORDER BY r.doc_id""".stripMargin),

    // per-source top-fraction quality gate ("keep the best 20% of each
    // source"): rational fraction (1/5), integer ceil cutoffs, hash
    // tie-break — the scale-safe replacement for a PERCENT_RANK window.
    // n_chars stands in for the quality score so the ordering is
    // integer-exact across engines (ties are broken by the hash order,
    // which the oracle replays)
    QuerySpec("q_quality_topfrac", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      ops.Sampling.topFractionPerStratum(
        docs.select("doc_id", "source", "n_chars"),
        "doc_id", "source", col("n_chars"), keepNum = 1L, keepDen = 5L,
        salt = "qf0")
        .select("doc_id", "source", "n_chars", "stratum_rank")
        .orderBy("doc_id")
    }, oracle =
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#qf0'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |                                ORDER BY n_chars DESC, h, doc_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY source) AS c
        |      FROM h)
        |SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS stratum_rank
        |FROM r WHERE rn <= (c * 1 + 5 - 1) // 5
        |ORDER BY doc_id""".stripMargin),

    // DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    // importance weights toward the English subset, Gumbel-top-k resample
    // of the best quarter — weights and scores are integer micro-units
    // (long sums, no float-order anywhere), selection through the shared
    // two-phase prefix scan (no single-task window)
    QuerySpec("q_dsir_select", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.Dsir.resample(docs, col("lang") === "en", buckets = 1024,
          keepNum = 1L, keepDen = 4L, salt = "dsir0")
        .orderBy("doc_id")
    }, oracle =
      // DSIR: identical hashed-bucket distributions, the identical quantized
      // log-ratio per bucket, long-sum doc weights, the identical seeded
      // Gumbel perturbation, and the same (score DESC, hash, doc_id) rank
      (tposSql +
      """, gr AS (
        |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM tpos
        |  UNION ALL
        |  SELECT a.doc_id,
        |         ('0x' || substr(md5(a.w || ' ' || b.w), 1, 15))::BIGINT % 1024 AS bucket
        |  FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |g2 AS (
        |  SELECT gr.doc_id, gr.bucket, (d.lang = 'en') AS tgt
        |  FROM gr JOIN documents d ON gr.doc_id = d.doc_id),
        |dist AS (
        |  SELECT bucket,
        |         SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS ct,
        |         COUNT(*) AS cr
        |  FROM g2 GROUP BY bucket),
        |tot AS (SELECT SUM(ct) AS tt, SUM(cr) AS tr FROM dist),
        |lr AS (
        |  SELECT bucket,
        |         CAST(FLOOR((ln(CAST(ct + 1 AS DOUBLE) / CAST(tt + 1024 AS DOUBLE))
        |                   - ln(CAST(cr + 1 AS DOUBLE) / CAST(tr + 1024 AS DOUBLE)))
        |                    * 1000000.0 + 0.5) AS BIGINT) AS lr_u
        |  FROM dist, tot),
        |pd AS (
        |  SELECT gr.doc_id, COUNT(*) AS n_feats, SUM(lr.lr_u) AS logw_u
        |  FROM gr JOIN lr ON gr.bucket = lr.bucket GROUP BY gr.doc_id),
        |wt AS (
        |  SELECT d.doc_id,
        |         COALESCE(pd.n_feats, 0) AS n_feats,
        |         COALESCE(pd.logw_u, 0) AS logw_u
        |  FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id),
        |sc AS (
        |  SELECT doc_id, n_feats, logw_u,
        |         logw_u + CAST(FLOOR(-ln(-ln(
        |             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '#dsir0!g'), 1, 15))::BIGINT AS DOUBLE) + 0.5)
        |             / 1152921504606846976.0)) * 1000000.0 + 0.5) AS BIGINT) AS score_u
        |  FROM wt),
        |r AS (
        |  SELECT doc_id, n_feats, logw_u, score_u,
        |         ROW_NUMBER() OVER (ORDER BY score_u DESC,
        |           ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#dsir0'), 1, 15))::BIGINT,
        |           doc_id) AS rn,
        |         COUNT(*) OVER () AS c
        |  FROM sc)
        |SELECT doc_id, CAST(n_feats AS BIGINT) AS n_feats,
        |       CAST(logw_u AS BIGINT) AS logw_u,
        |       CAST(score_u AS BIGINT) AS score_u,
        |       CAST(rn AS BIGINT) AS sample_rank
        |FROM r WHERE rn <= (c * 1 + 4 - 1) // 4
        |ORDER BY doc_id""".stripMargin)),

    // DoReMi-lite mixture solving (Xie et al. 2023): per-domain hardness
    // (a bytes-per-token compression proxy, one hash agg over the
    // corpus) drives 5 rounds of integer multiplicative weights — the
    // step that decides HOW MUCH of each source enters the training
    // blend after curation decided WHAT may enter
    QuerySpec("q_mixture_weights", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val t = pipeline.TextOps.tokens(col("text"))
      val per = docs.select(col("source").as("domain"),
        length(col("text")).cast("long").as("nc"),
        size(t).cast("long").as("nt"))
      val losses = per.groupBy("domain").agg(
        call_function("div", sum(col("nc")) * lit(1000000L),
          greatest(sum(col("nt")), lit(1L))).as("loss_u"))
      pipeline.Mixture.mixtureWeights(losses).orderBy("domain")
    }, oracle =
      // the 5 multiplicative-weights rounds unrolled as CTE pairs (the
      // pageRank oracle discipline): weighted mean by integer div, the
      // clamped linearized multiplier, the L1 re-normalize — every SUM
      // cast back to BIGINT so `//` matches Spark's `div` exactly
      {
      val head =
        """WITH l AS MATERIALIZED (
          |  SELECT source AS domain,
          |         (CAST(SUM(len(text)) AS BIGINT) * 1000000) //
          |         GREATEST(CAST(SUM(len(list_filter(
          |           regexp_split_to_array(text, '\s+'),
          |           x -> len(x) > 0))) AS BIGINT), 1) AS loss_u
          |  FROM documents GROUP BY source),
          |w0 AS MATERIALIZED (
          |  SELECT domain, loss_u,
          |         1000000 // (SELECT COUNT(*) FROM l) AS w
          |  FROM l)""".stripMargin
      val rounds = (1 to 5).map { r =>
        s"""s$r AS MATERIALIZED (
           |  SELECT CAST(SUM(w) AS BIGINT) AS sw,
           |         CAST(SUM(w * loss_u) AS BIGINT) AS swl FROM w${r - 1}),
           |u$r AS MATERIALIZED (
           |  SELECT domain, loss_u,
           |         (w * GREATEST(1, LEAST(2000000,
           |            1000000 + ((loss_u - (SELECT swl // GREATEST(sw, 1) FROM s$r)) * 1) // 4)))
           |           // 1000000 AS u
           |  FROM w${r - 1}),
           |w$r AS MATERIALIZED (
           |  SELECT domain, loss_u,
           |         (u * 1000000) //
           |         GREATEST((SELECT CAST(SUM(u) AS BIGINT) FROM u$r), 1) AS w
           |  FROM u$r)""".stripMargin
      }.mkString(",\n")
      head + ",\n" + rounds +
        "\nSELECT domain, loss_u, CAST(w AS BIGINT) AS weight_u " +
        "FROM w5 ORDER BY domain"
    }),

    // fixed-size training chunks with stride overlap (64-token windows
    // every 48): pure generator expressions, fan-out ∝ tokens/stride —
    // the upstream neighbor of sequence packing
    QuerySpec("q_doc_chunks", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.chunkDocuments(docs, maxTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_index")
    }, oracle = (tokSql +
      """, st AS (
        |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 48)) AS s
        |  FROM toks WHERE len(t) > 0)
        |SELECT doc_id,
        |       CAST(s // 48 AS BIGINT) AS chunk_index,
        |       array_to_string(list_slice(t, s + 1, s + 64), ' ') AS chunk_text,
        |       CAST(LEAST(64, len(t) - s) AS BIGINT) AS chunk_tokens
        |FROM st ORDER BY doc_id, chunk_index""".stripMargin)),

    // deterministic epoch shuffle + fixed-size shard assignment (terasort
    // global rank — no single-partition window anywhere; OpsSpec pins
    // partition-count invariance)
    QuerySpec("q_shard_assignment", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      ops.Sharding.assignShards(docs, "doc_id", shardSize = 32L,
        salt = "epoch0")
        .orderBy("doc_id")
    }, oracle =
      """WITH r AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (
        |           ORDER BY ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#epoch0'), 1, 15))::BIGINT,
        |                    doc_id) - 1 AS rnk
        |  FROM documents)
        |SELECT doc_id, CAST(rnk // 32 AS BIGINT) AS shard,
        |       CAST(rnk % 32 AS BIGINT) AS pos
        |FROM r ORDER BY doc_id""".stripMargin),

    // concat-and-chop sequence packing: each doc's slice of the global
    // token stream (two-phase distributed prefix sum, not a one-task
    // window), checked against DuckDB's running-total window
    QuerySpec("q_pack_sequences", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val projected = docs.select(col("doc_id"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      ops.Packing.packSequences(projected, "doc_id", "n_tokens",
        seqLen = 256L, salt = "pack")
        .orderBy("doc_id")
    }, oracle =
      """WITH d AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS n_tokens,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#pack'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |         CAST(COALESCE(SUM(n_tokens) OVER (
        |           ORDER BY h, doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |           AS BIGINT) AS strt
        |  FROM d WHERE n_tokens > 0)
        |SELECT doc_id, n_tokens, strt AS start_offset,
        |       CAST(strt // 256 AS BIGINT) AS seq_first,
        |       CAST((strt + n_tokens - 1) // 256 AS BIGINT) AS seq_last,
        |       CAST(strt % 256 AS BIGINT) AS pos_in_seq
        |FROM c ORDER BY doc_id""".stripMargin),

    // boundary-preserving packing: next-fit bins per 512-doc shard that
    // NEVER split a document across training rows (the no-cross-
    // contamination alternative to q_pack_sequences' concat-and-chop);
    // the sequential fold is bounded per shard, and the oracle replays
    // it as a recursive CTE
    QuerySpec("q_pack_nosplit", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val projected = docs.select(col("doc_id"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      ops.Packing.packBinsNoSplit(projected, "doc_id", "n_tokens",
        capacity = 256L, shardSize = 512L)
        .orderBy("id")
    }, oracle =
      // identical hash order, shard/pos arithmetic, and the next-fit
      // recurrence replayed recursively
      """WITH RECURSIVE d AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'),
        |                              x -> len(x) > 0)) AS BIGINT) AS t,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#packns'), 1, 15))::BIGINT AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, t,
        |         (ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1) // 512 AS shard,
        |         (ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1) % 512 AS pos
        |  FROM d),
        |r(shard, pos, doc_id, t, bin, run) AS (
        |  SELECT shard, pos, doc_id, t, CAST(0 AS BIGINT), t
        |  FROM s WHERE pos = 0
        |  UNION ALL
        |  SELECT s.shard, s.pos, s.doc_id, s.t,
        |         CASE WHEN r.run + s.t > 256 THEN r.bin + 1 ELSE r.bin END,
        |         CASE WHEN r.run + s.t > 256 THEN s.t ELSE r.run + s.t END
        |  FROM r JOIN s ON s.shard = r.shard AND s.pos = r.pos + 1)
        |SELECT doc_id AS id, t AS tokens, CAST(shard AS BIGINT) AS shard,
        |       CAST(pos AS BIGINT) AS pos, CAST(bin AS BIGINT) AS bin,
        |       CAST(run - t AS BIGINT) AS bin_start
        |FROM r ORDER BY id""".stripMargin),

    // the operators composed into the actual use-case: quality filter →
    // language filter → exact dedup (keep canonical) → deterministic
    // train-slice sample — one curation pass over the corpus, exactly
    // recomputable by the oracle
    QuerySpec("q_curation_e2e", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val canon = pipeline.Dedup.exactCanonical(docs)
      // quality + language gates inline (pure column expressions) — the
      // only genuine shuffle in the gate chain is the dedup groupBy
      val kept = docs.select(col("doc_id"),
          pipeline.TextOps.qualityExpr.as("quality_r"),
          pipeline.TextOps.predLangExpr.as("pred_lang"))
        .join(canon, "doc_id")
        .where(col("quality_r") >= 0.7 && col("pred_lang") === "en" &&
          col("canon_id") === col("doc_id"))
      ops.Sampling.hashSample(kept, "doc_id", 0.5, "train")
        .select("doc_id").orderBy("doc_id")
    }, oracle = (tokSql +
      s""", q AS (
         |  SELECT doc_id,
         |    ROUND($qualityExprSql,
         |          6) AS quality
         |  FROM (
         |    $qualityInnerSql)),
         |l AS (
         |  SELECT doc_id,
         |    $langCaseSql AS pred_lang
         |  FROM (
         |    $langScoresSql)),
         |c AS (
         |  $canonSql)
         |SELECT d.doc_id FROM documents d
         |JOIN q USING (doc_id) JOIN l USING (doc_id) JOIN c USING (doc_id)
         |WHERE q.quality >= 0.7 AND l.pred_lang = 'en' AND c.canon_id = d.doc_id
         |  AND ('0x' || substr(md5(COALESCE(CAST(d.doc_id AS VARCHAR), 'null') || '#train'), 1, 15))::BIGINT
         |      < ${math.round(0.5 * (1L << 60).toDouble)}
         |ORDER BY doc_id""".stripMargin)),

    // the full training-output path in ONE declarative plan: quality gate
    // → exact dedup (keep canonical) → per-source token budget → sequence
    // packing. Every stage deterministic; the oracle replays the whole
    // chain, so the hash pins the composition, not just the parts. The
    // emitted row is the complete audit trail (budget position + stream
    // slice per surviving doc).
    QuerySpec("q_pipeline_to_shards", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val canon = pipeline.Dedup.exactCanonical(docs)
      // quality gate inline in the same projection as the token count — the
      // score is a pure column expression, so joining a separate
      // qualityScore pass would be a needless self-join shuffle
      val kept = docs.select(col("doc_id"), col("source"),
          size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          pipeline.TextOps.qualityExpr.as("quality_r"))
        .join(canon, "doc_id")
        .where(col("quality_r") >= 0.7 && col("canon_id") === col("doc_id"))
        .select("doc_id", "source", "n_tokens")
      val budgets = (0 until 5).map(i => s"src$i" -> 1000L).toMap
      val budgeted = ops.Sampling.tokenBudgetSample(kept, "doc_id", "source",
        col("n_tokens"), budgets, salt = "mix2")
      ops.Packing.packSequences(budgeted, "doc_id", "n_tokens",
        seqLen = 128L, salt = "p1")
        .orderBy("doc_id")
    }, oracle = (tokSql +
      s""", q AS (
         |  SELECT doc_id,
         |    ROUND($qualityExprSql,
         |          6) AS quality
         |  FROM (
         |    $qualityInnerSql)),
         |c AS (
         |  $canonSql),
         |k AS (
         |  SELECT t.doc_id, d.source, CAST(len(t.t) AS BIGINT) AS n_tokens
         |  FROM toks t JOIN documents d USING (doc_id)
         |  JOIN q USING (doc_id) JOIN c USING (doc_id)
         |  WHERE q.quality >= 0.7 AND c.canon_id = t.doc_id),
         |b AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY
         |      ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#mix2'), 1, 15))::BIGINT,
         |      doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM k),
         |f AS (
         |  SELECT * FROM b
         |  WHERE cum_tokens <= CASE source
         |    WHEN 'src0' THEN 1000 WHEN 'src1' THEN 1000 WHEN 'src2' THEN 1000
         |    WHEN 'src3' THEN 1000 WHEN 'src4' THEN 1000 ELSE -1 END),
         |p AS (
         |  SELECT doc_id, source, n_tokens, cum_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY
         |      ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#p1'), 1, 15))::BIGINT,
         |      doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS strt
         |  FROM f WHERE n_tokens > 0)
         |SELECT doc_id, source, n_tokens, cum_tokens, strt AS start_offset,
         |       CAST(strt // 128 AS BIGINT) AS seq_first,
         |       CAST((strt + n_tokens - 1) // 128 AS BIGINT) AS seq_last,
         |       CAST(strt % 128 AS BIGINT) AS pos_in_seq
         |FROM p ORDER BY doc_id""".stripMargin)),

    // the same composed training-output path in the SKEWED regime the
    // two-phase budget scan exists for: sources collapsed so one stratum
    // ("web", ~80% of the corpus) dominates the mix — the distribution
    // where the naive per-stratum window would funnel most of the corpus
    // through one task. Same chain, different stratum shape; the oracle
    // replays it with the dominant-source mapping inline.
    QuerySpec("q_pipeline_to_shards_skewed", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val canon = pipeline.Dedup.exactCanonical(docs)
      val kept = docs.select(col("doc_id"),
          when(col("source") =!= "src4", lit("web")).otherwise(col("source"))
            .as("source"),
          size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
          pipeline.TextOps.qualityExpr.as("quality_r"))
        .join(canon, "doc_id")
        .where(col("quality_r") >= 0.7 && col("canon_id") === col("doc_id"))
        .select("doc_id", "source", "n_tokens")
      val budgeted = ops.Sampling.tokenBudgetSample(kept, "doc_id", "source",
        col("n_tokens"), Map("web" -> 3200L, "src4" -> 800L), salt = "mix3")
      ops.Packing.packSequences(budgeted, "doc_id", "n_tokens",
        seqLen = 128L, salt = "p2")
        .orderBy("doc_id")
    }, oracle = (tokSql +
      s""", q AS (
         |  SELECT doc_id,
         |    ROUND($qualityExprSql,
         |          6) AS quality
         |  FROM (
         |    $qualityInnerSql)),
         |c AS (
         |  $canonSql),
         |k AS (
         |  SELECT t.doc_id,
         |         CASE WHEN d.source <> 'src4' THEN 'web' ELSE d.source END AS source,
         |         CAST(len(t.t) AS BIGINT) AS n_tokens
         |  FROM toks t JOIN documents d USING (doc_id)
         |  JOIN q USING (doc_id) JOIN c USING (doc_id)
         |  WHERE q.quality >= 0.7 AND c.canon_id = t.doc_id),
         |b AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(SUM(n_tokens) OVER (PARTITION BY source ORDER BY
         |      ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#mix3'), 1, 15))::BIGINT,
         |      doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
         |  FROM k),
         |f AS (
         |  SELECT * FROM b
         |  WHERE cum_tokens <= CASE source
         |    WHEN 'web' THEN 3200 WHEN 'src4' THEN 800 ELSE -1 END),
         |p AS (
         |  SELECT doc_id, source, n_tokens, cum_tokens,
         |    CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY
         |      ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#p2'), 1, 15))::BIGINT,
         |      doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS strt
         |  FROM f WHERE n_tokens > 0)
         |SELECT doc_id, source, n_tokens, cum_tokens, strt AS start_offset,
         |       CAST(strt // 128 AS BIGINT) AS seq_first,
         |       CAST((strt + n_tokens - 1) // 128 AS BIGINT) AS seq_last,
         |       CAST(strt % 128 AS BIGINT) AS pos_in_seq
         |FROM p ORDER BY doc_id""".stripMargin)),

    // pipeline observability — one-pass filter funnel over the curation
    // gates in their production order (nonempty → quality → language →
    // exact-dedup canonical): per-stage entered/kept/dropped rows
    // unpivoted from a SINGLE aggregate, so the audit never costs a
    // second corpus pass
    QuerySpec("q_filter_funnel", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val canon = pipeline.Dedup.exactCanonical(docs)
      pipeline.Audit.filterFunnel(docs.join(canon, "doc_id"), Seq(
        "nonempty" -> (size(pipeline.TextOps.tokens(col("text"))) > 0),
        "quality_ge_07" -> (pipeline.TextOps.qualityExpr >= 0.7),
        "lang_en" -> (pipeline.TextOps.predLangExpr === "en"),
        "dedup_canonical" -> (col("canon_id") === col("doc_id"))))
        .orderBy("stage_idx")
    }, oracle = (tokSql +
      s""", qual AS (
         |  SELECT doc_id, $qualityExprSql AS quality
         |  FROM (
         |  $qualityInnerSql)),
         |lang AS (
         |  SELECT doc_id, $langCaseSql AS pred_lang
         |  FROM (
         |  $langScoresSql)),
         |canon AS ($canonSql),
         |cum AS (
         |  SELECT t.doc_id,
         |    COALESCE(len(t.t) > 0, FALSE) AS c0,
         |    COALESCE(len(t.t) > 0, FALSE)
         |      AND COALESCE(q.quality >= 0.7, FALSE) AS c1,
         |    COALESCE(len(t.t) > 0, FALSE)
         |      AND COALESCE(q.quality >= 0.7, FALSE)
         |      AND COALESCE(l.pred_lang = 'en', FALSE) AS c2,
         |    COALESCE(len(t.t) > 0, FALSE)
         |      AND COALESCE(q.quality >= 0.7, FALSE)
         |      AND COALESCE(l.pred_lang = 'en', FALSE)
         |      AND COALESCE(c.canon_id = t.doc_id, FALSE) AS c3
         |  FROM toks t
         |  JOIN qual q USING (doc_id)
         |  JOIN lang l USING (doc_id)
         |  JOIN canon c USING (doc_id)),
         |agg AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n_in,
         |    CAST(SUM(CASE WHEN c0 THEN 1 ELSE 0 END) AS BIGINT) AS k0,
         |    CAST(SUM(CASE WHEN c1 THEN 1 ELSE 0 END) AS BIGINT) AS k1,
         |    CAST(SUM(CASE WHEN c2 THEN 1 ELSE 0 END) AS BIGINT) AS k2,
         |    CAST(SUM(CASE WHEN c3 THEN 1 ELSE 0 END) AS BIGINT) AS k3
         |  FROM cum)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS stage_idx, 'nonempty' AS stage,
         |         n_in AS entered, k0 AS kept, n_in - k0 AS dropped FROM agg
         |  UNION ALL
         |  SELECT CAST(1 AS BIGINT), 'quality_ge_07', k0, k1, k0 - k1 FROM agg
         |  UNION ALL
         |  SELECT CAST(2 AS BIGINT), 'lang_en', k1, k2, k1 - k2 FROM agg
         |  UNION ALL
         |  SELECT CAST(3 AS BIGINT), 'dedup_canonical', k2, k3, k2 - k3 FROM agg)
         |ORDER BY stage_idx""".stripMargin)),

    // corpus datacard per source × lang: the shape numbers a training-mix
    // decision needs, in one hash aggregate (exact median via percentile
    // inside the aggregate, not a per-group sort)
    QuerySpec("q_datacard", (s, dir) => {
      pipeline.Audit.datacard(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("avg_quality_r"), col("median_chars_r"), col("max_chars"))
        .orderBy("source", "lang")
    }, oracle = (tokSql +
      s""", qual AS (
         |  SELECT doc_id,
         |    CAST(FLOOR(ROUND($qualityExprSql, 6) * 1e6 + 0.5) AS BIGINT) AS mq
         |  FROM (
         |  $qualityInnerSql))
         |SELECT d.source, d.lang,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(len(t.t)) AS BIGINT) AS n_tokens,
         |  ROUND(CAST(SUM(q.mq) AS DOUBLE) / COUNT(q.mq) / 1e6, 6)
         |    AS avg_quality_r,
         |  ROUND(median(d.n_chars), 4) AS median_chars_r,
         |  CAST(MAX(d.n_chars) AS BIGINT) AS max_chars
         |FROM documents d
         |JOIN toks t USING (doc_id)
         |JOIN qual q USING (doc_id)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // fixed-COUNT per-stratum sample: exactly min(k, |stratum|) rows per
    // source in reproducible hash order — the deterministic reservoir
    // replacement; the rank executes through Spark's WindowGroupLimit, so
    // a web-sized stratum shuffles O(k) rows per task, never all of them
    QuerySpec("q_sample_fixed_k", (s, dir) => {
      ops.Sampling.fixedKPerStratum(
        s.read.parquet(s"$dir/documents.parquet"),
        keyCol = "doc_id", strataCol = "source", k = 5, salt = "fk0")
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "sample_rank")
    }, oracle =
      """SELECT source, doc_id, sample_rank FROM (
        |  SELECT source, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |           ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null')
        |                               || '#fk0'), 1, 15))::BIGINT,
        |           doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 5 ORDER BY source, sample_rank""".stripMargin),

    // weighted sampling without replacement (Gumbel-top-k ≡
    // Efraimidis–Spirakis): inclusion probability ∝ n_chars,
    // deterministic; integer micro-unit scores, prefix-scan rank
    QuerySpec("q_weighted_sample", (s, dir) => {
      ops.Sampling.weightedSample(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "n_chars"),
          keyCol = "doc_id", weight = col("n_chars"),
          keepNum = 1L, keepDen = 5L, salt = "ws0")
        .select("doc_id", "n_chars", "score_u", "sample_rank")
        .orderBy("doc_id")
    }, oracle =
      // the identical quantized ln-weight + seeded Gumbel score, the same
      // (score DESC, hash, key) rank, the same exact integer cutoff
      """WITH sc AS (
        |  SELECT doc_id, n_chars,
        |         CAST(FLOOR(ln(CAST(n_chars AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
        |         + CAST(FLOOR(-ln(-ln(
        |             (CAST(('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#ws0!g'), 1, 15))::BIGINT AS DOUBLE) + 0.5)
        |             / 1152921504606846976.0)) * 1000000.0 + 0.5) AS BIGINT) AS score_u
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, score_u,
        |         ROW_NUMBER() OVER (ORDER BY score_u DESC,
        |           ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#ws0'), 1, 15))::BIGINT,
        |           doc_id) AS rn,
        |         COUNT(*) OVER () AS c
        |  FROM sc)
        |SELECT doc_id, n_chars, score_u, CAST(rn AS BIGINT) AS sample_rank
        |FROM r WHERE rn <= (c * 1 + 5 - 1) // 5
        |ORDER BY doc_id""".stripMargin),

    // source-onboarding column profile: rows / NULLs / exact distinct per
    // column in ONE aggregation statement (multi-distinct via Expand —
    // one corpus pass), unpivoted from a single aggregate row
    QuerySpec("q_profile_docs", (s, dir) => {
      pipeline.Audit.profile(s.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column_name")
    }, oracle = Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_nulls,
           |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")),

    // datacard length panel: fixed-width histogram with edge-bin clamping
    // (every non-NULL row is accounted for) in integer-exact bin math
    QuerySpec("q_histogram_chars", (s, dir) => {
      pipeline.Audit.histogram(s.read.parquet(s"$dir/documents.parquet"),
        "n_chars", nBins = 32, lo = 0L, hi = 640L)
        .orderBy("bin")
    }, oracle =
      """SELECT CAST(floor(LEAST(GREATEST(n_chars, 0), 639) * 32 / 640)
        |            AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin),

    // deterministic disjoint train/val/test split: a pure map-side hash
    // projection — reproducible under repartitioning, stable under
    // appends, exactly partitions the key space
    QuerySpec("q_split_assign", (s, dir) => {
      ops.Sampling.assignSplit(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", splitFractions)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }, oracle = {
      val thr = ops.Sampling.cumThresholds(splitFractions.map(_._2))
      s"""SELECT doc_id,
         |       CASE WHEN h < ${thr(0)} THEN 'train'
         |            WHEN h < ${thr(1)} THEN 'val'
         |            ELSE 'test' END AS split
         |FROM (SELECT doc_id,
         |             ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR),
         |                                          'null') || '#split'),
         |                             1, 15))::BIGINT AS h
         |      FROM documents)
         |ORDER BY doc_id""".stripMargin
    }),

    // uniform negative sampling (the random half of the contrastive pair
    // family): 3 deterministic pseudo-uniform negatives per doc by
    // position over the dense doc_id rank — hash mod N with the
    // self-collision bumped; the oracle re-derives rank, draw, bump, and
    // the join identically
    QuerySpec("q_negative_pairs", (s, dir) => {
      ops.Sampling.negativePairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", k = 3)
        .orderBy("i", "neg_idx")
    }, oracle =
      // the identical dense rank, modular draw, and self-collision bump
      """WITH r AS (
        |  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS rk
        |  FROM documents),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
        |a AS (
        |  SELECT r.doc_id AS i, r.rk, g.neg_idx, nn.n,
        |         ('0x' || substr(md5(CAST(r.doc_id AS VARCHAR) || '#neg#'
        |                             || CAST(g.neg_idx AS VARCHAR)),
        |                         1, 15))::BIGINT % nn.n AS t0
        |  FROM r CROSS JOIN nn CROSS JOIN generate_series(0, 2) g(neg_idx)),
        |t AS (
        |  SELECT i, neg_idx,
        |         CASE WHEN t0 = rk THEN (t0 + 1) % n ELSE t0 END AS target
        |  FROM a)
        |SELECT t.i, CAST(t.neg_idx AS BIGINT) AS neg_idx, r2.doc_id AS j
        |FROM t JOIN r r2 ON r2.rk = t.target
        |ORDER BY i, neg_idx""".stripMargin),

    // Poisson bootstrap (Chamandy et al.): 32 deterministic resample
    // replicates of the corpus mean in ONE pass — per-(row, rep) weight
    // Poisson(1) from the literal hash-threshold ladder, exact long
    // sums per replicate, one terminal division. The spread of the 32
    // means is the error bar on mean(n_chars).
    QuerySpec("q_bootstrap_mean", (s, dir) => {
      ops.Sampling.bootstrapMeans(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "n_chars", b = 32)
        .select(col("rep"), col("n_eff"), col("wsum"),
          (round(col("mean"), 6) + 0.0).as("mean_r"))
        .orderBy("rep")
    }, oracle =
      // the identical hash, the identical literal Poisson ladder, exact
      // integer weights and sums
      {
      val thr = ops.Sampling.poissonThresholds()
      val cases = thr.zipWithIndex
        .map { case (t, k) => s"WHEN u < $t THEN $k" }.mkString(" ")
      s"""WITH f AS (
         |  SELECT b.rep, d.n_chars,
         |         ('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '#boot#'
         |                             || CAST(b.rep AS VARCHAR)),
         |                         1, 15))::BIGINT AS u
         |  FROM documents d CROSS JOIN generate_series(0, 31) b(rep)),
         |w AS (
         |  SELECT rep, n_chars,
         |         CASE $cases ELSE ${thr.size} END AS w
         |  FROM f)
         |SELECT CAST(rep AS BIGINT) AS rep,
         |       CAST(SUM(w) AS BIGINT) AS n_eff,
         |       CAST(SUM(w * n_chars) AS BIGINT) AS wsum,
         |       ROUND(CAST(SUM(w * n_chars) AS DOUBLE)
         |             / CAST(SUM(w) AS DOUBLE), 6) + 0.0 AS mean_r
         |FROM w GROUP BY rep ORDER BY rep""".stripMargin
    }),

    // quantile normalization across sources (quantile matching): every
    // doc's n_chars is replaced by the GLOBAL n_chars at the same
    // relative rank — each source's marginal becomes the corpus marginal
    // exactly, so one global length threshold means the same thing in
    // every source. Integer-exact end to end (ranks, ceil-div mapping,
    // value fetch); the oracle replays the full rank→rank→value chain.
    QuerySpec("q_quantile_normalize", (s, dir) => {
      ops.Normalize.quantileNormalizePerStratum(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", salt = "qn0")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("stratum_rank"), col("n_chars_norm"))
        .orderBy("doc_id")
    }, oracle =
      // the identical ascending (value, hash, key) rank and the identical
      // one-division percentile
      // the same (value, hash, key) deterministic order as the prefix scan,
      // per source AND globally; ceil-div rank mapping; value fetched by
      // global-rank equi-join
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#qn0'), 1, 15))::BIGINT AS hh
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |                                ORDER BY n_chars ASC, hh, doc_id) AS rs,
        |             COUNT(*) OVER (PARTITION BY source) AS ns
        |      FROM h),
        |g AS (SELECT n_chars AS n_chars_norm,
        |             ROW_NUMBER() OVER (ORDER BY n_chars ASC, hh, doc_id) AS gr
        |      FROM h),
        |t AS (SELECT doc_id, source, n_chars, CAST(rs AS BIGINT) AS stratum_rank,
        |             (rs * (SELECT COUNT(*) FROM documents) + ns - 1) // ns AS tgt
        |      FROM r)
        |SELECT t.doc_id, t.source, t.n_chars, t.stratum_rank, g.n_chars_norm
        |FROM t JOIN g ON g.gr = t.tgt
        |ORDER BY t.doc_id""".stripMargin),

    // per-source percentile-rank normalization: the calibration transform
    // that makes scores comparable across sources — exact integer ranks
    // through the two-phase prefix scan, one map-side division
    QuerySpec("q_pct_rank", (s, dir) => {
      ops.Normalize.percentileRankPerStratum(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "source", "n_chars"),
          "doc_id", "source", col("n_chars"), salt = "pr0")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("stratum_rank"),
          (round(col("pct_rank"), 6) + 0.0).as("pct_rank_r"))
        .orderBy("doc_id")
    }, oracle =
      """WITH h AS (
        |  SELECT doc_id, source, n_chars,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#pr0'), 1, 15))::BIGINT AS hh
        |  FROM documents),
        |r AS (SELECT doc_id, source, n_chars,
        |             ROW_NUMBER() OVER (PARTITION BY source
        |                                ORDER BY n_chars ASC, hh, doc_id) AS rn,
        |             COUNT(*) OVER (PARTITION BY source) AS c
        |      FROM h)
        |SELECT doc_id, source, n_chars, CAST(rn AS BIGINT) AS stratum_rank,
        |       ROUND(CAST(rn AS DOUBLE) / CAST(c AS DOUBLE), 6) + 0.0 AS pct_rank_r
        |FROM r ORDER BY doc_id""".stripMargin),

    // per-language winsorized quality: clamp to the exact nearest-rank
    // [p05, p95] per lang — cutoffs are ACTUAL data values from the
    // two-phase prefix scan, broadcast back; the clamp is map-side
    QuerySpec("q_quality_winsor", (s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          pipeline.TextOps.qualityExpr.as("q"))
      ops.Normalize.winsorizePerStratum(base, "doc_id", "lang", "q",
        loQ = (1L, 20L), hiQ = (19L, 20L), salt = "wins")
        .select(col("doc_id"), col("lang"), col("q").as("q_r"),
          col("q_winsor").as("q_winsor_r"))
        .orderBy("doc_id")
    }, oracle =
      // cutoffs re-derived by the same nearest-rank rule over the same
      // (value, hash, key) order the prefix scan uses
      s"""WITH toks AS (
         |  SELECT doc_id, lang, text,
         |         list_filter(regexp_split_to_array(text, '\\s+'),
         |                     tk -> len(tk) > 0) AS t
         |  FROM documents),
         |qd AS (
         |  SELECT doc_id, lang, ROUND($qualityExprSql, 6) AS q
         |  FROM (
         |    SELECT doc_id, lang,
         |      len(list_filter(t, tk -> tk IN ('the','a','an','of','and','or','in','to','is')))
         |        * 1.0 / len(t) AS stop_ratio,
         |      len(list_distinct(t)) * 1.0 / len(t) AS type_ratio,
         |      (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
         |        * 1.0 / length(text) AS alpha_ratio,
         |      length(text) * 1.0 / len(t) AS mean_len
         |    FROM toks)),
         |hh AS (
         |  SELECT doc_id, lang, q,
         |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#wins'), 1, 15))::BIGINT AS h
         |  FROM qd WHERE q IS NOT NULL),
         |r AS (
         |  SELECT lang, q,
         |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q, h, doc_id) AS rn,
         |         COUNT(*) OVER (PARTITION BY lang) AS c
         |  FROM hh),
         |cuts AS (
         |  SELECT lang,
         |         MAX(CASE WHEN rn = GREATEST((c * 1 + 19) // 20, 1) THEN q END) AS lo,
         |         MAX(CASE WHEN rn = GREATEST((c * 19 + 19) // 20, 1) THEN q END) AS hi
         |  FROM r GROUP BY lang)
         |SELECT qd.doc_id, qd.lang, qd.q AS q_r,
         |       LEAST(GREATEST(qd.q, cuts.lo), cuts.hi) AS q_winsor_r
         |FROM qd LEFT JOIN cuts USING (lang)
         |ORDER BY doc_id""".stripMargin),

    // per-source min-max scaling to [0, 1]: extrema via one hash
    // aggregate broadcast back; the scale is two exact long subtractions
    // and ONE IEEE division — bit-identical cross-engine
    QuerySpec("q_minmax_scale", (s, dir) => {
      ops.Normalize.minMaxScalePerStratum(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "n_chars"),
        "source", "n_chars")
        .select(col("doc_id"), col("source"),
          round(col("n_chars_scaled"), 9).as("scaled_r"))
        .orderBy("doc_id")
    }, oracle =
      """WITH s AS (
        |  SELECT source, MIN(n_chars) AS mn, MAX(n_chars) AS mx
        |  FROM documents GROUP BY source)
        |SELECT doc_id, d.source,
        |       CASE WHEN d.n_chars IS NULL THEN NULL
        |            WHEN mx = mn THEN 0.0
        |            ELSE ROUND((d.n_chars - mn) / (mx - mn), 9) END AS scaled_r
        |FROM documents d LEFT JOIN s ON d.source = s.source
        |ORDER BY doc_id""".stripMargin),

    // equi-depth (equal-count) histogram over document lengths: bucket =
    // exact global rank · nBuckets div N via the terasort-style prefix
    // scan — never a one-task window; boundaries are actual data values
    QuerySpec("q_equidepth_hist", (s, dir) => {
      ops.Analytics.equiDepthHistogram(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "n_chars"),
        "doc_id", "n_chars", nBuckets = 16, salt = "eqd")
        .orderBy("bucket")
    }, oracle =
      """WITH hh AS (
        |  SELECT doc_id, n_chars,
        |         ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#eqd'), 1, 15))::BIGINT AS h
        |  FROM documents WHERE n_chars IS NOT NULL),
        |r AS (
        |  SELECT n_chars,
        |         ROW_NUMBER() OVER (ORDER BY n_chars, h, doc_id) AS rn,
        |         COUNT(*) OVER () AS c
        |  FROM hh)
        |SELECT ((rn - 1) * 16) // c AS bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |       MIN(n_chars) AS lo, MAX(n_chars) AS hi
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin),

    // per-source OLS trend of token count vs char count from the five
    // integer moment sums — one hash aggregate, shuffle ∝ sources; the
    // slope/intercept are each a single IEEE division of exact longs
    QuerySpec("q_ols_trend", (s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("n_chars"),
          size(pipeline.TextOps.tokens(col("text"))).as("n_tokens"))
      ops.Analytics.olsTrendPerGroup(base, "source", "n_chars", "n_tokens")
        .orderBy("source")
    }, oracle =
      """WITH b AS (
        |  SELECT source, n_chars AS x,
        |         len(list_filter(regexp_split_to_array(text, '\s+'),
        |                         tk -> len(tk) > 0)) AS y
        |  FROM documents
        |  WHERE n_chars IS NOT NULL AND text IS NOT NULL),
        |a AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
        |         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |         CAST(SUM(x * y) AS BIGINT) AS sxy,
        |         CAST(SUM(x * x) AS BIGINT) AS sxx
        |  FROM b GROUP BY source)
        |SELECT source, n,
        |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |            ELSE ROUND(CAST(n * sxy - sx * sy AS DOUBLE)
        |                       / CAST(n * sxx - sx * sx AS DOUBLE), 9)
        |       END AS slope_r,
        |       CASE WHEN n * sxx - sx * sx = 0 THEN NULL
        |            ELSE ROUND(CAST(sy * sxx - sx * sxy AS DOUBLE)
        |                       / CAST(n * sxx - sx * sx AS DOUBLE), 9)
        |       END AS intercept_r
        |FROM a ORDER BY source""".stripMargin),

    // exact two-sample KS drift, one-vs-rest per source: the binning-free
    // CDF-gap alarm (KL/histogram monitors can't see drift inside a bin).
    // Integer numerator over the shared two-phase prefix scan with both
    // cumulative counts packed into one long; one IEEE division at the end
    QuerySpec("q_ks_drift", (s, dir) => {
      ops.Analytics.ksDriftPerStratum(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "source", "n_chars")
        .orderBy("source")
    }, oracle =
      // the same one-vs-rest CDFs over the value grid, windowed cumulative
      // sums (single-engine, so a window is fine here), same exact integer
      // numerator and the identical final division
      """WITH st AS (SELECT DISTINCT source FROM documents),
        |f AS (
        |  SELECT st.source AS stratum, d.n_chars AS v,
        |         CASE WHEN d.source = st.source THEN 1 ELSE 0 END AS w1,
        |         CASE WHEN d.source = st.source THEN 0 ELSE 1 END AS w2
        |  FROM documents d CROSS JOIN st),
        |g AS (SELECT stratum, v, SUM(w1) AS a1, SUM(w2) AS a2
        |      FROM f GROUP BY 1, 2),
        |c AS (SELECT stratum, v,
        |             SUM(a1) OVER (PARTITION BY stratum ORDER BY v) AS c1,
        |             SUM(a2) OVER (PARTITION BY stratum ORDER BY v) AS c2
        |      FROM g),
        |n AS (SELECT stratum, MAX(c1) AS n_in, MAX(c2) AS n_out
        |      FROM c GROUP BY 1),
        |k AS (SELECT c.stratum,
        |             MAX(ABS(c.c1 * n.n_out - c.c2 * n.n_in)) AS ks_num
        |      FROM c JOIN n USING (stratum) GROUP BY 1)
        |SELECT k.stratum AS source, CAST(n.n_in AS BIGINT) AS n_in,
        |       CAST(n.n_out AS BIGINT) AS n_out,
        |       CAST(k.ks_num AS BIGINT) AS ks_num,
        |       CASE WHEN n.n_out > 0 THEN
        |         ROUND(CAST(k.ks_num AS DOUBLE) / (n.n_in * n.n_out), 6) + 0.0
        |       ELSE 0.0 END AS ks_r
        |FROM k JOIN n USING (stratum) ORDER BY source""".stripMargin),

    // corpus drift between CDC snapshots: each snapshot's token-
    // distribution divergence from the pooled blend (the symmetric
    // JS-style drift monitor a re-crawl pipeline alarms on) — the same
    // KL operator, strata = snapshot version
    QuerySpec("q_snapshot_drift", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val old = docs.where(col("doc_id") % 13 =!= 0)
        .select(col("doc_id"),
          when(col("doc_id") % 10 === 0, concat(col("text"), lit(" v1")))
            .otherwise(col("text")).as("text"))
        .withColumn("version", lit("old"))
      val neu = docs.where(col("doc_id") % 17 =!= 3)
        .select(col("doc_id"), col("text"))
        .withColumn("version", lit("new"))
      pipeline.TextOps.sourceKl(old.unionByName(neu), "version")
        .select(col("stratum").as("version"), col("n_types"),
          col("n_tokens"), col("kl_u"))
        .orderBy("version")
    }, oracle =
      // the same KL chain over the version-tagged snapshot union
      """WITH un AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN text || ' v1' ELSE text END AS text,
        |         'old' AS version
        |  FROM documents WHERE doc_id % 13 <> 0
        |  UNION ALL
        |  SELECT doc_id, text, 'new' AS version
        |  FROM documents WHERE doc_id % 17 <> 3),
        |tku AS (
        |  SELECT version,
        |         unnest(list_filter(regexp_split_to_array(text, '\s+'),
        |                            x -> len(x) > 0)) AS w
        |  FROM un),
        |st AS (
        |  SELECT version AS stratum, w, CAST(COUNT(*) AS BIGINT) AS c_st
        |  FROM tku GROUP BY 1, 2),
        |tt AS (SELECT stratum, SUM(c_st) AS t_s FROM st GROUP BY 1),
        |g AS (SELECT w, SUM(c_st) AS c_t FROM st GROUP BY 1),
        |gr AS (SELECT SUM(c_t) AS t FROM g),
        |term AS (
        |  SELECT st.stratum, tt.t_s,
        |         CAST(FLOOR((CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE))
        |              * ln((CAST(c_st AS DOUBLE) * CAST(t AS DOUBLE))
        |                   / (CAST(t_s AS DOUBLE) * CAST(c_t AS DOUBLE)))
        |              * 1000000000.0 + 0.5) AS BIGINT) AS term_u
        |  FROM st JOIN tt ON st.stratum = tt.stratum
        |  JOIN g ON st.w = g.w, gr)
        |SELECT stratum AS version, CAST(COUNT(*) AS BIGINT) AS n_types,
        |       CAST(MAX(t_s) AS BIGINT) AS n_tokens,
        |       CAST(SUM(term_u) AS BIGINT) AS kl_u
        |FROM term GROUP BY 1 ORDER BY version""".stripMargin),

    // per-source KL divergence from the corpus token distribution — the
    // mixture-design outlier diagnostic; nano-unit integer terms, long
    // sums, one corpus aggregation
    QuerySpec("q_source_kl", (s, dir) => {
      pipeline.TextOps.sourceKl(
          s.read.parquet(s"$dir/documents.parquet"))
        .select(col("stratum").as("source"), col("n_types"),
          col("n_tokens"), col("kl_u"))
        .orderBy("source")
    }, oracle =
      // identical (stratum, token) counts, the identical nano-quantized
      // per-term KL contribution, long sums
      (tokSql +
      """, tk AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |st AS (
        |  SELECT d.source AS stratum, tk.w, CAST(COUNT(*) AS BIGINT) AS c_st
        |  FROM tk JOIN documents d ON tk.doc_id = d.doc_id GROUP BY 1, 2),
        |tt AS (SELECT stratum, SUM(c_st) AS t_s FROM st GROUP BY 1),
        |g AS (SELECT w, SUM(c_st) AS c_t FROM st GROUP BY 1),
        |gr AS (SELECT SUM(c_t) AS t FROM g),
        |term AS (
        |  SELECT st.stratum, tt.t_s,
        |         CAST(FLOOR((CAST(c_st AS DOUBLE) / CAST(t_s AS DOUBLE))
        |              * ln((CAST(c_st AS DOUBLE) * CAST(t AS DOUBLE))
        |                   / (CAST(t_s AS DOUBLE) * CAST(c_t AS DOUBLE)))
        |              * 1000000000.0 + 0.5) AS BIGINT) AS term_u
        |  FROM st JOIN tt ON st.stratum = tt.stratum
        |  JOIN g ON st.w = g.w, gr)
        |SELECT stratum AS source, CAST(COUNT(*) AS BIGINT) AS n_types,
        |       CAST(MAX(t_s) AS BIGINT) AS n_tokens,
        |       CAST(SUM(term_u) AS BIGINT) AS kl_u
        |FROM term GROUP BY 1 ORDER BY source""".stripMargin))
  )
}
