package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Shared._

/** Text signals: token statistics, quality and language scores, n-gram
  * language models, contamination, PII, normalization, tokenizers and
  * retrieval indexes. */
object TextQueries {

  /** BPE merge recurrence unrolled as chained CTEs: `w0` is the
    * distinct-word count table in symbol form; each round `k` is a pair
    * aggregation (`p`), the arg-max pair (`b`, ties by `(l, r)` asc), and
    * the rewritten words (`w`) via the same double-`replace` spelling as
    * `pipeline.Bpe.learnMerges` — left-to-right `replace` is identical in
    * both engines, which is what makes the learned vocabulary
    * hash-comparable. */
  private def bpeChainSql(nMerges: Int): String = {
    val sb = new StringBuilder(tokSql)
    // MATERIALIZED is load-bearing: w_k is referenced twice (the next
    // round's pair scan and the next rewrite), so an inlining planner
    // would double the expression tree per round — 2^nMerges
    sb.append(
      """, w0 AS MATERIALIZED (
        |  SELECT array_to_string(list_transform(range(1, len(w) + 1),
        |           i -> substring(w, i, 1)), ' ') || ' </w>' AS sym,
        |         CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT unnest(t) AS w FROM toks)
        |  GROUP BY 1)""".stripMargin)
    for (k <- 1 to nMerges) {
      val prev = s"w${k - 1}"
      sb.append(s""",
        |s$k AS (SELECT string_split(sym, ' ') AS s, c FROM $prev),
        |i$k AS (SELECT s, c, unnest(generate_series(1, len(s) - 1)) AS i FROM s$k),
        |p$k AS (SELECT s[i] AS l, s[i + 1] AS r, SUM(c) AS cnt FROM i$k GROUP BY 1, 2),
        |b$k AS MATERIALIZED (SELECT l, r, cnt FROM p$k ORDER BY cnt DESC, l, r LIMIT 1),
        |w$k AS MATERIALIZED (SELECT trim(replace(replace(' ' || sym || ' ',
        |          ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' '),
        |          ' ' || b.l || ' ' || b.r || ' ', ' ' || b.l || b.r || ' ')) AS sym, c
        |        FROM $prev, b$k b)""".stripMargin)
    }
    sb.toString
  }

  private def bpeMergesOracleSql(nMerges: Int): String =
    bpeChainSql(nMerges) + "\n" +
      (1 to nMerges).map(k =>
        s"""SELECT CAST($k AS BIGINT) AS step, l AS "left", r AS "right",
           |       CAST(cnt AS BIGINT) AS pair_count FROM b$k""".stripMargin)
        .mkString("\nUNION ALL\n") + "\nORDER BY step"

  private def bpeSegmentOracleSql(nMerges: Int): String = {
    var r = "' ' || array_to_string(list_transform(range(1, len(w) + 1), " +
      "i -> substring(w, i, 1)), ' ') || ' </w> '"
    for (k <- 1 to nMerges) {
      val pat = s"' ' || b$k.l || ' ' || b$k.r || ' '"
      val rep = s"' ' || b$k.l || b$k.r || ' '"
      r = s"replace(replace($r, $pat, $rep), $pat, $rep)"
    }
    bpeChainSql(nMerges) +
      s""",
      |tk AS (SELECT doc_id, unnest(t) AS w FROM toks),
      |sg AS (
      |  SELECT tk.doc_id, len(string_split(trim($r), ' ')) AS n_sub
      |  FROM tk, ${(1 to nMerges).map(k => s"b$k").mkString(", ")}),
      |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
      |              CAST(SUM(n_sub) AS BIGINT) AS n_bpe_tokens
      |       FROM sg GROUP BY doc_id)
      |SELECT d.doc_id, COALESCE(ag.n_tokens, 0) AS n_tokens,
      |       COALESCE(ag.n_bpe_tokens, 0) AS n_bpe_tokens
      |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
      |ORDER BY d.doc_id""".stripMargin
  }

  /** The `q_script_detect` enrichment runs, shared with the oracle via
    * [[sqlLit]] like the normalize enrichments. */
  private val ScriptEnrichCyr = " привет мир как дела"
  private val ScriptEnrichCjk = " 你好世界歡迎光臨謝謝再見"
  private val ScriptEnrichGrk = " γειά σου κόσμε"
  private val ScriptEnrichAra = " مرحبا بالعالم"

  /** The `q_text_normalize` enrichment strings (explicit escapes — no
    * invisible characters in source), shared by the Spark query and the
    * oracle's SQL-literal builder so enrichment cannot drift. */
  private val NormEnrich1 = " “fancy” ‘q’"
  private val NormEnrich2 = " a­b c–d e—f"
  private val NormEnrich3 = " ＨｉＸ２ ﬁﬂ"
  private val NormEnrich4 = " x y　z​w"
  private val NormEnrich5 = " bell\tt"

  /** A Scala string as a DuckDB literal: quotes doubled, control chars
    * via chr()||, so the JSON sidecar and the SQL parser both stay
    * happy whatever the enrichment contains. */
  private def sqlLit(s: String): String = {
    // build runs of printable chars between control-char breaks
    val sb = new StringBuilder
    var run = new StringBuilder
    def flushRun(): Unit = {
      if (run.nonEmpty) {
        if (sb.nonEmpty) sb.append(" || ")
        sb.append("'").append(run.toString.replace("'", "''")).append("'")
        run = new StringBuilder
      }
    }
    s.foreach { c =>
      if (c < ' ') { flushRun(); if (sb.nonEmpty) sb.append(" || ")
        sb.append(s"chr(${c.toInt})") }
      else run.append(c)
    }
    flushRun()
    if (sb.isEmpty) "''" else sb.toString
  }

  /** Raw-text trigrams by position join (the hashless twin of `shingleSql`,
    * for oracles that can compare gram text directly). */
  private val trigramTextSql = tposSql +
    """, tri AS (
      |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS g
      |  FROM tpos a
      |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
      |""".stripMargin

  /** The Luhn fixture enrichment shared by `q_pii_luhn` and
    * `q_pii_luhn_mask` (the fixture text has no digits): doc_id % 5 gets
    * a VALID 16-digit number — check digit computed by the operator's own
    * [[pipeline.TextOps.luhnSum]] — others a +5-corrupted check digit,
    * and doc_id % 11 a second always-valid number. */
  private def luhnEnrichedDocs(s: SparkSession, dir: String): DataFrame = {
    import pipeline.TextOps.luhnSum
    val docs = s.read.parquet(s"$dir/documents.parquet")
    def body(mul: Long, add: Long) =
      lpad(((col("doc_id") * mul + add) % 1000000000000000L).cast("string"),
        15, "0")
    def check(b: Column) =
      (lit(10) - (luhnSum(concat(b, lit("0"))) % 10)) % 10
    val b1 = body(7919L, 12345L)
    val b2 = body(104729L, 54321L)
    val d1 = concat(b1,
      when(col("doc_id") % 5 === 0, check(b1))
        .otherwise((check(b1) + 5) % 10).cast("string"))
    val d2 = concat(b2, check(b2).cast("string"))
    docs.select(col("doc_id"),
      concat(col("text"), lit(" "), d1,
        when(col("doc_id") % 11 === 0, concat(lit(" "), d2))
          .otherwise(lit(""))).as("text"))
  }

  /** DuckDB spelling of [[luhnEnrichedDocs]] — shared by the two Luhn
    * oracles so fixture generation cannot drift between them. Ends with
    * `en(doc_id, t)`. */
  private lazy val luhnEnrichSql: String =
    s"""WITH b AS (
       |  SELECT doc_id, text,
       |         lpad(CAST((doc_id * 7919 + 12345) % 1000000000000000 AS VARCHAR), 15, '0') AS b1,
       |         lpad(CAST((doc_id * 104729 + 54321) % 1000000000000000 AS VARCHAR), 15, '0') AS b2
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, text, b1, b2,
       |         (10 - (${luhnSql("b1 || '0'")}) % 10) % 10 AS c1,
       |         (10 - (${luhnSql("b2 || '0'")}) % 10) % 10 AS c2
       |  FROM b),
       |en AS (
       |  SELECT doc_id,
       |         text || ' ' || b1 ||
       |           CAST(CASE WHEN doc_id % 5 = 0 THEN c1 ELSE (c1 + 5) % 10 END AS VARCHAR) ||
       |           CASE WHEN doc_id % 11 = 0 THEN ' ' || b2 || CAST(c2 AS VARCHAR) ELSE '' END AS t
       |  FROM c)""".stripMargin

  /** DuckDB spelling of `TextOps.luhnSum` over SQL expression `x` —
    * right-anchored double-every-second digit sum, pure integer. */
  private def luhnSql(x: String): String =
    s"list_sum(list_transform(range(1, len($x) + 1), i -> " +
      s"CASE WHEN (len($x) - i) % 2 = 1 " +
      s"THEN CASE WHEN (ascii(substr($x, i, 1)) - 48) * 2 > 9 " +
      s"THEN (ascii(substr($x, i, 1)) - 48) * 2 - 9 " +
      s"ELSE (ascii(substr($x, i, 1)) - 48) * 2 END " +
      s"ELSE ascii(substr($x, i, 1)) - 48 END))"

  val specs: Seq[QuerySpec] = Seq(
    // text surface statistics (tokens, types, BPE-ish count, lengths)
    QuerySpec("q_text_stats", (s, dir) => {
      pipeline.TextOps.textStats(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (tokSql +
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
        |       CAST(len(regexp_extract_all(text,
        |            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish,
        |       ROUND(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 6)
        |         AS avg_token_len_r
        |FROM toks ORDER BY doc_id""".stripMargin)),

    // heuristic quality scoring (stopword/type/alpha ratios + composite)
    QuerySpec("q_text_quality", (s, dir) => {
      pipeline.TextOps.qualityScore(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (tokSql +
      s"""SELECT doc_id,
         |  ROUND(stop_ratio, 6) AS stop_ratio_r,
         |  ROUND(type_ratio, 6) AS type_ratio_r,
         |  ROUND(alpha_ratio, 6) AS alpha_ratio_r,
         |  ROUND($qualityExprSql,
         |        6) AS quality_r
         |FROM (
         |  $qualityInnerSql)
         |ORDER BY doc_id""".stripMargin)),

    // language-ID heuristic (marker-word + CJK-character scores, argmax)
    QuerySpec("q_lang_id", (s, dir) => {
      pipeline.TextOps.langId(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (tokSql +
      s"""SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
         |  $langCaseSql AS pred_lang
         |FROM (
         |  $langScoresSql)
         |ORDER BY doc_id""".stripMargin)),

    // self-trained unigram-LM quality (CCNet's perplexity-filter role):
    // corpus-relative token frequencies, per-doc mean log-probability
    QuerySpec("q_unigram_logprob", (s, dir) => {
      pipeline.TextOps.unigramLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (tokSql +
      """, tk AS (SELECT doc_id, unnest(t) AS tok FROM toks),
        |fr AS (SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok),
        |tt AS (SELECT SUM(c) AS n FROM fr),
        |sc AS (
        |  SELECT tk.doc_id, ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS logp
        |  FROM tk JOIN fr USING (tok) CROSS JOIN tt),
        |ag AS (
        |  SELECT doc_id, COUNT(*) AS n_scored,
        |         ROUND(AVG(logp), 6) + 0.0 AS mean_logp_r
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(ag.n_scored, 0) AS n_scored, ag.mean_logp_r
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // conditional bigram upgrade: mean log p(w2|w1), counts trained on
    // the scored corpus
    QuerySpec("q_bigram_logprob", (s, dir) => {
      pipeline.TextOps.bigramLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (tposSql +
      """, bg AS (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM tpos a JOIN tpos b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM bg GROUP BY w1, w2),
        |c1 AS (SELECT w1, COUNT(*) AS c1 FROM bg GROUP BY w1),
        |sc AS (
        |  SELECT bg.doc_id,
        |         ln(CAST(c12 AS DOUBLE) / CAST(c1 AS DOUBLE)) AS logp
        |  FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1)),
        |ag AS (
        |  SELECT doc_id, COUNT(*) AS n_bigrams,
        |         ROUND(AVG(logp), 6) + 0.0 AS mean_logp_r
        |  FROM sc GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(ag.n_bigrams, 0) AS n_bigrams,
        |       ag.mean_logp_r
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // interpolated Kneser-Ney upgrade of the raw-MLE bigram filter —
    // absolute discount + continuation-probability backoff, the KenLM
    // smoothing CCNet-style perplexity filters actually use
    QuerySpec("q_kneser_ney", (s, dir) => {
      pipeline.TextOps.kneserNeyLogProb(
        s.read.parquet(s"$dir/documents.parquet")).orderBy("doc_id")
    }, oracle =
      // the KN terms from the same bigram-type table (c1 and N1+ in one
      // grouped pass), the one float expression with the IDENTICAL
      // parenthesization, 1e-6 rounding absorbing the last ulp
      (tposSql +
      """, bg AS MATERIALIZED (
        |  SELECT a.doc_id, a.w AS w1, b.w AS w2
        |  FROM tpos a JOIN tpos b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |dbg AS MATERIALIZED (
        |  SELECT doc_id, w1, w2, COUNT(*) AS cd FROM bg GROUP BY 1, 2, 3),
        |c12 AS MATERIALIZED (
        |  SELECT w1, w2, SUM(cd) AS c12 FROM dbg GROUP BY w1, w2),
        |lft AS MATERIALIZED (
        |  SELECT w1, SUM(c12) AS c1, COUNT(*) AS n1p FROM c12 GROUP BY w1),
        |cont AS MATERIALIZED (
        |  SELECT w2, COUNT(*) AS ncont FROM c12 GROUP BY w2),
        |ncc AS (SELECT COUNT(*) AS ncc FROM c12),
        |ts AS MATERIALIZED (
        |  SELECT w1, w2,
        |         ln((GREATEST(CAST(c12 AS DOUBLE) - 0.75, 0.0) +
        |             0.75 * CAST(n1p AS DOUBLE) * CAST(ncont AS DOUBLE) /
        |               CAST(ncc.ncc AS DOUBLE)) / CAST(c1 AS DOUBLE)) AS logp
        |  FROM c12 JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN ncc),
        |ag AS (
        |  SELECT dbg.doc_id, CAST(SUM(cd) AS BIGINT) AS n_bigrams,
        |         ROUND(SUM(CAST(cd AS DOUBLE) * logp) /
        |               SUM(CAST(cd AS DOUBLE)), 6) + 0.0 AS mean_kn_logp_r
        |  FROM dbg JOIN ts USING (w1, w2) GROUP BY dbg.doc_id)
        |SELECT d.doc_id, COALESCE(ag.n_bigrams, 0) AS n_bigrams,
        |       ag.mean_kn_logp_r
        |FROM documents d LEFT JOIN ag USING (doc_id)
        |ORDER BY doc_id""".stripMargin)),

    // Gopher-style repetition signals (token/bigram/trigram duplication)
    QuerySpec("q_text_repetition", (s, dir) => {
      pipeline.TextOps.repetitionSignals(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (trigramTextSql +
      """, bi AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w AS g
        |  FROM tpos a JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
        |bia AS (
        |  SELECT doc_id, MAX(c) * 1.0 / SUM(c) AS top_bigram_frac
        |  FROM (SELECT doc_id, g, COUNT(*) AS c FROM bi GROUP BY 1, 2)
        |  GROUP BY doc_id),
        |tria AS (
        |  SELECT doc_id, 1.0 - COUNT(DISTINCT g) * 1.0 / COUNT(*) AS dup_trigram_frac
        |  FROM tri GROUP BY doc_id)
        |SELECT k.doc_id,
        |       ROUND(1.0 - len(list_distinct(k.t)) * 1.0 / len(k.t), 6)
        |         AS dup_token_frac_r,
        |       ROUND(COALESCE(bia.top_bigram_frac, 0.0), 6) AS top_bigram_frac_r,
        |       ROUND(COALESCE(tria.dup_trigram_frac, 0.0), 6) AS dup_trigram_frac_r
        |FROM toks k
        |LEFT JOIN bia ON bia.doc_id = k.doc_id
        |LEFT JOIN tria ON tria.doc_id = k.doc_id
        |ORDER BY k.doc_id""".stripMargin)),

    // benchmark decontamination: corpus docs sharing a trigram with the
    // benchmark subset (doc_id % 37 == 0) are flagged; the oracle joins on
    // raw gram text where Spark joins on hash60 — identical sets absent
    // 60-bit collisions, the same contract every shingle oracle here uses
    QuerySpec("q_decontaminate", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.decontaminate(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }, oracle = (trigramTextSql +
      """, bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 37 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM tri WHERE doc_id % 37 <> 0),
        |ov AS (SELECT doc_id, COUNT(*) AS n
        |       FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_contaminated,
        |       CAST(CASE WHEN COALESCE(ov.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS contaminated
        |FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // graded contamination: distinct-gram overlap FRACTION per doc, the
    // GPT-3-style soft decontamination score; verdict by integer
    // cross-multiplication (n_hit*100 >= n_grams*20), never a float test
    QuerySpec("q_contamination_overlap", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.contaminationOverlap(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }, oracle = (trigramTextSql +
      """, bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 37 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM tri WHERE doc_id % 37 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id),
        |ov AS (SELECT doc_id, COUNT(*) AS n_hit
        |       FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(o.n_hit, 0) AS BIGINT) AS n_hit,
        |       ROUND(COALESCE(o.n_hit, 0) * 1.0
        |             / GREATEST(COALESCE(t.n_grams, 0), 1), 6)
        |         AS overlap_frac_r,
        |       CAST(CASE WHEN COALESCE(o.n_hit, 0) > 0
        |                  AND COALESCE(o.n_hit, 0) * 100
        |                      >= COALESCE(t.n_grams, 0) * 20
        |                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM documents d
        |LEFT JOIN tot t ON t.doc_id = d.doc_id
        |LEFT JOIN ov o ON o.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // the graded score through the Bloom prefilter + exact verify — the
    // oracle is IDENTICAL to q_contamination_overlap's, so any diff is a
    // Bloom false negative (same contract as q_decontaminate_bloom)
    QuerySpec("q_contamination_overlap_bloom", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.contaminationOverlapBloom(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }, oracle =
      // identical to q_contamination_overlap's oracle by design: the Bloom
      // is prefilter-only, so the operator must reproduce the exact counts
      (trigramTextSql +
      """, bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 37 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM tri WHERE doc_id % 37 <> 0),
        |tot AS (SELECT doc_id, COUNT(*) AS n_grams FROM corp GROUP BY doc_id),
        |ov AS (SELECT doc_id, COUNT(*) AS n_hit
        |       FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        |       CAST(COALESCE(t.n_grams, 0) AS BIGINT) AS n_grams,
        |       CAST(COALESCE(o.n_hit, 0) AS BIGINT) AS n_hit,
        |       ROUND(COALESCE(o.n_hit, 0) * 1.0
        |             / GREATEST(COALESCE(t.n_grams, 0), 1), 6)
        |         AS overlap_frac_r,
        |       CAST(CASE WHEN COALESCE(o.n_hit, 0) > 0
        |                  AND COALESCE(o.n_hit, 0) * 100
        |                      >= COALESCE(t.n_grams, 0) * 20
        |                 THEN 1 ELSE 0 END AS BIGINT) AS flagged
        |FROM documents d
        |LEFT JOIN tot t ON t.doc_id = d.doc_id
        |LEFT JOIN ov o ON o.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // winnowing fingerprints (MOSS): windowed minima over shingle hashes
    QuerySpec("q_doc_fingerprint", (s, dir) => {
      pipeline.TextOps.fingerprints(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id", "fp")
    }, oracle = (tposSql +
      """, sh AS (
        |  SELECT a.doc_id, a.pos,
        |         ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
        |  FROM tpos a
        |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
        |SELECT DISTINCT doc_id,
        |       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |FROM sh ORDER BY doc_id, fp""".stripMargin)),

    // PII redaction: emails and long digit runs replaced before a corpus
    // leaves the pipeline; exact string compare against the oracle's
    // identical RE2-safe patterns
    QuerySpec("q_text_redact", (s, dir) => {
      pipeline.TextOps.redactPii(s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("text").as("redacted"))
        .orderBy("doc_id")
    }, oracle =
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
        |      '[EMAIL]', 'g'),
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+', '[NUM]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // checksum-validated PII (Luhn): the fixture text has no digits, so
    // each doc is deterministically enriched with one synthetic 16-digit
    // number — Luhn-VALID for doc_id % 5 == 0 (check digit computed by
    // the operator's own luhnSum), check-digit-corrupted (+5 mod 10)
    // otherwise — plus a second always-valid number for doc_id % 11 == 0.
    // The detector must flag exactly the valid ones; the oracle replays
    // generation AND validation, and PipelineSpec pins the Luhn rule on
    // published test vectors so a shared-spelling error can't hide.
    QuerySpec("q_pii_luhn", (s, dir) =>
      pipeline.TextOps.luhnValidPii(luhnEnrichedDocs(s, dir))
        .orderBy("doc_id"), oracle =
      // generation AND validation replayed: synthetic check digits from the
      // same Luhn sum the detector uses (spelled independently here), the
      // %5 corruption, the %11 second number, then candidate extraction +
      // the checksum verdict per candidate
      (luhnEnrichSql +
        s""", cand AS (SELECT doc_id, unnest(regexp_extract_all(t, '[0-9]{13,19}')) AS cd FROM en),
           |v AS (SELECT doc_id, CASE WHEN (${luhnSql("cd")}) % 10 = 0 THEN 1 ELSE 0 END AS ok FROM cand),
           |ag AS (SELECT doc_id, COUNT(*) AS nc, SUM(ok) AS nv FROM v GROUP BY doc_id)
           |SELECT d.doc_id, CAST(COALESCE(ag.nc, 0) AS BIGINT) AS n_candidates,
           |       CAST(COALESCE(ag.nv, 0) AS BIGINT) AS n_luhn_valid,
           |       CAST(CASE WHEN COALESCE(ag.nv, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_valid
           |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // the masking companion: validated numbers masked to ****+last-4,
    // checksum-failing runs untouched — precision redactPii's blanket
    // [NUM] rule can't offer
    QuerySpec("q_pii_luhn_mask", (s, dir) =>
      pipeline.TextOps.luhnMaskValid(luhnEnrichedDocs(s, dir))
        .orderBy("doc_id"), oracle =
      // the mask: a left-fold of literal replaces over the VALID candidate
      // list in occurrence order — list_reduce has no init arg in this
      // DuckDB, so the text is prepended as the fold's first element
      (luhnEnrichSql +
        s""", cand AS (
           |  SELECT doc_id, t, unnest(regexp_extract_all(t, '[0-9]{13,19}')) AS cd,
           |         generate_subscripts(regexp_extract_all(t, '[0-9]{13,19}'), 1) AS pos
           |  FROM en),
           |v AS (SELECT doc_id, cd, pos FROM cand WHERE (${luhnSql("cd")}) % 10 = 0),
           |agg AS (SELECT doc_id, list(cd ORDER BY pos) AS vl FROM v GROUP BY doc_id)
           |SELECT en.doc_id,
           |       CASE WHEN agg.vl IS NULL THEN en.t
           |            ELSE list_reduce(list_prepend(en.t, agg.vl),
           |                   (acc, x) -> replace(acc, x,
           |                     repeat('*', len(x) - 4) || right(x, 4))) END AS masked
           |FROM en LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // C4 bad-words gate (round 12): residues plant a clean hit, a
    // double hit, a CASE variant hit, and the Scunthorpe decoy (the
    // listed token embedded inside a longer one — must NOT fire);
    // token-exact matching is the whole point of the rule
    QuerySpec("q_blocklist_filter", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = col("doc_id")
      val extra = when(d % 26 === 0, lit(" zzcontraband nearby zzcontraband"))
        .when(d % 13 === 0, lit(" zzcontraband"))
        .when(d % 13 === 5, lit(" prezzcontrabandpost"))
        .when(d % 13 === 7, lit(" ZZContraband"))
        .otherwise(lit(""))
      pipeline.TextOps.blocklistFilter(
        docs.select(d, concat(col("text"), extra).as("text")),
        Seq("zzcontraband", "zzunused"))
        .orderBy("doc_id")
    }, oracle =
      // hit counts predicted from the residue plan alone: the base corpus
      // never contains the planted token and the decoy must not fire
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 26 = 0 THEN 2
        |                 WHEN doc_id % 13 = 0 THEN 1
        |                 WHEN doc_id % 13 = 7 THEN 1 ELSE 0 END AS BIGINT) AS n_hits,
        |       CAST(CASE WHEN doc_id % 26 = 0 OR doc_id % 13 = 0 OR doc_id % 13 = 7
        |                 THEN 1 ELSE 0 END AS BIGINT) AS blocked
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Sentence segmentation (round 13): the splitter runs over text
    // synthesized with planted traps — abbreviation chains
    // (`Dr./Prof./p.m.`), decimal splits (`2.5`, `3.14`), and an
    // unterminated trailing fragment — and the oracle predicts the
    // sentence COUNT and the exact first/last sentence strings closed
    // form; only correct false-split re-merging reproduces them
    QuerySpec("q_sentence_split", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val base = array_join(
        transform(sequence(lit(0L), col("doc_id") % 4), k =>
          concat(lit("Base sentence number "), k.cast("string"),
            lit(" stands alone."))), " ")
      val text = concat(base,
        when(col("doc_id") % 3 === 0,
          lit(" Dr. Smith met Prof. Jones at 5 p.m. sharp."))
          .otherwise(lit("")),
        when(col("doc_id") % 5 === 1,
          lit(" Version 2.5 shipped on day 3.14 exactly!"))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 2,
          lit(" He finally said it works")).otherwise(lit("")))
      val sents = pipeline.TextOps.sentences(text)
      docs.select(col("doc_id"),
          size(sents).cast("long").as("n_sentences"),
          element_at(sents, 1).as("first_sentence"),
          element_at(sents, -1).as("last_sentence"))
        .orderBy("doc_id")
    }, oracle =
      // every count and boundary string closed form from the residue
      // plan: 1+doc_id%4 base sentences plus one per planted trap; the
      // trap sentences only count as ONE each if the splitter re-merges
      // their abbreviation/decimal false splits
      """SELECT doc_id,
        |       CAST(doc_id % 4 + 1
        |            + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
        |            + CASE WHEN doc_id % 5 = 1 THEN 1 ELSE 0 END
        |            + CASE WHEN doc_id % 7 = 2 THEN 1 ELSE 0 END
        |            AS BIGINT) AS n_sentences,
        |       'Base sentence number 0 stands alone.' AS first_sentence,
        |       CASE WHEN doc_id % 7 = 2 THEN 'He finally said it works'
        |            WHEN doc_id % 5 = 1
        |              THEN 'Version 2.5 shipped on day 3.14 exactly!'
        |            WHEN doc_id % 3 = 0
        |              THEN 'Dr. Smith met Prof. Jones at 5 p.m. sharp.'
        |            ELSE 'Base sentence number ' ||
        |                 CAST(doc_id % 4 AS VARCHAR) || ' stands alone.'
        |       END AS last_sentence
        |FROM documents ORDER BY doc_id""".stripMargin),

    // GPT-2 pre-tokenization (round 12): the byte-level-BPE pre-split
    // over the real corpus text plus a planted suffix that exercises
    // contractions, digit runs, hyphens, and repeated punctuation; BOTH
    // engines run the identical lookahead-free pattern, and the
    // `lossless` column asserts pieces concatenate back to the input
    QuerySpec("q_pretokenize", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val text = concat(col("text"), lit(" Let's don't re-run 42 times!!"))
      val withP = docs.select(col("doc_id"), text.as("t"),
          pipeline.Bpe.pretokenize(text).as("pc"))
        .localCheckpoint()
      withP.select(col("doc_id"),
          size(col("pc")).cast("long").as("n_pieces"),
          size(filter(col("pc"), p => p.rlike("^ ?\\p{L}+$")))
            .cast("long").as("n_alpha"),
          size(filter(col("pc"), p => p.rlike("^ ?\\p{N}+$")))
            .cast("long").as("n_num"),
          size(filter(col("pc"), p => p.rlike("^\\s+$")))
            .cast("long").as("n_space"),
          // the pattern's actual contraction branch — a stray bare
          // apostrophe/quote piece is punctuation, not a contraction
          size(filter(col("pc"), p => p.rlike("^'(?:s|t|re|ve|m|ll|d)$")))
            .cast("long").as("n_contr"),
          (array_join(col("pc"), "") === col("t")).cast("long")
            .as("lossless"))
        .withColumn("n_other", col("n_pieces") - col("n_alpha") -
          col("n_num") - col("n_space") - col("n_contr"))
        .orderBy("doc_id")
    }, oracle =
      // both engines run the IDENTICAL lookahead-free pattern over the
      // same text; counts per piece class + the losslessness invariant
      {
      val pat = pipeline.Bpe.PretokenPattern.replace("'", "''")
      s"""WITH p AS (
         |  SELECT doc_id, text || ' Let''s don''t re-run 42 times!!' AS t,
         |         regexp_extract_all(text || ' Let''s don''t re-run 42 times!!', '$pat') AS pc
         |  FROM documents)
         |SELECT doc_id, CAST(len(pc) AS BIGINT) AS n_pieces,
         |       CAST(len(list_filter(pc, x -> regexp_full_match(x, ' ?\\p{L}+'))) AS BIGINT) AS n_alpha,
         |       CAST(len(list_filter(pc, x -> regexp_full_match(x, ' ?\\p{N}+'))) AS BIGINT) AS n_num,
         |       CAST(len(list_filter(pc, x -> regexp_full_match(x, '\\s+'))) AS BIGINT) AS n_space,
         |       CAST(len(list_filter(pc, x -> regexp_full_match(x, '''(?:s|t|re|ve|m|ll|d)'))) AS BIGINT) AS n_contr,
         |       CAST(CASE WHEN array_to_string(pc, '') = t THEN 1 ELSE 0 END AS BIGINT) AS lossless,
         |       CAST(len(pc) - len(list_filter(pc, x -> regexp_full_match(x, ' ?\\p{L}+')))
         |            - len(list_filter(pc, x -> regexp_full_match(x, ' ?\\p{N}+')))
         |            - len(list_filter(pc, x -> regexp_full_match(x, '\\s+')))
         |            - len(list_filter(pc, x -> regexp_full_match(x, '''(?:s|t|re|ve|m|ll|d)'))) AS BIGINT) AS n_other
         |FROM p ORDER BY doc_id""".stripMargin
    }),

    // CCNet head/middle/tail (round 12): the NAMED curation recipe
    // behind LLaMA's CommonCrawl slice — a per-language Kneser–Ney LM
    // trained on the trusted src0 slice scores EVERY doc (train/score
    // split with the standard unseen-event floors, unlike q_kneser_ney's
    // train≡score), then each language splits into exact nearest-rank
    // perplexity tertiles. The oracle replays the lang-keyed counts,
    // every floor branch, the 1e-6 quantization, and the per-lang
    // cutoff ranks in SQL.
    QuerySpec("q_ccnet_buckets", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.ccnetBuckets(docs).orderBy("doc_id")
    }, oracle =
      // the whole CCNet chain replayed in SQL: lang-keyed reference counts
      // (source = 'src0' only), the extended KN expression with every
      // unseen-event floor branch, the 1e-6 quantization, per-lang
      // nearest-rank tertile cutoffs (the exact integer ceil the Spark
      // machinery computes), and the comparison labels
      (tposSql +
      """, bgl AS MATERIALIZED (
        |  SELECT a.doc_id, d.lang, d.source, a.w AS w1, b.w AS w2
        |  FROM tpos a JOIN tpos b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN documents d ON d.doc_id = a.doc_id),
        |rc12 AS MATERIALIZED (
        |  SELECT lang, w1, w2, COUNT(*) AS c12 FROM bgl
        |  WHERE source = 'src0' GROUP BY 1, 2, 3),
        |rlft AS MATERIALIZED (
        |  SELECT lang, w1, SUM(c12) AS c1, COUNT(*) AS n1p
        |  FROM rc12 GROUP BY 1, 2),
        |rcont AS MATERIALIZED (
        |  SELECT lang, w2, COUNT(*) AS ncont FROM rc12 GROUP BY 1, 2),
        |rncc AS MATERIALIZED (
        |  SELECT lang, COUNT(*) AS ncc FROM rc12 GROUP BY 1),
        |dbg AS MATERIALIZED (
        |  SELECT doc_id, lang, w1, w2, COUNT(*) AS cd
        |  FROM bgl GROUP BY 1, 2, 3, 4),
        |ct AS MATERIALIZED (SELECT DISTINCT lang, w1, w2 FROM dbg),
        |ts AS MATERIALIZED (
        |  SELECT ct.lang, ct.w1, ct.w2,
        |         ln(GREATEST(
        |           CASE WHEN l.c1 IS NOT NULL THEN
        |             (GREATEST(CAST(COALESCE(c.c12, 0) AS DOUBLE) - 0.75, 0.0) +
        |              0.75 * CAST(l.n1p AS DOUBLE) *
        |                CAST(COALESCE(co.ncont, 0) AS DOUBLE) /
        |                CAST(n.ncc AS DOUBLE)) / CAST(l.c1 AS DOUBLE)
        |           ELSE CAST(COALESCE(co.ncont, 0) AS DOUBLE) /
        |                CAST(n.ncc AS DOUBLE) END,
        |           1.0 / (CAST(n.ncc AS DOUBLE) + 1.0))) AS logp
        |  FROM ct
        |  LEFT JOIN rc12 c ON c.lang = ct.lang AND c.w1 = ct.w1 AND c.w2 = ct.w2
        |  LEFT JOIN rlft l ON l.lang = ct.lang AND l.w1 = ct.w1
        |  LEFT JOIN rcont co ON co.lang = ct.lang AND co.w2 = ct.w2
        |  JOIN rncc n ON n.lang = ct.lang),
        |ag AS MATERIALIZED (
        |  SELECT dbg.doc_id, CAST(SUM(cd) AS BIGINT) AS n_bigrams,
        |         ROUND(SUM(CAST(cd AS DOUBLE) * ts.logp) /
        |               SUM(CAST(cd AS DOUBLE)), 6) + 0.0 AS score_r
        |  FROM dbg JOIN ts
        |    ON ts.lang = dbg.lang AND ts.w1 = dbg.w1 AND ts.w2 = dbg.w2
        |  GROUP BY 1),
        |sc2 AS MATERIALIZED (
        |  SELECT d.doc_id, d.lang, COALESCE(ag.n_bigrams, 0) AS n_bigrams,
        |         ag.score_r,
        |         CAST(FLOOR(ag.score_r * 1000000.0 + 0.5) AS BIGINT) AS score_u
        |  FROM documents d LEFT JOIN ag USING (doc_id)),
        |rkd AS MATERIALIZED (
        |  SELECT lang, score_u,
        |         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY score_u) AS r,
        |         COUNT(*) OVER (PARTITION BY lang) AS n
        |  FROM sc2 WHERE score_u IS NOT NULL),
        |cut AS MATERIALIZED (
        |  SELECT lang,
        |         MAX(CASE WHEN r = GREATEST(1, (n * 1 + 2) // 3)
        |                  THEN score_u END) AS v33,
        |         MAX(CASE WHEN r = GREATEST(1, (n * 2 + 2) // 3)
        |                  THEN score_u END) AS v67
        |  FROM rkd GROUP BY lang)
        |SELECT s.doc_id, s.lang, s.n_bigrams, s.score_r,
        |       CASE WHEN s.score_u IS NULL THEN 'tail'
        |            WHEN s.score_u <= cut.v33 THEN 'tail'
        |            WHEN s.score_u <= cut.v67 THEN 'middle'
        |            ELSE 'head' END AS bucket
        |FROM sc2 s LEFT JOIN cut USING (lang) ORDER BY s.doc_id""".stripMargin)),

    // Unicode-script profile (round 12): the pre-language-ID routing
    // signal — five script-block counts + a fixed-order dominant argmax.
    // The ASCII fixture is enriched per residue with Cyrillic/CJK/
    // Greek/Arabic runs (repeated so CJK can actually dominate short
    // docs); the oracle replays enrichment and every count
    QuerySpec("q_script_detect", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val enriched = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(ScriptEnrichCyr)).otherwise(lit("")),
        when(col("doc_id") % 5 === 2, lit(ScriptEnrichCjk)).otherwise(lit("")),
        when(col("doc_id") % 7 === 3, lit(ScriptEnrichGrk)).otherwise(lit("")),
        when(col("doc_id") % 9 === 5, lit(ScriptEnrichAra)).otherwise(lit("")))
        .as("text"))
      pipeline.TextOps.scriptProfile(enriched).orderBy("doc_id")
    }, oracle =
      // enrichment + the five script counts + the fixed-order argmax,
      // ranges rendered from the SAME ScriptRanges constants
      {
      val counts = pipeline.TextOps.ScriptRanges.map { case (name, re) =>
        s"CAST(len(text) - len(regexp_replace(text, '$re', '', 'g')) AS BIGINT) AS n_$name"
      }.mkString(",\n        |  ")
      val names = pipeline.TextOps.ScriptRanges.map(_._1)
      val gmax = names.map(n => s"n_$n").mkString("GREATEST(", ", ", ")")
      val argmax = names.map(n =>
        s"WHEN n_$n = $gmax THEN '$n'").mkString("\n        |            ")
      s"""WITH en AS (
        |  SELECT doc_id, text ||
        |    (CASE WHEN doc_id % 4 = 1 THEN ${sqlLit(ScriptEnrichCyr)} ELSE '' END) ||
        |    (CASE WHEN doc_id % 5 = 2 THEN ${sqlLit(ScriptEnrichCjk)} ELSE '' END) ||
        |    (CASE WHEN doc_id % 7 = 3 THEN ${sqlLit(ScriptEnrichGrk)} ELSE '' END) ||
        |    (CASE WHEN doc_id % 9 = 5 THEN ${sqlLit(ScriptEnrichAra)} ELSE '' END) AS text
        |  FROM documents),
        |m AS (
        |  SELECT doc_id,
        |  $counts
        |  FROM en)
        |SELECT doc_id, ${names.map(n => s"n_$n").mkString(", ")},
        |       CASE WHEN $gmax = 0 THEN 'none'
        |            $argmax
        |            ELSE 'none' END AS dominant
        |FROM m ORDER BY doc_id""".stripMargin
    }),

    // NFKC-lite normalization — the pre-hash cleanup (CCNet/Dolma) that
    // collapses cosmetically-different encodings before dedup: the
    // fixture is ASCII, so docs are enriched deterministically with
    // typographic quotes, soft hyphens and dashes, fullwidth ASCII +
    // ligatures, exotic spaces, and a control char + tab — every rule
    // class fires on its residue and the oracle replays enrichment AND
    // the full replace/translate/regex chain
    QuerySpec("q_text_normalize", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val enriched = concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(NormEnrich1)).otherwise(lit("")),
        when(col("doc_id") % 6 === 2, lit(NormEnrich2)).otherwise(lit("")),
        when(col("doc_id") % 9 === 4, lit(NormEnrich3)).otherwise(lit("")),
        when(col("doc_id") % 7 === 5, lit(NormEnrich4)).otherwise(lit("")),
        when(col("doc_id") % 11 === 6, lit(NormEnrich5)).otherwise(lit("")))
      docs.select(col("doc_id"),
          pipeline.TextOps.nfkcLite(enriched).as("norm"))
        .orderBy("doc_id")
    }, oracle =
      // enrichment AND the whole normalize chain replayed from the SAME
      // Scala constants (sqlLit renders them as DuckDB literals, control
      // chars via chr()), so neither the fixture nor a rule can drift
      {
      val repl = pipeline.TextOps.NormalizePairs.foldLeft("t") {
        case (acc, (f, to)) => s"replace($acc, ${sqlLit(f)}, ${sqlLit(to)})"
      }
      s"""WITH en AS (
         |  SELECT doc_id, text ||
         |    (CASE WHEN doc_id % 4 = 1 THEN ${sqlLit(NormEnrich1)} ELSE '' END) ||
         |    (CASE WHEN doc_id % 6 = 2 THEN ${sqlLit(NormEnrich2)} ELSE '' END) ||
         |    (CASE WHEN doc_id % 9 = 4 THEN ${sqlLit(NormEnrich3)} ELSE '' END) ||
         |    (CASE WHEN doc_id % 7 = 5 THEN ${sqlLit(NormEnrich4)} ELSE '' END) ||
         |    (CASE WHEN doc_id % 11 = 6 THEN ${sqlLit(NormEnrich5)} ELSE '' END) AS t
         |  FROM documents),
         |n1 AS (SELECT doc_id, translate($repl,
         |    ${sqlLit(pipeline.TextOps.FullwidthChars)},
         |    ${sqlLit(pipeline.TextOps.AsciiChars)}) AS t FROM en),
         |n2 AS (SELECT doc_id, regexp_replace(regexp_replace(t,
         |    '[\\x00-\\x08\\x0B-\\x1F\\x7F]', '', 'g'),
         |    '[ \\t]+', ' ', 'g') AS t FROM n1)
         |SELECT doc_id,
         |       array_to_string(list_transform(string_split(t, chr(10)),
         |         l -> trim(l)), chr(10)) AS norm
         |FROM n2 ORDER BY doc_id""".stripMargin
    }),

    // hashing-trick TF-IDF featurization (long format): the text→vector
    // bridge into the ANN/semantic operators — token buckets via hash60
    // mod dim, smoothed idf, every weight recomputed exactly in SQL
    QuerySpec("q_tfidf", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.tfidfBuckets(docs, dim = 64)
        .select(col("doc_id"), col("bucket"),
          round(col("w"), 6).as("w_r"))
        .orderBy("doc_id", "bucket")
    }, oracle = (tokSql +
      """, tw AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |tk AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket
        |  FROM tw),
        |tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT bucket, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT tf.doc_id, tf.bucket,
        |       ROUND(tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0), 6) AS w_r
        |FROM tf JOIN df USING (bucket) CROSS JOIN n
        |ORDER BY doc_id, bucket""".stripMargin)),

    // Okapi BM25 top-k retrieval (doc-length-normalized lexical ranking,
    // Lucene idf): queries are every 97th doc's first 5 tokens; each
    // (query, term, doc) contribution is quantized to 1e-6-grid longs
    // BEFORE summing so the score is an order-free integer sum, ranked by
    // (score_u, doc_id) through Spark's WindowGroupLimit. The oracle
    // replays idf, length norm, quantization, and the rank rule
    // association-order-exactly.
    QuerySpec("q_bm25_topk", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // doc_id < 5821 is a no-op at the driver scales (max doc_id 4999)
      // but bounds the query set to ~60 at the 100k-doc native fixture,
      // keeping the oracle's O(|Q|·N) contribution table feasible — the
      // fixed "benchmark query set" a retrieval eval actually uses
      val queries = docs.where(col("doc_id") % 97 === 0 &&
          col("doc_id") < 5821)
        .select(col("doc_id").as("query_id"),
          array_join(slice(pipeline.TextOps.tokens(col("text")), 1, 5), " ")
            .as("qtext"))
      pipeline.TextOps.bm25TopK(docs, queries, k = 10)
        .orderBy("query_id", "rn")
    }, oracle =
      // BM25 replayed term-for-term: Lucene idf, k1=1.2 / b=0.75 length
      // norm, per-contribution 1e-6 quantization (order-free long sum), and
      // the (score_u DESC, doc_id) rank rule — the association order of
      // every float op mirrors the Spark Column expression exactly
      (tokSql +
      """, dls AS MATERIALIZED (SELECT doc_id, len(t) AS dl FROM toks),
        |st AS MATERIALIZED (SELECT COUNT(*) AS n, SUM(dl) AS total FROM dls),
        |tf AS MATERIALIZED (
        |  SELECT doc_id, term, COUNT(*) AS tf
        |  FROM (SELECT doc_id, unnest(t) AS term FROM toks) GROUP BY 1, 2),
        |qt AS MATERIALIZED (
        |  SELECT DISTINCT doc_id AS query_id, unnest(t[1:5]) AS term
        |  FROM toks WHERE doc_id % 97 = 0 AND doc_id < 5821),
        |dfs AS MATERIALIZED (
        |  SELECT term, COUNT(*) AS df FROM tf
        |  WHERE term IN (SELECT term FROM qt) GROUP BY term),
        |co AS MATERIALIZED (
        |  SELECT qt.query_id, tf.doc_id,
        |         CAST(FLOOR(
        |           ln(1.0 + (CAST(st.n AS DOUBLE) - CAST(dfs.df AS DOUBLE) + 0.5)
        |                    / (CAST(dfs.df AS DOUBLE) + 0.5))
        |           * ((CAST(tf.tf AS DOUBLE) * (1.2 + 1.0))
        |              / (CAST(tf.tf AS DOUBLE)
        |                 + 1.2 * ((1.0 - 0.75)
        |                          + 0.75 * (CAST(dls.dl AS DOUBLE)
        |                                    / (CAST(st.total AS DOUBLE)
        |                                       / CAST(st.n AS DOUBLE))))))
        |           * 1000000.0 + 0.5) AS BIGINT) AS cu
        |  FROM qt JOIN tf USING (term) JOIN dfs USING (term)
        |  JOIN dls ON dls.doc_id = tf.doc_id CROSS JOIN st),
        |sc AS MATERIALIZED (
        |  SELECT query_id, doc_id, CAST(SUM(cu) AS BIGINT) AS score_u
        |  FROM co GROUP BY 1, 2)
        |SELECT query_id, CAST(rn AS BIGINT) AS rn, doc_id, score_u FROM (
        |  SELECT query_id, doc_id, score_u,
        |         ROW_NUMBER() OVER (PARTITION BY query_id
        |           ORDER BY score_u DESC, doc_id) AS rn
        |  FROM sc) WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin)),

    // BPE tokenizer-vocabulary learning (Sennrich et al. 2016): one
    // corpus pass reduces to the distinct-word count table; every merge
    // round then runs on that vocab-sized table (the shape production
    // tokenizer trainers use) — the learned merge list is a pure function
    // of the corpus (ties by pair text), so the oracle re-learns it
    QuerySpec("q_bpe_merges", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.Bpe.learnMerges(docs, nMerges = 12).orderBy("step")
    }, oracle =
      // BPE: the identical merge recurrence re-learned in SQL
      bpeMergesOracleSql(12)),

    // BPE inference: per-doc subword counts under the learned merges —
    // a pure map-side projection (the merges broadcast as literals)
    QuerySpec("q_bpe_segment", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val m = pipeline.Bpe.learnMerges(docs, nMerges = 12).collect()
        .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      pipeline.Bpe.segment(docs, m).orderBy("doc_id")
    }, oracle = bpeSegmentOracleSql(12)),

    // WordPiece-style greedy longest-match segmentation (the counterpart
    // of q_bpe_segment's merge-order replay — the two rules genuinely
    // differ): vocab = top-24 frequent substrings (len 2..6, ties by
    // unit), segmentation = a HOF fold advancing a cursor by the longest
    // matching unit, once per DISTINCT word. seg_sig pins the exact
    // piece sequence of every occurrence (order-free mod-sum of hash60),
    // not just counts; the oracle replays learning + greedy matching via
    // a recursive CTE with MAX(len(unit)) correlated matching
    QuerySpec("q_wordpiece_segment", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vocab = pipeline.Wordpiece.learnVocab(docs, k = 24, maxLen = 6)
      pipeline.Wordpiece.segment(docs, vocab).orderBy("doc_id")
    }, oracle =
      // vocab learning (top-24 substrings by weighted count, ties by unit)
      // + greedy longest-match replayed as a recursive CTE. The longest
      // match per (word, cursor) is precomputed NON-recursively into a
      // materialized match table (same rule as the Spark side's
      // longest-first when-chain: MAX(len(unit)) over matching units,
      // single-char fallback), and the recursion is then a pure equi-join
      // advancing the cursor — deliberately so: a correlated subquery
      // against a MATERIALIZED CTE evaluates EMPTY in the first iteration
      // of a DuckDB 1.0 recursive CTE (observed: every word's first match
      // silently fell to the 1-char fallback), and a plain uv would inline
      // the whole learning chain per probe (the q_label_backfill spill
      // class). Every other CTE MATERIALIZED per repo convention
      """WITH RECURSIVE toks AS MATERIALIZED (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |tk AS MATERIALIZED (SELECT doc_id, unnest(t) AS w FROM toks),
        |wc AS MATERIALIZED (SELECT w AS tok, COUNT(*) AS c FROM tk GROUP BY w),
        |su AS MATERIALIZED (
        |  SELECT substr(tok, CAST(i AS INT), CAST(l AS INT)) AS unit, c FROM (
        |    SELECT tok, c, l, unnest(range(1, len(tok) - l + 2)) AS i
        |    FROM (SELECT tok, c, unnest([2, 3, 4, 5, 6]) AS l FROM wc)
        |    WHERE len(tok) >= l)),
        |uv AS MATERIALIZED (
        |  SELECT unit FROM (
        |    SELECT unit, SUM(c) AS cnt FROM su GROUP BY unit
        |    ORDER BY cnt DESC, unit LIMIT 24)),
        |mt AS MATERIALIZED (
        |  SELECT tok, i AS pos,
        |         COALESCE(MAX(CASE WHEN substr(tok, CAST(i AS INT), len(unit)) = unit
        |                           THEN len(unit) END), 1) AS L
        |  FROM (SELECT tok, unnest(range(1, len(tok) + 1)) AS i FROM wc)
        |  LEFT JOIN uv ON substr(tok, CAST(i AS INT), len(unit)) = unit
        |  GROUP BY tok, i),
        |sgr(tok, pos, seg) AS (
        |  SELECT tok, CAST(1 AS BIGINT), '' FROM wc
        |  UNION ALL
        |  SELECT sgr.tok, sgr.pos + m.L,
        |         sgr.seg || ' ' || substr(sgr.tok, CAST(sgr.pos AS INT), CAST(m.L AS INT))
        |  FROM sgr JOIN mt m ON m.tok = sgr.tok AND m.pos = sgr.pos
        |  WHERE sgr.pos <= len(sgr.tok)),
        |sg AS MATERIALIZED (SELECT tok, trim(seg) AS seg FROM sgr WHERE pos > len(tok)),
        |ws AS MATERIALIZED (
        |  SELECT tok, len(string_split(seg, ' ')) AS n_sub,
        |         ('0x' || substr(md5(seg), 1, 15))::BIGINT % 1000000007 AS sig
        |  FROM sg),
        |ag AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |              CAST(SUM(ws.n_sub) AS BIGINT) AS n_wp_tokens,
        |              CAST(SUM(ws.sig) AS BIGINT) AS seg_sig
        |       FROM tk JOIN ws ON tk.w = ws.tok GROUP BY tk.doc_id)
        |SELECT d.doc_id, COALESCE(ag.n_tokens, 0) AS n_tokens,
        |       COALESCE(ag.n_wp_tokens, 0) AS n_wp_tokens,
        |       COALESCE(ag.seg_sig, 0) AS seg_sig
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin),

    // the Gopher rule gate (Rae et al. 2021 §A1.1; reused by Dolma /
    // FineWeb) — the NAMED pre-filter rule set, as seven per-rule flags
    // + the conjunction, every ratio an integer cross-multiplication.
    // Runs over the multi-line regrouping (line rules need lines) with
    // deterministic enrichment so every rule arm actually fires in the
    // fixture: doc_id%7 gets bullet lines, %5==3 an ellipsis line,
    // %11==4 hash symbols — the Luhn-row pattern
    QuerySpec("q_gopher_rules", (s, dir) => {
      val enriched = multiLineDocs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(col("doc_id") % 7 === 0,
            lit("\n- item alpha\n- item beta")).otherwise(lit("")),
          when(col("doc_id") % 5 === 3,
            lit("\nto be continued...")).otherwise(lit("")),
          when(col("doc_id") % 11 === 4,
            lit("\nhash ## tags #x")).otherwise(lit("")),
          when(col("doc_id") % 13 === 6,
            lit("\nwait for it…")).otherwise(lit(""))).as("text"))
      pipeline.TextOps.gopherRules(enriched).orderBy("doc_id")
    }, oracle =
      // multi-line regroup + enrichment + all seven Gopher verdicts
      // replayed integer-for-integer (cross-multiplied ratios, bullet /
      // ellipsis line scans, translate-based alpha-word count)
      (tokSql +
      """, ml AS MATERIALIZED (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY idx) AS mtext
        |  FROM (SELECT doc_id, j AS idx,
        |          array_to_string(t[(j * 8 + 1):(j * 8 + 8)], ' ') AS line
        |        FROM (SELECT doc_id, t,
        |                unnest(range(0, CAST(ceil(len(t) / 8.0) AS INT))) AS j
        |              FROM toks))
        |  GROUP BY doc_id),
        |en AS MATERIALIZED (
        |  SELECT d.doc_id, COALESCE(ml.mtext, '') ||
        |    (CASE WHEN d.doc_id % 7 = 0 THEN chr(10) || '- item alpha' || chr(10) || '- item beta' ELSE '' END) ||
        |    (CASE WHEN d.doc_id % 5 = 3 THEN chr(10) || 'to be continued...' ELSE '' END) ||
        |    (CASE WHEN d.doc_id % 11 = 4 THEN chr(10) || 'hash ## tags #x' ELSE '' END) ||
        |    (CASE WHEN d.doc_id % 13 = 6 THEN chr(10) || 'wait for it…' ELSE '' END) AS text
        |  FROM documents d LEFT JOIN ml USING (doc_id)),
        |m AS MATERIALIZED (
        |  SELECT doc_id,
        |    CAST(len(t) AS BIGINT) AS words,
        |    CAST(COALESCE(list_sum(list_transform(t, x -> len(x))), 0) AS BIGINT) AS total_chars,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT) AS n_hash,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3 +
        |         (len(text) - len(replace(text, '…', ''))) AS BIGINT) AS n_ell,
        |    list_transform(string_split(text, chr(10)), l -> trim(l)) AS lines,
        |    CAST(len(list_filter(t, x -> len(x) > len(translate(x,
        |      'ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz', '')))) AS BIGINT) AS alpha_words,
        |    (CASE WHEN list_contains(t, 'the') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'be') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'to') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'of') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'and') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'that') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'have') THEN 1 ELSE 0 END +
        |     CASE WHEN list_contains(t, 'with') THEN 1 ELSE 0 END) AS stop_hits
        |  FROM (SELECT doc_id, text,
        |          list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |        FROM en)),
        |r AS MATERIALIZED (
        |  SELECT doc_id, words, total_chars, n_hash, n_ell, alpha_words, stop_hits,
        |    CAST(len(lines) AS BIGINT) AS n_lines,
        |    CAST(len(list_filter(lines, l -> starts_with(l, '-')
        |      OR starts_with(l, '*') OR starts_with(l, '•'))) AS BIGINT) AS bullet_lines,
        |    CAST(len(list_filter(lines, l -> ends_with(l, '...')
      OR ends_with(l, '…'))) AS BIGINT) AS ell_lines
        |  FROM m),
        |f AS (
        |  SELECT doc_id,
        |    CAST(CASE WHEN words >= 50 AND words <= 100000 THEN 1 ELSE 0 END AS BIGINT) AS r_words,
        |    CAST(CASE WHEN total_chars >= words * 3 AND total_chars <= words * 10 THEN 1 ELSE 0 END AS BIGINT) AS r_meanlen,
        |    CAST(CASE WHEN (n_hash + n_ell) * 10 <= words THEN 1 ELSE 0 END AS BIGINT) AS r_symbol,
        |    CAST(CASE WHEN bullet_lines * 10 <= n_lines * 9 THEN 1 ELSE 0 END AS BIGINT) AS r_bullet,
        |    CAST(CASE WHEN ell_lines * 10 <= n_lines * 3 THEN 1 ELSE 0 END AS BIGINT) AS r_ellipsis,
        |    CAST(CASE WHEN alpha_words * 5 >= words * 4 THEN 1 ELSE 0 END AS BIGINT) AS r_alpha,
        |    CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT) AS r_stop
        |  FROM r)
        |SELECT doc_id, r_words, r_meanlen, r_symbol, r_bullet, r_ellipsis,
        |       r_alpha, r_stop,
        |       CAST(r_words * r_meanlen * r_symbol * r_bullet * r_ellipsis *
        |            r_alpha * r_stop AS BIGINT) AS gopher_pass
        |FROM f ORDER BY doc_id""".stripMargin)),

    // the tokenizer trio's third member: unigram-LM Viterbi min-cost
    // segmentation (SentencePiece's inference rule) over a
    // frequency-scored vocabulary — searches ALL segmentations by DP
    // where BPE replays merge order and WordPiece commits greedily; the
    // per-word best cost and the exact piece sequence of every word ride
    // the output (cost sum + hashed segmentation signature)
    QuerySpec("q_unigram_segment", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = pipeline.Unigram.learnModel(docs, k = 24, maxLen = 6)
      pipeline.Unigram.segment(docs, model).orderBy("doc_id")
    }, oracle =
      // the whole Viterbi replayed in SQL: unit counts (lengths 1..6,
      // word-frequency weighted), the ilog2 cost rule via bin(), the
      // forward DP as a recursive CTE carrying the best-cost LIST (the
      // per-position candidates pre-grouped into pci — a 1:1 join per
      // step, no correlated subquery), the smallest-l backpointer table,
      // and the backward cursor walk — bit-identical to the Spark HOFs
      """WITH RECURSIVE toks AS MATERIALIZED (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> len(x) > 0) AS t
        |  FROM documents),
        |tk AS MATERIALIZED (SELECT doc_id, unnest(t) AS w FROM toks),
        |wc AS MATERIALIZED (SELECT w AS tok, COUNT(*) AS c FROM tk GROUP BY w),
        |su AS MATERIALIZED (
        |  SELECT substr(tok, CAST(i AS INT), CAST(l AS INT)) AS unit, c FROM (
        |    SELECT tok, c, l, unnest(range(1, len(tok) - l + 2)) AS i
        |    FROM (SELECT tok, c, unnest([1, 2, 3, 4, 5, 6]) AS l FROM wc)
        |    WHERE len(tok) >= l)),
        |uc AS MATERIALIZED (SELECT unit, CAST(SUM(c) AS BIGINT) AS cnt FROM su GROUP BY unit),
        |uv AS MATERIALIZED (
        |  SELECT unit, 64 - (len(bin(cnt)) - 1) AS cost FROM uc WHERE len(unit) = 1
        |  UNION ALL
        |  SELECT unit, 64 - (len(bin(cnt)) - 1) FROM (
        |    SELECT unit, cnt FROM uc WHERE len(unit) >= 2
        |    ORDER BY cnt DESC, unit LIMIT 24)),
        |pc AS MATERIALIZED (
        |  SELECT g.tok, g.i, g.l, v.cost
        |  FROM (SELECT tok, i, unnest([1, 2, 3, 4, 5, 6]) AS l
        |        FROM (SELECT tok, unnest(range(1, len(tok) + 1)) AS i FROM wc)) g
        |  JOIN uv v ON g.l <= g.i AND v.unit = substr(g.tok, CAST(g.i - g.l + 1 AS INT), CAST(g.l AS INT))),
        |pci AS MATERIALIZED (
        |  SELECT tok, i, list(struct_pack(l := l, cost := cost)) AS cands
        |  FROM pc GROUP BY tok, i),
        |fbr(tok, i, bests) AS (
        |  SELECT tok, 0, [CAST(0 AS BIGINT)] FROM wc
        |  UNION ALL
        |  SELECT f.tok, f.i + 1,
        |         list_append(f.bests, list_min(list_transform(c.cands,
        |           x -> f.bests[f.i + 2 - x.l] + x.cost)))
        |  FROM fbr f JOIN pci c ON c.tok = f.tok AND c.i = f.i + 1
        |  WHERE f.i < len(f.tok)),
        |fb AS MATERIALIZED (SELECT tok, bests FROM fbr WHERE i = len(tok)),
        |bp AS MATERIALIZED (
        |  SELECT p.tok, p.i AS pos, MIN(p.l) AS l
        |  FROM pc p JOIN fb f ON f.tok = p.tok
        |  WHERE f.bests[p.i + 1] = f.bests[p.i - p.l + 1] + p.cost
        |  GROUP BY p.tok, p.i),
        |sgr(tok, pos, seg) AS (
        |  SELECT tok, CAST(len(tok) AS BIGINT), '' FROM wc
        |  UNION ALL
        |  SELECT s.tok, s.pos - b.l,
        |         substr(s.tok, CAST(s.pos - b.l + 1 AS INT), CAST(b.l AS INT)) ||
        |         CASE WHEN s.seg = '' THEN '' ELSE ' ' END || s.seg
        |  FROM sgr s JOIN bp b ON b.tok = s.tok AND b.pos = s.pos
        |  WHERE s.pos > 0),
        |sg AS MATERIALIZED (SELECT tok, seg FROM sgr WHERE pos = 0),
        |ws AS MATERIALIZED (
        |  SELECT sg.tok, len(string_split(sg.seg, ' ')) AS n_sub,
        |         f.bests[len(sg.tok) + 1] AS cost,
        |         ('0x' || substr(md5(sg.seg), 1, 15))::BIGINT % 1000000007 AS sig
        |  FROM sg JOIN fb f ON f.tok = sg.tok),
        |ag AS (SELECT tk.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
        |              CAST(SUM(ws.n_sub) AS BIGINT) AS n_uni_tokens,
        |              CAST(SUM(ws.cost) AS BIGINT) AS uni_cost,
        |              CAST(SUM(ws.sig) AS BIGINT) AS seg_sig
        |       FROM tk JOIN ws ON tk.w = ws.tok GROUP BY tk.doc_id)
        |SELECT d.doc_id, COALESCE(ag.n_tokens, 0) AS n_tokens,
        |       COALESCE(ag.n_uni_tokens, 0) AS n_uni_tokens,
        |       COALESCE(ag.uni_cost, 0) AS uni_cost,
        |       COALESCE(ag.seg_sig, 0) AS seg_sig
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin),

    // corpus indexing — phrase (3-gram) inverted index with df-band
    // pruning: one posting row per (gram, doc) carrying the gram's corpus
    // df, per-doc tf, and sorted 0-based start offsets. The oracle
    // rebuilds the grams via the position self-join and must agree on
    // every posting, count, and position list byte-for-byte.
    QuerySpec("q_inverted_index", (s, dir) => {
      pipeline.Index.phraseIndex(
        s.read.parquet(s"$dir/documents.parquet"),
        n = 3, minDf = 2, maxDf = 25)
        .orderBy("gram", "doc_id")
    }, oracle = (tposSql +
      """, g AS (
        |  SELECT a.doc_id, a.pos - 1 AS pos,
        |         a.w || ' ' || b.w || ' ' || c.w AS gram
        |  FROM tpos a
        |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |perdoc AS (
        |  SELECT gram, doc_id, CAST(COUNT(*) AS BIGINT) AS tf,
        |         string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS pos_csv
        |  FROM g GROUP BY 1, 2),
        |dfs AS (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
        |        FROM perdoc GROUP BY 1)
        |SELECT p.gram, d.df, p.doc_id, p.tf, p.pos_csv
        |FROM perdoc p JOIN dfs d USING (gram)
        |WHERE d.df BETWEEN 2 AND 25
        |ORDER BY p.gram, p.doc_id""".stripMargin)),

    // decontamination through the prebuilt phrase index: which corpus
    // documents (doc_id ≥ 20) contain any 3-gram of the "benchmark" set
    // (doc_id < 20) — the probe side is broadcast, the index is never
    // reshuffled, and the same materialized index serves any number of
    // probe sets (vs q_decontaminate's per-benchmark join)
    QuerySpec("q_index_probe", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val idx = pipeline.Index.phraseIndex(docs.where(col("doc_id") >= 20),
        n = 3, minDf = 1, maxDf = Long.MaxValue)
      val probes = pipeline.Index.phraseIndex(docs.where(col("doc_id") < 20),
        n = 3, minDf = 1, maxDf = Long.MaxValue).select("gram")
      pipeline.Index.probe(idx, probes)
        .select("gram", "doc_id", "tf")
        .orderBy("gram", "doc_id")
    }, oracle = (tposSql +
      """, g AS (
        |  SELECT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS gram
        |  FROM tpos a
        |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |bench AS (SELECT DISTINCT gram FROM g WHERE doc_id < 20),
        |corp AS (
        |  SELECT gram, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM g WHERE doc_id >= 20 GROUP BY 1, 2)
        |SELECT c.gram, c.doc_id, c.tf
        |FROM corp c JOIN bench b USING (gram)
        |ORDER BY c.gram, c.doc_id""".stripMargin)),

    // collocation mining: PMI over adjacent token pairs with a min-count
    // floor — the multi-word-expression / vocabulary signal; top pairs by
    // (rounded) PMI with full tie-breaks so the cut is deterministic
    QuerySpec("q_pmi_bigrams", (s, dir) => {
      pipeline.TextOps.pmiCollocations(
        s.read.parquet(s"$dir/documents.parquet"), minCount = 5L)
        .orderBy(col("pmi_r").desc, col("w1"), col("w2"))
        .limit(100)
    }, oracle = (tposSql +
      """, bg AS (
        |  SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM tpos a JOIN tpos b
        |    ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  GROUP BY 1, 2),
        |m1 AS (SELECT w1, SUM(c12) AS c1 FROM bg GROUP BY w1),
        |m2 AS (SELECT w2, SUM(c12) AS c2 FROM bg GROUP BY w2),
        |n AS (SELECT SUM(c12) AS n FROM bg)
        |SELECT w1, w2, c12,
        |       ROUND(ln(CAST(c12 AS DOUBLE) * CAST(n AS DOUBLE)
        |                / (CAST(c1 AS DOUBLE) * CAST(c2 AS DOUBLE))), 6) AS pmi_r
        |FROM bg JOIN m1 USING (w1) JOIN m2 USING (w2) CROSS JOIN n
        |WHERE c12 >= 5
        |ORDER BY pmi_r DESC, w1, w2 LIMIT 100""".stripMargin)),

    // decontamination behind a Bloom prefilter: the corpus probes the
    // benchmark-gram Bloom bits map-locally (codegen'd bit ops, no join,
    // no shuffle) and only ~0.2% false positives + true hits reach the
    // exact verify join — the scale path when the blocklist outgrows a
    // broadcast hash table; the answer (and oracle) is exactly
    // q_decontaminate's
    QuerySpec("q_decontaminate_bloom", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.decontaminateBloom(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }, oracle =
      // identical to q_decontaminate by design: the Bloom stage is a pure
      // prefilter, so any difference is a false NEGATIVE — the bug class
      // this oracle exists to catch
      (trigramTextSql +
      """, bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 37 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM tri WHERE doc_id % 37 <> 0),
        |ov AS (SELECT doc_id, COUNT(*) AS n
        |       FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_contaminated,
        |       CAST(CASE WHEN COALESCE(ov.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS contaminated
        |FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin)),

    // skip-gram context pairs (window 3): generated map-side in one
    // codegen'd projection — no positional self-join — so the only
    // shuffle is the final pair-count aggregation
    QuerySpec("q_skipgram", (s, dir) => {
      pipeline.TextOps.skipgramCounts(
        s.read.parquet(s"$dir/documents.parquet"), window = 3, minCount = 5L)
        .orderBy(col("c").desc, col("w1"), col("w2"))
    }, oracle =
      // the oracle generates the same pair set by positional self-join —
      // an independent algorithm from the map-side generator under test
      (tposSql +
      """SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c
        |FROM tpos a JOIN tpos b
        |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY c DESC, w1, w2""".stripMargin)),

    // per-document unigram entropy (lexical diversity): two hash aggs
    // keyed by doc with map-side combine — never the O(distinct·len)
    // per-doc array spelling
    QuerySpec("q_token_entropy", (s, dir) => {
      pipeline.TextOps.tokenEntropy(
        s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (tokSql +
      """, tw AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM tw GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |             SUM(c * ln(c)) AS sclc
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |       ROUND(ln(CAST(n AS DOUBLE)) - sclc / CAST(n AS DOUBLE), 6)
        |         AS entropy_r
        |FROM e ORDER BY doc_id""".stripMargin)),

    // per-source n-gram signature: top-5 most over-represented 3-grams by
    // lift = p(gram|source)/p(gram|corpus) — the source-fingerprinting
    // signal a mix designer reads ("what does this source add"); exact
    // integer counts, ONE division, ranked through Spark's
    // WindowGroupLimit (min support 3 to drop singleton noise)
    QuerySpec("q_source_signature", (s, dir) => {
      val sh = pipeline.Dedup.shingles(
        s.read.parquet(s"$dir/documents.parquet"),
        n = 3, keepPos = true, carry = Seq("source"))
      val bySrc = sh.groupBy("source", "sh_hash").agg(count(lit(1)).as("c_sg"))
        .localCheckpoint() // feeds 3 aggregations + the join below
      val byGram = bySrc.groupBy("sh_hash").agg(sum("c_sg").as("c_g"))
      val bySrcT = bySrc.groupBy("source").agg(sum("c_sg").as("n_s"))
      val total = bySrc.agg(sum("c_sg").as("n"))
      val lift = bySrc.where(col("c_sg") >= 3)
        .join(byGram, "sh_hash")
        .join(broadcast(bySrcT), "source")
        .crossJoin(broadcast(total))
        .withColumn("lift",
          (col("c_sg") * col("n")).cast("double") /
            (col("c_g") * col("n_s")).cast("double"))
      val w = Window.partitionBy("source")
        .orderBy(col("lift").desc, col("sh_hash"))
      lift.withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 5)
        .select(col("source"), col("sh_hash"), col("c_sg"), col("c_g"),
          (round(col("lift"), 6) + 0.0).as("lift_r"), col("rk"))
        .orderBy("source", "rk")
    }, oracle =
      // all occurrence counts re-derived from the position self-join; the
      // identical one-division lift and the identical (lift, hash) ranking
      (tposSql +
      """, sh3 AS (
        |  SELECT a.doc_id,
        |         ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
        |  FROM tpos a
        |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |ss AS (SELECT d.source, sh3.h
        |       FROM sh3 JOIN documents d ON sh3.doc_id = d.doc_id),
        |bysrc AS (SELECT source, h, COUNT(*) AS c_sg FROM ss GROUP BY 1, 2),
        |bygram AS (SELECT h, SUM(c_sg) AS c_g FROM bysrc GROUP BY 1),
        |bysrct AS (SELECT source, SUM(c_sg) AS n_s FROM bysrc GROUP BY 1),
        |tot AS (SELECT SUM(c_sg) AS n FROM bysrc),
        |l AS (
        |  SELECT b.source, b.h, b.c_sg, g.c_g,
        |         CAST(b.c_sg * t.n AS DOUBLE) / (g.c_g * st.n_s) AS lift
        |  FROM bysrc b JOIN bygram g USING (h)
        |  JOIN bysrct st USING (source) CROSS JOIN tot t
        |  WHERE b.c_sg >= 3),
        |r AS (
        |  SELECT source, h, c_sg, c_g, lift,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY lift DESC, h) AS rk
        |  FROM l)
        |SELECT source, h AS sh_hash, CAST(c_sg AS BIGINT) AS c_sg,
        |       CAST(c_g AS BIGINT) AS c_g,
        |       ROUND(lift, 6) + 0.0 AS lift_r, CAST(rk AS BIGINT) AS rk
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin)),

    // Zipf power-law fit of the rank-frequency curve (datacard
    // naturalness diagnostic): ranks via the two-phase prefix scan, OLS
    // moments as DECIMAL(38) sums of micro-unit log coordinates
    QuerySpec("q_zipf", (s, dir) => {
      ops.Zipf.zipfFit(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("n_types"), col("n_tokens"),
          (round(col("slope"), 6) + 0.0).as("slope_r"),
          (round(col("intercept") / 1e6, 6) + 0.0).as("intercept_r"))
    }, oracle =
      // identical rank order (count DESC, hash, token), identical
      // micro-unit log coordinates, DECIMAL(38) moment sums, identical
      // Cramer association
      (tokSql +
      """, tk AS (SELECT unnest(t) AS w FROM toks),
        |f AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tk GROUP BY 1),
        |r AS (
        |  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC,
        |    ('0x' || substr(md5(COALESCE(CAST(w AS VARCHAR), 'null') || '#zipf'), 1, 15))::BIGINT,
        |    w) AS rnk
        |  FROM f),
        |q AS (
        |  SELECT CAST(FLOOR(ln(CAST(rnk AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
        |         CAST(FLOOR(ln(CAST(c AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y,
        |         c
        |  FROM r),
        |m AS (
        |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(c) AS BIGINT) AS n_tokens,
        |         CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
        |         CAST(SUM(CAST(x * x AS DECIMAL(38,0))) AS DOUBLE) AS sxx,
        |         CAST(SUM(CAST(x * y AS DECIMAL(38,0))) AS DOUBLE) AS sxy
        |  FROM q)
        |SELECT n AS n_types, n_tokens,
        |  ROUND((CAST(n AS DOUBLE) * sxy - sx * sy)
        |        / (CAST(n AS DOUBLE) * sxx - sx * sx), 6) + 0.0 AS slope_r,
        |  ROUND((sy - ((CAST(n AS DOUBLE) * sxy - sx * sy)
        |               / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
        |        / CAST(n AS DOUBLE) / 1000000.0, 6) + 0.0 AS intercept_r
        |FROM m""".stripMargin)),

    // n-gram diversity per source + corpus rollup (dedup-headroom
    // signal): per-source HLL sketches once, '__all__' = sketch union —
    // exact distincts only to machine-check the estimates
    QuerySpec("q_ngram_diversity", (s, dir) => {
      ops.Sketches.ngramDiversity(
        s.read.parquet(s"$dir/documents.parquet"), n = 3, tol = 0.05)
        .orderBy("source")
    }, oracle =
      // exact per-source occurrence + distinct 3-gram counts; ok = 1 is the
      // sketch-accuracy contract the Spark side machine-checks
      (tposSql +
      """, sh3 AS (
        |  SELECT a.doc_id,
        |         ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
        |  FROM tpos a
        |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2),
        |ss AS (
        |  SELECT d.source, sh3.h
        |  FROM sh3 JOIN documents d ON sh3.doc_id = d.doc_id),
        |per AS (
        |  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams,
        |         CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
        |  FROM ss GROUP BY 1)
        |SELECT source, n_grams, n_exact, CAST(1 AS BIGINT) AS ok FROM per
        |UNION ALL
        |SELECT '__all__', CAST(SUM(n_grams) AS BIGINT),
        |       (SELECT CAST(COUNT(DISTINCT h) AS BIGINT) FROM ss),
        |       CAST(1 AS BIGINT)
        |FROM per
        |ORDER BY source""".stripMargin)),

    // mixed-language detection: language-ID per non-overlapping 32-token
    // chunk, per-doc distinct-language count + deterministic majority —
    // generator fan-out + two doc-keyed hash aggs, no window
    QuerySpec("q_lang_mix", (s, dir) => {
      pipeline.TextOps.langMix(
        s.read.parquet(s"$dir/documents.parquet"), chunkTokens = 32)
        .orderBy("doc_id")
    }, oracle =
      // chunk token lists sliced straight from the token CTE (chunk_text is
      // the space-joined slice, so re-tokenizing is identity); the majority
      // vote re-derived by ROW_NUMBER with the same (count, lang) ordering
      (tokSql +
      s""", st AS (
         |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 32)) AS s
         |  FROM toks WHERE len(t) > 0),
         |ch AS (
         |  SELECT doc_id, list_slice(t, s + 1, s + 32) AS ct,
         |         array_to_string(list_slice(t, s + 1, s + 32), ' ') AS ctext
         |  FROM st),
         |sc AS (
         |  SELECT doc_id,
         |    CAST(len(list_filter(ct, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
         |    CAST(len(list_filter(ct, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS score_de,
         |    CAST(len(list_filter(ct, x -> x IN ('el','la','los','y','es'))) AS BIGINT) AS score_es,
         |    CAST(len(list_filter(ct, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS score_fr,
         |    CAST(len(regexp_extract_all(ctext, '[\\x{4e00}-\\x{9fff}]')) AS BIGINT) AS score_zh
         |  FROM ch),
         |cl AS (SELECT doc_id, $langCaseSql AS lang FROM sc),
         |cc AS (SELECT doc_id, lang, CAST(COUNT(*) AS BIGINT) AS c
         |       FROM cl GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_chunks,
         |         CAST(COUNT(*) AS BIGINT) AS n_langs
         |  FROM cc GROUP BY doc_id),
         |mj AS (
         |  SELECT doc_id, lang FROM (
         |    SELECT doc_id, lang,
         |           ROW_NUMBER() OVER (PARTITION BY doc_id
         |                              ORDER BY c DESC, lang DESC) AS rn
         |    FROM cc) WHERE rn = 1)
         |SELECT agg.doc_id, n_chunks, n_langs, mj.lang AS majority_lang
         |FROM agg JOIN mj USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // exact per-source top tokens: corpus token counts ranked within each
    // source through Spark's WindowGroupLimit — a whole source's
    // vocabulary is never ranked
    QuerySpec("q_top_tokens_source", (s, dir) => {
      val c = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"),
          explode(pipeline.TextOps.tokens(col("text"))).as("w"))
        .groupBy("source", "w")
        .agg(count(lit(1)).as("c"))
      val win = Window.partitionBy("source").orderBy(col("c").desc, col("w"))
      c.withColumn("rn", row_number().over(win).cast("long"))
        .where(col("rn") <= 10)
        .select(col("source"), col("w"), col("c"), col("rn"))
        .orderBy("source", "rn")
    }, oracle =
      """WITH toks AS (
        |  SELECT source,
        |         list_filter(regexp_split_to_array(text, '\s+'),
        |                     x -> len(x) > 0) AS t
        |  FROM documents),
        |tw AS (SELECT source, unnest(t) AS w FROM toks),
        |c AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM tw GROUP BY 1, 2)
        |SELECT source, w, c, rn FROM (
        |  SELECT source, w, c,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY c DESC, w) AS rn
        |  FROM c)
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin)
  )
}
