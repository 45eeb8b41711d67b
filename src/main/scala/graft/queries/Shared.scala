package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SQL fragments and fixtures used by more than one query family. */
object Shared {

  /** Width of the driver's `embeddings` fixture vectors — asserted against
    * the data wherever the static oracle SQL bakes the constant in. */
  private[queries] val embeddingDim = 64

  /** Split fractions shared between `q_split_assign` and its oracle: the
    * oracle SQL interpolates the SAME driver-computed integer thresholds
    * (`Sampling.cumThresholds`), so cumulative-double rounding cannot
    * disagree across the engine boundary. */
  private[queries] val splitFractions =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Shared DuckDB CTEs for the text pipeline: whitespace tokens, hashed
    * distinct 3-gram shingles (md5-60bit, identical to Hashing.hash60). */
  // the list_filter mirrors TextOps.tokens' empty-token filter (leading/
  // trailing whitespace must not mint "" tokens on either engine)
  private[queries] val tokSql =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |         list_filter(regexp_split_to_array(text, '\s+'),
      |                     x -> len(x) > 0) AS t
      |  FROM documents)
      |""".stripMargin

  /** Position-joined shingles (this DuckDB build rejects column-dependent
    * generate_series, so n-grams come from a 3-way self-join on token
    * position). */
  private[queries] val tposSql = tokSql +
    """, tpos AS (
      |  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      |  FROM toks)
      |""".stripMargin

  private[queries] val shingleSql = tposSql +
    """, sh AS (
      |  SELECT DISTINCT a.doc_id,
      |         ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
      |  FROM tpos a
      |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
      |""".stripMargin

  /** Multi-line fixture for `q_line_dedup` (the single-line corpus can't
    * exercise a LINE-level rule): each doc's tokens regrouped into
    * 8-token lines joined by `\n`. The small fixture vocabulary makes
    * lines repeat heavily across docs — exactly the C4 regime. */
  private[queries] def multiLineDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    // token array bound once: the per-line slice lambda otherwise
    // re-ran the whole tokenization per GENERATED LINE (~tokens/8
    // evaluations per row — the q_gopher_rules hot spot)
    val lines = pipeline.TextOps.bindOnce(
        pipeline.TextOps.tokens(col("text"))) { t =>
      val nLines = ceil(size(t) / lit(8.0)).cast("int")
      when(size(t) > 0,
        transform(sequence(lit(0), nLines - 1),
          j => array_join(slice(t, j * 8 + 1, lit(8)), " ")))
        .otherwise(array().cast("array<string>"))
    }
    docs.select(col("doc_id"), array_join(lines, "\n").as("text"))
  }

  /** The synthetic crawl page shared by `q_html_extract` and
    * `q_crawl_e2e`: the doc's text (entity-escaped) wrapped in a full
    * page — head/title, style and script blocks with embedded `<`, a
    * nav link list, an h1, and a link-dense footer. Every boilerplate
    * line fails the jusText-lite rule, so extraction must return
    * exactly the text. Over a `(doc_id, text)` projection. */
  private[queries] def synthHtmlPage: Column = {
    val esc = Seq("&" -> "&amp;", "<" -> "&lt;", ">" -> "&gt;")
      .foldLeft(col("text")) { case (acc, (from, to)) =>
        call_function("replace", acc, lit(from), lit(to))
      }
    concat(
      lit("<!DOCTYPE html><html><head><title>Doc "),
      col("doc_id").cast("string"),
      lit("</title><style>body{color:#333} .nav{k:1}</style>" +
        "<script>if(1<2){var nav=\"<div>\";}</script></head><body>" +
        "<nav><ul><li><a href=\"/\">Home</a></li>" +
        "<li><a href=\"/about\">About us</a></li></ul></nav>" +
        "<div class=\"content\"><h1>Document "),
      col("doc_id").cast("string"), lit("</h1><p>"), esc,
      lit("</p></div><footer><a href=\"/tos\">Terms of Service</a> " +
        "<a href=\"/privacy\">Privacy Policy</a> &copy; 2026</footer>" +
        "</body></html>"))
  }

  /** Fixture page for the metadata rows (`q_html_meta`,
    * `q_canonical_dedup`, `q_noindex_gate`): every head field varies by
    * residue so each extraction arm fires — entity in the title, BOTH
    * attribute orders for the description meta, quoted/unquoted values,
    * each of lang/canonical/robots optionally absent. The canonical
    * link (k%4==0) points OFF-page to a shared target whose k%50 key
    * collides across residues, so canonical-target dedup has real
    * multi-member groups. Over a `doc_id` projection. */
  private[queries] def synthMetaPage: Column = {
    val k = col("doc_id") % 127
    val desc = concat(lit("Summary "), (k % 11).cast("string"))
    val descMeta = when(col("doc_id") % 2 === 0,
      concat(lit("<meta name=\"description\" content=\""), desc, lit("\">")))
      .otherwise(
        concat(lit("<meta content='"), desc, lit("' name='description'>")))
    val langAttr = when(k % 3 === 0, lit(" lang=\"en-US\""))
      .when(k % 3 === 1, lit(" lang='fr'"))
      .otherwise(lit(""))
    val canonical = when(k % 4 === 0,
      concat(lit("<link rel=\"canonical\" href=\"https://canon.example.com/c"),
        (k % 50).cast("string"), lit("\">"))).otherwise(lit(""))
    val robots =
      when(k % 5 === 0, lit("<meta name=\"robots\" content=\"NOINDEX, follow\">"))
        .when(k % 5 === 1, lit("<meta name=robots content=nofollow>"))
        .when(k % 5 === 2, lit("<meta name='robots' content='none'>"))
        .otherwise(lit(""))
    concat(lit("<html"), langAttr, lit("><head><title>Page "),
      k.cast("string"), lit(" &amp; more</title>"), descMeta, canonical,
      robots, lit("</head><body><p>body text here</p></body></html>"))
  }

  /** Shared quality-score fragments (used by `q_text_quality` and
    * `q_curation_e2e` — one definition, so the two oracles can't drift). */
  private[queries] val qualityInnerSql =
    """SELECT doc_id,
      |    len(list_filter(t, x -> x IN ('the','a','an','of','and','or','in','to','is')))
      |      * 1.0 / len(t) AS stop_ratio,
      |    len(list_distinct(t)) * 1.0 / len(t) AS type_ratio,
      |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
      |      * 1.0 / length(text) AS alpha_ratio,
      |    length(text) * 1.0 / len(t) AS mean_len
      |  FROM toks""".stripMargin

  private[queries] val qualityExprSql =
    """LEAST(stop_ratio * 5.0, 1.0) * 0.3 + LEAST(type_ratio * 2.0, 1.0) * 0.3
      |        + alpha_ratio * 0.2
      |        + (CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.2""".stripMargin

  /** Shared language-ID fragments (`q_lang_id` and `q_curation_e2e`). */
  private[queries] val langScoresSql =
    """SELECT doc_id,
      |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
      |    CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS score_de,
      |    CAST(len(list_filter(t, x -> x IN ('el','la','los','y','es'))) AS BIGINT) AS score_es,
      |    CAST(len(list_filter(t, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS score_fr,
      |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS score_zh
      |  FROM toks""".stripMargin

  private[queries] val langCaseSql =
    """CASE WHEN score_zh > GREATEST(score_en, score_de, score_es, score_fr) THEN 'zh'
      |       WHEN score_fr > GREATEST(score_en, score_de, score_es) THEN 'fr'
      |       WHEN score_es > GREATEST(score_en, score_de) THEN 'es'
      |       WHEN score_de > score_en THEN 'de'
      |       ELSE 'en' END""".stripMargin

  /** Shared exact-dedup canonical-id fragment (`q_dedup_exact` and
    * `q_curation_e2e`). */
  private[queries] val canonSql =
    """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
      |FROM documents""".stripMargin

  /** The ridge weights of a 3×3 system by Cramer's rule, each rounded to
    * 1e-6 as `w0_r`..`w2_r` — the select list over a CTE holding the
    * matrix `a00`..`a22` and right-hand side `c0`..`c2`, expanded along
    * the first row in the association order of `Fit.det3`. */
  private[queries] val cramerRoundedSql =
    """|  ROUND((c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
       |           + a02 * (c1 * a21 - a11 * c2))
       |        / (a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20)
       |           + a02 * (a10 * a21 - a11 * a20)), 6) + 0.0 AS w0_r,
       |  ROUND((a00 * (c1 * a22 - a12 * c2) - c0 * (a10 * a22 - a12 * a20)
       |           + a02 * (a10 * c2 - c1 * a20))
       |        / (a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20)
       |           + a02 * (a10 * a21 - a11 * a20)), 6) + 0.0 AS w1_r,
       |  ROUND((a00 * (a11 * c2 - c1 * a21) - a01 * (a10 * c2 - c1 * a20)
       |           + c0 * (a10 * a21 - a11 * a20))
       |        / (a00 * (a11 * a22 - a12 * a21) - a01 * (a10 * a22 - a12 * a20)
       |           + a02 * (a10 * a21 - a11 * a20)), 6) + 0.0 AS w2_r""".stripMargin
}
