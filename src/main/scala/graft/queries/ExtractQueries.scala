package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import Shared._

/** Content extraction from crawled documents: HTML text and metadata,
  * feeds, tables, markdown, CSV and JSON. */
object ExtractQueries {

  val specs: Seq[QuerySpec] = Seq(
    // HTML→text extraction end-to-end: each doc's text is wrapped in a
    // full synthetic page — head/title, style and script blocks with
    // embedded '<', a nav link list, an h1, the escaped text in a <p>,
    // and a link-dense footer — then Html.htmlToText must strip the
    // markup, decode the entities, and drop every boilerplate line,
    // leaving exactly the prose. The oracle replays only the
    // jusText-lite LINE RULE on the raw text (integer arithmetic, both
    // engines); the HTML pipeline itself is pinned by HtmlSpec on
    // hand-built pages, so a markup bug surfaces as extracted ≠ text.
    QuerySpec("q_html_extract", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          pipeline.Html.htmlToText(synthHtmlPage).as("extracted"))
        .orderBy("doc_id")
    }, oracle =
      // the jusText-lite line rule replayed on the raw text (the synthetic
      // page's boilerplate lines all fail it; the prose line is the text
      // itself, so extraction must return exactly trim(text) when the rule
      // passes and '' when it doesn't — integer arithmetic only, no HTML
      // anywhere in the oracle)
      """SELECT doc_id,
        |       CASE WHEN len(trim(text)) >= 25
        |             AND len(string_split_regex(trim(text), '\s+')) >= 4
        |             AND len(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g')) * 10 >= len(trim(text)) * 4
        |            THEN trim(text) ELSE '' END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // the full jusText neighbor pass over the SAME page (round 12): the
    // h1 heading is SHORT (prose-like but under the size gates) and sits
    // between BAD nav chrome and the doc's paragraph, so it is rescued
    // exactly when the paragraph is GOOD — the oracle replays only that
    // closed-form decision; title (next non-short is link-dense nav) and
    // footer must still drop
    QuerySpec("q_justext_context", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          pipeline.Html.htmlToTextContext(synthHtmlPage).as("extracted"))
        .orderBy("doc_id")
    }, oracle =
      // the context pass adds exactly one closed-form decision on this
      // page: the SHORT h1 ('Document <id>') is rescued iff the paragraph
      // is GOOD; title and chrome drop either way
      """SELECT doc_id,
        |       CASE WHEN len(trim(text)) >= 25
        |             AND len(string_split_regex(trim(text), '\s+')) >= 4
        |             AND len(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g')) * 10 >= len(trim(text)) * 4
        |            THEN 'Document ' || CAST(doc_id AS VARCHAR) || chr(10) || trim(text)
        |            ELSE '' END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin),

    // page-level metadata extraction (round 12): title/description/
    // lang/canonical/robots from real head markup — entity decode in the
    // title, BOTH attribute orders for the description meta, all three
    // quote forms, each field optionally absent; the oracle predicts
    // every field in closed form from doc_id
    QuerySpec("q_html_meta", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          pipeline.Html.pageMeta(synthMetaPage).as("m"))
        .select(col("doc_id"), col("m.title").as("title"),
          col("m.description").as("description"), col("m.lang").as("lang"),
          col("m.canonical").as("canonical"), col("m.robots").as("robots"))
        .orderBy("doc_id")
    }, oracle =
      // every head field predicted in closed form from the residue — the
      // Spark side earns them from real markup (entity decode, attribute
      // orders, three quote forms, absent fields)
      """SELECT doc_id,
        |       'Page ' || CAST(doc_id % 127 AS VARCHAR) || ' & more' AS title,
        |       'Summary ' || CAST((doc_id % 127) % 11 AS VARCHAR) AS description,
        |       CASE (doc_id % 127) % 3 WHEN 0 THEN 'en-us' WHEN 1 THEN 'fr' ELSE '' END AS lang,
        |       CASE WHEN (doc_id % 127) % 4 = 0
        |            THEN 'https://canon.example.com/c' || CAST((doc_id % 127) % 50 AS VARCHAR)
        |            ELSE '' END AS canonical,
        |       CASE (doc_id % 127) % 5 WHEN 0 THEN 'noindex, follow'
        |            WHEN 1 THEN 'nofollow' WHEN 2 THEN 'none' ELSE '' END AS robots
        |FROM documents ORDER BY doc_id""".stripMargin),

    // encoding sniff ladder (round 12) over REAL bytes: BOM payloads,
    // conflicting header-vs-meta declarations, both meta forms, alias
    // folding, and the no-declaration default — each residue class
    // exercises one rung and the oracle predicts (encoding, via) closed
    // form; payload synthesis needs raw BOM bytes, hence mapPartitions
    QuerySpec("q_charset_detect", (s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val rows = ids.mapPartitions { it =>
        it.map { id =>
          def b(x: String) = x.getBytes("ISO-8859-1")
          val bomU8 = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte)
          (id % 5) match {
            case 0 => (id, bomU8 ++ b("<html><meta charset=koi8-r></html>"),
              "text/html; charset=iso-8859-1")
            case 1 => (id, b("<html><meta charset='windows-1251'></html>"),
              "text/html; charset=Shift_JIS")
            case 2 => (id, b("<html><head><meta charset=\"KOI8-R\"></head>"),
              "text/html")
            case 3 => (id, b("<meta http-equiv=\"Content-Type\" " +
              "content=\"text/html; charset=windows-1251\">"), "")
            case _ => (id, b("<html><p>plain page</p></html>"), "text/plain")
          }
        }
      }.toDF("doc_id", "payload", "ct")
      rows.select(col("doc_id"),
          pipeline.Charset.sniff(col("payload"), col("ct")).as("r"))
        .select(col("doc_id"), col("r.encoding").as("encoding"),
          col("r.via").as("via"))
        .orderBy("doc_id")
    }, oracle =
      // the sniff ladder's decision per residue class, no byte inspection
      // anywhere in the oracle
      """SELECT doc_id,
        |       CASE doc_id % 5 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
        |            WHEN 2 THEN 'koi8-r' WHEN 3 THEN 'windows-1251'
        |            ELSE 'utf-8' END AS encoding,
        |       CASE doc_id % 5 WHEN 0 THEN 'bom' WHEN 1 THEN 'header'
        |            WHEN 2 THEN 'meta' WHEN 3 THEN 'meta'
        |            ELSE 'default' END AS via
        |FROM documents ORDER BY doc_id""".stripMargin),

    // RSS/Atom feed probe (round 12) — the recency discovery channel:
    // per doc a 2-entry feed (format by residue) with a CDATA title, an
    // element-text vs href-attribute link, and a date only on the fresh
    // entry; the parser earns every field from real XML while the
    // oracle concatenates them closed form
    QuerySpec("q_feed_probe", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id") % 127
      val ks = k.cast("string")
      val l0 = concat(lit("http://f"), (k % 13).cast("string"),
        lit(".example.com/p"), ks, lit("/0"))
      val l1 = concat(lit("http://f"), (k % 13).cast("string"),
        lit(".example.com/p"), ks, lit("/1"))
      val dateIso = date_format(date_add(lit("1970-01-01").cast("date"),
        (lit(19800) + k % 97).cast("int")), "yyyy-MM-dd")
      val rssXml = concat(
        lit("<?xml version=\"1.0\"?><rss version=\"2.0\"><channel>" +
          "<title>C</title><link>http://site.example/</link><item><title>Post A"),
        ks, lit("</title><link>"), l0, lit("</link><pubDate>"), dateIso,
        lit("</pubDate></item><item><title><![CDATA[Post B"), ks,
        lit("]]></title><link>"), l1, lit("</link></item></channel></rss>"))
      val atomXml = concat(
        lit("<?xml version=\"1.0\"?>" +
          "<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>F</title>" +
          "<link href=\"http://site.example/\"/><entry><title>Post A"),
        ks, lit("</title><link href=\""), l0, lit("\"/><updated>"), dateIso,
        lit("T00:00:00Z</updated></entry><entry><title>Post B"), ks,
        lit("</title><link rel=\"alternate\" href='"), l1,
        lit("'/></entry></feed>"))
      val feeds = docs.select(col("doc_id"),
          when(k % 2 === 0, rssXml).otherwise(atomXml).as("feed_xml"))
        .localCheckpoint()
      sources.Feed.parseFeed(feeds, domainCol = "doc_id")
        .select(col("domain").as("doc_id"), col("fmt"), col("idx"),
          col("title"), col("link"), col("pub_day"))
        .orderBy("doc_id", "idx")
    }, oracle =
      // two entries per doc predicted closed form: the fresh entry carries
      // the epoch-day directly (no date algebra in the oracle), the stale
      // one -1
      """WITH b AS (
        |  SELECT doc_id, doc_id % 127 AS k,
        |         CASE WHEN (doc_id % 127) % 2 = 0 THEN 'rss' ELSE 'atom' END AS fmt,
        |         'http://f' || CAST((doc_id % 127) % 13 AS VARCHAR) ||
        |           '.example.com/p' || CAST(doc_id % 127 AS VARCHAR) AS lp
        |  FROM documents)
        |SELECT doc_id, fmt, idx, title, link, pub_day FROM (
        |  SELECT doc_id, fmt, CAST(0 AS INTEGER) AS idx,
        |         'Post A' || CAST(k AS VARCHAR) AS title, lp || '/0' AS link,
        |         CAST(19800 + k % 97 AS BIGINT) AS pub_day FROM b
        |  UNION ALL
        |  SELECT doc_id, fmt, 1, 'Post B' || CAST(k AS VARCHAR), lp || '/1',
        |         CAST(-1 AS BIGINT) FROM b)
        |ORDER BY doc_id, idx""".stripMargin),

    // JSON-LD extraction (round 12): schema.org metadata from real
    // script blocks — a typeless decoy script first, then the ld+json
    // block parsed by Spark's from_json (nested author struct, @-named
    // field); dates cross as epoch days per the repo rule
    QuerySpec("q_jsonld_extract", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id") % 127
      val dateIso = date_format(date_add(lit("1970-01-01").cast("date"),
        (lit(19900) + k % 83).cast("int")), "yyyy-MM-dd")
      val ld = concat(
        lit("{\"@type\":\"NewsArticle\",\"headline\":\"Story "),
        k.cast("string"), lit(" & update\",\"datePublished\":\""), dateIso,
        lit("\",\"author\":{\"name\":\"Reporter "), (k % 7).cast("string"),
        lit("\"}}"))
      val page = concat(lit("<html><head><script>var x = 1;</script>" +
        "<script type=\"application/ld+json\">"), ld,
        lit("</script></head><body><p>text</p></body></html>"))
      val blocks = docs.select(col("doc_id"),
          element_at(pipeline.Html.jsonLdBlocks(page), 1).as("block"))
        .localCheckpoint()
      blocks.select(col("doc_id"),
          from_json(col("block"),
            org.apache.spark.sql.types.StructType.fromDDL(
              "`@type` STRING, headline STRING, datePublished STRING, " +
                "author STRUCT<name: STRING>")).as("j"))
        .select(col("doc_id"),
          col("j.`@type`").as("ld_type"), col("j.headline").as("headline"),
          datediff(to_date(col("j.datePublished")),
            to_date(lit("1970-01-01"))).cast("long").as("pub_day"),
          col("j.author.name").as("author"))
        .orderBy("doc_id")
    }, oracle =
      // every JSON-LD field closed form (epoch day carried as the integer
      // the fixture planted — no date algebra)
      """SELECT doc_id, 'NewsArticle' AS ld_type,
        |       'Story ' || CAST(doc_id % 127 AS VARCHAR) || ' & update' AS headline,
        |       CAST(19900 + (doc_id % 127) % 83 AS BIGINT) AS pub_day,
        |       'Reporter ' || CAST((doc_id % 127) % 7 AS VARCHAR) AS author
        |FROM documents ORDER BY doc_id""".stripMargin),

    // HTML table extraction (round 13): pages synthesized with a
    // variable r×c table (header <th> row + <b>-wrapped, entity-laden
    // <td> cells) plus a second one-cell table on a residue class; the
    // oracle predicts every (table, row, col) → cell text closed form,
    // so tag stripping, entity decode, and source-order indexing are
    // all pinned
    QuerySpec("q_html_tables", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val lastCol = id % 2 + 1 // cols 0..lastCol (2 or 3 columns)
      val headerRow = concat(lit("<tr>"),
        array_join(transform(sequence(lit(0L), lastCol), j =>
          concat(lit("<th> H"), j.cast("string"), lit(" </th>"))), ""),
        lit("</tr>"))
      val dataRows = array_join(
        transform(sequence(lit(1L), id % 3 + 1), i =>
          concat(lit("<tr class=d>"),
            array_join(transform(sequence(lit(0L), lastCol), j =>
              concat(lit("<td><b>v"), id.cast("string"), lit("-"),
                i.cast("string"), lit("-"), j.cast("string"),
                lit("</b> &amp; more</td>"))), ""),
            lit("</tr>"))), "")
      val page = concat(
        lit("<html><body><p>prose</p><table class=\"data\">"),
        headerRow, dataRows, lit("</table>"),
        when(id % 4 === 1,
          lit("<table><tr><td>Aside note.</td></tr></table>"))
          .otherwise(lit("")),
        lit("</body></html>"))
      docs.select(id, posexplode(pipeline.Html.tableCells(page))
          .as(Seq("tbl", "trs")))
        .select(col("doc_id"), col("tbl"),
          posexplode(col("trs")).as(Seq("row_idx", "tds")))
        .select(col("doc_id"), col("tbl"), col("row_idx"),
          posexplode(col("tds")).as(Seq("col_idx", "cell")))
        .select(col("doc_id"), col("tbl").cast("long").as("tbl"),
          col("row_idx").cast("long").as("row_idx"),
          col("col_idx").cast("long").as("col_idx"), col("cell"))
        .orderBy("doc_id", "tbl", "row_idx", "col_idx")
    }, oracle =
      // every (table,row,col)→cell closed form from the residue plan:
      // table 0 is the header row + doc_id%3+1 data rows over doc_id%2+2
      // columns, table 1 the one-cell aside on the %4=1 class
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 3 + 1 AS INTEGER) AS r,
        |         CAST(doc_id % 2 + 2 AS INTEGER) AS c
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, row_idx, unnest(range(0, c)) AS col_idx
        |  FROM (SELECT doc_id, c, unnest(range(0, r + 1)) AS row_idx
        |        FROM dims))
        |SELECT doc_id, CAST(0 AS BIGINT) AS tbl,
        |       CAST(row_idx AS BIGINT) AS row_idx,
        |       CAST(col_idx AS BIGINT) AS col_idx,
        |       CASE WHEN row_idx = 0
        |            THEN 'H' || CAST(col_idx AS VARCHAR)
        |            ELSE 'v' || CAST(doc_id AS VARCHAR) || '-' ||
        |                 CAST(row_idx AS VARCHAR) || '-' ||
        |                 CAST(col_idx AS VARCHAR) || ' & more'
        |       END AS cell
        |FROM grid
        |UNION ALL
        |SELECT doc_id, CAST(1 AS BIGINT), CAST(0 AS BIGINT),
        |       CAST(0 AS BIGINT), 'Aside note.'
        |FROM documents WHERE doc_id % 4 = 1
        |ORDER BY doc_id, tbl, row_idx, col_idx""".stripMargin),

    // CSV dialect sniffing (round 13): payloads planted in one of four
    // delimiters with/without a header row, every data row carrying a
    // QUOTED field containing a literal comma — the naive unmasked
    // count would mis-pick ',' on 3 of 4 classes; the oracle predicts
    // dialect, header flag, and shape closed form from the residues
    QuerySpec("q_csv_dialect", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val d = when(id % 4 === 0, lit(","))
        .when(id % 4 === 1, lit(";"))
        .when(id % 4 === 2, lit("\t")).otherwise(lit("|"))
      val header = when(id % 3 =!= 0,
        concat(lit("name"), d, lit("note"), d, lit("value"), lit("\n")))
        .otherwise(lit(""))
      val rows = array_join(
        transform(sequence(lit(1L), id % 3 + 2), i =>
          concat(lit("r"), i.cast("string"), d,
            lit("\"x,y "), i.cast("string"), lit("\""), d,
            (i * 10).cast("string"))), "\n")
      docs.select(id, sources.Csv.sniff(concat(header, rows)).as("s"))
        .select(col("doc_id"), col("s.delimiter").as("delimiter"),
          col("s.has_header").as("has_header"),
          col("s.n_cols").as("n_cols"), col("s.n_rows").as("n_rows"))
        .orderBy("doc_id")
    }, oracle =
      // dialect, header flag, and shape all closed form from the residue
      // plan (3 columns always; rows = data rows + header when present)
      """SELECT doc_id,
        |       CASE CAST(doc_id % 4 AS INTEGER)
        |         WHEN 0 THEN ',' WHEN 1 THEN ';'
        |         WHEN 2 THEN chr(9) ELSE '|' END AS delimiter,
        |       CAST(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END
        |            AS BIGINT) AS has_header,
        |       CAST(3 AS BIGINT) AS n_cols,
        |       CAST(doc_id % 3 + 2
        |            + CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END
        |            AS BIGINT) AS n_rows
        |FROM documents ORDER BY doc_id""".stripMargin),

    // HTML→Markdown export (round 13): pages with headings, emphasis,
    // a variable list, entities, and a link convert to the exact
    // markdown string the oracle assembles closed form — headings,
    // `**`/`*` wrapping, `- ` list lines, `[text](href)`, entity
    // decode, and blank-line normalization all pinned byte-for-byte
    QuerySpec("q_markdown_export", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      val items = array_join(
        transform(sequence(lit(0L), id % 3), j =>
          concat(lit("<li>item "), j.cast("string"), lit(" of "), ids,
            lit("</li>"))), "")
      val page = concat(
        lit("<html><head><title>ignored</title>" +
          "<style>p{x:1}</style></head><body><h1>Doc "), ids,
        lit("</h1><h2>Section "), (id % 5).cast("string"),
        lit("</h2><p>Intro with <b>bold "), ids,
        lit("</b> and <em>soft</em> words &amp; more.</p><ul>"), items,
        lit("</ul><p>See <a href=\"/next/"), ids,
        lit("\">the next "), ids, lit("</a> now.</p></body></html>"))
      docs.select(id, pipeline.Html.toMarkdown(page).as("markdown"))
        .orderBy("doc_id")
    }, oracle =
      // the exact markdown byte string reassembled closed form (chr(10)
      // newlines; the list via an ordered string_agg over the residue)
      """WITH items AS (
        |  SELECT doc_id,
        |         string_agg('- item ' || CAST(j AS VARCHAR) || ' of ' ||
        |                    CAST(doc_id AS VARCHAR), chr(10) ORDER BY j)
        |           AS lst
        |  FROM (SELECT doc_id,
        |          unnest(range(0, CAST(doc_id % 3 AS INTEGER) + 1)) AS j
        |        FROM documents)
        |  GROUP BY doc_id)
        |SELECT d.doc_id,
        |       '# Doc ' || CAST(d.doc_id AS VARCHAR) ||
        |       chr(10) || chr(10) ||
        |       '## Section ' || CAST(d.doc_id % 5 AS VARCHAR) ||
        |       chr(10) || chr(10) ||
        |       'Intro with **bold ' || CAST(d.doc_id AS VARCHAR) ||
        |       '** and *soft* words & more.' || chr(10) || chr(10) ||
        |       i.lst || chr(10) || chr(10) ||
        |       'See [the next ' || CAST(d.doc_id AS VARCHAR) ||
        |       '](/next/' || CAST(d.doc_id AS VARCHAR) || ') now.'
        |         AS markdown
        |FROM documents d JOIN items i USING (doc_id)
        |ORDER BY doc_id""".stripMargin),

    // Readability (round 13): Flesch / Flesch–Kincaid over the REAL
    // corpus text (plus a planted punctuated suffix so sentence
    // division is exercised); both engines count words, vowel-group
    // syllables, and terminator-run sentences with the identical
    // definitions, so every count and both scores must agree exactly
    QuerySpec("q_readability", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val text = concat(col("text"), lit(". The end! Quite readable?"))
      docs.select(col("doc_id"),
          pipeline.TextOps.readability(text).as("r"))
        .select(col("doc_id"), col("r.n_words").as("n_words"),
          col("r.n_syllables").as("n_syllables"),
          col("r.n_sentences").as("n_sentences"),
          col("r.flesch_e4").as("flesch_e4"),
          col("r.fk_grade_e4").as("fk_grade_e4"))
        .orderBy("doc_id")
    }, oracle =
      // both engines count with the identical shared definitions (letter
      // runs, vowel-group syllables clamped >=1, terminator-run
      // sentences) and compute the same double arithmetic; scores in
      // integer 1e-4 units via floor(x*1e4+0.5) — bit-deterministic,
      // unlike decimal round() whose tie rule differs across engines
      """WITH t AS (
        |  SELECT doc_id, text || '. The end! Quite readable?' AS tx
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |    CAST(len(regexp_extract_all(lower(tx), '[a-z]+'))
        |         AS BIGINT) AS w,
        |    CAST(coalesce(list_sum(list_transform(
        |           regexp_extract_all(lower(tx), '[a-z]+'),
        |           x -> greatest(1,
        |             len(regexp_extract_all(x, '[aeiouy]+'))))), 0)
        |         AS BIGINT) AS s,
        |    CAST(greatest(1, len(regexp_extract_all(tx, '[.!?]+')))
        |         AS BIGINT) AS n
        |  FROM t)
        |SELECT doc_id, w AS n_words, s AS n_syllables, n AS n_sentences,
        |       CAST(floor((206.835 - 1.015 * (CAST(w AS DOUBLE) / n)
        |             - 84.6 * (CAST(s AS DOUBLE) / w)) * 10000 + 0.5)
        |            AS BIGINT) AS flesch_e4,
        |       CAST(floor((0.39 * (CAST(w AS DOUBLE) / n)
        |             + 11.8 * (CAST(s AS DOUBLE) / w) - 15.59)
        |             * 10000 + 0.5) AS BIGINT) AS fk_grade_e4
        |FROM c ORDER BY doc_id""".stripMargin),

    // Code-vs-prose detection (round 13): structural-character and
    // keyword signals over real text plus a planted code block on the
    // %6 residue; both engines count with the same arithmetic, and the
    // conjunctive is_code rule fires exactly on the planted class
    QuerySpec("q_code_detect", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val code = "\nfunction f(x) { return x * 2; } // double\n" +
        "if (a == b) { y[0] = 0; }"
      val text = concat(col("text"),
        when(col("doc_id") % 6 === 0, lit(code)).otherwise(lit("")))
      docs.select(col("doc_id"),
          pipeline.TextOps.codeSignals(text).as("c"))
        .select(col("doc_id"), col("c.n_braces").as("n_braces"),
          col("c.n_semicolons").as("n_semicolons"),
          col("c.n_compare").as("n_compare"),
          col("c.n_comments").as("n_comments"),
          col("c.n_keywords").as("n_keywords"),
          col("c.is_code").as("is_code"))
        .orderBy("doc_id")
    }, oracle =
      // identical character/keyword arithmetic over the same final text;
      // the planted block contributes 4 braces, 2 semicolons, 1 ==, one
      // // comment, and 3 keyword hits
      """WITH t AS (
        |  SELECT doc_id, text || CASE WHEN doc_id % 6 = 0 THEN
        |    chr(10) || 'function f(x) { return x * 2; } // double' ||
        |    chr(10) || 'if (a == b) { y[0] = 0; }' ELSE '' END AS tx
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(tx) - len(replace(tx, '{', ''))
        |       + len(tx) - len(replace(tx, '}', '')) AS BIGINT)
        |    AS n_braces,
        |  CAST(len(tx) - len(replace(tx, ';', '')) AS BIGINT)
        |    AS n_semicolons,
        |  CAST((len(tx) - len(replace(tx, '==', ''))) / 2 AS BIGINT)
        |    AS n_compare,
        |  CAST((len(tx) - len(replace(tx, '//', ''))) / 2
        |       + (len(tx) - len(replace(tx, '# ', ''))) / 2 AS BIGINT)
        |    AS n_comments,
        |  CAST(len(regexp_extract_all(tx,
        |    '\b(function|return|if|else|var|let|const|def|import)\b'))
        |    AS BIGINT) AS n_keywords,
        |  CAST(CASE WHEN len(tx) - len(replace(tx, '{', ''))
        |                 + len(tx) - len(replace(tx, '}', '')) >= 4
        |             AND len(tx) - len(replace(tx, ';', '')) >= 2
        |            THEN 1 ELSE 0 END AS BIGINT) AS is_code
        |FROM t ORDER BY doc_id""".stripMargin),

    // Publication-date extraction (round 13): ISO and long-form dates
    // planted by residue (one class carries none); the extractor must
    // find the right spelling, map month names, and emit integer
    // (y,m,d) the oracle predicts closed form
    QuerySpec("q_doc_dates", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val iso = concat((id % 20 + 2000).cast("string"), lit("-"),
        lpad((id % 12 + 1).cast("string"), 2, "0"), lit("-"),
        lpad((id % 28 + 1).cast("string"), 2, "0"))
      val monthName = element_at(
        array(Seq("January", "February", "March", "April", "May",
          "June", "July", "August", "September", "October", "November",
          "December").map(lit): _*), (id % 12 + 1).cast("int"))
      val longForm = concat(monthName, lit(" "),
        (id % 28 + 1).cast("string"), lit(", "),
        (id % 30 + 1990).cast("string"))
      val text = concat(col("text"),
        when(id % 3 === 0, concat(lit(" Published on "), iso,
          lit(" here."))).when(id % 3 === 1,
          concat(lit(" Updated "), longForm, lit(" edition.")))
          .otherwise(lit("")))
      docs.select(id, pipeline.TextOps.dateExtract(text).as("dt"))
        .select(col("doc_id"), col("dt.found").as("found"),
          col("dt.y").as("y"), col("dt.m").as("m"), col("dt.d").as("d"))
        .orderBy("doc_id")
    }, oracle =
      // (found, y, m, d) all closed form from the residue plan; the %3=2
      // class plants nothing and must come back all-zero
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN 1 ELSE 0 END
        |            AS BIGINT) AS found,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN doc_id % 20 + 2000
        |                 WHEN doc_id % 3 = 1 THEN doc_id % 30 + 1990
        |                 ELSE 0 END AS BIGINT) AS y,
        |       CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN doc_id % 12 + 1
        |                 ELSE 0 END AS BIGINT) AS m,
        |       CAST(CASE WHEN doc_id % 3 IN (0, 1) THEN doc_id % 28 + 1
        |                 ELSE 0 END AS BIGINT) AS d
        |FROM documents ORDER BY doc_id""".stripMargin),

    // YAML frontmatter (round 13): fenced metadata synthesized from
    // real columns (lang comes from the corpus lang column) splits
    // into a typed map + clean body; title/kind/tag-count/body head
    // all predicted closed form by the oracle
    QuerySpec("q_frontmatter", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      val tags = when(id % 2 === 0, lit("[alpha, beta]"))
        .otherwise(lit("[alpha, beta, gamma]"))
      val md = concat(lit("---\ntitle: Doc "), ids, lit("\nlang: "),
        col("lang"), lit("\nkind: note\ntags: "), tags,
        lit("\n---\n# Doc "), ids, lit("\n\nBody for "), ids, lit("."))
      docs.select(id, pipeline.Markdown.frontmatter(md).as("f"))
        .select(col("doc_id"),
          element_at(col("f.meta"), "title").as("title"),
          element_at(col("f.meta"), "lang").as("meta_lang"),
          element_at(col("f.meta"), "kind").as("kind"),
          size(pipeline.Markdown.inlineList(
            element_at(col("f.meta"), "tags"))).cast("long").as("n_tags"),
          regexp_extract(col("f.body"), "^[^\n]*", 0).as("body_head"))
        .orderBy("doc_id")
    }, oracle =
      // metadata map entries and the cleaned body head closed form; lang
      // round-trips the corpus lang column through the frontmatter block
      """SELECT doc_id,
        |       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |       lang AS meta_lang,
        |       'note' AS kind,
        |       CAST(2 + doc_id % 2 AS BIGINT) AS n_tags,
        |       '# Doc ' || CAST(doc_id AS VARCHAR) AS body_head
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Citation extraction (round 13): DOIs (with the trailing-
    // punctuation cleanup) and new-style arXiv ids planted by residue;
    // counts and first identifiers closed form
    QuerySpec("q_citation_extract", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      val arx = concat(lit("21"),
        lpad((id % 12 + 1).cast("string"), 2, "0"), lit("."),
        lpad((id % 90000 + 10000).cast("string"), 5, "0"))
      val text = concat(lit("As shown in doi:10.5555/rev."), ids,
        lit(" results hold"),
        when(id % 3 === 0, concat(lit(" and doi:10.1000/xyz"), ids))
          .otherwise(lit("")),
        lit(". Preprint arXiv:"), arx,
        when(id % 4 === 1, lit("v2")).otherwise(lit("")),
        lit(" has details."))
      docs.select(id, pipeline.TextOps.citations(text).as("c"))
        .select(col("doc_id"),
          size(col("c.dois")).cast("long").as("n_dois"),
          element_at(col("c.dois"), 1).as("first_doi"),
          size(col("c.arxiv")).cast("long").as("n_arxiv"),
          element_at(col("c.arxiv"), 1).as("first_arxiv"))
        .orderBy("doc_id")
    }, oracle =
      // counts and first identifiers closed form; the second DOI's
      // trailing sentence period must be stripped by the extractor
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
        |            AS BIGINT) AS n_dois,
        |       '10.5555/rev.' || CAST(doc_id AS VARCHAR) AS first_doi,
        |       CAST(1 AS BIGINT) AS n_arxiv,
        |       '21' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
        |       '.' || lpad(CAST(doc_id % 90000 + 10000 AS VARCHAR), 5, '0')
        |       || CASE WHEN doc_id % 4 = 1 THEN 'v2' ELSE '' END
        |         AS first_arxiv
        |FROM documents ORDER BY doc_id""".stripMargin),

    // OpenGraph / Twitter-card metadata (round 13): property/name meta
    // tags to a map; og:image present only on the even residue, a
    // non-og meta planted as the must-not-leak control
    QuerySpec("q_opengraph", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      val page = concat(
        lit("<html><head><meta property=\"og:title\" content=\"Story "),
        ids, lit("\"/><meta property=\"og:type\" content=\"article\"/>"),
        when(id % 2 === 0,
          concat(lit("<meta property=\"og:image\" content=\"https://img.example/i"),
            ids, lit(".jpg\"/>"))).otherwise(lit("")),
        lit("<meta name=\"twitter:card\" content=\"summary\"/>" +
          "<meta name=\"description\" content=\"not og\"/>" +
          "</head><body>x</body></html>"))
      docs.select(id, pipeline.Html.openGraph(page).as("og"))
        .select(col("doc_id"),
          element_at(col("og"), "og:title").as("og_title"),
          element_at(col("og"), "og:type").as("og_type"),
          // og:image is ABSENT on the odd residue — ANSI element_at
          // throws on missing map keys, try_element_at nulls
          coalesce(try_element_at(col("og"), lit("og:image")), lit(""))
            .as("og_image"),
          element_at(col("og"), "twitter:card").as("twitter_card"),
          size(col("og")).cast("long").as("n_props"))
        .orderBy("doc_id")
    }, oracle =
      // every og/twitter property closed form; the description control
      // must NOT enter the map (n_props counts only og/twitter keys)
      """SELECT doc_id,
        |       'Story ' || CAST(doc_id AS VARCHAR) AS og_title,
        |       'article' AS og_type,
        |       CASE WHEN doc_id % 2 = 0
        |            THEN 'https://img.example/i' || CAST(doc_id AS VARCHAR)
        |                 || '.jpg' ELSE '' END AS og_image,
        |       'summary' AS twitter_card,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT)
        |         AS n_props
        |FROM documents ORDER BY doc_id""".stripMargin),

    // srcset variant parsing (round 13): every candidate of every
    // image — width descriptors plus the src fallback — in document
    // order, the whole grid closed form from the residue plan
    QuerySpec("q_srcset", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val imgs = array_join(
        transform(sequence(lit(0L), id % 2), k => concat(
          lit("<img srcset=\"/im"), k.cast("string"),
          lit("-480.jpg 480w, /im"), k.cast("string"),
          lit("-800.jpg 800w"),
          when(id % 3 === 0, concat(lit(", /im"), k.cast("string"),
            lit("-1200.jpg 1200w"))).otherwise(lit("")),
          lit("\" src=\"/im"), k.cast("string"), lit(".jpg\">"))), "")
      val page = concat(lit("<html><body>"), imgs, lit("</body></html>"))
      docs.select(id,
          posexplode(pipeline.Html.imgCandidates(page))
            .as(Seq("img", "cands")))
        .select(col("doc_id"), col("img"),
          posexplode(col("cands")).as(Seq("cand", "c")))
        .select(col("doc_id"), col("img").cast("long").as("img"),
          col("cand").cast("long").as("cand"),
          col("c.url").as("url"), col("c.width").as("width"))
        .orderBy("doc_id", "img", "cand")
    }, oracle =
      // the (image, candidate) grid closed form: 2 or 3 srcset entries
      // (480/800/1200w) then the src fallback at width 0
      """WITH dims AS (
        |  SELECT doc_id, CAST(doc_id % 2 AS INTEGER) + 1 AS ni,
        |         CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END
        |              AS INTEGER) AS ns
        |  FROM documents),
        |grid AS (
        |  SELECT doc_id, ns, img, unnest(range(0, ns + 1)) AS cand
        |  FROM (SELECT doc_id, ns, unnest(range(0, ni)) AS img
        |        FROM dims))
        |SELECT doc_id, CAST(img AS BIGINT) AS img,
        |       CAST(cand AS BIGINT) AS cand,
        |       CASE WHEN cand < ns
        |            THEN '/im' || CAST(img AS VARCHAR) || '-' ||
        |                 CAST(CASE cand WHEN 0 THEN 480 WHEN 1 THEN 800
        |                      ELSE 1200 END AS VARCHAR) || '.jpg'
        |            ELSE '/im' || CAST(img AS VARCHAR) || '.jpg'
        |       END AS url,
        |       CAST(CASE WHEN cand >= ns THEN 0
        |                 WHEN cand = 0 THEN 480 WHEN cand = 1 THEN 800
        |                 ELSE 1200 END AS BIGINT) AS width
        |FROM grid ORDER BY doc_id, img, cand""".stripMargin),

    // License detection (round 13): SPDX identifiers win over phrase
    // heuristics; one characteristic phrase per residue class, the
    // %7=6 class plants nothing and must come back "none"
    QuerySpec("q_license_detect", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val planted = when(id % 7 === 0,
        lit("\nSPDX-License-Identifier: MIT\n"))
        .when(id % 7 === 1,
          lit("\nLicensed under the Apache License, Version 2.0 (the License)"))
        .when(id % 7 === 2,
          lit("\nThis program is free software under the GNU General " +
            "Public License as published, version 3."))
        .when(id % 7 === 3,
          lit("\nPermission is hereby granted, free of charge, to any person"))
        .when(id % 7 === 4,
          lit("\nRedistribution and use in source and binary forms, with or without"))
        .when(id % 7 === 5,
          lit("\nCreative Commons Attribution 4.0 International License"))
        .otherwise(lit(""))
      val text = concat(col("text"), planted)
      docs.select(id, pipeline.TextOps.licenseDetect(text).as("l"))
        .select(col("doc_id"), col("l.license").as("license"),
          col("l.matched").as("matched"))
        .orderBy("doc_id")
    }, oracle =
      // one license per residue class, SPDX id on class 0, nothing on
      // class 6
      """SELECT doc_id,
        |       CASE CAST(doc_id % 7 AS INTEGER)
        |         WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
        |         WHEN 2 THEN 'GPL-3.0' WHEN 3 THEN 'MIT'
        |         WHEN 4 THEN 'BSD-3-Clause' WHEN 5 THEN 'CC-BY-4.0'
        |         ELSE 'none' END AS license,
        |       CAST(CASE WHEN doc_id % 7 = 6 THEN 0 ELSE 1 END AS BIGINT)
        |         AS matched
        |FROM documents ORDER BY doc_id""".stripMargin),

    // JSON schema inference (round 13): the field/type census over
    // flat JSONL lines, with a PLANTED TYPE DRIFT (score is a number
    // on even ids, a quoted string on odd) the histogram must surface;
    // the (key,vtype)->count agg is the one shuffle, map-side
    // combinable — the corpus-census shape at 100 TB
    QuerySpec("q_json_schema", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      val score = when(id % 2 === 0,
        concat(lit("\"score\":"), (id % 100).cast("string")))
        .otherwise(concat(lit("\"score\":\""), (id % 100).cast("string"),
          lit("\"")))
      val line = concat(lit("{\"id\":"), ids,
        lit(",\"name\":\"n"), ids, lit("\","), score,
        lit(",\"active\":"),
        when(id % 3 === 0, lit("true")).otherwise(lit("false")),
        lit(",\"tags\":[\"a\",\"b\"]"),
        when(id % 5 === 0, lit(",\"extra\":{}")).otherwise(lit("")),
        lit("}"))
      docs.select(posexplode(sources.Jsonl.schemaTypeTokens(line))
          .as(Seq("i", "kv")))
        .groupBy(col("kv.key").as("key"), col("kv.vtype").as("vtype"))
        .agg(count(lit(1)).as("n"))
        .orderBy("key", "vtype")
    }, oracle =
      // the field/type histogram closed form from the residue plan —
      // the score drift split across parities, extra only on the %5=0
      // class; counts always nonzero at every driver scale
      """WITH d AS (SELECT doc_id FROM documents)
        |SELECT key, vtype, CAST(n AS BIGINT) AS n FROM (
        |  SELECT 'id' AS key, 'number' AS vtype, count(*) AS n FROM d
        |  UNION ALL SELECT 'name', 'string', count(*) FROM d
        |  UNION ALL SELECT 'score', 'number', count(*) FROM d
        |    WHERE doc_id % 2 = 0
        |  UNION ALL SELECT 'score', 'string', count(*) FROM d
        |    WHERE doc_id % 2 = 1
        |  UNION ALL SELECT 'active', 'boolean', count(*) FROM d
        |  UNION ALL SELECT 'tags', 'array', count(*) FROM d
        |  UNION ALL SELECT 'extra', 'object', count(*) FROM d
        |    WHERE doc_id % 5 = 0)
        |ORDER BY key, vtype""".stripMargin),

    // meta-refresh redirects (round 13): the in-HTML redirect channel
    // — instant and delayed redirects (sloppy comma/quote spellings
    // included), timed reloads without a target, and the absent class
    QuerySpec("q_meta_refresh", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      val meta = when(id % 4 === 0,
        concat(lit("<meta http-equiv=\"refresh\" content=\"0; url=/land/"),
          ids, lit("\">")))
        .when(id % 4 === 1,
          concat(lit("<meta HTTP-EQUIV='Refresh' content=\"5, URL='/next/"),
            ids, lit("'\">")))
        .when(id % 4 === 2,
          lit("<meta http-equiv=\"refresh\" content=\"30\">"))
        .otherwise(lit(""))
      val page = concat(lit("<html><head>"), meta,
        lit("<meta charset=\"utf-8\"></head><body>stub</body></html>"))
      docs.select(id, pipeline.Html.metaRefresh(page).as("r"))
        .select(col("doc_id"), col("r.has_refresh").as("has_refresh"),
          col("r.delay").as("delay"), col("r.url").as("url"))
        .orderBy("doc_id")
    }, oracle =
      // (has_refresh, delay, url) closed form per residue class — the
      // sloppy comma/single-quote arm must parse like the clean one
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 4 IN (0, 1, 2) THEN 1 ELSE 0 END
        |            AS BIGINT) AS has_refresh,
        |       CAST(CASE WHEN doc_id % 4 = 0 THEN 0
        |                 WHEN doc_id % 4 = 1 THEN 5
        |                 WHEN doc_id % 4 = 2 THEN 30
        |                 ELSE -1 END AS BIGINT) AS delay,
        |       CASE WHEN doc_id % 4 = 0
        |              THEN '/land/' || CAST(doc_id AS VARCHAR)
        |            WHEN doc_id % 4 = 1
        |              THEN '/next/' || CAST(doc_id AS VARCHAR)
        |            ELSE '' END AS url
        |FROM documents ORDER BY doc_id""".stripMargin),

    // hreflang alternates (round 13): the multilingual edition cluster
    // — per-page language links (subset by residue) plus x-default,
    // with a rel=stylesheet decoy that must not leak into the set
    QuerySpec("q_hreflang", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val ids = id.cast("string")
      def alt(lang: String, path: Column) = concat(
        lit("<link rel=\"alternate\" hreflang=\"" + lang + "\" href=\""),
        path, lit("\">"))
      val page = concat(lit("<html><head>"),
        lit("<link rel=\"stylesheet\" href=\"/s.css\">"),
        alt("en", concat(lit("https://ex.org/en/p"), ids)),
        when(id % 2 === 0,
          alt("de", concat(lit("https://ex.org/de/p"), ids)))
          .otherwise(lit("")),
        when(id % 3 === 0,
          alt("fr", concat(lit("https://ex.org/fr/p"), ids)))
          .otherwise(lit("")),
        alt("x-default", concat(lit("https://ex.org/p"), ids)),
        lit("</head><body>x</body></html>"))
      docs.select(id,
          posexplode(pipeline.Html.hreflangAlternates(page))
            .as(Seq("alt", "a")))
        .select(col("doc_id"), col("alt").cast("long").as("alt"),
          col("a.lang").as("lang"), col("a.href").as("href"))
        .orderBy("doc_id", "alt")
    }, oracle =
      // the per-page hreflang cluster closed form: en, then de/fr on
      // their residues, then x-default; the stylesheet decoy contributes
      // nothing
      """WITH base AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS has_de,
        |         CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS has_fr
        |  FROM documents)
        |SELECT doc_id, CAST(alt AS BIGINT) AS alt, lang, href FROM (
        |  SELECT doc_id, 0 AS alt, 'en' AS lang,
        |         'https://ex.org/en/p' || CAST(doc_id AS VARCHAR) AS href
        |  FROM base
        |  UNION ALL
        |  SELECT doc_id, 1, 'de',
        |         'https://ex.org/de/p' || CAST(doc_id AS VARCHAR)
        |  FROM base WHERE has_de = 1
        |  UNION ALL
        |  SELECT doc_id, 1 + has_de, 'fr',
        |         'https://ex.org/fr/p' || CAST(doc_id AS VARCHAR)
        |  FROM base WHERE has_fr = 1
        |  UNION ALL
        |  SELECT doc_id, 1 + has_de + has_fr, 'x-default',
        |         'https://ex.org/p' || CAST(doc_id AS VARCHAR)
        |  FROM base)
        |ORDER BY doc_id, alt""".stripMargin)
  )
}
