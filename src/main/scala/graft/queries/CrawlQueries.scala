package graft
package queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Shared._

/** Crawl curation: URL canonicalization, robots and sitemaps, HTTP and
  * WARC records, CDX indexes and the link graph. */
object CrawlQueries {

  /** [[urlCanonSql]] with `canon` MATERIALIZED — for oracles that
    * reference it more than once (DuckDB re-inlines a plain CTE's whole
    * upstream chain per reference); the require() asserts the rewrite
    * fired so a spelling drift can't silently reintroduce that. */
  private lazy val urlCanonMatSql: String = {
    val out = urlCanonSql.replace("canon AS (", "canon AS MATERIALIZED (")
    require(out != urlCanonSql,
      "urlCanonSql no longer spells 'canon AS (' — update the rewrite")
    out
  }

  /** Closed-form registered domain of link residue `x` — shared by the
    * `q_link_graph`/`q_anchor_text` oracles. registeredDomain ∘
    * canonicalHost carries a non-default port through (the URL family's
    * convention, oracle-checked by q_url_canonical): with ':8080'
    * attached the multi-level-suffix string match can't fire, so the
    * ported co.uk/com.au hosts collapse to 'co.uk:8080'/'com.au:8080'. */
  private def linkDomSql(x: String): String = {
    val base =
      s"CASE ($x) % 7 WHEN 0 THEN 'example.com' WHEN 1 THEN 'example.co.uk'" +
        s" WHEN 2 THEN 'sample.org' WHEN 3 THEN 'data.net'" +
        s" WHEN 4 THEN 'test.com.au' WHEN 5 THEN 'example.com'" +
        s" ELSE 'site' || CAST(($x) % 13 AS VARCHAR) || '.net' END"
    s"CASE WHEN ($x) % 4 = 1 THEN (CASE ($x) % 7 WHEN 1 THEN 'co.uk'" +
      s" WHEN 4 THEN 'com.au' ELSE $base END) || ':8080'" +
      s" ELSE $base END"
  }

  private def linkHostSql(x: String): String =
    s"CASE ($x) % 7 WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.co.uk'" +
      s" WHEN 2 THEN 'blog.sample.org' WHEN 3 THEN 'data.net'" +
      s" WHEN 4 THEN 'api.test.com.au' WHEN 5 THEN 'cdn.example.com'" +
      s" ELSE 'w' || CAST(($x) % 29 AS VARCHAR) || '.site' ||" +
      s" CAST(($x) % 13 AS VARCHAR) || '.net' END"

  /** Closed-form canonical URL of link residue `x` (cosmetic terms all
    * erase; only the k-driven semantic identity survives). */
  private def linkCanonSql(x: String): String =
    s"(CASE WHEN ($x) % 3 = 0 THEN 'https' ELSE 'http' END) || '://' ||" +
      s" (${linkHostSql(x)}) ||" +
      s" (CASE WHEN ($x) % 4 = 1 THEN ':8080' ELSE '' END) ||" +
      s" (CASE WHEN ($x) % 11 = 3 THEN '/'" +
      s"  ELSE '/pAth/' || CAST(($x) % 100 AS VARCHAR) ||" +
      s"   (CASE WHEN ($x) % 5 = 2 THEN '/~user' ELSE '' END) END) ||" +
      s" (CASE WHEN ($x) % 7 = 5 THEN ''" +
      s"  ELSE '?a=' || CAST(($x) % 10 AS VARCHAR) || '&z=B' END)"

  /** The robots closed-form CTE chain (rules derived from the domain
    * string, RFC 9309 longest-match score as one MAX) from `canon` to
    * `sc(doc_id, domain, s)` — shared by `q_robots_gate` and
    * `q_crawl_frontier`. */
  private lazy val robotsCtesSql: String =
    """rdom AS MATERIALIZED (SELECT DISTINCT domain FROM canon),
      |rr AS MATERIALIZED (
      |  SELECT domain, '/pAth/' || CAST(len(domain) % 10 AS VARCHAR) AS rule_path,
      |         FALSE AS allow FROM rdom
      |  UNION ALL
      |  SELECT domain, '/pAth/' || CAST(len(domain) % 10 AS VARCHAR)
      |                          || CAST((len(domain) + 3) % 10 AS VARCHAR),
      |         TRUE FROM rdom
      |  UNION ALL
      |  SELECT domain, '/private', FALSE FROM rdom),
      |pth AS MATERIALIZED (
      |  SELECT doc_id, domain,
      |         regexp_extract(url_canon, '://[^/]*(/[^?]*)', 1) AS path
      |  FROM canon),
      |sc AS MATERIALIZED (
      |  SELECT p.doc_id, p.domain,
      |         MAX(CASE WHEN r.rule_path IS NOT NULL
      |                   AND starts_with(p.path, r.rule_path)
      |                  THEN len(r.rule_path) * 2 +
      |                       CASE WHEN r.allow THEN 1 ELSE 0 END
      |                  ELSE -1 END) AS s
      |  FROM pth p LEFT JOIN rr r USING (domain) GROUP BY 1, 2)""".stripMargin

  /** The UA-selected robots closed-form CTE chain (rules from the
    * graftbot groups on even-length domains, the `*` fallback pair on
    * odd — parse-free) from `canon` to `scua(doc_id, domain, s)` —
    * shared by `q_robots_ua` and `q_crawl_budget`. CTE names carry the
    * `ua` suffix so the chain composes next to [[robotsCtesSql]]. */
  private lazy val robotsUaCtesSql: String =
    """rdomua AS MATERIALIZED (SELECT DISTINCT domain FROM canon),
      |rrua AS MATERIALIZED (
      |  SELECT domain, '/pAth/' || CAST(len(domain) % 10 AS VARCHAR) AS rule_path,
      |         FALSE AS allow FROM rdomua
      |  UNION ALL
      |  SELECT domain, '/pAth/' || CAST(len(domain) % 10 AS VARCHAR)
      |                          || CAST((len(domain) + 3) % 10 AS VARCHAR),
      |         TRUE FROM rdomua WHERE len(domain) % 2 = 0
      |  UNION ALL
      |  SELECT domain, '/secret', FALSE FROM rdomua WHERE len(domain) % 2 = 0
      |  UNION ALL
      |  SELECT domain, '/private', FALSE FROM rdomua WHERE len(domain) % 2 = 1),
      |pthua AS MATERIALIZED (
      |  SELECT doc_id, domain,
      |         regexp_extract(url_canon, '://[^/]*(/[^?]*)', 1) AS path
      |  FROM canon),
      |scua AS MATERIALIZED (
      |  SELECT p.doc_id, p.domain,
      |         MAX(CASE WHEN r.rule_path IS NOT NULL
      |                   AND starts_with(p.path, r.rule_path)
      |                  THEN len(r.rule_path) * 2 +
      |                       CASE WHEN r.allow THEN 1 ELSE 0 END
      |                  ELSE -1 END) AS s
      |  FROM pthua p LEFT JOIN rrua r USING (domain) GROUP BY 1, 2)""".stripMargin

  /** The sitemap closed-form CTE chain (distinct-URL MAX-lastmod, the
    * crawl snapshot day) from `canon` to `sn(doc_id, lmd, crawled)` —
    * shared by `q_sitemap_probe` and `q_crawl_frontier`. */
  private lazy val sitemapCtesSql: String =
    """kd AS MATERIALIZED (
      |  SELECT DISTINCT domain, url_canon, doc_id % 127 AS k FROM canon),
      |lm AS MATERIALIZED (
      |  SELECT domain, url_canon,
      |         MAX(CASE WHEN k % 6 = 0 THEN -1
      |                  ELSE 19000 + (k * 3) % 150 END) AS lmd
      |  FROM kd GROUP BY 1, 2),
      |sn AS MATERIALIZED (
      |  SELECT c.doc_id, lm.lmd, 19000 + c.doc_id % 97 AS crawled
      |  FROM canon c
      |  JOIN lm ON lm.domain = c.domain AND lm.url_canon = c.url_canon)""".stripMargin

  /** Replay of `q_domain_prior_model`: the domain link graph (residue
    * permutation k → (31k+7) mod 127 over the URL fixture's registered
    * domains), the SAME integer PageRank recurrence as
    * `GraphQueries.pageRankOracleSql`, then the SAME moments + Cramer ridge solve
    * as the `q_ridge_quality` oracle with x2 = the doc's domain rank. */
  private def domainPriorModelOracleSql(iters: Int): String = {
    val head = tokSql.trim + ",\n" + urlEnrichSql.stripPrefix("WITH ") +
      urlCanonMatSql + """,
        |kdom AS MATERIALIZED (SELECT DISTINCT doc_id % 127 AS k, domain FROM canon),
        |ke AS MATERIALIZED (
        |  SELECT DISTINCT ('0x' || substr(md5(a.domain), 1, 15))::BIGINT AS src,
        |         ('0x' || substr(md5(b.domain), 1, 15))::BIGINT AS dst
        |  FROM kdom a JOIN kdom b ON b.k = (a.k * 31 + 7) % 127),
        |nodes AS MATERIALIZED (SELECT src AS node FROM ke UNION SELECT dst FROM ke),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM ke GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r
        |       FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT ke.dst AS node, SUM(r.r // deg.deg) AS s
         |       FROM ke JOIN r${i - 1} r ON ke.src = r.node
         |       JOIN deg ON deg.src = ke.src
         |       GROUP BY ke.dst),
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0) AS dm
         |       FROM r${i - 1} r LEFT JOIN deg ON r.node = deg.src
         |       WHERE deg.src IS NULL),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |         (15 * (1000000000000 // (SELECT n FROM nn)) +
         |          85 * (COALESCE(c$i.s, 0) +
         |                (SELECT dm FROM d$i) // (SELECT n FROM nn))) // 100 AS r
         |       FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s""",
         |qual AS MATERIALIZED (
         |  SELECT doc_id, ROUND($qualityExprSql,
         |        6) AS q
         |  FROM (
         |  $qualityInnerSql)),
         |feat AS MATERIALIZED (
         |  SELECT c.doc_id, CAST(c.n_chars AS BIGINT) AS x1,
         |         CAST(r$iters.r // 1000000 AS BIGINT) AS x2,
         |         CAST(FLOOR(qual.q * 1000000.0 + 0.5) AS BIGINT) AS y
         |  FROM canon c
         |  JOIN r$iters ON r$iters.node = ('0x' || substr(md5(c.domain), 1, 15))::BIGINT
         |  JOIN qual ON qual.doc_id = c.doc_id),
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
         |FROM a""".stripMargin
  }

  /** The URL fixture enrichment shared by the three URL-curation rows
    * (the fixture has no URL column): each doc gets a URL synthesized
    * deterministically from doc_id. `k = doc_id % 127` drives the
    * SEMANTIC identity (scheme, host, non-default port, path, params),
    * so docs congruent mod 127 reference the same resource; doc_id-only
    * terms add COSMETIC variation the canonicalizer must erase —
    * upper/lower case, userinfo, default ports, `%41`/`%7E`/`%42` escape
    * spellings, tracking params, permuted param order, fragments. */
  private def urlEnrichedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = s.read.parquet(s"$dir/documents.parquet")
    val d = col("doc_id")
    docs.select(col("doc_id"), col("n_chars"), synthUrl(d % 127, d).as("url"))
  }

  /** One synthetic URL: `k` (a residue mod 127) drives the SEMANTIC
    * identity (scheme, host, non-default port, path, params), `d` the
    * COSMETIC variation the canonicalizer must erase. Shared by
    * [[urlEnrichedDocs]] (k = doc_id % 127, d = doc_id) and the
    * `q_link_graph` hrefs (k = a target residue, d shifts). */
  private def synthUrl(k: Column, d: Column): Column = {
    val scheme = when(k % 3 === 0, lit("https")).otherwise(lit("http"))
    val schemeRaw = when(d % 2 === 1, upper(scheme)).otherwise(scheme)
    val hostBase = when(k % 7 === 0, lit("example.com"))
      .when(k % 7 === 1, lit("news.example.co.uk"))
      .when(k % 7 === 2, lit("blog.sample.org"))
      .when(k % 7 === 3, lit("data.net"))
      .when(k % 7 === 4, lit("api.test.com.au"))
      .when(k % 7 === 5, lit("cdn.example.com"))
      .otherwise(concat(lit("w"), (k % 29).cast("string"),
        lit(".site"), (k % 13).cast("string"), lit(".net")))
    val hostRaw = when(d % 2 === 0, hostBase).otherwise(upper(hostBase))
    val userinfo = when(d % 6 === 0, lit("user:pw@")).otherwise(lit(""))
    val port = when(k % 4 === 1, lit(":8080"))
      .when(d % 4 === 0,
        when(scheme === "https", lit(":443")).otherwise(lit(":80")))
      .otherwise(lit(""))
    val path = when(k % 11 === 3, lit(""))
      .otherwise(concat(
        when(d % 2 === 1, lit("/p%41th/")).otherwise(lit("/pAth/")),
        (k % 100).cast("string"),
        when(k % 5 === 2,
          when(d % 2 === 1, lit("/%7Euser")).otherwise(lit("/~user")))
          .otherwise(lit(""))))
    val qa = concat(lit("a="), (k % 10).cast("string"))
    val qz = when(d % 2 === 1, lit("z=%42")).otherwise(lit("z=B"))
    val qstr = when(k % 7 === 5, lit(""))
      .otherwise(concat(lit("?"),
        when(d % 2 === 0, concat(qa, lit("&"), qz))
          .otherwise(concat(qz, lit("&"), qa)),
        when(d % 3 === 0, lit("&utm_source=feed&gclid=g123"))
          .otherwise(lit(""))))
    val frag = when(d % 3 === 1, concat(lit("#sec-"), d.cast("string")))
      .otherwise(lit(""))
    concat(schemeRaw, lit("://"), userinfo, hostRaw, port, path, qstr, frag)
  }

  /** The per-domain synthetic robots.txt, parsed — shared by
    * `q_robots_gate` and `q_crawl_frontier` so the fixture cannot drift:
    * a decoy `bad-bot` group (must be ignored), a `*` group whose
    * Disallow/Allow derive from the domain string (longer Allow
    * overrides shorter Disallow — real longest-match), an empty
    * `Disallow:` and an unknown `Crawl-delay:` field. The slim domain
    * projection is checkpointed before `distinct()`: the
    * canonicalization tree otherwise fuses into the aggregate's codegen
    * stage past janino's method limit. */
  private def synthRobotsRules(en: DataFrame): DataFrame =
    pipeline.UrlOps.parseRobots(synthRobotsTxt(en))

  /** The raw per-domain robots.txt of [[synthRobotsRules]] — also fed to
    * `q_sitemap_discovery`, whose `Sitemap:` directive the GROUP parser
    * must ignore (it is global, not group-scoped) for the gate rows to
    * stay green. Round-12 decoys: the Sitemap directive carries a
    * trailing `#` comment (RFC 9309 allows them anywhere — the value
    * must come out clean), a bare colonless `sitemap` line must yield
    * NO directive (substring_index would otherwise hand the whole line
    * back as the value), and the final Disallow rule carries a comment
    * the group parser must strip before the path is matched. */
  private def synthRobotsTxt(en: DataFrame): DataFrame = {
    val doms = en.select(pipeline.UrlOps.registeredDomain(
        pipeline.UrlOps.canonicalHost(col("url"))).as("domain"))
      .localCheckpoint().distinct()
    val d0 = (length(col("domain")) % 10).cast("string")
    val d1 = ((length(col("domain")) + 3) % 10).cast("string")
    doms.select(col("domain"), concat(
      lit("# synthetic robots\nUser-agent: bad-bot\nDisallow: /\n\n"),
      lit("Sitemap: https://"), col("domain"),
      lit("/sitemap.xml # primary\nsitemap\n"),
      lit("User-agent: *\nDisallow: /pAth/"), d0,
      lit("\nAllow: /pAth/"), d0, d1,
      lit("\nDisallow:\nCrawl-delay: 5\nDisallow: /private # legacy\n"))
      .as("robots_txt"))
  }

  /** The UA-selection robots.txt of `q_robots_ua`: even-length domains
    * address `graftbot` directly in TWO groups (one sharing its header
    * with `other-bot`, one trailing — their union must apply, per RFC
    * 9309's combine-matching-groups clause) whose rules differ from the
    * `*` group by the Allow carve-out; odd-length domains have only the
    * decoy and `*` groups (fallback). File spells the token `GraftBot`;
    * the crawler identifies as `graftbot` — case-insensitive match. */
  private def synthRobotsTxtUa(en: DataFrame): DataFrame = {
    val doms = en.select(pipeline.UrlOps.registeredDomain(
        pipeline.UrlOps.canonicalHost(col("url"))).as("domain"))
      .localCheckpoint().distinct()
    val d0 = (length(col("domain")) % 10).cast("string")
    val d1 = ((length(col("domain")) + 3) % 10).cast("string")
    val even = length(col("domain")) % 2 === 0
    // politeness delays for q_crawl_budget, published in the group the
    // UA selection picks (graftbot's trailing group on even domains, the
    // * group on odd) — parseRobots ignores the unknown field, so the
    // q_robots_ua rules are untouched
    val delayMine = ((length(col("domain")) % 3 + 1) * 20).cast("string")
    val delayStar = ((length(col("domain")) % 4 + 1) * 12).cast("string")
    doms.select(col("domain"), concat(
      lit("# ua-selection synthetic\nUser-agent: bad-bot\nDisallow: /\n\n"),
      when(even, concat(
        lit("User-agent: GraftBot\nUser-agent: other-bot\nAllow: /pAth/"),
        d0, d1, lit("\nDisallow: /pAth/"), d0, lit("\n\n")))
        .otherwise(lit("")),
      lit("User-agent: *\nDisallow: /pAth/"), d0,
      lit("\nDisallow: /private\nCrawl-delay: "), delayStar, lit("\n"),
      when(even, concat(
        lit("\nUser-agent: graftbot\nDisallow: /secret\nCrawl-delay: "),
        delayMine, lit("\n")))
        .otherwise(lit("")))
      .as("robots_txt"))
  }

  /** The synthetic PSL of `q_psl_domain`, shared verbatim with its
    * oracle builder: the multi-level suffixes the PSL-lite knows, their
    * single-label parents, the PSL's own wildcard/exception examples
    * (`*.ck`/`!www.ck`, `*.kawasaki.jp`/`!city.kawasaki.jp`), a `//`
    * comment line the loader must skip — plus 64 generated padding
    * rules that never match (the probe is a broadcast JOIN, so list
    * size is free per host). */
  private val PslBaseRules: Seq[String] = Seq(
    "// synthetic publicsuffix.org excerpt") ++
    Seq("com", "org", "net", "uk", "au", "jp", "in", "kr", "br", "cn",
      "mx", "nz", "site") ++
    pipeline.UrlOps.MultiLevelSuffixes ++
    Seq("*.ck", "!www.ck", "*.kawasaki.jp", "!city.kawasaki.jp")

  private def pslRules(s: SparkSession): DataFrame = {
    import s.implicits._
    PslBaseRules.toDF("rule")
      .union(s.range(64).select(
        concat(lit("pad"), col("id").cast("string"), lit(".zz")).as("rule")))
  }

  /** The sitemap fixture + recrawl decision shared by `q_sitemap_probe`
    * and `q_crawl_frontier`: per domain a real sitemap.xml listing each
    * DISTINCT canonical URL once (residues 47/124 genuinely collide on
    * one URL and contribute the LATEST lastmod), `<lastmod>` derived
    * from the residue class and absent for k % 6 == 0 (the spec makes
    * it optional); the Spark side PARSES the XML and joins a per-doc
    * crawl snapshot, recrawl = unknown-or-newer. Returns
    * `(doc_id, domain, loc, crawled_day, lastmod_day, recrawl)`. */
  private def sitemapRecrawlFixture(s: SparkSession, dir: String): DataFrame = {
    val base = urlEnrichedDocs(s, dir).select(col("doc_id"),
        (col("doc_id") % 127).as("k"),
        pipeline.UrlOps.registeredDomain(
          pipeline.UrlOps.canonicalHost(col("url"))).as("domain"),
        pipeline.UrlOps.canonicalizeUrl(col("url")).as("loc"))
      .localCheckpoint() // slim seam, as in q_domain_prior_model
    val lmday = when(col("k") % 6 === 0, lit(-1L))
      .otherwise(lit(19000L) + (col("k") * 3) % 150)
    val entries = base.select(col("domain"), col("loc"), lmday.as("lmd0"))
      .groupBy("domain", "loc").agg(max("lmd0").as("lmd"))
      .select(col("domain"), concat(
        lit("  <url>\n    <loc>"), col("loc"), lit("</loc>"),
        when(col("lmd") < 0, lit(""))
          .otherwise(concat(lit("\n    <lastmod>"),
            date_format(date_add(to_date(lit("1970-01-01")),
              col("lmd").cast("int")), "yyyy-MM-dd"),
            lit("</lastmod>"))),
        lit("\n  </url>\n")).as("entry"))
    val xml = entries.groupBy("domain").agg(concat(
      lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
        "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
      array_join(sort_array(collect_list(col("entry"))), ""),
      lit("</urlset>\n")).as("sitemap_xml"))
    val snapshot = base.select(col("doc_id"), col("domain"), col("loc"),
      (lit(19000L) + col("doc_id") % 97).as("crawled_day"))
    sources.Sitemap.recrawlCandidates(snapshot,
      sources.Sitemap.parseSitemap(xml))
  }

  /** DuckDB spelling of [[urlEnrichedDocs]] — shared by the three URL
    * oracles so fixture synthesis cannot drift. Ends with
    * `en(doc_id, n_chars, url)`. */
  private lazy val urlEnrichSql: String =
    """WITH ub AS (
      |  SELECT doc_id, n_chars, doc_id % 127 AS k,
      |         CASE WHEN (doc_id % 127) % 3 = 0 THEN 'https' ELSE 'http' END AS sch
      |  FROM documents),
      |uh AS (
      |  SELECT *,
      |         CASE k % 7 WHEN 0 THEN 'example.com' WHEN 1 THEN 'news.example.co.uk'
      |                    WHEN 2 THEN 'blog.sample.org' WHEN 3 THEN 'data.net'
      |                    WHEN 4 THEN 'api.test.com.au' WHEN 5 THEN 'cdn.example.com'
      |                    ELSE 'w' || CAST(k % 29 AS VARCHAR) || '.site' || CAST(k % 13 AS VARCHAR) || '.net' END AS hostb,
      |         CASE WHEN doc_id % 2 = 1 THEN 'z=%42' ELSE 'z=B' END AS zz,
      |         'a=' || CAST(k % 10 AS VARCHAR) AS aa
      |  FROM ub),
      |en AS (
      |  SELECT doc_id, n_chars,
      |    (CASE WHEN doc_id % 2 = 1 THEN upper(sch) ELSE sch END) || '://' ||
      |    (CASE WHEN doc_id % 6 = 0 THEN 'user:pw@' ELSE '' END) ||
      |    (CASE WHEN doc_id % 2 = 0 THEN hostb ELSE upper(hostb) END) ||
      |    (CASE WHEN k % 4 = 1 THEN ':8080'
      |          WHEN doc_id % 4 = 0 THEN (CASE WHEN sch = 'https' THEN ':443' ELSE ':80' END)
      |          ELSE '' END) ||
      |    (CASE WHEN k % 11 = 3 THEN ''
      |          ELSE (CASE WHEN doc_id % 2 = 1 THEN '/p%41th/' ELSE '/pAth/' END) ||
      |               CAST(k % 100 AS VARCHAR) ||
      |               (CASE WHEN k % 5 = 2 THEN (CASE WHEN doc_id % 2 = 1 THEN '/%7Euser' ELSE '/~user' END) ELSE '' END) END) ||
      |    (CASE WHEN k % 7 = 5 THEN ''
      |          ELSE '?' || (CASE WHEN doc_id % 2 = 0 THEN aa || '&' || zz ELSE zz || '&' || aa END) ||
      |               (CASE WHEN doc_id % 3 = 0 THEN '&utm_source=feed&gclid=g123' ELSE '' END) END) ||
      |    (CASE WHEN doc_id % 3 = 1 THEN '#sec-' || CAST(doc_id AS VARCHAR) ELSE '' END) AS url
      |  FROM uh)""".stripMargin

  /** DuckDB hex-digit value of one-char SQL expression (−1 if not hex). */
  private def urlHexSql(ch: String): String =
    s"(strpos('0123456789ABCDEF', upper($ch)) - 1)"

  /** DuckDB spelling of `UrlOps.percentDecodeUnreserved` over SQL
    * expression `x`: split on `%`, decode each segment's two leading hex
    * chars iff they spell an unreserved octet (single pass — no
    * re-decoding), else re-attach the literal `%`. The trailing COALESCE
    * matters: DuckDB's `array_to_string([], '')` is NULL where Spark's
    * `array_join` is `''`. */
  private def urlPctDecodeSql(x: String): String = {
    val code = s"CAST((${urlHexSql("substr(seg, 1, 1)")} * 16 + " +
      s"${urlHexSql("substr(seg, 2, 1)")}) AS INTEGER)"
    s"((string_split($x, '%'))[1] || COALESCE(array_to_string(" +
      s"list_transform((string_split($x, '%'))[2:], seg -> " +
      s"CASE WHEN len(seg) >= 2 AND ${urlHexSql("substr(seg, 1, 1)")} >= 0 " +
      s"AND ${urlHexSql("substr(seg, 2, 1)")} >= 0 " +
      s"AND ($code BETWEEN 48 AND 57 OR $code BETWEEN 65 AND 90 " +
      s"OR $code BETWEEN 97 AND 122 OR $code IN (45, 46, 95, 126)) " +
      s"THEN chr($code) || substr(seg, 3) ELSE '%' || seg END), ''), ''))"
  }

  /** DuckDB spelling of the full `UrlOps.canonicalizeUrl` +
    * `registeredDomain` algorithm as a CTE chain from `en(doc_id,
    * n_chars, url)` to `canon(doc_id, n_chars, url_canon, domain)` —
    * every rule replayed step for step (fragment, scheme/host case,
    * userinfo, default ports, unreserved-escape decode, tracking-param
    * strip, param sort, empty path). */
  private lazy val urlCanonSql: String = {
    val suffixes = pipeline.UrlOps.MultiLevelSuffixes
      .map(s => s"'$s'").mkString(", ")
    s""", us1 AS (SELECT doc_id, n_chars, split_part(url, '#', 1) AS u FROM en),
       |us2 AS (SELECT *, lower(split_part(u, '://', 1)) AS sch,
       |               substr(u, strpos(u, '://') + 3) AS rest FROM us1),
       |us3 AS (SELECT *, regexp_extract(rest, '^[^/?]*') AS auth FROM us2),
       |us4 AS (SELECT *, lower(regexp_extract(auth, '[^@]*$$')) AS hp,
       |               substr(rest, len(auth) + 1) AS pq FROM us3),
       |us5 AS (SELECT *, CASE WHEN sch = 'http' AND hp LIKE '%:80' THEN substr(hp, 1, len(hp) - 3)
       |                       WHEN sch = 'https' AND hp LIKE '%:443' THEN substr(hp, 1, len(hp) - 4)
       |                       ELSE hp END AS host FROM us4),
       |us6 AS (SELECT *, ${urlPctDecodeSql("pq")} AS pqd FROM us5),
       |us7 AS (SELECT *, split_part(pqd, '?', 1) AS path,
       |               CASE WHEN strpos(pqd, '?') > 0 THEN substr(pqd, strpos(pqd, '?') + 1) ELSE '' END AS q FROM us6),
       |us8 AS (SELECT *, list_sort(list_filter(string_split(q, '&'), p ->
       |               len(p) > 0 AND NOT regexp_matches(p, '${pipeline.UrlOps.TrackingParamPattern}'))) AS params FROM us7),
       |us9 AS (SELECT *, string_split(host, '.') AS ls FROM us8),
       |canon AS (
       |  SELECT doc_id, n_chars,
       |         CASE WHEN strpos(u, '://') = 0 THEN u ELSE
       |           sch || '://' || host || (CASE WHEN path = '' THEN '/' ELSE path END) ||
       |           (CASE WHEN len(params) > 0 THEN '?' || array_to_string(params, '&') ELSE '' END) END AS url_canon,
       |         CASE WHEN len(ls) >= 3 AND (ls[-2] || '.' || ls[-1]) IN ($suffixes)
       |                THEN ls[-3] || '.' || ls[-2] || '.' || ls[-1]
       |              WHEN len(ls) >= 2 THEN ls[-2] || '.' || ls[-1]
       |              ELSE host END AS domain
       |  FROM us9)""".stripMargin
  }

  val specs: Seq[QuerySpec] = Seq(
    // URL canonicalization + registered-domain extraction (the front door
    // of every web curation pipeline — C4/RefinedWeb/Dolma dedup on a
    // canonical URL before any text op). The fixture has no URL column,
    // so each doc gets one synthesized deterministically from doc_id
    // (the Luhn-row enrichment pattern): mixed-case scheme/host, userinfo,
    // default and non-default ports, %41/%7E/%42 escapes, tracking params,
    // permuted param order, fragments. The oracle replays BOTH the
    // synthesis and the full canonicalization algorithm in SQL;
    // UrlOpsSpec pins every rule on hand-built URLs.
    QuerySpec("q_url_canonical", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      en.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("url")).as("url_canon"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("url"))).as("domain"))
        .orderBy("doc_id")
    }, oracle =
      // the three URL rows share one enrichment CTE (urlEnrichSql) and one
      // canonicalization chain (urlCanonSql) replaying every rule of
      // UrlOps.canonicalizeUrl + registeredDomain step for step
      (urlEnrichSql + urlCanonSql +
        "\nSELECT doc_id, url_canon, domain FROM canon ORDER BY doc_id")),

    // RFC 3986 §5 reference resolution (round 12): each page carries 9
    // hrefs covering every resolution branch (dot-segment climbs, `./`,
    // rooted, bare-relative, query-only, network-path, absolute with
    // dots, mid-path dots, fragment-only); the resolver must earn each
    // absolute URL from real markup while the oracle concatenates the
    // expected strings in closed form
    QuerySpec("q_url_resolve", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id") % 127
      val base = concat(lit("http://h"), (k % 10).cast("string"),
        lit(".example.com/dir"), (k % 5).cast("string"),
        lit("/sub/page.html"))
      val page = concat(
        lit("<html><body><p>Links: <a href=\"../up/x"), k.cast("string"),
        lit(".html\">a</a><a href='./same.html?v=2'>b</a>" +
          "<a href=\"/rooted/r.html\">c</a><a href=img/p"),
        (k % 9).cast("string"),
        lit(".png>d</a><a href=\"?page=2\">e</a>" +
          "<a href=\"//cdn.example.org/lib.js\">f</a>" +
          "<a href=\"https://other.net/a/../abs"), (k % 7).cast("string"),
        lit("\">g</a><a href=\"a/../b/./c.html\">h</a>" +
          "<a href=\"#frag\">i</a></p></body></html>"))
      // slim seam before the explode: the base/page builders plus the
      // resolver's branch tree otherwise fuse past janino's limit
      val pages = docs.select(col("doc_id"), base.as("base"),
          pipeline.Html.extractLinks(page).as("hrefs"))
        .localCheckpoint()
      pages.select(col("doc_id"), col("base"),
          posexplode(col("hrefs")).as(Seq("idx", "href")))
        .select(col("doc_id"), col("idx"),
          pipeline.UrlOps.resolveReference(col("base"), col("href"))
            .as("resolved"))
        .orderBy("doc_id", "idx")
    }, oracle =
      // all nine resolution branches concatenated in closed form — no URL
      // algebra anywhere in the oracle
      """WITH b AS (
        |  SELECT doc_id, doc_id % 127 AS k,
        |         'http://h' || CAST((doc_id % 127) % 10 AS VARCHAR) || '.example.com' AS hostp,
        |         '/dir' || CAST((doc_id % 127) % 5 AS VARCHAR) AS dir
        |  FROM documents)
        |SELECT doc_id, idx, resolved FROM (
        |  SELECT doc_id, CAST(0 AS INTEGER) AS idx, hostp || dir || '/up/x' || CAST(k AS VARCHAR) || '.html' AS resolved FROM b
        |  UNION ALL SELECT doc_id, 1, hostp || dir || '/sub/same.html?v=2' FROM b
        |  UNION ALL SELECT doc_id, 2, hostp || '/rooted/r.html' FROM b
        |  UNION ALL SELECT doc_id, 3, hostp || dir || '/sub/img/p' || CAST(k % 9 AS VARCHAR) || '.png' FROM b
        |  UNION ALL SELECT doc_id, 4, hostp || dir || '/sub/page.html?page=2' FROM b
        |  UNION ALL SELECT doc_id, 5, 'http://cdn.example.org/lib.js' FROM b
        |  UNION ALL SELECT doc_id, 6, 'https://other.net/abs' || CAST(k % 7 AS VARCHAR) FROM b
        |  UNION ALL SELECT doc_id, 7, hostp || dir || '/sub/b/c.html' FROM b
        |  UNION ALL SELECT doc_id, 8, hostp || dir || '/sub/page.html' FROM b)
        |ORDER BY doc_id, idx""".stripMargin),

    // rel=canonical dedup (round 12) — the page's own dedup-key claim,
    // the mechanism that collapses print/mobile/tracking variants even
    // when their URLs differ: docs whose pages declare a canonical link
    // group under the DECLARED target (resolved against the page URL,
    // then canonicalized); the rest group under their own canonical URL.
    // One hash aggregation on the target key — dedupByUrl's shape
    QuerySpec("q_canonical_dedup", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val slim = en.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("url")).as("base"),
          pipeline.Html.pageMeta(synthMetaPage).getField("canonical")
            .as("canon_href"))
        .localCheckpoint()
      // second seam: canonicalizeUrl references its argument many
      // times, so feeding it the resolver's tree inline would multiply
      // the resolver subtree per reference (measured 42 s before the
      // seam, ~1 s after — the tree-duplication failure mode, not IO)
      val resolved = slim.select(col("doc_id"),
          pipeline.UrlOps.resolveReference(col("base"), col("canon_href"))
            .as("rt"))
        .localCheckpoint()
      resolved.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("rt")).as("target"))
        .groupBy("target")
        .agg(min("doc_id").as("keeper"), count(lit(1)).as("n_members"))
        .orderBy("target")
    }, oracle =
      // group key = the declared canonical target when the page claims
      // one, else the page's own canonical URL (urlCanonSql closed form)
      (urlEnrichSql + urlCanonSql +
        """,
          |tgt AS (
          |  SELECT doc_id,
          |         CASE WHEN (doc_id % 127) % 4 = 0
          |              THEN 'https://canon.example.com/c' || CAST((doc_id % 127) % 50 AS VARCHAR)
          |              ELSE url_canon END AS target
          |  FROM canon)
          |SELECT target, MIN(doc_id) AS keeper,
          |       CAST(COUNT(*) AS BIGINT) AS n_members
          |FROM tgt GROUP BY target ORDER BY target""".stripMargin)),

    // robots-meta / X-Robots-Tag gate (round 12): the IN-band opt-out
    // channel (q_robots_gate covers the out-of-band robots.txt): the
    // meta directives come from real page markup, the header directives
    // from the synthesized response, and a directive in either channel
    // applies — noindex/none drop the text, nofollow/none cut the links
    QuerySpec("q_noindex_gate", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val d = col("doc_id")
      val header = when(d % 7 === 0, lit("noindex"))
        .when(d % 7 === 1, lit("NOARCHIVE, nofollow"))
        .otherwise(lit(""))
      docs.select(d,
          pipeline.Html.pageMeta(synthMetaPage).getField("robots").as("mr"),
          header.as("hdr"))
        .localCheckpoint()
        .select(col("doc_id"),
          pipeline.Html.noindexGate(col("mr"), col("hdr")).as("g"))
        .select(col("doc_id"),
          col("g.indexable").cast("long").as("indexable"),
          col("g.followable").cast("long").as("followable"))
        .orderBy("doc_id")
    }, oracle =
      // meta channel: noindex when k%5 in (0,2), nofollow when k%5 in
      // (1,2); header channel: noindex when id%7=0, nofollow when id%7=1
      """SELECT doc_id,
        |       CAST(CASE WHEN (doc_id % 127) % 5 IN (0, 2) OR doc_id % 7 = 0
        |                 THEN 0 ELSE 1 END AS BIGINT) AS indexable,
        |       CAST(CASE WHEN (doc_id % 127) % 5 IN (1, 2) OR doc_id % 7 = 1
        |                 THEN 0 ELSE 1 END AS BIGINT) AS followable
        |FROM documents ORDER BY doc_id""".stripMargin),

    // redirect chain hop (round 12): ~8% of real captures are 3xx, and
    // RFC 9110 §10.2.2 allows a RELATIVE Location — the resolver hop a
    // naive pipeline gets wrong; a Location-shaped line in the BODY is a
    // decoy the header-section confinement must ignore
    QuerySpec("q_redirect_resolve", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id") % 127
      val ks = k.cast("string")
      val reqUrl = concat(lit("http://r"), (k % 10).cast("string"),
        lit(".example.com/old/p"), ks)
      val http = when(k % 3 === 0,
        concat(lit("HTTP/1.1 301 Moved Permanently\r\n" +
          "Location: https://new.example.com/n"), ks,
          lit("\r\nContent-Type: text/html\r\n\r\n<a href=\"/x\">moved</a>")))
        .when(k % 3 === 1,
          concat(lit("HTTP/1.1 302 Found\r\nlocation: ../moved/m"), ks,
            lit("\r\n\r\nLocation: http://decoy.invalid/body\r\nbody text")))
        .otherwise(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\nfine page"))
      val resp = docs.select(col("doc_id"), reqUrl.as("req_url"),
          http.as("payload"))
        .localCheckpoint()
      resp.select(col("doc_id"),
          sources.Warc.httpResponseParts(col("payload"))
            .getField("status").as("status"),
          sources.Warc.httpHeader(col("payload"), "Location").as("loc"),
          col("req_url"))
        .select(col("doc_id"), col("status"),
          when(col("status").between(300, 399) && length(col("loc")) > 0,
            pipeline.UrlOps.resolveReference(col("req_url"), col("loc")))
            .otherwise(col("req_url")).as("final_url"))
        .orderBy("doc_id")
    }, oracle =
      // status + final URL closed form; the relative-Location arm replays
      // the ../ climb as a concatenation, no resolver in the oracle
      """SELECT doc_id,
        |       CAST(CASE (doc_id % 127) % 3 WHEN 0 THEN 301 WHEN 1 THEN 302
        |            ELSE 200 END AS BIGINT) AS status,
        |       CASE (doc_id % 127) % 3
        |         WHEN 0 THEN 'https://new.example.com/n' || CAST(doc_id % 127 AS VARCHAR)
        |         WHEN 1 THEN 'http://r' || CAST((doc_id % 127) % 10 AS VARCHAR) ||
        |                     '.example.com/moved/m' || CAST(doc_id % 127 AS VARCHAR)
        |         ELSE 'http://r' || CAST((doc_id % 127) % 10 AS VARCHAR) ||
        |              '.example.com/old/p' || CAST(doc_id % 127 AS VARCHAR)
        |       END AS final_url
        |FROM documents ORDER BY doc_id""".stripMargin),

    // WAT export (round 12) — the metadata third of the Common Crawl
    // triad (WARC = captures, WET = q_wet_roundtrip, WAT = per-page
    // JSON envelopes): canonical URL + extracted title + outlinks
    // serialized through Spark's to_json; the oracle concatenates the
    // exact JSON string closed form
    QuerySpec("q_wat_export", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val slim = en.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("url")).as("u"))
        .localCheckpoint()
      val page = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit("</title></head><body><nav><a href=\"/\">Home</a>" +
          "<a href='/about'>About</a></nav><p>body prose</p>" +
          "<footer><a href=/tos>ToS</a></footer></body></html>"))
      slim.select(col("doc_id"),
          to_json(struct(col("u").as("url"),
            pipeline.Html.pageMeta(page).getField("title").as("title"),
            pipeline.Html.extractLinks(page).as("links"))).as("wat"))
        .orderBy("doc_id")
    }, oracle =
      // the exact to_json byte string concatenated closed form: field
      // order is the struct order, no whitespace, URL from the shared
      // canonicalization CTE
      (urlEnrichSql + urlCanonSql +
        """
          |SELECT doc_id,
          |       '{"url":"' || url_canon || '","title":"Doc ' ||
          |       CAST(doc_id AS VARCHAR) ||
          |       '","links":["/","/about","/tos"]}' AS wat
          |FROM canon ORDER BY doc_id""".stripMargin)),

    // HTTP cache policy (round 13): RFC 9111 shared-cache semantics
    // over synthesized response headers — no-store/private gating,
    // s-maxage overriding max-age, revalidation directives, validator
    // preference — every field closed form from the residue plan
    QuerySpec("q_http_cache", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val id = col("doc_id")
      val cc = when(id % 5 === 0, lit("Cache-Control: no-store\r\n"))
        .when(id % 5 === 1,
          lit("Cache-Control: private, max-age=600\r\n"))
        .when(id % 5 === 2, concat(lit("Cache-Control: public, max-age="),
          (id % 3600).cast("string"), lit(", s-maxage="),
          (id % 1800).cast("string"), lit("\r\n")))
        .when(id % 5 === 3, lit("Cache-Control: no-cache\r\n"))
        .otherwise(lit(""))
      val etag = when(id % 2 === 0, concat(lit("ETag: \"v"),
        id.cast("string"), lit("\"\r\n"))).otherwise(lit(""))
      val lm = when(id % 3 === 0,
        lit("Last-Modified: Tue, 01 Jul 2025 00:00:00 GMT\r\n"))
        .otherwise(lit(""))
      val headers = concat(
        lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"),
        cc, etag, lm)
      docs.select(id, sources.Warc.cachePolicy(headers).as("p"))
        .select(col("doc_id"), col("p.cacheable").as("cacheable"),
          col("p.ttl").as("ttl"), col("p.revalidate").as("revalidate"),
          col("p.validator").as("validator"))
        .orderBy("doc_id")
    }, oracle =
      // RFC 9111 shared-cache decisions closed form: private/no-store
      // gate, s-maxage precedence, the max-age=0 revalidation edge, and
      // validator preference etag > last-modified > none
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 5 IN (0, 1) THEN 0 ELSE 1 END
        |            AS BIGINT) AS cacheable,
        |       CAST(CASE WHEN doc_id % 5 = 1 THEN 600
        |                 WHEN doc_id % 5 = 2 THEN doc_id % 1800
        |                 ELSE -1 END AS BIGINT) AS ttl,
        |       CAST(CASE WHEN doc_id % 5 = 3 THEN 1
        |                 WHEN doc_id % 5 = 2 AND doc_id % 1800 = 0 THEN 1
        |                 ELSE 0 END AS BIGINT) AS revalidate,
        |       CASE WHEN doc_id % 2 = 0 THEN 'etag'
        |            WHEN doc_id % 3 = 0 THEN 'last-modified'
        |            ELSE 'none' END AS validator
        |FROM documents ORDER BY doc_id""".stripMargin),

    // robots rules AS-OF the capture time (round 12): robots.txt
    // changes, and a capture must obey the version in effect when it
    // was fetched — the versioned-policy correctness a naive
    // latest-rules join gets wrong. Two fixture versions flip the
    // decision for every path, so any as-of error lands as a wrong
    // `allowed`; version keys ride parseRobots' opaque domain column
    QuerySpec("q_robots_asof", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val d = col("doc_id")
      val caps = en.select(d,
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("url"))).as("domain"),
          regexp_extract(pipeline.UrlOps.canonicalizeUrl(col("url")),
            "://[^/]*(/[^?]*)", 1).as("path"),
          (lit(120L) + d % 160).as("crawl_day"))
        .localCheckpoint()
      val hist = caps.select("domain").distinct()
        .select(col("domain"),
          explode(array(lit(100L), lit(200L))).as("fetched_day"))
        .select(col("domain"), col("fetched_day"),
          when(col("fetched_day") === 100L,
            lit("User-agent: *\nDisallow: /pAth/"))
            .otherwise(lit("User-agent: *\nAllow: /pAth/\nDisallow: /"))
            .as("robots_txt"))
      val asof = caps
        .join(hist.select("domain", "fetched_day"), Seq("domain"))
        .where(col("fetched_day") <= col("crawl_day"))
        .groupBy("doc_id", "domain", "path", "crawl_day")
        .agg(max("fetched_day").as("ver_day"))
      val rules = pipeline.UrlOps.parseRobots(
        hist.select(concat(col("domain"), lit("#"),
            col("fetched_day").cast("string")).as("dkey"),
          col("robots_txt")),
        domainCol = "dkey", txtCol = "robots_txt")
        .withColumnRenamed("domain", "dkey")
      asof.select(col("doc_id"), col("domain"), col("path"),
          col("crawl_day"),
          concat(col("domain"), lit("#"), col("ver_day").cast("string"))
            .as("dkey"))
        .join(broadcast(rules), Seq("dkey"), "left")
        .select(col("doc_id"), col("domain"), col("crawl_day"),
          when(col("rule_path").isNotNull &&
              col("path").startsWith(col("rule_path")),
            length(col("rule_path")) * 2 + col("allow").cast("int"))
            .otherwise(lit(-1)).as("score"))
        .groupBy("doc_id", "domain", "crawl_day")
        .agg(max("score").as("s"))
        .select(col("doc_id"), col("domain"), col("crawl_day"),
          when(col("s") < 0, lit(1L))
            .otherwise((col("s") % 2).cast("long")).as("allowed"))
        .orderBy("doc_id")
    }, oracle =
      // the as-of decision collapses to one closed-form flip: version 1
      // (crawl < 200) disallows the /pAth/ tree and allows the root,
      // version 2 allows the tree and disallows everything else
      (urlEnrichSql + urlCanonSql +
        """,
          |cap AS (
          |  SELECT doc_id, domain,
          |         CAST(120 + doc_id % 160 AS BIGINT) AS crawl_day,
          |         CASE WHEN (doc_id % 127) % 11 = 3 THEN 1 ELSE 0 END AS rooted
          |  FROM canon)
          |SELECT doc_id, domain, crawl_day,
          |       CAST(CASE WHEN crawl_day < 200 THEN rooted
          |                 ELSE 1 - rooted END AS BIGINT) AS allowed
          |FROM cap ORDER BY doc_id""".stripMargin)),

    // the crawl pipeline END TO END — the round-11 families composed the
    // way a real ingest runs them: each doc's synthetic page rides a
    // member-per-record .warc.gz under its enriched URL; the pipeline
    // then does real work at every stage — gzip member split (CRC
    // verified), Content-Length record walk, HTML→text extraction,
    // URL canonicalization + registered domain from the WARC header,
    // quality scoring on the extracted prose. The oracle replays NONE
    // of the container/markup machinery: it predicts every output in
    // closed form from the raw fixture (URL synthesis chain + quality
    // on raw text — valid because extraction provably returns exactly
    // the text, the q_html_extract contract), so a bug in ANY stage
    // lands as a hash mismatch.
    QuerySpec("q_crawl_e2e", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pages = docs
        .join(urlEnrichedDocs(s, dir).select("doc_id", "url"), "doc_id")
        .select(col("doc_id"), col("url"), synthHtmlPage.as("html"))
        .as[(Long, String, String)]
      // response records carry REAL HTTP/1.1 framing (status + headers +
      // body — what a crawl response record actually holds, round 11):
      // residue k%17==3 serves a 404 error page the status gate must
      // quarantine before extraction ever runs
      // residue k%11==4 (round 13): the origin COMPRESSED the body —
      // `Content-Encoding: gzip` over the same html (what most real
      // servers send); the Column parse flags it incomplete and the
      // binary seam inflates it, so the same text comes out the end
      val warcs = pages.mapPartitions { it =>
        it.map { case (id, url, html) =>
          val notFound = (id % 127) % 17 == 3
          val gzBody = !notFound && (id % 127) % 11 == 4
          val http: Array[Byte] =
            if (notFound)
              ("HTTP/1.1 404 Not Found\r\nContent-Type: text/html\r\n\r\n" +
                "<html><body><p>404 page not found here sorry</p></body></html>")
                .getBytes("UTF-8")
            else if (gzBody)
              ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8" +
                "\r\nContent-Encoding: gzip\r\n\r\n").getBytes("UTF-8") ++
                sources.Warc.gzipMember(html.getBytes("UTF-8"))
            else
              ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8" +
                "\r\n\r\n" + html).getBytes("UTF-8")
          val recs = Seq(
            sources.Warc.RecordSpec("request", Some(url),
              "GET / HTTP/1.1\r\n\r\n".getBytes("UTF-8")),
            sources.Warc.RecordSpec("response", Some(url), http))
          (id, recs.flatMap(r =>
            sources.Warc.gzipMember(sources.Warc.buildWarc(Seq(r))._1))
            .toArray)
        }
      }.toDF("id", "payload")
      val resp = sources.Warc.warcProbe(warcs, gzipped = true)
        .where(col("rec_type") === "response")
        .select(col("id").as("doc_id"), col("target_uri"), col("payload"),
          sources.Warc.httpResponseParts(col("payload").cast("string"))
            .as("h"))
        .localCheckpoint()
      val okText = resp.where(col("h.decode_complete") &&
          col("h.status") === 200L && col("h.content_type") === "text/html")
        .select(col("doc_id"), col("target_uri"),
          pipeline.Html.htmlToText(col("h.body")).as("text"))
      val seamText = sources.Warc.httpDecode(
          resp.where(!col("h.decode_complete"))
            .select("doc_id", "target_uri", "payload"))
        .where(col("decode_complete") && col("http_status") === 200L &&
          col("http_content_type") === "text/html")
        .select(col("doc_id"), col("target_uri"),
          pipeline.Html.htmlToText(col("http_body").cast("string"))
            .as("text"))
      okText.unionAll(seamText)
        .select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("target_uri")).as("url_canon"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("target_uri"))).as("domain"),
          pipeline.TextOps.qualityExpr.as("q_r"))
        .orderBy("doc_id")
    }, oracle =
      // parse-free closed-form replay of the whole crawl chain: canonical
      // URL + domain from the synthesis CTEs, quality from the RAW text
      // (extraction provably returns exactly the text — q_html_extract's
      // contract, re-checked per scale) — no gzip, no WARC walk, no HTML
      // anywhere in the oracle
      (tokSql.trim + ",\n" + urlEnrichSql.stripPrefix("WITH ") +
        urlCanonSql +
        s""",
           |qual AS (
           |  SELECT doc_id, ROUND($qualityExprSql,
           |        6) AS q_r
           |  FROM (
           |  $qualityInnerSql))
           |SELECT c.doc_id, c.url_canon, c.domain, qual.q_r
           |FROM canon c JOIN qual USING (doc_id)
           |WHERE (c.doc_id % 127) % 17 != 3
           |ORDER BY c.doc_id""".stripMargin)),

    // URL-level exact dedup: cosmetic variants (case, default port,
    // userinfo, tracking params, param order, escape spelling, fragment)
    // of the same resource collapse to one canonical key — one hash
    // aggregation, first-crawled (min doc_id) wins
    QuerySpec("q_url_dedup", (s, dir) =>
      pipeline.UrlOps.dedupByUrl(urlEnrichedDocs(s, dir))
        .orderBy("url_canon"), oracle =
      (urlEnrichSql + urlCanonSql +
        """
          |SELECT url_canon, MIN(doc_id) AS keeper,
          |       CAST(COUNT(*) AS BIGINT) AS n_dups
          |FROM canon GROUP BY url_canon ORDER BY url_canon""".stripMargin)),

    // IDN/punycode folding (round 13): both spellings of an
    // international site — Unicode and ACE — must canonicalize to ONE
    // key (the dedup gap any international crawl hits), with the PSL
    // walk running in the folded space; the oracle carries the expected
    // ACE forms as literals (RFC 3492 outputs, precomputed), so a fold
    // drift or a registered-domain slip lands as a hash mismatch
    QuerySpec("q_idn_fold", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id") % 127
      val host = when(k % 5 === 0, lit("münchen.de"))
        .when(k % 5 === 1, lit("xn--mnchen-3ya.de"))
        .when(k % 5 === 2, lit("日本語.jp"))
        .when(k % 5 === 3, lit("bücher.example.co.uk"))
        .otherwise(lit("plain.example.com"))
      val url = concat(lit("http://"), host, lit("/p/"), k.cast("string"))
      docs.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(url).as("url_canon"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(url)).as("domain"))
        .orderBy("doc_id")
    }, oracle =
      // expected ACE spellings are RFC 3492 outputs carried as literals
      // (DuckDB has no punycode); both IDN arms map to the SAME key
      """WITH k AS (SELECT doc_id, doc_id % 127 AS k FROM documents)
        |SELECT doc_id,
        |       'http://' ||
        |       CASE WHEN k % 5 IN (0, 1) THEN 'xn--mnchen-3ya.de'
        |            WHEN k % 5 = 2 THEN 'xn--wgv71a119e.jp'
        |            WHEN k % 5 = 3 THEN 'xn--bcher-kva.example.co.uk'
        |            ELSE 'plain.example.com' END ||
        |       '/p/' || CAST(k AS VARCHAR) AS url_canon,
        |       CASE WHEN k % 5 IN (0, 1) THEN 'xn--mnchen-3ya.de'
        |            WHEN k % 5 = 2 THEN 'xn--wgv71a119e.jp'
        |            WHEN k % 5 = 3 THEN 'example.co.uk'
        |            ELSE 'example.com' END AS domain
        |FROM k ORDER BY doc_id""".stripMargin),

    // per-registered-domain quota (the domain-cap curation gate): at most
    // 3 docs per pay-level domain, largest-first — the row_number+filter
    // shape executes through Spark's WindowGroupLimit, so no domain is
    // ever ranked whole however many pages it contributed
    QuerySpec("q_domain_cap", (s, dir) =>
      pipeline.UrlOps.domainCap(urlEnrichedDocs(s, dir), k = 3)
        .orderBy("domain", "rn"), oracle =
      (urlEnrichSql + urlCanonSql +
        """
          |SELECT domain, doc_id, n_chars, rn FROM (
          |  SELECT domain, doc_id, n_chars,
          |         ROW_NUMBER() OVER (PARTITION BY domain
          |                            ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM canon)
          |WHERE rn <= 3 ORDER BY domain, rn""".stripMargin)),

    // robots.txt gate (RFC 9309 — the crawl-politeness front gate): per
    // domain a synthetic robots.txt is generated with a decoy
    // `User-agent: bad-bot` group (must be IGNORED), a `*` group whose
    // Disallow/Allow rules derive from the domain string (so
    // Allow: /pAth/XY overrides Disallow: /pAth/X only on the longer
    // match — real longest-match exercise), an empty `Disallow:` (the
    // RFC's nothing-disallowed spelling, skipped) and an unknown
    // Crawl-delay field. The Spark side PARSES the text with the
    // Column state machine and gates every URL; the oracle derives the
    // rules in closed form (parse-free) and replays only the
    // score = 2·len + allowBit matching rule.
    QuerySpec("q_robots_gate", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      pipeline.UrlOps.robotsGate(en, synthRobotsRules(en)).orderBy("doc_id")
    }, oracle =
      // the robots rules derived in CLOSED FORM from the domain string
      // (no robots.txt text, no parsing anywhere in the oracle — the
      // Spark side earns its answer by actually parsing), then the RFC
      // 9309 longest-match/allow-ties decision replayed as one MAX over
      // score = 2·len(rule) + allowBit
      (urlEnrichSql + urlCanonMatSql + ",\n" + robotsCtesSql +
        """
          |SELECT doc_id, domain,
          |       CAST(CASE WHEN s < 0 THEN 1 ELSE s % 2 END AS BIGINT) AS allowed
          |FROM sc ORDER BY doc_id""".stripMargin)),

    // sitemap DISCOVERY — the missing hop between the robots gate and
    // the sitemap probe: a crawler learns where a site's sitemap lives
    // from the global `Sitemap:` directive in robots.txt (RFC 9309
    // §2.3). The directive sits inside the gate rows' fixture, so the
    // group parser's ignore-unknown-fields contract is exercised on
    // production data at the same time
    QuerySpec("q_sitemap_discovery", (s, dir) =>
      pipeline.UrlOps.sitemapDirectives(
        synthRobotsTxt(urlEnrichedDocs(s, dir))).orderBy("domain"), oracle =
      // the sitemap location is a closed function of the domain — no
      // robots.txt text or parsing anywhere in the oracle
      (urlEnrichSql + urlCanonMatSql + """,
        |rdom AS (SELECT DISTINCT domain FROM canon)
        |SELECT domain,
        |       'https://' || domain || '/sitemap.xml' AS sitemap_url
        |FROM rdom ORDER BY domain""".stripMargin)),

    // RFC 9309 §2.2.1 GROUP SELECTION (round 12): a crawler identifying
    // as a product token must obey the most specific matching group —
    // the union of all groups naming its token — and fall back to `*`
    // only when none does (Common Crawl's CCBot hits this constantly).
    // Even-length domains publish two `graftbot` groups (one shared
    // with `other-bot` — multi-UA headers accumulate; one at the end —
    // the RFC's combine-matching-groups clause) whose rules differ from
    // the `*` group by an Allow carve-out, so a parser that ignores
    // token groups flips `allowed` on every carve-out path; odd-length
    // domains have only `*`, exercising the fallback. Token case
    // differs between file (`GraftBot`) and crawler (`graftbot`) — the
    // match is case-insensitive. Oracle: rules in closed form from the
    // domain string (parse-free), RFC longest-match as one MAX.
    QuerySpec("q_robots_ua", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      pipeline.UrlOps.robotsGate(en,
        pipeline.UrlOps.parseRobots(synthRobotsTxtUa(en),
          agent = "graftbot")).orderBy("doc_id")
    }, oracle =
      // the UA-selected rule set in closed form from the domain string
      // (even-length domains: the graftbot groups' union — Allow
      // carve-out + base Disallow + /secret; odd: the `*` fallback pair),
      // then the same RFC longest-match MAX as q_robots_gate — no
      // robots.txt text, no group parsing anywhere in the oracle
      (urlEnrichSql + urlCanonMatSql + ",\n" + robotsUaCtesSql +
        """
          |SELECT doc_id, domain,
          |       CAST(CASE WHEN s < 0 THEN 1 ELSE s % 2 END AS BIGINT) AS allowed
          |FROM scua ORDER BY doc_id""".stripMargin)),

    // sitemap INDEX + gzipped members (round 12): real large sites
    // front a <sitemapindex> of .xml.gz children (the sitemaps.org
    // 50k-URL cap per file forces it). The Spark side does the real
    // walk a crawler does: per domain the entries are SPLIT across two
    // child urlsets, each gzipped (Warc.gzipMember — CRC'd), an index
    // XML names the children; then parseSitemapIndex discovers the
    // children, a join fetches their blobs, gunzipSitemaps sniffs the
    // magic and inflates (CRC32/ISIZE verified), and parseSitemap
    // yields the entries. The oracle predicts the final entry table in
    // CLOSED FORM from doc_id (no XML, no gzip, no index anywhere), so
    // a bug in ANY hop — index parse, loc join, member inflate, child
    // split — lands as a missing/corrupt entry.
    QuerySpec("q_sitemap_index", (s, dir) => {
      import s.implicits._
      val base = urlEnrichedDocs(s, dir).select(
          (col("doc_id") % 127).as("k"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("url"))).as("domain"),
          pipeline.UrlOps.canonicalizeUrl(col("url")).as("loc"))
        .localCheckpoint() // slim seam (the sitemapRecrawlFixture lesson)
      val lmday = when(col("k") % 6 === 0, lit(-1L))
        .otherwise(lit(19000L) + (col("k") * 3) % 150)
      val entries = base.select(col("domain"), col("loc"), lmday.as("lmd0"))
        .groupBy("domain", "loc").agg(max("lmd0").as("lmd"))
      val entryXml = concat(
        lit("  <url>\n    <loc>"), col("loc"), lit("</loc>"),
        when(col("lmd") < 0, lit(""))
          .otherwise(concat(lit("\n    <lastmod>"),
            date_format(date_add(to_date(lit("1970-01-01")),
              col("lmd").cast("int")), "yyyy-MM-dd"),
            lit("</lastmod>"))),
        lit("\n  </url>\n"))
      // child assignment must be oracle-free (the oracle never sees the
      // split): parity of the canonical URL's length
      val childXml = entries
        .withColumn("child", pmod(length(col("loc")), lit(2)))
        .select(col("domain"), col("child"), entryXml.as("entry"))
        .groupBy("domain", "child").agg(concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          array_join(sort_array(collect_list(col("entry"))), ""),
          lit("</urlset>\n")).as("xml"))
        .withColumn("loc", concat(lit("https://"), col("domain"),
          lit("/sitemap-"), col("child").cast("string"), lit(".xml.gz")))
      val childBlobs = childXml.select(col("domain"), col("loc"), col("xml"))
        .as[(String, String, String)]
        .mapPartitions(_.map { case (domain, loc, xml) =>
          (domain, loc, sources.Warc.gzipMember(
            xml.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
        })
        .toDF("domain", "loc", "blob")
      val indexXml = childXml.select(col("domain"), concat(
          lit("  <sitemap>\n    <loc>"), col("loc"), lit("</loc>"),
          when(col("child") === 0,
            lit("\n    <lastmod>2022-04-18</lastmod>")).otherwise(lit("")),
          lit("\n  </sitemap>\n")).as("m"))
        .groupBy("domain").agg(concat(
          lit("<?xml version=\"1.0\" encoding=\"UTF-8\"?>\n" +
            "<sitemapindex xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">\n"),
          array_join(sort_array(collect_list(col("m"))), ""),
          lit("</sitemapindex>\n")).as("index_xml"))
      val children = sources.Sitemap.parseSitemapIndex(indexXml)
        .select(col("domain"), col("child_loc").as("loc"))
      val fetched = children.join(childBlobs, Seq("domain", "loc"))
      sources.Sitemap.parseSitemap(sources.Sitemap.gunzipSitemaps(fetched))
        .select(col("domain"), col("loc"), col("lastmod_day"))
        .orderBy("domain", "loc")
    }, oracle =
      // the walked index's entry table is exactly the flat closed-form
      // lastmod derivation (lm of sitemapCtesSql) — no index XML, no
      // gzip, no child split anywhere in the oracle; every hop of the
      // Spark walk has to reassemble it byte-for-byte
      (urlEnrichSql + urlCanonMatSql + ",\n" + sitemapCtesSql +
        """
          |SELECT domain, url_canon AS loc, CAST(lmd AS BIGINT) AS lastmod_day
          |FROM lm ORDER BY domain, loc""".stripMargin)),

    // CDX capture index (round 12): the SURT key (Sort-friendly URI
    // Reordering Transform — OpenWayback/Common Crawl's index key) over
    // every canonical URL, grouped into capture counts: one domain's
    // captures sort contiguously, and cosmetic URL variants collapse to
    // one key. The oracle replays the reversal/port/path assembly in
    // SQL from the closed-form canonical URL.
    QuerySpec("q_cdx_index", (s, dir) =>
      urlEnrichedDocs(s, dir)
        .select(col("doc_id"), pipeline.UrlOps.surtKey(
          pipeline.UrlOps.canonicalizeUrl(col("url"))).as("surt_key"))
        .groupBy("surt_key")
        .agg(count(lit(1)).as("n_captures"), min("doc_id").as("first_doc"))
        .orderBy("surt_key"), oracle =
      // the SURT transform replayed in SQL from the canonical URL (host
      // reversed comma-joined, port kept, ')' + path+query) — captures
      // per key are exactly the canonical-URL dedup groups under the
      // sort-friendly spelling
      (urlEnrichSql + urlCanonMatSql + """,
        |srt AS (
        |  SELECT doc_id,
        |         array_to_string(list_reverse(string_split(
        |           string_split(regexp_extract(url_canon, '://([^/]*)', 1), ':')[1],
        |           '.')), ',')
        |         || (CASE WHEN instr(regexp_extract(url_canon, '://([^/]*)', 1), ':') > 0
        |                  THEN ':' || string_split(regexp_extract(url_canon, '://([^/]*)', 1), ':')[2]
        |                  ELSE '' END)
        |         || ')' || regexp_extract(url_canon, '://[^/]*(.*)$', 1) AS surt_key
        |  FROM canon)
        |SELECT surt_key, CAST(COUNT(*) AS BIGINT) AS n_captures,
        |       MIN(doc_id) AS first_doc
        |FROM srt GROUP BY surt_key ORDER BY surt_key""".stripMargin)),

    // CDXJ export (round 13): the OpenWayback/pywb capture-index LINE
    // format — SURT key, 14-digit timestamp, then a JSON block with the
    // capture fields (to_json over a struct, the q_wat_export pattern)
    // — completing the CDX round-trip: q_cdx_index aggregates by the
    // key, this row emits the per-capture index lines a replay system
    // ingests. Pure Column work over the canonicalize→SURT chain; the
    // oracle reassembles every line byte-for-byte
    QuerySpec("q_cdxj_export", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val k = col("doc_id") % 127
      val slim = en.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("url")).as("u"))
        .localCheckpoint()
      val ts = concat(lit("20260305"),
        lpad((k % 24).cast("string"), 2, "0"), lit("0000"))
      slim.select(col("doc_id"),
          concat(pipeline.UrlOps.surtKey(col("u")), lit(" "), ts,
            lit(" "),
            to_json(struct(col("u").as("url"),
              lit("text/html").as("mime"),
              when(k % 17 === 3, lit(404L)).otherwise(lit(200L))
                .as("status"),
              (lit(1000L) + col("doc_id") % 900).as("length"))))
            .as("cdxj"))
        .orderBy("doc_id")
    }, oracle =
      // every CDXJ line reassembled byte-for-byte: the same SURT replay
      // as q_cdx_index, timestamp and JSON block as literal concatenation
      // (to_json field order = struct order, no whitespace)
      (urlEnrichSql + urlCanonMatSql + """,
        |srt AS (
        |  SELECT doc_id,
        |         array_to_string(list_reverse(string_split(
        |           string_split(regexp_extract(url_canon, '://([^/]*)', 1), ':')[1],
        |           '.')), ',')
        |         || (CASE WHEN instr(regexp_extract(url_canon, '://([^/]*)', 1), ':') > 0
        |                  THEN ':' || string_split(regexp_extract(url_canon, '://([^/]*)', 1), ':')[2]
        |                  ELSE '' END)
        |         || ')' || regexp_extract(url_canon, '://[^/]*(.*)$', 1) AS surt_key
        |  FROM canon)
        |SELECT s.doc_id,
        |       s.surt_key || ' 20260305' ||
        |       lpad(CAST((s.doc_id % 127) % 24 AS VARCHAR), 2, '0') ||
        |       '0000 {"url":"' || c.url_canon ||
        |       '","mime":"text/html","status":' ||
        |       (CASE WHEN (s.doc_id % 127) % 17 = 3 THEN '404' ELSE '200' END) ||
        |       ',"length":' || CAST(1000 + s.doc_id % 900 AS VARCHAR) ||
        |       '}' AS cdxj
        |FROM srt s JOIN canon c USING (doc_id) ORDER BY s.doc_id""".stripMargin)),

    // politeness-budgeted frontier (round 12): Crawl-delay parsed from
    // the UA-SELECTED robots group (the de-facto field Bing/Yandex
    // honor) → per-domain fetch budget = clamp(60 div delay, 1, 4) →
    // the UA gate × sitemap freshness schedule re-ranked under the
    // VARIABLE budget. The scalable quota shape: a CONSTANT rn <= 4
    // pre-cap first (the WindowGroupLimit bound — no domain's list
    // ranked whole), then the per-domain budget refine as a plain
    // filter on the survivors.
    QuerySpec("q_crawl_budget", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val txt = synthRobotsTxtUa(en)
      val gate = pipeline.UrlOps.robotsGate(en,
        pipeline.UrlOps.parseRobots(txt, agent = "graftbot"))
      val budget = greatest(lit(1L), least(lit(4L),
        call_function("div", lit(60L), greatest(col("delay_s"), lit(1L)))))
      val delays = pipeline.UrlOps.crawlDelays(txt, agent = "graftbot")
        .select(col("domain"), budget.as("budget"))
      val sched = gate.where(col("allowed") === 1L)
        .join(sitemapRecrawlFixture(s, dir).where(col("recrawl") === 1L)
          .select("doc_id", "lastmod_day"), "doc_id")
        .join(broadcast(delays), Seq("domain"), "left")
        .withColumn("budget", coalesce(col("budget"), lit(4L)))
      val w = Window.partitionBy("domain")
        .orderBy(col("lastmod_day").desc, col("doc_id"))
      sched.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 4)
        .where(col("rn") <= col("budget"))
        .select(col("domain"), col("doc_id"), col("lastmod_day"),
          col("budget"), col("rn"))
        .orderBy("domain", "rn")
    }, oracle =
      // delay → budget → quota, all closed form: the per-domain delay is a
      // parity function of the domain string (the fixture publishes it in
      // the group the UA selection picks), budget = clamp(60 div delay, 1,
      // 4), and the schedule is the UA-gate × sitemap-freshness join the
      // frontier row already pins, re-ranked under the VARIABLE budget
      (urlEnrichSql + urlCanonMatSql + ",\n" + robotsUaCtesSql + ",\n" +
        sitemapCtesSql +
        """,
          |dl AS (
          |  SELECT domain,
          |         CASE WHEN len(domain) % 2 = 0 THEN (len(domain) % 3 + 1) * 20
          |              ELSE (len(domain) % 4 + 1) * 12 END AS delay_s
          |  FROM rdomua),
          |bg AS (
          |  SELECT domain,
          |         GREATEST(1, LEAST(4, 60 // GREATEST(delay_s, 1))) AS budget
          |  FROM dl),
          |fr AS (
          |  SELECT s.domain, s.doc_id, sn.lmd AS lastmod_day, bg.budget
          |  FROM scua s JOIN sn ON sn.doc_id = s.doc_id JOIN bg USING (domain)
          |  WHERE (CASE WHEN s.s < 0 THEN 1 ELSE s.s % 2 END) = 1
          |    AND (sn.lmd = -1 OR sn.lmd > sn.crawled)),
          |rk AS (
          |  SELECT domain, doc_id, lastmod_day, budget,
          |         ROW_NUMBER() OVER (PARTITION BY domain
          |                            ORDER BY lastmod_day DESC, doc_id) AS rn
          |  FROM fr)
          |SELECT domain, doc_id, CAST(lastmod_day AS BIGINT) AS lastmod_day,
          |       CAST(budget AS BIGINT) AS budget, CAST(rn AS BIGINT) AS rn
          |FROM rk WHERE rn <= budget AND rn <= 4 ORDER BY domain, rn""".stripMargin)),

    // WARC revisit records (round 12): the ISO 28500 §6.7.2 mechanism —
    // a crawler stores a slim `revisit` record instead of re-storing an
    // unchanged payload. Same-residue docs carry byte-identical bodies
    // through REAL record framing; the first capture (smallest doc_id)
    // per payload digest is the response, later ones are revisits. The
    // oracle is digest-free closed form (original = min doc_id of the
    // residue class).
    QuerySpec("q_warc_revisit", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pages = docs.select(col("doc_id"),
          concat(lit("shared page body for residue "),
            (col("doc_id") % 127).cast("string")).as("body"))
        .as[(Long, String)]
      val warcs = pages.mapPartitions(_.map { case (id, body) =>
        (id, sources.Warc.buildWarc(Seq(sources.Warc.RecordSpec(
          "response", Some(s"urn:residue"), body.getBytes("UTF-8"))))._1)
      }).toDF("id", "payload")
      sources.Warc.revisitClassify(
          sources.Warc.warcProbe(warcs, gzipped = false))
        .select(col("id").as("doc_id"), col("kind"))
        .orderBy("doc_id")
    }, oracle =
      // payload-digest revisit classification in closed form: same-residue
      // docs carry byte-identical payloads, so the original is simply the
      // smallest doc_id of the residue class — no WARC, no digest anywhere
      // in the oracle; the Spark side earns it through real framing + md5
      """SELECT doc_id,
        |       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 127)
        |            THEN 'response' ELSE 'revisit' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin),

    // WET export (round 12): Common Crawl's extracted-text sidecar —
    // one WARC `conversion` record per page whose payload is the
    // HTML→text extraction. The Spark side runs the real chain
    // (synthetic page → htmlToText → ISO 28500 conversion-record framing
    // → record walk back); the oracle predicts the payload in closed
    // form from the raw text (the q_html_extract line-rule contract),
    // so a framing slip or an extraction drift both land as mismatches.
    QuerySpec("q_wet_roundtrip", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pages = docs
        .join(urlEnrichedDocs(s, dir).select("doc_id", "url"), "doc_id")
        .select(col("doc_id"), col("url"),
          pipeline.Html.htmlToText(synthHtmlPage).as("wet"))
        .as[(Long, String, String)]
      val wetWarcs = pages.mapPartitions(_.map { case (id, url, wet) =>
        (id, sources.Warc.buildWarc(Seq(sources.Warc.RecordSpec(
          "conversion", Some(url), wet.getBytes(
            java.nio.charset.StandardCharsets.UTF_8))))._1)
      }).toDF("id", "payload")
      sources.Warc.warcProbe(wetWarcs, gzipped = false)
        .select(col("id").as("doc_id"), col("rec_type"),
          col("payload").cast("string").as("wet_text"))
        .orderBy("doc_id")
    }, oracle =
      // the WET payload in closed form: 'conversion' framing + the
      // q_html_extract line-rule contract on the raw text — no WARC and
      // no HTML anywhere in the oracle
      """SELECT doc_id, 'conversion' AS rec_type,
        |       CASE WHEN len(trim(text)) >= 25
        |             AND len(string_split_regex(trim(text), '\s+')) >= 4
        |             AND len(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g')) * 10 >= len(trim(text)) * 4
        |            THEN trim(text) ELSE '' END AS wet_text
        |FROM documents ORDER BY doc_id""".stripMargin),

    // full-PSL registered domain (round 12 — the swap-in path the
    // PSL-lite documents, now exercised): the publicsuffix.org
    // algorithm with all three rule forms over a broadcast rule table —
    // normal (`co.uk`), wildcard (`*.ck`, `*.kawasaki.jp`), exception
    // (`!www.ck`, `!city.kawasaki.jp` — the PSL's own canonical
    // examples) — plus 64 padding rules that never match (the probe is
    // a JOIN: list size costs nothing per host). Hosts: every enriched
    // canonical host (cross-checking PSL-lite agreement on the plain
    // cases) plus residue-driven hosts firing each rule form, the
    // no-match default, and the host-IS-suffix edge. Oracle replays
    // candidate explosion + probe join + prevailing-rule max in SQL.
    QuerySpec("q_psl_domain", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val k = col("doc_id") % 127
      val extra = when(k % 5 === 0,
        concat(lit("shop"), (k % 7).cast("string"), lit(".web.ck")))
        .when(k % 5 === 1, lit("sub.www.ck"))
        .when(k % 5 === 2, lit("a.b.city.kawasaki.jp"))
        .when(k % 5 === 3,
          concat(lit("x"), (k % 11).cast("string"), lit(".mall.kawasaki.jp")))
        .otherwise(lit("co.uk"))
      val hosts = en.select(pipeline.UrlOps.canonicalHost(col("url"))
          .as("host"))
        .union(en.select(extra.as("host")))
        .localCheckpoint() // slim seam before the explode+join
      pipeline.UrlOps.registeredDomainPsl(hosts, pslRules(s))
        .orderBy("host")
    }, oracle =
      // the publicsuffix.org algorithm replayed relationally: candidate
      // suffixes per host (literal + `*.` spelling), probe-join against
      // the SAME rule list (PslBaseRules renders the VALUES — no drift),
      // prevailing rule by exception-beats-all then most-labels, default
      // `*` fallback — mirroring UrlOps.registeredDomainPsl hop for hop
      {
      val ruleValues = PslBaseRules
        .map(r => s"('${r.replace("'", "''")}')").mkString(", ")
      urlEnrichSql + urlCanonMatSql + s""",
        |hosts AS MATERIALIZED (
        |  SELECT DISTINCT host FROM (
        |    SELECT regexp_extract(url_canon, '://([^/]*)', 1) AS host FROM canon
        |    UNION ALL
        |    SELECT CASE (doc_id % 127) % 5
        |             WHEN 0 THEN 'shop' || CAST((doc_id % 127) % 7 AS VARCHAR) || '.web.ck'
        |             WHEN 1 THEN 'sub.www.ck'
        |             WHEN 2 THEN 'a.b.city.kawasaki.jp'
        |             WHEN 3 THEN 'x' || CAST((doc_id % 127) % 11 AS VARCHAR) || '.mall.kawasaki.jp'
        |             ELSE 'co.uk' END
        |    FROM documents)
        |  WHERE len(host) > 0),
        |rules0 AS (
        |  SELECT trim(r) AS r FROM (VALUES $ruleValues) t(r)
        |  UNION ALL
        |  SELECT 'pad' || CAST(i AS VARCHAR) || '.zz' FROM range(64) t(i)),
        |rules AS MATERIALIZED (
        |  SELECT CASE WHEN starts_with(r, '!') THEN substr(r, 2) ELSE r END AS rule_key,
        |         starts_with(r, '!') AS exc,
        |         len(string_split(CASE WHEN starts_with(r, '!') THEN substr(r, 2) ELSE r END, '.')) AS rule_nl
        |  FROM rules0 WHERE len(r) > 0 AND NOT starts_with(r, '//')),
        |hl AS MATERIALIZED (
        |  SELECT host, string_split(host, '.') AS parts,
        |         len(string_split(host, '.')) AS n
        |  FROM hosts),
        |cand AS MATERIALIZED (
        |  SELECT host,
        |         array_to_string(parts[(n - j + 1):n], '.') AS suffix,
        |         CASE WHEN j >= 2
        |              THEN '*.' || array_to_string(parts[(n - j + 2):n], '.') END AS wild
        |  FROM (SELECT host, parts, n, unnest(range(1, n + 1)) AS j FROM hl)),
        |probe AS (
        |  SELECT host, suffix, suffix AS p FROM cand
        |  UNION ALL
        |  SELECT host, suffix, wild FROM cand WHERE wild IS NOT NULL),
        |m AS MATERIALIZED (
        |  SELECT pr.host, pr.suffix, r.rule_nl, r.exc,
        |         (CASE WHEN r.exc THEN 1000 ELSE 0 END) + r.rule_nl AS pri
        |  FROM probe pr JOIN rules r ON pr.p = r.rule_key),
        |best AS MATERIALIZED (
        |  SELECT host, suffix, rule_nl, exc FROM m
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY host ORDER BY pri DESC) = 1)
        |SELECT h.host,
        |       CASE WHEN b.host IS NULL THEN
        |              CASE WHEN h.n >= 2
        |                   THEN array_to_string(h.parts[(h.n - 1):h.n], '.')
        |                   ELSE h.host END
        |            WHEN b.exc THEN b.suffix
        |            WHEN h.n > b.rule_nl
        |            THEN array_to_string(h.parts[(h.n - b.rule_nl):h.n], '.')
        |            ELSE h.host END AS registered_domain
        |FROM hl h LEFT JOIN best b USING (host) ORDER BY host""".stripMargin
    }),

    // HTTP response framing (RFC 9110) — what a WARC `response` record's
    // payload actually is: status code, media type (parameters
    // stripped), and the body after the blank line; non-HTTP payloads
    // route to status 0 with the whole payload as body. Round 12 adds
    // the two real-world framings Heritrix-style WARCs preserve: a
    // `Transfer-Encoding: chunked` arm (the stored payload keeps the
    // chunk-size lines — the parser must de-chunk) and a bare-LF arm (a
    // lenient server framing the whole message with \n — the parser
    // falls back to the \n\n separator). Every arm fires on its residue
    // class; the oracle predicts all four columns in closed form with
    // no parsing anywhere — body_len = len(text) in EVERY arm is
    // exactly the claim that de-chunking and LF fallback hand back the
    // body verbatim.
    QuerySpec("q_http_probe", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val k = col("doc_id") % 127
      val status = when(k % 17 === 3, lit("404 Not Found"))
        .otherwise(lit("200 OK"))
      val ctype = when(k % 9 === 2, lit("application/json"))
        .otherwise(lit("text/html; charset=UTF-8"))
      // k%13==11 (round 13): a LONG chunk chain — 40 chunks, past the
      // Column fold's MaxDecodedChunks — whose rows the decode_complete
      // flag must ROUTE through the JVM seam; body_len = len(text) for
      // that arm is exactly the no-silent-truncation claim
      val payload = when(k % 23 === 7, col("text"))
        .when(k % 13 === 5, concat(lit("HTTP/1.1 "), status,
          lit("\r\nServer: synth\r\nTransfer-Encoding: chunked" +
            "\r\nContent-Type: "), ctype,
          lit("\r\n\r\n"), sources.Warc.chunkEncode(col("text"))))
        .when(k % 13 === 8, concat(lit("HTTP/1.1 "), status,
          lit("\nServer: synth\nContent-Type: "), ctype,
          lit("\n\n"), col("text")))
        .when(k % 13 === 11, concat(lit("HTTP/1.1 "), status,
          lit("\r\nServer: synth\r\nTransfer-Encoding: chunked" +
            "\r\nContent-Type: "), ctype,
          lit("\r\n\r\n"), sources.Warc.chunkEncode(col("text"), 40)))
        .otherwise(concat(lit("HTTP/1.1 "), status,
          lit("\r\nServer: synth\r\nContent-Type: "), ctype,
          lit("\r\n\r\n"), col("text")))
      // payload aliased in its own projection before the parts split: the
      // synthesis tree (incl. the chunk-encode folds) is evaluated once
      // per row; httpResponseParts then reads the attribute
      val withH = docs.select(col("doc_id"), payload.as("payload"))
        .select(col("doc_id"), col("payload"),
          sources.Warc.httpResponseParts(col("payload")).as("h"))
        .localCheckpoint()
      val ok = withH.where(col("h.decode_complete"))
        .select(col("doc_id"), col("h.status"), col("h.content_type"),
          length(col("h.body")).cast("long").as("body_len"))
      val residue = sources.Warc.httpDecode(
          withH.where(!col("h.decode_complete"))
            .select("doc_id", "payload"))
        .select(col("doc_id"), col("http_status").as("status"),
          col("http_content_type").as("content_type"),
          length(col("http_body").cast("string")).cast("long")
            .as("body_len"))
      ok.unionAll(residue).orderBy("doc_id")
    }, oracle =
      // all four columns in closed form from doc_id (body_len = len(text)
      // in EVERY arm: the blank-line split hands back exactly the body,
      // and the non-HTTP arm passes the whole payload through)
      """WITH k AS (SELECT doc_id, doc_id % 127 AS k, len(text) AS n
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN k % 23 = 7 THEN 0
        |                 WHEN k % 17 = 3 THEN 404 ELSE 200 END AS BIGINT) AS status,
        |       CASE WHEN k % 23 = 7 THEN ''
        |            WHEN k % 9 = 2 THEN 'application/json'
        |            ELSE 'text/html' END AS content_type,
        |       CAST(n AS BIGINT) AS body_len
        |FROM k ORDER BY doc_id""".stripMargin),

    // full JVM HTTP decode seam (round 13): the RFC-ordered coding
    // stack over BINARY payloads — Content-Encoding: gzip entities
    // (most origin servers compress; a string-Column path would
    // mojibake the bytes before any inflater saw them), gzip UNDER a
    // 24-chunk transfer coding (Transfer-Encoding undone first, RFC
    // 9112 §6.1), and a connection-died-mid-transfer chain whose
    // missing last-chunk must land as complete=0 with the decoded
    // prefix kept — body_len = len(text) in every arm is the claim
    // that the whole stack hands back the entity verbatim
    QuerySpec("q_http_decode", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val fixture = docs.mapPartitions { it =>
        it.map { case (id, text) =>
          val plain = text.getBytes("UTF-8")
          def hdr(extra: String): Array[Byte] =
            ("HTTP/1.1 200 OK\r\nServer: synth\r\n" + extra +
              "Content-Type: text/html; charset=UTF-8\r\n\r\n")
              .getBytes("ISO-8859-1")
          val payload = ((id % 127) % 7) match {
            case 1 => hdr("Content-Encoding: gzip\r\n") ++
              sources.Warc.gzipMember(plain)
            case 3 => hdr("Transfer-Encoding: chunked\r\n" +
              "Content-Encoding: gzip\r\n") ++
              sources.Warc.chunkEncodeJvm(
                sources.Warc.gzipMember(plain), 24)
            case 5 => hdr("Transfer-Encoding: chunked\r\n") ++
              sources.Warc.chunkEncodeJvm(plain, 6, terminate = false)
            case _ => hdr("") ++ plain
          }
          (id, payload)
        }
      }.toDF("doc_id", "payload")
      sources.Warc.httpDecode(fixture)
        .select(col("doc_id"), col("http_status").as("status"),
          col("http_content_type").as("content_type"),
          length(col("http_body").cast("string")).cast("long")
            .as("body_len"),
          col("decode_complete").cast("long").as("complete"))
        .orderBy("doc_id")
    }, oracle =
      // every arm decodes to the entity verbatim (gzip inflated, chunked
      // unstacked in RFC order); only the died-mid-transfer arm flags
      // incomplete — its prefix is still the whole text (the terminator,
      // not data, is what's missing)
      """SELECT doc_id, CAST(200 AS BIGINT) AS status,
        |       'text/html' AS content_type,
        |       CAST(len(text) AS BIGINT) AS body_len,
        |       CAST(CASE WHEN (doc_id % 127) % 7 = 5 THEN 0 ELSE 1 END
        |            AS BIGINT) AS complete
        |FROM documents ORDER BY doc_id""".stripMargin),

    // sitemap probe (sitemaps.org XML — the crawl-SCHEDULING input,
    // completing the trio: robots = may fetch, WARC = what arrived,
    // sitemap = what to fetch next): per domain a real sitemap.xml is
    // synthesized listing each distinct canonical URL, with <lastmod>
    // derived from the residue class (absent for k % 6 == 0 — the spec
    // makes it optional); the Spark side PARSES the XML, joins the
    // entries against a per-doc crawl snapshot, and decides re-crawl =
    // unknown-or-newer. The oracle predicts every row in CLOSED FORM
    // from doc_id alone — no XML, no dates (epoch-day integers per the
    // repo's timestamp rule), no join — so a canonicalization drift, an
    // XML roundtrip corruption, or a date-arithmetic slip all surface
    // as a lastmod/recrawl mismatch.
    QuerySpec("q_sitemap_probe", (s, dir) =>
      sitemapRecrawlFixture(s, dir)
        .select(col("doc_id"), col("lastmod_day"), col("recrawl"))
        .orderBy("doc_id"), oracle =
      // lastmod = MAX over the residues sharing a canonical URL (a
      // sitemap lists each URL once; 47 and 124 genuinely collide),
      // crawl snapshot day = 19000 + doc_id mod 97, recrawl =
      // unknown-or-newer — no XML and no date parsing anywhere in the
      // oracle (epoch-day integers throughout); the Spark side earns the
      // values by synthesizing, PARSING and JOINING real sitemap.xml
      (urlEnrichSql + urlCanonMatSql + ",\n" + sitemapCtesSql +
        """
          |SELECT doc_id, CAST(lmd AS BIGINT) AS lastmod_day,
          |       CAST(CASE WHEN lmd = -1 OR lmd > crawled
          |                 THEN 1 ELSE 0 END AS BIGINT) AS recrawl
          |FROM sn ORDER BY doc_id""".stripMargin)),

    // the crawl SCHEDULE assembled from the trio (the composition a real
    // frontier runs every cycle): fetch a URL iff robots ALLOWS it and
    // the sitemap says unknown-or-newer, then apply a per-domain
    // politeness quota of 2 per cycle, freshest lastmod first — the
    // row_number+filter shape executes through Spark's WindowGroupLimit,
    // so no domain's candidate list is ever ranked whole. Both inputs are the
    // SAME fixtures q_robots_gate / q_sitemap_probe check piecewise (one
    // shared builder each — no drift); the oracle replays both
    // closed-form derivations plus the quota ranking, so the hash pins
    // the composition.
    QuerySpec("q_crawl_frontier", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val gate = pipeline.UrlOps.robotsGate(en, synthRobotsRules(en))
      val sched = gate.where(col("allowed") === 1L)
        .join(sitemapRecrawlFixture(s, dir).where(col("recrawl") === 1L)
          .select("doc_id", "lastmod_day"), "doc_id")
      val w = Window.partitionBy("domain")
        .orderBy(col("lastmod_day").desc, col("doc_id"))
      sched.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 2)
        .select(col("domain"), col("doc_id"), col("lastmod_day"), col("rn"))
        .orderBy("domain", "rn")
    }, oracle =
      // the frontier composition replayed end-to-end: closed-form robots
      // decision (sc) × closed-form sitemap freshness (sn) × the quota
      // ranking — both CTE chains are the SAME vals the piecewise oracles
      // use, so the three rows cannot drift apart
      (urlEnrichSql + urlCanonMatSql + ",\n" + robotsCtesSql + ",\n" +
        sitemapCtesSql +
        """,
          |fr AS (
          |  SELECT s.domain, s.doc_id, sn.lmd AS lastmod_day
          |  FROM sc s JOIN sn ON sn.doc_id = s.doc_id
          |  WHERE (CASE WHEN s.s < 0 THEN 1 ELSE s.s % 2 END) = 1
          |    AND (sn.lmd = -1 OR sn.lmd > sn.crawled)),
          |rk AS (
          |  SELECT domain, doc_id, lastmod_day,
          |         ROW_NUMBER() OVER (PARTITION BY domain
          |                            ORDER BY lastmod_day DESC, doc_id) AS rn
          |  FROM fr)
          |SELECT domain, doc_id, CAST(lastmod_day AS BIGINT) AS lastmod_day,
          |       CAST(rn AS BIGINT) AS rn
          |FROM rk WHERE rn <= 2 ORDER BY domain, rn""".stripMargin)),

    // anchor extraction → link graph (how a crawl DISCOVERS the web
    // graph the centrality operators then rank): each doc's page embeds
    // two absolute outbound links — raw synthetic URLs of target
    // residues (31k+7)%127 and (17k+3)%127, full cosmetic noise (case,
    // userinfo, default ports, escapes, tracking params, fragments) —
    // plus relative nav/footer chrome; the Spark side extracts every
    // href with Html.extractLinks, keeps the absolute ones, and
    // canonicalizes BOTH endpoints down to registered-domain edges with
    // distinct-target counts. The oracle predicts the edge list in
    // CLOSED FORM from doc_id alone (no HTML, no extraction, no
    // canonicalizer — the canonical URL of residue k is a closed
    // expression), so an extraction slip, a quote-form bug, or any
    // canonicalization drift lands as an edge/count mismatch.
    QuerySpec("q_link_graph", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val d = col("doc_id")
      val k = d % 127
      val href1 = synthUrl((k * 31 + 7) % 127, d)
      val href2 = synthUrl((k * 17 + 3) % 127, d + 5)
      val page = concat(
        lit("<html><head><title>L</title></head><body>" +
          // data-href is a decoy: an attribute NAME ending in href is
          // not a navigation target — with \b-style matching it would
          // leak an absolute edge to decoy.invalid (oracle mismatch)
          "<nav><a data-href=\"http://decoy.invalid/x\" href=\"/\">Home</a>" +
          " <a href='/about'>About</a></nav>" +
          "<p>Further reading: <a href=\""), href1,
        lit("\">the first source</a> and <a href=\""), href2,
        lit("\">the second</a> for details.</p>" +
          "<footer><a href=/tos>ToS</a></footer></body></html>"))
      // slim seam before explode+agg: the two synthUrl trees plus the
      // source-side canonicalization otherwise fuse into one codegen
      // stage past janino's limit (the robotsGate lesson)
      val pages = en.select(col("doc_id"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("url"))).as("src_domain"),
          page.as("html"))
        .localCheckpoint()
      pages.select(col("src_domain"),
          explode(pipeline.Html.extractLinks(col("html"))).as("href"))
        .where(col("href").contains("://"))
        .select(col("src_domain"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("href"))).as("dst_domain"),
          pipeline.UrlOps.canonicalizeUrl(col("href")).as("u"))
        .groupBy("src_domain", "dst_domain")
        .agg(count(lit(1)).as("n_links"),
          countDistinct(col("u")).as("n_targets"))
        .orderBy("src_domain", "dst_domain")
    }, oracle =
      // the link graph predicted in CLOSED FORM from doc_id alone — no
      // HTML, no href extraction, no canonicalizer anywhere in the
      // oracle: the registered domain and canonical URL of residue k are
      // closed expressions of k, so the oracle enumerates both target
      // residues per doc and aggregates; the Spark side earns every cell
      // by extracting hrefs from real markup (three quote forms) and
      // canonicalizing raw cosmetic-noise URLs
      s"""WITH lk AS (
         |  SELECT doc_id % 127 AS k,
         |         ((doc_id % 127) * 31 + 7) % 127 AS k1,
         |         ((doc_id % 127) * 17 + 3) % 127 AS k2
         |  FROM documents),
         |e AS (SELECT k, unnest([k1, k2]) AS kt FROM lk),
         |d AS (
         |  SELECT ${linkDomSql("k")} AS src_domain,
         |         ${linkDomSql("kt")} AS dst_domain,
         |         ${linkCanonSql("kt")} AS u
         |  FROM e)
         |SELECT src_domain, dst_domain,
         |       CAST(COUNT(*) AS BIGINT) AS n_links,
         |       CAST(COUNT(DISTINCT u) AS BIGINT) AS n_targets
         |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // anchor-text profile per target domain (the label the linking page
    // gives the target — the classic web-search relevance signal; the
    // edges' text complement of q_link_graph): anchors carry inner
    // MARKUP and an &amp; entity the extractor must strip/decode, a
    // no-href <a name=...> must be skipped, then tokens aggregate per
    // canonicalized target domain. Oracle predicts every (domain, term)
    // cell in closed form from doc_id — no HTML anywhere.
    QuerySpec("q_anchor_text", (s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      val d = col("doc_id")
      val k = d % 127
      val href1 = synthUrl((k * 31 + 7) % 127, d)
      val href2 = synthUrl((k * 17 + 3) % 127, d + 5)
      val page = concat(
        lit("<p>See <a href=\""), href1,
        lit("\"><b>First</b> &amp; best source</a> and <a href=\""), href2,
        lit("\">the second</a><a name=\"x\" " +
          // decoy: an <a> whose ONLY href-like attribute is data-href
          // links nowhere — it must be skipped like the bare <a name>
          "data-href=\"http://decoy.invalid/y\">not a link</a></p>"))
      val pages = en.select(d, page.as("html")).localCheckpoint()
      pages.select(explode(pipeline.Html.extractAnchors(col("html"))).as("a"))
        .where(col("a.href").contains("://"))
        .select(pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("a.href"))).as("dst_domain"),
          explode(pipeline.TextOps.tokens(lower(col("a.anchor")))).as("term"))
        .groupBy("dst_domain", "term").agg(count(lit(1)).as("n"))
        .orderBy("dst_domain", "term")
    }, oracle =
      // anchor TEXT is predicted the same closed-form way: each doc labels
      // dom(k1) with 'first & best source' (markup stripped, &amp; decoded,
      // lowercased) and dom(k2) with 'the second'; the Spark side earns the
      // cells by parsing real anchor elements
      s"""WITH lk AS (
         |  SELECT ((doc_id % 127) * 31 + 7) % 127 AS k1,
         |         ((doc_id % 127) * 17 + 3) % 127 AS k2
         |  FROM documents),
         |e AS (
         |  SELECT ${linkDomSql("k1")} AS dst_domain,
         |         unnest(['first', '&', 'best', 'source']) AS term
         |  FROM lk
         |  UNION ALL
         |  SELECT ${linkDomSql("k2")}, unnest(['the', 'second']) FROM lk)
         |SELECT dst_domain, term, CAST(COUNT(*) AS BIGINT) AS n
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // graph × model composition (the RefinedWeb/TrustRank pattern: a
    // domain-authority prior feeds the doc quality model): a
    // deterministic domain link graph (residue class k links to
    // k' = (31k+7) mod 127 — a permutation, so every domain
    // participates and the DISTINCT edge set is identical at every
    // scale) is PageRanked with the integer fixed-point operator, each
    // doc joins its domain's rank as a feature, and ridge regresses
    // quality micro-units on (n_chars, domain_rank). One query
    // exercising UrlOps → Graph.pageRank → Fit.ridgeNormal end-to-end,
    // like q_pipeline_to_shards for the curation chain.
    QuerySpec("q_domain_prior_model", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // localCheckpoint at the consumed-many-times seam: registeredDomain
      // ∘ canonicalHost expands to a large expression tree (each Column
      // reference duplicates its subtree), and withDom feeds the edge
      // build, the rank join AND the moment pass — materializing the
      // slim 3-column result once keeps every downstream plan a
      // LogicalRDD scan instead of re-analyzing the URL tree per action
      // (the Dedup.duplicateClusters round-5 lesson; measured 15.3 s →
      // 4.3 s warm at sf0.1 — the residue is the 5 supersteps × fixed
      // job overhead, the same floor q_pagerank pays)
      val withDom = urlEnrichedDocs(s, dir).select(
        col("doc_id"), col("n_chars"),
        pipeline.UrlOps.registeredDomain(
          pipeline.UrlOps.canonicalHost(col("url"))).as("domain"))
        .localCheckpoint()
      val kdom = withDom
        .select((col("doc_id") % 127).as("k"), col("domain")).distinct()
      val edges = kdom
        .join(kdom.select(col("k").as("k2"), col("domain").as("domain2")),
          ((col("k") * 31 + 7) % 127) === col("k2"))
        .select(pipeline.Hashing.hash60(col("domain")).as("src"),
          pipeline.Hashing.hash60(col("domain2")).as("dst"))
        .distinct()
      val ranks = ops.Graph.pageRank(edges, iters = 5)
      val qual = docs.select(col("doc_id"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
      val feats = withDom
        .select(col("doc_id"), col("n_chars").cast("long").as("x1"),
          pipeline.Hashing.hash60(col("domain")).as("node"))
        .join(broadcast(ranks), Seq("node"))
        // micro-rank: the raw 1e12 fixed-point scale would overflow the
        // x2² moment (5e10² ≫ 2⁶³); div 1e6 keeps the exact-integer
        // moment pass inside a long at any corpus size
        .select(col("doc_id"), col("x1"),
          call_function("div", col("rank"), lit(1000000L)).as("x2"))
        .join(qual, "doc_id")
      val (n, w) = ops.Fit.ridgeNormal(feats, Seq("x1", "x2"), "y",
        lambda = 1.0)
      Seq((n, w(0), w(1), w(2))).toDF("n", "w0", "w1", "w2")
        .select(col("n"),
          (round(col("w0"), 6) + lit(0.0)).as("w0_r"),
          (round(col("w1"), 6) + lit(0.0)).as("w1_r"),
          (round(col("w2"), 6) + lit(0.0)).as("w2_r"))
    }, oracle = domainPriorModelOracleSql(5)),

    // WARC container probe end-to-end (ISO 28500 — the format crawls
    // arrive in): per doc a 3-record `.warc.gz` is synthesized with
    // member-per-record framing (warcinfo + request + response carrying
    // the doc text), then the REAL walks run — gzip member split with
    // CRC32/ISIZE verification, record-boundary walk by Content-Length
    // arithmetic (never payload scanning) — and every extracted field is
    // checked against a CLOSED-FORM oracle that predicts type, URI,
    // octet count and payload text with no parsing anywhere, the
    // q_mp4_probe method. WarcSpec pins offsets, the embedded-marker
    // no-resync case, and the malformed-input failure modes.
    QuerySpec("q_warc_probe", (s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")).as[(Long, String)]
      val warcs = docs.mapPartitions { it =>
        it.map { case (id, text) =>
          val uri = s"http://example.com/doc/$id"
          val req = s"GET /doc/$id HTTP/1.1\r\nHost: example.com\r\n\r\n"
          val recs = Seq(
            sources.Warc.RecordSpec("warcinfo", None,
              "software: graft\r\n".getBytes("UTF-8")),
            sources.Warc.RecordSpec("request", Some(uri),
              req.getBytes("UTF-8")),
            sources.Warc.RecordSpec("response", Some(uri),
              text.getBytes("UTF-8")))
          (id, recs.flatMap(r =>
            sources.Warc.gzipMember(sources.Warc.buildWarc(Seq(r))._1))
            .toArray)
        }
      }.toDF("id", "payload")
      sources.Warc.warcProbe(warcs, gzipped = true)
        .select(col("id").as("doc_id"), col("rec"), col("rec_type"),
          col("target_uri"), col("content_length"),
          col("payload").cast("string").as("payload_text"))
        .orderBy("doc_id", "rec")
    }, oracle =
      // closed-form replay of the synthetic 3-record WARC: fixed warcinfo
      // line, request string rebuilt from doc_id, response = the doc text;
      // octet counts by string length arithmetic — no record parsing, no
      // gzip anywhere, so the Spark side's member split + Content-Length
      // walk is checked against independent math
      """SELECT doc_id, r AS rec,
        |       CASE r WHEN 0 THEN 'warcinfo' WHEN 1 THEN 'request'
        |              ELSE 'response' END AS rec_type,
        |       CASE r WHEN 0 THEN ''
        |              ELSE 'http://example.com/doc/' || CAST(doc_id AS VARCHAR) END AS target_uri,
        |       CAST(CASE r WHEN 0 THEN 17
        |                   WHEN 1 THEN len('GET /doc/' || CAST(doc_id AS VARCHAR) || ' HTTP/1.1') + len('Host: example.com') + 6
        |                   ELSE strlen(text) END AS BIGINT) AS content_length,
        |       CASE r WHEN 0 THEN 'software: graft' || chr(13) || chr(10)
        |              WHEN 1 THEN 'GET /doc/' || CAST(doc_id AS VARCHAR) || ' HTTP/1.1' || chr(13) || chr(10) ||
        |                          'Host: example.com' || chr(13) || chr(10) || chr(13) || chr(10)
        |              ELSE text END AS payload_text
        |FROM documents CROSS JOIN generate_series(0, 2) t(r)
        |ORDER BY doc_id, rec""".stripMargin)
  )
}
