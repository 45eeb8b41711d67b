package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** URL canonicalization and domain-level curation — the front door of
  * every web-scale corpus pipeline (C4, RefinedWeb, Dolma all dedup on a
  * canonical URL and cap/filter per registered domain before any text
  * operator runs).
  *
  * Everything here is pure codegen'd Column work (string splits, HOFs,
  * regex — zero UDFs), so canonicalization is a narrow map with no
  * shuffle: embarrassingly parallel at 100 TB. The only shuffles in the
  * family are the one hash-aggregation of [[dedupByUrl]] and the
  * [[domainCap]] ranking, which executes through Spark's
  * `WindowGroupLimit` (k rows per domain and task cross the exchange —
  * no domain is ranked whole).
  *
  * Canonical form (RFC 3986 §6 normalization, the subset that is safe
  * without scheme-specific knowledge):
  *   - fragment stripped (never sent to the server);
  *   - scheme and host lowercased;
  *   - userinfo (`user:pw@`) stripped — a dedup key must not split on
  *     credentials;
  *   - default port stripped (`:80` for http, `:443` for https); other
  *     ports kept;
  *   - percent-escapes of UNRESERVED octets (ALPHA / DIGIT / `-._~`)
  *     decoded in path+query; reserved escapes (`%2F`, `%3F`, …) left
  *     intact — decoding those would change the URL's structure;
  *   - tracking parameters removed ([[TrackingParamPattern]]: `utm_*`,
  *     `gclid`, `fbclid`, `msclkid`, `mc_eid`, `igshid` — the
  *     cross-site-stable subset of the uBlock/Brave strip lists);
  *   - remaining query parameters sorted bytewise (param order is
  *     almost never semantic, and sorting collapses permuted duplicates);
  *   - empty path normalized to `/`.
  * URLs with no `://` are returned unchanged — a relative reference has
  * no authority to normalize.
  */
object UrlOps {

  /** Tracking parameters dropped by [[canonicalizeUrl]]: anchored regex
    * over one `name=value` pair (or a bare name). Spark (Java regex) and
    * DuckDB (RE2) agree on every construct used here. */
  val TrackingParamPattern: String =
    "^(utm_[a-z0-9_]*|gclid|fbclid|msclkid|mc_eid|igshid)(=.*)?$"

  /** Multi-level public suffixes recognized by [[registeredDomain]] — a
    * deterministic PSL-lite. A production deployment swaps in the full
    * Mozilla Public Suffix List (broadcast, ~9k rows); the algorithm —
    * longest-suffix match, registered domain = one label more — is the
    * real deliverable and is list-size-independent. */
  val MultiLevelSuffixes: Seq[String] = Seq(
    "co.uk", "ac.uk", "gov.uk", "org.uk", "com.au", "net.au", "org.au",
    "co.jp", "ne.jp", "or.jp", "co.in", "co.kr", "com.br", "com.cn",
    "com.mx", "co.nz")

  private val Hex = "0123456789ABCDEF"

  /** 0–15 for a hex digit Column (either case), −1 for anything else. */
  private def hexVal(ch: Column): Column =
    call_function("instr", lit(Hex), upper(ch)) - 1

  /** Single-pass percent-decoding of UNRESERVED octets (RFC 3986 §2.3:
    * ALPHA / DIGIT / `-` `.` `_` `~`). Split on `%`: every segment after
    * the first starts at an escape; decode its two leading hex chars iff
    * they spell an unreserved octet, else re-attach the literal `%`.
    * One pass means a decoded character can never be re-read as the
    * start of a new escape, so `%2541` stays `%41` as RFC normalization
    * requires. Malformed escapes (bad hex, truncated) pass through.
    * Pure HOF Columns — codegen'd, no UDF. */
  def percentDecodeUnreserved(c: Column): Column =
    TextOps.bindOnce(split(c, "%", -1)) { parts =>
    val decoded = transform(slice(parts, lit(2), size(parts) - 1), seg => {
      val h1 = hexVal(substring(seg, 1, 1))
      val h2 = hexVal(substring(seg, 2, 1))
      val code = h1 * 16 + h2
      val unreserved = (code >= 48 && code <= 57) ||
        (code >= 65 && code <= 90) || (code >= 97 && code <= 122) ||
        code.isin(45, 46, 95, 126)
      when(length(seg) >= 2 && h1 >= 0 && h2 >= 0 && unreserved,
        concat(call_function("chr", code), call_function("substr", seg, lit(3))))
        .otherwise(concat(lit("%"), seg))
    })
    concat(element_at(parts, 1), array_join(decoded, ""))
  }

  /** The authority part of `url` (everything between `://` and the first
    * `/` or `?`), still raw: userinfo and port intact, case preserved. */
  private def rawAuthority(rest: Column): Column =
    regexp_extract(rest, "^[^/?]*", 0)

  /** Fold a host Column to its IDNA ACE (`xn--`) form — one dedup/PSL
    * key for `münchen.de` vs `xn--mnchen-3ya.de`. Native codegen
    * expression with an in-place ASCII fast path
    * ([[graft.expressions.IdnAscii]]); unfoldable spellings pass
    * through raw (never wrongly collapsed). */
  def idnFold(host: Column): Column = {
    import org.apache.spark.sql.{graftglue => glue}
    glue.column(graft.expressions.IdnAscii(glue.expression(host)))
  }

  /** Canonical host of a URL Column: lowercased, userinfo stripped,
    * default port stripped, Unicode hosts folded to their ACE (`xn--`)
    * form ([[idnFold]] — RFC 3490, so both spellings of an
    * international site make one key). Empty string when the URL has
    * no `://`. */
  def canonicalHost(url: Column): Column =
    TextOps.bindOnce(substring_index(url, "#", 1)) { noFrag =>
      // scheme + host:port bound once: the port-strip CASE below
      // references hp up to 7× and scheme 2× — as raw subtrees those
      // re-ran the regexp_extract chain per reference (lambda-bearing
      // trees are exempt from Catalyst's subexpression elimination)
      TextOps.bindOnce(struct(
          lower(substring_index(noFrag, "://", 1)).as("scheme"),
          lower(regexp_extract(rawAuthority(
            call_function("substr", noFrag,
              call_function("instr", noFrag, lit("://")) + 3)),
            "[^@]*$", 0)).as("hp"))) { p =>
        val scheme = p.getField("scheme")
        val hp = p.getField("hp")
        // IDN fold applied ONCE, after port stripping (equivalent: ports
        // are ASCII labels the fold passes through) — wrapping `hp` would
        // replicate the fold into every `when` branch's duplicated
        // subtree, the expression-tree blowup SCALE.md documents here
        val host = idnFold(
          when(scheme === "http" && hp.endsWith(":80"),
            call_function("substr", hp, lit(1), length(hp) - 3))
            .when(scheme === "https" && hp.endsWith(":443"),
              call_function("substr", hp, lit(1), length(hp) - 4))
            .otherwise(hp))
        when(call_function("instr", noFrag, lit("://")) === 0, lit(""))
          .otherwise(host)
      }
    }

  /** Full canonicalization — see the object doc for the exact rule set.
    * One narrow map over the URL column; no shuffle. */
  def canonicalizeUrl(url0: Column): Column =
    // the url tree is bound once (call sites often pass a synthesized or
    // derived expression — inline it would be re-evaluated per reference
    // below and inside canonicalHost), and the decoded path?query is
    // bound once (path/qmark/query reference it 3×)
    TextOps.bindOnce(url0) { url =>
      TextOps.bindOnce(substring_index(url, "#", 1)) { noFrag =>
        val scheme = lower(substring_index(noFrag, "://", 1))
        val rest = call_function("substr", noFrag,
          call_function("instr", noFrag, lit("://")) + 3)
        val auth = rawAuthority(rest)
        val host = canonicalHost(url)
        TextOps.bindOnce(percentDecodeUnreserved(
            call_function("substr", rest, length(auth) + 1))) { pq =>
          val path = substring_index(pq, "?", 1)
          val qmark = call_function("instr", pq, lit("?"))
          val query = when(qmark > 0, call_function("substr", pq, qmark + 1))
            .otherwise(lit(""))
          TextOps.bindOnce(array_sort(filter(split(query, "&", -1),
              p => length(p) > 0 && !p.rlike(TrackingParamPattern)))) { params =>
            val canonQ = when(size(params) > 0,
              concat(lit("?"), array_join(params, "&"))).otherwise(lit(""))
            val canonPath = when(path === "", lit("/")).otherwise(path)
            when(call_function("instr", noFrag, lit("://")) === 0, noFrag)
              .otherwise(concat(scheme, lit("://"), host, canonPath, canonQ))
          }
        }
      }
    }

  /** Registered (pay-level) domain of a canonical host: the label
    * directly below the public suffix. PSL-lite — exact multi-level
    * suffixes from [[MultiLevelSuffixes]], else the last label is the
    * suffix. Hosts with a single label (or an IP — out of scope for the
    * lite list) return unchanged. */
  def registeredDomain(host0: Column): Column =
    // host + its label array bound once: `labels` is referenced up to 5×
    // and `last2` 3× below — inline, each reference re-ran the full host
    // subtree + split (CSE skips lambda-bearing trees)
    TextOps.bindOnce(host0) { host =>
      TextOps.bindOnce(split(host, "\\.", -1)) { labels =>
        val n = size(labels)
        // the binding is eager where the raw spelling's short-circuit
        // AND was lazy, so it must carry its own n >= 2 guard: a
        // single-label host would otherwise throw on element_at(-2)
        // under ANSI (null here never reaches the output — both last2
        // branches are n >= 2 gated)
        TextOps.bindOnce(when(n >= 2,
            concat(element_at(labels, -2), lit("."),
              element_at(labels, -1)))) { last2 =>
          when(n >= 3 && last2.isin(MultiLevelSuffixes: _*),
            concat(element_at(labels, -3), lit("."), last2))
            .when(n >= 2, last2)
            .otherwise(host)
        }
      }
    }

  /** SURT key (Sort-friendly URI Reordering Transform — the key format
    * of OpenWayback/Common Crawl CDX capture indexes): scheme dropped,
    * host labels REVERSED and comma-joined (so one domain's captures
    * sort contiguously and a range scan covers a whole subtree), port
    * kept, then `)` + path + query verbatim. Expects an
    * already-canonical URL ([[canonicalizeUrl]] first — SURT's own
    * lowercase/strip steps are the canonicalizer's job); non-URLs (no
    * `://`) pass through unchanged. A pure Column — zero shuffle; the
    * index build downstream is one hash aggregation on the key. */
  def surtKey(canonUrl0: Column): Column =
    // the canonical-URL tree is bound once (q_cdx_index passes the whole
    // canonicalizeUrl chain here — inline, its 5 references below each
    // re-ran the full canonicalization per row), and so are the rest/
    // authority intermediates (4 references each)
    TextOps.bindOnce(canonUrl0) { canonUrl =>
      TextOps.bindOnce(call_function("substr", canonUrl,
          call_function("instr", canonUrl, lit("://")) + 3)) { rest =>
        TextOps.bindOnce(regexp_extract(rest, "^[^/]*", 0)) { auth =>
          val pathq = call_function("substr", rest, length(auth) + 1)
          val hostOnly = substring_index(auth, ":", 1)
          val port = when(call_function("instr", auth, lit(":")) > 0,
            concat(lit(":"), substring_index(auth, ":", -1)))
            .otherwise(lit(""))
          val rev = array_join(reverse(split(hostOnly, "\\.", -1)), ",")
          when(call_function("instr", canonUrl, lit("://")) === 0, canonUrl)
            .otherwise(concat(rev, port, lit(")"), pathq))
        }
      }
    }

  /** RFC 3986 §5.2.4 `remove_dot_segments` over an already-merged path.
    * One `aggregate` fold over the `/`-split segment array: `.` is
    * dropped, `..` pops the last pushed segment (but never the leading
    * root marker, so `/../g` resolves to `/g` exactly as the RFC's
    * abnormal examples require), anything else — including the empty
    * segments genuine `//` runs produce — is pushed verbatim. A
    * trailing `.` or `..` leaves the RFC's trailing slash. Empty input
    * normalizes to `/` (the repo-wide empty-path convention shared with
    * [[canonicalizeUrl]]). Pure codegen Column work, O(segments). */
  def removeDotSegments(path: Column): Column =
    TextOps.bindOnce(split(path, "/", -1)) { segs =>
    val stack0 = aggregate(segs, array().cast("array<string>"),
      (acc, s) =>
        when(s === ".", acc)
          .when(s === "..",
            when(size(acc) > 1, slice(acc, lit(1), size(acc) - 1))
              .otherwise(acc))
          .otherwise(array_append(acc, s)))
    // the folded stack is referenced twice below — bind it, or the whole
    // O(segments) fold runs twice per row
    TextOps.bindOnce(stack0) { stack =>
      val withTrail = when(element_at(segs, -1).isin(".", ".."),
        array_append(stack, lit(""))).otherwise(stack)
      TextOps.bindOnce(array_join(withTrail, "/")) { joined =>
        when(joined === "", lit("/")).otherwise(joined)
      }
    }
  }

  /** RFC 3986 §5.2 reference resolution: the hop between
    * [[graft.pipeline.Html.extractLinks]] (which returns hrefs AS
    * WRITTEN — mostly relative on real pages) and anything that needs an
    * absolute URL (the link graph, the frontier, canonical-target
    * dedup). Implements the strict algorithm over a hierarchical
    * `scheme://` base:
    *
    *   - a ref with a scheme but no authority (`mailto:`, `urn:`,
    *     `http:g` strict) passes through unchanged;
    *   - a ref with `://` is already absolute — only its path gets
    *     dot-segment removal;
    *   - `//host/x` (network-path) takes the base's scheme;
    *   - `""` and `#frag` resolve to the base itself (query kept);
    *   - `?y` keeps the base path, replaces the query;
    *   - `/rooted` keeps the base authority;
    *   - anything else merges onto the base path's directory
    *     (RFC §5.2.3) and removes dot segments.
    *
    * Two deliberate divergences from the RFC's literal §5.4 output,
    * both repo conventions shared with [[canonicalizeUrl]]: fragments
    * are stripped (a dedup/crawl key never includes one), and an empty
    * resolved path becomes `/` (so `//g` → `http://g/`). Pure Column
    * work — zero shuffle, rides the extraction map. */
  def resolveReference(base: Column, ref: Column): Column =
    // Every intermediate below is referenced several times by the branch
    // dispatch (r up to 8×, bAuth/bPath/aPathQ 3× each) and lambda-bearing
    // trees are exempt from subexpression elimination, so the raw spelling
    // re-ran each decomposition per reference per row. The intermediates
    // are bound once per dependency layer (structs group same-layer
    // values so one bind serves several) — values are expression-for-
    // expression identical to the raw form.
    TextOps.bindOnce(struct(substring_index(ref, "#", 1).as("r"),
        substring_index(base, "#", 1).as("b"))) { rb =>
      val r = rb.getField("r")
      val b = rb.getField("b")
      // anchored to a leading scheme — a mere "://" occurrence is not
      // enough, or "/out?url=https://x" (the ubiquitous outbound-redirect
      // query pattern) would be mis-parsed as an absolute reference
      TextOps.bindOnce(struct(
          r.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*:").as("hasScheme"),
          r.rlike("^[A-Za-z][A-Za-z0-9+.\\-]*://").as("hasAuthScheme"),
          substring_index(b, "://", 1).as("bScheme"),
          call_function("substr", b,
            call_function("instr", b, lit("://")) + 3).as("bRest"))) { p =>
        val hasScheme = p.getField("hasScheme")
        val hasAuthScheme = p.getField("hasAuthScheme")
        val bScheme = p.getField("bScheme")
        val bRest = p.getField("bRest")
        // absolute and network-path refs share one decomposition: a
        // network-path ref's target IS base-scheme + ":" + ref (RFC §5.2.2)
        TextOps.bindOnce(struct(
            regexp_extract(bRest, "^[^/?]*", 0).as("bAuth"),
            when(hasAuthScheme, r)
              .otherwise(concat(bScheme, lit(":"), r)).as("absT"))) { q =>
          val bAuth = q.getField("bAuth")
          val absT = q.getField("absT")
          TextOps.bindOnce(struct(
              substring_index(call_function("substr", bRest,
                length(bAuth) + 1), "?", 1).as("bPath"),
              substring_index(r, "?", 1).as("rPath"),
              substring_index(absT, "://", 1).as("aScheme"),
              call_function("substr", absT,
                call_function("instr", absT, lit("://")) + 3)
                .as("aRest"))) { s =>
            val bPath = s.getField("bPath")
            val rPath = s.getField("rPath")
            val aScheme = s.getField("aScheme")
            val aRest = s.getField("aRest")
            // ref query carried verbatim, '?' included
            val rQmark = call_function("instr", r, lit("?"))
            val rQuery = when(rQmark > 0,
              call_function("substr", r, rQmark)).otherwise(lit(""))
            TextOps.bindOnce(regexp_extract(aRest, "^[^/?]*", 0)) { aAuth =>
              TextOps.bindOnce(call_function("substr", aRest,
                  length(aAuth) + 1)) { aPathQ =>
                val aPath = substring_index(aPathQ, "?", 1)
                val aQmark = call_function("instr", aPathQ, lit("?"))
                val aQuery = when(aQmark > 0,
                  call_function("substr", aPathQ, aQmark)).otherwise(lit(""))
                // RFC §5.2.3 merge for relative-path refs
                val bDir = when(bPath.contains("/"),
                  regexp_extract(bPath, "^(.*/)", 1)).otherwise(lit(""))
                val merged = when(length(bAuth) > 0 && bPath === "",
                  concat(lit("/"), rPath)).otherwise(concat(bDir, rPath))
                // ONE dot-removal instance fed by a branch dispatch: three
                // removeDotSegments call sites would triple the (large)
                // fold tree — measured 3× plan size and a whole-stage-
                // codegen blowout on the driver row
                val isAbs = hasAuthScheme || r.startsWith("//")
                val dotInput = when(isAbs, aPath)
                  .when(r.startsWith("/"), rPath)
                  .otherwise(merged)
                val cleaned = removeDotSegments(dotInput)
                val prefix = when(isAbs, concat(aScheme, lit("://"), aAuth))
                  .otherwise(concat(bScheme, lit("://"), bAuth))
                val suffix = when(isAbs, aQuery).otherwise(rQuery)
                when(hasScheme && !hasAuthScheme, r)
                  .when(r === "", b)
                  .when(r.startsWith("?") && !isAbs,
                    concat(bScheme, lit("://"), bAuth, bPath, r))
                  .otherwise(concat(prefix, cleaned, suffix))
              }
            }
          }
        }
      }
    }

  /** Per-domain `Crawl-delay` (the de-facto politeness field Bing and
    * Yandex honor; not in RFC 9309 but ubiquitous in published
    * robots.txt) with the SAME group selection as [[parseRobots]]: the
    * delay comes from the groups naming `agent`'s product token, falling
    * back to the `*` groups; several matching groups keep the MAX (the
    * conservative politeness choice). Non-numeric values are ignored.
    * Emits `(domain, delay_s)` — only domains that declare one; callers
    * apply their default elsewhere. Same fold/broadcast scale shape as
    * the rule parser. */
  def crawlDelays(robots: DataFrame, domainCol: String = "domain",
                  txtCol: String = "robots_txt",
                  agent: String = "*"): DataFrame = {
    require(agent.nonEmpty && !agent.contains("\n"),
      s"agent must be a product token or '*', got '$agent'")
    val lines = split(col(txtCol), "\n", -1)
    val init = struct(lit(false).as("ua"), lit(false).as("star"),
      lit(false).as("mine"), lit(false).as("sawMine"),
      lit(-1L).as("starDelay"), lit(-1L).as("mineDelay"))
    val folded = aggregate(lines, init, (acc, raw) => {
      val l = trim(regexp_replace(raw, "#.*$", ""))
      val low = lower(l)
      val isUa = low.startsWith("user-agent:")
      val isDelay = low.startsWith("crawl-delay:")
      val value = trim(call_function("substr", l,
        call_function("instr", l, lit(":")) + 1))
      val isStarTok = value === "*"
      val isMineTok = lower(value) === lit(agent.toLowerCase)
      val star = when(isUa,
        when(acc.getField("ua"), acc.getField("star") || isStarTok)
          .otherwise(isStarTok))
        .otherwise(acc.getField("star"))
      val mine = when(isUa,
        when(acc.getField("ua"), acc.getField("mine") || isMineTok)
          .otherwise(isMineTok))
        .otherwise(acc.getField("mine"))
      val num = when(isDelay && value.rlike("^[0-9]{1,9}$"),
        value.cast("long")).otherwise(lit(-1L))
      val starDelay = when(num >= 0 && star,
        greatest(acc.getField("starDelay"), num))
        .otherwise(acc.getField("starDelay"))
      val mineDelay = when(num >= 0 && mine,
        greatest(acc.getField("mineDelay"), num))
        .otherwise(acc.getField("mineDelay"))
      struct(isUa.as("ua"), star.as("star"), mine.as("mine"),
        (acc.getField("sawMine") || mine).as("sawMine"),
        starDelay.as("starDelay"), mineDelay.as("mineDelay"))
    }, acc => when(acc.getField("sawMine"), acc.getField("mineDelay"))
      .otherwise(acc.getField("starDelay")))
    robots.select(col(domainCol).as("domain"), folded.as("delay_s"))
      .where(col("delay_s") >= 0L)
  }

  /** Registered domain against a FULL public-suffix list (the
    * publicsuffix.org algorithm, all three rule forms) — the swap-in
    * scale path [[registeredDomain]]'s PSL-lite documents: normal rules
    * (`co.uk`), wildcard rules (`*.ck` — any single label below), and
    * exception rules (`!www.ck` — carves a registrable domain out of a
    * wildcard). Prevailing rule per the spec: an exception beats
    * everything, otherwise the rule with the most labels; no match
    * falls back to the implicit `*` rule (suffix = last label). The
    * registered domain is one label below the prevailing suffix — for
    * an exception, the exception's own domain; a host that IS its
    * public suffix (no registrable domain) returns unchanged, matching
    * [[registeredDomain]]'s convention.
    *
    * Scale shape — list-size-INDEPENDENT per host: each host explodes
    * into `labels` candidate suffixes (bounded by hostname depth, ~5),
    * each probed in its literal and `*.`-wildcard spelling against the
    * BROADCAST rule table (~9k rows for the real Mozilla list), then one
    * map-side-combinable `max` per host picks the prevailing rule — no
    * per-row scan of the list, no sort, one hash aggregation keyed by
    * the (high-cardinality) host.
    *
    * `psl` holds one rule per row in the PSL text form (column `rule`);
    * `//` comment lines and blanks are tolerated, so the real file
    * loads verbatim. Emits `(host, registered_domain)`, one row per
    * distinct input host. */
  def registeredDomainPsl(hosts: DataFrame, psl: DataFrame,
                          hostCol: String = "host"): DataFrame = {
    // both sides of the probe fold to ACE: the real PSL carries Unicode
    // rules (`中国`, `онлайн`) and hosts arrive in either spelling —
    // without the fold, `münchen.de` probes miss an `xn--` rule and
    // vice versa
    val rules = psl.select(trim(col("rule")).as("r"))
      .where(length(col("r")) > 0 && !col("r").startsWith("//"))
      .select(
        idnFold(when(col("r").startsWith("!"),
          call_function("substr", col("r"), lit(2))).otherwise(col("r")))
          .as("rule_key"),
        col("r").startsWith("!").as("exc"))
      .withColumn("rule_nl", size(split(col("rule_key"), "\\.", -1)))
    val h = hosts.select(col(hostCol).as("host")).where(length(col("host")) > 0)
      .distinct()
    val labels = split(idnFold(col("host")), "\\.", -1)
    val n = size(labels)
    // candidate suffix of j labels, plus its wildcard spelling (j >= 2:
    // the leftmost label replaced by `*`) — both probe the rule table
    val cands = h.select(col("host"), explode(transform(
        sequence(lit(1), n), j => {
          val suf = array_join(slice(labels, n - j + 1, j), ".")
          val wild = when(j >= 2, concat(lit("*."),
            array_join(slice(labels, n - j + 2, j - 1), ".")))
          struct(suf.as("suffix"), suf.as("p1"), wild.as("p2"))
        })).as("c"))
      .select(col("host"), col("c.suffix").as("suffix"),
        explode(array(col("c.p1"), col("c.p2"))).as("probe"))
      .where(col("probe").isNotNull)
    val best = cands.join(broadcast(rules),
        cands("probe") === rules("rule_key"))
      .groupBy("host")
      .agg(max(struct(
        (when(col("exc"), lit(1000)).otherwise(lit(0)) + col("rule_nl"))
          .as("p"),
        col("rule_nl").as("nl"), col("exc").as("e"),
        col("suffix").as("suffix"))).as("b"))
    h.join(best, Seq("host"), "left")
      .select(col("host"),
        when(col("b").isNull,
          // implicit `*` rule: suffix = last label, registered = last 2
          when(n >= 2, concat(element_at(labels, -2), lit("."),
            element_at(labels, -1))).otherwise(col("host")))
          .when(col("b.e"), col("b.suffix"))
          .when(n > col("b.nl"),
            array_join(slice(labels, n - col("b.nl"), col("b.nl") + 1), "."))
          .otherwise(col("host"))
          .as("registered_domain"))
  }

  /** URL-level exact dedup: group by canonical URL, keep the smallest id
    * (the standard first-crawled-wins rule), report group size. One hash
    * aggregation on the canonical key — map-side combinable, and the key
    * is high-cardinality so no skew salting is needed. Emits
    * `(url_canon, keeper, n_dups)`. */
  def dedupByUrl(docs: DataFrame, urlCol: String = "url",
                 idCol: String = "doc_id"): DataFrame =
    docs.select(canonicalizeUrl(col(urlCol)).as("url_canon"), col(idCol))
      .groupBy("url_canon")
      .agg(min(idCol).as("keeper"), count(lit(1)).as("n_dups"))

  /** Parse robots.txt (RFC 9309) into `(domain, rule_path, allow)` rows
    * — the Allow/Disallow rules the crawler identified by `agent` must
    * obey. Group selection per RFC 9309 §2.2.1: if ANY group's
    * `User-agent:` line names the crawler's product token exactly
    * (case-insensitive), the union of those groups' rules applies (the
    * RFC's combine-matching-groups clause); otherwise the `User-agent:
    * *` groups' rules apply; otherwise everything is allowed (no rows).
    * The default `agent = "*"` is the generic-crawler behavior — both
    * selectors coincide, so it degenerates to the `*` group exactly.
    *
    * A pure-Column line-fold state machine (no UDF): consecutive
    * `User-agent:` lines accumulate into one group (a UA line after
    * rules starts a fresh group, per the RFC's grouping), the fold
    * carries BOTH candidate rule sets (token-matched and `*`) plus a
    * saw-token flag and picks at the end, `#` comments are stripped
    * (RFC 9309 §2.2 allows them anywhere), empty rule values (the RFC's
    * "Disallow:" = nothing disallowed) are skipped, and unknown fields
    * (`Crawl-delay:`, blanks) are ignored. The robots table is
    * per-domain — tiny next to the corpus — so the fold runs once per
    * domain and the result broadcasts. */
  def parseRobots(robots: DataFrame, domainCol: String = "domain",
                  txtCol: String = "robots_txt",
                  agent: String = "*"): DataFrame = {
    require(agent.nonEmpty && !agent.contains("\n"),
      s"agent must be a product token or '*', got '$agent'")
    val lines = split(col(txtCol), "\n", -1)
    val emptyRules =
      array().cast("array<struct<path:string,allow:boolean>>")
    val init = struct(lit(false).as("ua"), lit(false).as("star"),
      lit(false).as("mine"), lit(false).as("sawMine"),
      emptyRules.as("starRules"), emptyRules.as("mineRules"))
    val folded = aggregate(lines, init, (acc, raw) => {
      val l = trim(regexp_replace(raw, "#.*$", ""))
      val low = lower(l)
      val isUa = low.startsWith("user-agent:")
      val isDis = low.startsWith("disallow:")
      val isAl = low.startsWith("allow:")
      val value = trim(call_function("substr", l,
        call_function("instr", l, lit(":")) + 1))
      val isStarTok = value === "*"
      val isMineTok = lower(value) === lit(agent.toLowerCase)
      val star = when(isUa,
        when(acc.getField("ua"), acc.getField("star") || isStarTok)
          .otherwise(isStarTok))
        .otherwise(acc.getField("star"))
      val mine = when(isUa,
        when(acc.getField("ua"), acc.getField("mine") || isMineTok)
          .otherwise(isMineTok))
        .otherwise(acc.getField("mine"))
      val isRule = (isDis || isAl) && length(value) > 0
      val rule = struct(value.as("path"), isAl.as("allow"))
      val starRules = when(isRule && star,
        array_append(acc.getField("starRules"), rule))
        .otherwise(acc.getField("starRules"))
      val mineRules = when(isRule && mine,
        array_append(acc.getField("mineRules"), rule))
        .otherwise(acc.getField("mineRules"))
      struct(isUa.as("ua"), star.as("star"), mine.as("mine"),
        (acc.getField("sawMine") || mine).as("sawMine"),
        starRules.as("starRules"), mineRules.as("mineRules"))
    }, acc => when(acc.getField("sawMine"), acc.getField("mineRules"))
      .otherwise(acc.getField("starRules")))
    robots.select(col(domainCol).as("domain"), explode(folded).as("r"))
      .select(col("domain"), col("r.path").as("rule_path"),
        col("r.allow").as("allow"))
  }

  /** `Sitemap:` directives from robots.txt (RFC 9309 §2.3 / sitemaps.org
    * discovery): how a crawler FINDS a site's sitemap in the first place
    * — the missing hop between the robots gate and the sitemap probe.
    * Directives are global (not group-scoped) and may repeat, so this is
    * a plain line filter, not part of the group state machine: every
    * line whose field name is `sitemap` (case-insensitive) AND that has
    * a colon yields its value (sitemap URLs contain `:`, so the split is
    * on the FIRST colon only; a bare `sitemap` line has no value and is
    * skipped — without the colon check `substring_index` would hand the
    * whole line back as both field and value). Trailing `#` comments
    * are stripped per RFC 9309 before the value is read. Emits
    * `(domain, sitemap_url)`, one row per directive, in file order. */
  def sitemapDirectives(robots: DataFrame, domainCol: String = "domain",
                        txtCol: String = "robots_txt"): DataFrame = {
    val urls = filter(
      transform(split(col(txtCol), "\n", -1), raw => {
        val l = trim(regexp_replace(raw, "#.*$", ""))
        when(lower(substring_index(l, ":", 1)) === "sitemap" &&
            call_function("instr", l, lit(":")) > 0,
          trim(call_function("substr", l,
            call_function("instr", l, lit(":")) + 1)))
      }),
      v => v.isNotNull && length(v) > 0)
    robots.select(col(domainCol).as("domain"),
      explode(urls).as("sitemap_url"))
  }

  /** Gate URLs through parsed robots rules with RFC 9309 matching: the
    * LONGEST rule whose path is a prefix of the URL's canonical path
    * decides; on a length tie the least restrictive (Allow) wins; no
    * matching rule (or no rules for the domain) means allowed. The tie
    * rule rides one integer: `score = 2·len(rule) + allowBit`, so a
    * single map-side-combinable `max` per doc IS the RFC decision — no
    * window, no sort. Rules broadcast (per-domain table); the corpus
    * side is one narrow map + one grouped max. Emits
    * `(doc_id, domain, allowed)`. */
  def robotsGate(urls: DataFrame, rules: DataFrame, urlCol: String = "url",
                 idCol: String = "doc_id"): DataFrame = {
    val canon = canonicalizeUrl(col(urlCol))
    // localCheckpoint the slim (id, domain, path) projection before the
    // join+aggregate: the canonicalization tree (each Column reference
    // duplicates its subtree) otherwise fuses into the agg's codegen
    // stage and blows janino's method limit (interpreted fallback), and
    // would be re-analyzed per downstream action — the same internal
    // materialization kCore does for its edge table
    val withPath = urls.select(col(idCol),
      registeredDomain(canonicalHost(col(urlCol))).as("domain"),
      regexp_extract(canon, "://[^/]*(/[^?]*)", 1).as("path"))
      .localCheckpoint()
    withPath.join(broadcast(rules), Seq("domain"), "left")
      .select(col(idCol), col("domain"),
        when(col("rule_path").isNotNull &&
            col("path").startsWith(col("rule_path")),
          length(col("rule_path")) * 2 + col("allow").cast("int"))
          .otherwise(lit(-1)).as("score"))
      .groupBy(idCol, "domain")
      .agg(max("score").as("s"))
      .select(col(idCol), col("domain"),
        when(col("s") < 0, lit(1L))
          .otherwise((col("s") % 2).cast("long")).as("allowed"))
  }

  /** Per-registered-domain quota: keep at most `k` docs per domain,
    * largest-first with a deterministic id tiebreak — the row_number +
    * filter shape that Spark plans as `WindowGroupLimit`, so no domain
    * is ever shuffled or ranked whole no matter how many pages it
    * contributed. Emits the
    * surviving rows plus their in-domain rank. */
  def domainCap(docs: DataFrame, k: Int, urlCol: String = "url",
                idCol: String = "doc_id",
                sizeCol: String = "n_chars"): DataFrame = {
    require(k > 0, s"cap must be positive, got $k")
    val w = Window.partitionBy("domain")
      .orderBy(col(sizeCol).desc, col(idCol))
    docs.withColumn("domain",
        registeredDomain(canonicalHost(col(urlCol))))
      .withColumn("rn", row_number().over(w).cast("long"))
      .where(col("rn") <= k)
      .select(col("domain"), col(idCol), col(sizeCol), col("rn"))
  }
}
