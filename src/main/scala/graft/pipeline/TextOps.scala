package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline, over
  * the `documents` table (`doc_id, text, lang, source, n_chars`).
  *
  * Everything here is pure Catalyst `Column` expressions — no UDFs — so the
  * whole stage stays inside whole-stage codegen, pushes down through the
  * scan, and every operator is DuckDB-oracle-expressible for the driver's
  * correctness harness. The only "hash function" used anywhere is
  * [[Hashing.hash60]] (md5-derived), computable identically in any engine.
  *
  * These are rebuild extensions, not reference ports: the reference engine
  * (tsne-flink) has zero string processing — SURVEY.md §2.3 "no string/
  * date/array functions" — but a 100 TB curation pipeline lives on these.
  */
object TextOps {

  /** Whitespace tokenization. The canonical token column for every
    * downstream operator (stats, shingles, simhash, language ID).
    * Empty tokens are filtered out: Java's `split(regex, -1)` keeps the
    * empty strings that leading/trailing whitespace produces, which would
    * inflate token counts and poison shingle/SimHash signatures ("  a b"
    * and "a b" must fingerprint identically). The oracle's `tokSql`
    * applies the same `list_filter`. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => length(t) > 0)

  /** Evaluate a (possibly lambda-bearing) expression ONCE per row and fan
    * its value out to `f`'s many references — the Column-level form of the
    * repo's pack-once idiom. Catalyst's subexpression elimination skips
    * any subtree containing a lambda function (SPARK-35410), so every
    * *reference* to a HOF-built Column like [[tokens]] re-runs the whole
    * split+filter per row; expressions like the quality composite that
    * reference the token array 5× were paying 5 tokenizations per row.
    * Packing the value into a literal 1-element array and routing all
    * consumers through a `transform` lambda variable makes the engine
    * evaluate it exactly once, whatever the consumer fan-out — same value,
    * same type, same null behavior (the lambda body sees the same input
    * the raw expression would). */
  private[graft] def bindOnce(c: Column)(f: Column => Column): Column =
    element_at(transform(array(c), x => f(x)), 1)

  /** NULL instead of an ANSI DIVIDE_BY_ZERO error: an empty/whitespace-only
    * document has zero tokens, and its per-token ratios are undefined, not
    * a job-killing exception. */
  private def safeDiv(num: Column, den: Column): Column =
    when(den =!= 0, num / den)

  /** Canonical text normalization for fuzzy-exact dedup: lowercase, strip
    * punctuation to spaces, collapse whitespace runs, trim. Two documents
    * differing only in case/punctuation/spacing normalize identically —
    * the cheap preprocessing every dedup stage runs before hashing. Pure
    * codegen'd expressions, exactly reproducible in SQL. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "),
      "\\s+", " "))

  /** BPE-ish pre-tokenization: letter runs, digit runs, single other
    * non-space symbols — the classic byte-pair pre-split regex, kept to a
    * subset whose semantics agree across regex engines. */
  val bpeishPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"
  def bpeishCount(text: Column): Column =
    size(regexp_extract_all(text, lit(bpeishPattern), lit(0)))

  /** Per-document surface statistics: characters, tokens, distinct tokens,
    * BPE-ish token count, mean token length. One narrow projection — no
    * shuffle, no UDF. */
  def textStats(docs: DataFrame): DataFrame = {
    // token array bound once (referenced 4× below — see bindOnce's note)
    val toks = col("__toks")
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
      .select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(toks).cast("long").as("n_tokens"),
      size(array_distinct(toks)).cast("long").as("n_types"),
      bpeishCount(col("text")).cast("long").as("n_bpeish"),
      round(safeDiv(
        aggregate(transform(toks, t => length(t).cast("double")),
          lit(0.0), (a, x) => a + x), size(toks)), 6).as("avg_token_len_r"))
  }

  /** CCNet-style language-model quality signal, self-trained: each token's
    * probability is its relative frequency in the corpus itself, a
    * document's score the mean log-probability of its tokens. Documents of
    * common, fluent vocabulary score high; rare-token gibberish scores
    * low — the same role CCNet's KenLM perplexity filter plays, with the
    * unigram LM trained by ONE aggregation over the corpus being scored.
    *
    * Shape at 100 TB: one hash aggregation for the vocabulary counts
    * (map-side partials), a 1-row total, one token⋈frequency equi-join
    * (hot stopword keys are high-df but the frequency side is one row per
    * token — fan-out, not skew), one per-doc mean. No driver state beyond
    * the 1-row total. Returns `(doc_id, n_scored, mean_logp_r)`; docs
    * with zero tokens score NULL (no vocabulary to judge them by). */
  def unigramLogProb(docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tokens(col("text"))).as("tok"))
    val freqs = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val total = freqs.agg(sum("c").as("n"))
    val scored = toks.join(freqs, "tok")
      .crossJoin(broadcast(total))
      .select(col("doc_id"),
        log(col("c").cast("double") / col("n").cast("double")).as("logp"))
    docs.select("doc_id").join(
        scored.groupBy("doc_id").agg(
          count(lit(1)).as("n_scored"),
          (round(avg("logp"), 6) + 0.0).as("mean_logp_r")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_scored"), lit(0L)).as("n_scored"),
        col("mean_logp_r"))
  }

  /** Bigram upgrade of [[unigramLogProb]]: per-doc mean conditional
    * log-probability `log p(w2|w1) = log(c(w1,w2) / c(w1·))`, with both
    * counts trained on the corpus being scored — the closest
    * one-aggregation-family approximation of CCNet's KenLM perplexity
    * filter. `c(w1·)` counts w1 as a bigram LEFT (doc-final tokens start
    * no bigram), so probabilities condition on exactly the events the
    * model saw. Docs with < 2 tokens have no bigrams: `(0, NULL)`.
    *
    * Shape: the bigram table is one positional self-join per doc
    * (adjacent positions — the shingle pattern), then two hash
    * aggregations and two equi-joins against count tables that are one
    * row per (bi)gram. Shuffle ∝ total tokens; no pairwise term. */
  def bigramLogProb(docs: DataFrame): DataFrame = {
    val tp = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val a = tp.select(col("doc_id"), col("pos"), col("tok").as("w1"))
    val b = tp.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
      col("tok").as("w2"))
    val bigrams = a.join(b,
      col("doc_id") === col("doc_b") && col("pos_b") === col("pos") + 1)
      .select(col("doc_id"), col("w1"), col("w2"))
    val c12 = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = bigrams.groupBy("w1").agg(count(lit(1)).as("c1"))
    val scored = bigrams.join(c12, Seq("w1", "w2")).join(c1, Seq("w1"))
      .select(col("doc_id"),
        log(col("c12").cast("double") / col("c1").cast("double")).as("logp"))
    docs.select("doc_id").join(
        scored.groupBy("doc_id").agg(
          count(lit(1)).as("n_bigrams"),
          (round(avg("logp"), 6) + 0.0).as("mean_logp_r")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_logp_r"))
  }

  /** Interpolated Kneser–Ney bigram scoring — the canonical n-gram
    * smoothing (Kneser & Ney 1995; what KenLM builds and CCNet filters
    * with), upgrading [[bigramLogProb]]'s raw MLE: absolute discount
    * D = 0.75 off every seen bigram, the freed mass λ(w1) = D·N1+(w1·)/c(w1·)
    * backed off to the CONTINUATION probability `p_cont(w2) =
    * N1+(·w2)/N1+(··)` — "how many contexts does w2 complete", the
    * correction that keeps high-frequency-but-one-context words (the
    * "San Francisco" effect) from leaking probability:
    *   p(w2|w1) = max(c12 − D, 0)/c1 + λ(w1)·p_cont(w2).
    * Every count is exact-integer from two aggregates over the bigram
    * table; the one float expression has a FIXED parenthesization
    * mirrored in the oracle, and the per-doc mean rounds at 1e-6 (the
    * [[bigramLogProb]] convention). Shuffle ∝ tokens — count tables are
    * one row per (bi)gram, no pairwise term. Docs with < 2 tokens:
    * `(0, NULL)`. */
  def kneserNeyLogProb(docs: DataFrame): DataFrame = {
    // adjacent pairs map-side via zip_with against the 1-shifted array —
    // no positional self-join, no shuffle before the count aggregates
    // (zip_with pads the shorter side with null; the padded last pair is
    // filtered) — measured 17.8 s → the join spelling's cost at the
    // 100k-doc fixture was two exploded-token shuffles. The token array is
    // bindOnce-bound: the three references below otherwise tokenize 3×.
    val pairs = bindOnce(tokens(col("text"))) { t =>
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val bigrams = docs
      .select(col("doc_id"), explode(pairs).as("bg"))
      .where(col("bg.w2").isNotNull)
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    // per-doc bigram counts first, so every downstream join touches the
    // TYPE table (vocabulary-bounded), never the occurrence stream —
    // at the 100k-doc fixture the per-occurrence triple join cost
    // 16.8 s warm; this spelling joins ~|types| rows instead
    val docBg = bigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("cd"))
    val c12 = docBg.groupBy("w1", "w2").agg(sum("cd").as("c12"))
    // c(w1·) and N1+(w1·) in ONE pass over the bigram-type table
    val left = c12.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val cont = c12.groupBy("w2").agg(count(lit(1)).as("ncont"))
    val ncc = c12.agg(count(lit(1)).as("ncc"))
    val p = (greatest(col("c12").cast("double") - 0.75, lit(0.0)) +
      lit(0.75) * col("n1p").cast("double") * col("ncont").cast("double") /
        col("ncc").cast("double")) / col("c1").cast("double")
    val typeScore = c12.join(left, Seq("w1")).join(cont, Seq("w2"))
      .crossJoin(broadcast(ncc))
      .select(col("w1"), col("w2"), log(p).as("logp"))
    docs.select("doc_id").join(
        docBg.join(typeScore, Seq("w1", "w2"))
          .groupBy("doc_id").agg(
            sum("cd").as("n_bigrams"),
            (round(sum(col("cd").cast("double") * col("logp")) /
              sum(col("cd").cast("double")), 6) + 0.0).as("mean_kn_logp_r")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("mean_kn_logp_r"))
  }

  /** Collocation mining: pointwise mutual information over adjacent token
    * pairs — `pmi(a,b) = ln(c(a,b)·N / (c(a,·)·c(·,b)))` with all counts
    * taken over the corpus's bigram events (N = total bigrams, `c(a,·)` =
    * a as bigram left, `c(·,b)` = b as bigram right), so every
    * probability conditions on exactly the observed event space — the
    * vocabulary-construction / multi-word-expression signal a tokenizer
    * pipeline mines before training. Pairs below `minCount` are dropped
    * first (PMI is noise-dominated at low counts — a hapax pair scores
    * maximal PMI by construction).
    *
    * Shape: one bigram aggregation (shuffle ∝ tokens), then the two
    * marginal tables are re-aggregated FROM the (a,b) count table —
    * |distinct bigrams| rows, not another pass over the corpus — and
    * joined back; N is a one-row broadcast. `pmi_r` is rounded for
    * engine-exact comparison; ties broken by (w1, w2). */
  def pmiCollocations(docs: DataFrame, minCount: Long = 5L): DataFrame = {
    val tp = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "tok")))
    val a = tp.select(col("doc_id"), col("pos"), col("tok").as("w1"))
    val b = tp.select(col("doc_id").as("doc_b"), col("pos").as("pos_b"),
      col("tok").as("w2"))
    val c12 = a.join(b,
      col("doc_id") === col("doc_b") && col("pos_b") === col("pos") + 1)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .localCheckpoint()
    val c1 = c12.groupBy("w1").agg(sum("c12").as("c1"))
    val c2 = c12.groupBy("w2").agg(sum("c12").as("c2"))
    val n = c12.agg(sum("c12").as("n"))
    c12.where(col("c12") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"),
        round(log(col("c12").cast("double") * col("n").cast("double") /
          (col("c1").cast("double") * col("c2").cast("double"))), 6)
          .as("pmi_r"))
  }

  /** Skip-gram co-occurrence counts: directed token pairs `(t[i], t[j])`
    * for `i < j <= i + window` — the word2vec-style context-pair statistic
    * that generalizes [[pmiCollocations]]'s adjacency (window = 1) to a
    * context window.
    *
    * Shape: unlike the PMI operator's positional self-join, the pair set
    * here is generated MAP-SIDE in one codegen'd projection (nested
    * `transform` over index `sequence`s, flattened and exploded) — fan-out
    * is ∝ tokens·window with no join and no shuffle of per-token rows; the
    * only exchange is the final (w1, w2) count aggregation, which
    * map-side-combines to ∝ distinct pairs. At corpus scale that is the
    * difference between shuffling every token position twice and shuffling
    * the (much smaller, Zipf-concentrated) pair vocabulary once. */
  def skipgramCounts(docs: DataFrame, window: Int = 3,
                     minCount: Long = 5L): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    docs.select(tokens(col("text")).as("t"))
      .where(size(col("t")) >= 2)
      .select(explode(expr(
        s"""flatten(transform(sequence(0, size(t) - 2),
           |  i -> transform(sequence(i + 1, least(i + $window, size(t) - 1)),
           |    j -> struct(element_at(t, i + 1) AS w1,
           |                element_at(t, j + 1) AS w2))))""".stripMargin))
        .as("p"))
      .select(col("p.w1").as("w1"), col("p.w2").as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c"))
      .where(col("c") >= minCount)
  }

  /** Per-document unigram (token) entropy in nats:
    * `H = ln(n) − (Σ c·ln c) / n` over the document's token counts — the
    * lexical-diversity quality signal (near-zero = the repeated-token spam
    * the Gopher repetition filters also target, high = diverse text).
    * Token-less documents have no distribution and emit no row.
    *
    * Shape: token counts and the entropy reduction are two hash
    * aggregations keyed by doc (map-side partial combine; shuffle ∝
    * distinct (doc, token), then ∝ docs). Deliberately NOT the per-doc
    * `transform(array_distinct(t), …)` map-side spelling — that is
    * O(distinct·len) per document, quadratic on exactly the long
    * repetitive documents this signal exists to catch. */
  def tokenEntropy(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .groupBy("doc_id", "w")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n"),
        sum(col("c").cast("double") * log(col("c").cast("double")))
          .as("sclc"))
      .select(col("doc_id"),
        round(log(col("n").cast("double")) - col("sclc") / col("n"), 6)
          .as("entropy_r"))

  /** Per-stratum KL divergence from the corpus token distribution —
    * `KL(p_s ‖ p) = Σ_t p_s(t) · ln(p_s(t) / p(t))` per source/domain:
    * the mixture-design diagnostic ("which domains are token-distribution
    * outliers, and by how much") that decides reweighting before
    * training. Zero-width strata and tokens unseen in a stratum
    * contribute nothing (0 · ln 0 = 0 by convention).
    *
    * Engine-exactness: each (stratum, token) term is quantized ONCE to
    * integer nano-units — `floor(term · 1e9 + 0.5)` — and the per-stratum
    * sum is a LONG sum, so no float addition order exists. (A nano grid,
    * not micro: KL terms are O(p_s(t)) ≈ 1/vocab, far below micro
    * resolution for real vocabularies.)
    *
    * Shape: ONE corpus aggregation to (stratum, token) counts (shuffle ∝
    * distinct pairs, map-side combinable); stratum totals and the global
    * token table are RE-aggregated from that table (vocab-sized, never a
    * second corpus pass — the [[pmiCollocations]] discipline) and joined
    * back broadcast. */
  def sourceKl(docs: DataFrame, strataCol: String = "source"): DataFrame = {
    val st = docs
      .select(col(strataCol).as("stratum"), explode(tokens(col("text"))).as("w"))
      .groupBy("stratum", "w").agg(count(lit(1)).as("c_st"))
    val totals = st.groupBy("stratum").agg(sum("c_st").as("t_s"))
    val global = st.groupBy("w").agg(sum("c_st").as("c_t"))
    val grand = global.agg(sum("c_t").as("t"))
    val term = (col("c_st").cast("double") / col("t_s").cast("double")) *
      log((col("c_st").cast("double") * col("t").cast("double")) /
          (col("t_s").cast("double") * col("c_t").cast("double")))
    st.join(totals, "stratum")
      .join(broadcast(global), "w")
      .crossJoin(broadcast(grand))
      .select(col("stratum"), col("t_s"),
        floor(term * 1e9 + 0.5).cast("long").as("term_u"))
      .groupBy("stratum")
      .agg(count(lit(1)).as("n_types"), max("t_s").as("n_tokens"),
        sum("term_u").as("kl_u"))
  }

  /** A small function-word list for quality scoring (English-ish; the
    * corpus vocabulary is synthetic so the *operator*, not the list, is
    * what matters). */
  val stopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "or", "in", "to", "is")

  private def hitCount(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(t === _).reduce(_ || _)))

  /** Heuristic quality score — the standard cheap pre-filters for web-scale
    * corpus curation: stopword density (fluency proxy), type/token ratio
    * (repetition proxy), alpha-character ratio (boilerplate/markup proxy),
    * mean token length (gibberish proxy). Composite in [0, 1]. */
  /** All four quality signals from ONE tokenization: the token array is
    * bound in its own projection (an alias referenced many times is not
    * re-inlined by CollapseProject), so the split+filter runs once per row
    * instead of the 9× the inline spelling paid (each ratio referenced
    * [[tokens]] 2×, the composite another 5×). Values are bit-identical to
    * the inline form. */
  def qualityScore(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id"),
        round(stopRatioOf(col("__toks")), 6).as("stop_ratio_r"),
        round(typeRatioOf(col("__toks")), 6).as("type_ratio_r"),
        round(alphaRatioExpr, 6).as("alpha_ratio_r"),
        qualityOf(col("text"), col("__toks")).as("quality_r"))

  private def stopRatioOf(toks: Column): Column =
    safeDiv(hitCount(toks, stopwords), size(toks).cast("double"))
  private def typeRatioOf(toks: Column): Column =
    safeDiv(size(array_distinct(toks)), size(toks).cast("double"))
  // letter COUNT via replace-length, not regexp_extract_all: the latter
  // materializes an array entry per matched character — allocation-heavy
  // on long documents for a number the length difference gives directly
  private def alphaRatioExpr: Column = safeDiv(
    length(col("text")) - length(regexp_replace(col("text"), "[A-Za-z]", "")),
    length(col("text")).cast("double"))

  /** The composite score over an already-bound token array — the shared
    * arithmetic of [[qualityExpr]] and [[qualityScore]] (one spelling, so
    * the two can never drift). */
  private def qualityOf(text: Column, toks: Column): Column = {
    val meanLen = safeDiv(length(text).cast("double"),
      size(toks).cast("double"))
    // weights: fluent docs have some stopwords (target ~10%+), healthy
    // type variety, mostly letters, and 3–10 char mean tokens
    val score =
      least(stopRatioOf(toks) * 5.0, lit(1.0)) * 0.3 +
        least(typeRatioOf(toks) * 2.0, lit(1.0)) * 0.3 +
        alphaRatioExpr * 0.2 +
        when(meanLen.between(3.0, 10.0), 1.0).otherwise(0.0) * 0.2
    round(score, 6)
  }

  /** The composite quality score of [[qualityScore]] as a bare `Column`
    * over a `text` column, for pipelines that already project per-doc
    * columns: computing the gate inline in the same projection avoids a
    * self-join against a separate `qualityScore` pass. Same expression,
    * same rounding — the two spellings are value-identical. The token
    * array rides a [[bindOnce]] lambda, so the 5 token references cost
    * one tokenization per row, not five. */
  def qualityExpr: Column =
    bindOnce(tokens(col("text")))(toks => qualityOf(col("text"), toks))

  /** Marker-word sets for the n-gram/function-word language-ID heuristic.
    * Deterministic scoring — argmax over per-language hit counts, ties
    * broken by list order (en first). */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "es" -> Seq("el", "la", "los", "y", "es"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq.empty) // scored by CJK character presence instead

  /** Per-language scores + argmax from ONE tokenization: scores bind in
    * their own projection (multi-referenced aliases are not re-inlined),
    * and the argmax CASE chain then folds over cheap attribute references.
    * The inline spelling paid ~24 tokenizations per row — 8 for the score
    * columns plus up to 16 inside the fold-doubled argmax tree. */
  def langId(docs: DataFrame): DataFrame = {
    val scored = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("__toks"))
      .select(
        col("doc_id") +: langScoreExprsBound(col("text"), col("__toks"))
          .map { case (l, s) => s.as(s"score_$l") }: _*)
    val scoreCols = langMarkers.map { case (l, _) => l -> col(s"score_$l") }
    scored.select(
      col("doc_id") +: scoreCols.map { case (l, s) => s.as(s"score_$l") }
        :+ argmaxLang(scoreCols).as("pred_lang"): _*)
  }

  private def langScoreExprsOn(text: Column): Seq[(String, Column)] =
    langScoreExprsBound(text, tokens(text))

  private def langScoreExprsBound(text: Column,
                                  toks: Column): Seq[(String, Column)] =
    langMarkers.map { case (lang, words) =>
      val s =
        if (lang == "zh")
          size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0)))
        else hitCount(toks, words)
      lang -> s.cast("long")
    }

  /** Argmax with first-wins tie-break as a pure CASE chain, over ALREADY
    * CHEAP score columns (attributes or lambda variables — the fold
    * duplicates each score reference up to 2^k times, which is free only
    * when the reference is free). */
  private def argmaxLang(scores: Seq[(String, Column)]): Column =
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (lang, s)) =>
        (when(s > bestScore, s).otherwise(bestScore),
          when(s > bestScore, lit(lang)).otherwise(bestLang))
    }._2

  /** [[langId]]'s predicted language as a bare `Column` over a `text`
    * column — argmax with first-wins tie-break, as a pure CASE chain. Lets
    * pipelines gate on language inline instead of self-joining a separate
    * langId pass. */
  def predLangExpr: Column = predLangExprOn(col("text"))

  /** [[predLangExpr]] over an arbitrary text column (e.g. a chunk).
    * Two nested [[bindOnce]] levels: the token array is evaluated once,
    * the 5 scores once each — the argmax fold then fans out over lambda
    * struct-field reads instead of re-running split/filter/regex trees
    * (the inline spelling re-evaluated them up to 16× per row). */
  def predLangExprOn(text: Column): Column =
    bindOnce(tokens(text)) { toks =>
      bindOnce(struct(langScoreExprsBound(text, toks)
          .map { case (l, s) => s.as(s"s_$l") }: _*)) { packed =>
        argmaxLang(langMarkers.map { case (l, _) =>
          l -> packed.getField(s"s_$l") })
      }
    }

  /** Mixed-language detection: language-ID each NON-OVERLAPPING
    * `chunkTokens`-token chunk of a document, then per doc report the
    * chunk count, the number of distinct chunk languages, and the
    * majority language (count ties break toward the higher language
    * code, so the vote is deterministic) — the signal that
    * catches boilerplate-wrapped translations and code-switched spam
    * that whole-document language-ID averages away.
    *
    * Shape: the chunker's generator fan-out (∝ tokens/stride, map-side)
    * followed by two doc-keyed hash aggregations; the majority vote runs
    * through a max_by on (count, lang) — no window, no self-join. */
  def langMix(docs: DataFrame, chunkTokens: Int = 32): DataFrame =
    chunkDocuments(docs, maxTokens = chunkTokens, stride = chunkTokens)
      .select(col("doc_id"),
        predLangExprOn(col("chunk_text")).as("chunk_lang"))
      .groupBy("doc_id", "chunk_lang")
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_chunks"),
        count(lit(1)).as("n_langs"),
        // majority language; count ties break toward the HIGHER language
        // code (max of the (count, lang) struct) — deterministic
        max(struct(col("c"), col("chunk_lang"))).getField("chunk_lang")
          .as("majority_lang"))

  /** PII redaction for corpus publication: emails → `[EMAIL]`, runs of 6+
    * digits (phone/account/card shapes) → `[NUM]`. Pure codegen'd
    * `regexp_replace` — a narrow map, no shuffle, and the patterns avoid
    * constructs whose semantics differ between Java regex (Spark) and RE2
    * (DuckDB), so the redaction is reproducible in the oracle. Order
    * matters: emails first, so their digits aren't partially eaten. */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  val DigitRunPattern = "[0-9][0-9][0-9][0-9][0-9][0-9]+"

  def redactPii(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.withColumn(textCol,
      regexp_replace(
        regexp_replace(col(textCol), EmailPattern, "[EMAIL]"),
        DigitRunPattern, "[NUM]"))

  /** Luhn checksum sum of a digit-string Column (ISO/IEC 7812: from the
    * RIGHT, double every second digit, subtract 9 past 9, sum) — pure
    * integer Column arithmetic via nested higher-order functions, no UDF.
    * `luhnSum(c) % 10 == 0` is validity; the check digit that makes a
    * body valid is `(10 − luhnSum(body ‖ '0') % 10) % 10`. */
  def luhnSum(c: Column): Column =
    aggregate(
      transform(sequence(lit(1), length(c)), i => {
        val d = ascii(c.substr(i, lit(1))) - lit(48)
        when(((length(c) - i) % 2) === 1,
          when(d * 2 > 9, d * 2 - 9).otherwise(d * 2)).otherwise(d)
      }),
      lit(0), (acc, x) => acc + x)

  /** Checksum-validated PII detection (the presidio-style validator
    * stage): digit runs of plausible card length are candidates, and only
    * Luhn-valid ones count — the checksum is what separates an account
    * number from a timestamp or order id, cutting the false-positive rate
    * a bare digit-run regex (like [[redactPii]]'s `[NUM]` rule) pays.
    * Emits per doc `(doc_id, n_candidates, n_luhn_valid, has_valid)`.
    * Pure map-side Column work (regex extract + nested HOFs), integer
    * throughout — no shuffle at all, embarrassingly parallel at 100 TB. */
  def luhnValidPii(docs: DataFrame, minLen: Int = 13, maxLen: Int = 19,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(minLen >= 2 && maxLen >= minLen,
      s"bad candidate length bounds [$minLen, $maxLen]")
    val cands = regexp_extract_all(col(textCol),
      lit(s"[0-9]{$minLen,$maxLen}"), lit(0))
    val valid = filter(cands, c => luhnSum(c) % 10 === 0)
    docs.select(col(idCol),
      size(cands).cast("long").as("n_candidates"),
      size(valid).cast("long").as("n_luhn_valid"),
      (size(valid) > 0).cast("long").as("has_valid"))
  }

  /** Format-preserving masking of [[luhnValidPii]]'s VALIDATED numbers:
    * each Luhn-valid candidate is replaced by `****…` + its last
    * `keepLast` digits (the industry PAN-masking convention) while
    * checksum-failing digit runs — timestamps, order ids — pass through
    * untouched, which is exactly the precision [[redactPii]]'s blanket
    * `[NUM]` rule can't offer. One left-fold of literal string
    * replacements over the candidate list (occurrence order, both
    * engines); map-side only, zero shuffle.
    *
    * Semantics note: each fold step is a GLOBAL literal `replace`, so
    * every occurrence of a valid number's digit string is masked —
    * including where it appears as a substring of a longer,
    * checksum-failing run (a 17-digit invalid run containing a valid
    * 16-digit PAN gets that embedded span masked). This errs toward
    * over-masking, the right default for PII; span-anchored replacement
    * would need per-match offsets, which neither engine's codegen'd
    * string functions expose. The oracle folds identically. */
  def luhnMaskValid(docs: DataFrame, keepLast: Int = 4,
                    minLen: Int = 13, maxLen: Int = 19,
                    textCol: String = "text",
                    idCol: String = "doc_id"): DataFrame = {
    require(keepLast >= 0 && keepLast < minLen,
      s"keepLast must be in [0, $minLen), got $keepLast")
    val cands = regexp_extract_all(col(textCol),
      lit(s"[0-9]{$minLen,$maxLen}"), lit(0))
    val valid = filter(cands, c => luhnSum(c) % 10 === 0)
    val masked = aggregate(valid, col(textCol), (acc, c) =>
      call_function("replace", acc, c,
        concat(call_function("repeat", lit("*"), length(c) - lit(keepLast)),
          call_function("right", c, lit(keepLast)))))
    docs.select(col(idCol), masked.as("masked"))
  }

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1's "repetition
    * removal" family, adapted to single-line documents): duplicate-token
    * fraction (1 − types/tokens), the most-frequent-bigram's share of all
    * bigram occurrences, and the duplicated-trigram fraction
    * (1 − distinct/total). High values mark boilerplate, keyword stuffing
    * and generation loops — the standard cheap repetition pre-filter for
    * web-scale curation.
    *
    * Shape at scale: the token signal is a narrow map; the n-gram signals
    * are one explode + two hash aggregations each, partial-aggregated
    * map-side and co-partitioned on `doc_id` for the final joins — no
    * all-pairs anything. Short documents (< n tokens) report 0 for the
    * n-gram signals via the left joins. */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val base = docs.select(
      col("doc_id"),
      bindOnce(tokens(col("text")))(t =>
        lit(1.0) - safeDiv(size(array_distinct(t)), size(t).cast("double")))
        .as("dup_token_frac"))
    // both n-gram signals ride Dedup.shingles — one shared windowing/
    // hashing implementation (same 60-bit-collision contract as every
    // shingle consumer)
    val topBigram = Dedup.shingles(docs, 2, keepPos = true)
      .groupBy("doc_id", "sh_hash").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg((max("c") / sum("c")).as("top_bigram_frac"))
    val triDup = Dedup.shingles(docs, 3, keepPos = true)
      .groupBy("doc_id")
      .agg((lit(1.0) - countDistinct("sh_hash") / count(lit(1)).cast("double"))
        .as("dup_trigram_frac"))
    base
      .join(topBigram, Seq("doc_id"), "left")
      .join(triDup, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        round(col("dup_token_frac"), 6).as("dup_token_frac_r"),
        round(coalesce(col("top_bigram_frac"), lit(0.0)), 6).as("top_bigram_frac_r"),
        round(coalesce(col("dup_trigram_frac"), lit(0.0)), 6).as("dup_trigram_frac_r"))
  }

  /** Benchmark decontamination: flag every corpus document sharing at least
    * one token `n`-gram with the benchmark set (the standard exact-overlap
    * contamination check run before training on scraped corpora). Returns
    * one row per corpus document: distinct contaminated n-gram count + a
    * 0/1 flag.
    *
    * Shape at scale: benchmark suites are tiny next to a 100 TB corpus, so
    * the distinct benchmark-shingle set is broadcast — the corpus side is
    * one shingle pass + a broadcast semi-join-shaped hash join + one
    * aggregation, no shuffle of corpus text. */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame, n: Int = 3): DataFrame = {
    val corpusShingles = Dedup.shingles(corpus, n)
    val benchShingles = Dedup.shingles(benchmark, n).select("sh_hash").distinct()
    val overlap = corpusShingles.join(broadcast(benchShingles), "sh_hash")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    corpus.select("doc_id").join(overlap, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** Soft contamination score ([[decontaminate]]'s graded twin, the
    * GPT-3 appendix-C / PaLM shape): per corpus document, the FRACTION of
    * its distinct token n-grams that appear anywhere in the benchmark
    * set, flagged when the fraction reaches `pctThreshold` percent. The
    * binary any-overlap flag over-fires on one stock phrase; the graded
    * score separates "quotes a benchmark item wholesale" from "shares a
    * common trigram" and is what production decontamination actually
    * thresholds.
    *
    * The flag is decided by integer cross-multiplication
    * (`n_hit·100 ≥ n_grams·pct`) — no float comparison anywhere in the
    * verdict — and the reported fraction is two integer operands under
    * one IEEE division, exact cross-engine. Docs with < n tokens have no
    * grams and report 0/0 → fraction 0, unflagged.
    *
    * Shape at scale: identical to [[decontaminate]] — one corpus shingle
    * pass, a broadcast hash join against the tiny benchmark gram set
    * (left join so the same pass counts total AND hit grams — the corpus
    * side is touched once), one doc-keyed aggregation. */
  def contaminationOverlap(corpus: DataFrame, benchmark: DataFrame,
                           n: Int = 3, pctThreshold: Int = 20): DataFrame = {
    val corpusShingles = Dedup.shingles(corpus, n)
    val benchShingles = Dedup.shingles(benchmark, n).select("sh_hash")
      .distinct().withColumn("hit", lit(1L))
    val perDoc = corpusShingles
      .join(broadcast(benchShingles), Seq("sh_hash"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
    corpus.select("doc_id").join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L))
          / greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 6)
          .as("overlap_frac_r"),
        (coalesce(col("n_hit"), lit(0L)) * 100 >=
          coalesce(col("n_grams"), lit(0L)) * pctThreshold &&
          coalesce(col("n_hit"), lit(0L)) > 0).cast("long").as("flagged"))
  }

  /** [[contaminationOverlap]]'s Bloom-prefiltered twin — the graded score
    * when the benchmark gram set outgrows a comfortable broadcast (the
    * same regime [[decontaminateBloom]] serves for the binary flag).
    * `n_grams` comes from a benchmark-free doc-keyed count; `n_hit` from
    * the Bloom survivors (~fp rate of the corpus grams + true hits)
    * re-checked against the exact gram set, so the output is EXACTLY
    * [[contaminationOverlap]]'s — the Bloom can only over-admit and the
    * verify join removes every false positive before counting.
    *
    * Cost trade vs the exact twin: two map-side shingle generator passes
    * over the corpus instead of one, in exchange for never building the
    * benchmark-sized join table — route here when the benchmark side
    * outweighs a second corpus scan. The gram-hash collect is
    * driver-bounded by the probe set, same contract as
    * [[decontaminateBloom]]. */
  def contaminationOverlapBloom(corpus: DataFrame, benchmark: DataFrame,
                                n: Int = 3, pctThreshold: Int = 20,
                                bitsPerKey: Int = 16, k: Int = 4): DataFrame = {
    val benchShingles = Dedup.shingles(benchmark, n).select("sh_hash")
      .distinct()
    val bits = Bloom.build(benchShingles.collect().map(_.getLong(0)),
      bitsPerKey, k)
    val corpusShingles = Dedup.shingles(corpus, n)
    val totals = corpusShingles.groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"))
    val hits = corpusShingles
      .where(Bloom.mightContain(bits, col("sh_hash")))
      .join(broadcast(benchShingles), "sh_hash")
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
    corpus.select("doc_id")
      .join(totals, Seq("doc_id"), "left")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L))
          / greatest(coalesce(col("n_grams"), lit(0L)), lit(1L)), 6)
          .as("overlap_frac_r"),
        (coalesce(col("n_hit"), lit(0L)) * 100 >=
          coalesce(col("n_grams"), lit(0L)) * pctThreshold &&
          coalesce(col("n_hit"), lit(0L)) > 0).cast("long").as("flagged"))
  }

  /** [[decontaminate]] with a Bloom prefilter — the scale path for when
    * the benchmark/blocklist n-gram set outgrows a comfortable broadcast
    * HASH join (a billion grams ≈ 30 GB hashed vs ≈ 2 GB of Bloom bits at
    * 16 bits/key). The corpus side probes the bits map-locally (pure
    * codegen'd bit ops riding the plan — no join node, no shuffle) and
    * only the ~0.2% false positives plus true hits reach the exact verify
    * join, so even a shuffled verify would move almost nothing. Results
    * are EXACTLY [[decontaminate]]'s — the Bloom can only over-admit, and
    * the verify join re-checks every survivor against the exact set.
    *
    * The gram-hash collect is driver-bounded by the probe set (a
    * benchmark suite), same contract as [[decontaminate]]'s broadcast. */
  def decontaminateBloom(corpus: DataFrame, benchmark: DataFrame, n: Int = 3,
                         bitsPerKey: Int = 16, k: Int = 4): DataFrame = {
    val benchShingles = Dedup.shingles(benchmark, n).select("sh_hash").distinct()
    val hashes = benchShingles.collect().map(_.getLong(0))
    val bits = Bloom.build(hashes, bitsPerKey, k)
    val candidates = Dedup.shingles(corpus, n)
      .where(Bloom.mightContain(bits, col("sh_hash")))
    val overlap = candidates.join(broadcast(benchShingles), "sh_hash")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    corpus.select("doc_id").join(overlap, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        (coalesce(col("n_contaminated"), lit(0L)) > 0).cast("long").as("contaminated"))
  }

  /** Winnowing document fingerprints (Schleimer et al., the MOSS
    * algorithm): hash every token `n`-gram, slide a window of `w`
    * consecutive hashes, keep each window's minimum, dedupe. Robust
    * position-independent near-dup signatures; ~1/w of the shingle count.
    * One shuffle (the window by doc), one dedupe. */
  def fingerprints(docs: DataFrame, n: Int = 3, w: Int = 4): DataFrame = {
    val sh = Dedup.shingles(docs, n, keepPos = true) // (doc_id, pos, sh_hash)
    val win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    sh.select(col("doc_id"), min(col("sh_hash")).over(win).as("fp"))
      .distinct()
  }

  /** Hashing-trick TF-IDF featurization — the text→vector bridge that makes
    * the embedding-space operators ([[Ann]], [[Dedup.semanticDedup]],
    * [[graft.pipeline.Prototypes]]) self-contained from raw text, with no
    * external model: token → `hash60(token) mod dim` bucket, per-document
    * term frequency, smoothed idf `ln((N+1)/(df+1)) + 1` (the classic
    * sklearn smoothing — never zero, so hapax buckets still contribute).
    * Long format `(doc_id, bucket, w)`: two hash aggregations + one
    * bucket-keyed join — shuffle ∝ distinct (doc, bucket) pairs, nothing
    * quadratic, and every value is exactly recomputable in SQL. N (corpus
    * size) is one driver scalar.
    *
    * [[tfidfVectors]] assembles the dense `Array[Double]` form (optionally
    * L2-normalized — cosine becomes a dot product) for the ANN operators;
    * the scatter is per-group Scala (the same `groupByKey.mapGroups`
    * assembly as the reference's `readInput`, SURVEY §2 O2). */
  def tfidfBuckets(docs: DataFrame, dim: Int,
                   textCol: String = "text",
                   idCol: String = "doc_id"): DataFrame = {
    require(dim > 0, s"dim must be positive, got $dim")
    val n = docs.count()
    val tk = docs.select(col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
      .select(col(idCol),
        pmod(graft.pipeline.Hashing.hash60(col("__tok")), lit(dim.toLong))
          .as("bucket"))
    val tf = tk.groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("tf"))
    val df = tk.distinct().groupBy(col("bucket"))
      .agg(count(lit(1)).as("df"))
    tf.join(df, "bucket")
      .select(col(idCol), col("bucket"),
        (col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0))
          .as("w"))
  }

  /** Dense-vector assembly of [[tfidfBuckets]] (see there). Returns
    * `(id, vec)` rows typed as [[graft.tsne.Point]] so the result plugs
    * straight into the kNN/ANN operators. Documents with zero tokens are
    * absent (they have no buckets — no vector). */
  def tfidfVectors(docs: DataFrame, dim: Int, l2Normalize: Boolean = true,
                   textCol: String = "text",
                   idCol: String = "doc_id"): org.apache.spark.sql.Dataset[graft.tsne.Point] = {
    val spark = docs.sparkSession
    import spark.implicits._
    tfidfBuckets(docs, dim, textCol, idCol)
      .select(col(idCol).as("id"), col("bucket"), col("w"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroups { (id, rows) =>
        val vec = new Array[Double](dim)
        rows.foreach { case (_, b, w) => vec(b.toInt) += w }
        if (l2Normalize) {
          val nrm = math.sqrt(vec.map(x => x * x).sum)
          if (nrm > 0) { var i = 0; while (i < dim) { vec(i) /= nrm; i += 1 } }
        }
        graft.tsne.Point(id, vec)
      }
  }

  /** Split documents into fixed-size training chunks with stride overlap —
    * the "context-length packing's upstream neighbor": a pre-training
    * pipeline cuts each long document into `maxTokens`-token windows every
    * `stride` tokens (stride < maxTokens ⇒ overlapping windows, the
    * standard way to keep context at chunk boundaries; stride = maxTokens
    * ⇒ a disjoint tiling). Emits one row per (doc, window):
    * `(doc_id, chunk_index, chunk_text, chunk_tokens)`, chunk_index
    * 0-based in document order; the final window is short rather than
    * padded. Documents with zero tokens produce no chunks.
    *
    * All pure Column expressions: tokenize once, `sequence` over window
    * starts, `posexplode`, `slice` + `array_join` — no UDF, no shuffle;
    * fan-out ∝ tokens/stride, and the expression stays inside whole-stage
    * codegen. Exactly reproducible in SQL (`generate_series` +
    * `list_slice`). */
  def chunkDocuments(docs: DataFrame, maxTokens: Int, stride: Int,
                     textCol: String = "text",
                     idCol: String = "doc_id"): DataFrame = {
    require(maxTokens > 0, s"maxTokens must be positive, got $maxTokens")
    require(stride > 0, s"stride must be positive, got $stride")
    docs
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).as("__n"))
      .where(col("__n") > 0)
      .select(col(idCol),
        posexplode(sequence(lit(0), col("__n") - 1, lit(stride)))
          .as(Seq("chunk_index", "__start")),
        col("__toks"))
      .select(col(idCol), col("chunk_index").cast("long").as("chunk_index"),
        array_join(slice(col("__toks"), col("__start") + 1, lit(maxTokens)), " ")
          .as("chunk_text"),
        least(lit(maxTokens),
          size(col("__toks")) - col("__start")).cast("long")
          .as("chunk_tokens"))
  }

  /** Corpus-frequency boilerplate removal — the C4/Dolma cleaning rule at
    * k-gram granularity: any k-token run whose exact text occurs in at
    * least `minDf` DISTINCT documents is boilerplate (navigation chrome,
    * license blurbs, cookie banners repeat verbatim across a crawl), and
    * every token covered by an occurrence of a boilerplate gram is cut
    * from the surviving text. Differs from the pairwise span family
    * ([[Dedup.sharedSpanPairs]] / [[Dedup.removeSharedSpans]]): this is
    * frequency-based, symmetric — the span is removed from EVERY document
    * that carries it, not just the higher-id duplicate.
    *
    * Emits one row per input document: `(doc_id, clean_text, n_removed)`,
    * token order preserved, documents shorter than k tokens kept whole,
    * a fully-boilerplate document surviving as the empty string (callers
    * filter on `n_removed` / emptiness downstream).
    *
    * Plan shape, built for a crawl-scale corpus: positional k-grams are a
    * map-side `explode` (fan-out ∝ tokens); document frequency is one hash
    * aggregate on the gram text with map-side partial combine; flagged
    * starts come from an equi-join of grams against the (small, typically
    * broadcastable) frequent-gram set; the per-document start list is a
    * `collect_list` aggregate over flagged rows only (∝ boilerplate hits,
    * not tokens); and the surgery itself is a higher-order `filter` with a
    * positional `exists` probe against that list — no token-level shuffle,
    * no window, no all-pairs anywhere. Every step is exact integer/string
    * arithmetic, reproducible in the DuckDB oracle. */
  def removeBoilerplateGrams(docs: DataFrame, k: Int = 3, minDf: Long = 5L,
                             textCol: String = "text",
                             idCol: String = "doc_id"): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(minDf >= 2L, s"minDf below 2 would delete every gram, got $minDf")
    val toks = docs.select(col(idCol),
      tokens(col(textCol)).as("__toks"))
    val grams = toks
      .where(size(col("__toks")) >= k)
      .select(col(idCol),
        explode(sequence(lit(0), size(col("__toks")) - k)).as("__s"),
        col("__toks"))
      .select(col(idCol), col("__s"),
        array_join(slice(col("__toks"), col("__s") + 1, lit(k)), " ")
          .as("__gram"))
    val frequent = grams.groupBy("__gram")
      .agg(count_distinct(col(idCol)).as("__df"))
      .where(col("__df") >= minDf)
      .select("__gram")
    // (doc, start) is unique within `grams`, so the equi-join against the
    // deduplicated frequent set needs no distinct afterwards.
    val starts = grams.join(frequent, "__gram")
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__s"))).as("__starts"))
    toks.join(starts, Seq(idCol), "left")
      .select(col(idCol), col("__toks"),
        coalesce(col("__starts"), array().cast("array<int>")).as("__starts"))
      .select(col(idCol),
        filter(col("__toks"), (_, i) =>
          !exists(col("__starts"), s => s <= i && i < s + k)).as("__kept"),
        col("__toks"))
      .select(col(idCol),
        array_join(col("__kept"), " ").as("clean_text"),
        (size(col("__toks")) - size(col("__kept"))).cast("long")
          .as("n_removed"))
  }

  /** Okapi BM25 top-k retrieval (Robertson/Sparck Jones; the Lucene
    * non-negative idf `ln(1 + (N − df + 0.5)/(df + 0.5))`) — the lexical
    * ranking primitive a curation pipeline uses to pull benchmark-like or
    * topic-like documents out of a corpus, the doc-length-normalized
    * upgrade of raw tf-idf. `queries` is `(query_id, qtext)`; each DISTINCT
    * query token scores against the corpus and the per-(query, doc) score
    * ranks top-k.
    *
    * Cross-engine determinism: each (query, term, doc) CONTRIBUTION is
    * quantized to 1e-6-grid longs BEFORE summation, so the per-pair score
    * is an order-free integer sum (float Σ order is partition-dependent;
    * the per-term chain is deterministic IEEE ops plus one `ln`, the same
    * parity the logprob rows pin). Ties rank by doc_id. Association order
    * of the contribution expression is part of the contract — the oracle
    * mirrors it token-for-token.
    *
    * 100 TB shape: ONE postings aggregation over the corpus (shuffle ∝
    * distinct (doc, term) pairs — dl rides the same rows, no second text
    * pass); query terms and their document frequencies are broadcast
    * (∝ |query vocabulary|, tiny); the score aggregation shuffles only
    * postings that MATCH a query term; ranking runs through Spark's
    * `WindowGroupLimit` (k rows per query cross the exchange from each
    * task), never a window over every match. Corpus stats
    * (N, avgdl) are one 1-row broadcast. */
  def bm25TopK(docs: DataFrame, queries: DataFrame, k: Int = 10,
               k1: Double = 1.2, b: Double = 0.75,
               textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    // materialized once: the postings subtree and the corpus-stats
    // aggregate are separate passes (and postings is itself consumed by
    // the df count AND the scoring join) — each would re-tokenize
    val toks = docs.select(col(idCol).as("doc_id"),
      tokens(col(textCol)).as("__t"))
      .localCheckpoint()
    val postings = toks
      .select(col("doc_id"), size(col("__t")).cast("long").as("dl"),
        explode(col("__t")).as("term"))
      .groupBy("doc_id", "dl", "term").agg(count(lit(1)).as("tf"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("__t")).cast("long")).as("total_dl"))
    val qterms = queries.select(col("query_id"),
      explode(array_distinct(tokens(col("qtext")))).as("term"))
    val dfs = postings
      .join(broadcast(qterms.select("term").distinct()), "term")
      .groupBy("term").agg(count(lit(1)).as("df"))
    // the contribution expression, spelled once; the oracle SQL mirrors
    // this association order exactly (IEEE ops are deterministic but not
    // associative)
    val avgdl = col("total_dl").cast("double") / col("n_docs").cast("double")
    val idf = log(lit(1.0) +
      (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
        (col("df").cast("double") + lit(0.5)))
    val num = col("tf").cast("double") * (lit(k1) + lit(1.0))
    val den = col("tf").cast("double") +
      lit(k1) * ((lit(1.0) - lit(b)) +
        lit(b) * (col("dl").cast("double") / avgdl))
    val contrib = floor(idf * (num / den) * lit(1000000.0) + lit(0.5))
      .cast("long")
    val scored = postings
      .join(broadcast(qterms), "term")
      .join(broadcast(dfs), "term")
      .crossJoin(broadcast(stats))
      .select(col("query_id"), col("doc_id"), contrib.as("cu"))
      .groupBy("query_id", "doc_id").agg(sum("cu").as("score_u"))
    val win = Window.partitionBy("query_id")
      .orderBy(col("score_u").desc, col("doc_id"))
    scored.withColumn("rn", row_number().over(win))
      .where(col("rn") <= k)
      .select(col("query_id"), col("rn").cast("long").as("rn"),
        col("doc_id"), col("score_u"))
  }

  /** NFKC-lite text normalization — the canonical pre-hash cleanup every
    * curation pipeline (CCNet, Dolma) runs before dedup/fingerprinting so
    * cosmetically-different encodings of the same text collapse:
    *   - typographic quotes → straight (`“”` → `"`, `‘’` → `'`);
    *   - en/em dashes and the minus sign → `-`;
    *   - the fi/fl ligatures expanded;
    *   - fullwidth ASCII letters/digits → ASCII (one `translate`);
    *   - NBSP / thin / ideographic spaces → space, zero-width space and
    *     soft hyphen removed;
    *   - control characters (except `\n` and `\t`) removed;
    *   - space/tab runs collapsed to one space, line structure KEPT,
    *     lines trimmed.
    * Full NFKC needs the Unicode tables; this is the deterministic
    * high-frequency subset, spelled as a replace/translate/regex chain
    * both engines replay byte-identically. Pure map-side Column work —
    * zero shuffle at 100 TB. */
  /** [[nfkcLite]]'s replace table — public so the driver oracle
    * builds its SQL replace chain from the SAME pairs (no drift). */
  val NormalizePairs: Seq[(String, String)] = Seq(
    "\u201C" -> "\"", "\u201D" -> "\"", "\u2018" -> "'", "\u2019" -> "'",
    "\u2013" -> "-", "\u2014" -> "-", "\u2212" -> "-", "\u2026" -> "...",
    "\uFB01" -> "fi", "\uFB02" -> "fl",
    "\u00A0" -> " ", "\u2009" -> " ", "\u3000" -> " ",
    "\u200B" -> "", "\u00AD" -> "")

  /** Fullwidth→ASCII translate alphabet, shared with the oracle. */
  val FullwidthChars: String = ('\uFF10' to '\uFF19').mkString +
    ('\uFF21' to '\uFF3A').mkString + ('\uFF41' to '\uFF5A').mkString
  val AsciiChars: String = ('0' to '9').mkString +
    ('A' to 'Z').mkString + ('a' to 'z').mkString

  def nfkcLite(text: Column): Column = {
    val replaced = NormalizePairs
      .foldLeft(text) { case (acc, (from, to)) =>
        call_function("replace", acc, lit(from), lit(to))
      }
    val t2 = translate(replaced, FullwidthChars, AsciiChars)
    val t3 = regexp_replace(t2, "[\\x00-\\x08\\x0B-\\x1F\\x7F]", "")
    val t4 = regexp_replace(t3, "[ \\t]+", " ")
    // trim each line, keeping the line structure
    array_join(transform(split(t4, "\n", -1), l => trim(l)), "\n")
  }

  /** The Gopher stop-word set (Rae et al. 2021 §A1.1 rule 7) — distinct
    * from [[stopwords]] (the quality-score fluency list): the rule counts
    * how many of THESE appear at least once. */
  val gopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  private val Letters =
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"

  /** The Gopher quality rule set (Rae et al. 2021 §A1.1; reused by
    * Dolma/FineWeb) — the NAMED document gate every web-scale pipeline
    * applies before model-based filtering, as seven per-rule flags plus
    * the conjunction:
    *   1. word count in [minWords, maxWords] (paper: 50..100,000);
    *   2. mean word length in [3, 10] characters;
    *   3. symbol-to-word ratio (`#` or `...`) ≤ 0.1;
    *   4. ≤ 90% of lines start with a bullet (`-`/`*`/`•`);
    *   5. ≤ 30% of lines end with an ellipsis;
    *   6. ≥ 80% of words contain at least one alphabetic character;
    *   7. at least 2 of the 8 [[gopherStopwords]] appear.
    * Every ratio rides as an integer cross-multiplication (`10·sym ≤
    * words`, `5·alpha ≥ 4·words`, …) — no float anywhere, so both
    * engines replay the verdicts bit-identically. One narrow projection
    * over the text column: no shuffle, no UDF, embarrassingly parallel
    * at 100 TB. Emits the seven flags and `gopher_pass` as longs. */
  def gopherRules(docs: DataFrame, minWords: Int = 50,
                  maxWords: Int = 100000): DataFrame = {
    require(0 < minWords && minWords <= maxWords,
      s"bad word-count bounds [$minWords, $maxWords]")
    val text = col("text")
    // token array + trimmed-lines array bound in their own projection
    // (multi-referenced aliases are not re-inlined): the verdicts below
    // reference toks 11× (words/chars/alpha + 8 stopword probes) and
    // lines 3× — the inline spelling re-split the text per reference
    val toks = col("__toks")
    val words = size(toks).cast("long")
    // r_meanlen references the char-count fold twice — bound, so the
    // O(tokens) fold runs once, and as a direct fold (no transform step)
    val totalChars0 = aggregate(toks, lit(0L),
      (a, t) => a + length(t).cast("long"))
    val nHash = (length(text) -
      length(call_function("replace", text, lit("#"), lit("")))).cast("long")
    // the paper's ellipsis rule covers both the ASCII spelling and the
    // U+2026 single-char form ([[nfkcLite]] also folds the latter into
    // the former, but gopherRules must not assume normalized input)
    val nEllipsis = (((length(text) -
      length(call_function("replace", text, lit("..."), lit("")))) / 3) +
      (length(text) -
        length(call_function("replace", text, lit("…"), lit("")))))
      .cast("long")
    val lines = col("__lines")
    val nLines = size(lines).cast("long")
    val bulletLines = size(filter(lines, l =>
      l.startsWith("-") || l.startsWith("*") || l.startsWith("•")))
      .cast("long")
    val ellipsisLines = size(filter(lines, l =>
      l.endsWith("...") || l.endsWith("…"))).cast("long")
    val alphaWords = size(filter(toks, t =>
      length(t) > length(translate(t, Letters, "")))).cast("long")
    // one intersection pass instead of 8 array_contains scans:
    // |distinct(toks) ∩ stopwords| ≡ Σ_w [w ∈ toks] because
    // array_intersect already deduplicates — same 0..8 value
    val stopHits = size(array_intersect(toks,
      lit(gopherStopwords.toArray)))
    def flag(c: Column) = c.cast("long")
    docs.select(col("doc_id"), text,
        tokens(text).as("__toks"),
        transform(split(text, "\n", -1), l => trim(l)).as("__lines"))
      .select(col("doc_id"),
      flag(words >= minWords && words <= maxWords).as("r_words"),
      flag(bindOnce(totalChars0)(tc =>
        tc >= words * 3 && tc <= words * 10)).as("r_meanlen"),
      flag((nHash + nEllipsis) * 10 <= words).as("r_symbol"),
      flag(bulletLines * 10 <= nLines * 9).as("r_bullet"),
      flag(ellipsisLines * 10 <= nLines * 3).as("r_ellipsis"),
      flag(alphaWords * 5 >= words * 4).as("r_alpha"),
      flag(stopHits >= 2).as("r_stop"))
      .withColumn("gopher_pass",
        (col("r_words") * col("r_meanlen") * col("r_symbol") *
          col("r_bullet") * col("r_ellipsis") * col("r_alpha") *
          col("r_stop")).cast("long"))
  }

  /** A per-language Kneser–Ney bigram model learned from a REFERENCE
    * slice — the train/score split [[kneserNeyLogProb]] (train ≡ score)
    * doesn't have, and the half CCNet actually needs: the LM is fitted
    * on trusted text (Wikipedia in the paper) and applied to the whole
    * crawl. Four count tables, all keyed by language and
    * vocabulary-bounded; `c12` is checkpointed once and the marginals
    * derive from it, so the reference corpus is tokenized exactly once. */
  final case class KneserNeyModel(c12: DataFrame, left: DataFrame,
                                  cont: DataFrame, ncc: DataFrame)

  def kneserNeyModel(ref: DataFrame, langCol: String = "lang")
      : KneserNeyModel = {
    val pairs = bindOnce(tokens(col("text"))) { t =>
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val bigrams = ref
      .select(col(langCol).as("lang"), explode(pairs).as("bg"))
      .where(col("bg.w2").isNotNull)
      .select(col("lang"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val c12 = bigrams.groupBy("lang", "w1", "w2")
      .agg(count(lit(1)).as("c12")).localCheckpoint()
    val left = c12.groupBy("lang", "w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1p"))
    val cont = c12.groupBy("lang", "w2").agg(count(lit(1)).as("ncont"))
    val ncc = c12.groupBy("lang").agg(count(lit(1)).as("ncc"))
    KneserNeyModel(c12, left, cont, ncc)
  }

  /** Score docs against a reference [[KneserNeyModel]] — unlike
    * [[kneserNeyLogProb]], unseen events are the NORMAL case here, so
    * the interpolated form is extended with the standard floors, every
    * branch spelled with a fixed parenthesization the oracle replays:
    *   - seen context w1: p = (max(c12−D,0) + D·N1+(w1·)·P_cont(w2)) / c(w1·)
    *     (an unseen w2 just zeroes the continuation term);
    *   - unseen context:  p = P_cont(w2) (pure backoff);
    *   - everything-unseen floor: p ≥ 1/(N1+(··)+1), so log p is always
    *     finite and a fully-OOV doc scores the floor, not −∞.
    * Scoring touches each DISTINCT (lang, w1, w2) of the scored corpus
    * once (one type table joined against the model's), then one per-doc
    * weighted mean — shuffle ∝ tokens, joins ∝ types. Docs of a
    * language absent from the reference (or with < 2 tokens) score
    * NULL. Emits `(doc_id, lang, n_bigrams, score_r)`. */
  def kneserNeyScore(docs: DataFrame, model: KneserNeyModel,
                     langCol: String = "lang"): DataFrame = {
    val pairs = bindOnce(tokens(col("text"))) { t =>
      zip_with(t, slice(t, lit(2), greatest(size(t) - 1, lit(0))),
        (a, b) => struct(a.as("w1"), b.as("w2")))
    }
    val docBg = docs
      .select(col("doc_id"), col(langCol).as("lang"), explode(pairs).as("bg"))
      .where(col("bg.w2").isNotNull)
      .select(col("doc_id"), col("lang"),
        col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .groupBy("doc_id", "lang", "w1", "w2").agg(count(lit(1)).as("cd"))
      .localCheckpoint() // consumed twice: type extraction + the re-join
    val ctypes = docBg.select("lang", "w1", "w2").distinct()
    val joined = ctypes
      .join(model.c12, Seq("lang", "w1", "w2"), "left")
      .join(model.left, Seq("lang", "w1"), "left")
      .join(model.cont, Seq("lang", "w2"), "left")
      .join(model.ncc, Seq("lang"), "left")
    val nccd = col("ncc").cast("double")
    val ncontd = coalesce(col("ncont"), lit(0L)).cast("double")
    val cand = when(col("c1").isNotNull,
      (greatest(coalesce(col("c12"), lit(0L)).cast("double") - 0.75,
        lit(0.0)) +
        lit(0.75) * col("n1p").cast("double") * ncontd / nccd) /
        col("c1").cast("double"))
      .otherwise(ncontd / nccd)
    val ts = joined.select(col("lang"), col("w1"), col("w2"),
      when(col("ncc").isNotNull,
        log(greatest(cand, lit(1.0) / (nccd + 1.0)))).as("logp"))
    docs.select(col("doc_id"), col(langCol).as("lang")).join(
        docBg.join(ts, Seq("lang", "w1", "w2"))
          .where(col("logp").isNotNull)
          .groupBy("doc_id").agg(
            sum("cd").as("n_bigrams"),
            (round(sum(col("cd").cast("double") * col("logp")) /
              sum(col("cd").cast("double")), 6) + 0.0).as("score_r")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("score_r"))
  }

  /** The CCNet head/middle/tail split (Wenzek et al. 2020 — the NAMED
    * curation recipe behind LLaMA's CommonCrawl slice): a per-language
    * reference LM ([[kneserNeyModel]] on the trusted `refSource` slice)
    * scores every document, and each language's documents split into
    * perplexity tertiles — `head` (most reference-like third), `middle`,
    * `tail`. Cutoffs are EXACT per-language nearest-rank tertiles of the
    * 1e-6-quantized score through the two-phase prefix-scan machinery
    * ([[graft.ops.Sketches.exactQuantilesPerStratum]] — never a one-task
    * window, language skew can't hurt), labels by comparison against the
    * two broadcast cutoffs. Unscorable docs (< 2 tokens, or a language
    * the reference doesn't cover) land in `tail` — CCNet's conservative
    * default. Emits `(doc_id, lang, n_bigrams, score_r, bucket)`. */
  def ccnetBuckets(docs: DataFrame, refSource: String = "src0",
                   langCol: String = "lang",
                   sourceCol: String = "source"): DataFrame = {
    val model = kneserNeyModel(docs.where(col(sourceCol) === refSource),
      langCol)
    val scored = kneserNeyScore(docs, model, langCol)
      .withColumn("score_u",
        floor(col("score_r") * 1e6 + 0.5).cast("long"))
      .localCheckpoint() // consumed twice: cutoff scan + the label pass
    val cuts = graft.ops.Sketches.exactQuantilesPerStratum(
        scored.where(col("score_u").isNotNull), "doc_id", "lang",
        "score_u", Map("q33" -> (1L, 3L), "q67" -> (2L, 3L)),
        salt = "ccnet")
      .groupBy("lang").agg(
        max(when(col("quantile") === "q33", col("score_u"))).as("v33"),
        max(when(col("quantile") === "q67", col("score_u"))).as("v67"))
    scored.join(broadcast(cuts), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("score_r"),
        when(col("score_u").isNull, lit("tail"))
          .when(col("score_u") <= col("v33"), lit("tail"))
          .when(col("score_u") <= col("v67"), lit("middle"))
          .otherwise(lit("head")).as("bucket"))
  }

  /** Unicode-script profile + dominant script — the pre-language-ID
    * routing signal (fastText's lang-id uses script priors; a curation
    * pipeline routes CJK and Arabic text to different tokenizers before
    * any model runs): per doc the character counts of five major script
    * blocks (Latin, Cyrillic, Greek, CJK Unified, Arabic), counted as
    * length-minus-removal with one regex class per script — a narrow
    * codegen map, zero shuffle — and the dominant script as a fixed-
    * order argmax (first maximal count in the listed order, so ties are
    * deterministic and cross-engine). Block ranges are the BMP cores —
    * supplementary planes are out of scope for a profile signal. */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[Ѐ-ӿ]",
    "greek" -> "[Ͱ-Ͽ]",
    "cjk" -> "[一-鿿]",
    "arabic" -> "[؀-ۿ]")

  def scriptProfile(docs: DataFrame): DataFrame = {
    val text = col("text")
    val counts = ScriptRanges.map { case (name, re) =>
      (length(text) - length(regexp_replace(text, re, "")))
        .cast("long").as(s"n_$name")
    }
    val maxCount = ScriptRanges.map { case (name, _) => col(s"n_$name") }
      .reduce((a, b) => greatest(a, b))
    val dominant = ScriptRanges.foldRight(lit("none")) {
      case ((name, _), rest) =>
        when(maxCount > 0 && col(s"n_$name") === maxCount, lit(name))
          .otherwise(rest)
    }
    docs.select(col("doc_id") +: counts: _*)
      .withColumn("dominant", dominant)
  }

  /** Token blocklist filter — the C4 "bad words" rule (Raffel et al.
    * 2020 §2.2 drop any page containing a listed word; Dolma and
    * RefinedWeb keep variants of the same gate): a doc is flagged when
    * ANY of its whitespace tokens equals a blocklist entry,
    * case-insensitively and TOKEN-EXACT — a listed word embedded inside
    * a longer token does not fire (the classic Scunthorpe false
    * positive this rule deliberately avoids).
    *
    * The list rides the plan as a literal array and the match is one
    * `aggregate` fold over the token array — a zero-shuffle narrow map.
    * That is the right shape for the real lists too (C4's is ~400
    * entries): at 100 TB the cost is one in-set probe per token,
    * embarrassingly parallel; only a list too large for a task binary
    * (millions of entries — by then it is a dictionary, not a
    * blocklist) would justify the broadcast-join spelling instead.
    * Emits `(doc_id, n_hits, blocked)` — the count supports
    * threshold-k policies, the flag is the C4 any-hit rule. */
  def blocklistFilter(docs: DataFrame, blocklist: Seq[String],
                      textCol: String = "text"): DataFrame = {
    require(blocklist.nonEmpty, "empty blocklist")
    val listed = blocklist.map(_.toLowerCase).distinct
    val toks = tokens(lower(col(textCol)))
    val hits = aggregate(toks, lit(0L),
      (acc, t) => acc + when(t.isin(listed: _*), 1L).otherwise(0L))
    docs.select(col("doc_id"), hits.as("n_hits"))
      .withColumn("blocked", (col("n_hits") > 0).cast("long"))
  }

  /** Readability metrics (Flesch reading ease / Flesch–Kincaid grade)
    * — the classic document-difficulty axis corpus curators bucket on
    * (alongside [[qualityScore]]'s surface gates). All three inputs are
    * counted with SHARED, engine-replicable definitions so the oracle
    * can recompute them exactly: words are letter runs, syllables are
    * vowel-group runs per word clamped to ≥1 (the standard cheap
    * approximation), sentences are terminator runs clamped to ≥1.
    * Emits `struct(n_words, n_syllables, n_sentences, flesch_e4,
    * fk_grade_e4)` — the scores as INTEGER 1e-4 units via
    * `floor(x*10000 + 0.5)`: decimal `round()` half-way semantics
    * differ across engines (Spark half-up vs DuckDB half-even; a real
    * corpus row landed exactly on the 1e-4 tie), while `floor` over
    * the same IEEE double is bit-deterministic everywhere. Two regex
    * scans + one fold — zero shuffle. */
  def readability(text: Column): Column = {
    val words = regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))
    val nWords = size(words).cast("long")
    val nSyll = aggregate(words, lit(0L), (acc, w) =>
      acc + greatest(lit(1),
        size(regexp_extract_all(w, lit("[aeiouy]+"), lit(0)))))
    val nSent = greatest(lit(1),
      size(regexp_extract_all(text, lit("[.!?]+"), lit(0)))).cast("long")
    // bind the three counts once; the two scores reuse them as lambda refs
    element_at(transform(
      array(struct(nWords.as("w"), nSyll.as("s"), nSent.as("t"))),
      c => {
        val w = c.getField("w").cast("double")
        val wps = w / c.getField("t").cast("double")
        val spw = c.getField("s").cast("double") / w
        struct(
          c.getField("w").as("n_words"),
          c.getField("s").as("n_syllables"),
          c.getField("t").as("n_sentences"),
          floor((lit(206.835) - lit(1.015) * wps - lit(84.6) * spw)
            * 10000 + 0.5).cast("long").as("flesch_e4"),
          floor((lit(0.39) * wps + lit(11.8) * spw - lit(15.59))
            * 10000 + 0.5).cast("long").as("fk_grade_e4"))
      }), 1)
  }

  /** Code-vs-prose signals — the filter The Stack/StarCoder-style
    * curation runs to route source code away from the prose pipeline
    * (or into a code corpus). Counts structural characters that prose
    * essentially never carries in volume (braces, semicolons,
    * assignment/comparison operators, line-comment markers) plus the
    * keyword hits of the C-family/Python surface. The flag is the
    * cheap conjunctive rule (braces AND semicolons both present in
    * bulk); the counts let callers train a real classifier downstream.
    * Exact character arithmetic both engines replicate. */
  def codeSignals(text: Column): Column = {
    def cnt(ch: String) =
      ((length(text) - length(call_function("replace", text, lit(ch),
        lit("")))) / ch.length).cast("long")
    val braces = cnt("{") + cnt("}")
    val semis = cnt(";")
    val cmp = cnt("==")
    val comments = cnt("//") + cnt("# ")
    val kw = size(regexp_extract_all(text,
      lit("\\b(?:function|return|if|else|var|let|const|def|import)\\b"),
      lit(0))).cast("long")
    element_at(transform(
      array(struct(braces.as("b"), semis.as("s"), cmp.as("c"),
        comments.as("m"), kw.as("k"))),
      x => struct(
        x.getField("b").as("n_braces"),
        x.getField("s").as("n_semicolons"),
        x.getField("c").as("n_compare"),
        x.getField("m").as("n_comments"),
        x.getField("k").as("n_keywords"),
        (x.getField("b") >= 4 && x.getField("s") >= 2)
          .cast("long").as("is_code"))), 1)
  }

  /** Publication-date extraction — the temporal-provenance field a
    * pretraining pipeline wants on every document (dedup keep-newest,
    * cutoff filtering, temporal splits). Recognizes the two dominant
    * spellings: ISO `YYYY-MM-DD` and long-form `Month D, YYYY`
    * (English month names). Emits `struct(found, y, m, d)` — integer
    * fields, no date-type mapping ambiguity across engines. First
    * match wins, ISO checked first (it is the unambiguous spelling). */
  def dateExtract(text: Column): Column = {
    val months = Seq("january", "february", "march", "april", "may",
      "june", "july", "august", "september", "october", "november",
      "december")
    val iso = regexp_extract(text,
      "\\b(19[0-9]{2}|20[0-9]{2})-(0[1-9]|1[0-2])-(0[1-9]|[12][0-9]|3[01])\\b",
      0)
    val longForm = regexp_extract(text,
      "\\b(?i)(" + months.mkString("|") +
        ")\\s+([1-9]|[12][0-9]|3[01]),\\s*(19[0-9]{2}|20[0-9]{2})\\b", 0)
    val monthNum = months.zipWithIndex.foldLeft(lit(0)) {
      case (acc, (name, i)) =>
        when(lower(regexp_extract(longForm,
          "(?i)^([a-z]+)", 1)) === name, lit(i + 1)).otherwise(acc)
    }
    element_at(transform(array(struct(iso.as("iso"), longForm.as("lf"),
      monthNum.as("mn"))), p => {
      val isoHit = length(p.getField("iso")) > 0
      val lfHit = length(p.getField("lf")) > 0
      struct(
        (isoHit || lfHit).cast("long").as("found"),
        when(isoHit, split(p.getField("iso"), "-").getItem(0).cast("long"))
          .when(lfHit, regexp_extract(p.getField("lf"),
            "([0-9]{4})$", 1).cast("long")).otherwise(lit(0L)).as("y"),
        when(isoHit, split(p.getField("iso"), "-").getItem(1).cast("long"))
          .when(lfHit, p.getField("mn").cast("long"))
          .otherwise(lit(0L)).as("m"),
        when(isoHit, split(p.getField("iso"), "-").getItem(2).cast("long"))
          .when(lfHit, regexp_extract(p.getField("lf"),
            "\\b([0-9]{1,2}),", 1).cast("long"))
          .otherwise(lit(0L)).as("d"))
    }), 1)
  }

  /** Citation/identifier extraction — DOIs and arXiv ids, the
    * provenance links an academic-corpus pipeline resolves and
    * dedups on. Returns `struct(dois array<string>, arxiv
    * array<string>)` in document order. DOI per Crossref's display
    * guidance (`10.<registrant>/<suffix>`, suffix up to a delimiter);
    * arXiv new-style `YYMM.NNNNN` ids. */
  def citations(text: Column): Column = struct(
    transform(
      regexp_extract_all(text,
        lit("\\b10\\.[0-9]{4,9}/[-._;()/:A-Za-z0-9]+"), lit(0)),
      // the greedy charset legally ends on sentence punctuation —
      // strip it, the Crossref display-form cleanup every resolver does
      d => regexp_replace(d, "[.,;:)]+$", "")).as("dois"),
    regexp_extract_all(text,
      lit("\\barXiv:([0-9]{4}\\.[0-9]{4,5}(?:v[0-9]+)?)"), lit(1))
      .as("arxiv"))

  /** SPDX-style license detection — the compliance gate a code/text
    * corpus runs before training (The Stack's permissive-only filter;
    * CC-licensed web text routing). Matches the CHARACTERISTIC PHRASES
    * of the common licenses (the spellings the license texts
    * themselves fix), most-specific first; an explicit SPDX identifier
    * (`SPDX-License-Identifier: X`) wins over phrase heuristics, the
    * way real scanners (scancode, licensee) order their evidence.
    * Returns `struct(license, matched)` with `license = "none"` when
    * nothing fires. One when-chain of anchored rlikes — narrow map. */
  def licenseDetect(text: Column): Column = {
    val spdx = regexp_extract(text,
      "SPDX-License-Identifier:\\s*([A-Za-z0-9.+-]+)", 1)
    val lic = when(length(spdx) > 0, spdx)
      .when(text.rlike("(?i)Apache License,?\\s+Version 2\\.0"),
        lit("Apache-2.0"))
      .when(text.rlike(
        "(?i)GNU Affero General Public License.{0,80}version 3"),
        lit("AGPL-3.0"))
      .when(text.rlike(
        "(?i)GNU Lesser General Public License.{0,80}version 3"),
        lit("LGPL-3.0"))
      .when(text.rlike(
        // the license text's own phrasing interposes "as published by
        // the Free Software Foundation" (45 chars) before the version
        "(?i)GNU General Public License.{0,80}version 3"),
        lit("GPL-3.0"))
      .when(text.rlike(
        "(?i)Permission is hereby granted, free of charge"), lit("MIT"))
      .when(text.rlike(
        "(?i)Redistribution and use in source and binary forms"),
        lit("BSD-3-Clause"))
      .when(text.rlike(
        "(?i)Creative Commons Attribution 4\\.0"), lit("CC-BY-4.0"))
      .otherwise(lit("none"))
    element_at(transform(array(lic), l => struct(
      l.as("license"),
      (l =!= "none").cast("long").as("matched"))), 1)
  }

  /** A segment whose trailing `.` does NOT end a sentence: a known
    * abbreviation (`Dr.`, `Prof.`, `etc.`) or a standalone single
    * letter (initials, `p.` inside `p.m.`). Anchored at the segment
    * end; `\b` keeps `sharp.` from matching its final letter. */
  val SentenceNonFinal: String =
    "(?i)\\b(?:dr|mr|mrs|ms|prof|st|vs|etc|fig|approx|inc|jr|sr|[a-z])\\.$"

  /** Abbreviation-aware sentence segmentation — the unit under
    * token-budget chunking, quote extraction, and per-sentence dedup
    * (NLTK Punkt's job, done as heuristic rules). Candidate splits at
    * `.!?` runs come from one `regexp_extract_all`; a single `aggregate`
    * fold then re-merges the false splits: a segment ending in an
    * abbreviation/initial ([[SentenceNonFinal]]), or a digit split
    * (`2.` + `5 shipped`, decimals/versions/section numbers). Trailing
    * text without a terminator is kept as a final sentence fragment —
    * dropping it would silently lose the tail of truncated crawl text.
    *
    * Pure Column work: a regex scan + one fold per document, zero
    * shuffle, cost linear in text length — the 100 TB shape. */
  def sentences(text: Column): Column = {
    val pieces =
      regexp_extract_all(text, lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0))
    val merged = aggregate(
      pieces,
      array().cast("array<string>"),
      (acc, p) => {
        val last = element_at(acc, -1)
        val falseSplit = last.rlike(SentenceNonFinal) ||
          (last.rlike("[0-9]\\.$") && p.rlike("^\\s*[0-9]"))
        when(size(acc) > 0 && falseSplit,
          concat(slice(acc, lit(1), size(acc) - 1),
            array(concat(last, p))))
          .otherwise(concat(acc, array(p)))
      })
    filter(transform(merged, s => btrim(s)), s => length(s) > 0)
  }
}
