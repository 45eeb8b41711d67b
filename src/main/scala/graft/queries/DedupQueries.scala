package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Shared._

/** Near-duplicate detection: exact, Jaccard, MinHash, SimHash and
  * substring dedup, duplicate clusters and their consumers. */
object DedupQueries {

  private def jaccardOracle(theta: Double): String = shingleSql +
    """, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
      |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT i, j, ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jac_r
      |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
      |""".stripMargin +
    s"WHERE c * 1.0 / (sa.n + sb.n - c) >= $theta ORDER BY i, j"

  /** The recursive-closure clustering CTE chain ending in
    * `cl(id, cluster)`, shared by the oracles of every query that
    * consumes duplicate clusters so they can't drift; brings `toks`
    * into scope too (via the shingle chain). Every plain CTE is
    * MATERIALIZED (SURVEY §8 / round-10 rule): DuckDB inlines plain CTEs
    * per reference, so a consumer that references `cl` twice (as
    * `q_label_backfill` does) would otherwise compute the ENTIRE closure
    * — including the O(Σdf²) trigram self-join — once per reference; at
    * the 100k-doc native fixture that spilled past 78 GB of temp, while
    * the materialized spelling runs in ~24 s. */
  private def clusterCteSql(theta: Double): String =
    "WITH RECURSIVE " + Seq("toks", "tpos", "sh").foldLeft(
      shingleSql.stripPrefix("WITH ")) { (sql, cte) =>
        // assert each substitution actually fired: if the shared CTE
        // spelling ever drifts, a silent no-op here would resurrect the
        // >78 GB q_label_backfill spill with no failing check
        val out = sql.replace(s"$cte AS (", s"$cte AS MATERIALIZED (")
        require(out != sql, s"shingleSql no longer spells '$cte AS (' — " +
          "update clusterCteSql's MATERIALIZED rewrite")
        out
      } +
      """, sizes AS MATERIALIZED (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS MATERIALIZED (
        |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |pairs AS MATERIALIZED (
        |  SELECT i, j FROM inter
        |  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |""".stripMargin +
      s"  WHERE c * 1.0 / (sa.n + sb.n - c) >= $theta),\n" +
      """sym AS MATERIALIZED (SELECT i AS src, j AS dst FROM pairs
        |        UNION SELECT j AS src, i AS dst FROM pairs),
        |reach(src, dst) AS (
        |  SELECT src, dst FROM sym
        |  UNION
        |  SELECT r.src, s.dst FROM reach r JOIN sym s ON r.dst = s.src),
        |cl AS MATERIALIZED (
        |  SELECT d.doc_id AS id,
        |         LEAST(d.doc_id, COALESCE(MIN(r.dst), d.doc_id)) AS cluster
        |  FROM documents d LEFT JOIN reach r ON r.src = d.doc_id
        |  GROUP BY d.doc_id)""".stripMargin

  /** Connected components over the exact ≥θ Jaccard pair graph, by
    * recursive reachability closure — algorithmically independent of the
    * Spark side's min-label propagation (closure join vs message rounds),
    * so agreement checks the component semantics, not the implementation. */
  private def clusterOracle(theta: Double): String =
    clusterCteSql(theta) + "\nSELECT id, cluster FROM cl ORDER BY id"

  private val simhashSql = tokSql +
    """, th AS (
      |  SELECT doc_id, ('0x' || substr(md5(w), 1, 15))::BIGINT AS h
      |  FROM (SELECT doc_id, unnest(t) AS w FROM toks)),
      |bits AS (
      |  SELECT doc_id, b, SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
      |  FROM th CROSS JOIN generate_series(0, 59) t(b) GROUP BY 1, 2),
      |sigs AS (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END) AS BIGINT)
      |           AS simhash
      |  FROM bits GROUP BY doc_id)
      |""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    // label hygiene: unlabeled docs (doc_id % 7 = 0 simulates a lost tag)
    // inherit the majority label of their near-dup cluster's labeled
    // members; ties to the smallest label, no labeled peer -> 'und'
    QuerySpec("q_label_backfill", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.labelBackfill(docs, pairs.select("i", "j"),
        unlabeled = col("doc_id") % 7 === 0)
        .orderBy("doc_id")
    }, oracle =
      // majority vote over the LABELED members of each recursive-closure
      // cluster — the closure is algorithmically independent of the Spark
      // side's label propagation, same guarantee as q_dedup_clusters
      (clusterCteSql(0.7) +
      """,
        |lab AS MATERIALIZED (
        |  SELECT cl.cluster, d.lang, COUNT(*) AS votes
        |  FROM cl JOIN documents d ON d.doc_id = cl.id
        |  WHERE d.doc_id % 7 <> 0 GROUP BY 1, 2),
        |maj AS MATERIALIZED (
        |  SELECT cluster, lang AS maj_label FROM (
        |    SELECT cluster, lang,
        |           ROW_NUMBER() OVER (PARTITION BY cluster
        |             ORDER BY votes DESC, lang) AS rn
        |    FROM lab) WHERE rn = 1)
        |SELECT d.doc_id,
        |       CASE WHEN d.doc_id % 7 <> 0 THEN d.lang
        |            ELSE COALESCE(m.maj_label, 'und') END AS lang_out,
        |       CAST(CASE WHEN d.doc_id % 7 = 0 AND m.maj_label IS NOT NULL
        |                 THEN 1 ELSE 0 END AS BIGINT) AS backfilled
        |FROM documents d
        |JOIN cl ON cl.id = d.doc_id
        |LEFT JOIN maj m ON m.cluster = cl.cluster
        |ORDER BY d.doc_id""".stripMargin)),

    // cross-source duplication matrix: near-dup pairs per unordered
    // source pair — the which-crawls-overlap diagnostic before mixing
    QuerySpec("q_source_overlap", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.sourceOverlapMatrix(docs, pairs.select("i", "j"))
        .orderBy("src_a", "src_b")
    }, oracle =
      // exact >=theta pair set grouped by unordered source pair — the same
      // lossless-pair-set premise q_dedup_clusters already hash-checks
      (shingleSql +
      """, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |p AS (
        |  SELECT i, j FROM inter
        |  JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |  WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7)
        |SELECT LEAST(di.source, dj.source) AS src_a,
        |       GREATEST(di.source, dj.source) AS src_b,
        |       CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM p JOIN documents di ON di.doc_id = p.i
        |       JOIN documents dj ON dj.doc_id = p.j
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // exact dedup: canonical id per content hash
    QuerySpec("q_dedup_exact", (s, dir) => {
      pipeline.Dedup.exactCanonical(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle = (canonSql + " ORDER BY doc_id")),

    // fuzzy-exact dedup: canonical per NORMALIZED content (case/punct/
    // whitespace-insensitive); norm_prefix makes the oracle check the
    // normalizer's string output per doc, not just the grouping
    QuerySpec("q_dedup_normalized", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val norm = pipeline.TextOps.normalizeText(col("text"))
      pipeline.Dedup.exactCanonicalBy(docs, norm)
        .join(docs.select(col("doc_id"),
          substring(norm, 1, 40).as("norm_prefix")), "doc_id")
        .orderBy("doc_id")
    }, oracle =
      """WITH n AS (
        |  SELECT doc_id,
        |         trim(regexp_replace(regexp_replace(lower(text),
        |              '[^\p{L}\p{N}\s]', ' ', 'g'), '\s+', ' ', 'g')) AS norm
        |  FROM documents),
        |h AS (SELECT doc_id, norm,
        |             ('0x' || substr(md5(norm), 1, 15))::BIGINT AS hh
        |      FROM n),
        |c AS (SELECT hh, MIN(doc_id) AS canon_id FROM h GROUP BY hh)
        |SELECT h.doc_id, c.canon_id, substr(h.norm, 1, 40) AS norm_prefix
        |FROM h JOIN c USING (hh) ORDER BY doc_id""".stripMargin),

    // exact 3-gram Jaccard similarity join (sparse, no cartesian product)
    QuerySpec("q_dedup_jaccard", (s, dir) => {
      pipeline.Dedup.jaccardPairs(
        s.read.parquet(s"$dir/documents.parquet"), n = 3, theta = 0.5)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac_r"))
        .orderBy("i", "j")
    }, oracle = jaccardOracle(0.5)),

    // edit-distance similarity join (Ed-Join: positional q-gram prefix
    // index, no all-pairs) on a 64-char key prefix — the oracle IS the
    // all-pairs levenshtein, so the lossless-filter claim is hash-checked.
    // q=8 (not the text-book 4): the fixture's word-salad text has a ~1k
    // 4-gram vocabulary, so short grams are all hot and prune nothing;
    // 8-grams are ~12k-distinct and cut the candidate set 3x (measured)
    QuerySpec("q_fuzzy_join", (s, dir) => {
      val keyed = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("key"))
      pipeline.FuzzyJoin.editDistanceJoin(keyed, "doc_id", "key",
        maxDist = 4, q = 8)
        .orderBy("i", "j")
    }, oracle =
      // the oracle brute-forces what the Spark side finds via the lossless
      // q-gram prefix index — identical pair sets or the hash flips
      """WITH k AS (SELECT doc_id, substr(text, 1, 64) AS key FROM documents)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |       levenshtein(a.key, b.key) AS dist
        |FROM k a JOIN k b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.key) - length(b.key)) <= 4
        |  AND levenshtein(a.key, b.key) <= 4
        |ORDER BY i, j""".stripMargin),

    // MinHash+LSH near-dedup, exact-verified — must recover the exact ≥θ
    // pair set (the oracle recomputes it by brute sparse join)
    QuerySpec("q_dedup_minhash", (s, dir) => {
      pipeline.Dedup.minHashNearDups(
        s.read.parquet(s"$dir/documents.parquet"), n = 3, theta = 0.7)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac_r"))
        .orderBy("i", "j")
    }, oracle = jaccardOracle(0.7)),

    // incremental exact dedup — a "new crawl" batch anti-joined against the
    // existing corpus on content hash. The batch is fresh docs (doc_id %
    // 5 = 0) plus a simulated RE-CRAWL (docs with doc_id % 7 = 0 under new
    // ids): re-crawls whose text lives in the corpus must be dropped,
    // everything genuinely new must survive — the filter provably does
    // both at every SF. The corpus side reduces to one slim hash column
    // before the join.
    QuerySpec("q_dedup_incremental", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val recrawl = docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val newBatch = docs.where(col("doc_id") % 5 === 0).unionByName(recrawl)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      pipeline.Dedup.exactIncremental(newBatch, corpus)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }, oracle =
      // text equality instead of the hash: independent of the hash function,
      // and identical unless a 60-bit collision exists in the fixture
      """WITH newb AS (
        |  SELECT doc_id, n_chars, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, n_chars, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |corpus AS (SELECT text FROM documents WHERE doc_id % 5 <> 0)
        |SELECT n.doc_id, n.n_chars FROM newb n
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = n.text)
        |ORDER BY n.doc_id""".stripMargin),

    // incremental NEAR-dup dedup — the new batch's MinHash band keys probe
    // the corpus signature store (built in-call here; production persists
    // it), candidates exact-verified; only cross (corpus, batch) pairs,
    // corpus text touched only for candidate docs
    QuerySpec("q_dedup_incremental_minhash", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val newBatch = docs.where(col("doc_id") % 5 === 0)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      pipeline.Dedup.minHashIncremental(newBatch, corpus, None, n = 3,
        theta = 0.7)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac_r"))
        .orderBy("i", "j")
    }, oracle =
      // the full >= theta pair set restricted to cross (corpus, batch)
      // pairs — exactly one endpoint in the batch (doc_id % 5 = 0)
      (shingleSql +
      """, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jac_r
        |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
        |  AND ((i % 5 = 0) <> (j % 5 = 0))
        |ORDER BY i, j""".stripMargin)),

    // C4-style GLOBAL line-level dedup (every distinct line keeps only
    // its corpus-wide first occurrence — the cross-document rule that
    // kills sitewide chrome per-doc dedup can't see): the single-line
    // fixture is regrouped into 8-token lines, which repeat heavily
    // across docs; the oracle replays the grouping, the packed-key
    // first-occurrence rule, and the in-order rebuild of every
    // surviving document
    QuerySpec("q_line_dedup", (s, dir) =>
      pipeline.Dedup.dedupLines(multiLineDocs(s, dir)).orderBy("doc_id"), oracle =
      // line regrouping + the packed-key (doc_id·2^20 + idx) global
      // first-occurrence rule + ordered per-doc rebuild, replayed exactly
      (tokSql +
      """, ln AS MATERIALIZED (
        |  SELECT doc_id, j AS idx,
        |         array_to_string(t[(j * 8 + 1):(j * 8 + 8)], ' ') AS line
        |  FROM (SELECT doc_id, t,
        |          unnest(range(0, CAST(ceil(len(t) / 8.0) AS INT))) AS j
        |        FROM toks)),
        |lh AS MATERIALIZED (
        |  SELECT doc_id, idx, line,
        |         ('0x' || substr(md5(line), 1, 15))::BIGINT AS h,
        |         doc_id * 1048576 + idx AS pk
        |  FROM ln),
        |fo AS MATERIALIZED (SELECT h, MIN(pk) AS fk FROM lh GROUP BY h),
        |kp AS MATERIALIZED (
        |  SELECT lh.doc_id, lh.idx, lh.line
        |  FROM lh JOIN fo ON lh.h = fo.h AND lh.pk = fo.fk),
        |ag AS (SELECT doc_id, COUNT(*) AS n_kept,
        |              string_agg(line, chr(10) ORDER BY idx) AS cleaned
        |       FROM kp GROUP BY doc_id),
        |tot AS (SELECT doc_id, COUNT(*) AS n_lines FROM ln GROUP BY doc_id)
        |SELECT d.doc_id, COALESCE(ag.cleaned, '') AS cleaned,
        |       CAST(COALESCE(ag.n_kept, 0) AS BIGINT) AS n_kept,
        |       CAST(COALESCE(tot.n_lines, 0) - COALESCE(ag.n_kept, 0) AS BIGINT) AS n_dropped
        |FROM documents d
        |LEFT JOIN ag USING (doc_id) LEFT JOIN tot USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin)),

    // per-source quota (a standard curation cap: no single source may
    // contribute more than k docs — largest-first, deterministic tiebreak).
    // The row_number + filter shape executes through Spark's
    // WindowGroupLimit, so the cap never ranks whole sources
    // (PlanShapeSpec pins the group limit here)
    QuerySpec("q_source_cap", (s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
        .orderBy("source", "rn")
    }, oracle =
      """SELECT source, doc_id, n_chars, rn FROM (
        |  SELECT source, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY source, rn""".stripMargin),

    // duplicate CLUSTERS (connected components over the exact ≥0.7 pair
    // set) — the transitive-closure step a canonical-doc picker needs;
    // oracle recomputes components via a recursive reachability CTE, an
    // entirely independent algorithm (closure join vs label propagation)
    QuerySpec("q_dedup_clusters", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.duplicateClusters(
        docs.select("doc_id"), pairs.select("i", "j"))
        .orderBy("id")
    }, oracle = clusterOracle(0.7)),

    // what production dedup actually keeps: the BEST-quality member of
    // each near-dup cluster (not the min-id) — clusters via MinHash + CC,
    // representative via quality rank through WindowGroupLimit (k=1)
    QuerySpec("q_dedup_keep_best", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      val clusters = pipeline.Dedup.duplicateClusters(
        docs.select("doc_id"), pairs.select("i", "j"))
      val quality = pipeline.TextOps.qualityScore(docs)
        .select("doc_id", "quality_r")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("cluster").orderBy(col("quality_r").desc, col("id"))
      clusters.join(quality, col("id") === col("doc_id"))
        .select(col("cluster"), col("id"), col("quality_r"))
        .withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("cluster"), col("id").as("keep_id"), col("quality_r"))
        .orderBy("cluster")
    }, oracle = (clusterCteSql(0.7) +
      s""",
         |q AS (
         |  SELECT doc_id,
         |    ROUND($qualityExprSql,
         |          6) AS quality_r
         |  FROM (
         |    $qualityInnerSql)),
         |rk AS (
         |  SELECT cl.cluster, cl.id, q.quality_r,
         |         ROW_NUMBER() OVER (PARTITION BY cl.cluster
         |           ORDER BY q.quality_r DESC, cl.id) AS rn
         |  FROM cl JOIN q ON q.doc_id = cl.id)
         |SELECT cluster, id AS keep_id, quality_r
         |FROM rk WHERE rn = 1 ORDER BY cluster""".stripMargin)),

    // leakage-safe split: splits assigned per near-dup CLUSTER (via
    // MinHash pairs + CC), so near-copies can never straddle train/eval —
    // the oracle re-derives the clusters through the recursive
    // reachability CTE and re-hashes the cluster label through the same
    // threshold rule as q_split_assign
    QuerySpec("q_split_leakage_safe", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.leakageSafeSplit(
        docs.select("doc_id"), pairs.select("i", "j"), splitFractions)
        .orderBy("id")
    }, oracle = {
      val thr = ops.Sampling.cumThresholds(splitFractions.map(_._2))
      clusterCteSql(0.7) +
        s"""
           |SELECT id, cluster,
           |       CASE WHEN h < ${thr(0)} THEN 'train'
           |            WHEN h < ${thr(1)} THEN 'val'
           |            ELSE 'test' END AS split
           |FROM (SELECT id, cluster,
           |             ('0x' || substr(md5(COALESCE(CAST(cluster AS VARCHAR),
           |                                          'null') || '#split'),
           |                             1, 15))::BIGINT AS h
           |      FROM cl)
           |ORDER BY id""".stripMargin
    }),

    // SimHash signatures, bit-for-bit vs the SQL recomputation
    QuerySpec("q_dedup_simhash", (s, dir) => {
      pipeline.Dedup.simHashes(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }, oracle =
      (simhashSql + "SELECT doc_id, simhash FROM sigs ORDER BY doc_id")),

    // SimHash near-dup pairs via banded blocking == all-pairs Hamming ≤ 3
    QuerySpec("q_simhash_pairs", (s, dir) => {
      pipeline.Dedup.simHashNearDups(
        s.read.parquet(s"$dir/documents.parquet"), maxHamming = 3)
        .orderBy("i", "j")
    }, oracle = (simhashSql +
      """SELECT a.doc_id AS i, b.doc_id AS j,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY i, j""".stripMargin)),

    // span-level exact-substring dedup: pairs sharing a verbatim ≥40-char
    // run, via winnowing anchors (index ~2/(k+1) of offsets) + exact
    // L-gram verify on candidate docs only — the oracle brute-forces every
    // offset, so the anchor guarantee (no missed span) is hash-checked
    // gramWidth=32 (k=9): on repetitive web-ish text short grams are hot
    // (a 16-char gram recurs across hundreds of docs and the window-min
    // picks globally-small hashes), which made ~every doc a candidate;
    // 32-char anchors cut the candidate pair set from 250k to 322 vs 259
    // true pairs at sf0.1 (measured) at the price of a 2/(k+1)≈20% index
    QuerySpec("q_substring_dedup", (s, dir) => {
      pipeline.Dedup.sharedSpanPairs(
        s.read.parquet(s"$dir/documents.parquet"), minLen = 40, gramWidth = 32)
        .orderBy("i", "j")
    }, oracle =
      // every offset brute-forced — any span the winnowing anchors missed
      // would flip this hash
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE length(text) >= 40),
        |g AS (SELECT DISTINCT doc_id, substr(text, pos + 1, 40) AS gram
        |      FROM (SELECT doc_id, text,
        |                   unnest(range(0, length(text) - 40 + 1)) AS pos
        |            FROM d))
        |SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // span-level duplicate REMOVAL (Lee et al. 2022 removal step): chars
    // covered by a >= 40-gram also present in a lower-id doc are cut, the
    // lowest doc keeps its text; candidates from winnowing anchors, cut
    // via one codegen'd interval-merge. The oracle brute-forces EVERY
    // offset and reconstructs the survivors char-by-char, so the full
    // surviving text hash-matches, not just counts.
    QuerySpec("q_substring_remove", (s, dir) => {
      pipeline.Dedup.removeSharedSpans(
        s.read.parquet(s"$dir/documents.parquet"), minLen = 40, gramWidth = 32)
        .orderBy("doc_id")
    }, oracle =
      // the removal semantics recomputed from scratch at char granularity:
      // every offset's gram, per-gram min-doc ownership, covered position
      // union, surviving chars re-concatenated in order
      """WITH d AS (SELECT doc_id, text FROM documents),
        |g AS (SELECT doc_id, pos, substr(text, pos + 1, 40) AS gram
        |      FROM (SELECT doc_id, text,
        |                   unnest(range(0, length(text) - 40 + 1)) AS pos
        |            FROM d WHERE length(text) >= 40)),
        |own AS (SELECT gram, MIN(doc_id) AS mn FROM g GROUP BY gram),
        |dup AS (SELECT g.doc_id, g.pos FROM g JOIN own USING (gram)
        |        WHERE g.doc_id > own.mn),
        |cov AS (SELECT DISTINCT doc_id, pos + o AS cpos
        |        FROM (SELECT doc_id, pos, unnest(range(0, 40)) AS o FROM dup)),
        |ch AS (SELECT doc_id, cpos, substr(text, cpos + 1, 1) AS c
        |       FROM (SELECT doc_id, text,
        |                    unnest(range(0, length(text))) AS cpos
        |             FROM d WHERE length(text) >= 1)),
        |kept AS (SELECT ch.doc_id,
        |                string_agg(ch.c, '' ORDER BY ch.cpos) AS clean_text
        |         FROM ch LEFT JOIN cov
        |           ON ch.doc_id = cov.doc_id AND ch.cpos = cov.cpos
        |         WHERE cov.doc_id IS NULL
        |         GROUP BY ch.doc_id)
        |SELECT d.doc_id, COALESCE(k.clean_text, '') AS clean_text,
        |       CAST(length(d.text) - length(COALESCE(k.clean_text, ''))
        |            AS BIGINT) AS n_removed
        |FROM d LEFT JOIN kept k ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin),

    // corpus-frequency boilerplate removal (the C4/Dolma cleaning rule at
    // 3-gram granularity): a 3-token run seen in >= 5 DISTINCT docs is
    // chrome, and every covered token is cut from EVERY carrier —
    // frequency-based and symmetric, unlike the pairwise shared-span
    // surgery above. Oracle rebuilds the surviving text token-by-token,
    // so the full cleaned string hash-matches.
    QuerySpec("q_boilerplate_remove", (s, dir) => {
      pipeline.TextOps.removeBoilerplateGrams(
        s.read.parquet(s"$dir/documents.parquet"), k = 3, minDf = 5L)
        .orderBy("doc_id")
    }, oracle =
      // frequency-based boilerplate surgery: positional 3-grams, distinct-doc
      // frequency >= 5 flags a gram, covered token positions anti-joined out,
      // survivors re-concatenated in token order
      (tokSql +
      """, grams AS (
        |  SELECT doc_id, s, array_to_string(list_slice(t, s + 1, s + 3), ' ') AS gram
        |  FROM toks, UNNEST(range(0, GREATEST(len(t) - 2, 0))) AS u(s)),
        |freq AS (
        |  SELECT gram FROM grams GROUP BY gram
        |  HAVING count(DISTINCT doc_id) >= 5),
        |flag AS (SELECT g.doc_id, g.s FROM grams g JOIN freq USING (gram)),
        |cover AS (SELECT DISTINCT doc_id, s + d AS i
        |          FROM flag, UNNEST(range(0, 3)) AS u(d)),
        |tok_pos AS (SELECT doc_id, i, t[i + 1] AS tok
        |            FROM toks, UNNEST(range(0, len(t))) AS u(i)),
        |kept AS (SELECT tp.doc_id, tp.i, tp.tok
        |         FROM tok_pos tp ANTI JOIN cover USING (doc_id, i)),
        |agg AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY i) AS ct,
        |               count(*) AS n_kept
        |        FROM kept GROUP BY doc_id)
        |SELECT tk.doc_id, COALESCE(a.ct, '') AS clean_text,
        |       CAST(len(tk.t) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed
        |FROM toks tk LEFT JOIN agg a USING (doc_id)
        |ORDER BY tk.doc_id""".stripMargin)),

    // content-defined chunking (rsync/LBFS shape): cuts where a rolling
    // 16-char window hash lands on a 5-bit zero — alignment-invariant
    // chunk boundaries, one map-side generator expression, nothing
    // sequential per document; chunk_hash is the storage-dedup unit
    QuerySpec("q_cdc_chunks", (s, dir) => {
      pipeline.Dedup.contentDefinedChunks(
        s.read.parquet(s"$dir/documents.parquet"), window = 16, maskBits = 5)
        .orderBy("doc_id", "chunk_idx")
    }, oracle =
      // the same window-hash cut rule replayed per position, segments via
      // LEAD over the per-doc boundary set
      """WITH pos AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(1, length(text) - 16)) AS p
        |  FROM documents),
        |cuts AS (
        |  SELECT doc_id, p + 15 AS b
        |  FROM pos
        |  WHERE (('0x' || substr(md5(substr(text, p, 16)), 1, 15))::BIGINT & 31) = 0),
        |bnd AS (
        |  SELECT doc_id, 0 AS b FROM documents
        |  UNION ALL SELECT doc_id, b FROM cuts
        |  UNION ALL SELECT doc_id, length(text) FROM documents),
        |seg AS (
        |  SELECT doc_id, b AS s,
        |         LEAD(b) OVER (PARTITION BY doc_id ORDER BY b) AS e,
        |         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY b) - 1 AS idx
        |  FROM bnd)
        |SELECT seg.doc_id, CAST(seg.idx AS BIGINT) AS chunk_idx,
        |       CAST(seg.s + 1 AS BIGINT) AS start,
        |       CAST(seg.e - seg.s AS BIGINT) AS chunk_len,
        |       ('0x' || substr(md5(substr(d.text, seg.s + 1, seg.e - seg.s)), 1, 15))::BIGINT AS chunk_hash
        |FROM seg JOIN documents d USING (doc_id)
        |WHERE seg.e IS NOT NULL AND seg.e > seg.s
        |ORDER BY doc_id, chunk_idx""".stripMargin),

    // duplicate-family size distribution: how big are the near-dup
    // clusters — the datacard stat that distinguishes "pairwise noise"
    // from "one boilerplate family swallowing the corpus"; composes the
    // CC operator with two bounded aggregations
    QuerySpec("q_dup_cluster_sizes", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.duplicateClusters(
        docs.select("doc_id"), pairs.select("i", "j"))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }, oracle =
      // same recursive-CTE truth, reduced to the family-size histogram
      (clusterCteSql(0.7) +
      """, cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
        |         FROM cl GROUP BY cluster)
        |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY sz ORDER BY sz""".stripMargin)),

    // n-gram novelty vs corpus: per batch doc, the fraction of its
    // distinct shingles unseen anywhere in the corpus — data valuation;
    // a hash-partitioned left-semi join, never an all-pairs form
    QuerySpec("q_novelty", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.Dedup.noveltyVsCorpus(
        docs.where(col("doc_id") % 11 === 0),
        docs.where(col("doc_id") % 11 =!= 0))
        .orderBy("doc_id")
    }, oracle = (shingleSql +
      """, b AS (SELECT doc_id, h FROM sh WHERE doc_id % 11 = 0),
        |c AS (SELECT DISTINCT h FROM sh WHERE doc_id % 11 <> 0),
        |t AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
        |         CAST(SUM(CASE WHEN h IN (SELECT h FROM c)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |  FROM b GROUP BY doc_id)
        |SELECT doc_id, n_sh, n_seen,
        |       ROUND(CAST(n_sh - n_seen AS DOUBLE) / n_sh, 6) AS novelty_r
        |FROM t ORDER BY doc_id""".stripMargin))
  )
}
