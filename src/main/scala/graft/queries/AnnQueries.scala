package graft
package queries

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tsne._
import Shared._

/** Embedding search: exact and approximate top-k (LSH, IVF, PQ, SQ,
  * random projection, PCA), k-means, PCA and semantic dedup. */
object AnnQueries {

  /** The recall-floor verdict of an approximate top-`k`: one row of
    * `n_queries` and `recall_ok` = 1 when `approx` holds at least
    * `minRecall` of the `k` exact neighbours per query, summed over `queries`. */
  private def recallOk(approx: DataFrame, exact: DataFrame,
                       queries: Dataset[Point], k: Int, minRecall: Double): DataFrame = {
    val hits = approx.join(exact, Seq("i", "j"), "left_semi")
      .agg(count(lit(1)).as("hits"))
    queries.toDF().agg(count(lit(1)).as("n_queries"))
      .crossJoin(hits)
      .select(col("n_queries"),
        (col("hits") >= col("n_queries") * k * minRecall).cast("long").as("recall_ok"))
  }

  /** Hyperplane-LSH shape for `q_ann_lsh` (calibrated at sf0.01 for ≥ 0.8
    * recall: the fixture embeddings are near-isotropic, so recall comes
    * from table count, selectivity from bits). */
  private val annLshTables = 64
  private val annLshBits = 6

  /** DuckDB replay of [[graft.pipeline.Clustering.kmeansExact]]: the same
    * 1e-6-grid quantization, packed-long argmin (`dist·2^10 + cl`,
    * `MIN` both ranks and tie-breaks), truncated-integer centroid means
    * (`//` truncates toward zero exactly like Spark's `div`), and
    * empty-cluster carry — every iteration unrolled as CTEs, every
    * intermediate integer-exact, so the full assignment hash-matches. */
  private def kmeansOracleSql(k: Int, iters: Int): String = {
    val mult = 1L << 10
    val sb = new StringBuilder
    sb ++= s"""WITH pts AS (
      |  SELECT vec_id AS id,
      |         list_transform(embedding,
      |           v -> CAST(FLOOR(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS qv
      |  FROM embeddings),
      |px AS (SELECT id, unnest(qv) AS v, generate_subscripts(qv, 1) AS dim FROM pts),
      |c0 AS (SELECT ROW_NUMBER() OVER (ORDER BY id) - 1 AS cl, qv AS cv
      |       FROM pts ORDER BY id LIMIT $k)""".stripMargin
    for (i <- 1 to iters) {
      val prev = s"c${i - 1}"
      sb ++= s""",
        |a$i AS (
        |  SELECT p.id,
        |         MIN(CAST(list_sum(list_transform(range(1, len(p.qv) + 1),
        |               j -> (p.qv[j] - c.cv[j]) * (p.qv[j] - c.cv[j]))) AS BIGINT)
        |             * $mult + c.cl) AS code
        |  FROM pts p, $prev c GROUP BY p.id)""".stripMargin
      if (i < iters) sb ++= s""",
        |s$i AS (
        |  SELECT a.code % $mult AS cl, px.dim, SUM(px.v) AS sv, COUNT(*) AS n
        |  FROM a$i a JOIN px ON a.id = px.id GROUP BY 1, 2),
        |m$i AS (
        |  SELECT cl, list(CAST(sv AS BIGINT) // n ORDER BY dim) AS cv
        |  FROM s$i GROUP BY cl),
        |c$i AS (
        |  SELECT p.cl, COALESCE(m.cv, p.cv) AS cv
        |  FROM $prev p LEFT JOIN m$i m USING (cl))""".stripMargin
    }
    sb ++= s"""
      |SELECT a.id AS vec_id, CAST(a.code % $mult AS BIGINT) AS cluster
      |FROM a$iters a ORDER BY vec_id""".stripMargin
    sb.toString
  }

  val specs: Seq[QuerySpec] = Seq(
    // cross-engine-exact distributed k-means (Lloyd in integer fixed
    // point): the SemDeDup/IVF clustering primitive as a verifiable
    // assignment, not just a recall floor — 3 assignment rounds, 2
    // truncated-integer-mean updates, argmin via one packed-long min
    QuerySpec("q_kmeans", (s, dir) => {
      pipeline.Clustering.kmeansExact(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 8, iters = 3)
        .orderBy("vec_id")
    }, oracle = kmeansOracleSql(8, 3)),

    // embedding near-dup: exact cosine ≥ θ pair set (left side spread over
    // the shuffle parallelism — the cross join inherits its partitioning,
    // and a 1-partition scan would serialize the N²/2 similarity work)
    QuerySpec("q_embed_neardup", (s, dir) => {
      val e = IO.embeddingsDf(s, dir)
      val parallelism = s.sessionState.conf.numShufflePartitions
      val a = e.repartition(parallelism).select(col("id").as("i"), col("vec").as("va"))
      val b = e.select(col("id").as("j"), col("vec").as("vb"))
      a.crossJoin(b).where(col("i") < col("j"))
        .select(col("i"), col("j"),
          graft.tsne.Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
        .where(col("sim") >= 0.45)
        .select(col("i"), col("j"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "j")
    }, oracle =
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS i, b.vec_id AS j,
        |       ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / (a.nrm * b.nrm), 6) AS sim_r
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / (a.nrm * b.nrm) >= 0.45
        |ORDER BY i, j""".stripMargin),

    // similarity search: exact cosine top-k for a query set (broadcast)
    QuerySpec("q_ann_cosine", (s, dir) => {
      import s.implicits._
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 20)
      pipeline.Ann.bruteTopK(corpus, queries, 5)
        .select(col("i"), col("j"), col("rn"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "rn")
    }, oracle =
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |sims AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS sim
        |  FROM e a CROSS JOIN e b
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
        |rk AS (
        |  SELECT i, j, sim,
        |         ROW_NUMBER() OVER (PARTITION BY i ORDER BY sim DESC, j) AS rn
        |  FROM sims)
        |SELECT i, j, rn, ROUND(sim, 6) AS sim_r
        |FROM rk WHERE rn <= 5 ORDER BY i, rn""".stripMargin),

    // hard-negative mining for contrastive training: per query the top-5
    // most-similar rows BELOW the near-dup bar (0.45 — q_embed_neardup's
    // threshold), so positives/near-dups never become negatives. Exact
    // full oracle: the same cosine ranking with the band filter.
    QuerySpec("q_hard_negatives", (s, dir) => {
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 20)
      pipeline.Ann.hardNegatives(corpus, queries, 5, thetaDup = 0.45)
        .select(col("i"), col("j"), col("rn"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "rn")
    }, oracle =
      // the same cosine ranking with the near-dup band filter BEFORE the
      // row_number — any near-dup leaking into the negatives flips the hash
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |sims AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |              p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (a.nrm * b.nrm) AS sim
        |  FROM e a CROSS JOIN e b
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
        |rk AS (
        |  SELECT i, j, sim,
        |         ROW_NUMBER() OVER (PARTITION BY i ORDER BY sim DESC, j) AS rn
        |  FROM sims WHERE sim < 0.45)
        |SELECT i, j, rn, ROUND(sim, 6) AS sim_r
        |FROM rk WHERE rn <= 5 ORDER BY i, rn""".stripMargin),

    // similarity search, scale path: hyperplane LSH — recall floor vs the
    // exact top-k, deterministic in (seed, data) like q_knn_project
    QuerySpec("q_ann_lsh", (s, dir) => {
      import s.implicits._
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val approx = pipeline.Ann.lshTopK(corpus, queries, k,
        tables = annLshTables, bits = annLshBits, dim = embeddingDim, seed = 42L)
      recallOk(approx, exact, queries, k, minRecall = 0.8)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // similarity search, quantizer path: spherical-k-means IVF — recall
    // floor vs exact top-k (the fixture embeddings are near-isotropic, so
    // the cell/neighborhood alignment — and hence the floor — is modest;
    // measured 0.886 at nlist=16, nprobe=10)
    QuerySpec("q_ann_ivf", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.ivfBuild(corpus, nlist = 16, iters = 5, seed = 42L)
      val approx = pipeline.Ann.ivfTopK(idx, queries, k, nprobe = 10)
      recallOk(approx, exact, queries, k, minRecall = 0.75)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // similarity search, memory-bound path: product quantization — unit
    // vectors quantized to 32 per-subspace codes (512 B → ~24 B packed),
    // queries scored by ADC table lookups over the codes scan only.
    // Measured recall@10 vs exact: 0.85 sf0.001 / 0.83 sf0.01 (m=32,
    // ksub=64, near-isotropic fixture — the hard case); floor 0.7.
    QuerySpec("q_ann_pq", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.pqBuild(corpus, m = 32, ksub = 64, iters = 5, seed = 42L)
      val approx = pipeline.Ann.pqTopK(idx, queries, k)
      recallOk(approx, exact, queries, k, minRecall = 0.7)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // similarity search, composed scale path: IVF-PQ — cells bound WHICH
    // rows a query scans (nprobe/nlist of the corpus), codes bound the
    // BYTES per row (m per vector); residual variant (codes quantize
    // u − centroid[cell], FAISS IndexIVFPQ default). Measured ADC-only
    // recall@10 vs exact: 0.760 sf0.001 / 0.769 sf0.01 / 0.692 sf0.1
    // (nlist=16, nprobe=10, m=32, ksub=64) — on THIS fixture residual ≈
    // parity with the non-residual codes it replaced (0.799/0.776/—):
    // 16 coarse cells over near-isotropic 64-dim data explain little
    // energy, so residuals aren't materially tighter; the documented win
    // is the refine path below. Floor 0.6. The code budget SCALES WITH
    // CORPUS SIZE (round 10): at a fixed m the top-10 pack into near-ties
    // as N grows and ADC error crosses more rank boundaries — measured
    // 0.562 at the 100k-row native fixture with m=32, restored to 0.819
    // by m=64 (sweep in RecallProbe; more cells did NOT help — isotropic
    // data gives coarse centroids little energy to explain, so bytes per
    // code are the lever, exactly FAISS's m-vs-N guidance). One count()
    // job dispatches the size, mirroring the Optimizer's size dispatch.
    QuerySpec("q_ann_ivfpq", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val m = if (corpus.count() <= 10000) 32 else 64
      val idx = pipeline.Ann.ivfPqBuild(corpus, nlist = 16, m = m,
        ksub = 64, iters = 5, seed = 42L)
      val approx = pipeline.Ann.ivfPqTopK(idx, queries, k, nprobe = 10)
      recallOk(approx, exact, queries, k, minRecall = 0.6)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // IVF-PQ + exact refinement (FAISS IndexRefineFlat shape): ADC builds
    // a 4k shortlist from codes alone, then ONLY shortlist rows' original
    // vectors are fetched (two slim id equi-joins) and rescored with
    // exact cosine — the recall lever a bigger code budget can't buy.
    // Measured recall@10 vs exact: 0.892 sf0.001 / 0.886 sf0.01 /
    // 0.877 sf0.1 (saturated at the probe ceiling by refine=4; ADC-only
    // is 0.69-0.77 on the same index). Floor 0.75.
    QuerySpec("q_ann_ivfpq_refine", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.ivfPqBuild(corpus, nlist = 16, m = 32,
        ksub = 64, iters = 5, seed = 42L)
      val approx = pipeline.Ann.ivfPqRefineTopK(idx, corpus, queries, k,
        nprobe = 10, refine = 4)
      recallOk(approx, exact, queries, k, minRecall = 0.75)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // similarity search, scalar-quantization path: SQ8 (FAISS
    // IndexScalarQuantizer QT_8bit shape) — per-dim affine byte codes,
    // 512 B float vectors scanned as 64 B rows with the query folded into
    // base + per-dim weights. 8 bits/dim is near-lossless on unit vectors:
    // measured recall@10 vs exact 0.993 sf0.001 / 0.988 sf0.01; floor 0.9
    // (vs PQ's 0.7 — the ladder's fidelity/byte trade made measurable).
    QuerySpec("q_ann_sq", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.sqBuild(corpus)
      val approx = pipeline.Ann.sqTopK(idx, queries, k)
      recallOk(approx, exact, queries, k, minRecall = 0.9)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // embedding near-dup, scale path: hyperplane-LSH blocking + exact
    // verify must recover the exact ≥θ pair set (oracle = all-pairs SQL)
    QuerySpec("q_embed_neardup_lsh", (s, dir) => {
      val corpus = IO.readEmbeddings(s, dir)
      pipeline.Ann.lshNearDupPairs(corpus, theta = 0.45,
        tables = 64, bits = 4, dim = embeddingDim, seed = 42L)
        .select(col("i"), col("j"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "j")
    }, oracle =
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT a.vec_id AS i, b.vec_id AS j,
        |       ROUND(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / (a.nrm * b.nrm), 6) AS sim_r
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / (a.nrm * b.nrm) >= 0.45
        |ORDER BY i, j""".stripMargin),

    // SemDeDup: k-means-cell candidates + exact cosine verification. Gate
    // row like q_ann_lsh: precision is asserted EXACT (every emitted pair
    // re-passes the true cosine test — the anti-join count must be 0) and
    // recall >= 0.8 of the brute-force >=θ pair set, which the oracle
    // recomputes. Honest caveat, measured before picking the knobs: the
    // fixture embeddings are near-isotropic and their θ=0.45 "dups" sit
    // ~63° apart, the regime SemDeDup is NOT for — recall here costs
    // probes⁴/nlist-scale candidate volume (nlist=16/probes=4: recall
    // 7/7, 14/14, 141/144 across the three SFs at 0.72·N² candidates).
    // On cluster-structured data the same operator recovers the exact
    // clustering at sub-half-quadratic cost — PipelineSpec pins that
    // equality; SCALE.md has the routing rule vs lshNearDupPairs.
    QuerySpec("q_semantic_dedup", (s, dir) => {
      val corpus = IO.readEmbeddings(s, dir)
      val par = s.sessionState.conf.numShufflePartitions
      val exact = corpus.toDF().repartition(par)
        .select(col("id").as("i"), col("vec").as("va"))
        .crossJoin(corpus.toDF().select(col("id").as("j"), col("vec").as("vb")))
        .where(col("i") < col("j"))
        .where(graft.tsne.Distances.cosineSimCol(col("va"), col("vb")) >= 0.45)
        .select("i", "j") // the true pair set: the parity oracle, like q_embed_neardup
      val found = pipeline.Ann.semanticNearDupPairs(corpus, theta = 0.45,
        nlist = 16, probes = 4, iters = 5, seed = 42L).select("i", "j")
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val falsePos = found.join(exact, Seq("i", "j"), "left_anti")
        .agg(count(lit(1)).as("fp"))
      val hits = found.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      nExact.crossJoin(falsePos).crossJoin(hits)
        .select(col("n_exact"),
          (col("fp") === 0).cast("long").as("precision_ok"),
          (col("hits") >= col("n_exact") * 0.8).cast("long").as("recall_ok"))
    }, oracle =
      """WITH e AS (
        |  SELECT vec_id, embedding,
        |         sqrt(list_sum(list_transform(embedding,
        |              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
        |  FROM embeddings)
        |SELECT COUNT(*) AS n_exact,
        |       CAST(1 AS BIGINT) AS precision_ok,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |             p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |             / (a.nrm * b.nrm) >= 0.45""".stripMargin),

    // semantic dedup END-TO-END FROM TEXT: tfidf vectors → k-means-cell
    // candidates → exact cosine verify — no external embedding model
    // anywhere in the chain. Same gate structure as q_semantic_dedup; the
    // oracle recomputes n_exact from ITS OWN tf-idf via a sparse bucket
    // join (θ = 0.95 sits in a measured 0.003-wide cosine gap, so float
    // association order can't flip a pair across engines). doc_id < 600
    // bounds the N² parity side at every sf
    QuerySpec("q_semantic_dedup_text", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
        .where(col("doc_id") < 600)
      // localCheckpoint: the tf-idf build (tokenize + idf join) feeds BOTH
      // sides of the exact cross join AND the k-means/verify pipeline —
      // without it the lineage re-executes per consumer (r8's only bench
      // drift, +29% on this query)
      val corpus = pipeline.TextOps.tfidfVectors(docs, dim = 64).localCheckpoint()
      val par = s.sessionState.conf.numShufflePartitions
      val exact = corpus.toDF().repartition(par)
        .select(col("id").as("i"), col("vec").as("va"))
        .crossJoin(corpus.toDF().select(col("id").as("j"), col("vec").as("vb")))
        .where(col("i") < col("j"))
        .where(graft.tsne.Distances.cosineSimCol(col("va"), col("vb")) >= 0.95)
        .select("i", "j")
      val found = pipeline.Ann.semanticNearDupPairs(corpus, theta = 0.95,
        nlist = 16, probes = 4, iters = 5, seed = 42L).select("i", "j")
      val nExact = exact.agg(count(lit(1)).as("n_exact"))
      val falsePos = found.join(exact, Seq("i", "j"), "left_anti")
        .agg(count(lit(1)).as("fp"))
      val hits = found.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      nExact.crossJoin(falsePos).crossJoin(hits)
        .select(col("n_exact"),
          (col("fp") === 0).cast("long").as("precision_ok"),
          (col("hits") >= col("n_exact") * 0.8).cast("long").as("recall_ok"))
    }, oracle =
      // n_exact recomputed from DuckDB's own tf-idf (unrounded weights,
      // sparse bucket join — never N²·dim): the same smoothed-idf arithmetic
      // as the Spark side, so the count must agree exactly at the measured
      // threshold gap
      (tokSql.replace("FROM documents)",
      "FROM documents WHERE doc_id < 600)") +
      """, tw AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |tk AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5(w), 1, 15))::BIGINT % 64 AS bucket
        |  FROM tw),
        |tf AS (SELECT doc_id, bucket, COUNT(*) AS tf FROM tk GROUP BY 1, 2),
        |df AS (SELECT bucket, COUNT(DISTINCT doc_id) AS df FROM tk GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n FROM documents WHERE doc_id < 600),
        |wt AS (
        |  SELECT tf.doc_id, tf.bucket,
        |         tf.tf * (ln((n.n + 1.0) / (df.df + 1.0)) + 1.0) AS w
        |  FROM tf JOIN df USING (bucket) CROSS JOIN n),
        |nrm AS (SELECT doc_id, sqrt(SUM(w * w)) AS nrm FROM wt GROUP BY 1),
        |dots AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, SUM(a.w * b.w) AS dot
        |  FROM wt a JOIN wt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT COUNT(*) AS n_exact,
        |       CAST(1 AS BIGINT) AS precision_ok,
        |       CAST(1 AS BIGINT) AS recall_ok
        |FROM dots JOIN nrm na ON na.doc_id = dots.i
        |          JOIN nrm nb ON nb.doc_id = dots.j
        |WHERE dots.dot / (na.nrm * nb.nrm) >= 0.95""".stripMargin)),

    // prototypicality (SemDeDup/D4 pruning signal): cosine to the cluster
    // centroid, top-5 most prototypical per label through Spark's
    // WindowGroupLimit — exact, so the oracle recomputes it in full
    QuerySpec("q_prototypes", (s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec"), col("label"))
      pipeline.Prototypes.topPrototypes(e, "label", "vec_id", "vec", k = 5)
        .select(col("label"), col("id").as("vec_id"),
          (round(col("proto_sim"), 6) + 0.0).as("proto_sim_r"),
          col("rn").cast("long").as("rn"))
        .orderBy("label", "rn")
    }, oracle =
      """WITH x AS (
        |  SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |c AS (SELECT label, pos, AVG(v) AS m FROM x GROUP BY 1, 2),
        |d AS (
        |  SELECT x.vec_id, x.label,
        |         SUM(x.v * c.m) AS dot, SUM(x.v * x.v) AS n2e,
        |         SUM(c.m * c.m) AS n2c
        |  FROM x JOIN c ON x.label = c.label AND x.pos = c.pos
        |  GROUP BY 1, 2),
        |r AS (
        |  SELECT label, vec_id, dot / (sqrt(n2e) * sqrt(n2c)) AS sim,
        |         ROW_NUMBER() OVER (PARTITION BY label
        |           ORDER BY dot / (sqrt(n2e) * sqrt(n2c)) DESC, vec_id) AS rn
        |  FROM d)
        |SELECT label, vec_id, ROUND(sim, 6) + 0.0 AS proto_sim_r,
        |       CAST(rn AS BIGINT) AS rn
        |FROM r WHERE rn <= 5 ORDER BY label, rn""".stripMargin),

    // similarity search, sketch path: JL ±1 random-projection shortlist +
    // exact rescore — the index-free third ANN family next to LSH (hash
    // buckets) and IVF (learned cells). Recall floor vs exact top-k, same
    // self-checking contract as q_ann_lsh; deterministic in (seed, data).
    // Floor 0.6 like q_ann_ivfpq: the fixture embeddings are isotropic —
    // the adversarial regime for any fixed-size sketch shortlist (measured
    // 0.96 recall at sf0.01, 0.73 at sf0.1); the clustered-corpus contract
    // (fixed shortlist, recall ≥ 0.9 as N grows) is pinned in AnnRpSpec
    QuerySpec("q_ann_rp", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val approx = pipeline.Ann.rpTopK(corpus, queries, k,
        m = 32, shortlist = 256, dim = embeddingDim, seed = 42L)
      recallOk(approx, exact, queries, k, minRecall = 0.6)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // distributed PCA contract: one tree-aggregate pass reduces the corpus
    // to a d×d scatter block, driver Jacobi eigensolve; total_var_r is the
    // covariance trace an engine with no eigensolver recomputes as the
    // per-dim variance sum, and recon_ok is the DISTRIBUTED Pythagorean
    // identity ‖residual‖² ≡ (n−1)·Σ_{i>k} λᵢ tying the eigensolve to data
    QuerySpec("q_pca", (s, dir) => {
      pipeline.Pca.qualityReport(IO.readEmbeddings(s, dir), k = 8,
        varRound = 4)
    }, oracle =
      // the covariance trace recomputed with no eigensolver: per-dimension
      // sample variances summed; the ok flags are the Spark-side machine
      // checks (orthonormality, eigenvalue order, reconstruction identity)
      """WITH x AS (
        |  SELECT CAST(unnest(embedding) AS DOUBLE) AS v,
        |         generate_subscripts(embedding, 1) AS pos
        |  FROM embeddings),
        |pv AS (SELECT pos, var_samp(v) AS vv FROM x GROUP BY pos)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings) AS n,
        |       CAST(64 AS BIGINT) AS d, CAST(8 AS BIGINT) AS k,
        |       ROUND(CAST(SUM(vv) AS DOUBLE), 4) + 0.0 AS total_var_r,
        |       CAST(1 AS BIGINT) AS order_ok,
        |       CAST(1 AS BIGINT) AS ortho_ok,
        |       CAST(1 AS BIGINT) AS recon_ok
        |FROM pv""".stripMargin),

    // similarity search, spectral path: PCA-shortlist + exact rescore —
    // the data-ADAPTIVE counterpart of q_ann_rp's JL sketch (same m spent
    // on the directions the corpus actually varies in). Same recall-floor
    // contract and floor as the other approximate families.
    QuerySpec("q_ann_pca", (s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val approx = pipeline.Pca.pcaTopK(corpus, queries, k,
        nComponents = 16, shortlist = 256)
      recallOk(approx, exact, queries, k, minRecall = 0.6)
    }, oracle =
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin),

    // reciprocal-rank fusion of two retrieval rankings (sqeuclidean and
    // cosine kNN over the probe set): score = Σ 1/(60 + rank), absent
    // lists contribute 0. Both input rankings execute through Spark's
    // WindowGroupLimit; the fusion is a (i, j) full outer
    // join of two ≤20-row-per-probe lists. Every arithmetic step is an
    // IEEE double op in a fixed association order, so the score — and the
    // fused ranking — is bit-identical cross-engine
    QuerySpec("q_rrf_fusion", (s, dir) => {
      import s.implicits._
      val pts = IO.readEmbeddings(s, dir)
      def ranked(metric: String) =
        Knn.topKPerPointRanked(
          Knn.bruteForcePairs(pts, metric).where(col("i") < 20), 20)
      val se = ranked("sqeuclidean").select(col("i"), col("j"),
        col("rn").as("rn_se"))
      val cs = ranked("cosine").select(col("i").as("ci"), col("j").as("cj"),
        col("rn").as("rn_cs"))
      val fusedScore =
        coalesce(lit(1.0) / (lit(60.0) + col("rn_se")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(60.0) + col("rn_cs")), lit(0.0))
      val fused = se.join(cs,
          col("i") === col("ci") && col("j") === col("cj"), "full_outer")
        .select(coalesce(col("i"), col("ci")).as("i"),
          coalesce(col("j"), col("cj")).as("j"),
          fusedScore.as("score"))
      val w = Window.partitionBy("i").orderBy(col("score").desc, col("j"))
      fused.withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 10)
        .select(col("i"), col("j"), col("rn"), round(col("score"), 9).as("score_r"))
        .orderBy("i", "rn")
    }, oracle =
      // every arithmetic step (1/(60+r), one add) is an IEEE double op in
      // the same association order as the Spark side, so the fused score
      // and ordering are bit-identical — no tolerance needed
      """WITH de AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                  p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2)) AS dist
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
        |se AS (
        |  SELECT i, j, rn FROM (
        |    SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i ORDER BY dist, j) AS rn
        |    FROM de) WHERE rn <= 20),
        |dc AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         1.0 - list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(a.embedding,
        |                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |            * sqrt(list_sum(list_transform(b.embedding,
        |                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS dist
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id < 20 AND a.vec_id <> b.vec_id),
        |cs AS (
        |  SELECT i, j, rn FROM (
        |    SELECT i, j, ROW_NUMBER() OVER (PARTITION BY i ORDER BY dist, j) AS rn
        |    FROM dc) WHERE rn <= 20),
        |f AS (
        |  SELECT COALESCE(se.i, cs.i) AS i, COALESCE(se.j, cs.j) AS j,
        |         COALESCE(1.0 / (60 + se.rn), 0) +
        |         COALESCE(1.0 / (60 + cs.rn), 0) AS score
        |  FROM se FULL OUTER JOIN cs ON se.i = cs.i AND se.j = cs.j)
        |SELECT i, j, rn, ROUND(score, 9) AS score_r FROM (
        |  SELECT i, j, score,
        |         ROW_NUMBER() OVER (PARTITION BY i ORDER BY score DESC, j) AS rn
        |  FROM f)
        |WHERE rn <= 10 ORDER BY i, rn""".stripMargin)
  )
}
