package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.tsne._

/** Driver contract — one named query per implemented operator from
  * SURVEY.md §2, plus DuckDB-equivalent SQL for every SQL-expressible one.
  *
  * Convention for oracle-comparability (the driver hash-compares values
  * after sorting columns by name):
  *   - every floating-point output column is rounded (`_r` suffix) so
  *     summation-order noise in the last bits can't flip the hash;
  *   - every query has a total-order `ORDER BY` on both sides;
  *   - aggregate/computed columns are aliased identically on both sides.
  */
object SparkEntry {

  /** Width of the driver's `embeddings` fixture vectors — asserted against
    * the data wherever the static oracle SQL bakes the constant in. */
  private val embeddingDim = 64

  /** Hyperplane-LSH shape for `q_ann_lsh` (calibrated at sf0.01 for ≥ 0.8
    * recall: the fixture embeddings are near-isotropic, so recall comes
    * from table count, selectivity from bits). */
  private val annLshTables = 64
  private val annLshBits = 6

  /** Flagship query on sf=0.001; driver smoke-checks rows > 0: the full
    * t-SNE pipeline on the embeddings table (kNN → affinities → optimize). */
  def entry(spark: SparkSession): DataFrame = {
    val points = IO.readEmbeddings(spark, "/root/testdata/sf0.001")
    val knn = Knn.bruteForce(points, 10, "sqeuclidean")
    val emb = Tsne.computeEmbedding(knn,
      Optimizer.Params(perplexity = 3.0, iterations = 50, seed = 42L))
    emb.select(col("id"), col("vec")(0).as("y0"), col("vec")(1).as("y1"))
  }

  private def knnQuery(s: SparkSession, dir: String, method: String,
                       metric: String = "sqeuclidean"): DataFrame = {
    val points = IO.readEmbeddings(s, dir)
    // ranked forms: the ranking window emits the rank itself — no second
    // window over already-ranked output
    val ranked = method match {
      case "bruteforce" =>
        Knn.bruteForceRanked(points, 10, metric)
      case "partition" =>
        Knn.partitionKnnRanked(points, 10, metric, 8)
    }
    ranked
      .select(col("i"), col("j"), col("rn"), round(col("dist"), 6).as("dist_r"))
      .orderBy("i", "rn")
  }

  /** Shared DuckDB CTE: all-pairs squared-euclidean distances + top-k. */
  private val knnSql =
    """WITH dists AS (
      |  SELECT a.vec_id AS i, b.vec_id AS j,
      |         list_sum(list_transform(list_zip(a.embedding, b.embedding),
      |                  p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2)) AS dist
      |  FROM embeddings a CROSS JOIN embeddings b
      |  WHERE a.vec_id <> b.vec_id),
      |knn AS (
      |  SELECT i, j, dist,
      |         ROW_NUMBER() OVER (PARTITION BY i ORDER BY dist, j) AS rn
      |  FROM dists)
      |""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // O5 — brute-force kNN: one exchange-free kernel with a k-heap per point
    "q_knn_bruteforce" -> ((s, dir) => knnQuery(s, dir, "bruteforce")),

    // O6 — block-nested-loop kNN (same logical result, bounded shuffle)
    "q_knn_partition" -> ((s, dir) => knnQuery(s, dir, "partition")),

    // O11 — jointDistribution: symmetrize + normalize over kNN distances
    "q_joint_distribution" -> ((s, dir) => {
      val knn = Knn.bruteForce(IO.readEmbeddings(s, dir), 10, "sqeuclidean")
      Affinities.jointDistribution(knn).toDF()
        .select(col("i"), col("j"), round(col("dist"), 12).as("p_r"))
        .orderBy("i", "j")
    }),

    // O12 — COO→sparse-row assembly: the joint distribution grouped into
    // per-row (js, ps) arrays sorted by j (ref Tsne.scala:119-129), then
    // exploded back POSITIONALLY so both the array contents and the sort
    // order are hash-checked — pos k must hold the k-th smallest j
    "q_affinity_rows" -> ((s, dir) => {
      val knn = Knn.bruteForce(IO.readEmbeddings(s, dir), 10, "sqeuclidean")
      val rows = Affinities.toAffinityRows(Affinities.jointDistribution(knn))
      rows.toDF()
        .select(col("id").as("i"), posexplode(arrays_zip(col("js"), col("ps")))
          .as(Seq("pos", "e")))
        .select(col("i"), col("pos"), col("e.js").as("j"),
          round(col("e.ps"), 12).as("p_r"))
        .orderBy("i", "pos")
    }),

    // O15 — centering through the library operator (groupBy-mean + 1-row
    // broadcast join; no unbounded WindowExec anywhere — VERDICT r1 #3),
    // verified in COO form
    "q_center_embedding" -> ((s, dir) => {
      import s.implicits._
      val points = IO.readEmbeddings(s, dir)
      // + 0.0 folds a rounded -0.0 into +0.0: centering differences at the
      // 1e-7 scale can carry opposite signs in Spark vs DuckDB (summation
      // order), and repr(-0.0) != repr(0.0) under a hash compare
      Optimizer.centerPoints(points).toDF()
        .select(col("id").as("i"), posexplode(col("vec")).as(Seq("j", "v")))
        .select(col("i"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v_r"))
        .orderBy("i", "j")
    }),

    // O2 — COO scan + group + dense-vector assembly, verified by exploding
    // the assembled vectors back to COO triples
    "q_coo_roundtrip" -> ((s, dir) => {
      val df = IO.embeddingsDf(s, dir)
      // the oracle SQL hardcodes generate_series(1, 64); fail loudly rather
      // than silently diverge if the fixture width ever changes
      require(df.select(size(col("vec"))).head().getInt(0) == embeddingDim,
        s"embeddings fixture width != $embeddingDim; update the oracle SQL")
      val coo = df
        .select(col("id").as("i"), posexplode(col("vec")).as(Seq("j", "v")))
      import s.implicits._
      val points = IO.cooToPoints(
        coo.select(col("i"), col("j"), col("v")).as[CooEntry], embeddingDim)
      points.toDF()
        .select(col("id").as("i"), posexplode(col("vec")).as(Seq("j", "v")))
        .select(col("i"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v_r"))
        .orderBy("i", "j")
    }),

    // O3 — precomputed-distance-matrix CSV scan (ref Tsne.scala:155-159),
    // exercised as a full sink→source roundtrip: COO triples derived from
    // the embeddings table are written as CSV, read back through
    // IO.readCoo (declared schema, no inference pass), and must reproduce
    // every value — CSV double formatting round-trips exactly because
    // Double.toString is the shortest form that parses back to the same
    // bits. Oracle = the same triples derived straight from embeddings.
    "q_distance_matrix_roundtrip" -> ((s, dir) => {
      val df = IO.embeddingsDf(s, dir)
      require(df.select(size(col("vec"))).head().getInt(0) == embeddingDim,
        s"embeddings fixture width != $embeddingDim; update the oracle SQL")
      // key the temp path by fixture basename + this session's appId so
      // concurrent harness runs (bench vs verify) and distinct fixture
      // dirs can never race or cross-wire through a shared 32-bit hash
      val base = new java.io.File(dir).getName
      val tag = s"${base}_${s.sparkContext.applicationId}"
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_coo_$tag"
      df.select(col("id").as("i"), posexplode(col("vec")).as(Seq("j", "v")))
        .select(col("i"), col("j"), (round(col("v"), 6) + lit(0.0)).as("v"))
        .write.mode("overwrite").csv(out)
      val res = IO.readCoo(s, out).toDF()
        .select(col("i"), col("j"), col("v").as("v_r"))
        .orderBy("i", "j")
        .localCheckpoint() // materialize before deleting the CSV under it
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
      res
    }),

    // O4 — cosine metric exercised end-to-end (euclidean/cosine were dark
    // in round 1; the kNN ranking + DuckDB hash pin the whole expression)
    "q_knn_cosine" -> ((s, dir) => knnQuery(s, dir, "bruteforce", "cosine")),

    // O4 — euclidean metric (the third and last metric dispatch arm)
    "q_knn_euclidean" -> ((s, dir) => knnQuery(s, dir, "bruteforce", "euclidean")),

    // O7/O8/O9 — projection kNN, machine-checked by recall: the seeded
    // approximate result must recover ≥ 90% of the true kNN pairs (the
    // reference's own projectKnn test is commented out because exact
    // equality is the wrong contract for an approximate operator —
    // `TsneHelpersTestSuite.scala:59-74`; a recall floor is the right one).
    // Deterministic given (seed, data), so the oracle's constant row is a
    // real check, not a tautology.
    "q_knn_project" -> ((s, dir) => {
      val k = 10
      val points = IO.readEmbeddings(s, dir)
      // One z-order preserves little 64-dim locality, so recall is carried
      // by the candidate window — and on this *near-isotropic* fixture,
      // holding a recall floor across scale needs constant *fractional*
      // coverage of the sorted list, so the window scales with N (5.5%):
      // measured 0.96+ at sf0.01 (±50) and 0.92 at sf0.1 (±110) with 14
      // projections. That fractional growth is quadratic work in disguise,
      // so it is CAPPED at 512 (≥ the sf0.1 value — driver results are
      // unchanged): past N ≈ 9300 isotropic points this query would trade
      // recall instead of going O(N²), and structure-free corpora at that
      // size should route to Ann.lshTopK/ivfTopK per the routing rule in
      // Knn.projectKnn's scaladoc (clustered data holds recall at a fixed
      // window — KnnSpec pins that). Deterministic in (seed, data), so the
      // oracle's constant row is a real check.
      val n = points.count()
      val window = Knn.tunedWindow(n)
      val approx = Knn.projectKnn(points, k, "sqeuclidean",
        iterations = 14, seed = 42L, dimension = embeddingDim, window = window)
      val truth = Knn.bruteForce(points, k, "sqeuclidean")
      val hits = approx.toDF()
        .join(truth.toDF().select(col("i"), col("j")), Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      points.toDF().agg(count(lit(1)).as("n_points"))
        .crossJoin(hits)
        .select(col("n_points"),
          (col("hits") >= col("n_points") * k * 0.9).cast("long").as("recall_ok"))
    }),

    // E2E embedding-quality gate (VERDICT r3 next-round #1): the seeded
    // full pipeline (kNN → affinities → 3-phase optimize) must produce a
    // 2-D embedding whose neighborhoods recover the input-space ones —
    // neighbor recall@10 over all points, floored. A correct gradient that
    // stopped producing useful embeddings (lr/schedule/momentum regression)
    // fails this row while passing every kernel golden. The fixture
    // embeddings are near-isotropic unit vectors (top-10 PCs carry 25% of
    // the variance), so absolute recall is modest by construction; measured
    // 0.13–0.17 at 500 points and 0.11 at 2000 across partitionings, vs a
    // chance level k/(N−1) of 0.02/0.005. Floor 0.08 = far above chance,
    // comfortably below every measurement. The optimizer trajectory is
    // chaotic, so only the floored flag (not the raw recall) is hashable.
    "q_tsne_quality" -> ((s, dir) => {
      import s.implicits._
      val k = 10
      val points = IO.readEmbeddings(s, dir)
      // one N² pass feeds both the pipeline (top-30) and the recall truth
      // (top-10); persist the tiny ranked table.
      // Both harnesses release it: Bench and Verify clearCache after every
      // query, so the cache cannot outlive this query's run.
      val ranked = Knn.bruteForceRanked(points, 30, "sqeuclidean").persist()
      val knn = ranked.select(col("i"), col("j"), col("dist")).as[Neighbor]
      val emb = Tsne.computeEmbedding(knn,
        Optimizer.Params(perplexity = 10.0, iterations = 250, seed = 42L))
      val truth = ranked.where(col("rn") <= k)
      Quality.neighborRecall(truth, emb, k)
        .select(col("n_points"),
          (col("hits") >= col("n_points") * k * 0.08).cast("long").as("recall_ok"))
    }),

    // Discriminating e2e quality gate (VERDICT r4 next-round #2): same
    // pipeline as q_tsne_quality but on a deterministic clustered fixture
    // (200 Gaussian blobs of 10 points — every top-10 truth neighbor is a
    // blob sibling, so recall@10 measures cluster-membership preservation,
    // not unstable within-blob ordering). Measured (ClusteredCalibrate):
    // healthy = 0.900; a schedule truncated after phase 1 = 0.332 (fails);
    // skipping ONLY phase 2 measured harmless (0.895 — the remaining 199
    // plain iterations recover), so the broken mode QualitySpec pins below
    // the floor is the truncated schedule. Floor 0.6 sits mid-gap with wide
    // margins both ways; the isotropic row above stays for fixture-data
    // coverage.
    "q_tsne_quality_clustered" -> ((s, dir) => {
      import s.implicits._
      val k = 10
      val points = s.createDataset(Quality.clusteredCloud(2000, 200, 10, seed = 4242L))
      val ranked = Knn.bruteForceRanked(points, 30, "sqeuclidean").persist()
      val knn = ranked.select(col("i"), col("j"), col("dist")).as[Neighbor]
      val emb = Tsne.computeEmbedding(knn,
        Optimizer.Params(perplexity = 5.0, iterations = 250, seed = 42L))
      val truth = ranked.where(col("rn") <= k)
      Quality.neighborRecall(truth, emb, k)
        .select(col("n_points"),
          (col("hits") >= col("n_points") * k * 0.6).cast("long").as("recall_ok"))
    }),

    // O10/O21 — perplexity calibration invariant: every conditional
    // distribution p_·|i sums to exactly 1 (ref asserts the same at
    // `TsneHelpersTestSuite.scala:116,136`)
    "q_affinity_rowsum" -> ((s, dir) => {
      import s.implicits._
      val knn = Knn.bruteForce(IO.readEmbeddings(s, dir), 30, "sqeuclidean")
      Affinities.pairwiseAffinities(knn, 10.0).toDF()
        .groupBy(col("i"))
        .agg(round(sum("dist"), 6).as("psum_r"))
        .orderBy("i")
    }),

    // O14 (+O17/O18 at θ=0) — the exact t-SNE gradient at a deterministic
    // embedding (first two input dims), verified against an all-pairs SQL
    // formulation of F_attr − F_rep/sumQ
    // O16 standalone — one delta-bar-delta update step per point, inputs
    // derived deterministically from the embedding components; the oracle
    // re-derives gain/step/position arithmetic component-wise in SQL with
    // the exact association order of Gradient.update
    "q_update_step" -> ((s, dir) => {
      import s.implicits._
      val r = (c: Column) => round(c, 9) + lit(0.0)
      IO.readEmbeddings(s, dir).map { p =>
        val y = Array(p.vec(0), p.vec(1))
        val prev = Array(p.vec(2), p.vec(3))
        val gains = Array(1.0 + math.abs(p.vec(4)), 1.0 + math.abs(p.vec(5)))
        val grad = Array(p.vec(6), p.vec(7))
        val (ny, ns, ng) = Gradient.update(y, prev, gains, grad,
          minGain = 0.01, momentum = 0.5, learningRate = 0.1)
        (p.id, ny(0), ny(1), ns(0), ns(1), ng(0), ng(1))
      }.toDF("id", "y0", "y1", "s0", "s1", "g0", "g1")
        .select(col("id"), r(col("y0")).as("y0_r"), r(col("y1")).as("y1_r"),
          r(col("s0")).as("s0_r"), r(col("s1")).as("s1_r"),
          r(col("g0")).as("g0_r"), r(col("g1")).as("g1_r"))
        .orderBy("id")
    }),

    // O13 standalone — seeded working-set init: moments are value-exact
    // (lastGrad = 0, gains = 1) and the gaussian positions are a pure
    // function of (seed, id): a second build under a different
    // partitioning must be bit-identical, and σ = 1e-4 bounds |y|. The
    // gaussian draws themselves aren't SQL-expressible, so the oracle
    // pins the moments and the flag.
    "q_init_moments" -> ((s, dir) => {
      import s.implicits._
      val ids = IO.readEmbeddings(s, dir)
        .map(p => AffinityRow(p.id, Array.empty[Long], Array.empty[Double]))
      val a = Optimizer.initWorkingSet(ids, 2, seed = 42L)
        .map(w => (w.id, w.y(0), w.y(1), w.lastGrad(0), w.lastGrad(1),
          w.gains(0), w.gains(1)))
        .toDF("id", "y0", "y1", "s0", "s1", "g0", "g1")
      val b = Optimizer.initWorkingSet(ids.repartition(7), 2, seed = 42L)
        .map(w => (w.id, w.y(0), w.y(1)))
        .toDF("id", "b0", "b1")
      a.join(b, "id")
        .select(col("id"), col("s0"), col("s1"), col("g0"), col("g1"),
          (col("y0") === col("b0") && col("y1") === col("b1") &&
            abs(col("y0")) < 1e-2 && abs(col("y1")) < 1e-2)
            .cast("long").as("init_ok"))
        .orderBy("id")
    }),

    "q_gradient_exact" -> ((s, dir) => {
      import s.implicits._
      val points = IO.readEmbeddings(s, dir)
      val y = points.map(p => Point(p.id, Array(p.vec(0), p.vec(1))))
      val p = Affinities.toAffinityRows(Affinities.jointDistribution(
        Knn.bruteForce(points, 10, "sqeuclidean")))
      Optimizer.gradientDataset(p, y, theta = 0.0, metric = "sqeuclidean").toDF()
        .select(col("id").as("i"),
          (round(col("vec")(0), 8) + lit(0.0)).as("gx_r"),
          (round(col("vec")(1), 8) + lit(0.0)).as("gy_r"))
        .orderBy("i")
    }),

    // §2.2 vocabulary — hash aggregation with partial map-side combine
    "q_agg_lineitem" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // decimal-grid sums: order-independent and oracle-exact even
          // for the sf1-scale groups where a float sum's accumulated
          // error crosses round() boundaries (see ops.ExactNum)
          round(ops.ExactNum.gridSumFast(col("l_quantity"), 2), 4).as("sum_qty"),
          round(ops.ExactNum.gridSumFast(col("l_extendedprice"), 2), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // §2.2 vocabulary — grouped top-k via ranking window (integer output)
    "q_topk_orders" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn")
    }),

    // §2.2 vocabulary — grouped top-k with rank() tie semantics: tie groups
    // straddling k survive whole, so groups emit >k rows. Executes through
    // Spark's WindowGroupLimit in rank() mode (each key keeps the tie
    // groups that start within k); the DuckDB RANK() oracle
    // machine-checks the gap numbering and the whole-group survivors.
    "q_rank_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_year").desc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("rk", rank().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_year").cast("long"), col("rk"))
        .orderBy("o_custkey", "rk", "o_orderkey")
    }),

    // §2.2 vocabulary — dense_rank-bounded filter through the same
    // operator (first k DISTINCT order years per customer, gap-free
    // numbering; unbounded rows per key, bounded distinct values)
    "q_dense_rank_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_year").desc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("rk", dense_rank().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_year").cast("long"), col("rk"))
        .orderBy("o_custkey", "rk", "o_orderkey")
    }),

    // ---------------- LLM-data-pipeline operators ----------------------

    // text surface statistics (tokens, types, BPE-ish count, lengths)
    "q_text_stats" -> ((s, dir) => {
      pipeline.TextOps.textStats(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // heuristic quality scoring (stopword/type/alpha ratios + composite)
    "q_text_quality" -> ((s, dir) => {
      pipeline.TextOps.qualityScore(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // language-ID heuristic (marker-word + CJK-character scores, argmax)
    "q_lang_id" -> ((s, dir) => {
      pipeline.TextOps.langId(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals (token/bigram/trigram duplication)
    // self-trained unigram-LM quality (CCNet's perplexity-filter role):
    // corpus-relative token frequencies, per-doc mean log-probability
    "q_unigram_logprob" -> ((s, dir) => {
      pipeline.TextOps.unigramLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // conditional bigram upgrade: mean log p(w2|w1), counts trained on
    // the scored corpus
    "q_bigram_logprob" -> ((s, dir) => {
      pipeline.TextOps.bigramLogProb(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // interpolated Kneser-Ney upgrade of the raw-MLE bigram filter —
    // absolute discount + continuation-probability backoff, the KenLM
    // smoothing CCNet-style perplexity filters actually use
    "q_kneser_ney" -> ((s, dir) => {
      pipeline.TextOps.kneserNeyLogProb(
        s.read.parquet(s"$dir/documents.parquet")).orderBy("doc_id")
    }),

    "q_text_repetition" -> ((s, dir) => {
      pipeline.TextOps.repetitionSignals(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // benchmark decontamination: corpus docs sharing a trigram with the
    // benchmark subset (doc_id % 37 == 0) are flagged; the oracle joins on
    // raw gram text where Spark joins on hash60 — identical sets absent
    // 60-bit collisions, the same contract every shingle oracle here uses
    "q_decontaminate" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.decontaminate(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }),

    // graded contamination: distinct-gram overlap FRACTION per doc, the
    // GPT-3-style soft decontamination score; verdict by integer
    // cross-multiplication (n_hit*100 >= n_grams*20), never a float test
    "q_contamination_overlap" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.contaminationOverlap(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }),

    // the graded score through the Bloom prefilter + exact verify — the
    // oracle is IDENTICAL to q_contamination_overlap's, so any diff is a
    // Bloom false negative (same contract as q_decontaminate_bloom)
    "q_contamination_overlap_bloom" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.contaminationOverlapBloom(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }),

    // label hygiene: unlabeled docs (doc_id % 7 = 0 simulates a lost tag)
    // inherit the majority label of their near-dup cluster's labeled
    // members; ties to the smallest label, no labeled peer -> 'und'
    "q_label_backfill" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.labelBackfill(docs, pairs.select("i", "j"),
        unlabeled = col("doc_id") % 7 === 0)
        .orderBy("doc_id")
    }),

    // cross-source duplication matrix: near-dup pairs per unordered
    // source pair — the which-crawls-overlap diagnostic before mixing
    "q_source_overlap" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.sourceOverlapMatrix(docs, pairs.select("i", "j"))
        .orderBy("src_a", "src_b")
    }),

    // winnowing fingerprints (MOSS): windowed minima over shingle hashes
    "q_doc_fingerprint" -> ((s, dir) => {
      pipeline.TextOps.fingerprints(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id", "fp")
    }),

    // PII redaction: emails and long digit runs replaced before a corpus
    // leaves the pipeline; exact string compare against the oracle's
    // identical RE2-safe patterns
    "q_text_redact" -> ((s, dir) => {
      pipeline.TextOps.redactPii(s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text")))
        .select(col("doc_id"), col("text").as("redacted"))
        .orderBy("doc_id")
    }),

    // checksum-validated PII (Luhn): the fixture text has no digits, so
    // each doc is deterministically enriched with one synthetic 16-digit
    // number — Luhn-VALID for doc_id % 5 == 0 (check digit computed by
    // the operator's own luhnSum), check-digit-corrupted (+5 mod 10)
    // otherwise — plus a second always-valid number for doc_id % 11 == 0.
    // The detector must flag exactly the valid ones; the oracle replays
    // generation AND validation, and PipelineSpec pins the Luhn rule on
    // published test vectors so a shared-spelling error can't hide.
    "q_pii_luhn" -> ((s, dir) =>
      pipeline.TextOps.luhnValidPii(luhnEnrichedDocs(s, dir))
        .orderBy("doc_id")),

    // the masking companion: validated numbers masked to ****+last-4,
    // checksum-failing runs untouched — precision redactPii's blanket
    // [NUM] rule can't offer
    "q_pii_luhn_mask" -> ((s, dir) =>
      pipeline.TextOps.luhnMaskValid(luhnEnrichedDocs(s, dir))
        .orderBy("doc_id")),

    // URL canonicalization + registered-domain extraction (the front door
    // of every web curation pipeline — C4/RefinedWeb/Dolma dedup on a
    // canonical URL before any text op). The fixture has no URL column,
    // so each doc gets one synthesized deterministically from doc_id
    // (the Luhn-row enrichment pattern): mixed-case scheme/host, userinfo,
    // default and non-default ports, %41/%7E/%42 escapes, tracking params,
    // permuted param order, fragments. The oracle replays BOTH the
    // synthesis and the full canonicalization algorithm in SQL;
    // UrlOpsSpec pins every rule on hand-built URLs.
    "q_url_canonical" -> ((s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      en.select(col("doc_id"),
          pipeline.UrlOps.canonicalizeUrl(col("url")).as("url_canon"),
          pipeline.UrlOps.registeredDomain(
            pipeline.UrlOps.canonicalHost(col("url"))).as("domain"))
        .orderBy("doc_id")
    }),

    // HTML→text extraction end-to-end: each doc's text is wrapped in a
    // full synthetic page — head/title, style and script blocks with
    // embedded '<', a nav link list, an h1, the escaped text in a <p>,
    // and a link-dense footer — then Html.htmlToText must strip the
    // markup, decode the entities, and drop every boilerplate line,
    // leaving exactly the prose. The oracle replays only the
    // jusText-lite LINE RULE on the raw text (integer arithmetic, both
    // engines); the HTML pipeline itself is pinned by HtmlSpec on
    // hand-built pages, so a markup bug surfaces as extracted ≠ text.
    "q_html_extract" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          pipeline.Html.htmlToText(synthHtmlPage).as("extracted"))
        .orderBy("doc_id")
    }),

    // the full jusText neighbor pass over the SAME page (round 12): the
    // h1 heading is SHORT (prose-like but under the size gates) and sits
    // between BAD nav chrome and the doc's paragraph, so it is rescued
    // exactly when the paragraph is GOOD — the oracle replays only that
    // closed-form decision; title (next non-short is link-dense nav) and
    // footer must still drop
    "q_justext_context" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          pipeline.Html.htmlToTextContext(synthHtmlPage).as("extracted"))
        .orderBy("doc_id")
    }),

    // page-level metadata extraction (round 12): title/description/
    // lang/canonical/robots from real head markup — entity decode in the
    // title, BOTH attribute orders for the description meta, all three
    // quote forms, each field optionally absent; the oracle predicts
    // every field in closed form from doc_id
    "q_html_meta" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      docs.select(col("doc_id"),
          pipeline.Html.pageMeta(synthMetaPage).as("m"))
        .select(col("doc_id"), col("m.title").as("title"),
          col("m.description").as("description"), col("m.lang").as("lang"),
          col("m.canonical").as("canonical"), col("m.robots").as("robots"))
        .orderBy("doc_id")
    }),

    // RFC 3986 §5 reference resolution (round 12): each page carries 9
    // hrefs covering every resolution branch (dot-segment climbs, `./`,
    // rooted, bare-relative, query-only, network-path, absolute with
    // dots, mid-path dots, fragment-only); the resolver must earn each
    // absolute URL from real markup while the oracle concatenates the
    // expected strings in closed form
    "q_url_resolve" -> ((s, dir) => {
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
    }),

    // rel=canonical dedup (round 12) — the page's own dedup-key claim,
    // the mechanism that collapses print/mobile/tracking variants even
    // when their URLs differ: docs whose pages declare a canonical link
    // group under the DECLARED target (resolved against the page URL,
    // then canonicalized); the rest group under their own canonical URL.
    // One hash aggregation on the target key — dedupByUrl's shape
    "q_canonical_dedup" -> ((s, dir) => {
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
    }),

    // robots-meta / X-Robots-Tag gate (round 12): the IN-band opt-out
    // channel (q_robots_gate covers the out-of-band robots.txt): the
    // meta directives come from real page markup, the header directives
    // from the synthesized response, and a directive in either channel
    // applies — noindex/none drop the text, nofollow/none cut the links
    "q_noindex_gate" -> ((s, dir) => {
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
    }),

    // encoding sniff ladder (round 12) over REAL bytes: BOM payloads,
    // conflicting header-vs-meta declarations, both meta forms, alias
    // folding, and the no-declaration default — each residue class
    // exercises one rung and the oracle predicts (encoding, via) closed
    // form; payload synthesis needs raw BOM bytes, hence mapPartitions
    "q_charset_detect" -> ((s, dir) => {
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
    }),

    // RSS/Atom feed probe (round 12) — the recency discovery channel:
    // per doc a 2-entry feed (format by residue) with a CDATA title, an
    // element-text vs href-attribute link, and a date only on the fresh
    // entry; the parser earns every field from real XML while the
    // oracle concatenates them closed form
    "q_feed_probe" -> ((s, dir) => {
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
    }),

    // C4 bad-words gate (round 12): residues plant a clean hit, a
    // double hit, a CASE variant hit, and the Scunthorpe decoy (the
    // listed token embedded inside a longer one — must NOT fire);
    // token-exact matching is the whole point of the rule
    "q_blocklist_filter" -> ((s, dir) => {
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
    }),

    // EXIF probe (round 12): real JPEG marker walk + real TIFF IFD walk
    // over synthesized-but-conforming Exif segments in BOTH byte orders
    // (II and MM), with an out-of-line ASCII Make value and a no-Exif
    // residue the walk must classify as absence, not error; the oracle
    // predicts every field closed form
    "q_exif_probe" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val payload =
            if (id % 11 == 10)
              // a JPEG with a COM segment but no APP1: exercises the
              // marker walk's skip-by-declared-length path
              Array[Byte](0xFF.toByte, 0xD8.toByte, 0xFF.toByte,
                0xFE.toByte, 0, 4, 'a'.toByte, 'b'.toByte,
                0xFF.toByte, 0xD9.toByte)
            else pipeline.Multimodal.buildExifJpeg(
              64 + (id % 32).toInt, 48 + (id % 16).toInt,
              1 + (id % 8).toInt, "Cam" + (id % 5),
              bigEndian = id % 2 == 0,
              // sub-IFDs (round 13): DateTimeOriginal one pointer
              // behind 0x8769, d°m's'' GPS rationals behind 0x8825 —
              // each with its own absence residue
              dateTimeOriginal = if (id % 3 != 1)
                Some(f"2026:03:${1 + id % 28}%02d 10:00:00") else None,
              gps = if (id % 4 != 2)
                Some((if (id % 2 == 0) "N" else "S", (id % 90).toInt,
                  (id % 60).toInt, (id % 6000).toInt,
                  if (id % 3 == 0) "E" else "W", (id % 180).toInt,
                  ((id + 7) % 60).toInt, ((id * 3) % 6000).toInt))
              else None)
          (id, payload)
        }
      }.toDF("id", "payload")
      pipeline.Multimodal.exifProbe(mm)
        .select(col("id").as("doc_id"),
          col("exif_found").cast("long").as("exif_found"),
          col("big_endian").cast("long").as("big_endian"),
          col("width"), col("height"), col("orientation"), col("make"),
          col("date_original"),
          col("has_gps").cast("long").as("has_gps"),
          col("gps_lat_cs"), col("gps_lon_cs"))
        .orderBy("doc_id")
    }),

    // redirect chain hop (round 12): ~8% of real captures are 3xx, and
    // RFC 9110 §10.2.2 allows a RELATIVE Location — the resolver hop a
    // naive pipeline gets wrong; a Location-shaped line in the BODY is a
    // decoy the header-section confinement must ignore
    "q_redirect_resolve" -> ((s, dir) => {
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
    }),

    // JSON-LD extraction (round 12): schema.org metadata from real
    // script blocks — a typeless decoy script first, then the ld+json
    // block parsed by Spark's from_json (nested author struct, @-named
    // field); dates cross as epoch days per the repo rule
    "q_jsonld_extract" -> ((s, dir) => {
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
    }),

    // WAT export (round 12) — the metadata third of the Common Crawl
    // triad (WARC = captures, WET = q_wet_roundtrip, WAT = per-page
    // JSON envelopes): canonical URL + extracted title + outlinks
    // serialized through Spark's to_json; the oracle concatenates the
    // exact JSON string closed form
    "q_wat_export" -> ((s, dir) => {
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
    }),

    // ZIP listing probe (round 12): archives from the REAL JDK encoder
    // (STORED members, so sizes are closed-form), walked by OUR
    // central-directory arithmetic — EOCD from the tail, entries by
    // declared lengths; the manifest that shards an archive into
    // member-tasks without inflating anything
    "q_zip_probe" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      // residue id%9==7 (round 13): the SAME members in a ZIP64 archive
      // (sentinel EOCD + locator + 0x0001 extras — the >4 GiB/>65k-member
      // form) — the listing must come out identical, so the closed-form
      // oracle pins the whole ZIP64 resolution path with zero new rows
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val names = (0 to (id % 4).toInt)
            .map(j => (s"f$j.txt", f"c$id%07d-$j".getBytes("UTF-8")))
          if (id % 9 == 7) (id, sources.Archive.buildZip64(names))
          else {
            val bos = new java.io.ByteArrayOutputStream()
            val zos = new java.util.zip.ZipOutputStream(bos)
            names.foreach { case (name, bytes) =>
              val e = new java.util.zip.ZipEntry(name)
              e.setMethod(java.util.zip.ZipEntry.STORED)
              e.setSize(bytes.length)
              val crc = new java.util.zip.CRC32(); crc.update(bytes)
              e.setCrc(crc.getValue)
              zos.putNextEntry(e); zos.write(bytes); zos.closeEntry()
            }
            zos.close()
            (id, bos.toByteArray)
          }
        }
      }.toDF("id", "payload")
      sources.Archive.zipProbe(mm)
        .select(col("id").as("doc_id"), col("member"), col("name"),
          col("method"), col("compressed_size"), col("uncompressed_size"))
        .orderBy("doc_id", "member")
    }),

    // TAR listing probe (round 13): ustar streams walked by 512-byte
    // block arithmetic — octal size fields, verified checksums, data
    // skipped by declared length; residue id%7==3 uses >100-byte member
    // paths, so the listing only comes out right if the pax `x`
    // extended-header `path` override is honored (the truncated ustar
    // name field would mismatch the closed-form oracle)
    "q_tar_probe" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val pax = id % 7 == 3
          val names = (0 to (id % 4).toInt).map { j =>
            val name =
              if (pax) "deep" + "/sub" * 30 + s"/f$j.txt"
              else s"f$j.txt"
            (name, f"c$id%07d-$j".getBytes("UTF-8"))
          }
          (id, sources.Archive.buildTar(names))
        }
      }.toDF("id", "payload")
      sources.Archive.tarProbe(mm)
        .select(col("id").as("doc_id"), col("member"), col("name"),
          col("typeflag"), col("size"), col("data_offset"))
        .orderBy("doc_id", "member")
    }),

    // Sentence segmentation (round 13): the splitter runs over text
    // synthesized with planted traps — abbreviation chains
    // (`Dr./Prof./p.m.`), decimal splits (`2.5`, `3.14`), and an
    // unterminated trailing fragment — and the oracle predicts the
    // sentence COUNT and the exact first/last sentence strings closed
    // form; only correct false-split re-merging reproduces them
    "q_sentence_split" -> ((s, dir) => {
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
    }),

    // HTML table extraction (round 13): pages synthesized with a
    // variable r×c table (header <th> row + <b>-wrapped, entity-laden
    // <td> cells) plus a second one-cell table on a residue class; the
    // oracle predicts every (table, row, col) → cell text closed form,
    // so tag stripping, entity decode, and source-order indexing are
    // all pinned
    "q_html_tables" -> ((s, dir) => {
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
    }),

    // CSV dialect sniffing (round 13): payloads planted in one of four
    // delimiters with/without a header row, every data row carrying a
    // QUOTED field containing a literal comma — the naive unmasked
    // count would mis-pick ',' on 3 of 4 classes; the oracle predicts
    // dialect, header flag, and shape closed form from the residues
    "q_csv_dialect" -> ((s, dir) => {
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
    }),

    // HTML→Markdown export (round 13): pages with headings, emphasis,
    // a variable list, entities, and a link convert to the exact
    // markdown string the oracle assembles closed form — headings,
    // `**`/`*` wrapping, `- ` list lines, `[text](href)`, entity
    // decode, and blank-line normalization all pinned byte-for-byte
    "q_markdown_export" -> ((s, dir) => {
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
    }),

    // Readability (round 13): Flesch / Flesch–Kincaid over the REAL
    // corpus text (plus a planted punctuated suffix so sentence
    // division is exercised); both engines count words, vowel-group
    // syllables, and terminator-run sentences with the identical
    // definitions, so every count and both scores must agree exactly
    "q_readability" -> ((s, dir) => {
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
    }),

    // Code-vs-prose detection (round 13): structural-character and
    // keyword signals over real text plus a planted code block on the
    // %6 residue; both engines count with the same arithmetic, and the
    // conjunctive is_code rule fires exactly on the planted class
    "q_code_detect" -> ((s, dir) => {
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
    }),

    // Publication-date extraction (round 13): ISO and long-form dates
    // planted by residue (one class carries none); the extractor must
    // find the right spelling, map month names, and emit integer
    // (y,m,d) the oracle predicts closed form
    "q_doc_dates" -> ((s, dir) => {
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
    }),

    // YAML frontmatter (round 13): fenced metadata synthesized from
    // real columns (lang comes from the corpus lang column) splits
    // into a typed map + clean body; title/kind/tag-count/body head
    // all predicted closed form by the oracle
    "q_frontmatter" -> ((s, dir) => {
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
    }),

    // Citation extraction (round 13): DOIs (with the trailing-
    // punctuation cleanup) and new-style arXiv ids planted by residue;
    // counts and first identifiers closed form
    "q_citation_extract" -> ((s, dir) => {
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
    }),

    // HTTP cache policy (round 13): RFC 9111 shared-cache semantics
    // over synthesized response headers — no-store/private gating,
    // s-maxage overriding max-age, revalidation directives, validator
    // preference — every field closed form from the residue plan
    "q_http_cache" -> ((s, dir) => {
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
    }),

    // OpenGraph / Twitter-card metadata (round 13): property/name meta
    // tags to a map; og:image present only on the even residue, a
    // non-og meta planted as the must-not-leak control
    "q_opengraph" -> ((s, dir) => {
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
    }),

    // srcset variant parsing (round 13): every candidate of every
    // image — width descriptors plus the src fallback — in document
    // order, the whole grid closed form from the residue plan
    "q_srcset" -> ((s, dir) => {
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
    }),

    // License detection (round 13): SPDX identifiers win over phrase
    // heuristics; one characteristic phrase per residue class, the
    // %7=6 class plants nothing and must come back "none"
    "q_license_detect" -> ((s, dir) => {
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
    }),

    // JSON schema inference (round 13): the field/type census over
    // flat JSONL lines, with a PLANTED TYPE DRIFT (score is a number
    // on even ids, a quoted string on odd) the histogram must surface;
    // the (key,vtype)->count agg is the one shuffle, map-side
    // combinable — the corpus-census shape at 100 TB
    "q_json_schema" -> ((s, dir) => {
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
    }),

    // meta-refresh redirects (round 13): the in-HTML redirect channel
    // — instant and delayed redirects (sloppy comma/quote spellings
    // included), timed reloads without a target, and the absent class
    "q_meta_refresh" -> ((s, dir) => {
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
    }),

    // hreflang alternates (round 13): the multilingual edition cluster
    // — per-page language links (subset by residue) plus x-default,
    // with a rel=stylesheet decoy that must not leak into the set
    "q_hreflang" -> ((s, dir) => {
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
    }),

    // PDF structure probe (round 12, +xref-stream arm round 13):
    // build→walk round-trip through the classic xref machinery — header
    // version, tail-first startxref, 20-byte-entry census arithmetic,
    // offset-resolved trailer /Root → catalog /Pages → /Count — plus a
    // 1.5 cross-reference-STREAM residue class (k % 5 == 2) the probe
    // must DETECT (census from the plain-text /Size) and route to the
    // decode seam (page_count −1) instead of failing; every field
    // predicted closed form
    "q_pdf_probe" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val pages = 1 + (id % 9).toInt
          val pdf =
            if (id % 5 == 2) sources.Pdf.buildXrefStreamPdf(pages)
            else sources.Pdf.buildPdf(pages,
              if (id % 3 == 0) "1.4" else "1.7")
          (id, pdf)
        }
      }.toDF("id", "payload")
      sources.Pdf.pdfProbe(mm)
        .select(col("id").as("doc_id"), col("version"), col("kind"),
          col("n_objects"), col("page_count"))
        .orderBy("doc_id")
    }),

    // GPT-2 pre-tokenization (round 12): the byte-level-BPE pre-split
    // over the real corpus text plus a planted suffix that exercises
    // contractions, digit runs, hyphens, and repeated punctuation; BOTH
    // engines run the identical lookahead-free pattern, and the
    // `lossless` column asserts pieces concatenate back to the input
    "q_pretokenize" -> ((s, dir) => {
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
    }),

    // robots rules AS-OF the capture time (round 12): robots.txt
    // changes, and a capture must obey the version in effect when it
    // was fetched — the versioned-policy correctness a naive
    // latest-rules join gets wrong. Two fixture versions flip the
    // decision for every path, so any as-of error lands as a wrong
    // `allowed`; version keys ride parseRobots' opaque domain column
    "q_robots_asof" -> ((s, dir) => {
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
    }),

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
    "q_crawl_e2e" -> ((s, dir) => {
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
    }),

    // URL-level exact dedup: cosmetic variants (case, default port,
    // userinfo, tracking params, param order, escape spelling, fragment)
    // of the same resource collapse to one canonical key — one hash
    // aggregation, first-crawled (min doc_id) wins
    "q_url_dedup" -> ((s, dir) =>
      pipeline.UrlOps.dedupByUrl(urlEnrichedDocs(s, dir))
        .orderBy("url_canon")),

    // MIME email probe (round 13): mail archives as a corpus source —
    // RFC 5322 headers, multipart/alternative split on the declared
    // boundary, and BOTH 7-bit transfer codings decoded as pure Column
    // work: base64 via unbase64, quoted-printable via byte-level hex
    // reassembly (the € in the plain part crosses as =E2=82=AC — three
    // BYTES — and the builder's 40-char soft line breaks land mid-word,
    // so a code-point-wise or unfold-less decode corrupts every row);
    // the oracle predicts the DECODED text closed form, no MIME anywhere
    "q_mime_probe" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mail = ids.mapPartitions { it =>
        it.map { id =>
          val k = id % 127
          (id, sources.Mime.buildEml(
            s"billing${k % 5}@example.com", s"Invoice $k", s"bnd${k % 7}",
            s"Total: 42.50 € = order $k net",
            s"<p>Order $k — detail</p>"))
        }
      }.toDF("doc_id", "payload")
      sources.Mime.mimeParts(mail)
        .select(col("doc_id"), col("part").cast("long").as("part"),
          col("part_type"), col("cte"), col("text"), col("from_addr"),
          col("subject"))
        .orderBy("doc_id", "part")
    }),

    // IDN/punycode folding (round 13): both spellings of an
    // international site — Unicode and ACE — must canonicalize to ONE
    // key (the dedup gap any international crawl hits), with the PSL
    // walk running in the folded space; the oracle carries the expected
    // ACE forms as literals (RFC 3492 outputs, precomputed), so a fold
    // drift or a registered-domain slip lands as a hash mismatch
    "q_idn_fold" -> ((s, dir) => {
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
    }),

    // per-registered-domain quota (the domain-cap curation gate): at most
    // 3 docs per pay-level domain, largest-first — the row_number+filter
    // shape executes through Spark's WindowGroupLimit, so no domain is
    // ever ranked whole however many pages it contributed
    "q_domain_cap" -> ((s, dir) =>
      pipeline.UrlOps.domainCap(urlEnrichedDocs(s, dir), k = 3)
        .orderBy("domain", "rn")),

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
    "q_robots_gate" -> ((s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      pipeline.UrlOps.robotsGate(en, synthRobotsRules(en)).orderBy("doc_id")
    }),

    // sitemap DISCOVERY — the missing hop between the robots gate and
    // the sitemap probe: a crawler learns where a site's sitemap lives
    // from the global `Sitemap:` directive in robots.txt (RFC 9309
    // §2.3). The directive sits inside the gate rows' fixture, so the
    // group parser's ignore-unknown-fields contract is exercised on
    // production data at the same time
    "q_sitemap_discovery" -> ((s, dir) =>
      pipeline.UrlOps.sitemapDirectives(
        synthRobotsTxt(urlEnrichedDocs(s, dir))).orderBy("domain")),

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
    "q_robots_ua" -> ((s, dir) => {
      val en = urlEnrichedDocs(s, dir)
      pipeline.UrlOps.robotsGate(en,
        pipeline.UrlOps.parseRobots(synthRobotsTxtUa(en),
          agent = "graftbot")).orderBy("doc_id")
    }),

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
    "q_sitemap_index" -> ((s, dir) => {
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
    }),

    // CDX capture index (round 12): the SURT key (Sort-friendly URI
    // Reordering Transform — OpenWayback/Common Crawl's index key) over
    // every canonical URL, grouped into capture counts: one domain's
    // captures sort contiguously, and cosmetic URL variants collapse to
    // one key. The oracle replays the reversal/port/path assembly in
    // SQL from the closed-form canonical URL.
    "q_cdx_index" -> ((s, dir) =>
      urlEnrichedDocs(s, dir)
        .select(col("doc_id"), pipeline.UrlOps.surtKey(
          pipeline.UrlOps.canonicalizeUrl(col("url"))).as("surt_key"))
        .groupBy("surt_key")
        .agg(count(lit(1)).as("n_captures"), min("doc_id").as("first_doc"))
        .orderBy("surt_key")),

    // CDXJ export (round 13): the OpenWayback/pywb capture-index LINE
    // format — SURT key, 14-digit timestamp, then a JSON block with the
    // capture fields (to_json over a struct, the q_wat_export pattern)
    // — completing the CDX round-trip: q_cdx_index aggregates by the
    // key, this row emits the per-capture index lines a replay system
    // ingests. Pure Column work over the canonicalize→SURT chain; the
    // oracle reassembles every line byte-for-byte
    "q_cdxj_export" -> ((s, dir) => {
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
    }),

    // politeness-budgeted frontier (round 12): Crawl-delay parsed from
    // the UA-SELECTED robots group (the de-facto field Bing/Yandex
    // honor) → per-domain fetch budget = clamp(60 div delay, 1, 4) →
    // the UA gate × sitemap freshness schedule re-ranked under the
    // VARIABLE budget. The scalable quota shape: a CONSTANT rn <= 4
    // pre-cap first (the WindowGroupLimit bound — no domain's list
    // ranked whole), then the per-domain budget refine as a plain
    // filter on the survivors.
    "q_crawl_budget" -> ((s, dir) => {
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
    }),

    // WARC revisit records (round 12): the ISO 28500 §6.7.2 mechanism —
    // a crawler stores a slim `revisit` record instead of re-storing an
    // unchanged payload. Same-residue docs carry byte-identical bodies
    // through REAL record framing; the first capture (smallest doc_id)
    // per payload digest is the response, later ones are revisits. The
    // oracle is digest-free closed form (original = min doc_id of the
    // residue class).
    "q_warc_revisit" -> ((s, dir) => {
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
    }),

    // CCNet head/middle/tail (round 12): the NAMED curation recipe
    // behind LLaMA's CommonCrawl slice — a per-language Kneser–Ney LM
    // trained on the trusted src0 slice scores EVERY doc (train/score
    // split with the standard unseen-event floors, unlike q_kneser_ney's
    // train≡score), then each language splits into exact nearest-rank
    // perplexity tertiles. The oracle replays the lang-keyed counts,
    // every floor branch, the 1e-6 quantization, and the per-lang
    // cutoff ranks in SQL.
    "q_ccnet_buckets" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.ccnetBuckets(docs).orderBy("doc_id")
    }),

    // WET export (round 12): Common Crawl's extracted-text sidecar —
    // one WARC `conversion` record per page whose payload is the
    // HTML→text extraction. The Spark side runs the real chain
    // (synthetic page → htmlToText → ISO 28500 conversion-record framing
    // → record walk back); the oracle predicts the payload in closed
    // form from the raw text (the q_html_extract line-rule contract),
    // so a framing slip or an extraction drift both land as mismatches.
    "q_wet_roundtrip" -> ((s, dir) => {
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
    }),

    // Unicode-script profile (round 12): the pre-language-ID routing
    // signal — five script-block counts + a fixed-order dominant argmax.
    // The ASCII fixture is enriched per residue with Cyrillic/CJK/
    // Greek/Arabic runs (repeated so CJK can actually dominate short
    // docs); the oracle replays enrichment and every count
    "q_script_detect" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val enriched = docs.select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 4 === 1, lit(ScriptEnrichCyr)).otherwise(lit("")),
        when(col("doc_id") % 5 === 2, lit(ScriptEnrichCjk)).otherwise(lit("")),
        when(col("doc_id") % 7 === 3, lit(ScriptEnrichGrk)).otherwise(lit("")),
        when(col("doc_id") % 9 === 5, lit(ScriptEnrichAra)).otherwise(lit("")))
        .as("text"))
      pipeline.TextOps.scriptProfile(enriched).orderBy("doc_id")
    }),

    // shard manifest (round 12): the dataloader-facing summary a
    // training job reads before it opens a single shard — per shard the
    // doc count, token mass, byte mass, and source breadth, one hash
    // aggregation over the existing epoch-shuffle assignment. Oracle
    // replays the hash-order rank, the shard arithmetic, and the
    // aggregates.
    "q_shard_manifest" -> ((s, dir) => {
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
    }),

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
    "q_psl_domain" -> ((s, dir) => {
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
    "q_http_probe" -> ((s, dir) => {
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
    }),

    // full JVM HTTP decode seam (round 13): the RFC-ordered coding
    // stack over BINARY payloads — Content-Encoding: gzip entities
    // (most origin servers compress; a string-Column path would
    // mojibake the bytes before any inflater saw them), gzip UNDER a
    // 24-chunk transfer coding (Transfer-Encoding undone first, RFC
    // 9112 §6.1), and a connection-died-mid-transfer chain whose
    // missing last-chunk must land as complete=0 with the decoded
    // prefix kept — body_len = len(text) in every arm is the claim
    // that the whole stack hands back the entity verbatim
    "q_http_decode" -> ((s, dir) => {
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
    }),

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
    "q_sitemap_probe" -> ((s, dir) =>
      sitemapRecrawlFixture(s, dir)
        .select(col("doc_id"), col("lastmod_day"), col("recrawl"))
        .orderBy("doc_id")),

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
    "q_crawl_frontier" -> ((s, dir) => {
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
    }),

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
    "q_link_graph" -> ((s, dir) => {
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
    }),

    // anchor-text profile per target domain (the label the linking page
    // gives the target — the classic web-search relevance signal; the
    // edges' text complement of q_link_graph): anchors carry inner
    // MARKUP and an &amp; entity the extractor must strip/decode, a
    // no-href <a name=...> must be skipped, then tokens aggregate per
    // canonicalized target domain. Oracle predicts every (domain, term)
    // cell in closed form from doc_id — no HTML anywhere.
    "q_anchor_text" -> ((s, dir) => {
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
    }),

    // NFKC-lite normalization — the pre-hash cleanup (CCNet/Dolma) that
    // collapses cosmetically-different encodings before dedup: the
    // fixture is ASCII, so docs are enriched deterministically with
    // typographic quotes, soft hyphens and dashes, fullwidth ASCII +
    // ligatures, exotic spaces, and a control char + tab — every rule
    // class fires on its residue and the oracle replays enrichment AND
    // the full replace/translate/regex chain
    "q_text_normalize" -> ((s, dir) => {
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
    }),

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
    "q_domain_prior_model" -> ((s, dir) => {
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
    }),

    // exact dedup: canonical id per content hash
    // JSONL interchange round-trip: parquet truth → writeDocuments JSONL
    // → readDocuments (declared schema, PERMISSIVE quarantine) must
    // reproduce every value bit-for-bit, with two injected corrupt lines
    // landing in the _corrupt column instead of the clean rows — the one
    // operator family that had no CORRECTNESS row before round 9
    "q_jsonl_roundtrip" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tag = (dir.hashCode.toLong & 0xFFFFFFFFL).toHexString
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_$tag"
      sources.Jsonl.writeDocuments(docs, out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/zz_corrupt.json"),
        "this line is not json at all\n{\"doc_id\": \"not-a-long\"\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // localCheckpoint: one parse pass feeds both the quarantine count
      // and the clean rows (and sidesteps QUERY_ONLY_CORRUPT_RECORD_COLUMN)
      val back = sources.Jsonl.readDocuments(s, out).localCheckpoint()
      val nCorrupt = back.where(col("_corrupt").isNotNull).count()
      back.where(col("_corrupt").isNull)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .withColumn("n_corrupt", lit(nCorrupt))
        .orderBy("doc_id")
    }),

    "q_dedup_exact" -> ((s, dir) => {
      pipeline.Dedup.exactCanonical(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // exact 3-gram Jaccard similarity join (sparse, no cartesian product)
    // fuzzy-exact dedup: canonical per NORMALIZED content (case/punct/
    // whitespace-insensitive); norm_prefix makes the oracle check the
    // normalizer's string output per doc, not just the grouping
    "q_dedup_normalized" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val norm = pipeline.TextOps.normalizeText(col("text"))
      pipeline.Dedup.exactCanonicalBy(docs, norm)
        .join(docs.select(col("doc_id"),
          substring(norm, 1, 40).as("norm_prefix")), "doc_id")
        .orderBy("doc_id")
    }),

    "q_dedup_jaccard" -> ((s, dir) => {
      pipeline.Dedup.jaccardPairs(
        s.read.parquet(s"$dir/documents.parquet"), n = 3, theta = 0.5)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac_r"))
        .orderBy("i", "j")
    }),

    // edit-distance similarity join (Ed-Join: positional q-gram prefix
    // index, no all-pairs) on a 64-char key prefix — the oracle IS the
    // all-pairs levenshtein, so the lossless-filter claim is hash-checked.
    // q=8 (not the text-book 4): the fixture's word-salad text has a ~1k
    // 4-gram vocabulary, so short grams are all hot and prune nothing;
    // 8-grams are ~12k-distinct and cut the candidate set 3x (measured)
    "q_fuzzy_join" -> ((s, dir) => {
      val keyed = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), substring(col("text"), 1, 64).as("key"))
      pipeline.FuzzyJoin.editDistanceJoin(keyed, "doc_id", "key",
        maxDist = 4, q = 8)
        .orderBy("i", "j")
    }),

    // MinHash+LSH near-dedup, exact-verified — must recover the exact ≥θ
    // pair set (the oracle recomputes it by brute sparse join)
    "q_dedup_minhash" -> ((s, dir) => {
      pipeline.Dedup.minHashNearDups(
        s.read.parquet(s"$dir/documents.parquet"), n = 3, theta = 0.7)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac_r"))
        .orderBy("i", "j")
    }),

    // incremental exact dedup — a "new crawl" batch anti-joined against the
    // existing corpus on content hash. The batch is fresh docs (doc_id %
    // 5 = 0) plus a simulated RE-CRAWL (docs with doc_id % 7 = 0 under new
    // ids): re-crawls whose text lives in the corpus must be dropped,
    // everything genuinely new must survive — the filter provably does
    // both at every SF. The corpus side reduces to one slim hash column
    // before the join.
    "q_dedup_incremental" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val recrawl = docs.where(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
      val newBatch = docs.where(col("doc_id") % 5 === 0).unionByName(recrawl)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      pipeline.Dedup.exactIncremental(newBatch, corpus)
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),

    // incremental NEAR-dup dedup — the new batch's MinHash band keys probe
    // the corpus signature store (built in-call here; production persists
    // it), candidates exact-verified; only cross (corpus, batch) pairs,
    // corpus text touched only for candidate docs
    "q_dedup_incremental_minhash" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val newBatch = docs.where(col("doc_id") % 5 === 0)
      val corpus = docs.where(col("doc_id") % 5 =!= 0)
      pipeline.Dedup.minHashIncremental(newBatch, corpus, None, n = 3,
        theta = 0.7)
        .select(col("i"), col("j"), round(col("jaccard"), 6).as("jac_r"))
        .orderBy("i", "j")
    }),

    // C4-style GLOBAL line-level dedup (every distinct line keeps only
    // its corpus-wide first occurrence — the cross-document rule that
    // kills sitewide chrome per-doc dedup can't see): the single-line
    // fixture is regrouped into 8-token lines, which repeat heavily
    // across docs; the oracle replays the grouping, the packed-key
    // first-occurrence rule, and the in-order rebuild of every
    // surviving document
    "q_line_dedup" -> ((s, dir) =>
      pipeline.Dedup.dedupLines(multiLineDocs(s, dir)).orderBy("doc_id")),

    // per-source quota (a standard curation cap: no single source may
    // contribute more than k docs — largest-first, deterministic tiebreak).
    // The row_number + filter shape executes through Spark's
    // WindowGroupLimit, so the cap never ranks whole sources
    // (PlanShapeSpec pins the group limit here)
    "q_source_cap" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").desc, col("doc_id"))
      s.read.parquet(s"$dir/documents.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("source"), col("doc_id"), col("n_chars"), col("rn"))
        .orderBy("source", "rn")
    }),

    // duplicate CLUSTERS (connected components over the exact ≥0.7 pair
    // set) — the transitive-closure step a canonical-doc picker needs;
    // oracle recomputes components via a recursive reachability CTE, an
    // entirely independent algorithm (closure join vs label propagation)
    // sufficient-statistics model training: ridge-regress the round-6
    // quality score (micro-units) on (n_chars, n_tokens) — ONE map-side-
    // combinable pass reduces the corpus to exact long moments, the 3×3
    // solve is Cramer's rule in a fixed association order, and the oracle
    // recomputes the identical expansion term-for-term
    "q_ridge_quality" -> ((s, dir) => {
      import s.implicits._
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
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
    }),

    // leave-one-out influence (closed-form data attribution): which docs
    // the quality model owes its fit to — exact Sherman–Morrison LOO
    // residual e/(1−h) + leverage from the driver 3×3 inverse, scored as
    // a pure map-side projection; every IEEE step (moments → cofactor
    // inverse → quadratic form) mirrored term-for-term by the oracle
    "q_loo_influence" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: the LOO operator passes over feats twice
      // (moment aggregate + the residual/leverage projection)
      val feats = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
        .localCheckpoint()
      ops.Fit.looInfluenceD2(feats, "doc_id", "x1", "x2", "y", lambda = 1.0)
        .select(col("doc_id"),
          (round(col("resid"), 4) + 0.0).as("resid_r"),
          (round(col("leverage"), 9) + 0.0).as("leverage_r"),
          (round(col("loo_resid"), 4) + 0.0).as("loo_r"))
        .orderBy("doc_id")
    }),

    // split-conformal prediction intervals: distribution-free ±q around
    // the quality model's predictions with finite-sample ≥90% coverage
    // (Vovk/Lei split-conformal recipe) — hash three-way split, exact
    // nearest-rank conformal quantile on the calibration slice, integer
    // coverage count on the untouched test slice
    "q_conformal" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
      ops.Fit.conformalD2(feats, "doc_id", "x1", "x2", "y")
    }),

    // Mondrian (per-source) conformal: the marginal guarantee can hide
    // 99%-on-web / 60%-on-tail coverage — per-stratum quantiles from the
    // stratified prefix scan restore the guarantee PER SOURCE
    "q_conformal_mondrian" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: train + per-stratum rank + coverage passes
      val feats = docs.select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
        .localCheckpoint()
      ops.Fit.conformalMondrianD2(feats, "doc_id", "source",
          "x1", "x2", "y")
        .orderBy("source")
    }),

    // calibration report (reliability diagram) for the quality model:
    // equal-depth deciles by predicted score, mean predicted vs mean
    // actual per decile — rank from the two-phase prefix scan over the
    // quantized prediction, exact long sums, two terminal divisions
    "q_calibration" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // slim feature table materialized once: calibrationD2 consumes it
      // 3× (moment pass, count, rank scan) and each pass would otherwise
      // re-run the tokenize+quality trees over the corpus
      val feats = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
        .localCheckpoint()
      ops.Fit.calibrationD2(feats, "doc_id", "x1", "x2", "y", nBuckets = 10)
        .select(col("bucket"), col("n"), col("sp"), col("sy"),
          (round(col("mean_pred"), 6) + 0.0).as("mean_pred_r"),
          (round(col("mean_actual"), 6) + 0.0).as("mean_actual_r"))
        .orderBy("bucket")
    }),

    // distributed binary classifier (is-English from length/token-count):
    // IRLS over the ALGEBRAIC sigmoid — rational IEEE ops only, so
    // per-row weights are bit-identical cross-engine (exp would differ in
    // ulps and poison every sum); contributions quantized once to the
    // 1e-6 grid and summed as longs. 3 iterations = 3 corpus passes; the
    // oracle unrolls all 3 with the identical spelling.
    "q_logistic_lang" -> ((s, dir) => {
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
    }),

    // k-fold cross-validated ridge in two corpus passes: hash folds, ONE
    // grouped moment aggregate, leave-one-fold-out by exact long
    // subtraction (total − fold), per-fold Cramer in Columns, held-out
    // MSE over integer-rounded residuals (long SSE — no float order).
    // The oracle re-derives folds, moments, subtraction, weights, and
    // SSE term-for-term; every value hash-exact.
    "q_cv_ridge" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: cvRidgeD2 makes two passes (fold moments +
      // held-out scoring) over the tokenize+quality trees
      val feats = docs.select(col("doc_id"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
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
    }),

    // train→serve composition: fit the ridge quality model on the TRAIN
    // split only (the deterministic hash split), score EVERY doc with a
    // pure map-side projection (Fit.predict), keep each source's top-5 by
    // integer-rounded predicted quality — the ranking executes through
    // Spark's WindowGroupLimit, so no source is ranked whole
    "q_quality_model_topk" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // materialized once: consumed by the train-slice moment pass AND
      // the full scoring pass
      val feats = docs.select(col("doc_id"), col("source"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
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
    }),

    // per-group model training: the same ridge, per SOURCE, with the 3×3
    // Cramer solve expressed as Column arithmetic — one grouped hash
    // aggregate then a projection, fully distributed, no driver solve
    "q_ridge_by_source" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val feats = docs.select(col("source"),
        col("n_chars").cast("long").as("x1"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("x2"),
        floor(pipeline.TextOps.qualityExpr * 1e6 + 0.5).cast("long").as("y"))
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
    }),

    // link-graph centrality (crawl-curation prior): fixed-point PageRank
    // over the order↔supplier bipartite graph (namespaced node ids),
    // integer arithmetic end-to-end so 5 iterations of join+agg are
    // bit-identical cross-engine — the oracle unrolls the same recurrence
    // as chained CTEs (recursive CTEs can't aggregate)
    "q_pagerank" -> ((s, dir) => {
      // a deterministic 1/3 subgraph keeps the bench contract light; the
      // operator itself has no subsetting
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_orderkey") * 2).as("dst"))
      val edges = fwd.unionByName(rev).distinct()
      ops.Graph.pageRank(edges, iters = 5)
        .orderBy("node")
    }),

    // HITS hubs & authorities on the DIRECTED order→supplier bipartite
    // graph (same 1/3 subgraph as q_pagerank): hubs = orders spanning
    // reputable suppliers, authorities = suppliers reached by broad
    // orders — the two-role centrality PageRank's single score conflates.
    // Fixed-point integer with decimal-widened L1 normalization; the
    // oracle replays the full mutual recursion.
    "q_hits" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 3 === 0)
      val edges = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      ops.Graph.hits(edges, iters = 3)
        .orderBy("node")
    }),

    // exact per-node triangle counts on the supplier co-supply graph
    // (suppliers sharing an order — clique-per-order structure): the
    // local-clustering diagnostic that separates coherent similarity
    // families from blocking-artifact hubs. Degree-oriented wedge join —
    // Σ outdeg² = O(E^1.5) candidates on any graph, no hub blowup.
    "q_triangles" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      ops.Graph.triangleCounts(pairs,
        Some(s.read.parquet(s"$dir/supplier.parquet")
          .select(col("s_suppkey").as("node"))))
        .orderBy("node")
    }),

    // k-core of the part co-occurrence graph (parts sharing an order):
    // iterative peeling to the unique fixpoint at k=16 — the cohesion
    // gate separating interlinked families from hub/tendril artifacts.
    // Exact integer counting, confluent, so the oracle's unrolled peel
    // chain must match node-for-node incl. in-core degrees (measured
    // peel depth 3/7/6 at sf0.001/0.01/0.1; the oracle unrolls 12).
    "q_kcore" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      ops.Graph.kCore(pairs, k = 16).orderBy("node")
    }),

    // local clustering coefficient over the same co-supply graph: exact
    // integer numerator/denominator, one IEEE division per node
    "q_clustering_coeff" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      ops.Graph.clusteringCoefficients(pairs)
        .select(col("node"), col("deg"), col("triangles"),
          (round(col("coeff"), 6) + 0.0).as("coeff_r"))
        .orderBy("node")
    }),

    // personalized PageRank: restart mass teleports to a seed set (every
    // 10th supplier) — rank-by-proximity-to-trusted-nodes, the
    // TrustRank / topical-crawl-prioritization variant; same fixed-point
    // integer arithmetic, bit-identical to the unrolled oracle
    "q_ppr" -> ((s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_orderkey") * 2).as("dst"))
      val edges = fwd.unionByName(rev).distinct()
      val seeds = edges.select(col("dst").as("node"))
        .where(col("node") % 20 === 1)
        .distinct()
      ops.Graph.personalizedPageRank(edges, seeds, iters = 5)
        .orderBy("node")
    }),

    "q_dedup_clusters" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.duplicateClusters(
        docs.select("doc_id"), pairs.select("i", "j"))
        .orderBy("id")
    }),

    // what production dedup actually keeps: the BEST-quality member of
    // each near-dup cluster (not the min-id) — clusters via MinHash + CC,
    // representative via quality rank through WindowGroupLimit (k=1)
    "q_dedup_keep_best" -> ((s, dir) => {
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
    }),

    // leakage-safe split: splits assigned per near-dup CLUSTER (via
    // MinHash pairs + CC), so near-copies can never straddle train/eval —
    // the oracle re-derives the clusters through the recursive
    // reachability CTE and re-hashes the cluster label through the same
    // threshold rule as q_split_assign
    "q_split_leakage_safe" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.leakageSafeSplit(
        docs.select("doc_id"), pairs.select("i", "j"), splitFractions)
        .orderBy("id")
    }),

    // SimHash signatures, bit-for-bit vs the SQL recomputation
    "q_dedup_simhash" -> ((s, dir) => {
      pipeline.Dedup.simHashes(s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // SimHash near-dup pairs via banded blocking == all-pairs Hamming ≤ 3
    "q_simhash_pairs" -> ((s, dir) => {
      pipeline.Dedup.simHashNearDups(
        s.read.parquet(s"$dir/documents.parquet"), maxHamming = 3)
        .orderBy("i", "j")
    }),

    // span-level exact-substring dedup: pairs sharing a verbatim ≥40-char
    // run, via winnowing anchors (index ~2/(k+1) of offsets) + exact
    // L-gram verify on candidate docs only — the oracle brute-forces every
    // offset, so the anchor guarantee (no missed span) is hash-checked
    // gramWidth=32 (k=9): on repetitive web-ish text short grams are hot
    // (a 16-char gram recurs across hundreds of docs and the window-min
    // picks globally-small hashes), which made ~every doc a candidate;
    // 32-char anchors cut the candidate pair set from 250k to 322 vs 259
    // true pairs at sf0.1 (measured) at the price of a 2/(k+1)≈20% index
    "q_substring_dedup" -> ((s, dir) => {
      pipeline.Dedup.sharedSpanPairs(
        s.read.parquet(s"$dir/documents.parquet"), minLen = 40, gramWidth = 32)
        .orderBy("i", "j")
    }),

    // span-level duplicate REMOVAL (Lee et al. 2022 removal step): chars
    // covered by a >= 40-gram also present in a lower-id doc are cut, the
    // lowest doc keeps its text; candidates from winnowing anchors, cut
    // via one codegen'd interval-merge. The oracle brute-forces EVERY
    // offset and reconstructs the survivors char-by-char, so the full
    // surviving text hash-matches, not just counts.
    "q_substring_remove" -> ((s, dir) => {
      pipeline.Dedup.removeSharedSpans(
        s.read.parquet(s"$dir/documents.parquet"), minLen = 40, gramWidth = 32)
        .orderBy("doc_id")
    }),

    // corpus-frequency boilerplate removal (the C4/Dolma cleaning rule at
    // 3-gram granularity): a 3-token run seen in >= 5 DISTINCT docs is
    // chrome, and every covered token is cut from EVERY carrier —
    // frequency-based and symmetric, unlike the pairwise shared-span
    // surgery above. Oracle rebuilds the surviving text token-by-token,
    // so the full cleaned string hash-matches.
    "q_boilerplate_remove" -> ((s, dir) => {
      pipeline.TextOps.removeBoilerplateGrams(
        s.read.parquet(s"$dir/documents.parquet"), k = 3, minDf = 5L)
        .orderBy("doc_id")
    }),

    // cross-engine-exact distributed k-means (Lloyd in integer fixed
    // point): the SemDeDup/IVF clustering primitive as a verifiable
    // assignment, not just a recall floor — 3 assignment rounds, 2
    // truncated-integer-mean updates, argmin via one packed-long min
    "q_kmeans" -> ((s, dir) => {
      pipeline.Clustering.kmeansExact(
        s.read.parquet(s"$dir/embeddings.parquet"), k = 8, iters = 3)
        .orderBy("vec_id")
    }),

    // embedding near-dup: exact cosine ≥ θ pair set (left side spread over
    // the shuffle parallelism — the cross join inherits its partitioning,
    // and a 1-partition scan would serialize the N²/2 similarity work)
    "q_embed_neardup" -> ((s, dir) => {
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
    }),

    // similarity search: exact cosine top-k for a query set (broadcast)
    "q_ann_cosine" -> ((s, dir) => {
      import s.implicits._
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 20)
      pipeline.Ann.bruteTopK(corpus, queries, 5)
        .select(col("i"), col("j"), col("rn"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "rn")
    }),

    // hard-negative mining for contrastive training: per query the top-5
    // most-similar rows BELOW the near-dup bar (0.45 — q_embed_neardup's
    // threshold), so positives/near-dups never become negatives. Exact
    // full oracle: the same cosine ranking with the band filter.
    "q_hard_negatives" -> ((s, dir) => {
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 20)
      pipeline.Ann.hardNegatives(corpus, queries, 5, thetaDup = 0.45)
        .select(col("i"), col("j"), col("rn"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "rn")
    }),

    // similarity search, scale path: hyperplane LSH — recall floor vs the
    // exact top-k, deterministic in (seed, data) like q_knn_project
    "q_ann_lsh" -> ((s, dir) => {
      import s.implicits._
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val approx = pipeline.Ann.lshTopK(corpus, queries, k,
        tables = annLshTables, bits = annLshBits, dim = embeddingDim, seed = 42L)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.8).cast("long").as("recall_ok"))
    }),

    // similarity search, quantizer path: spherical-k-means IVF — recall
    // floor vs exact top-k (the fixture embeddings are near-isotropic, so
    // the cell/neighborhood alignment — and hence the floor — is modest;
    // measured 0.886 at nlist=16, nprobe=10)
    "q_ann_ivf" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.ivfBuild(corpus, nlist = 16, iters = 5, seed = 42L)
      val approx = pipeline.Ann.ivfTopK(idx, queries, k, nprobe = 10)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.75).cast("long").as("recall_ok"))
    }),

    // similarity search, memory-bound path: product quantization — unit
    // vectors quantized to 32 per-subspace codes (512 B → ~24 B packed),
    // queries scored by ADC table lookups over the codes scan only.
    // Measured recall@10 vs exact: 0.85 sf0.001 / 0.83 sf0.01 (m=32,
    // ksub=64, near-isotropic fixture — the hard case); floor 0.7.
    "q_ann_pq" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.pqBuild(corpus, m = 32, ksub = 64, iters = 5, seed = 42L)
      val approx = pipeline.Ann.pqTopK(idx, queries, k)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.7).cast("long").as("recall_ok"))
    }),

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
    "q_ann_ivfpq" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val m = if (corpus.count() <= 10000) 32 else 64
      val idx = pipeline.Ann.ivfPqBuild(corpus, nlist = 16, m = m,
        ksub = 64, iters = 5, seed = 42L)
      val approx = pipeline.Ann.ivfPqTopK(idx, queries, k, nprobe = 10)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.6).cast("long").as("recall_ok"))
    }),

    // IVF-PQ + exact refinement (FAISS IndexRefineFlat shape): ADC builds
    // a 4k shortlist from codes alone, then ONLY shortlist rows' original
    // vectors are fetched (two slim id equi-joins) and rescored with
    // exact cosine — the recall lever a bigger code budget can't buy.
    // Measured recall@10 vs exact: 0.892 sf0.001 / 0.886 sf0.01 /
    // 0.877 sf0.1 (saturated at the probe ceiling by refine=4; ADC-only
    // is 0.69-0.77 on the same index). Floor 0.75.
    "q_ann_ivfpq_refine" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.ivfPqBuild(corpus, nlist = 16, m = 32,
        ksub = 64, iters = 5, seed = 42L)
      val approx = pipeline.Ann.ivfPqRefineTopK(idx, corpus, queries, k,
        nprobe = 10, refine = 4)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.75).cast("long").as("recall_ok"))
    }),

    // similarity search, scalar-quantization path: SQ8 (FAISS
    // IndexScalarQuantizer QT_8bit shape) — per-dim affine byte codes,
    // 512 B float vectors scanned as 64 B rows with the query folded into
    // base + per-dim weights. 8 bits/dim is near-lossless on unit vectors:
    // measured recall@10 vs exact 0.993 sf0.001 / 0.988 sf0.01; floor 0.9
    // (vs PQ's 0.7 — the ladder's fidelity/byte trade made measurable).
    "q_ann_sq" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val idx = pipeline.Ann.sqBuild(corpus)
      val approx = pipeline.Ann.sqTopK(idx, queries, k)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.9).cast("long").as("recall_ok"))
    }),

    // multimodal plumbing: binary payloads + stub decode + frame samples
    "q_multimodal_features" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      // the oracle samples characters (substr/ascii) where Spark samples
      // payload BYTES at byte offsets — only equivalent while every
      // document is ASCII. The guard is part of the hash-checked output
      // (ascii_ok, mirrored in the oracle SQL) instead of an eager
      // pre-scan, so the check costs no extra job and a non-ASCII fixture
      // fails the CORRECTNESS hash loudly.
      val asciiOk = docs.select(col("doc_id").as("id"),
        (octet_length(col("text")) === length(col("text"))).cast("long").as("ascii_ok"))
      val mm = pipeline.Multimodal.fromDocuments(docs)
      val feats = pipeline.Multimodal.decodeFeatures(mm, featureDim = 4)
        .select(col("id") +: (0 until 4).map(m =>
          round(col("features")(m), 9).as(s"f${m}_r")): _*)
      val samples = pipeline.Multimodal.frameSample(mm, n = 4)
        .select((col("id") :: col("byte_len") :: (0 until 4).map(i =>
          col("samples")(i).as(s"s$i")).toList): _*)
      feats.join(samples, "id").join(asciiOk, "id").orderBy("id")
    }),

    // JPEG re-encode invariance as a DRIVER row (the contract
    // MultimodalPhashSpec pins in specs, machine-checked per scale):
    // each doc renders a deterministic smooth grayscale scene seeded by
    // doc_id, encoded once as lossless PNG and once as a
    // brightness-shifted lossy JPEG — both through the REAL ImageIO
    // codec; the dHash of the two encodings must land within Hamming 3.
    // The oracle is the contract itself (within = 1 for every doc) —
    // the flag is earned by real codec work, the gate-row pattern of
    // q_ann_sq's recall floor.
    "q_phash_invariance" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      // ONE pass: the two encodings ride as two rows (kind bit in the
      // id) through a single decode+hash, then pair up in one map-side-
      // combinable aggregate — the two-branch spelling re-ran the
      // synthesis+encode per branch and paid a join (r11: 7.6 s → the
      // minimum 2 encodes + 2 decodes per doc)
      val mm = ids.flatMap { id => Seq(
          (id * 2, synthImageBytes(id, "png", brighten = 0)),
          (id * 2 + 1, synthImageBytes(id, "jpg", brighten = 10)))
        }.toDF("id", "payload")
        .select(col("id"), lit("image").as("modality"), col("payload"),
          struct(octet_length(col("payload")).cast("long").as("byte_len"),
            lit("synth").as("source")).as("meta"))
      val dec = pipeline.Multimodal.decodeImageLumaGridFor(11, 6) _
      pipeline.Multimodal.perceptualHashes(mm, 11, 6, dec)
        .groupBy(shiftright(col("id"), 1).as("doc_id"))
        .agg(max(when(col("id") % 2 === 0, col("phash"))).as("h1"),
          max(when(col("id") % 2 === 1, col("phash"))).as("h2"))
        .select(col("doc_id"),
          (call_function("bit_count", col("h1").bitwiseXOR(col("h2"))) <= 3)
            .cast("long").as("within"))
        .orderBy("doc_id")
    }),

    // perceptual image hashing (dHash) through the multimodal decode
    // seam: stub decoder so the DuckDB oracle replays decode + bit-pack
    // exactly; the REAL ImageIO path and the banded Hamming near-dup
    // blocking are pinned in MultimodalPhashSpec on synthesized PNGs
    "q_phash" -> ((s, dir) => {
      pipeline.Multimodal.perceptualHashes(
        pipeline.Multimodal.fromDocuments(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("id")
    }),

    // envelope-gradient audio signatures (perceptual hashing's audio
    // analog, gain-invariant by construction): stub decoder so the
    // oracle replays decode + bit-pack exactly; the REAL WAV codec path
    // and the banded near-dup blocking are pinned in MultimodalPhashSpec
    "q_audio_sig" -> ((s, dir) => {
      pipeline.Multimodal.audioSignatures(
        pipeline.Multimodal.fromDocuments(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("id")
    }),

    // per-frame video fingerprints (frame-sampled dHash, 4 frames × 56
    // bits): stub decoder so the oracle replays decode + bit-pack exactly;
    // the real animated-GIF path + the per-frame banded near-dup vote are
    // pinned in MultimodalPhashSpec
    "q_video_sig" -> ((s, dir) => {
      pipeline.Multimodal.videoSignatures(
        pipeline.Multimodal.fromDocuments(
          s.read.parquet(s"$dir/documents.parquet")))
        .orderBy("id", "frame")
    }),

    // MP4 container probe end-to-end: per doc a synthetic ISO BMFF file
    // is assembled (3..7 samples of md5-derived ASCII bytes split into 2
    // chunks), the REAL box-walk parser locates the strided samples, and
    // the extracted bytes are emitted. The oracle predicts every value in
    // CLOSED FORM — no parsing — so a mis-walked offset (wrong chunk run,
    // wrong size sum) surfaces as a hash mismatch on the extracted text.
    "q_mp4_probe" -> ((s, dir) => {
      import s.implicits._
      val ids = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id")).as[Long]
      val mm = ids.mapPartitions { it =>
        it.map { id =>
          val n = 3 + (id % 5).toInt
          val samples = (0 until n).map { k =>
            val len = 5 + ((k + id) % 7).toInt
            pipeline.Hashing.md5Hex(s"$id#$k".getBytes("UTF-8"))
              .substring(0, len).getBytes("ISO-8859-1")
          }
          val c1 = (n + 1) / 2
          (id, pipeline.Multimodal.buildMp4(samples, Seq(c1, n - c1))._1)
        }
      }.toDF("id", "payload")
      pipeline.Multimodal.mp4FrameProbe(mm, nFrames = 4)
        .select(col("id").as("doc_id"), col("frame"), col("sample_index"),
          col("sample_bytes").cast("string").as("sample_text"))
        .orderBy("doc_id", "frame")
    }),

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
    "q_warc_probe" -> ((s, dir) => {
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
    }),

    // embedding near-dup, scale path: hyperplane-LSH blocking + exact
    // verify must recover the exact ≥θ pair set (oracle = all-pairs SQL)
    "q_embed_neardup_lsh" -> ((s, dir) => {
      val corpus = IO.readEmbeddings(s, dir)
      pipeline.Ann.lshNearDupPairs(corpus, theta = 0.45,
        tables = 64, bits = 4, dim = embeddingDim, seed = 42L)
        .select(col("i"), col("j"), round(col("sim"), 6).as("sim_r"))
        .orderBy("i", "j")
    }),

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
    "q_semantic_dedup" -> ((s, dir) => {
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
    }),

    // semantic dedup END-TO-END FROM TEXT: tfidf vectors → k-means-cell
    // candidates → exact cosine verify — no external embedding model
    // anywhere in the chain. Same gate structure as q_semantic_dedup; the
    // oracle recomputes n_exact from ITS OWN tf-idf via a sparse bucket
    // join (θ = 0.95 sits in a measured 0.003-wide cosine gap, so float
    // association order can't flip a pair across engines). doc_id < 600
    // bounds the N² parity side at every sf
    "q_semantic_dedup_text" -> ((s, dir) => {
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
    }),

    // prototypicality (SemDeDup/D4 pruning signal): cosine to the cluster
    // centroid, top-5 most prototypical per label through Spark's
    // WindowGroupLimit — exact, so the oracle recomputes it in full
    "q_prototypes" -> ((s, dir) => {
      val e = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"),
          col("embedding").cast("array<double>").as("vec"), col("label"))
      pipeline.Prototypes.topPrototypes(e, "label", "vec_id", "vec", k = 5)
        .select(col("label"), col("id").as("vec_id"),
          (round(col("proto_sim"), 6) + 0.0).as("proto_sim_r"),
          col("rn").cast("long").as("rn"))
        .orderBy("label", "rn")
    }),

    // ---------------- event-stream operators (batch-verifiable forms of
    // the Structured Streaming module; EventsStreamingSpec drives the same
    // functions through MemoryStream + watermarks) ----------------------

    // tumbling-window aggregation (event time). Timestamps cross the
    // DuckDB-compare boundary as epoch seconds: a raw TIMESTAMP column
    // hash-compares differently depending on the reader's tz/type mapping,
    // an integer never does.
    "q_events_window" -> ((s, dir) => {
      streaming.Events.windowedStats(streaming.Events.readEvents(s, dir), "1 hour")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
          col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value_r"))
        .orderBy("window_start_s", "event_type")
    }),

    // event-rate anomaly flags: windows whose count sits 3σ above the
    // type's own mean — exact integer test (no sqrt, no float), per-type
    // moments re-aggregated from the window-count table and broadcast
    "q_rate_anomaly" -> ((s, dir) => {
      streaming.Events.rateAnomalies(streaming.Events.readEvents(s, dir),
          "1 hour")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
          col("event_type"), col("n"), col("is_anomaly"))
        .orderBy("window_start_s", "event_type")
    }),

    // exact two-proportion A/B test: hash arms, distinct-user conversion
    // to 'purchase', χ² verdict by integer cross-multiplication in
    // DECIMAL(38) (critical value as the rational 384/100) — no float
    // anywhere, the oracle replays every count and the comparison
    "q_ab_test" -> ((s, dir) => {
      streaming.Events.abTest(streaming.Events.readEvents(s, dir), "purchase")
    }),

    // CUSUM sequential drift monitor: per-type running max(0, S+(n−k))
    // over hourly counts, alarm at S > 3k — catches the sustained small
    // shift the 3σ point test (q_rate_anomaly) can't see. Exact integer
    // recurrence; the oracle replays it as a recursive CTE.
    "q_cusum_drift" -> ((s, dir) => {
      streaming.Events.cusumDrift(streaming.Events.readEvents(s, dir),
          "1 hour")
        .orderBy("window_start_s", "event_type")
    }),

    // sliding (hopping) event-time windows: 1-hour stats every 15
    // minutes — each event fans out to 4 windows map-side, one hash agg
    "q_events_sliding" -> ((s, dir) => {
      streaming.Events.slidingStats(streaming.Events.readEvents(s, dir),
          "1 hour", "15 minutes")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
          col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value_r"))
        .orderBy("window_start_s", "event_type")
    }),

    // gap-based session windows per user (keyed incremental state when
    // streaming; gaps-and-islands SQL for the oracle). Session starts carry
    // microseconds → epoch micros, same tz-proofing as above.
    "q_events_sessions" -> ((s, dir) => {
      streaming.Events.sessionStats(streaming.Events.readEvents(s, dir), "30 minutes")
        .select(unix_micros(col("session_start")).as("session_start_us"),
          col("user_id"), col("n_events"), col("sum_value_r"))
        .orderBy("user_id", "session_start_us")
    }),

    // JSON-ish property extraction + aggregation
    "q_events_json" -> ((s, dir) => {
      streaming.Events.propsStats(streaming.Events.readEvents(s, dir))
        .orderBy("event_type")
    }),

    // stream-static enrichment: events ⋈ broadcast customer dimension,
    // aggregated per market segment — the zero-shuffle lookup shape; the
    // streaming form (stream-static join per micro-batch) is pinned
    // streaming≡batch by EventsStreamingSpec
    "q_events_enrich" -> ((s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      streaming.Events.enrichWithDim(ev, cust)
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"),
          round(ops.ExactNum.gridSumFast(col("value")), 6).as("sum_value_r"))
        .orderBy("c_mktsegment", "event_type")
    }),

    // keyed-state accumulator (flatMapGroupsWithState) in its batch form:
    // one micro-batch holding the whole table, so each user emits exactly
    // its final running profile — SUM/COUNT per user for the oracle. The
    // streaming form (incremental state across micro-batches) is pinned
    // streaming≡batch by EventsStreamingSpec.
    "q_events_running_totals" -> ((s, dir) => {
      streaming.Events.userRunningTotals(streaming.Events.readEvents(s, dir))
        .toDF()
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 6).as("total_value_r"))
        .orderBy("user_id")
    }),

    // as-of join: every click event joined to the same user's latest view
    // at or before it (left-outer). Union-and-carry-forward shape — one
    // keyed shuffle, no per-key cross product; oracle is DuckDB's native
    // ASOF LEFT JOIN, an independent implementation of the same semantics.
    "q_asof_join" -> ((s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"),
          unix_micros(col("ts")).as("v_ts_us"), col("value").as("v_val"))
      ops.TemporalJoins.asOfJoin(clicks, views, Seq("user_id"),
        leftTs = "ts_us", rightTs = "v_ts_us",
        rightVals = Seq("v_ts_us", "v_val"), rightTieBreak = Some("v_id"))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("v_ts_us"),
          round(col("v_val"), 6).as("v_val_r"))
        .orderBy("event_id")
    }),

    // band (range) self-join: pairs of events of one user within 30 min,
    // via time-bucketed equi-joins (bin, bin+1) — never a per-key cross
    // product; oracle is the plain inequality join
    "q_range_join" -> ((s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      ops.TemporalJoins.bandJoin(ev, Seq("user_id"), "ts_us", "event_id",
        bandUs = 30L * 60 * 1000000)
        .select(col("user_id"), col("i"), col("j"), col("dt_us"))
        .orderBy("i", "j")
    }),

    // skew-safe distinct count: dedupe-then-count (two skew-free shuffles)
    // instead of countDistinct's single final reducer per key
    "q_skew_distinct" -> ((s, dir) => {
      ops.Skew.distinctCountByKey(s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_returnflag"), "l_orderkey", outCol = "n_orders")
        .orderBy("l_returnflag")
    }),

    // salted two-phase sum — same result as the plain grouped sum, hot keys
    // spread over 16 reducers in phase 1
    "q_salted_agg" -> ((s, dir) => {
      ops.Skew.saltedSum(s.read.parquet(s"$dir/lineitem.parquet")
          .withColumn("l_quantity", ops.ExactNum.gridLong(col("l_quantity"), 2)),
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"),
        saltFrom = "l_orderkey", salts = 16)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("sum_l_quantity") / lit(100.0), 4).as("sum_qty_r"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // HyperLogLog++ distinct sketch, checked against its error contract
    // (same boolean-contract pattern as the ANN recall queries)
    "q_sketch_distinct" -> ((s, dir) => {
      ops.Sketches.distinctWithinRsd(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_orderkey", rsd = 0.05)
    }),

    // count-min sketch over the token stream, checked against the exact
    // heavy-hitter counts (never underestimates; over by at most eps*n)
    "q_sketch_topk_tokens" -> ((s, dir) => {
      val toks = s.read.parquet(s"$dir/documents.parquet")
        .select(explode(pipeline.TextOps.tokens(col("text"))).as("tok"))
      ops.Sketches.heavyHittersWithinError(toks, "tok", topN = 20,
        eps = 0.001, confidence = 0.99, seed = 42)
    }),

    // quantile sketch (approx_percentile), checked by true rank error
    "q_sketch_quantiles" -> ((s, dir) => {
      ops.Sketches.quantilesWithinRankError(
        s.read.parquet(s"$dir/lineitem.parquet"), "l_extendedprice",
        qs = Seq(0.5, 0.9, 0.99), accuracy = 10000, rankTol = 0.005)
    }),

    // deterministic hash sampling — reproducible corpus slicing: membership
    // is a pure map-side predicate on md5-60bit(key#salt), so the oracle
    // recomputes the *exact* selected set (df.sample() could never be
    // cross-checked this way)
    "q_sample_uniform" -> ((s, dir) => {
      ops.Sampling.hashSample(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", 0.1, "train")
        .select("doc_id").orderBy("doc_id")
    }),

    // stratified variant: per-language mixing weights (the corpus-mixing
    // primitive of a training-data pipeline)
    "q_sample_stratified" -> ((s, dir) => {
      ops.Sampling.stratifiedHashSample(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "zh" -> 0.1), "mix")
        .select("doc_id", "lang").orderBy("doc_id")
    }),

    // token-budget mixture: the mix specified in TOKENS per source, not
    // rates — the deterministic hash-ordered prefix per stratum whose
    // running token total fits the budget
    "q_sample_token_budget" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val projected = docs.select(col("doc_id"), col("source"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      ops.Sampling.tokenBudgetSample(projected, "doc_id", "source",
        col("n_tokens"),
        Map("src0" -> 800L, "src1" -> 500L, "src2" -> 10000L), salt = "mix")
        .select("doc_id", "source", "n_tokens", "cum_tokens")
        .orderBy("doc_id")
    }),

    // waterfill (capped-proportional) global token budget: 4/5 of the
    // corpus' tokens allocated across languages — small languages taken
    // in full, the leftover re-floods the rest, remainder +1 to the
    // lexicographically smallest survivors; per-language selection is
    // the same hash-ordered token prefix as q_sample_token_budget
    "q_waterfill_budget" -> ((s, dir) => {
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
    }),

    // skew-safe salted equi-join: the hot-key join spelled by hand
    // (deterministic salt from o_orderkey, small side replicated 8×) —
    // must equal the plain join row-for-row, so the oracle just joins
    "q_salted_join" -> ((s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      ops.Skew.saltedJoin(ord, cust, Seq("o_custkey"), col("o_orderkey"),
        factor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("sum_price_r"))
        .orderBy("c_mktsegment")
    }),

    // hashing-trick TF-IDF featurization (long format): the text→vector
    // bridge into the ANN/semantic operators — token buckets via hash60
    // mod dim, smoothed idf, every weight recomputed exactly in SQL
    "q_tfidf" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.tfidfBuckets(docs, dim = 64)
        .select(col("doc_id"), col("bucket"),
          round(col("w"), 6).as("w_r"))
        .orderBy("doc_id", "bucket")
    }),

    // Okapi BM25 top-k retrieval (doc-length-normalized lexical ranking,
    // Lucene idf): queries are every 97th doc's first 5 tokens; each
    // (query, term, doc) contribution is quantized to 1e-6-grid longs
    // BEFORE summing so the score is an order-free integer sum, ranked by
    // (score_u, doc_id) through Spark's WindowGroupLimit. The oracle
    // replays idf, length norm, quantization, and the rank rule
    // association-order-exactly.
    "q_bm25_topk" -> ((s, dir) => {
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
    }),

    // EXACT per-source quantiles (nearest-rank, integer arithmetic) — the
    // exact counterpart of q_sketch_quantiles, through the two-phase
    // prefix scan + a broadcast target join instead of a one-task sort
    "q_exact_quantiles" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      ops.Sketches.exactQuantilesPerStratum(
        docs.select("doc_id", "source", "n_chars"),
        "doc_id", "source", "n_chars",
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L)),
          "p99" -> ((99L, 100L))),
        salt = "eq0")
        .orderBy("source", "quantile")
    }),

    // token-WEIGHTED per-source quantiles of document length: the value
    // where the cumulative TOKEN mass (not row count) crosses ceil(q·W) —
    // the datacard stat a handful of huge docs moves while a row median
    // sits still; targets in exact integer arithmetic, crossing test all-long
    "q_weighted_quantiles" -> ((s, dir) => {
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
    }),

    // temperature mixture sampling (α = 0.5): per-source doc targets
    // ∝ √count — engine-exact by construction (floor(sqrt) integer
    // weights, integer target division), so the oracle re-derives the
    // targets from COUNT(*) and must agree bit-for-bit
    "q_sample_temperature" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      ops.Sampling.temperatureSample(docs.select("doc_id", "source"),
        "doc_id", "source", totalDocs = 400L, salt = "temp0")
        .select("doc_id", "source", "stratum_rank").orderBy("doc_id")
    }),

    // per-source top-fraction quality gate ("keep the best 20% of each
    // source"): rational fraction (1/5), integer ceil cutoffs, hash
    // tie-break — the scale-safe replacement for a PERCENT_RANK window.
    // n_chars stands in for the quality score so the ordering is
    // integer-exact across engines (ties are broken by the hash order,
    // which the oracle replays)
    "q_quality_topfrac" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      ops.Sampling.topFractionPerStratum(
        docs.select("doc_id", "source", "n_chars"),
        "doc_id", "source", col("n_chars"), keepNum = 1L, keepDen = 5L,
        salt = "qf0")
        .select("doc_id", "source", "n_chars", "stratum_rank")
        .orderBy("doc_id")
    }),

    // DSIR data selection (Xie et al. 2023): hashed unigram+bigram
    // importance weights toward the English subset, Gumbel-top-k resample
    // of the best quarter — weights and scores are integer micro-units
    // (long sums, no float-order anywhere), selection through the shared
    // two-phase prefix scan (no single-task window)
    "q_dsir_select" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.Dsir.resample(docs, col("lang") === "en", buckets = 1024,
          keepNum = 1L, keepDen = 4L, salt = "dsir0")
        .orderBy("doc_id")
    }),

    // BPE tokenizer-vocabulary learning (Sennrich et al. 2016): one
    // corpus pass reduces to the distinct-word count table; every merge
    // round then runs on that vocab-sized table (the shape production
    // tokenizer trainers use) — the learned merge list is a pure function
    // of the corpus (ties by pair text), so the oracle re-learns it
    "q_bpe_merges" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.Bpe.learnMerges(docs, nMerges = 12).orderBy("step")
    }),

    // BPE inference: per-doc subword counts under the learned merges —
    // a pure map-side projection (the merges broadcast as literals)
    "q_bpe_segment" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val m = pipeline.Bpe.learnMerges(docs, nMerges = 12).collect()
        .sortBy(_.getLong(0)).map(r => (r.getString(1), r.getString(2))).toSeq
      pipeline.Bpe.segment(docs, m).orderBy("doc_id")
    }),

    // WordPiece-style greedy longest-match segmentation (the counterpart
    // of q_bpe_segment's merge-order replay — the two rules genuinely
    // differ): vocab = top-24 frequent substrings (len 2..6, ties by
    // unit), segmentation = a HOF fold advancing a cursor by the longest
    // matching unit, once per DISTINCT word. seg_sig pins the exact
    // piece sequence of every occurrence (order-free mod-sum of hash60),
    // not just counts; the oracle replays learning + greedy matching via
    // a recursive CTE with MAX(len(unit)) correlated matching
    "q_wordpiece_segment" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val vocab = pipeline.Wordpiece.learnVocab(docs, k = 24, maxLen = 6)
      pipeline.Wordpiece.segment(docs, vocab).orderBy("doc_id")
    }),

    // the Gopher rule gate (Rae et al. 2021 §A1.1; reused by Dolma /
    // FineWeb) — the NAMED pre-filter rule set, as seven per-rule flags
    // + the conjunction, every ratio an integer cross-multiplication.
    // Runs over the multi-line regrouping (line rules need lines) with
    // deterministic enrichment so every rule arm actually fires in the
    // fixture: doc_id%7 gets bullet lines, %5==3 an ellipsis line,
    // %11==4 hash symbols — the Luhn-row pattern
    "q_gopher_rules" -> ((s, dir) => {
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
    }),

    // DoReMi-lite mixture solving (Xie et al. 2023): per-domain hardness
    // (a bytes-per-token compression proxy, one hash agg over the
    // corpus) drives 5 rounds of integer multiplicative weights — the
    // step that decides HOW MUCH of each source enters the training
    // blend after curation decided WHAT may enter
    "q_mixture_weights" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val t = pipeline.TextOps.tokens(col("text"))
      val per = docs.select(col("source").as("domain"),
        length(col("text")).cast("long").as("nc"),
        size(t).cast("long").as("nt"))
      val losses = per.groupBy("domain").agg(
        call_function("div", sum(col("nc")) * lit(1000000L),
          greatest(sum(col("nt")), lit(1L))).as("loss_u"))
      pipeline.Mixture.mixtureWeights(losses).orderBy("domain")
    }),

    // the tokenizer trio's third member: unigram-LM Viterbi min-cost
    // segmentation (SentencePiece's inference rule) over a
    // frequency-scored vocabulary — searches ALL segmentations by DP
    // where BPE replays merge order and WordPiece commits greedily; the
    // per-word best cost and the exact piece sequence of every word ride
    // the output (cost sum + hashed segmentation signature)
    "q_unigram_segment" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val model = pipeline.Unigram.learnModel(docs, k = 24, maxLen = 6)
      pipeline.Unigram.segment(docs, model).orderBy("doc_id")
    }),

    // fixed-size training chunks with stride overlap (64-token windows
    // every 48): pure generator expressions, fan-out ∝ tokens/stride —
    // the upstream neighbor of sequence packing
    "q_doc_chunks" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.chunkDocuments(docs, maxTokens = 64, stride = 48)
        .orderBy("doc_id", "chunk_index")
    }),

    // deterministic epoch shuffle + fixed-size shard assignment (terasort
    // global rank — no single-partition window anywhere; OpsSpec pins
    // partition-count invariance)
    "q_shard_assignment" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id")
      ops.Sharding.assignShards(docs, "doc_id", shardSize = 32L,
        salt = "epoch0")
        .orderBy("doc_id")
    }),

    // concat-and-chop sequence packing: each doc's slice of the global
    // token stream (two-phase distributed prefix sum, not a one-task
    // window), checked against DuckDB's running-total window
    "q_pack_sequences" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val projected = docs.select(col("doc_id"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      ops.Packing.packSequences(projected, "doc_id", "n_tokens",
        seqLen = 256L, salt = "pack")
        .orderBy("doc_id")
    }),

    // boundary-preserving packing: next-fit bins per 512-doc shard that
    // NEVER split a document across training rows (the no-cross-
    // contamination alternative to q_pack_sequences' concat-and-chop);
    // the sequential fold is bounded per shard, and the oracle replays
    // it as a recursive CTE
    "q_pack_nosplit" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val projected = docs.select(col("doc_id"),
        size(pipeline.TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      ops.Packing.packBinsNoSplit(projected, "doc_id", "n_tokens",
        capacity = 256L, shardSize = 512L)
        .orderBy("id")
    }),

    // the operators composed into the actual use-case: quality filter →
    // language filter → exact dedup (keep canonical) → deterministic
    // train-slice sample — one curation pass over the corpus, exactly
    // recomputable by the oracle
    "q_curation_e2e" -> ((s, dir) => {
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
    }),

    // the full training-output path in ONE declarative plan: quality gate
    // → exact dedup (keep canonical) → per-source token budget → sequence
    // packing. Every stage deterministic; the oracle replays the whole
    // chain, so the hash pins the composition, not just the parts. The
    // emitted row is the complete audit trail (budget position + stream
    // slice per surviving doc).
    "q_pipeline_to_shards" -> ((s, dir) => {
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
    }),

    // the same composed training-output path in the SKEWED regime the
    // two-phase budget scan exists for: sources collapsed so one stratum
    // ("web", ~80% of the corpus) dominates the mix — the distribution
    // where the naive per-stratum window would funnel most of the corpus
    // through one task. Same chain, different stratum shape; the oracle
    // replays it with the dominant-source mapping inline.
    "q_pipeline_to_shards_skewed" -> ((s, dir) => {
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
    }),

    // §2.2 vocabulary — CUBE grouping sets (all 2^d subtotal combinations;
    // ROLLUP's hierarchical subset is pinned by q_rollup_lineitem)
    "q_cube_lineitem" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(ops.ExactNum.gridSumFast(col("l_quantity"), 2), 4).as("sum_qty_r"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty_r"))
        .orderBy("rf", "ls")
    }),

    // §2.2 vocabulary — ROLLUP grouping sets (subtotals + grand total)
    "q_rollup_lineitem" -> ((s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(ops.ExactNum.gridSumFast(col("l_quantity"), 2), 4).as("sum_qty_r"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty_r"))
        .orderBy("rf", "ls")
    }),

    // stream-stream interval join in its batch-verifiable form (the
    // streaming run of the same function is pinned by EventsStreamingSpec)
    "q_interval_join" -> ((s, dir) => {
      streaming.Events.clickViewIntervalJoin(
        streaming.Events.readEvents(s, dir), "30 minutes")
        .select(col("user_id"), col("click_id"), col("view_id"), col("gap_us"))
        .orderBy("click_id", "view_id")
    }),

    // §2.2 vocabulary — semi/anti joins (EXISTS / NOT EXISTS): customers
    // partitioned by whether they have any order, one row per customer
    "q_semi_anti" -> ((s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("c_custkey"))
      val withOrders = customer.join(orders, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), lit(1L).as("has_orders"))
      val withoutOrders = customer.join(orders, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), lit(0L).as("has_orders"))
      withOrders.union(withoutOrders).orderBy("c_custkey")
    }),

    // §2.3 vocabulary — full outer join: customers vs a value-bearing
    // order aggregate, both unmatched sides preserved
    "q_outer_join" -> ((s, dir) => {
      val perCust = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("rev"))
        .where(col("o_custkey") % 3 === 0)
      val customer = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
        .where(col("c_custkey") % 2 === 0)
      customer.join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_nationkey"), col("rev"))
        .orderBy("custkey")
    }),

    // §2.3 vocabulary — set ops: INTERSECT and EXCEPT (distinct semantics)
    "q_set_ops" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val en = docs.where(col("lang") === "en").select("doc_id")
      val sampled = ops.Sampling.hashSample(docs, "doc_id", 0.5, "train")
        .select("doc_id")
      val both = en.intersect(sampled).select(col("doc_id"), lit("both").as("tag"))
      val only = en.except(sampled).select(col("doc_id"), lit("only_en").as("tag"))
      both.union(only).orderBy("doc_id")
    }),

    // §2.3 vocabulary — the wider window-function family over one pass:
    // lag, lead, dense_rank, ntile, running sum
    "q_window_family" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          dense_rank().over(w.orderBy(col("o_orderpriority"), col("o_orderkey")))
            .cast("long").as("prio_rank"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(sum(ops.ExactNum.gridLong(col("o_totalprice"), 2)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            / lit(100.0), 2)
            .as("run_rev"))
        .orderBy("o_custkey", "o_orderkey")
    }),

    // §2.3 vocabulary — pivot (long → wide): order counts per status
    "q_pivot_orders" -> ((s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }),

    // bucketed co-located join: both sides written bucketBy(custkey) once,
    // then joined with zero exchanges (BucketingSpec pins the plan); the
    // result must equal the plain join the oracle computes
    "q_bucketed_join" -> ((s, dir) => {
      // write once per (session, sf dir), reuse after: the point of the
      // layout is that the write is paid once and every later join is
      // exchange-free — the bench's second run then times the join, not
      // the writes. Table names carry the sf-dir hash so a session that
      // touches several scale factors can't reuse the wrong data.
      val tag = (dir.hashCode.toLong & 0xFFFFFFFFL).toHexString
      val (tOrders, tCustomer) = (s"bq_orders_$tag", s"bq_customer_$tag")
      // reclaim bucketed-table directories orphaned by previous sessions
      // (their catalog entries died with the session; ours are registered).
      // SERIAL-HARNESS ASSUMPTION: a concurrent session's live bq_* tables
      // would look like orphans to this catalog check — the harness never
      // runs two sbt sessions against one working dir (verify SKILL.md
      // gotcha), which is what makes this sweep safe.
      ops.Bucketing.sweepStaleTables(s)
      if (!s.catalog.tableExists(tOrders))
        ops.Bucketing.writeBucketed(
          s.read.parquet(s"$dir/orders.parquet")
            .select(col("o_custkey"), col("o_totalprice")),
          tOrders, "o_custkey", buckets = 8)
      if (!s.catalog.tableExists(tCustomer))
        ops.Bucketing.writeBucketed(
          s.read.parquet(s"$dir/customer.parquet")
            .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          tCustomer, "o_custkey", buckets = 8)
      ops.Bucketing.bucketedJoin(s, tOrders, tCustomer, "o_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("rev"))
        .orderBy("c_nationkey")
    }),

    // §2.2 vocabulary — multi-way equi-join with broadcast dimension
    "q_join_agg" -> ((s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("rev"))
        .orderBy("n_name")
    }),

    // corpus indexing — phrase (3-gram) inverted index with df-band
    // pruning: one posting row per (gram, doc) carrying the gram's corpus
    // df, per-doc tf, and sorted 0-based start offsets. The oracle
    // rebuilds the grams via the position self-join and must agree on
    // every posting, count, and position list byte-for-byte.
    "q_inverted_index" -> ((s, dir) => {
      pipeline.Index.phraseIndex(
        s.read.parquet(s"$dir/documents.parquet"),
        n = 3, minDf = 2, maxDf = 25)
        .orderBy("gram", "doc_id")
    }),

    // pipeline observability — one-pass filter funnel over the curation
    // gates in their production order (nonempty → quality → language →
    // exact-dedup canonical): per-stage entered/kept/dropped rows
    // unpivoted from a SINGLE aggregate, so the audit never costs a
    // second corpus pass
    "q_filter_funnel" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val canon = pipeline.Dedup.exactCanonical(docs)
      pipeline.Audit.filterFunnel(docs.join(canon, "doc_id"), Seq(
        "nonempty" -> (size(pipeline.TextOps.tokens(col("text"))) > 0),
        "quality_ge_07" -> (pipeline.TextOps.qualityExpr >= 0.7),
        "lang_en" -> (pipeline.TextOps.predLangExpr === "en"),
        "dedup_canonical" -> (col("canon_id") === col("doc_id"))))
        .orderBy("stage_idx")
    }),

    // corpus datacard per source × lang: the shape numbers a training-mix
    // decision needs, in one hash aggregate (exact median via percentile
    // inside the aggregate, not a per-group sort)
    "q_datacard" -> ((s, dir) => {
      pipeline.Audit.datacard(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("source"), col("lang"), col("n_docs"), col("n_tokens"),
          col("avg_quality_r"), col("median_chars_r"), col("max_chars"))
        .orderBy("source", "lang")
    }),

    // similarity search, sketch path: JL ±1 random-projection shortlist +
    // exact rescore — the index-free third ANN family next to LSH (hash
    // buckets) and IVF (learned cells). Recall floor vs exact top-k, same
    // self-checking contract as q_ann_lsh; deterministic in (seed, data).
    // Floor 0.6 like q_ann_ivfpq: the fixture embeddings are isotropic —
    // the adversarial regime for any fixed-size sketch shortlist (measured
    // 0.96 recall at sf0.01, 0.73 at sf0.1); the clustered-corpus contract
    // (fixed shortlist, recall ≥ 0.9 as N grows) is pinned in AnnRpSpec
    "q_ann_rp" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val approx = pipeline.Ann.rpTopK(corpus, queries, k,
        m = 32, shortlist = 256, dim = embeddingDim, seed = 42L)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.6).cast("long").as("recall_ok"))
    }),

    // distributed PCA contract: one tree-aggregate pass reduces the corpus
    // to a d×d scatter block, driver Jacobi eigensolve; total_var_r is the
    // covariance trace an engine with no eigensolver recomputes as the
    // per-dim variance sum, and recon_ok is the DISTRIBUTED Pythagorean
    // identity ‖residual‖² ≡ (n−1)·Σ_{i>k} λᵢ tying the eigensolve to data
    "q_pca" -> ((s, dir) => {
      pipeline.Pca.qualityReport(IO.readEmbeddings(s, dir), k = 8,
        varRound = 4)
    }),

    // similarity search, spectral path: PCA-shortlist + exact rescore —
    // the data-ADAPTIVE counterpart of q_ann_rp's JL sketch (same m spent
    // on the directions the corpus actually varies in). Same recall-floor
    // contract and floor as the other approximate families.
    "q_ann_pca" -> ((s, dir) => {
      val k = 10
      val corpus = IO.readEmbeddings(s, dir)
      val queries = corpus.filter(col("id") < 100)
      val exact = pipeline.Ann.bruteTopK(corpus, queries, k).select("i", "j")
      val approx = pipeline.Pca.pcaTopK(corpus, queries, k,
        nComponents = 16, shortlist = 256)
      val hits = approx.join(exact, Seq("i", "j"), "left_semi")
        .agg(count(lit(1)).as("hits"))
      queries.toDF().agg(count(lit(1)).as("n_queries"))
        .crossJoin(hits)
        .select(col("n_queries"),
          (col("hits") >= col("n_queries") * k * 0.6).cast("long").as("recall_ok"))
    }),

    // decontamination through the prebuilt phrase index: which corpus
    // documents (doc_id ≥ 20) contain any 3-gram of the "benchmark" set
    // (doc_id < 20) — the probe side is broadcast, the index is never
    // reshuffled, and the same materialized index serves any number of
    // probe sets (vs q_decontaminate's per-benchmark join)
    "q_index_probe" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val idx = pipeline.Index.phraseIndex(docs.where(col("doc_id") >= 20),
        n = 3, minDf = 1, maxDf = Long.MaxValue)
      val probes = pipeline.Index.phraseIndex(docs.where(col("doc_id") < 20),
        n = 3, minDf = 1, maxDf = Long.MaxValue).select("gram")
      pipeline.Index.probe(idx, probes)
        .select("gram", "doc_id", "tf")
        .orderBy("gram", "doc_id")
    }),

    // per-event trailing 1 h window per user (RANGE frame over event time,
    // not ROWS): the rate-limiting / burst-detection shape; equal-ts peers
    // share the frame per ANSI RANGE semantics on both engines
    "q_events_rolling" -> ((s, dir) => {
      streaming.Events.rollingUserStats(
        streaming.Events.readEvents(s, dir), windowUs = 3600000000L)
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // duration-capped sessionization: sessions close on a 24 h inactivity
    // gap OR at 48 h since their first event — the cap resets at each
    // split, which makes the rule sequential (no window function can
    // express it; the oracle needs a recursive CTE). Runs through the
    // shared batch/streaming fold; on this fixture the cap splits 1,214
    // gap-only sessions into 2,074, so both rules are hash-exercised
    "q_sessions_capped" -> ((s, dir) => {
      streaming.Events.cappedSessions(streaming.Events.readEvents(s, dir))
        .toDF()
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value_r"))
        .orderBy("user_id", "session_start_us")
    }),

    // first-touch attribution: the FIRST event per (user, event_type) —
    // a k=1 grouped top-k, executed through Spark's WindowGroupLimit
    // instead of a window over every (user, event_type) group
    "q_first_touch" -> ((s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("value"), 6).as("value_r"))
        .orderBy("user_id", "event_type")
    }),

    // fixed-COUNT per-stratum sample: exactly min(k, |stratum|) rows per
    // source in reproducible hash order — the deterministic reservoir
    // replacement; the rank executes through Spark's WindowGroupLimit, so
    // a web-sized stratum shuffles O(k) rows per task, never all of them
    "q_sample_fixed_k" -> ((s, dir) => {
      ops.Sampling.fixedKPerStratum(
        s.read.parquet(s"$dir/documents.parquet"),
        keyCol = "doc_id", strataCol = "source", k = 5, salt = "fk0")
        .select("source", "doc_id", "sample_rank")
        .orderBy("source", "sample_rank")
    }),

    // weighted sampling without replacement (Gumbel-top-k ≡
    // Efraimidis–Spirakis): inclusion probability ∝ n_chars,
    // deterministic; integer micro-unit scores, prefix-scan rank
    "q_weighted_sample" -> ((s, dir) => {
      ops.Sampling.weightedSample(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "n_chars"),
          keyCol = "doc_id", weight = col("n_chars"),
          keepNum = 1L, keepDen = 5L, salt = "ws0")
        .select("doc_id", "n_chars", "score_u", "sample_rank")
        .orderBy("doc_id")
    }),

    // snapshot diff (CDC): one full-outer key join classifies a re-crawl
    // against the served corpus into insert/update/delete rows — the
    // incremental primitive that keeps downstream work ∝ |changes|. The
    // two snapshots derive from the fixture by SQL-replicable rules so
    // the oracle can rebuild both sides exactly
    "q_snapshot_diff" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val oldSnap = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newSnap = docs.where(col("doc_id") % 17 =!= 3)
      ops.Snapshot.diff(oldSnap, newSnap, "doc_id",
        Seq("text", "lang", "source", "n_chars"))
        .select("doc_id", "change", "n_chars")
        .orderBy("doc_id")
    }),

    // changeset apply (the other half of the CDC loop): snapshot + its
    // own diff must reproduce the new corpus EXACTLY — the oracle is just
    // the new corpus, so the round-trip identity is the hash check; the
    // anti-join's change side is broadcast, the snapshot never shuffles
    "q_apply_changes" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val oldSnap = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newSnap = docs.where(col("doc_id") % 17 =!= 3)
      // the changeset feeds BOTH apply branches (anti-join keys + the
      // insert/update union side) — persist so the full-outer diff join
      // runs once, not once per consumer
      val changes = ops.Snapshot.diff(oldSnap, newSnap, "doc_id",
        Seq("text", "lang", "source", "n_chars")).persist()
      ops.Snapshot.applyChanges(oldSnap, changes, "doc_id")
        .select("doc_id", "text", "n_chars")
        .orderBy("doc_id")
    }),

    // collocation mining: PMI over adjacent token pairs with a min-count
    // floor — the multi-word-expression / vocabulary signal; top pairs by
    // (rounded) PMI with full tie-breaks so the cut is deterministic
    "q_pmi_bigrams" -> ((s, dir) => {
      pipeline.TextOps.pmiCollocations(
        s.read.parquet(s"$dir/documents.parquet"), minCount = 5L)
        .orderBy(col("pmi_r").desc, col("w1"), col("w2"))
        .limit(100)
    }),

    // cohort retention: users keyed by first-ever event day, counted per
    // day-offset — shuffle ∝ active user-days after the (user, day)
    // dedup, never ∝ raw events
    "q_retention" -> ((s, dir) => {
      streaming.Events.retentionCohorts(streaming.Events.readEvents(s, dir))
        .orderBy("cohort_day", "offset_days")
    }),

    // behavioral path mining: each user-day's event types in event-time
    // order collapse to a path string, identical paths counted corpus-wide
    // — per-group lists bounded by one user's one day, sorted in-task
    "q_session_paths" -> ((s, dir) => {
      streaming.Events.dailyPaths(streaming.Events.readEvents(s, dir))
        .orderBy(col("n_user_days").desc, col("path"))
        .limit(50)
    }),

    // decontamination behind a Bloom prefilter: the corpus probes the
    // benchmark-gram Bloom bits map-locally (codegen'd bit ops, no join,
    // no shuffle) and only ~0.2% false positives + true hits reach the
    // exact verify join — the scale path when the blocklist outgrows a
    // broadcast hash table; the answer (and oracle) is exactly
    // q_decontaminate's
    "q_decontaminate_bloom" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.TextOps.decontaminateBloom(
        docs.where(col("doc_id") % 37 =!= 0),
        docs.where(col("doc_id") % 37 === 0))
        .orderBy("doc_id")
    }),

    // source-onboarding column profile: rows / NULLs / exact distinct per
    // column in ONE aggregation statement (multi-distinct via Expand —
    // one corpus pass), unpivoted from a single aggregate row
    "q_profile_docs" -> ((s, dir) => {
      pipeline.Audit.profile(s.read.parquet(s"$dir/documents.parquet"),
        Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("column_name")
    }),

    // datacard length panel: fixed-width histogram with edge-bin clamping
    // (every non-NULL row is accounted for) in integer-exact bin math
    "q_histogram_chars" -> ((s, dir) => {
      pipeline.Audit.histogram(s.read.parquet(s"$dir/documents.parquet"),
        "n_chars", nBins = 32, lo = 0L, hi = 640L)
        .orderBy("bin")
    }),

    // ordered funnel conversion: first view → first click strictly after
    // it → first purchase strictly after that, per user, in ONE pass over
    // the event table (sorted-group fold; the N-pass conditional-min
    // alternative scans it `steps` times). Long format: one row per
    // achieved step, times as epoch micros (tz-proof hash compare)
    "q_funnel" -> ((s, dir) => {
      streaming.Events.funnel(streaming.Events.readEvents(s, dir),
        Seq("view", "click", "purchase"))
        .orderBy("user_id", "step")
    }),

    // gap-filled daily value series: sparse per-(user, day) totals
    // densified onto each user's [first, last]-day spine, missing days
    // forward-filled from the last observed total — sparse events → a
    // regular time-series feature table
    "q_gap_fill" -> ((s, dir) => {
      streaming.Events.gapFillDaily(streaming.Events.readEvents(s, dir))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("v_fill"), 6).as("v_fill_r"), col("observed"))
        .orderBy("user_id", "day")
    }),

    // skip-gram context pairs (window 3): generated map-side in one
    // codegen'd projection — no positional self-join — so the only
    // shuffle is the final pair-count aggregation
    "q_skipgram" -> ((s, dir) => {
      pipeline.TextOps.skipgramCounts(
        s.read.parquet(s"$dir/documents.parquet"), window = 3, minCount = 5L)
        .orderBy(col("c").desc, col("w1"), col("w2"))
    }),

    // deterministic disjoint train/val/test split: a pure map-side hash
    // projection — reproducible under repartitioning, stable under
    // appends, exactly partitions the key space
    "q_split_assign" -> ((s, dir) => {
      ops.Sampling.assignSplit(s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", splitFractions)
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")
    }),

    // uniform negative sampling (the random half of the contrastive pair
    // family): 3 deterministic pseudo-uniform negatives per doc by
    // position over the dense doc_id rank — hash mod N with the
    // self-collision bumped; the oracle re-derives rank, draw, bump, and
    // the join identically
    "q_negative_pairs" -> ((s, dir) => {
      ops.Sampling.negativePairs(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", k = 3)
        .orderBy("i", "neg_idx")
    }),

    // Poisson bootstrap (Chamandy et al.): 32 deterministic resample
    // replicates of the corpus mean in ONE pass — per-(row, rep) weight
    // Poisson(1) from the literal hash-threshold ladder, exact long
    // sums per replicate, one terminal division. The spread of the 32
    // means is the error bar on mean(n_chars).
    "q_bootstrap_mean" -> ((s, dir) => {
      ops.Sampling.bootstrapMeans(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id", "n_chars", b = 32)
        .select(col("rep"), col("n_eff"), col("wsum"),
          (round(col("mean"), 6) + 0.0).as("mean_r"))
        .orderBy("rep")
    }),

    // per-source percentile-rank normalization: the calibration transform
    // that makes scores comparable across sources — exact integer ranks
    // through the two-phase prefix scan, one map-side division
    // quantile normalization across sources (quantile matching): every
    // doc's n_chars is replaced by the GLOBAL n_chars at the same
    // relative rank — each source's marginal becomes the corpus marginal
    // exactly, so one global length threshold means the same thing in
    // every source. Integer-exact end to end (ranks, ceil-div mapping,
    // value fetch); the oracle replays the full rank→rank→value chain.
    "q_quantile_normalize" -> ((s, dir) => {
      ops.Normalize.quantileNormalizePerStratum(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "source", "n_chars"),
          "doc_id", "source", "n_chars", salt = "qn0")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("stratum_rank"), col("n_chars_norm"))
        .orderBy("doc_id")
    }),

    "q_pct_rank" -> ((s, dir) => {
      ops.Normalize.percentileRankPerStratum(
          s.read.parquet(s"$dir/documents.parquet")
            .select("doc_id", "source", "n_chars"),
          "doc_id", "source", col("n_chars"), salt = "pr0")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("stratum_rank"),
          (round(col("pct_rank"), 6) + 0.0).as("pct_rank_r"))
        .orderBy("doc_id")
    }),

    // per-language winsorized quality: clamp to the exact nearest-rank
    // [p05, p95] per lang — cutoffs are ACTUAL data values from the
    // two-phase prefix scan, broadcast back; the clamp is map-side
    "q_quality_winsor" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("lang"),
          pipeline.TextOps.qualityExpr.as("q"))
      ops.Normalize.winsorizePerStratum(base, "doc_id", "lang", "q",
        loQ = (1L, 20L), hiQ = (19L, 20L), salt = "wins")
        .select(col("doc_id"), col("lang"), col("q").as("q_r"),
          col("q_winsor").as("q_winsor_r"))
        .orderBy("doc_id")
    }),

    // per-source min-max scaling to [0, 1]: extrema via one hash
    // aggregate broadcast back; the scale is two exact long subtractions
    // and ONE IEEE division — bit-identical cross-engine
    "q_minmax_scale" -> ((s, dir) => {
      ops.Normalize.minMaxScalePerStratum(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "source", "n_chars"),
        "source", "n_chars")
        .select(col("doc_id"), col("source"),
          round(col("n_chars_scaled"), 9).as("scaled_r"))
        .orderBy("doc_id")
    }),

    // equi-depth (equal-count) histogram over document lengths: bucket =
    // exact global rank · nBuckets div N via the terasort-style prefix
    // scan — never a one-task window; boundaries are actual data values
    "q_equidepth_hist" -> ((s, dir) => {
      ops.Analytics.equiDepthHistogram(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "n_chars"),
        "doc_id", "n_chars", nBuckets = 16, salt = "eqd")
        .orderBy("bucket")
    }),

    // per-source OLS trend of token count vs char count from the five
    // integer moment sums — one hash aggregate, shuffle ∝ sources; the
    // slope/intercept are each a single IEEE division of exact longs
    "q_ols_trend" -> ((s, dir) => {
      val base = s.read.parquet(s"$dir/documents.parquet")
        .select(col("source"), col("n_chars"),
          size(pipeline.TextOps.tokens(col("text"))).as("n_tokens"))
      ops.Analytics.olsTrendPerGroup(base, "source", "n_chars", "n_tokens")
        .orderBy("source")
    }),

    // per-document unigram entropy (lexical diversity): two hash aggs
    // keyed by doc with map-side combine — never the O(distinct·len)
    // per-doc array spelling
    "q_token_entropy" -> ((s, dir) => {
      pipeline.TextOps.tokenEntropy(
        s.read.parquet(s"$dir/documents.parquet"))
        .orderBy("doc_id")
    }),

    // per-source n-gram signature: top-5 most over-represented 3-grams by
    // lift = p(gram|source)/p(gram|corpus) — the source-fingerprinting
    // signal a mix designer reads ("what does this source add"); exact
    // integer counts, ONE division, ranked through Spark's
    // WindowGroupLimit (min support 3 to drop singleton noise)
    "q_source_signature" -> ((s, dir) => {
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
    }),

    // content-defined chunking (rsync/LBFS shape): cuts where a rolling
    // 16-char window hash lands on a 5-bit zero — alignment-invariant
    // chunk boundaries, one map-side generator expression, nothing
    // sequential per document; chunk_hash is the storage-dedup unit
    "q_cdc_chunks" -> ((s, dir) => {
      pipeline.Dedup.contentDefinedChunks(
        s.read.parquet(s"$dir/documents.parquet"), window = 16, maskBits = 5)
        .orderBy("doc_id", "chunk_idx")
    }),

    // exact two-sample KS drift, one-vs-rest per source: the binning-free
    // CDF-gap alarm (KL/histogram monitors can't see drift inside a bin).
    // Integer numerator over the shared two-phase prefix scan with both
    // cumulative counts packed into one long; one IEEE division at the end
    "q_ks_drift" -> ((s, dir) => {
      ops.Analytics.ksDriftPerStratum(
        s.read.parquet(s"$dir/documents.parquet"),
        "doc_id", "source", "n_chars")
        .orderBy("source")
    }),

    // corpus drift between CDC snapshots: each snapshot's token-
    // distribution divergence from the pooled blend (the symmetric
    // JS-style drift monitor a re-crawl pipeline alarms on) — the same
    // KL operator, strata = snapshot version
    "q_snapshot_drift" -> ((s, dir) => {
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
    }),

    // per-source KL divergence from the corpus token distribution — the
    // mixture-design outlier diagnostic; nano-unit integer terms, long
    // sums, one corpus aggregation
    "q_source_kl" -> ((s, dir) => {
      pipeline.TextOps.sourceKl(
          s.read.parquet(s"$dir/documents.parquet"))
        .select(col("stratum").as("source"), col("n_types"),
          col("n_tokens"), col("kl_u"))
        .orderBy("source")
    }),

    // Zipf power-law fit of the rank-frequency curve (datacard
    // naturalness diagnostic): ranks via the two-phase prefix scan, OLS
    // moments as DECIMAL(38) sums of micro-unit log coordinates
    "q_zipf" -> ((s, dir) => {
      ops.Zipf.zipfFit(s.read.parquet(s"$dir/documents.parquet"))
        .select(col("n_types"), col("n_tokens"),
          (round(col("slope"), 6) + 0.0).as("slope_r"),
          (round(col("intercept") / 1e6, 6) + 0.0).as("intercept_r"))
    }),

    // time-weighted average value per user (each value holds until the
    // next event): one user-keyed shuffle, the lead() window bounded by
    // one user's events
    "q_twa" -> ((s, dir) => {
      streaming.Events.timeWeightedAvg(streaming.Events.readEvents(s, dir))
        .orderBy("user_id")
    }),

    // z-order layout key over (n_chars, doc_id): fixed-width buckets from
    // a broadcast 1-row extrema aggregate, then the mask-and-shift Morton
    // spread — all integer bit math, map-side, exactly recomputable by
    // the oracle. Range-partitioning this key is the OPTIMIZE ZORDER
    // layout whose per-file stats prune scans on BOTH columns
    "q_zorder_key" -> ((s, dir) => {
      ops.Layout.withZorderKey(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "n_chars"),
        "n_chars", "doc_id", bits = 16)
        .select("doc_id", "zkey")
        .orderBy("doc_id")
    }),

    // duplicate-family size distribution: how big are the near-dup
    // clusters — the datacard stat that distinguishes "pairwise noise"
    // from "one boilerplate family swallowing the corpus"; composes the
    // CC operator with two bounded aggregations
    "q_dup_cluster_sizes" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val pairs = pipeline.Dedup.minHashNearDups(docs, n = 3, theta = 0.7)
      pipeline.Dedup.duplicateClusters(
        docs.select("doc_id"), pairs.select("i", "j"))
        .groupBy("cluster").agg(count(lit(1)).as("sz"))
        .groupBy("sz").agg(count(lit(1)).as("n_clusters"))
        .orderBy("sz")
    }),

    // n-gram novelty vs corpus: per batch doc, the fraction of its
    // distinct shingles unseen anywhere in the corpus — data valuation;
    // a hash-partitioned left-semi join, never an all-pairs form
    "q_novelty" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      pipeline.Dedup.noveltyVsCorpus(
        docs.where(col("doc_id") % 11 === 0),
        docs.where(col("doc_id") % 11 =!= 0))
        .orderBy("doc_id")
    }),

    // LEFT OUTER interval join: unmatched clicks survive with NULL view
    // columns — the orphan-conversion rows an attribution pipeline must
    // surface, not drop
    "q_interval_join_outer" -> ((s, dir) => {
      streaming.Events.clickViewIntervalJoinOuter(
        streaming.Events.readEvents(s, dir), "30 minutes")
        .orderBy("click_id", "view_id")
    }),

    // funnel stall analysis: exact nearest-rank quantiles of each step
    // transition's conversion latency (integer micros end-to-end)
    "q_conversion_latency" -> ((s, dir) => {
      streaming.Events.conversionLatencyQuantiles(
        streaming.Events.readEvents(s, dir),
        Seq("view", "click", "purchase"),
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L))))
        .orderBy("transition", "quantile")
    }),

    // incremental view maintenance: the per-(source, lang) datacard
    // aggregate refreshed from a CDC changeset — inserts, deletes AND
    // group-moving updates — without rescanning the corpus; the oracle
    // recomputes the aggregate directly over the new corpus, so the hash
    // check IS the incremental ≡ full-recompute identity
    "q_incremental_agg" -> ((s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val oldC = docs.where(col("doc_id") % 17 =!= 3)
      val newC = docs.where(col("doc_id") % 19 =!= 5)
        .withColumn("lang",
          when(col("doc_id") % 13 === 0, lit("xx")).otherwise(col("lang")))
      val base = oldC.groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("s"))
      val changes = ops.Snapshot.diffWithOld(oldC, newC, "doc_id",
        Seq("text", "lang", "source", "n_chars")).persist()
      ops.Snapshot.incrementalCountSum(base, changes,
        Seq("source", "lang"), "n_chars")
        .orderBy("source", "lang")
    }),

    // sketch-rollup pattern: per-day HLL sketches merged to weekly
    // estimates WITHOUT re-touching rows (what a pipeline persists +
    // unions for any ad-hoc range); ok = merged estimate within 5% of
    // the exact recomputation, covering build + merge + estimate
    "q_hll_rollup" -> ((s, dir) => {
      ops.Sketches.hllWeeklyRollup(
        streaming.Events.readEvents(s, dir), "user_id", tol = 0.05)
        .orderBy("week")
    }),

    // quantile-sketch rollup (the HLL pattern for order statistics):
    // per-day KLL sketches merged to weekly p50/p90/p99 WITHOUT
    // re-touching rows; ok = every estimate's true rank interval within
    // 3% of its target — covering build + merge + estimate
    "q_kll_rollup" -> ((s, dir) => {
      ops.Sketches.kllWeeklyQuantileRollup(
        streaming.Events.readEvents(s, dir), "value",
        Seq(0.5, 0.9, 0.99))
        .orderBy("week")
    }),

    // audience overlap via theta sketches — the set operation HLL can't
    // do: per-event-type sketches of user_id, pairwise INTERSECTION
    // estimates machine-checked against the exact overlap counts
    "q_theta_overlap" -> ((s, dir) => {
      ops.Sketches.thetaPairOverlap(
        streaming.Events.readEvents(s, dir), "event_type", "user_id")
        .orderBy("g_a", "g_b")
    }),

    // n-gram diversity per source + corpus rollup (dedup-headroom
    // signal): per-source HLL sketches once, '__all__' = sketch union —
    // exact distincts only to machine-check the estimates
    "q_ngram_diversity" -> ((s, dir) => {
      ops.Sketches.ngramDiversity(
        s.read.parquet(s"$dir/documents.parquet"), n = 3, tol = 0.05)
        .orderBy("source")
    }),

    // anti-entropy table checksum: hash-bucketed row counts + XOR of
    // content hashes — order/partitioning-invariant, divergence between
    // copies localizes to the differing buckets
    "q_table_checksum" -> ((s, dir) => {
      pipeline.Audit.tableChecksum(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id",
        Seq("doc_id", "text", "lang", "source", "n_chars"), nBuckets = 64)
        .orderBy("bucket")
    }),

    // mixed-language detection: language-ID per non-overlapping 32-token
    // chunk, per-doc distinct-language count + deterministic majority —
    // generator fan-out + two doc-keyed hash aggs, no window
    "q_lang_mix" -> ((s, dir) => {
      pipeline.TextOps.langMix(
        s.read.parquet(s"$dir/documents.parquet"), chunkTokens = 32)
        .orderBy("doc_id")
    }),

    // recurrence cadence: exact nearest-rank quantiles of same-type
    // inter-event gaps per type — integer micros end-to-end, the lag()
    // window bounded by one user's one-type stream
    "q_interarrival" -> ((s, dir) => {
      streaming.Events.interarrivalQuantiles(
        streaming.Events.readEvents(s, dir),
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L)),
          "p99" -> ((99L, 100L))))
        .orderBy("event_type", "quantile")
    }),

    // market-basket pair mining over user-day baskets: co-presence counts
    // + exact-arithmetic lift (integer products, one IEEE division) —
    // pairs generated map-side per basket, marginals re-aggregated from
    // the basket table, never a second events pass
    "q_basket_pairs" -> ((s, dir) => {
      streaming.Events.basketPairs(
        streaming.Events.readEvents(s, dir), minSupport = 2L)
        .orderBy("a", "b")
    }),

    // trailing-7-day distinct active users per day (the WAU curve):
    // map-side fan-out of the deduped user-day table onto the report
    // days it covers — never a per-day window join over raw events
    "q_rolling_active" -> ((s, dir) => {
      streaming.Events.rollingActiveUsers(
        streaming.Events.readEvents(s, dir), windowDays = 7)
        .select(date_format(col("report_day"), "yyyy-MM-dd").as("report_day"),
          col("active_users"))
        .orderBy("report_day")
    }),

    // the TPC-H Q3 shape — segment-filtered customers ⋈ open orders ⋈
    // late-shipping lineitems, revenue top-10: the canonical "filter
    // early, join on keys, aggregate, bounded top-k" OLAP plan. Both
    // join keys hash-partition; the segment and date filters reach the
    // scans; the top-10 is a TakeOrdered, never a global sort
    "q_tpch_q3" -> ((s, dir) => {
      val cutoff = "1997-01-01"
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .agg(round(sum(ops.ExactNum.dec(col("l_extendedprice"), 2) *
            (lit(1).cast("decimal(3,2)") - ops.ExactNum.dec(col("l_discount"), 2)))
            .cast("double"), 2)
          .as("revenue_r"))
        .orderBy(col("revenue_r").desc, col("l_orderkey"))
        .limit(10)
    }),

    // the TPC-H Q5 shape — six-table star join with region/nation
    // broadcast and a local-supplier equi-constraint, revenue per nation:
    // the dimension tables ride the driver as broadcasts, the two fact
    // joins hash-partition on their keys
    "q_tpch_q5" -> ((s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select("s_suppkey", "s_nationkey")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val region = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "ASIA")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(ops.ExactNum.dec(col("l_extendedprice"), 2) *
            (lit(1).cast("decimal(3,2)") - ops.ExactNum.dec(col("l_discount"), 2)))
            .cast("double"), 2)
          .as("revenue_r"))
        .orderBy(col("revenue_r").desc, col("n_name"))
    }),

    // reciprocal-rank fusion of two retrieval rankings (sqeuclidean and
    // cosine kNN over the probe set): score = Σ 1/(60 + rank), absent
    // lists contribute 0. Both input rankings execute through Spark's
    // WindowGroupLimit; the fusion is a (i, j) full outer
    // join of two ≤20-row-per-probe lists. Every arithmetic step is an
    // IEEE double op in a fixed association order, so the score — and the
    // fused ranking — is bit-identical cross-engine
    "q_rrf_fusion" -> ((s, dir) => {
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
    }),

    // exact per-source top tokens: corpus token counts ranked within each
    // source through Spark's WindowGroupLimit — a whole source's
    // vocabulary is never ranked
    "q_top_tokens_source" -> ((s, dir) => {
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
    })
  )

  /** Split fractions shared between `q_split_assign` and its oracle: the
    * oracle SQL interpolates the SAME driver-computed integer thresholds
    * (`Sampling.cumThresholds`), so cumulative-double rounding cannot
    * disagree across the engine boundary. */
  private val splitFractions =
    Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)

  /** Shared DuckDB CTEs for the text pipeline: whitespace tokens, hashed
    * distinct 3-gram shingles (md5-60bit, identical to Hashing.hash60). */
  // the list_filter mirrors TextOps.tokens' empty-token filter (leading/
  // trailing whitespace must not mint "" tokens on either engine)
  private val tokSql =
    """WITH toks AS (
      |  SELECT doc_id, text,
      |         list_filter(regexp_split_to_array(text, '\s+'),
      |                     x -> len(x) > 0) AS t
      |  FROM documents)
      |""".stripMargin

  /** Position-joined shingles (this DuckDB build rejects column-dependent
    * generate_series, so n-grams come from a 3-way self-join on token
    * position). */
  private val tposSql = tokSql +
    """, tpos AS (
      |  SELECT doc_id, unnest(t) AS w, generate_subscripts(t, 1) AS pos
      |  FROM toks)
      |""".stripMargin

  private val shingleSql = tposSql +
    """, sh AS (
      |  SELECT DISTINCT a.doc_id,
      |         ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
      |  FROM tpos a
      |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
      |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
      |""".stripMargin

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

  /** DuckDB replay of [[graft.ops.Graph.hits]]: the mutual recursion
    * unrolled — per iteration two edge⋈score sums and two L1
    * normalizations, HUGEINT `raw·scale // tot` matching Spark's
    * decimal-widened `div` (both truncate toward zero on positives). */
  private def hitsOracleSql(iters: Int, scale: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem WHERE l_orderkey % 3 = 0),
      |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
      |h0 AS MATERIALIZED (SELECT node, CAST($scale AS BIGINT) AS hub FROM nodes)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""",
        |ra$i AS MATERIALIZED (SELECT e.dst AS node, SUM(h.hub) AS raw
        |         FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
        |ta$i AS MATERIALIZED (SELECT SUM(raw) AS tot FROM ra$i),
        |a$i AS MATERIALIZED (SELECT n.node,
        |               CAST(COALESCE(r.raw, 0) * $scale // t.tot AS BIGINT) AS auth
        |        FROM nodes n LEFT JOIN ra$i r USING (node), ta$i t),
        |rh$i AS MATERIALIZED (SELECT e.src AS node, SUM(a.auth) AS raw
        |         FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
        |th$i AS MATERIALIZED (SELECT SUM(raw) AS tot FROM rh$i),
        |h$i AS MATERIALIZED (SELECT n.node,
        |               CAST(COALESCE(r.raw, 0) * $scale // t.tot AS BIGINT) AS hub
        |        FROM nodes n LEFT JOIN rh$i r USING (node), th$i t)""".stripMargin
    }
    sb ++= s"""
      |SELECT h.node, h.hub, a.auth AS authority
      |FROM h$iters h JOIN a$iters a USING (node) ORDER BY node""".stripMargin
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

  /** Fixed-point PageRank recurrence unrolled as chained CTEs (DuckDB's
    * recursive CTEs forbid aggregates in the recursive term, so each
    * iteration is its own contrib/dangling/rank CTE triple) — integer
    * arithmetic mirrors `ops.Graph.pageRank` op-for-op: `//` is DuckDB's
    * floor division ≡ Spark's `div` on the non-negative ranks. */
  private def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |      WHERE l_orderkey % 3 = 0),
        |e AS MATERIALIZED (SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM li
        |      UNION
        |      SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM li),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r
        |       FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, SUM(r.r // deg.deg) AS s
         |       FROM e JOIN r${i - 1} r ON e.src = r.node
         |       JOIN deg ON deg.src = e.src
         |       GROUP BY e.dst),
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
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters ORDER BY node"
  }

  /** Replay of `q_domain_prior_model`: the domain link graph (residue
    * permutation k → (31k+7) mod 127 over the URL fixture's registered
    * domains), the SAME integer PageRank recurrence as
    * [[pageRankOracleSql]], then the SAME moments + Cramer ridge solve
    * as the `q_ridge_quality` oracle with x2 = the doc's domain rank. */
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

  /** The `q_text_normalize` enrichment strings (explicit escapes — no
    * invisible characters in source), shared by the Spark query and the
    * oracle's SQL-literal builder so enrichment cannot drift. */
  /** The `q_script_detect` enrichment runs, shared with the oracle via
    * [[sqlLit]] like the normalize enrichments. */
  private val ScriptEnrichCyr = " привет мир как дела"
  private val ScriptEnrichCjk = " 你好世界歡迎光臨謝謝再見"
  private val ScriptEnrichGrk = " γειά σου κόσμε"
  private val ScriptEnrichAra = " مرحبا بالعالم"

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
         |  ROUND((c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
         |           + a02 * (a10 * a21 - a11 * a20)), 6) + 0.0 AS w2_r
         |FROM a""".stripMargin
  }

  /** Personalized-PageRank unroll: same chained-CTE shape as
    * [[pageRankOracleSql]], with the restart vector on the seed set
    * (`node % 20 = 1` — every 10th supplier) and dangling mass returning
    * to the seeds. */
  private def pprOracleSql(iters: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |      WHERE l_orderkey % 3 = 0),
        |e AS MATERIALIZED (SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM li
        |      UNION
        |      SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM li),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ns AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes WHERE node % 20 = 1),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node,
        |         CASE WHEN node % 20 = 1
        |              THEN 1000000000000 // (SELECT n FROM ns) ELSE 0 END AS r
        |       FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, SUM(r.r // deg.deg) AS s
         |       FROM e JOIN r${i - 1} r ON e.src = r.node
         |       JOIN deg ON deg.src = e.src
         |       GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0) AS dm
         |       FROM r${i - 1} r LEFT JOIN deg ON r.node = deg.src
         |       WHERE deg.src IS NULL),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |         (CASE WHEN nodes.node % 20 = 1
         |               THEN 15 * (1000000000000 // (SELECT n FROM ns)) ELSE 0 END +
         |          85 * (COALESCE(c$i.s, 0) +
         |                CASE WHEN nodes.node % 20 = 1
         |                     THEN (SELECT dm FROM d$i) // (SELECT n FROM ns)
         |                     ELSE 0 END)) // 100 AS r
         |       FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters ORDER BY node"
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

  /** Connected components over the exact ≥θ Jaccard pair graph, by
    * recursive reachability closure — algorithmically independent of the
    * Spark side's min-label propagation (closure join vs message rounds),
    * so agreement checks the component semantics, not the implementation. */
  /** MinHash-cluster CTE chain ending in `cl(id, cluster)` — shared by
    * `q_dedup_clusters` and `q_dedup_keep_best` so the two oracles can't
    * drift. Brings `toks` into scope too (via the shingle chain). */
  /** Recursive-closure clustering CTE chain. Every plain CTE is
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

  private def clusterOracle(theta: Double): String =
    clusterCteSql(theta) + "\nSELECT id, cluster FROM cl ORDER BY id"

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

  /** Multi-line fixture for `q_line_dedup` (the single-line corpus can't
    * exercise a LINE-level rule): each doc's tokens regrouped into
    * 8-token lines joined by `\n`. The small fixture vocabulary makes
    * lines repeat heavily across docs — exactly the C4 regime. */
  private def multiLineDocs(s: SparkSession, dir: String): DataFrame = {
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
  private def synthHtmlPage: Column = {
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
  private def synthMetaPage: Column = {
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

  /** Deterministic smooth grayscale test scene for `q_phash_invariance`
    * (the spec's sine-pattern generator with doc_id-derived frequencies
    * and phase instead of a Random), encoded through the REAL ImageIO
    * codec as `fmt` (\"png\" lossless / \"jpg\" lossy). Smooth gradients
    * are the regime dHash is designed for — its re-encode invariance
    * contract holds there, not on per-pixel noise. */
  private def synthImageBytes(id: Long, fmt: String, brighten: Int)
      : Array[Byte] = {
    val (w, h) = (64, 48)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val fx = 1 + (id % 3).toInt
    val fy = 1 + ((id / 3) % 3).toInt
    val phase = (id % 7).toDouble / 7.0 * math.Pi * 2
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = 127.5 + 110.0 * math.sin(
          phase + fx * math.Pi * x / w + fy * math.Pi * y / h)
        val c = math.max(0, math.min(255, v.toInt + brighten))
        img.setRGB(x, y, (c << 16) | (c << 8) | c)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, fmt, out)
    out.toByteArray
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

  /** Shared quality-score fragments (used by `q_text_quality` and
    * `q_curation_e2e` — one definition, so the two oracles can't drift). */
  private val qualityInnerSql =
    """SELECT doc_id,
      |    len(list_filter(t, x -> x IN ('the','a','an','of','and','or','in','to','is')))
      |      * 1.0 / len(t) AS stop_ratio,
      |    len(list_distinct(t)) * 1.0 / len(t) AS type_ratio,
      |    (length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')))
      |      * 1.0 / length(text) AS alpha_ratio,
      |    length(text) * 1.0 / len(t) AS mean_len
      |  FROM toks""".stripMargin

  private val qualityExprSql =
    """LEAST(stop_ratio * 5.0, 1.0) * 0.3 + LEAST(type_ratio * 2.0, 1.0) * 0.3
      |        + alpha_ratio * 0.2
      |        + (CASE WHEN mean_len BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END) * 0.2""".stripMargin

  /** Shared language-ID fragments (`q_lang_id` and `q_curation_e2e`). */
  private val langScoresSql =
    """SELECT doc_id,
      |    CAST(len(list_filter(t, x -> x IN ('the','a','of','and','is'))) AS BIGINT) AS score_en,
      |    CAST(len(list_filter(t, x -> x IN ('der','die','das','und','ist'))) AS BIGINT) AS score_de,
      |    CAST(len(list_filter(t, x -> x IN ('el','la','los','y','es'))) AS BIGINT) AS score_es,
      |    CAST(len(list_filter(t, x -> x IN ('le','la','les','et','est'))) AS BIGINT) AS score_fr,
      |    CAST(len(regexp_extract_all(text, '[\x{4e00}-\x{9fff}]')) AS BIGINT) AS score_zh
      |  FROM toks""".stripMargin

  private val langCaseSql =
    """CASE WHEN score_zh > GREATEST(score_en, score_de, score_es, score_fr) THEN 'zh'
      |       WHEN score_fr > GREATEST(score_en, score_de, score_es) THEN 'fr'
      |       WHEN score_es > GREATEST(score_en, score_de) THEN 'es'
      |       WHEN score_de > score_en THEN 'de'
      |       ELSE 'en' END""".stripMargin

  /** Shared exact-dedup canonical-id fragment (`q_dedup_exact` and
    * `q_curation_e2e`). */
  private val canonSql =
    """SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canon_id
      |FROM documents""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_text_stats" -> (tokSql +
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
        |       CAST(len(t) AS BIGINT) AS n_tokens,
        |       CAST(len(list_distinct(t)) AS BIGINT) AS n_types,
        |       CAST(len(regexp_extract_all(text,
        |            '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS n_bpeish,
        |       ROUND(list_sum(list_transform(t, x -> length(x))) * 1.0 / len(t), 6)
        |         AS avg_token_len_r
        |FROM toks ORDER BY doc_id""".stripMargin),

    "q_text_quality" -> (tokSql +
      s"""SELECT doc_id,
         |  ROUND(stop_ratio, 6) AS stop_ratio_r,
         |  ROUND(type_ratio, 6) AS type_ratio_r,
         |  ROUND(alpha_ratio, 6) AS alpha_ratio_r,
         |  ROUND($qualityExprSql,
         |        6) AS quality_r
         |FROM (
         |  $qualityInnerSql)
         |ORDER BY doc_id""".stripMargin),

    "q_lang_id" -> (tokSql +
      s"""SELECT doc_id, score_en, score_de, score_es, score_fr, score_zh,
         |  $langCaseSql AS pred_lang
         |FROM (
         |  $langScoresSql)
         |ORDER BY doc_id""".stripMargin),

    "q_doc_fingerprint" -> (tposSql +
      """, sh AS (
        |  SELECT a.doc_id, a.pos,
        |         ('0x' || substr(md5(a.w || ' ' || b.w || ' ' || c.w), 1, 15))::BIGINT AS h
        |  FROM tpos a
        |  JOIN tpos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
        |  JOIN tpos c ON a.doc_id = c.doc_id AND c.pos = a.pos + 2)
        |SELECT DISTINCT doc_id,
        |       MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                    ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        |FROM sh ORDER BY doc_id, fp""".stripMargin),

    "q_unigram_logprob" -> (tokSql +
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
        |ORDER BY doc_id""".stripMargin),

    "q_bigram_logprob" -> (tposSql +
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
        |ORDER BY doc_id""".stripMargin),

    // the KN terms from the same bigram-type table (c1 and N1+ in one
    // grouped pass), the one float expression with the IDENTICAL
    // parenthesization, 1e-6 rounding absorbing the last ulp
    "q_kneser_ney" -> (tposSql +
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
        |ORDER BY doc_id""".stripMargin),

    "q_text_repetition" -> (trigramTextSql +
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
        |ORDER BY k.doc_id""".stripMargin),

    "q_decontaminate" -> (trigramTextSql +
      """, bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 37 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM tri WHERE doc_id % 37 <> 0),
        |ov AS (SELECT doc_id, COUNT(*) AS n
        |       FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_contaminated,
        |       CAST(CASE WHEN COALESCE(ov.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS contaminated
        |FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin),

    "q_contamination_overlap" -> (trigramTextSql +
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
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin),

    // identical to q_contamination_overlap's oracle by design: the Bloom
    // is prefilter-only, so the operator must reproduce the exact counts
    "q_contamination_overlap_bloom" -> (trigramTextSql +
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
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin),

    "q_text_redact" ->
      """SELECT doc_id,
        |  regexp_replace(
        |    regexp_replace(text,
        |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+',
        |      '[EMAIL]', 'g'),
        |    '[0-9][0-9][0-9][0-9][0-9][0-9]+', '[NUM]', 'g') AS redacted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // generation AND validation replayed: synthetic check digits from the
    // same Luhn sum the detector uses (spelled independently here), the
    // %5 corruption, the %11 second number, then candidate extraction +
    // the checksum verdict per candidate
    "q_pii_luhn" ->
      (luhnEnrichSql +
        s""", cand AS (SELECT doc_id, unnest(regexp_extract_all(t, '[0-9]{13,19}')) AS cd FROM en),
           |v AS (SELECT doc_id, CASE WHEN (${luhnSql("cd")}) % 10 = 0 THEN 1 ELSE 0 END AS ok FROM cand),
           |ag AS (SELECT doc_id, COUNT(*) AS nc, SUM(ok) AS nv FROM v GROUP BY doc_id)
           |SELECT d.doc_id, CAST(COALESCE(ag.nc, 0) AS BIGINT) AS n_candidates,
           |       CAST(COALESCE(ag.nv, 0) AS BIGINT) AS n_luhn_valid,
           |       CAST(CASE WHEN COALESCE(ag.nv, 0) > 0 THEN 1 ELSE 0 END AS BIGINT) AS has_valid
           |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin),

    // the mask: a left-fold of literal replaces over the VALID candidate
    // list in occurrence order — list_reduce has no init arg in this
    // DuckDB, so the text is prepended as the fold's first element
    "q_pii_luhn_mask" ->
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
           |FROM en LEFT JOIN agg USING (doc_id) ORDER BY doc_id""".stripMargin),

    // the jusText-lite line rule replayed on the raw text (the synthetic
    // page's boilerplate lines all fail it; the prose line is the text
    // itself, so extraction must return exactly trim(text) when the rule
    // passes and '' when it doesn't — integer arithmetic only, no HTML
    // anywhere in the oracle)
    "q_html_extract" ->
      """SELECT doc_id,
        |       CASE WHEN len(trim(text)) >= 25
        |             AND len(string_split_regex(trim(text), '\s+')) >= 4
        |             AND len(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g')) * 10 >= len(trim(text)) * 4
        |            THEN trim(text) ELSE '' END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the context pass adds exactly one closed-form decision on this
    // page: the SHORT h1 ('Document <id>') is rescued iff the paragraph
    // is GOOD; title and chrome drop either way
    "q_justext_context" ->
      """SELECT doc_id,
        |       CASE WHEN len(trim(text)) >= 25
        |             AND len(string_split_regex(trim(text), '\s+')) >= 4
        |             AND len(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g')) * 10 >= len(trim(text)) * 4
        |            THEN 'Document ' || CAST(doc_id AS VARCHAR) || chr(10) || trim(text)
        |            ELSE '' END AS extracted
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every head field predicted in closed form from the residue — the
    // Spark side earns them from real markup (entity decode, attribute
    // orders, three quote forms, absent fields)
    "q_html_meta" ->
      """SELECT doc_id,
        |       'Page ' || CAST(doc_id % 127 AS VARCHAR) || ' & more' AS title,
        |       'Summary ' || CAST((doc_id % 127) % 11 AS VARCHAR) AS description,
        |       CASE (doc_id % 127) % 3 WHEN 0 THEN 'en-us' WHEN 1 THEN 'fr' ELSE '' END AS lang,
        |       CASE WHEN (doc_id % 127) % 4 = 0
        |            THEN 'https://canon.example.com/c' || CAST((doc_id % 127) % 50 AS VARCHAR)
        |            ELSE '' END AS canonical,
        |       CASE (doc_id % 127) % 5 WHEN 0 THEN 'noindex, follow'
        |            WHEN 1 THEN 'nofollow' WHEN 2 THEN 'none' ELSE '' END AS robots
        |FROM documents ORDER BY doc_id""".stripMargin,

    // all nine resolution branches concatenated in closed form — no URL
    // algebra anywhere in the oracle
    "q_url_resolve" ->
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
        |ORDER BY doc_id, idx""".stripMargin,

    // group key = the declared canonical target when the page claims
    // one, else the page's own canonical URL (urlCanonSql closed form)
    "q_canonical_dedup" ->
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
          |FROM tgt GROUP BY target ORDER BY target""".stripMargin),

    // meta channel: noindex when k%5 in (0,2), nofollow when k%5 in
    // (1,2); header channel: noindex when id%7=0, nofollow when id%7=1
    "q_noindex_gate" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN (doc_id % 127) % 5 IN (0, 2) OR doc_id % 7 = 0
        |                 THEN 0 ELSE 1 END AS BIGINT) AS indexable,
        |       CAST(CASE WHEN (doc_id % 127) % 5 IN (1, 2) OR doc_id % 7 = 1
        |                 THEN 0 ELSE 1 END AS BIGINT) AS followable
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the sniff ladder's decision per residue class, no byte inspection
    // anywhere in the oracle
    "q_charset_detect" ->
      """SELECT doc_id,
        |       CASE doc_id % 5 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'shift_jis'
        |            WHEN 2 THEN 'koi8-r' WHEN 3 THEN 'windows-1251'
        |            ELSE 'utf-8' END AS encoding,
        |       CASE doc_id % 5 WHEN 0 THEN 'bom' WHEN 1 THEN 'header'
        |            WHEN 2 THEN 'meta' WHEN 3 THEN 'meta'
        |            ELSE 'default' END AS via
        |FROM documents ORDER BY doc_id""".stripMargin,

    // two entries per doc predicted closed form: the fresh entry carries
    // the epoch-day directly (no date algebra in the oracle), the stale
    // one -1
    "q_feed_probe" ->
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
        |ORDER BY doc_id, idx""".stripMargin,

    // hit counts predicted from the residue plan alone: the base corpus
    // never contains the planted token and the decoy must not fire
    "q_blocklist_filter" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 26 = 0 THEN 2
        |                 WHEN doc_id % 13 = 0 THEN 1
        |                 WHEN doc_id % 13 = 7 THEN 1 ELSE 0 END AS BIGINT) AS n_hits,
        |       CAST(CASE WHEN doc_id % 26 = 0 OR doc_id % 13 = 0 OR doc_id % 13 = 7
        |                 THEN 1 ELSE 0 END AS BIGINT) AS blocked
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every EXIF field closed form; the no-Exif residue zeroes them,
    // date/GPS have their OWN absence residues (id%3=1 / id%4=2); GPS
    // in signed centiarcseconds = sign·((deg·3600 + min·60)·100 + cs)
    "q_exif_probe" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 1 END AS BIGINT) AS exif_found,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0
        |                 WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS big_endian,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 64 + doc_id % 32 END AS BIGINT) AS width,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 48 + doc_id % 16 END AS BIGINT) AS height,
        |       CAST(CASE WHEN doc_id % 11 = 10 THEN 0 ELSE 1 + doc_id % 8 END AS BIGINT) AS orientation,
        |       CASE WHEN doc_id % 11 = 10 THEN '' ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make,
        |       CASE WHEN doc_id % 11 = 10 OR doc_id % 3 = 1 THEN ''
        |            ELSE '2026:03:' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')
        |                 || ' 10:00:00' END AS date_original,
        |       CAST(CASE WHEN doc_id % 11 = 10 OR doc_id % 4 = 2 THEN 0
        |                 ELSE 1 END AS BIGINT) AS has_gps,
        |       CAST(CASE WHEN doc_id % 11 = 10 OR doc_id % 4 = 2 THEN 0
        |                 ELSE (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE -1 END) *
        |                      ((doc_id % 90) * 360000 + (doc_id % 60) * 6000
        |                       + doc_id % 6000) END AS BIGINT) AS gps_lat_cs,
        |       CAST(CASE WHEN doc_id % 11 = 10 OR doc_id % 4 = 2 THEN 0
        |                 ELSE (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE -1 END) *
        |                      ((doc_id % 180) * 360000 + ((doc_id + 7) % 60) * 6000
        |                       + (doc_id * 3) % 6000) END AS BIGINT) AS gps_lon_cs
        |FROM documents ORDER BY doc_id""".stripMargin,

    // status + final URL closed form; the relative-Location arm replays
    // the ../ climb as a concatenation, no resolver in the oracle
    "q_redirect_resolve" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every JSON-LD field closed form (epoch day carried as the integer
    // the fixture planted — no date algebra)
    "q_jsonld_extract" ->
      """SELECT doc_id, 'NewsArticle' AS ld_type,
        |       'Story ' || CAST(doc_id % 127 AS VARCHAR) || ' & update' AS headline,
        |       CAST(19900 + (doc_id % 127) % 83 AS BIGINT) AS pub_day,
        |       'Reporter ' || CAST((doc_id % 127) % 7 AS VARCHAR) AS author
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the exact to_json byte string concatenated closed form: field
    // order is the struct order, no whitespace, URL from the shared
    // canonicalization CTE
    "q_wat_export" ->
      (urlEnrichSql + urlCanonSql +
        """
          |SELECT doc_id,
          |       '{"url":"' || url_canon || '","title":"Doc ' ||
          |       CAST(doc_id AS VARCHAR) ||
          |       '","links":["/","/about","/tos"]}' AS wat
          |FROM canon ORDER BY doc_id""".stripMargin),

    // STORED members make every size closed form; names/counts from the
    // residue plan
    "q_zip_probe" ->
      """SELECT doc_id, CAST(j AS BIGINT) AS member,
        |       'f' || CAST(j AS VARCHAR) || '.txt' AS name,
        |       CAST(0 AS BIGINT) AS method,
        |       CAST(10 AS BIGINT) AS compressed_size,
        |       CAST(10 AS BIGINT) AS uncompressed_size
        |FROM (SELECT doc_id,
        |        unnest(range(0, CAST(doc_id % 4 AS INTEGER) + 1)) AS j
        |      FROM documents)
        |ORDER BY doc_id, member""".stripMargin,

    // 512-byte block arithmetic closed form: a plain entry is
    // header+one data block (1024 B), a pax'd entry is pax-header +
    // pax-record block + real header + data block (2048 B); data_offset
    // points just past the member's real header; the pax arm's name is
    // the full >100-byte path only the `x`-record override can produce
    "q_tar_probe" ->
      """SELECT doc_id, CAST(j AS BIGINT) AS member,
        |       CASE WHEN doc_id % 7 = 3
        |            THEN 'deep' || repeat('/sub', 30) || '/f' ||
        |                 CAST(j AS VARCHAR) || '.txt'
        |            ELSE 'f' || CAST(j AS VARCHAR) || '.txt' END AS name,
        |       '0' AS typeflag,
        |       CAST(10 AS BIGINT) AS size,
        |       CAST(CASE WHEN doc_id % 7 = 3 THEN j * 2048 + 1536
        |                 ELSE j * 1024 + 512 END AS BIGINT) AS data_offset
        |FROM (SELECT doc_id,
        |        unnest(range(0, CAST(doc_id % 4 AS INTEGER) + 1)) AS j
        |      FROM documents)
        |ORDER BY doc_id, member""".stripMargin,

    // every count and boundary string closed form from the residue
    // plan: 1+doc_id%4 base sentences plus one per planted trap; the
    // trap sentences only count as ONE each if the splitter re-merges
    // their abbreviation/decimal false splits
    "q_sentence_split" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every (table,row,col)→cell closed form from the residue plan:
    // table 0 is the header row + doc_id%3+1 data rows over doc_id%2+2
    // columns, table 1 the one-cell aside on the %4=1 class
    "q_html_tables" ->
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
        |ORDER BY doc_id, tbl, row_idx, col_idx""".stripMargin,

    // dialect, header flag, and shape all closed form from the residue
    // plan (3 columns always; rows = data rows + header when present)
    "q_csv_dialect" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the exact markdown byte string reassembled closed form (chr(10)
    // newlines; the list via an ordered string_agg over the residue)
    "q_markdown_export" ->
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
        |ORDER BY doc_id""".stripMargin,

    // both engines count with the identical shared definitions (letter
    // runs, vowel-group syllables clamped >=1, terminator-run
    // sentences) and compute the same double arithmetic; scores in
    // integer 1e-4 units via floor(x*1e4+0.5) — bit-deterministic,
    // unlike decimal round() whose tie rule differs across engines
    "q_readability" ->
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
        |FROM c ORDER BY doc_id""".stripMargin,

    // identical character/keyword arithmetic over the same final text;
    // the planted block contributes 4 braces, 2 semicolons, 1 ==, one
    // // comment, and 3 keyword hits
    "q_code_detect" ->
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
        |FROM t ORDER BY doc_id""".stripMargin,

    // (found, y, m, d) all closed form from the residue plan; the %3=2
    // class plants nothing and must come back all-zero
    "q_doc_dates" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    // metadata map entries and the cleaned body head closed form; lang
    // round-trips the corpus lang column through the frontmatter block
    "q_frontmatter" ->
      """SELECT doc_id,
        |       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
        |       lang AS meta_lang,
        |       'note' AS kind,
        |       CAST(2 + doc_id % 2 AS BIGINT) AS n_tags,
        |       '# Doc ' || CAST(doc_id AS VARCHAR) AS body_head
        |FROM documents ORDER BY doc_id""".stripMargin,

    // counts and first identifiers closed form; the second DOI's
    // trailing sentence period must be stripped by the extractor
    "q_citation_extract" ->
      """SELECT doc_id,
        |       CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 1 END
        |            AS BIGINT) AS n_dois,
        |       '10.5555/rev.' || CAST(doc_id AS VARCHAR) AS first_doi,
        |       CAST(1 AS BIGINT) AS n_arxiv,
        |       '21' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
        |       '.' || lpad(CAST(doc_id % 90000 + 10000 AS VARCHAR), 5, '0')
        |       || CASE WHEN doc_id % 4 = 1 THEN 'v2' ELSE '' END
        |         AS first_arxiv
        |FROM documents ORDER BY doc_id""".stripMargin,

    // RFC 9111 shared-cache decisions closed form: private/no-store
    // gate, s-maxage precedence, the max-age=0 revalidation edge, and
    // validator preference etag > last-modified > none
    "q_http_cache" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    // every og/twitter property closed form; the description control
    // must NOT enter the map (n_props counts only og/twitter keys)
    "q_opengraph" ->
      """SELECT doc_id,
        |       'Story ' || CAST(doc_id AS VARCHAR) AS og_title,
        |       'article' AS og_type,
        |       CASE WHEN doc_id % 2 = 0
        |            THEN 'https://img.example/i' || CAST(doc_id AS VARCHAR)
        |                 || '.jpg' ELSE '' END AS og_image,
        |       'summary' AS twitter_card,
        |       CAST(CASE WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS BIGINT)
        |         AS n_props
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the (image, candidate) grid closed form: 2 or 3 srcset entries
    // (480/800/1200w) then the src fallback at width 0
    "q_srcset" ->
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
        |FROM grid ORDER BY doc_id, img, cand""".stripMargin,

    // the field/type histogram closed form from the residue plan —
    // the score drift split across parities, extra only on the %5=0
    // class; counts always nonzero at every driver scale
    "q_json_schema" ->
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
        |ORDER BY key, vtype""".stripMargin,

    // (has_refresh, delay, url) closed form per residue class — the
    // sloppy comma/single-quote arm must parse like the clean one
    "q_meta_refresh" ->
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
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the per-page hreflang cluster closed form: en, then de/fr on
    // their residues, then x-default; the stylesheet decoy contributes
    // nothing
    "q_hreflang" ->
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
        |ORDER BY doc_id, alt""".stripMargin,

    // one license per residue class, SPDX id on class 0, nothing on
    // class 6
    "q_license_detect" ->
      """SELECT doc_id,
        |       CASE CAST(doc_id % 7 AS INTEGER)
        |         WHEN 0 THEN 'MIT' WHEN 1 THEN 'Apache-2.0'
        |         WHEN 2 THEN 'GPL-3.0' WHEN 3 THEN 'MIT'
        |         WHEN 4 THEN 'BSD-3-Clause' WHEN 5 THEN 'CC-BY-4.0'
        |         ELSE 'none' END AS license,
        |       CAST(CASE WHEN doc_id % 7 = 6 THEN 0 ELSE 1 END AS BIGINT)
        |         AS matched
        |FROM documents ORDER BY doc_id""".stripMargin,

    // census = pages + catalog + page tree + free object 0 (classic),
    // +1 for the xref stream object itself in the stream arm (whose
    // page_count is -1: compressed table → decode-seam routing)
    "q_pdf_probe" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id % 5 = 2 THEN '1.5'
        |            WHEN doc_id % 3 = 0 THEN '1.4' ELSE '1.7' END AS version,
        |       CASE WHEN doc_id % 5 = 2 THEN 'xref-stream'
        |            ELSE 'xref-table' END AS kind,
        |       CAST(CASE WHEN doc_id % 5 = 2 THEN 5 + doc_id % 9
        |                 ELSE 4 + doc_id % 9 END AS BIGINT) AS n_objects,
        |       CAST(CASE WHEN doc_id % 5 = 2 THEN -1
        |                 ELSE 1 + doc_id % 9 END AS BIGINT) AS page_count
        |FROM documents ORDER BY doc_id""".stripMargin,

    // both engines run the IDENTICAL lookahead-free pattern over the
    // same text; counts per piece class + the losslessness invariant
    "q_pretokenize" -> {
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
    },

    // the as-of decision collapses to one closed-form flip: version 1
    // (crawl < 200) disallows the /pAth/ tree and allows the root,
    // version 2 allows the tree and disallows everything else
    "q_robots_asof" ->
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
          |FROM cap ORDER BY doc_id""".stripMargin),

    // the three URL rows share one enrichment CTE (urlEnrichSql) and one
    // canonicalization chain (urlCanonSql) replaying every rule of
    // UrlOps.canonicalizeUrl + registeredDomain step for step
    "q_url_canonical" ->
      (urlEnrichSql + urlCanonSql +
        "\nSELECT doc_id, url_canon, domain FROM canon ORDER BY doc_id"),

    "q_url_dedup" ->
      (urlEnrichSql + urlCanonSql +
        """
          |SELECT url_canon, MIN(doc_id) AS keeper,
          |       CAST(COUNT(*) AS BIGINT) AS n_dups
          |FROM canon GROUP BY url_canon ORDER BY url_canon""".stripMargin),

    // decoded part text predicted closed form — the oracle never sees
    // MIME, base64, or quoted-printable; a decode slip in either
    // coding (or a boundary/framing slip) lands as a text mismatch
    "q_mime_probe" ->
      """WITH k AS (SELECT doc_id, doc_id % 127 AS k FROM documents),
        |p AS (SELECT doc_id, k, unnest([0, 1]) AS j FROM k)
        |SELECT doc_id, CAST(j AS BIGINT) AS part,
        |       CASE j WHEN 0 THEN 'text/plain' ELSE 'text/html' END AS part_type,
        |       CASE j WHEN 0 THEN 'quoted-printable' ELSE 'base64' END AS cte,
        |       CASE j WHEN 0
        |         THEN 'Total: 42.50 € = order ' || CAST(k AS VARCHAR) || ' net'
        |         ELSE '<p>Order ' || CAST(k AS VARCHAR) || ' — detail</p>'
        |       END AS text,
        |       'billing' || CAST(k % 5 AS VARCHAR) || '@example.com' AS from_addr,
        |       'Invoice ' || CAST(k AS VARCHAR) AS subject
        |FROM p ORDER BY doc_id, part""".stripMargin,

    // expected ACE spellings are RFC 3492 outputs carried as literals
    // (DuckDB has no punycode); both IDN arms map to the SAME key
    "q_idn_fold" ->
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
        |FROM k ORDER BY doc_id""".stripMargin,

    "q_domain_cap" ->
      (urlEnrichSql + urlCanonSql +
        """
          |SELECT domain, doc_id, n_chars, rn FROM (
          |  SELECT domain, doc_id, n_chars,
          |         ROW_NUMBER() OVER (PARTITION BY domain
          |                            ORDER BY n_chars DESC, doc_id) AS rn
          |  FROM canon)
          |WHERE rn <= 3 ORDER BY domain, rn""".stripMargin),

    "q_domain_prior_model" -> domainPriorModelOracleSql(5),

    // lastmod = MAX over the residues sharing a canonical URL (a
    // sitemap lists each URL once; 47 and 124 genuinely collide),
    // crawl snapshot day = 19000 + doc_id mod 97, recrawl =
    // unknown-or-newer — no XML and no date parsing anywhere in the
    // oracle (epoch-day integers throughout); the Spark side earns the
    // values by synthesizing, PARSING and JOINING real sitemap.xml
    "q_sitemap_probe" ->
      (urlEnrichSql + urlCanonMatSql + ",\n" + sitemapCtesSql +
        """
          |SELECT doc_id, CAST(lmd AS BIGINT) AS lastmod_day,
          |       CAST(CASE WHEN lmd = -1 OR lmd > crawled
          |                 THEN 1 ELSE 0 END AS BIGINT) AS recrawl
          |FROM sn ORDER BY doc_id""".stripMargin),

    // the frontier composition replayed end-to-end: closed-form robots
    // decision (sc) × closed-form sitemap freshness (sn) × the quota
    // ranking — both CTE chains are the SAME vals the piecewise oracles
    // use, so the three rows cannot drift apart
    "q_crawl_frontier" ->
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
          |FROM rk WHERE rn <= 2 ORDER BY domain, rn""".stripMargin),

    // the link graph predicted in CLOSED FORM from doc_id alone — no
    // HTML, no href extraction, no canonicalizer anywhere in the
    // oracle: the registered domain and canonical URL of residue k are
    // closed expressions of k, so the oracle enumerates both target
    // residues per doc and aggregates; the Spark side earns every cell
    // by extracting hrefs from real markup (three quote forms) and
    // canonicalizing raw cosmetic-noise URLs
    "q_link_graph" ->
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
         |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // anchor TEXT is predicted the same closed-form way: each doc labels
    // dom(k1) with 'first & best source' (markup stripped, &amp; decoded,
    // lowercased) and dom(k2) with 'the second'; the Spark side earns the
    // cells by parsing real anchor elements
    "q_anchor_text" ->
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
         |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the robots rules derived in CLOSED FORM from the domain string
    // (no robots.txt text, no parsing anywhere in the oracle — the
    // Spark side earns its answer by actually parsing), then the RFC
    // 9309 longest-match/allow-ties decision replayed as one MAX over
    // score = 2·len(rule) + allowBit
    "q_robots_gate" ->
      (urlEnrichSql + urlCanonMatSql + ",\n" + robotsCtesSql +
        """
          |SELECT doc_id, domain,
          |       CAST(CASE WHEN s < 0 THEN 1 ELSE s % 2 END AS BIGINT) AS allowed
          |FROM sc ORDER BY doc_id""".stripMargin),

    // the whole CCNet chain replayed in SQL: lang-keyed reference counts
    // (source = 'src0' only), the extended KN expression with every
    // unseen-event floor branch, the 1e-6 quantization, per-lang
    // nearest-rank tertile cutoffs (the exact integer ceil the Spark
    // machinery computes), and the comparison labels
    "q_ccnet_buckets" -> (tposSql +
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
        |FROM sc2 s LEFT JOIN cut USING (lang) ORDER BY s.doc_id""".stripMargin),

    // the WET payload in closed form: 'conversion' framing + the
    // q_html_extract line-rule contract on the raw text — no WARC and
    // no HTML anywhere in the oracle
    "q_wet_roundtrip" ->
      """SELECT doc_id, 'conversion' AS rec_type,
        |       CASE WHEN len(trim(text)) >= 25
        |             AND len(string_split_regex(trim(text), '\s+')) >= 4
        |             AND len(regexp_replace(trim(text), '[^A-Za-z0-9]', '', 'g')) * 10 >= len(trim(text)) * 4
        |            THEN trim(text) ELSE '' END AS wet_text
        |FROM documents ORDER BY doc_id""".stripMargin,

    // enrichment + the five script counts + the fixed-order argmax,
    // ranges rendered from the SAME ScriptRanges constants
    "q_script_detect" -> {
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
    },

    // the epoch-shuffle rank replayed (the q_shard_assignment spelling)
    // + the per-shard aggregates
    "q_shard_manifest" ->
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
        |FROM r GROUP BY 1 ORDER BY shard""".stripMargin,

    // the UA-selected rule set in closed form from the domain string
    // (even-length domains: the graftbot groups' union — Allow
    // carve-out + base Disallow + /secret; odd: the `*` fallback pair),
    // then the same RFC longest-match MAX as q_robots_gate — no
    // robots.txt text, no group parsing anywhere in the oracle
    "q_robots_ua" ->
      (urlEnrichSql + urlCanonMatSql + ",\n" + robotsUaCtesSql +
        """
          |SELECT doc_id, domain,
          |       CAST(CASE WHEN s < 0 THEN 1 ELSE s % 2 END AS BIGINT) AS allowed
          |FROM scua ORDER BY doc_id""".stripMargin),

    // delay → budget → quota, all closed form: the per-domain delay is a
    // parity function of the domain string (the fixture publishes it in
    // the group the UA selection picks), budget = clamp(60 div delay, 1,
    // 4), and the schedule is the UA-gate × sitemap-freshness join the
    // frontier row already pins, re-ranked under the VARIABLE budget
    "q_crawl_budget" ->
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
          |FROM rk WHERE rn <= budget AND rn <= 4 ORDER BY domain, rn""".stripMargin),

    // payload-digest revisit classification in closed form: same-residue
    // docs carry byte-identical payloads, so the original is simply the
    // smallest doc_id of the residue class — no WARC, no digest anywhere
    // in the oracle; the Spark side earns it through real framing + md5
    "q_warc_revisit" ->
      """SELECT doc_id,
        |       CASE WHEN doc_id = MIN(doc_id) OVER (PARTITION BY doc_id % 127)
        |            THEN 'response' ELSE 'revisit' END AS kind
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the SURT transform replayed in SQL from the canonical URL (host
    // reversed comma-joined, port kept, ')' + path+query) — captures
    // per key are exactly the canonical-URL dedup groups under the
    // sort-friendly spelling
    "q_cdx_index" ->
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
        |FROM srt GROUP BY surt_key ORDER BY surt_key""".stripMargin),

    // every CDXJ line reassembled byte-for-byte: the same SURT replay
    // as q_cdx_index, timestamp and JSON block as literal concatenation
    // (to_json field order = struct order, no whitespace)
    "q_cdxj_export" ->
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
        |FROM srt s JOIN canon c USING (doc_id) ORDER BY s.doc_id""".stripMargin),

    // the walked index's entry table is exactly the flat closed-form
    // lastmod derivation (lm of sitemapCtesSql) — no index XML, no
    // gzip, no child split anywhere in the oracle; every hop of the
    // Spark walk has to reassemble it byte-for-byte
    "q_sitemap_index" ->
      (urlEnrichSql + urlCanonMatSql + ",\n" + sitemapCtesSql +
        """
          |SELECT domain, url_canon AS loc, CAST(lmd AS BIGINT) AS lastmod_day
          |FROM lm ORDER BY domain, loc""".stripMargin),

    // the publicsuffix.org algorithm replayed relationally: candidate
    // suffixes per host (literal + `*.` spelling), probe-join against
    // the SAME rule list (PslBaseRules renders the VALUES — no drift),
    // prevailing rule by exception-beats-all then most-labels, default
    // `*` fallback — mirroring UrlOps.registeredDomainPsl hop for hop
    "q_psl_domain" -> {
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
    },

    // parse-free closed-form replay of the whole crawl chain: canonical
    // URL + domain from the synthesis CTEs, quality from the RAW text
    // (extraction provably returns exactly the text — q_html_extract's
    // contract, re-checked per scale) — no gzip, no WARC walk, no HTML
    // anywhere in the oracle
    "q_crawl_e2e" ->
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
           |ORDER BY c.doc_id""".stripMargin),

    // the round-trip must land exactly on the parquet truth; the corrupt
    // count is the two injected lines, quarantined rather than read
    "q_jsonl_roundtrip" ->
      """SELECT doc_id, text, lang, source, n_chars,
        |       CAST(2 AS BIGINT) AS n_corrupt
        |FROM documents ORDER BY doc_id""".stripMargin,

    // line regrouping + the packed-key (doc_id·2^20 + idx) global
    // first-occurrence rule + ordered per-doc rebuild, replayed exactly
    "q_line_dedup" -> (tokSql +
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
        |ORDER BY d.doc_id""".stripMargin),

    "q_dedup_exact" -> (canonSql + " ORDER BY doc_id"),

    "q_dedup_normalized" ->
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
        |FROM h JOIN c USING (hh) ORDER BY doc_id""".stripMargin,

    "q_dedup_jaccard" -> jaccardOracle(0.5),

    // the oracle brute-forces what the Spark side finds via the lossless
    // q-gram prefix index — identical pair sets or the hash flips
    "q_fuzzy_join" ->
      """WITH k AS (SELECT doc_id, substr(text, 1, 64) AS key FROM documents)
        |SELECT a.doc_id AS i, b.doc_id AS j,
        |       levenshtein(a.key, b.key) AS dist
        |FROM k a JOIN k b ON a.doc_id < b.doc_id
        |WHERE abs(length(a.key) - length(b.key)) <= 4
        |  AND levenshtein(a.key, b.key) <= 4
        |ORDER BY i, j""".stripMargin,

    // every offset brute-forced — any span the winnowing anchors missed
    // would flip this hash
    "q_substring_dedup" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE length(text) >= 40),
        |g AS (SELECT DISTINCT doc_id, substr(text, pos + 1, 40) AS gram
        |      FROM (SELECT doc_id, text,
        |                   unnest(range(0, length(text) - 40 + 1)) AS pos
        |            FROM d))
        |SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS n_shared
        |FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the removal semantics recomputed from scratch at char granularity:
    // every offset's gram, per-gram min-doc ownership, covered position
    // union, surviving chars re-concatenated in order
    "q_substring_remove" ->
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
        |ORDER BY d.doc_id""".stripMargin,

    // frequency-based boilerplate surgery: positional 3-grams, distinct-doc
    // frequency >= 5 flags a gram, covered token positions anti-joined out,
    // survivors re-concatenated in token order
    "q_boilerplate_remove" -> (tokSql +
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
        |ORDER BY tk.doc_id""".stripMargin),

    "q_dedup_minhash" -> jaccardOracle(0.7),

    // the full >= theta pair set restricted to cross (corpus, batch)
    // pairs — exactly one endpoint in the batch (doc_id % 5 = 0)
    "q_dedup_incremental_minhash" -> (shingleSql +
      """, sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS i, b.doc_id AS j, COUNT(*) AS c
        |  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT i, j, ROUND(c * 1.0 / (sa.n + sb.n - c), 6) AS jac_r
        |FROM inter JOIN sizes sa ON sa.doc_id = i JOIN sizes sb ON sb.doc_id = j
        |WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.7
        |  AND ((i % 5 = 0) <> (j % 5 = 0))
        |ORDER BY i, j""".stripMargin),

    // the train-split moments, the identical UNROUNDED Cramer weights,
    // the identical left-associated projection, integer-rounded scores,
    // the same (yhat DESC, doc_id) per-source rank
    "q_quality_model_topk" -> {
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
           |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
           |       + a02 * (a10 * a21 - a11 * a20)) AS w2
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
    },

    // the same exact-long moments and the same first-row-cofactor Cramer
    // expansion, term-for-term (Fit.det3); λ=1.0 lands on the feature
    // diagonals only
    "q_ridge_quality" -> (tokSql +
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
         |  ROUND((c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
         |           + a02 * (a10 * a21 - a11 * a20)), 6) + 0.0 AS w2_r
         |FROM a""".stripMargin),

    // the identical moments, Cramer weights, cofactor inverse, and
    // quadratic-form spelling — resid/leverage/loo must match bit-for-bit
    // at the rounding grid
    "q_loo_influence" -> (tokSql +
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
         |FROM sc ORDER BY doc_id""".stripMargin),

    // identical split thresholds, fit-slice Cramer weights, quantized
    // |residual| scores, nearest-rank conformal quantile, and the
    // integer coverage count
    "q_conformal" -> {
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
           |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
           |       + a02 * (a10 * a21 - a11 * a20)) AS w2
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
    },

    // the conformal oracle stratified by source: per-source rank rule,
    // quantile, and coverage count
    "q_conformal_mondrian" -> {
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
           |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
           |       + a02 * (a10 * a21 - a11 * a20)) AS w2
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
    },

    // identical weights (Cramer), identical quantized predictions,
    // identical (pred, hash, id) rank and decile arithmetic
    "q_calibration" -> (tokSql +
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
         |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
         |       + a02 * (a10 * a21 - a11 * a20)) AS w2
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
         |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin),

    // the identical 3-round IRLS unroll: algebraic sigmoid, 1e-6-grid
    // long sums, Cramer per round — weights and the exact integer
    // n_correct must hash-match
    "q_logistic_lang" -> {
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
           |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
           |       + a02 * (a10 * a21 - a11 * a20)) AS w2
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
    },

    // folds, fold moments, total−fold training moments, the identical
    // Cramer expansion per fold, and the integer-residual SSE
    "q_cv_ridge" -> (tokSql +
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
         |    (c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
         |       + a02 * (a10 * a21 - a11 * a20)) AS w2
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
         |FROM mw JOIN ag ON mw.fold = ag.fold ORDER BY mw.fold""".stripMargin),

    // grouped moments + the identical Cramer expansion, per source
    "q_ridge_by_source" -> (tokSql +
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
         |  ROUND((c0 * (a11 * a22 - a12 * a21) - a01 * (c1 * a22 - a12 * c2)
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
         |           + a02 * (a10 * a21 - a11 * a20)), 6) + 0.0 AS w2_r
         |FROM a ORDER BY source""".stripMargin),

    "q_pagerank" -> pageRankOracleSql(5),

    "q_hits" -> hitsOracleSql(3, 1000000000L),

    // every triangle enumerated once as a < b < c by the textbook 3-way
    // join — independent of the Spark side's degree orientation
    "q_triangles" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  WHERE a.l_orderkey % 20 = 0),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e x JOIN e y ON y.u = x.v
        |  JOIN e z ON z.u = x.u AND z.v = y.v),
        |t AS (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT s.s_suppkey AS node, CAST(COUNT(t.node) AS BIGINT) AS triangles
        |FROM supplier s LEFT JOIN t ON t.node = s.s_suppkey
        |GROUP BY 1 ORDER BY node""".stripMargin,

    // the identical peel chain unrolled 12 rounds (≥ the measured depth;
    // idempotent once converged) — any dropped-too-early or kept-too-long
    // node breaks the hash
    "q_kcore" -> {
      val base =
        """WITH e0 AS MATERIALIZED (
          |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  WHERE a.l_orderkey % 4 = 0)""".stripMargin
      val rounds = (0 until 12).map { i =>
        s""",
           |d$i AS MATERIALIZED (SELECT node, COUNT(*) AS c FROM
           |  (SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) t
           |  GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= 16),
           |e${i + 1} AS MATERIALIZED (SELECT u, v FROM e$i
           |  WHERE u IN (SELECT node FROM k$i)
           |    AND v IN (SELECT node FROM k$i))""".stripMargin
      }.mkString
      base + rounds +
        """,
          |dfin AS (SELECT node, COUNT(*) AS c FROM
          |  (SELECT u AS node FROM e12 UNION ALL SELECT v FROM e12) t
          |  GROUP BY 1)
          |SELECT node, CAST(c AS BIGINT) AS deg
          |FROM dfin WHERE c >= 16 ORDER BY node""".stripMargin
    },

    // same triangle enumeration + degrees; the coefficient is the same
    // one integer-exact-operands division, rounded identically
    "q_clustering_coeff" ->
      """WITH e AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  WHERE a.l_orderkey % 20 = 0),
        |dg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e x JOIN e y ON y.u = x.v
        |  JOIN e z ON z.u = x.u AND z.v = y.v),
        |t AS (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri),
        |tc AS (
        |  SELECT dg.node, dg.deg, CAST(COUNT(t.node) AS BIGINT) AS triangles
        |  FROM dg LEFT JOIN t ON t.node = dg.node
        |  GROUP BY 1, 2)
        |SELECT node, deg, triangles,
        |       CASE WHEN deg >= 2 THEN
        |         ROUND(CAST(triangles * 2 AS DOUBLE) / (deg * (deg - 1)), 6) + 0.0
        |       ELSE 0.0 END AS coeff_r
        |FROM tc ORDER BY node""".stripMargin,

    "q_ppr" -> pprOracleSql(5),

    "q_dedup_clusters" -> clusterOracle(0.7),

    // majority vote over the LABELED members of each recursive-closure
    // cluster — the closure is algorithmically independent of the Spark
    // side's label propagation, same guarantee as q_dedup_clusters
    "q_label_backfill" -> (clusterCteSql(0.7) +
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
        |ORDER BY d.doc_id""".stripMargin),

    // exact >=theta pair set grouped by unordered source pair — the same
    // lossless-pair-set premise q_dedup_clusters already hash-checks
    "q_source_overlap" -> (shingleSql +
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
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_split_leakage_safe" -> {
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
    },

    // same recursive-CTE truth, reduced to the family-size histogram
    "q_dup_cluster_sizes" -> (clusterCteSql(0.7) +
      """, cs AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS sz
        |         FROM cl GROUP BY cluster)
        |SELECT sz, CAST(COUNT(*) AS BIGINT) AS n_clusters
        |FROM cs GROUP BY sz ORDER BY sz""".stripMargin),

    "q_dedup_keep_best" -> (clusterCteSql(0.7) +
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
         |FROM rk WHERE rn = 1 ORDER BY cluster""".stripMargin),

    // text equality instead of the hash: independent of the hash function,
    // and identical unless a 60-bit collision exists in the fixture
    "q_dedup_incremental" ->
      """WITH newb AS (
        |  SELECT doc_id, n_chars, text FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, n_chars, text FROM documents
        |  WHERE doc_id % 7 = 0),
        |corpus AS (SELECT text FROM documents WHERE doc_id % 5 <> 0)
        |SELECT n.doc_id, n.n_chars FROM newb n
        |WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.text = n.text)
        |ORDER BY n.doc_id""".stripMargin,

    "q_source_cap" ->
      """SELECT source, doc_id, n_chars, rn FROM (
        |  SELECT source, doc_id, n_chars,
        |         ROW_NUMBER() OVER (PARTITION BY source
        |                            ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 3 ORDER BY source, rn""".stripMargin,

    "q_dedup_simhash" ->
      (simhashSql + "SELECT doc_id, simhash FROM sigs ORDER BY doc_id"),

    "q_simhash_pairs" -> (simhashSql +
      """SELECT a.doc_id AS i, b.doc_id AS j,
        |       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
        |FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
        |ORDER BY i, j""".stripMargin),

    "q_kmeans" -> kmeansOracleSql(8, 3),

    "q_embed_neardup" ->
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
        |ORDER BY i, j""".stripMargin,

    "q_ann_cosine" ->
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
        |FROM rk WHERE rn <= 5 ORDER BY i, rn""".stripMargin,

    // the same cosine ranking with the near-dup band filter BEFORE the
    // row_number — any near-dup leaking into the negatives flips the hash
    "q_hard_negatives" ->
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
        |FROM rk WHERE rn <= 5 ORDER BY i, rn""".stripMargin,

    "q_ann_lsh" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q_ann_ivf" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q_ann_pq" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q_ann_ivfpq" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q_ann_ivfpq_refine" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q_ann_sq" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    // the invariance CONTRACT is the oracle: every doc's PNG and
    // brightness-shifted JPEG encodings must dHash within Hamming 3 —
    // the flag on the Spark side is earned by real ImageIO decode work
    "q_phash_invariance" ->
      """SELECT doc_id, CAST(1 AS BIGINT) AS within
        |FROM documents ORDER BY doc_id""".stripMargin,

    // the dHash replayed from scratch: stub features
    // v(k) = hash60(md5hex(text)‖'#'‖k)/2^60 on a 6-row × 11-col grid, bit
    // r·10+c set iff v(r,c) > v(r,c+1) — identical double division and
    // strict comparison on both engines
    "q_phash" ->
      """WITH f AS (
        |  SELECT doc_id, k,
        |         (('0x' || substr(md5(md5(text) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |           / 1152921504606846976.0 AS v
        |  FROM documents CROSS JOIN generate_series(0, 65) t(k)),
        |p AS (
        |  SELECT l.doc_id, ((l.k // 11) * 10 + (l.k % 11)) AS bit
        |  FROM f l JOIN f r ON l.doc_id = r.doc_id AND r.k = l.k + 1
        |  WHERE l.k % 11 < 10 AND l.v > r.v)
        |SELECT d.doc_id AS id,
        |       CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(p.bit AS INT)), 0) AS BIGINT) AS phash
        |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY id""".stripMargin,

    // identical stub-feature replay, temporal gradient: bit k iff
    // env(k) > env(k+1) over 61 bins
    "q_audio_sig" ->
      """WITH f AS (
        |  SELECT doc_id, k,
        |         (('0x' || substr(md5(md5(text) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |           / 1152921504606846976.0 AS v
        |  FROM documents CROSS JOIN generate_series(0, 60) t(k)),
        |p AS (
        |  SELECT l.doc_id, l.k AS bit
        |  FROM f l JOIN f r ON l.doc_id = r.doc_id AND r.k = l.k + 1
        |  WHERE l.v > r.v)
        |SELECT d.doc_id AS id,
        |       CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(p.bit AS INT)), 0) AS BIGINT) AS asig
        |FROM documents d LEFT JOIN p ON p.doc_id = d.doc_id
        |GROUP BY 1 ORDER BY id""".stripMargin,

    // per-frame replay: feature index k = frame*64 + r*8 + c; horizontal
    // gradient bits r*7+c for c < 7, one signature row per (doc, frame)
    "q_video_sig" ->
      """WITH f AS (
        |  SELECT doc_id, k,
        |         (('0x' || substr(md5(md5(text) || '#' || CAST(k AS VARCHAR)), 1, 15))::BIGINT)
        |           / 1152921504606846976.0 AS v
        |  FROM documents CROSS JOIN generate_series(0, 255) t(k)),
        |p AS (
        |  SELECT l.doc_id, l.k // 64 AS frame,
        |         ((l.k % 64) // 8) * 7 + (l.k % 8) AS bit
        |  FROM f l JOIN f r ON l.doc_id = r.doc_id AND r.k = l.k + 1
        |  WHERE l.k % 8 < 7 AND l.v > r.v),
        |fr AS (SELECT doc_id, unnest(range(4)) AS frame FROM documents)
        |SELECT fr.doc_id AS id, CAST(fr.frame AS BIGINT) AS frame,
        |       CAST(COALESCE(SUM(CAST(1 AS BIGINT) << CAST(p.bit AS INT)), 0) AS BIGINT) AS fsig
        |FROM fr LEFT JOIN p ON p.doc_id = fr.doc_id AND p.frame = fr.frame
        |GROUP BY 1, 2 ORDER BY id, frame""".stripMargin,

    // closed-form replay of the synthetic sample table: n = 3 + id%5
    // samples, probe index floor(n·f/4), sample k's text = the first
    // 5 + (k+id)%7 chars of md5(id‖'#'‖k) — no box parsing anywhere,
    // so the Spark side's parser is checked against independent math
    "q_mp4_probe" ->
      """SELECT doc_id, f AS frame,
        |       ((3 + doc_id % 5) * f) // 4 AS sample_index,
        |       substr(md5(CAST(doc_id AS VARCHAR) || '#' ||
        |                  CAST(((3 + doc_id % 5) * f) // 4 AS VARCHAR)),
        |              1,
        |              CAST(5 + (((3 + doc_id % 5) * f) // 4 + doc_id) % 7 AS INT))
        |         AS sample_text
        |FROM documents CROSS JOIN generate_series(0, 3) t(f)
        |ORDER BY doc_id, frame""".stripMargin,

    // closed-form replay of the synthetic 3-record WARC: fixed warcinfo
    // line, request string rebuilt from doc_id, response = the doc text;
    // octet counts by string length arithmetic — no record parsing, no
    // gzip anywhere, so the Spark side's member split + Content-Length
    // walk is checked against independent math
    "q_warc_probe" ->
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
        |ORDER BY doc_id, rec""".stripMargin,

    "q_multimodal_features" ->
      """SELECT doc_id AS id,
        |  ROUND((('0x' || substr(md5(md5(text) || '#0'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f0_r,
        |  ROUND((('0x' || substr(md5(md5(text) || '#1'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f1_r,
        |  ROUND((('0x' || substr(md5(md5(text) || '#2'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f2_r,
        |  ROUND((('0x' || substr(md5(md5(text) || '#3'), 1, 15))::BIGINT)
        |        / 1152921504606846976.0, 9) AS f3_r,
        |  CAST(strlen(text) AS BIGINT) AS byte_len,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 0 / 4) AS INT) + 1, 1)) AS BIGINT) AS s0,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 1 / 4) AS INT) + 1, 1)) AS BIGINT) AS s1,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 2 / 4) AS INT) + 1, 1)) AS BIGINT) AS s2,
        |  CAST(ascii(substr(text, CAST(floor(strlen(text) * 3 / 4) AS INT) + 1, 1)) AS BIGINT) AS s3,
        |  CAST(strlen(text) = length(text) AS BIGINT) AS ascii_ok
        |FROM documents ORDER BY id""".stripMargin,
    "q_knn_bruteforce" ->
      (knnSql +
        """SELECT i, j, rn, ROUND(dist, 6) AS dist_r
          |FROM knn WHERE rn <= 10 ORDER BY i, rn""".stripMargin),

    "q_knn_partition" ->
      (knnSql +
        """SELECT i, j, rn, ROUND(dist, 6) AS dist_r
          |FROM knn WHERE rn <= 10 ORDER BY i, rn""".stripMargin),

    "q_joint_distribution" ->
      (knnSql +
        """, sym AS (
          |  SELECT i, j, SUM(dist) AS v FROM (
          |    SELECT i, j, dist FROM knn WHERE rn <= 10
          |    UNION ALL
          |    SELECT j AS i, i AS j, dist FROM knn WHERE rn <= 10)
          |  GROUP BY i, j)
          |SELECT i, j, ROUND(v / (SELECT SUM(v) FROM sym), 12) AS p_r
          |FROM sym ORDER BY i, j""".stripMargin),

    // O12: same joint distribution, plus the positional rank of j within
    // each row — the sorted-by-j array assembly replayed relationally
    "q_affinity_rows" ->
      (knnSql +
        """, sym AS (
          |  SELECT i, j, SUM(dist) AS v FROM (
          |    SELECT i, j, dist FROM knn WHERE rn <= 10
          |    UNION ALL
          |    SELECT j AS i, i AS j, dist FROM knn WHERE rn <= 10)
          |  GROUP BY i, j)
          |SELECT i,
          |       CAST(ROW_NUMBER() OVER (PARTITION BY i ORDER BY j) - 1 AS INT) AS pos,
          |       j, ROUND(v / (SELECT SUM(v) FROM sym), 12) AS p_r
          |FROM sym ORDER BY i, pos""".stripMargin),

    "q_center_embedding" ->
      """WITH coo AS (
        |  SELECT vec_id AS i, CAST(g AS INT) - 1 AS j,
        |         CAST(embedding[CAST(g AS INT)] AS DOUBLE) AS v
        |  FROM embeddings CROSS JOIN generate_series(1, 64) t(g))
        |SELECT i, j, ROUND(v - AVG(v) OVER (PARTITION BY j), 6) + 0.0 AS v_r
        |FROM coo ORDER BY i, j""".stripMargin,

    "q_coo_roundtrip" ->
      """SELECT vec_id AS i, CAST(g AS INT) - 1 AS j,
        |       ROUND(CAST(embedding[CAST(g AS INT)] AS DOUBLE), 6) + 0.0 AS v_r
        |FROM embeddings CROSS JOIN generate_series(1, 64) t(g)
        |ORDER BY i, j""".stripMargin,

    // O3: the CSV roundtrip must land exactly on the source-derived COO
    "q_distance_matrix_roundtrip" ->
      """SELECT vec_id AS i, CAST(g AS INT) - 1 AS j,
        |       ROUND(CAST(embedding[CAST(g AS INT)] AS DOUBLE), 6) + 0.0 AS v_r
        |FROM embeddings CROSS JOIN generate_series(1, 64) t(g)
        |ORDER BY i, j""".stripMargin,

    "q_knn_cosine" ->
      """WITH dists AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         1.0 - list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                        p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
        |           / (sqrt(list_sum(list_transform(a.embedding,
        |                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
        |            * sqrt(list_sum(list_transform(b.embedding,
        |                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS dist
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id <> b.vec_id),
        |knn AS (
        |  SELECT i, j, dist,
        |         ROW_NUMBER() OVER (PARTITION BY i ORDER BY dist, j) AS rn
        |  FROM dists)
        |SELECT i, j, rn, ROUND(dist, 6) AS dist_r
        |FROM knn WHERE rn <= 10 ORDER BY i, rn""".stripMargin,

    // the approximate operator's output is checked by a recall floor, which
    // is a deterministic function of (seed, data); the oracle knows only the
    // contract: every point present, recall ≥ 0.9
    "q_knn_euclidean" ->
      """WITH dists AS (
        |  SELECT a.vec_id AS i, b.vec_id AS j,
        |         sqrt(list_sum(list_transform(list_zip(a.embedding, b.embedding),
        |                  p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))^2))) AS dist
        |  FROM embeddings a CROSS JOIN embeddings b
        |  WHERE a.vec_id <> b.vec_id),
        |knn AS (
        |  SELECT i, j, dist,
        |         ROW_NUMBER() OVER (PARTITION BY i ORDER BY dist, j) AS rn
        |  FROM dists)
        |SELECT i, j, rn, ROUND(dist, 6) AS dist_r
        |FROM knn WHERE rn <= 10 ORDER BY i, rn""".stripMargin,

    "q_knn_project" ->
      """SELECT COUNT(*) AS n_points, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings""".stripMargin,

    // same contract shape as q_knn_project: DuckDB can't rerun the seeded
    // pipeline; the recall flag's truth side is the brute-force kNN that
    // q_knn_bruteforce hash-checks independently (chain documented in
    // README "driver contract")
    "q_tsne_quality" ->
      """SELECT COUNT(*) AS n_points, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings""".stripMargin,

    // the fixture is generated in-code (seeded, partition-independent), so
    // the oracle is the deterministic contract row: 2000 points, floor held
    "q_tsne_quality_clustered" ->
      """SELECT CAST(2000 AS BIGINT) AS n_points,
        |       CAST(1 AS BIGINT) AS recall_ok""".stripMargin,

    "q_affinity_rowsum" ->
      """SELECT vec_id AS i, ROUND(CAST(1.0 AS DOUBLE), 6) AS psum_r
        |FROM embeddings ORDER BY i""".stripMargin,

    // the delta-bar-delta arithmetic re-derived component-wise with the
    // same association order as Gradient.update: gain test (sign match →
    // ×0.8 else +0.2, floored at minGain), step = m·prev − (lr·gain)·grad,
    // position = step + y
    "q_update_step" ->
      """WITH e AS (
        |  SELECT vec_id AS id,
        |         CAST(embedding[1] AS DOUBLE) AS y0, CAST(embedding[2] AS DOUBLE) AS y1,
        |         CAST(embedding[3] AS DOUBLE) AS p0, CAST(embedding[4] AS DOUBLE) AS p1,
        |         1.0 + ABS(CAST(embedding[5] AS DOUBLE)) AS ga0,
        |         1.0 + ABS(CAST(embedding[6] AS DOUBLE)) AS ga1,
        |         CAST(embedding[7] AS DOUBLE) AS gr0, CAST(embedding[8] AS DOUBLE) AS gr1
        |  FROM embeddings),
        |u AS (
        |  SELECT id, y0, y1, p0, p1, gr0, gr1,
        |         CASE WHEN (gr0 > 0) = (p0 > 0) THEN GREATEST(ga0 * 0.8, 0.01)
        |              ELSE GREATEST(ga0 + 0.2, 0.01) END AS ng0,
        |         CASE WHEN (gr1 > 0) = (p1 > 0) THEN GREATEST(ga1 * 0.8, 0.01)
        |              ELSE GREATEST(ga1 + 0.2, 0.01) END AS ng1
        |  FROM e),
        |st AS (
        |  SELECT id, y0, y1, ng0, ng1,
        |         0.5 * p0 - (0.1 * ng0) * gr0 AS ns0,
        |         0.5 * p1 - (0.1 * ng1) * gr1 AS ns1
        |  FROM u)
        |SELECT id, ROUND(ns0 + y0, 9) + 0.0 AS y0_r, ROUND(ns1 + y1, 9) + 0.0 AS y1_r,
        |       ROUND(ns0, 9) + 0.0 AS s0_r, ROUND(ns1, 9) + 0.0 AS s1_r,
        |       ROUND(ng0, 9) + 0.0 AS g0_r, ROUND(ng1, 9) + 0.0 AS g1_r
        |FROM st ORDER BY id""".stripMargin,

    // moments value-exact, gaussian positions pinned via the determinism +
    // bound flag (the seeded draws aren't SQL-expressible)
    "q_init_moments" ->
      """SELECT vec_id AS id,
        |       CAST(0.0 AS DOUBLE) AS s0, CAST(0.0 AS DOUBLE) AS s1,
        |       CAST(1.0 AS DOUBLE) AS g0, CAST(1.0 AS DOUBLE) AS g1,
        |       CAST(1 AS BIGINT) AS init_ok
        |FROM embeddings ORDER BY id""".stripMargin,

    "q_gradient_exact" ->
      (knnSql +
        """, sym AS (
          |  SELECT i, j, SUM(dist) AS v FROM (
          |    SELECT i, j, dist FROM knn WHERE rn <= 10
          |    UNION ALL
          |    SELECT j AS i, i AS j, dist FROM knn WHERE rn <= 10)
          |  GROUP BY i, j),
          |p AS (SELECT i, j, v / (SELECT SUM(v) FROM sym) AS v FROM sym),
          |y AS (SELECT vec_id AS id, CAST(embedding[1] AS DOUBLE) AS y0,
          |             CAST(embedding[2] AS DOUBLE) AS y1 FROM embeddings),
          |q AS (
          |  SELECT a.id AS i, b.id AS j, a.y0 - b.y0 AS dx, a.y1 - b.y1 AS dy,
          |         1.0 / (1.0 + (a.y0 - b.y0)^2 + (a.y1 - b.y1)^2) AS q
          |  FROM y a JOIN y b ON a.id <> b.id),
          |sumq AS (SELECT SUM(q) AS s FROM q),
          |attr AS (
          |  SELECT p.i AS i, SUM(p.v * q.q * q.dx) AS ax, SUM(p.v * q.q * q.dy) AS ay
          |  FROM p JOIN q ON p.i = q.i AND p.j = q.j GROUP BY p.i),
          |rep AS (SELECT i, SUM(q * q * dx) AS rx, SUM(q * q * dy) AS ry
          |        FROM q GROUP BY i)
          |SELECT attr.i AS i,
          |       ROUND(attr.ax - rep.rx / (SELECT s FROM sumq), 8) + 0.0 AS gx_r,
          |       ROUND(attr.ay - rep.ry / (SELECT s FROM sumq), 8) + 0.0 AS gy_r
          |FROM attr JOIN rep ON attr.i = rep.i ORDER BY i""".stripMargin),

    "q_embed_neardup_lsh" ->
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
        |ORDER BY i, j""".stripMargin,

    "q_semantic_dedup" ->
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
        |             / (a.nrm * b.nrm) >= 0.45""".stripMargin,

    // n_exact recomputed from DuckDB's own tf-idf (unrounded weights,
    // sparse bucket join — never N²·dim): the same smoothed-idf arithmetic
    // as the Spark side, so the count must agree exactly at the measured
    // threshold gap
    "q_semantic_dedup_text" -> (tokSql.replace("FROM documents)",
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
        |WHERE dots.dot / (na.nrm * nb.nrm) >= 0.95""".stripMargin),

    "q_prototypes" ->
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
        |FROM r WHERE rn <= 5 ORDER BY label, rn""".stripMargin,

    "q_events_window" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
        |         AS window_start_s,
        |       event_type, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin,

    // identical window counts, identical integer 3-sigma test (HUGEINT is
    // DuckDB's exact int128, mirroring Spark's DECIMAL(38,0) widening)
    "q_rate_anomaly" ->
      """WITH wc AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_s,
        |         event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nw,
        |         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2
        |  FROM wc GROUP BY 1)
        |SELECT wc.window_start_s, wc.event_type, wc.n,
        |       CAST(CASE WHEN (wc.n * m.nw - m.s1) > 0
        |                  AND CAST(wc.n * m.nw - m.s1 AS HUGEINT)
        |                      * CAST(wc.n * m.nw - m.s1 AS HUGEINT)
        |                      > 9 * (CAST(m.nw AS HUGEINT) * CAST(m.s2 AS HUGEINT)
        |                             - CAST(m.s1 AS HUGEINT) * CAST(m.s1 AS HUGEINT))
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM wc JOIN m ON wc.event_type = m.event_type
        |ORDER BY wc.window_start_s, wc.event_type""".stripMargin,

    // identical arm hash, distinct-user conversion, and HUGEINT
    // cross-multiplied verdict
    "q_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'),
        |                         1, 15))::BIGINT % 2 AS arm,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |       CAST(CASE WHEN
        |         CAST(n_a + n_b AS HUGEINT)
        |           * ((CAST(conv_a AS HUGEINT) * CAST(n_b - conv_b AS HUGEINT)
        |               - CAST(n_a - conv_a AS HUGEINT) * CAST(conv_b AS HUGEINT))
        |              * (CAST(conv_a AS HUGEINT) * CAST(n_b - conv_b AS HUGEINT)
        |                 - CAST(n_a - conv_a AS HUGEINT) * CAST(conv_b AS HUGEINT)))
        |           * 100
        |         > 384 * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
        |               * CAST(conv_a + conv_b AS HUGEINT)
        |               * CAST((n_a - conv_a) + (n_b - conv_b) AS HUGEINT)
        |       THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM c""".stripMargin,

    // the identical integer recurrence replayed as a recursive CTE over
    // per-type window indices
    "q_cusum_drift" ->
      """WITH RECURSIVE wc AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_s,
        |         event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, window_start_s, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY window_start_s) AS i
        |  FROM wc),
        |al AS (
        |  SELECT event_type,
        |         CAST((SUM(n) + COUNT(*) - 1) // COUNT(*) AS BIGINT) AS k
        |  FROM wc GROUP BY 1),
        |r(event_type, i, s) AS (
        |  SELECT idx.event_type, idx.i, GREATEST(0, idx.n - al.k)
        |  FROM idx JOIN al ON al.event_type = idx.event_type WHERE idx.i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, GREATEST(0, r.s + (idx.n - al.k))
        |  FROM r JOIN idx ON idx.event_type = r.event_type
        |              AND idx.i = r.i + 1
        |  JOIN al ON al.event_type = idx.event_type)
        |SELECT idx.window_start_s, idx.event_type, idx.n, al.k, r.s,
        |       CAST(CASE WHEN r.s > 3 * al.k THEN 1 ELSE 0 END AS BIGINT)
        |         AS alarm
        |FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i
        |JOIN al ON al.event_type = idx.event_type
        |ORDER BY idx.window_start_s, idx.event_type""".stripMargin,

    // each event's 4 covering sliding windows generated per row, then the
    // same grouped micro-grid sums as the tumbling oracle
    "q_events_sliding" ->
      """WITH ks AS (
        |  SELECT ts, event_type, value, unnest(generate_series(0, 3)) AS k
        |  FROM events),
        |wd AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - k * INTERVAL '15 minutes' AS ws,
        |         event_type, value
        |  FROM ks)
        |SELECT CAST(epoch(ws) AS BIGINT) AS window_start_s,
        |       event_type, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM wd
        |GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin,

    "q_events_sessions" ->
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts >= COALESCE(LAG(ts) OVER w + INTERVAL '30 minutes',
        |                                  ts) AND LAG(ts) OVER w IS NOT NULL
        |              THEN 1
        |              WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |islands AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us, user_id,
        |       COUNT(*) AS n_events,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM islands GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "q_events_json" ->
      """SELECT event_type, COUNT(*) AS n,
        |       ROUND(AVG(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
        |                      AS BIGINT)), 6) AS avg_k_r
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q_events_enrich" ->
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin,

    "q_events_running_totals" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |       ROUND(SUM(value), 6) AS total_value_r
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

    "q_agg_lineitem" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty,
        |       ROUND(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_price,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_topk_orders" ->
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,

    "q_rank_topk" ->
      """SELECT o_custkey, o_orderkey, o_year, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         RANK() OVER (PARTITION BY o_custkey
        |                      ORDER BY year(o_orderdate) DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk, o_orderkey""".stripMargin,

    "q_dense_rank_topk" ->
      """SELECT o_custkey, o_orderkey, o_year, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         DENSE_RANK() OVER (PARTITION BY o_custkey
        |                            ORDER BY year(o_orderdate) DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk, o_orderkey""".stripMargin,

    "q_semi_anti" ->
      """SELECT c_custkey,
        |       CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |            THEN 1 ELSE 0 END AS has_orders
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_join_agg" ->
      """SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS rev
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "q_bucketed_join" ->
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |       ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q_outer_join" ->
      """WITH perCust AS (
        |  SELECT o_custkey, ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS rev
        |  FROM orders GROUP BY o_custkey HAVING o_custkey % 3 = 0),
        |cust AS (
        |  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 2 = 0)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_nationkey, rev
        |FROM cust FULL OUTER JOIN perCust ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin,

    "q_set_ops" -> {
      val thr = math.round(0.5 * (1L << 60).toDouble)
      s"""WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |sampled AS (
         |  SELECT doc_id FROM documents
         |  WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#train'), 1, 15))::BIGINT < $thr)
         |SELECT doc_id, 'both' AS tag FROM (SELECT doc_id FROM en INTERSECT SELECT doc_id FROM sampled)
         |UNION ALL
         |SELECT doc_id, 'only_en' AS tag FROM (SELECT doc_id FROM en EXCEPT SELECT doc_id FROM sampled)
         |ORDER BY doc_id""".stripMargin
    },

    "q_window_family" ->
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  DENSE_RANK() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_orderpriority, o_orderkey) AS prio_rank,
        |  NTILE(4) OVER w AS quartile,
        |  ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |          OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS run_rev
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_pivot_orders" ->
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,

    // DuckDB's native ASOF LEFT JOIN — an independent implementation of the
    // same semantics as the union-and-carry-forward Spark shape
    "q_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS v_ts_us,
        |         value AS v_val
        |  FROM events WHERE event_type = 'view'
        |  -- dedupe equal-microsecond ties to the max-event_id row: DuckDB's
        |  -- ASOF picks an arbitrary tied row, the Spark operator picks the
        |  -- max tie-break row — pre-deduping makes both deterministic and
        |  -- equal (the fixtures are tie-free today; this pins the contract)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, c.ts_us, v.v_ts_us,
        |       ROUND(v.v_val, 6) AS v_val_r
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.v_ts_us <= c.ts_us
        |ORDER BY c.event_id""".stripMargin,

    "q_range_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events)
        |SELECT a.user_id, a.event_id AS i, b.event_id AS j,
        |       b.ts_us - a.ts_us AS dt_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |WHERE (b.ts_us > a.ts_us
        |       OR (b.ts_us = a.ts_us AND b.event_id > a.event_id))
        |  AND b.ts_us <= a.ts_us + 1800000000
        |ORDER BY i, j""".stripMargin,

    "q_interval_join" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |         event_type
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |       c.ts_us - v.ts_us AS gap_us
        |FROM e c JOIN e v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts_us BETWEEN c.ts_us - 1800000000 AND c.ts_us
        |ORDER BY click_id, view_id""".stripMargin,

    // the same join LEFT OUTER: clicks with no in-window view keep a row
    "q_interval_join_outer" ->
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |         event_type
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |       c.ts_us - v.ts_us AS gap_us
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts_us BETWEEN c.ts_us - 1800000000 AND c.ts_us
        |ORDER BY click_id, view_id""".stripMargin,

    "q_novelty" -> (shingleSql +
      """, b AS (SELECT doc_id, h FROM sh WHERE doc_id % 11 = 0),
        |c AS (SELECT DISTINCT h FROM sh WHERE doc_id % 11 <> 0),
        |t AS (
        |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh,
        |         CAST(SUM(CASE WHEN h IN (SELECT h FROM c)
        |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_seen
        |  FROM b GROUP BY doc_id)
        |SELECT doc_id, n_sh, n_seen,
        |       ROUND(CAST(n_sh - n_seen AS DOUBLE) / n_sh, 6) AS novelty_r
        |FROM t ORDER BY doc_id""".stripMargin),

    "q_skew_distinct" ->
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_salted_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty_r
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    // sketch contracts: the oracle checks the exact value + the bound flag
    // (same pattern as the kNN/ANN recall queries)
    "q_sketch_distinct" ->
      """SELECT COUNT(DISTINCT l_orderkey) AS n_exact, CAST(1 AS BIGINT) AS ok
        |FROM lineitem""".stripMargin,

    // n = non-null population (what percentile_approx actually ranks over);
    // the fixture column is non-null so COUNT(col) == COUNT(*) here
    "q_sketch_quantiles" ->
      """SELECT COUNT(l_extendedprice) AS n, CAST(1 AS BIGINT) AS ok
        |FROM lineitem""".stripMargin,

    "q_sketch_topk_tokens" -> (tokSql +
      """SELECT CAST(SUM(len(t)) AS BIGINT) AS n, CAST(1 AS BIGINT) AS ok
        |FROM toks""".stripMargin),

    "q_sample_uniform" ->
      s"""SELECT doc_id FROM documents
         |WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#train'), 1, 15))::BIGINT
         |      < ${math.round(0.1 * (1L << 60).toDouble)}
         |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" -> {
      def thr(r: Double) = math.round(r * (1L << 60).toDouble)
      s"""SELECT doc_id, lang FROM documents
         |WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#mix'), 1, 15))::BIGINT
         |      < CASE lang WHEN 'en' THEN ${thr(0.5)} WHEN 'de' THEN ${thr(0.25)}
         |                  WHEN 'zh' THEN ${thr(0.1)} ELSE -1 END
         |ORDER BY doc_id""".stripMargin
    },

    "q_sample_token_budget" ->
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
        |ORDER BY doc_id""".stripMargin,

    "q_waterfill_budget" ->
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
        |ORDER BY c.doc_id""".stripMargin,

    "q_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_price_r
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_tfidf" -> (tokSql +
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
        |ORDER BY doc_id, bucket""".stripMargin),

    // BM25 replayed term-for-term: Lucene idf, k1=1.2 / b=0.75 length
    // norm, per-contribution 1e-6 quantization (order-free long sum), and
    // the (score_u DESC, doc_id) rank rule — the association order of
    // every float op mirrors the Spark Column expression exactly
    "q_bm25_topk" -> (tokSql +
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
        |  FROM sc) WHERE rn <= 10 ORDER BY query_id, rn""".stripMargin),

    "q_exact_quantiles" ->
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
        |ORDER BY source, quantile""".stripMargin,

    "q_weighted_quantiles" ->
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
        |ORDER BY source, quantile""".stripMargin,

    // targets re-derived in SQL: FLOOR(SQRT(count)) is the integer sqrt
    // for any realistic count (IEEE sqrt is correctly rounded), and `//`
    // is integer floor division — no float crosses the engine boundary
    "q_sample_temperature" ->
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
        |WHERE r.rn <= t.target ORDER BY r.doc_id""".stripMargin,

    "q_quality_topfrac" ->
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
        |ORDER BY doc_id""".stripMargin,

    // DSIR: identical hashed-bucket distributions, the identical quantized
    // log-ratio per bucket, long-sum doc weights, the identical seeded
    // Gumbel perturbation, and the same (score DESC, hash, doc_id) rank
    "q_dsir_select" -> (tposSql +
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
        |ORDER BY doc_id""".stripMargin),

    // BPE: the identical merge recurrence re-learned in SQL
    "q_bpe_merges" -> bpeMergesOracleSql(12),
    "q_bpe_segment" -> bpeSegmentOracleSql(12),

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
    "q_wordpiece_segment" ->
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
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin,

    // the sitemap location is a closed function of the domain — no
    // robots.txt text or parsing anywhere in the oracle
    "q_sitemap_discovery" ->
      (urlEnrichSql + urlCanonMatSql + """,
        |rdom AS (SELECT DISTINCT domain FROM canon)
        |SELECT domain,
        |       'https://' || domain || '/sitemap.xml' AS sitemap_url
        |FROM rdom ORDER BY domain""".stripMargin),

    // all four columns in closed form from doc_id (body_len = len(text)
    // in EVERY arm: the blank-line split hands back exactly the body,
    // and the non-HTTP arm passes the whole payload through)
    "q_http_probe" ->
      """WITH k AS (SELECT doc_id, doc_id % 127 AS k, len(text) AS n
        |           FROM documents)
        |SELECT doc_id,
        |       CAST(CASE WHEN k % 23 = 7 THEN 0
        |                 WHEN k % 17 = 3 THEN 404 ELSE 200 END AS BIGINT) AS status,
        |       CASE WHEN k % 23 = 7 THEN ''
        |            WHEN k % 9 = 2 THEN 'application/json'
        |            ELSE 'text/html' END AS content_type,
        |       CAST(n AS BIGINT) AS body_len
        |FROM k ORDER BY doc_id""".stripMargin,

    // every arm decodes to the entity verbatim (gzip inflated, chunked
    // unstacked in RFC order); only the died-mid-transfer arm flags
    // incomplete — its prefix is still the whole text (the terminator,
    // not data, is what's missing)
    "q_http_decode" ->
      """SELECT doc_id, CAST(200 AS BIGINT) AS status,
        |       'text/html' AS content_type,
        |       CAST(len(text) AS BIGINT) AS body_len,
        |       CAST(CASE WHEN (doc_id % 127) % 7 = 5 THEN 0 ELSE 1 END
        |            AS BIGINT) AS complete
        |FROM documents ORDER BY doc_id""".stripMargin,

    // enrichment AND the whole normalize chain replayed from the SAME
    // Scala constants (sqlLit renders them as DuckDB literals, control
    // chars via chr()), so neither the fixture nor a rule can drift
    "q_text_normalize" -> {
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
    },

    // the 5 multiplicative-weights rounds unrolled as CTE pairs (the
    // pageRank oracle discipline): weighted mean by integer div, the
    // clamped linearized multiplier, the L1 re-normalize — every SUM
    // cast back to BIGINT so `//` matches Spark's `div` exactly
    "q_mixture_weights" -> {
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
    },

    // multi-line regroup + enrichment + all seven Gopher verdicts
    // replayed integer-for-integer (cross-multiplied ratios, bullet /
    // ellipsis line scans, translate-based alpha-word count)
    "q_gopher_rules" -> (tokSql +
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
        |FROM f ORDER BY doc_id""".stripMargin),

    // the whole Viterbi replayed in SQL: unit counts (lengths 1..6,
    // word-frequency weighted), the ilog2 cost rule via bin(), the
    // forward DP as a recursive CTE carrying the best-cost LIST (the
    // per-position candidates pre-grouped into pci — a 1:1 join per
    // step, no correlated subquery), the smallest-l backpointer table,
    // and the backward cursor walk — bit-identical to the Spark HOFs
    "q_unigram_segment" ->
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
        |FROM documents d LEFT JOIN ag USING (doc_id) ORDER BY doc_id""".stripMargin,

    "q_doc_chunks" -> (tokSql +
      """, st AS (
        |  SELECT doc_id, t, unnest(generate_series(0, len(t) - 1, 48)) AS s
        |  FROM toks WHERE len(t) > 0)
        |SELECT doc_id,
        |       CAST(s // 48 AS BIGINT) AS chunk_index,
        |       array_to_string(list_slice(t, s + 1, s + 64), ' ') AS chunk_text,
        |       CAST(LEAST(64, len(t) - s) AS BIGINT) AS chunk_tokens
        |FROM st ORDER BY doc_id, chunk_index""".stripMargin),

    "q_shard_assignment" ->
      """WITH r AS (
        |  SELECT doc_id,
        |         ROW_NUMBER() OVER (
        |           ORDER BY ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#epoch0'), 1, 15))::BIGINT,
        |                    doc_id) - 1 AS rnk
        |  FROM documents)
        |SELECT doc_id, CAST(rnk // 32 AS BIGINT) AS shard,
        |       CAST(rnk % 32 AS BIGINT) AS pos
        |FROM r ORDER BY doc_id""".stripMargin,

    "q_pack_sequences" ->
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
        |FROM c ORDER BY doc_id""".stripMargin,

    // identical hash order, shard/pos arithmetic, and the next-fit
    // recurrence replayed recursively
    "q_pack_nosplit" ->
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
        |FROM r ORDER BY id""".stripMargin,

    "q_curation_e2e" -> (tokSql +
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
         |ORDER BY doc_id""".stripMargin),

    "q_pipeline_to_shards" -> (tokSql +
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
         |FROM p ORDER BY doc_id""".stripMargin),

    "q_pipeline_to_shards_skewed" -> (tokSql +
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
         |FROM p ORDER BY doc_id""".stripMargin),

    "q_cube_lineitem" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n, ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty_r
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_rollup_lineitem" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n, ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty_r
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin,

    "q_inverted_index" -> (tposSql +
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
        |ORDER BY p.gram, p.doc_id""".stripMargin),

    "q_filter_funnel" -> (tokSql +
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
         |ORDER BY stage_idx""".stripMargin),

    "q_datacard" -> (tokSql +
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
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    "q_ann_rp" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    // the covariance trace recomputed with no eigensolver: per-dimension
    // sample variances summed; the ok flags are the Spark-side machine
    // checks (orthonormality, eigenvalue order, reconstruction identity)
    "q_pca" ->
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
        |FROM pv""".stripMargin,

    "q_ann_pca" ->
      """SELECT COUNT(*) AS n_queries, CAST(1 AS BIGINT) AS recall_ok
        |FROM embeddings WHERE vec_id < 100""".stripMargin,

    "q_index_probe" -> (tposSql +
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
        |ORDER BY c.gram, c.doc_id""".stripMargin),

    "q_events_rolling" ->
      """SELECT event_id, user_id,
        |       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER w / 1000000.0, 6) AS sum_window_r
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin,

    // sequential split rule → recursive CTE: the walk carries each event's
    // current session start; all users advance in lockstep on rn, so the
    // recursion depth is max events/user, not total events
    "q_sessions_capped" ->
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, rn, ts_us, value, ts_us AS sess_start
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.ts_us, e.value,
        |         CASE WHEN e.ts_us - w.ts_us > 86400000000
        |                OR e.ts_us - w.sess_start > 172800000000
        |              THEN e.ts_us ELSE w.sess_start END
        |  FROM ev e JOIN walk w
        |    ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, sess_start AS session_start_us,
        |       MAX(ts_us) AS session_end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 6) AS sum_value_r
        |FROM walk GROUP BY 1, 2
        |ORDER BY user_id, session_start_us""".stripMargin,

    "q_first_touch" ->
      """SELECT user_id, event_type, event_id,
        |       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |       ROUND(value, 6) AS value_r
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) = 1
        |ORDER BY user_id, event_type""".stripMargin,

    "q_sample_fixed_k" ->
      """SELECT source, doc_id, sample_rank FROM (
        |  SELECT source, doc_id,
        |         ROW_NUMBER() OVER (PARTITION BY source ORDER BY
        |           ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null')
        |                               || '#fk0'), 1, 15))::BIGINT,
        |           doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 5 ORDER BY source, sample_rank""".stripMargin,

    // the identical quantized ln-weight + seeded Gumbel score, the same
    // (score DESC, hash, key) rank, the same exact integer cutoff
    "q_weighted_sample" ->
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
        |ORDER BY doc_id""".stripMargin,

    "q_snapshot_diff" ->
      """WITH old AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN text || ' v1' ELSE text END AS text,
        |         lang, source, n_chars
        |  FROM documents WHERE doc_id % 13 <> 0),
        |new AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 17 <> 3),
        |d AS (
        |  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
        |         CASE WHEN o.doc_id IS NULL THEN 'insert'
        |              WHEN n.doc_id IS NULL THEN 'delete'
        |              WHEN n.text IS DISTINCT FROM o.text
        |                OR n.lang IS DISTINCT FROM o.lang
        |                OR n.source IS DISTINCT FROM o.source
        |                OR n.n_chars IS DISTINCT FROM o.n_chars THEN 'update'
        |         END AS change,
        |         COALESCE(n.n_chars, o.n_chars) AS n_chars
        |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change, n_chars FROM d
        |WHERE change IS NOT NULL ORDER BY doc_id""".stripMargin,

    // the round-trip identity IS the check: snapshot + diff(snapshot, new)
    // must equal new, so the oracle is simply the new corpus — fully
    // independent of both operators under test
    "q_apply_changes" ->
      """SELECT doc_id, text, n_chars FROM documents
        |WHERE doc_id % 17 <> 3 ORDER BY doc_id""".stripMargin,

    "q_pmi_bigrams" -> (tposSql +
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
        |ORDER BY pmi_r DESC, w1, w2 LIMIT 100""".stripMargin),

    "q_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        |  FROM events),
        |coh AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |       CAST(datediff('day', cohort_day, day) AS BIGINT) AS offset_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ud JOIN coh USING (user_id)
        |GROUP BY coh.cohort_day, datediff('day', cohort_day, day)
        |ORDER BY cohort_day, offset_days""".stripMargin,

    "q_session_paths" ->
      """WITH p AS (
        |  SELECT user_id, date_trunc('day', ts)::DATE AS day,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id, day)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
        |FROM p GROUP BY path
        |ORDER BY n_user_days DESC, path LIMIT 50""".stripMargin,

    // identical to q_decontaminate by design: the Bloom stage is a pure
    // prefilter, so any difference is a false NEGATIVE — the bug class
    // this oracle exists to catch
    "q_decontaminate_bloom" -> (trigramTextSql +
      """, bench AS (SELECT DISTINCT g FROM tri WHERE doc_id % 37 = 0),
        |corp AS (SELECT DISTINCT doc_id, g FROM tri WHERE doc_id % 37 <> 0),
        |ov AS (SELECT doc_id, COUNT(*) AS n
        |       FROM corp JOIN bench USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, CAST(COALESCE(ov.n, 0) AS BIGINT) AS n_contaminated,
        |       CAST(CASE WHEN COALESCE(ov.n, 0) > 0 THEN 1 ELSE 0 END AS BIGINT)
        |         AS contaminated
        |FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
        |WHERE d.doc_id % 37 <> 0 ORDER BY d.doc_id""".stripMargin),

    "q_profile_docs" -> Seq("doc_id", "text", "lang", "source", "n_chars")
      .map(c =>
        s"""SELECT '$c' AS column_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |       CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           |         AS n_nulls,
           |       CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct
           |FROM documents""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name"),

    "q_histogram_chars" ->
      """SELECT CAST(floor(LEAST(GREATEST(n_chars, 0), 639) * 32 / 640)
        |            AS BIGINT) AS bin,
        |       CAST(COUNT(*) AS BIGINT) AS n_rows
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin,

    // sequential semantics pinned by the CTE chain: each step's MIN(ts)
    // is constrained strictly after the previous step's achieved time
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT user_id, CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |       CAST(epoch_us(t) AS BIGINT) AS t_us FROM s1
        |UNION ALL
        |SELECT user_id, CAST(2 AS INTEGER), 'click',
        |       CAST(epoch_us(t) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT user_id, CAST(3 AS INTEGER), 'purchase',
        |       CAST(epoch_us(t) AS BIGINT) FROM s3
        |ORDER BY user_id, step""".stripMargin,

    "q_gap_fill" ->
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts)::DATE AS day,
        |         SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        |      FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |         unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM b),
        |j AS (
        |  SELECT s.user_id, s.day, d.v
        |  FROM spine s LEFT JOIN daily d
        |    ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       ROUND(LAST_VALUE(v IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY day
        |                     ROWS UNBOUNDED PRECEDING), 6) AS v_fill_r,
        |       v IS NOT NULL AS observed
        |FROM j ORDER BY user_id, day""".stripMargin,

    // the oracle generates the same pair set by positional self-join —
    // an independent algorithm from the map-side generator under test
    "q_skipgram" -> (tposSql +
      """SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS c
        |FROM tpos a JOIN tpos b
        |  ON a.doc_id = b.doc_id AND b.pos > a.pos AND b.pos <= a.pos + 3
        |GROUP BY 1, 2 HAVING COUNT(*) >= 5
        |ORDER BY c DESC, w1, w2""".stripMargin),

    "q_split_assign" -> {
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
    },

    // the identical dense rank, modular draw, and self-collision bump
    "q_negative_pairs" ->
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
        |ORDER BY i, neg_idx""".stripMargin,

    // the identical hash, the identical literal Poisson ladder, exact
    // integer weights and sums
    "q_bootstrap_mean" -> {
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
    },

    // the identical ascending (value, hash, key) rank and the identical
    // one-division percentile
    // the same (value, hash, key) deterministic order as the prefix scan,
    // per source AND globally; ceil-div rank mapping; value fetched by
    // global-rank equi-join
    "q_quantile_normalize" ->
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
        |ORDER BY t.doc_id""".stripMargin,

    "q_pct_rank" ->
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
        |FROM r ORDER BY doc_id""".stripMargin,

    // cutoffs re-derived by the same nearest-rank rule over the same
    // (value, hash, key) order the prefix scan uses
    "q_quality_winsor" ->
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
         |ORDER BY doc_id""".stripMargin,

    "q_minmax_scale" ->
      """WITH s AS (
        |  SELECT source, MIN(n_chars) AS mn, MAX(n_chars) AS mx
        |  FROM documents GROUP BY source)
        |SELECT doc_id, d.source,
        |       CASE WHEN d.n_chars IS NULL THEN NULL
        |            WHEN mx = mn THEN 0.0
        |            ELSE ROUND((d.n_chars - mn) / (mx - mn), 9) END AS scaled_r
        |FROM documents d LEFT JOIN s ON d.source = s.source
        |ORDER BY doc_id""".stripMargin,

    "q_equidepth_hist" ->
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
        |FROM r GROUP BY 1 ORDER BY bucket""".stripMargin,

    "q_ols_trend" ->
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
        |FROM a ORDER BY source""".stripMargin,

    "q_token_entropy" -> (tokSql +
      """, tw AS (SELECT doc_id, unnest(t) AS w FROM toks),
        |c AS (SELECT doc_id, w, COUNT(*) AS c FROM tw GROUP BY 1, 2),
        |e AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |             SUM(c * ln(c)) AS sclc
        |      FROM c GROUP BY doc_id)
        |SELECT doc_id,
        |       ROUND(ln(CAST(n AS DOUBLE)) - sclc / CAST(n AS DOUBLE), 6)
        |         AS entropy_r
        |FROM e ORDER BY doc_id""".stripMargin),

    // the same KL chain over the version-tagged snapshot union
    // all occurrence counts re-derived from the position self-join; the
    // identical one-division lift and the identical (lift, hash) ranking
    "q_source_signature" -> (tposSql +
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
        |FROM r WHERE rk <= 5 ORDER BY source, rk""".stripMargin),

    // the same window-hash cut rule replayed per position, segments via
    // LEAD over the per-doc boundary set
    "q_cdc_chunks" ->
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
        |ORDER BY doc_id, chunk_idx""".stripMargin,

    // the same one-vs-rest CDFs over the value grid, windowed cumulative
    // sums (single-engine, so a window is fine here), same exact integer
    // numerator and the identical final division
    "q_ks_drift" ->
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
        |FROM k JOIN n USING (stratum) ORDER BY source""".stripMargin,

    "q_snapshot_drift" ->
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
        |FROM term GROUP BY 1 ORDER BY version""".stripMargin,

    // identical (stratum, token) counts, the identical nano-quantized
    // per-term KL contribution, long sums
    "q_source_kl" -> (tokSql +
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
        |FROM term GROUP BY 1 ORDER BY source""".stripMargin),

    // identical rank order (count DESC, hash, token), identical
    // micro-unit log coordinates, DECIMAL(38) moment sums, identical
    // Cramer association
    "q_zipf" -> (tokSql +
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
        |FROM m""".stripMargin),

    "q_twa" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, value,
        |         LEAD(ts_us) OVER (PARTITION BY user_id
        |                           ORDER BY ts_us, event_id) - ts_us AS dt_us
        |  FROM e),
        |a AS (
        |  SELECT user_id,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6)) * dt_us) AS DOUBLE) AS svdt,
        |         CAST(SUM(dt_us) AS BIGINT) AS span_us
        |  FROM d WHERE dt_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, ROUND(svdt / CAST(span_us AS DOUBLE), 6) AS twa_r, span_us
        |FROM a ORDER BY user_id""".stripMargin,

    "q_conversion_latency" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |l AS (
        |  SELECT s1.user_id, 'view>click' AS transition,
        |         epoch_us(s2.t) - epoch_us(s1.t) AS lat_us
        |  FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL
        |  SELECT s2.user_id, 'click>purchase',
        |         epoch_us(s3.t) - epoch_us(s2.t)
        |  FROM s2 JOIN s3 USING (user_id)),
        |h AS (
        |  SELECT transition, lat_us,
        |         ('0x' || substr(md5(COALESCE(CAST(user_id AS VARCHAR), 'null') || '#conv'), 1, 15))::BIGINT AS hh,
        |         user_id
        |  FROM l),
        |r AS (
        |  SELECT transition, lat_us,
        |         ROW_NUMBER() OVER (PARTITION BY transition
        |                            ORDER BY lat_us, hh, user_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY transition) AS c
        |  FROM h),
        |q(quantile, num, den) AS (VALUES ('p50', 50, 100), ('p90', 90, 100))
        |SELECT transition, quantile, lat_us
        |FROM r JOIN q ON rn = GREATEST((c * num + den - 1) // den, 1)
        |ORDER BY transition, quantile""".stripMargin,

    // the direct aggregate over the (deterministically re-derived) new
    // corpus — fully independent of the diff and delta machinery
    "q_incremental_agg" ->
      """SELECT source,
        |       CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(n_chars) AS BIGINT) AS s
        |FROM documents WHERE doc_id % 19 <> 5
        |GROUP BY 1, 2 ORDER BY source, lang""".stripMargin,

    "q_hll_rollup" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin,

    // exact weekly non-null counts; ok = 1 is the KLL rank-interval
    // contract the Spark side machine-checks
    "q_kll_rollup" ->
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |       CAST(COUNT(value) AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin,

    // exact per-type distinct users and pairwise overlaps; ok = 1 is the
    // theta-intersection accuracy contract
    "q_theta_overlap" ->
      """WITH mem AS (SELECT DISTINCT event_type AS g, user_id AS k FROM events),
        |per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM mem GROUP BY g),
        |ov AS (SELECT a.g AS g_a, b.g AS g_b, CAST(COUNT(*) AS BIGINT) AS n_both
        |       FROM mem a JOIN mem b ON a.k = b.k AND a.g < b.g
        |       GROUP BY 1, 2)
        |SELECT p1.g AS g_a, p2.g AS g_b, p1.n AS n_a, p2.n AS n_b,
        |       COALESCE(ov.n_both, 0) AS n_both, CAST(1 AS BIGINT) AS ok
        |FROM per p1 JOIN per p2 ON p1.g < p2.g
        |LEFT JOIN ov ON ov.g_a = p1.g AND ov.g_b = p2.g
        |ORDER BY g_a, g_b""".stripMargin,

    // exact per-source occurrence + distinct 3-gram counts; ok = 1 is the
    // sketch-accuracy contract the Spark side machine-checks
    "q_ngram_diversity" -> (tposSql +
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
        |ORDER BY source""".stripMargin),

    // the full checksum recomputed from scratch: key-hash bucketing and
    // the content hash over the same chr(1)-separated / chr(2)-NULL-sentinel
    // column serialization (delimited so boundary shifts can't collide)
    "q_table_checksum" ->
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null')), 1, 15))::BIGINT % 64 AS bucket,
        |         ('0x' || substr(md5(
        |            COALESCE(CAST(doc_id AS VARCHAR), chr(2)) || chr(1) || COALESCE(text, chr(2)) || chr(1) ||
        |            COALESCE(lang, chr(2)) || chr(1) || COALESCE(source, chr(2)) || chr(1) ||
        |            COALESCE(CAST(n_chars AS VARCHAR), chr(2))), 1, 15))::BIGINT AS ch
        |  FROM documents)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       bit_xor(ch) AS content_xor
        |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin,

    // chunk token lists sliced straight from the token CTE (chunk_text is
    // the space-joined slice, so re-tokenizing is identity); the majority
    // vote re-derived by ROW_NUMBER with the same (count, lang) ordering
    "q_lang_mix" -> (tokSql +
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
         |FROM agg JOIN mj USING (doc_id) ORDER BY doc_id""".stripMargin),

    "q_interarrival" ->
      """WITH g AS (
        |  SELECT event_id, event_type,
        |         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |h AS (
        |  SELECT event_id, event_type, gap_us,
        |         ('0x' || substr(md5(COALESCE(CAST(event_id AS VARCHAR), 'null') || '#gap'), 1, 15))::BIGINT AS h
        |  FROM g WHERE gap_us IS NOT NULL),
        |r AS (
        |  SELECT event_type, gap_us,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY gap_us, h, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS c
        |  FROM h),
        |q(quantile, num, den) AS (
        |  VALUES ('p50', 50, 100), ('p90', 90, 100), ('p99', 99, 100))
        |SELECT event_type, quantile, gap_us
        |FROM r JOIN q ON rn = GREATEST((c * num + den - 1) // den, 1)
        |ORDER BY event_type, quantile""".stripMargin,

    // the same bucket + mask-and-shift ladder in DuckDB integer bit ops —
    // any drift in the key math breaks the hash
    "q_zorder_key" ->
      """WITH ext AS (
        |  SELECT MIN(n_chars) AS mn1, MAX(n_chars) AS mx1,
        |         MIN(doc_id) AS mn2, MAX(doc_id) AS mx2
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN mx1 = mn1 THEN 0
        |              ELSE ((n_chars - mn1) * 65536) // (mx1 - mn1 + 1)
        |         END AS b1,
        |         CASE WHEN mx2 = mn2 THEN 0
        |              ELSE ((doc_id - mn2) * 65536) // (mx2 - mn2 + 1)
        |         END AS b2
        |  FROM documents CROSS JOIN ext),
        |s1 AS (SELECT doc_id, b1 & 65535 AS x, b2 & 65535 AS y FROM b),
        |s2 AS (SELECT doc_id, (x | (x << 8)) & 16711935 AS x,
        |              (y | (y << 8)) & 16711935 AS y FROM s1),
        |s3 AS (SELECT doc_id, (x | (x << 4)) & 252645135 AS x,
        |              (y | (y << 4)) & 252645135 AS y FROM s2),
        |s4 AS (SELECT doc_id, (x | (x << 2)) & 858993459 AS x,
        |              (y | (y << 2)) & 858993459 AS y FROM s3),
        |s5 AS (SELECT doc_id, (x | (x << 1)) & 1431655765 AS x,
        |              (y | (y << 1)) & 1431655765 AS y FROM s4)
        |SELECT doc_id, CAST((x << 1) | y AS BIGINT) AS zkey
        |FROM s5 ORDER BY doc_id""".stripMargin,

    // the oracle mines pairs by positional self-join over the distinct
    // (user, day, type) table — an independent algorithm from the
    // per-basket map-side generator under test
    "q_basket_pairs" ->
      """WITH ut AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day,
        |         event_type
        |  FROM events),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
        |       FROM (SELECT DISTINCT user_id, day FROM ut)),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM ut GROUP BY 1),
        |p AS (
        |  SELECT x.event_type AS a, y.event_type AS b,
        |         CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM ut x JOIN ut y
        |    ON x.user_id = y.user_id AND x.day = y.day
        |   AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, c12, ma.c AS c1, mb.c AS c2, n_baskets,
        |       ROUND(CAST(n_baskets * c12 AS DOUBLE)
        |             / CAST(ma.c * mb.c AS DOUBLE), 6) AS lift_r
        |FROM p JOIN m ma ON p.a = ma.event_type
        |       JOIN m mb ON p.b = mb.event_type
        |       CROSS JOIN nb
        |WHERE c12 >= 2 ORDER BY a, b""".stripMargin,

    // the oracle counts by band join over a generated day spine — the
    // window-join spelling of the fan-out construction under test
    "q_rolling_active" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS d
        |  FROM (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ud))
        |SELECT strftime(d, '%Y-%m-%d') AS report_day,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
        |FROM spine JOIN ud
        |  ON ud.day BETWEEN d - INTERVAL 6 DAY AND d
        |GROUP BY d ORDER BY report_day""".stripMargin,

    "q_tpch_q3" ->
      """SELECT l_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue_r
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < '1997-01-01' AND l_shipdate > '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_r DESC, l_orderkey LIMIT 10""".stripMargin,

    "q_tpch_q5" ->
      """SELECT n_name,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue_r
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY n_name ORDER BY revenue_r DESC, n_name""".stripMargin,

    // every arithmetic step (1/(60+r), one add) is an IEEE double op in
    // the same association order as the Spark side, so the fused score
    // and ordering are bit-identical — no tolerance needed
    "q_rrf_fusion" ->
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
        |WHERE rn <= 10 ORDER BY i, rn""".stripMargin,

    "q_top_tokens_source" ->
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
        |WHERE rn <= 10 ORDER BY source, rn""".stripMargin
  )
}
