package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.tsne.{Distances, Knn, Point}

import scala.util.Random

/** Similarity search over an embedding column (`Array[Double]` after the
  * scan cast) — the query-time face of the same problem the t-SNE kNN
  * operators solve: brute-force cosine top-k as the exact baseline, and a
  * random-hyperplane LSH variant as the scale path (candidates from bucket
  * collisions only — no query×corpus product anywhere).
  */
object Ann {

  /** The `k` most similar `j` per `i` of `scored(i, j, sim)` as
    * `(i, j, rn, sim)`: Knn's top-k over the negated similarity. */
  private[pipeline] def topKBySim(scored: DataFrame, k: Int): DataFrame =
    Knn.topKPerPointRanked(
      scored.select(col("i"), col("j"), (-col("sim")).as("dist")), k)
      .select(col("i"), col("j"), col("rn"), (-col("dist")).as("sim"))

  /** Exact top-k by cosine similarity: queries × corpus with the codegen'd
    * dot/norm expressions, ranking window per query. The right choice when
    * the query set is small (broadcast the queries) or recall must be 1. */
  def bruteTopK(corpus: Dataset[Point], queries: Dataset[Point], k: Int): DataFrame = {
    val spark = corpus.sparkSession
    val q = queries.toDF().select(col("id").as("i"), col("vec").as("va"))
    // the broadcast join streams the corpus side and inherits its
    // partitioning — spread it so a single-partition scan doesn't
    // serialize the |Q|·N similarity work
    val c = corpus.toDF()
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("id").as("j"), col("vec").as("vb"))
    val pairs = broadcast(q).crossJoin(c)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
    topKBySim(pairs, k)
  }

  /** IVF (inverted-file) index: a coarse k-means quantizer over the corpus,
    * cells as inverted lists. [[ivfTopK]] probes the `nprobe` nearest cells
    * per query and rescores exactly — the FAISS-style scale path: search
    * cost is nprobe/nlist of the corpus per query, and the index build is
    * a few Lloyd's iterations of one hash-aggregation each.
    *
    * Deterministic: centroids init from evenly-strided corpus vectors
    * (seeded order), ties in assignment break by centroid id. */
  final case class IvfIndex(centroids: Array[Array[Double]],
                            assigned: DataFrame /* (id, vec, cell) */) {
    /** Drop the cached inverted lists when done with the index. */
    def release(): Unit = assigned.unpersist()
  }

  private def unit(v: Array[Double]): Array[Double] = {
    var n = 0.0
    var d = 0
    while (d < v.length) { n += v(d) * v(d); d += 1 }
    val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
    val out = new Array[Double](v.length)
    d = 0
    while (d < v.length) { out(d) = v(d) * inv; d += 1 }
    out
  }

  /** Spherical k-means centroids: the coarse quantizer shared by the IVF
    * index and [[semanticNearDupPairs]]. A few Lloyd's iterations, each one
    * hash-aggregation (assign + partial sums, map-side combined); only the
    * nlist centroid vectors ever reach the driver. Deterministic: centroids
    * init from the nlist smallest seeded id-hashes — a uniform sample that
    * is a pure function of (seed, data). */
  def kmeansCentroids(corpus: Dataset[Point], nlist: Int, iters: Int = 5,
                      seed: Long = 42L): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // the Lloyd loop reads the corpus iters+1 times; persist the unit-
    // normalized projection ONCE so each iteration is a cache read, not a
    // fresh source scan + re-normalization (at the 100 TB scale this file
    // targets, an unpersisted loop costs ~iters× the build's I/O)
    val unitized = corpus.map(p => Point(p.id, unit(p.vec)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var centroids: Array[Array[Double]] = unitized.toDF()
        .select(col("vec"), xxhash64(col("id"), lit(seed)).as("h"))
        .orderBy("h").limit(nlist)
        .select("vec").as[Array[Double]].collect()

      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(centroids)
        // one hash aggregation per iteration: assign + partial sums
        val next = unitized.mapPartitions { rows =>
          val cs = bc.value
          // spherical k-means: cells live on the unit sphere so they align
          // with cosine neighborhoods (raw-L2 cells don't)
          rows.map { p => (nearestCentroid(p.vec, cs), (p.vec, 1L)) }
        }.rdd
          .reduceByKey { (a, b) =>
            val s = a._1.clone()
            var d = 0
            while (d < s.length) { s(d) += b._1(d); d += 1 }
            (s, a._2 + b._2)
          }
          .collect()
        val updated = centroids.clone()
        next.foreach { case (cell, (sum, cnt)) =>
          updated(cell) = unit(sum.map(_ / cnt)) // re-project onto the sphere
        }
        bc.destroy()
        centroids = updated
        it += 1
      }
      centroids
    } finally unitized.unpersist()
  }

  def ivfBuild(corpus: Dataset[Point], nlist: Int, iters: Int = 5,
               seed: Long = 42L): IvfIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nlist, iters, seed)
    val bc = spark.sparkContext.broadcast(centroids)
    // the inverted lists ARE the index: persist so probes don't re-scan
    // and re-assign the corpus on every search (release() when done).
    // Lists carry the ORIGINAL vectors (probe rescoring normalizes the
    // query side; cosineSimCol is scale-invariant in its arguments).
    val assigned = corpus.mapPartitions { rows =>
      val cs = bc.value
      rows.map(p => (p.id, p.vec, nearestCentroid(unit(p.vec), cs)))
    }.toDF("id", "vec", "cell")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assigned.count() // materialize the lists while the trainer's cache is warm
    IvfIndex(centroids, assigned)
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0
    var bestD = Double.PositiveInfinity
    var c = 0
    while (c < cs.length) {
      val d = Distances.sqEuclidean(v, cs(c))
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** The `n` nearest centroid ids, ascending by quantizer distance, ties by
    * centroid id (full determinism). n is small (2-4 probes): a single
    * selection pass beats building and sorting a distance array. */
  private def nearestCells(v: Array[Double], cs: Array[Array[Double]],
                           n: Int): Array[Int] = {
    val dists = new Array[Double](cs.length)
    var c = 0
    while (c < cs.length) { dists(c) = Distances.sqEuclidean(v, cs(c)); c += 1 }
    val out = new Array[Int](math.min(n, cs.length))
    val taken = new Array[Boolean](cs.length)
    var slot = 0
    while (slot < out.length) {
      var best = -1
      var bestD = Double.PositiveInfinity
      c = 0
      while (c < cs.length) {
        if (!taken(c) && dists(c) < bestD) { bestD = dists(c); best = c }
        c += 1
      }
      taken(best) = true
      out(slot) = best
      slot += 1
    }
    out
  }

  /** SemDeDup-style semantic near-duplicate pairs (exact cosine >= theta,
    * candidates from shared k-means cells): cluster the corpus with the
    * same spherical quantizer the IVF index uses, generate candidates only
    * WITHIN cells, rescore exactly. The cluster-structured scale path for
    * embedding near-dedup — candidate volume is Σ|cell|² ≈ N²/nlist
    * instead of N², and unlike hyperplane LSH the cells adapt to the
    * data's actual density (random hyperplanes waste tables on directions
    * the corpus never occupies).
    *
    * `probes` > 1 closes the cell-boundary hole: each point joins its
    * `probes` nearest cells for candidate generation (a near-dup pair
    * split by a Voronoi boundary still meets in the second-choice cell).
    * Candidates are deduplicated BEFORE the exact rescoring so a pair
    * sharing several cells is scored once. Precision is exact by
    * construction (every emitted pair passed the true cosine test);
    * recall is approximate like every SemDeDup variant — near 1 when
    * theta is high enough that dup pairs are far tighter than cell
    * diameters. Returns (i, j, sim), i < j. */
  def semanticNearDupPairs(corpus: Dataset[Point], theta: Double,
                           nlist: Int, probes: Int = 2, iters: Int = 5,
                           seed: Long = 42L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nlist, iters, seed)
    val bc = spark.sparkContext.broadcast(centroids)
    val nProbes = probes
    val cells = corpus.mapPartitions { rows =>
      val cs = bc.value
      rows.flatMap { p =>
        val u = unit(p.vec)
        nearestCells(u, cs, nProbes).map(cell => (cell, p.id, p.vec))
      }
    }.toDF("cell", "id", "vec")
    // rename the self-join sides up front: both lineages trace to `cells`,
    // and distinct renamed keys keep the condition unambiguous (no reliance
    // on Spark's self-join repair, no trivially-true-predicate warnings).
    // Vectors ride THROUGH the cell join so rescoring is inline — the
    // alternative (candidate distinct on bare ids, then two joins to fetch
    // vectors) re-shuffles the full candidate volume twice and measured
    // 40% slower at N=20k/3.5% candidates. A pair sharing several probe
    // cells is scored once per shared cell (identical result), and only
    // the ≥θ SURVIVORS pay the dedup.
    val a = cells.select(col("cell").as("cell_a"), col("id").as("i"),
      col("vec").as("va"))
    val b = cells.select(col("cell").as("cell_b"), col("id").as("j"),
      col("vec").as("vb"))
    a.join(b, col("cell_a") === col("cell_b") && col("i") < col("j"))
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
      .where(col("sim") >= theta)
      .distinct()
  }

  /** Approximate cosine top-k via the IVF index: each query probes its
    * `nprobe` nearest cells (by quantizer distance) and rescores only
    * those inverted lists. One equi-join on cell id — the probe set is
    * nprobe rows per query, the join touches nprobe/nlist of the corpus. */
  def ivfTopK(index: IvfIndex, queries: Dataset[Point], k: Int,
              nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(index.centroids)
    val probes = queries.mapPartitions { rows =>
      val cs = bc.value
      rows.flatMap { q =>
        val u = unit(q.vec)
        cs.indices
          .map(c => (c, Distances.sqEuclidean(u, cs(c))))
          .sortBy { case (c, d) => (d, c) }
          .take(nprobe)
          .map { case (c, _) => (q.id, q.vec, c) }
      }
    }.toDF("i", "qvec", "cell")

    val scored = probes
      .join(index.assigned.select(col("id").as("j"), col("vec"), col("cell")), "cell")
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("qvec"), col("vec")).as("sim"))
    topKBySim(scored, k)
  }

  // ---------------- product quantization (PQ) ---------------------------

  /** Product-quantization index (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): unit-normalized vectors are
    * split into `m` subspaces; each subspace gets its own `ksub`-centroid
    * k-means codebook; a vector is stored as `m` small centroid ids. This
    * is the MEMORY-bound ANN scale path: a 64-dim float vector (512 B)
    * becomes 16 codes (≤ 16 B), so the scan that [[pqTopK]] runs touches
    * 30×+ fewer bytes than exact rescoring — at 100 TB of embeddings the
    * codes table fits where the vectors cannot. Queries are scored
    * asymmetrically (ADC): the query stays exact, distances come from a
    * per-query lookup table of subspace dot products, so each corpus row
    * costs m table adds, no vector arithmetic. */
  final case class PqIndex(codebook: Array[Array[Array[Double]]], // [m][ksub][dsub]
                           codes: DataFrame /* (id, codes BINARY — one byte per subspace) */) {
    def release(): Unit = codes.unpersist()
  }

  private def subvec(u: Array[Double], s: Int, dsub: Int): Array[Double] =
    java.util.Arrays.copyOfRange(u, s * dsub, (s + 1) * dsub)

  /** Train per-subspace codebooks (Lloyd's, like [[ivfBuild]] but per
    * subspace in one job: the subvector table carries a `sub` key, so one
    * reduceByKey per iteration trains all m codebooks). Deterministic:
    * init = the ksub smallest seeded hashes per subspace, assignment ties
    * break by centroid id. Per-iteration driver traffic is the codebook
    * (dim × ksub doubles), never the data. */
  def pqBuild(corpus: Dataset[Point], m: Int, ksub: Int, iters: Int = 5,
              seed: Long = 42L): PqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    pqTrainEncode(corpus.map(p => Point(p.id, unit(p.vec))), m, ksub, iters, seed)
  }

  /** [[pqBuild]]'s training + encoding core over PRE-TRANSFORMED vectors
    * (the caller decides the geometry: unit vectors for plain PQ,
    * cell residuals for [[ivfPqBuild]] — residuals must NOT be
    * re-normalized, which is why the normalization lives in the
    * wrapper). */
  private[pipeline] def pqTrainEncode(vecs: Dataset[Point], m: Int, ksub: Int,
                                      iters: Int, seed: Long): PqIndex = {
    val spark = vecs.sparkSession
    import spark.implicits._
    val dim = vecs.head().vec.length
    require(dim % m == 0, s"dim $dim must split into m=$m equal subspaces")
    require(ksub <= 256, s"codes are stored one byte per subspace; ksub=$ksub > 256")
    val dsub = dim / m
    val subRows = vecs.flatMap { p =>
      Iterator.tabulate(m)(s => (s, subvec(p.vec, s, dsub)))
    }.toDF("sub", "v").persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val initRows = subRows
        .select(col("sub"), col("v"), xxhash64(col("sub"), col("v"), lit(seed)).as("h"))
        .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy("sub").orderBy("h")))
        .where(col("rn") <= ksub)
        .select(col("sub"), col("rn"), col("v"))
        .as[(Int, Int, Array[Double])].collect()
      var codebook = Array.tabulate(m, ksub)((s, c) =>
        initRows.collectFirst { case (`s`, rn, v) if rn == c + 1 => v }
          .getOrElse(new Array[Double](dsub)))

      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(codebook)
        val next = subRows.as[(Int, Array[Double])].mapPartitions { rows =>
          val cb = bc.value
          rows.map { case (s, v) => ((s, nearestCentroid(v, cb(s))), (v, 1L)) }
        }.rdd.reduceByKey { (a, b) =>
          val sum = a._1.clone()
          var d = 0
          while (d < sum.length) { sum(d) += b._1(d); d += 1 }
          (sum, a._2 + b._2)
        }.collect()
        val updated = codebook.map(_.clone())
        next.foreach { case ((s, c), (sum, cnt)) =>
          updated(s)(c) = sum.map(_ / cnt)
        }
        bc.destroy()
        codebook = updated
        it += 1
      }

      val bcFinal = spark.sparkContext.broadcast(codebook)
      // one BYTE per subspace: the literal 512 B vector → m B code row
      val codes = vecs.mapPartitions { rows =>
        val cb = bcFinal.value
        rows.map { p =>
          (p.id, Array.tabulate(cb.length)(s =>
            nearestCentroid(subvec(p.vec, s, dsub), cb(s)).toByte))
        }
      }.toDF("id", "codes")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      codes.count() // materialize before dropping the subvector cache
      PqIndex(codebook, codes)
    } finally subRows.unpersist()
  }

  /** The ADC lookup table for one query against one codebook: per
    * subspace s, `lut(s)(c) = q_sub_s · codebook(s)(c)`, so any code row
    * scores in m byte-indexed adds. */
  private def buildLut(u: Array[Double], cb: Array[Array[Array[Double]]],
                       dsub: Int): Array[Array[Double]] =
    Array.tabulate(cb.length, cb(0).length) { (s, c) =>
      val qs = subvec(u, s, dsub)
      val cs = cb(s)(c)
      var acc = 0.0
      var d = 0
      while (d < dsub) { acc += qs(d) * cs(d); d += 1 }
      acc
    }

  /** Unit-normalized query blocks for the distributed ADC scan: one array
    * per partition (glom), so a cartesian against the codes table yields
    * one (block × codes-partition) task per pair, and the block's LUTs
    * are built once per task. */
  private def queryBlocks(queries: Dataset[Point], queryParts: Int)
      : org.apache.spark.rdd.RDD[Array[(Long, Array[Double])]] = {
    require(queryParts >= 1, s"queryParts must be >= 1, got $queryParts")
    val spark = queries.sparkSession
    import spark.implicits._
    val r = queries.map(p => (p.id, unit(p.vec))).rdd
    val sized =
      if (r.getNumPartitions == queryParts) r
      else if (r.getNumPartitions > queryParts) r.coalesce(queryParts)
      else r.repartition(queryParts)
    sized.glom()
  }

  /** Approximate cosine top-k by asymmetric distance computation,
    * distributed on BOTH sides: the only broadcast is the codebook
    * (m·ksub·dsub doubles — small and query-independent). Each task
    * receives one query block × one codes partition, builds the block's
    * m × ksub LUTs once executor-side, and streams the codes partition
    * through them — m byte-indexed lookups per (query, row). The query
    * set never passes through the driver, so a 100k-query batch costs
    * the driver nothing. (The earlier design collect()ed the queries and
    * built every LUT driver-side — ~12 GB through the driver funnel at
    * that batch size; `AnnSpec` drives a 10k-query batch through this
    * path.) The scan reads codes only — original vectors never move.
    *
    * `queryParts` is the block height: per-task LUT memory is
    * (|Q| / queryParts) · m · ksub · 8 B and the codes table is scanned
    * queryParts times. The default 1 holds batches up to ~10⁵ queries at
    * the contract's m=32, ksub=64 (16 KB per query); raise it when the
    * LUT block would outgrow task memory. */
  def pqTopK(index: PqIndex, queries: Dataset[Point], k: Int,
             queryParts: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dsub = index.codebook(0)(0).length
    val cbBc = spark.sparkContext.broadcast(index.codebook)
    val qBlocks = queryBlocks(queries, queryParts)
    val codesRdd = index.codes.as[(Long, Array[Byte])].rdd
    val scored = qBlocks.cartesian(codesRdd).mapPartitions { pairs =>
      // the glom'd block is the SAME array object on every pair of this
      // task, so the LUTs are built once, lazily on the first row
      var luts: Array[(Long, Array[Array[Double]])] = null
      pairs.flatMap { case (qArr, (j, codeArr)) =>
        if (luts == null)
          luts = qArr.map { case (i, u) => (i, buildLut(u, cbBc.value, dsub)) }
        luts.iterator.filter(_._1 != j).map { case (i, lut) =>
          var acc = 0.0
          var s = 0
          while (s < codeArr.length) { acc += lut(s)(codeArr(s) & 0xFF); s += 1 }
          (i, j, acc)
        }
      }
    }.toDF("i", "j", "sim")
    topKBySim(scored, k)
  }

  // ---------------- IVF-PQ composition ----------------------------------

  /** IVF-PQ index (the FAISS `IndexIVFPQ` shape, residual variant):
    * coarse k-means cells bound WHICH rows a query scans, PQ codes bound
    * the BYTES each scanned row costs — the two orthogonal scale levers of
    * [[IvfIndex]] and [[PqIndex]] composed. `coded` is
    * `(id, cell, codes)`: m bytes + one int per corpus vector; a cluster
    * deployment writes it `partitionBy(cell)` so probe sets prune
    * partitions at the source and the per-query scan touches
    * ~`nprobe/nlist` of an already-32×-smaller table. Codes quantize the
    * RESIDUAL `u − centroid[cell]` (FAISS's default): residuals are a far
    * tighter distribution than the unit sphere — the cell explains most
    * of the vector's energy — so the same m × ksub code budget spends its
    * levels on a smaller support, which is where most of IVF-PQ's recall
    * at a fixed code size comes from. Scoring folds the decomposition
    * `q·x̂ = q·centroid[cell] + q·residual-code` into the same m lookups
    * plus one per-cell constant ([[ivfPqTopK]]). */
  final case class IvfPqIndex(centroids: Array[Array[Double]],
                              codebook: Array[Array[Array[Double]]],
                              coded: DataFrame /* (id, cell, codes) */) {
    def release(): Unit = coded.unpersist()
  }

  /** Train both quantizers (coarse cells via [[kmeansCentroids]], then
    * subspace codebooks over the cell RESIDUALS via [[pqTrainEncode]])
    * and emit the coded table. Driver traffic per iteration: centroids +
    * codebooks only. */
  def ivfPqBuild(corpus: Dataset[Point], nlist: Int, m: Int, ksub: Int,
                 iters: Int = 5, seed: Long = 42L): IvfPqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = kmeansCentroids(corpus, nlist, iters, seed)
    val bc = spark.sparkContext.broadcast(centroids)
    val resid = corpus.map { p =>
      val u = unit(p.vec)
      val cell = nearestCentroid(u, bc.value)
      val c = bc.value(cell)
      val r = new Array[Double](u.length)
      var d = 0
      while (d < u.length) { r(d) = u(d) - c(d); d += 1 }
      (p.id, cell, r)
    }.toDF("id", "cell", "r")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pq = pqTrainEncode(
        resid.select(col("id"), col("r").as("vec")).as[Point],
        m, ksub, iters, seed)
      val coded = pq.codes.join(resid.select("id", "cell"), "id")
        .select(col("id"), col("cell"), col("codes"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      coded.count() // materialize before releasing the codes-only cache
      pq.release()
      IvfPqIndex(centroids, pq.codebook, coded)
    } finally resid.unpersist()
  }

  /** Approximate cosine top-k over the coded table: each query probes its
    * `nprobe` nearest cells and ADC-scores ONLY rows whose cell is
    * probed; everything else is skipped before any arithmetic. Cost per
    * query ≈ (nprobe/nlist) · N rows × m table adds. Fully distributed
    * like [[pqTopK]] (same `queryParts` blocking): probe sets, base
    * terms and LUTs are all computed executor-side per task; the driver
    * only ships the centroids + codebook broadcasts. */
  def ivfPqTopK(index: IvfPqIndex, queries: Dataset[Point], k: Int,
                nprobe: Int, queryParts: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val dsub = index.codebook(0)(0).length
    val cbBc = spark.sparkContext.broadcast(index.codebook)
    val centBc = spark.sparkContext.broadcast(index.centroids)
    val qBlocks = queryBlocks(queries, queryParts)
    val codedRdd = index.coded.as[(Long, Int, Array[Byte])].rdd
    val scored = qBlocks.cartesian(codedRdd).mapPartitions { pairs =>
      // per-task query-block state, built once on the first row: the
      // probe set, the per-cell base term q·centroid[cell] (the residual
      // decomposition q·x̂ = q·centroid + q·residual-code makes residual
      // ADC the same m lookups plus this one constant), and the residual
      // LUT. The query set never touches the driver — see [[pqTopK]].
      var st: Array[(Long, java.util.BitSet, Array[Double],
        Array[Array[Double]])] = null
      pairs.flatMap { case (qArr, (j, cell, codeArr)) =>
        if (st == null) st = qArr.map { case (i, u) =>
          val cents = centBc.value
          val probed = cents.indices
            .map(c => (c, graft.tsne.Distances.sqEuclidean(u, cents(c))))
            .sortBy { case (c, d) => (d, c) }
            .take(nprobe).map(_._1)
          val bits = new java.util.BitSet(cents.length)
          probed.foreach(bits.set)
          val base = Array.tabulate(cents.length) { c =>
            var acc = 0.0
            var d = 0
            while (d < u.length) { acc += u(d) * cents(c)(d); d += 1 }
            acc
          }
          (i, bits, base, buildLut(u, cbBc.value, dsub))
        }
        st.iterator
          .filter { case (i, bits, _, _) => i != j && bits.get(cell) }
          .map { case (i, _, base, lut) =>
            var acc = base(cell)
            var s = 0
            while (s < codeArr.length) { acc += lut(s)(codeArr(s) & 0xFF); s += 1 }
            (i, j, acc)
          }
      }
    }.toDF("i", "j", "sim")
    topKBySim(scored, k)
  }

  /** IVF-PQ with exact refinement (the FAISS `IndexRefineFlat` shape):
    * ADC produces a `refine·k` shortlist from codes alone, then ONLY the
    * shortlist rows' original vectors are fetched (two slim equi-joins on
    * id) and rescored with exact cosine before the final top-k. This is
    * the production recall lever the code budget can't buy: composed
    * ADC recall is capped by quantization error, while the refined
    * recall rises to the probe ceiling (every true neighbor that lands
    * in a probed cell AND the shortlist is recovered exactly).
    *
    * Scale shape: the shortlist is |Q|·refine·k rows — the only rows
    * whose full vectors ever move; the corpus-side join is an equi-join
    * on id against the (id, vec) projection, so at 100 TB the refine
    * step reads ~|Q|·refine·k·d doubles, not the corpus. */
  def ivfPqRefineTopK(index: IvfPqIndex, corpus: Dataset[Point],
                      queries: Dataset[Point], k: Int, nprobe: Int,
                      refine: Int = 4, queryParts: Int = 1): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlist = ivfPqTopK(index, queries, k * refine, nprobe, queryParts)
      .select(col("i"), col("j"))
    val qv = queries.toDF().select(col("id").as("i"), col("vec").as("qv"))
    val cv = corpus.toDF().select(col("id").as("j"), col("vec").as("cv"))
    val rescored = shortlist
      .join(cv, "j")
      .join(qv, "i")
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("qv"), col("cv")).as("sim"))
    topKBySim(rescored, k)
  }

  /** Signed random-hyperplane signature: bit m = sign(v · r_m). Hyperplanes
    * are a pure function of (seed, table, bit), so signatures are
    * deterministic and partitioning-independent. */
  private def hyperplanes(seed: Long, tables: Int, bits: Int, dim: Int): Array[Array[Array[Double]]] =
    Array.tabulate(tables, bits) { (t, b) =>
      val rnd = new Random(seed ^ (t * 7919L + b) * 0x9E3779B97F4A7C15L)
      Array.fill(dim)(rnd.nextGaussian())
    }

  /** Embedding near-duplicate pairs at cosine ≥ θ, LSH-blocked: corpus
    * vectors meet only inside (table, signature) buckets, candidates are
    * exact-rescored. The scale path for near-dedup over embeddings — the
    * all-pairs form is O(N²), this shuffles tables·N signature rows and
    * rescores only bucket collisions. With enough tables the miss
    * probability at θ is negligible (p_bit = 1 − arccos(θ)/π;
    * miss = (1 − p_bit^bits)^tables), so the output equals the exact ≥θ
    * pair set w.h.p. — which is what the oracle checks. */
  def lshNearDupPairs(corpus: Dataset[Point], theta: Double,
                      tables: Int = 64, bits: Int = 4, dim: Int = 64,
                      seed: Long = 42L): DataFrame = {
    // vectors ride THROUGH the bucket join and pairs are rescored inline,
    // so the dedup shuffle sees only the ≥θ survivors — the same plan move
    // that won 40% on semanticDedup (SCALE.md): the bare-id variant
    // (candidate distinct + two vector-fetch joins) re-shuffles the raw
    // collision volume twice, and with low-θ/short-signature tunings the
    // collision volume (~tables·N²/2^bits rows) dwarfs the survivor set.
    // Cost: signatures shuffle vec alongside (tables× vector duplication)
    // — collision volume ≫ tables·N makes that the right side of the trade.
    val sigs = signatureTable(corpus, tables, bits, dim, seed)
      .join(corpus.toDF().select(col("id"), col("vec")), "id")
    sigs.as("a")
      .join(sigs.as("b"),
        col("a.t") === col("b.t") && col("a.sig") === col("b.sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("i"), col("b.id").as("j"),
        Distances.cosineSimCol(col("a.vec"), col("b.vec")).as("sim"))
      .where(col("sim") >= theta)
      .dropDuplicates("i", "j")
  }

  /** (id, table, signature) rows for a dataset — the shared LSH hashing
    * step of [[lshTopK]] and [[lshNearDupPairs]]. */
  private def signatureTable(ds: Dataset[Point], tables: Int, bits: Int,
                             dim: Int, seed: Long): DataFrame = {
    val spark = ds.sparkSession
    import spark.implicits._
    val planes = hyperplanes(seed, tables, bits, dim)
    val bc = spark.sparkContext.broadcast(planes)
    val nt = tables
    val expectDim = dim
    ds.mapPartitions { rows =>
      val ps = bc.value
      rows.flatMap { p =>
        // fail fast: a shorter vector would crash mid-dot-product with a
        // bare ArrayIndexOutOfBounds; a longer one would be SILENTLY
        // truncated to the first `dim` components, degrading recall below
        // the (tables, bits) tuning with no visible symptom
        require(p.vec.length == expectDim,
          s"LSH hyperplanes are $expectDim-dim but vector ${p.id} has ${p.vec.length}")
        Iterator.tabulate(nt) { t =>
          var sig = 0L
          var b = 0
          while (b < ps(t).length) {
            var dot = 0.0
            val r = ps(t)(b)
            var d = 0
            while (d < r.length) { dot += r(d) * p.vec(d); d += 1 }
            if (dot >= 0) sig |= (1L << b)
            b += 1
          }
          (p.id, t, sig)
        }
      }
    }.toDF("id", "t", "sig")
  }

  /** Approximate top-k by multi-table hyperplane LSH: `tables` independent
    * `bits`-bit signatures; query and corpus vectors meet when they share a
    * (table, signature) bucket; candidates are exact-rescored and ranked.
    * Cost: corpus is hashed once (tables·N rows shuffled by bucket), and
    * the join output is only real collisions — at 100 TB this is the
    * difference between a bucket-join and an impossible N·Q cross product.
    * Recall is tuned by (tables, bits): more tables → higher recall, more
    * candidates; more bits → fewer, purer candidates. */
  def lshTopK(corpus: Dataset[Point], queries: Dataset[Point], k: Int,
              tables: Int = 8, bits: Int = 12, dim: Int = 64,
              seed: Long = 42L): DataFrame = {
    def signatures(ds: Dataset[Point]): DataFrame =
      signatureTable(ds, tables, bits, dim, seed)

    val cands = signatures(queries).select(col("id").as("i"), col("t"), col("sig"))
      .join(signatures(corpus).select(col("id").as("j"), col("t"), col("sig")),
        Seq("t", "sig"))
      .where(col("i") =!= col("j"))
      .select("i", "j").distinct()

    val q = queries.toDF().select(col("id").as("i"), col("vec").as("va"))
    val c = corpus.toDF().select(col("id").as("j"), col("vec").as("vb"))
    val scored = cands.join(broadcast(q), "i").join(c, "j")
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
    topKBySim(scored, k)
  }

  /** Deterministic ±1 Johnson–Lindenstrauss projection matrix (d × m) —
    * delegated to [[graft.expressions.RpSigns]], the same derivation the
    * native sketch expression compiles into its loop, so the spec-level
    * matrix and the executed one cannot drift. */
  private[pipeline] def rpSigns(dim: Int, m: Int, seed: Long): Array[Array[Double]] = {
    val flat = graft.expressions.RpSigns.matrix(dim, m, seed)
    Array.tabulate(dim, m)((i, j) => flat(i * m + j))
  }

  /** Random-projection (JL) top-k: shortlist in an m-dim ±1 sketch space,
    * then exact-rescore only the shortlist — the third ANN family next to
    * LSH (hash buckets) and IVF (learned cells). Unlike both, it needs no
    * index build and no data-dependent state: the projection is a stateless
    * codegen expression (m dot products unrolled into one projection — the
    * whole sketch pass is map-side, column-pruned to the vector), which is
    * what you want for one-shot queries against a corpus you'll never see
    * again.
    *
    * Scale: sketch cost O(N·d·m) map-local; shortlist is the same
    * broadcast-queries × corpus stream as [[bruteTopK]] but comparing
    * m-dim sketches (m ≪ d), and only |Q|·shortlist pairs — not |Q|·N —
    * ever touch a full-width vector again. The exact rescore restores
    * precision: output quality is recall-bounded only by whether a true
    * neighbor fell out of the shortlist, tuned by `shortlist`/`m`.
    *
    * Recall regime (measured, same story as `Knn.projectKnn`): on
    * CLUSTERED corpora — the regime real embedding tables live in — a
    * fixed shortlist holds its recall as N grows (`AnnRpSpec` pins ≥ 0.9
    * at 2× points, shortlist unchanged); on ISOTROPIC data the k-th-vs-
    * rest similarity gap shrinks with N and a fixed shortlist decays
    * (measured on the fixture: 0.96 at N=500 → 0.73 at N=2,000 with
    * m=32/shortlist=256), so either grow `shortlist` with N or route
    * structure-free corpora to [[lshTopK]]/[[ivfTopK]]. */
  def rpTopK(corpus: Dataset[Point], queries: Dataset[Point], k: Int,
             m: Int = 32, shortlist: Int = 256, dim: Int = 64,
             seed: Long = 42L): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    // native fused-loop sketch expression: an unrolled ±vec(i) sum-chain
    // formulation blows past janino's 64 KB method limit at dim·m ≈ 2k
    // terms and silently drops the stage out of codegen — the compact
    // generated loop stays inside whole-stage codegen at any (dim, m)
    import org.apache.spark.sql.{graftglue => glue}
    def sketch(ds: Dataset[Point], idName: String) = {
      val proj = glue.column(graft.expressions.RandomProjectSketch(
        glue.expression(col("vec")), dim, m, seed))
      ds.toDF().select(col("id").as(idName), col("vec"), proj.as("sk"))
    }
    val spark = corpus.sparkSession
    val c = sketch(corpus, "j")
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val q = sketch(queries, "i").select(col("i"), col("sk").as("qsk"))
    val candPairs = broadcast(q).crossJoin(c.select(col("j"), col("sk")))
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        (-Distances.cosineSimCol(col("qsk"), col("sk"))).as("dist"))
    val short = Knn.topKPerPointRanked(candPairs, shortlist).select("i", "j")
    // exact rescore on the shortlist only
    val qv = queries.toDF().select(col("id").as("i"), col("vec").as("va"))
    val cv = corpus.toDF().select(col("id").as("j"), col("vec").as("vb"))
    val scored = short.join(broadcast(qv), "i").join(cv, "j")
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
    topKBySim(scored, k)
  }

  /** Hard-negative mining for contrastive training: per query, the k MOST
    * similar corpus rows whose cosine stays BELOW the near-dup bar — the
    * informative negatives that teach an embedding model its decision
    * boundary (random negatives are trivially far; positives/near-dups
    * must be excluded or the loss fights itself — the standard hard-
    * negative recipe, cf. DPR/SimCSE practice). Same scan shape as
    * [[bruteTopK]] (broadcast queries × corpus stream) with the band
    * filter applied BEFORE ranking, so near-dups never enter the ranking;
    * ranking executes through Spark's `WindowGroupLimit` (k rows per
    * query and task cross the exchange).
    * For web-scale corpora swap the brute scan for any index family here
    * (LSH/IVF/PQ shortlist, then band-filter + rank the shortlist). */
  def hardNegatives(corpus: Dataset[Point], queries: Dataset[Point], k: Int,
                    thetaDup: Double): DataFrame = {
    val spark = corpus.sparkSession
    val q = queries.toDF().select(col("id").as("i"), col("vec").as("va"))
    val c = corpus.toDF()
      .repartition(spark.sessionState.conf.numShufflePartitions)
      .select(col("id").as("j"), col("vec").as("vb"))
    val pairs = broadcast(q).crossJoin(c)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
      .where(col("sim") < lit(thetaDup))
    topKBySim(pairs, k)
  }

  /** Scalar-quantization index (the FAISS `IndexScalarQuantizer` QT_8bit
    * shape): per-dimension affine byte codes over unit-normalized vectors.
    * `mins`/`deltas` are the trained per-dim range (2·d doubles — the whole
    * "model"); `codes` holds one byte per dimension per row. */
  final case class SqIndex(mins: Array[Double], deltas: Array[Double],
                           codes: DataFrame /* (id, codes: Array[Byte]) */) {
    def release(): Unit = codes.unpersist()
  }

  /** Train + encode the SQ8 index: ONE `treeAggregate` pass reduces the
    * corpus to per-dim (min, max) — 2·d doubles to the driver, never a row —
    * then encoding is a pure map: `code_d = round((v_d − min_d)/Δ_d · 255)`.
    * 64-dim float64 vectors (512 B) become 64 B code rows: the 8× storage
    * cut with per-dim resolution PQ's shared codebook can't give, and the
    * right first step down the compression ladder (SQ8 ≈ lossless recall,
    * PQ when bytes matter more). Constant-range dims (Δ=0) encode as 0 and
    * decode back to the constant. */
  def sqBuild(corpus: Dataset[Point]): SqIndex = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val unitized = corpus.map(p => Point(p.id, unit(p.vec)))
    val dim = unitized.head().vec.length
    val zero = (Array.fill(dim)(Double.MaxValue), Array.fill(dim)(Double.MinValue))
    val (mins, maxs) = unitized.rdd.treeAggregate(zero)(
      seqOp = { case ((mn, mx), p) =>
        var d = 0
        while (d < dim) {
          val v = p.vec(d)
          if (v < mn(d)) mn(d) = v
          if (v > mx(d)) mx(d) = v
          d += 1
        }
        (mn, mx)
      },
      combOp = { case ((amn, amx), (bmn, bmx)) =>
        var d = 0
        while (d < dim) {
          if (bmn(d) < amn(d)) amn(d) = bmn(d)
          if (bmx(d) > amx(d)) amx(d) = bmx(d)
          d += 1
        }
        (amn, amx)
      })
    val deltas = Array.tabulate(dim)(d => maxs(d) - mins(d))
    val bc = spark.sparkContext.broadcast((mins, deltas))
    val codes = unitized.mapPartitions { rows =>
      val (mn, dl) = bc.value
      rows.map { p =>
        val c = new Array[Byte](dim)
        var d = 0
        while (d < dim) {
          c(d) =
            if (dl(d) == 0.0) 0.toByte
            else {
              val q = math.round((p.vec(d) - mn(d)) / dl(d) * 255.0)
              (if (q < 0L) 0L else if (q > 255L) 255L else q).toByte
            }
          d += 1
        }
        (p.id, c)
      }
    }.toDF("id", "codes")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    codes.count()
    SqIndex(mins, deltas, codes)
  }

  /** Approximate cosine top-k over SQ8 codes, distributed on BOTH sides
    * like [[pqTopK]]: the only broadcast is the 2·d-double range model.
    * Per query the affine decode folds into a constant plus a per-dim
    * weight — `q·v̂ = Σ q_d·min_d + Σ (q_d·Δ_d/255)·code_d` — so each
    * (query, row) scores in d byte-multiply-adds over the codes-only scan;
    * original vectors never move. `queryParts` as in [[pqTopK]]. */
  def sqTopK(index: SqIndex, queries: Dataset[Point], k: Int,
             queryParts: Int = 1): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((index.mins, index.deltas))
    val qBlocks = queryBlocks(queries, queryParts)
    val codesRdd = index.codes.as[(Long, Array[Byte])].rdd
    val scored = qBlocks.cartesian(codesRdd).mapPartitions { pairs =>
      // per-task fold of the query block into (id, base, weights) — built
      // once, lazily on the first row (the glom'd block is one shared array)
      var folded: Array[(Long, Double, Array[Double])] = null
      pairs.flatMap { case (qArr, (j, codeArr)) =>
        if (folded == null) {
          val (mn, dl) = bc.value
          folded = qArr.map { case (i, u) =>
            var base = 0.0
            val w = new Array[Double](u.length)
            var d = 0
            while (d < u.length) {
              base += u(d) * mn(d)
              w(d) = u(d) * dl(d) / 255.0
              d += 1
            }
            (i, base, w)
          }
        }
        folded.iterator.filter(_._1 != j).map { case (i, base, w) =>
          var acc = base
          var d = 0
          while (d < w.length) { acc += w(d) * (codeArr(d) & 0xFF); d += 1 }
          (i, j, acc)
        }
      }
    }.toDF("i", "j", "sim")
    topKBySim(scored, k)
  }
}
