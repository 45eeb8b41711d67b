package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.tsne.Point

/** Distributed PCA over an embedding column — the classic t-SNE
  * preprocessing step (van der Maaten's reference implementations reduce
  * to ~50 dims with PCA before the kNN/affinity stages) and the
  * dimensionality lever for every ANN family here: a d→k projection
  * shrinks [[Ann.bruteTopK]]'s dot products, the LSH hyperplane count, and
  * the PQ subspace width by d/k while keeping the variance that cosine
  * neighborhoods live on.
  *
  * Scale shape: ONE `treeAggregate` pass computes n, the column sums, and
  * the packed upper-triangular scatter matrix — d·(d+3)/2 doubles per
  * partition (d=64 → 2 KB), combined associatively, so 100 TB of vectors
  * reduces to one driver-side 64×64 symmetric eigenproblem (cyclic Jacobi,
  * microseconds). Projection is map-side against the broadcast components;
  * no shuffle anywhere in fit or transform. The driver never sees a row —
  * only the fixed-size moment block.
  *
  * Everything is deterministic: the aggregation is order-dependent only in
  * final-ulp float error (the quality gates use tolerances far above it),
  * Jacobi's rotation order is fixed, components sort by (eigenvalue desc,
  * index) and take a canonical sign (the largest-|entry| coordinate is
  * made positive, earliest index on ties).
  */
object Pca {

  final case class PcaModel(n: Long, mean: Array[Double],
                            eigenvalues: Array[Double], // all d, descending
                            components: Array[Array[Double]]) { // k × d rows
    def k: Int = components.length
    def d: Int = mean.length
    /** Sample variance total — trace of the covariance = Σ all eigenvalues. */
    def totalVar: Double = eigenvalues.sum
  }

  /** Fit the top-`k` principal components. One pass, one driver eigensolve. */
  def fit(data: Dataset[Point], k: Int): PcaModel = {
    val first = data.head()
    val d = first.vec.length
    require(k >= 1 && k <= d, s"k=$k must be in [1, $d]")
    val tri = d * (d + 1) / 2
    // acc = [n, sum_0..d-1, packed upper-triangular gram]
    val zero = new Array[Double](1 + d + tri)
    val agg = data.rdd.treeAggregate(zero)(
      seqOp = (acc, p) => {
        val v = p.vec
        require(v.length == d, s"vector ${p.id} has dim ${v.length}, expected $d")
        acc(0) += 1.0
        var i = 0
        var t = 1 + d
        while (i < d) {
          acc(1 + i) += v(i)
          var j = i
          while (j < d) { acc(t) += v(i) * v(j); j += 1; t += 1 }
          i += 1
        }
        acc
      },
      combOp = (a, b) => {
        var i = 0
        while (i < a.length) { a(i) += b(i); i += 1 }
        a
      })
    val n = math.round(agg(0))
    require(n >= 2, s"PCA needs at least 2 rows, got $n")
    val mean = Array.tabulate(d)(i => agg(1 + i) / n)
    // sample covariance from the scatter: C = (G - n μμᵀ) / (n - 1)
    val cov = Array.ofDim[Double](d, d)
    var i = 0
    var t = 1 + d
    while (i < d) {
      var j = i
      while (j < d) {
        val c = (agg(t) - n * mean(i) * mean(j)) / (n - 1)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1; t += 1
      }
      i += 1
    }
    val (values, vectors) = jacobiEigSym(cov)
    // order by (eigenvalue desc, index), canonical sign per component
    val order = values.indices.sortBy(c => (-values(c), c))
    val eigenvalues = order.map(values(_)).toArray
    val comps = order.take(k).map { c =>
      val v = Array.tabulate(d)(r => vectors(r)(c))
      var best = 0
      var r = 1
      while (r < d) { if (math.abs(v(r)) > math.abs(v(best))) best = r; r += 1 }
      if (v(best) < 0) v.map(-_) else v
    }.toArray
    PcaModel(n, mean, eigenvalues, comps)
  }

  /** Map-side projection: `(id, proj)` with proj(c) = componentᵀ(x − μ). */
  def project(data: Dataset[Point], model: PcaModel): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((model.mean, model.components))
    data.mapPartitions { rows =>
      val (mu, comps) = bc.value
      rows.map { p =>
        val proj = new Array[Double](comps.length)
        var c = 0
        while (c < comps.length) {
          val w = comps(c)
          var acc = 0.0
          var i = 0
          while (i < mu.length) { acc += w(i) * (p.vec(i) - mu(i)); i += 1 }
          proj(c) = acc
          c += 1
        }
        (p.id, proj)
      }
    }.toDF("id", "proj")
  }

  /** The machine-checkable contract, one row:
    * `(n, d, k, total_var_r, order_ok, ortho_ok, recon_ok)`.
    *  - n exact (the oracle's half), total_var_r = trace of the sample
    *    covariance, a quantity an engine with no eigensolver can recompute
    *    as the per-dimension variance sum;
    *  - order_ok: eigenvalues descending and ≥ −1e−9 (PSD up to fp);
    *  - ortho_ok: max |VVᵀ − I| ≤ 1e−9 over the component rows;
    *  - recon_ok: the Pythagorean identity — the DISTRIBUTED sum of
    *    squared reconstruction errors equals (n−1)·Σ_{i>k} λᵢ to 1e−6
    *    relative. This one check ties the driver eigensolve back to the
    *    data: a wrong eigenvector (or a mean/scatter bug) breaks the
    *    identity, while any orthonormal basis passes ortho_ok. */
  def qualityReport(data: Dataset[Point], k: Int,
                    varRound: Int = 4): DataFrame = {
    val spark = data.sparkSession
    import spark.implicits._
    val model = fit(data, k)
    val d = model.d
    val orderOk = model.eigenvalues.sliding(2).forall(p =>
      p.length < 2 || p(0) >= p(1) - 1e-12) &&
      model.eigenvalues.forall(_ >= -1e-9)
    var orthoErr = 0.0
    for (a <- 0 until k; b <- 0 until k) {
      var dot = 0.0
      var i = 0
      while (i < d) { dot += model.components(a)(i) * model.components(b)(i); i += 1 }
      orthoErr = math.max(orthoErr, math.abs(dot - (if (a == b) 1.0 else 0.0)))
    }
    val bc = spark.sparkContext.broadcast(model)
    val residSq = data.mapPartitions { rows =>
      val m = bc.value
      rows.map { p =>
        val cen = Array.tabulate(m.d)(i => p.vec(i) - m.mean(i))
        var res = 0.0
        var i = 0
        while (i < m.d) { res += cen(i) * cen(i); i += 1 }
        var c = 0
        while (c < m.k) {
          var acc = 0.0
          i = 0
          while (i < m.d) { acc += m.components(c)(i) * cen(i); i += 1 }
          res -= acc * acc // ‖x−μ‖² − Σ projᵢ² = ‖residual‖², V orthonormal
          c += 1
        }
        res
      }
    }.reduce(_ + _)
    val expect = (model.n - 1).toDouble * model.eigenvalues.drop(k).sum
    val scale = math.max((model.n - 1).toDouble * model.totalVar, 1e-12)
    val reconOk = math.abs(residSq - expect) / scale <= 1e-6
    Seq((model.n, d.toLong, k.toLong,
      BigDecimal(model.totalVar).setScale(varRound,
        BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0,
      if (orderOk) 1L else 0L,
      if (orthoErr <= 1e-9) 1L else 0L,
      if (reconOk) 1L else 0L))
      .toDF("n", "d", "k", "total_var_r", "order_ok", "ortho_ok", "recon_ok")
  }

  /** PCA-shortlist ANN: the data-ADAPTIVE counterpart of [[Ann.rpTopK]]'s
    * JL sketch — project corpus and queries onto the top `nComponents`
    * principal directions (fit on the corpus, one tree-aggregate pass),
    * shortlist by cosine in the k-dim space, exact-rescore only the
    * shortlist. Where JL spends its m dimensions uniformly, PCA spends
    * them on the directions the corpus actually varies in, so at equal m
    * the shortlist ranking is tighter whenever the spectrum decays (real
    * embedding tables). Same scale shape as rpTopK: projection map-side,
    * shortlist = broadcast-queries × corpus stream over k-dim arrays,
    * full-width vectors touched only for |Q|·shortlist rescores. */
  def pcaTopK(corpus: Dataset[Point], queries: Dataset[Point], k: Int,
              nComponents: Int = 16, shortlist: Int = 256): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    import graft.tsne.{Distances, Knn}
    val spark = corpus.sparkSession
    val model = fit(corpus, nComponents)
    val c = project(corpus, model)
      .select(col("id").as("j"), col("proj").as("pj"))
      .repartition(spark.sessionState.conf.numShufflePartitions)
    val q = project(queries, model)
      .select(col("id").as("i"), col("proj").as("pi"))
    val candPairs = broadcast(q).crossJoin(c)
      .where(col("i") =!= col("j"))
      .select(col("i"), col("j"),
        (-Distances.cosineSimCol(col("pi"), col("pj"))).as("dist"))
    val short = Knn.topKPerPointRanked(candPairs, shortlist).select("i", "j")
    val qv = queries.toDF().select(col("id").as("i"), col("vec").as("va"))
    val cv = corpus.toDF().select(col("id").as("j"), col("vec").as("vb"))
    val scored = short.join(broadcast(qv), "i").join(cv, "j")
      .select(col("i"), col("j"),
        Distances.cosineSimCol(col("va"), col("vb")).as("sim"))
    Ann.topKBySim(scored, k)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix (in-place on a
    * copy). Returns (eigenvalues, eigenvector matrix with vectors in
    * COLUMNS). Deterministic rotation order; converges quadratically —
    * for d ≤ a few hundred this is microseconds on the driver. */
  private[pipeline] def jacobiEigSym(m: Array[Array[Double]])
      : (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = m.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = offDiagNorm(a)
    val tol = 1e-14 * math.max(frobNorm(a), 1e-300)
    while (off > tol && sweep < 64) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > tol / d) {
            // standard two-sided Jacobi rotation zeroing a(p)(q)
            val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
            val t = math.signum(theta) match {
              case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
              case s => s / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
            }
            val c = 1.0 / math.sqrt(t * t + 1.0)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      off = offDiagNorm(a)
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), v)
  }

  private def offDiagNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) {
        if (i != j) s += a(i)(j) * a(i)(j)
        j += 1
      }
      i += 1
    }
    math.sqrt(s)
  }

  private def frobNorm(a: Array[Array[Double]]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) {
      var j = 0
      while (j < a.length) { s += a(i)(j) * a(i)(j); j += 1 }
      i += 1
    }
    math.sqrt(s)
  }
}
