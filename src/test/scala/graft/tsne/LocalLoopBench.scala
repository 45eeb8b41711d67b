package graft.tsne

import org.apache.spark.sql.SparkSession

/** Measurement for the SCALE.md driver-local loop table: the local
  * optimizer (`Optimizer.optimizeLocal`, 250 iterations, θ = 0.25) on a
  * seeded 10-component mixture in 64 dimensions (centres N(0, 4²), unit
  * noise), k = 30, perplexity 10 — the shape of the benchmark's
  * `tsne_local` workload — at N = 1k / 2k / 20k. Per N it reports
  *
  *   - ms per iteration of each schedule phase, by differencing prefix runs
  *     of 20 / 101 / 250 iterations (the phases end at 20 and 101);
  *   - µs per point of one single-thread Barnes-Hut repulsion sweep, and
  *     ms per tree build, over the embedding after 1 / 5 / 20 / 101 / 250
  *     iterations.
  *
  * The kNN is computed on the driver (exact, ties to the lower id), so
  * only the affinities and nothing timed run on Spark.
  *
  * `sbt 'Test/runMain graft.tsne.LocalLoopBench [N ...]'`
  */
object LocalLoopBench {

  private val Dim = 64
  private val Components = 10
  private val K = 30
  private val Checkpoints = Seq(1, 5, 20, 101, 250)

  private def mixture(n: Int, seed: Long): Array[Array[Double]] = {
    val rng = new java.util.Random(seed)
    val centers = Array.fill(Components, Dim)(rng.nextGaussian() * 4.0)
    Array.tabulate(n)(i => Array.tabulate(Dim)(d => centers(i % Components)(d) + rng.nextGaussian()))
  }

  /** Exact top-K neighbours by squared euclidean distance, in parallel. */
  private def knn(xs: Array[Array[Double]]): Array[Neighbor] = {
    val n = xs.length
    val out = new Array[Array[Neighbor]](n)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      // the K nearest so far, ascending; an equal distance keeps the lower id
      val bestD = Array.fill(K)(Double.PositiveInfinity)
      val bestJ = Array.fill(K)(-1)
      var j = 0
      while (j < n) {
        val d = Distances.sqEuclidean(xs(i), xs(j))
        if (j != i && d < bestD(K - 1)) {
          var p = K - 1
          while (p > 0 && bestD(p - 1) > d) {
            bestD(p) = bestD(p - 1); bestJ(p) = bestJ(p - 1); p -= 1
          }
          bestD(p) = d; bestJ(p) = j
        }
        j += 1
      }
      out(i) = Array.tabulate(K)(p => Neighbor(i.toLong, bestJ(p).toLong, bestD(p)))
    }
    out.flatten
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1000, 2000, 20000)
    val spark = SparkSession.builder().appName("local-loop-bench")
      .master("local[2]")
      .config("spark.sql.shuffle.partitions", 2)
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    try for (n <- sizes) {
      val seed = 1L
      val pRows = Affinities.highDimAffinities(
        spark.createDataset(knn(mixture(n, seed)).toSeq), 10.0).collect()
      val ws0 = pRows.map(r => Optimizer.initRow(r.id, 2, seed))
      val params = Optimizer.Params(perplexity = 10.0, iterations = 250, seed = seed)
      def run(iterations: Int): Array[Array[Double]] =
        Optimizer.optimizeLocal(pRows, ws0, params.copy(iterations = iterations))
          ._1.sortBy(_.id).map(_.vec)

      // one untimed pass warms the JIT; the timed passes are repeated
      // where they are cheap
      val reps = if (n <= 2000) 3 else 1
      if (n <= 2000) run(250)
      val times = Checkpoints.map { it =>
        val runs = (1 to reps).map(_ => timed(run(it)))
        it -> (runs.head._1, median(runs.map(_._2)))
      }.toMap
      val t = times.view.mapValues(_._2).toMap
      println(f"LOCALLOOP n=$n%6d p_entries=${pRows.map(_.js.length).sum}%8d " +
        f"total_s=${t(250)}%.2f phase1_ms_per_iter=${t(20) * 1e3 / 20}%.2f " +
        f"phase2_ms_per_iter=${(t(101) - t(20)) * 1e3 / 81}%.2f " +
        f"phase3_ms_per_iter=${(t(250) - t(101)) * 1e3 / 149}%.2f")
      for (it <- Checkpoints) {
        val ys = times(it)._1
        val builds = (1 to 5).map(_ => timed(BhTree.build(ys))._2 * 1e3)
        val tree = BhTree.build(ys)
        val sweeps = (1 to 3).map { _ =>
          timed(ys.foreach(y => tree.repulsiveForce(y(0), y(1), params.theta)))._2 * 1e6 / n
        }
        println(f"LOCALLOOP n=$n%6d iteration=$it%3d bh_build_ms=${median(builds)}%.3f " +
          f"bh_us_per_point=${median(sweeps)}%.2f")
      }
    } finally spark.stop()
  }
}
