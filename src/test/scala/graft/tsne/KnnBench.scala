package graft.tsne

import org.apache.spark.sql.{Dataset, SparkSession}

/** Measurement for the SCALE.md kNN table: exact top-30 by squared
  * euclidean distance on a seeded 10-component mixture in 64 dimensions
  * (centres N(0, 4²), unit noise) — the shape of the benchmark's
  * `tsne_local` workload — at N = 1k / 2k / 20k. Per N it times, as
  * seconds to materialize the result (`count()`):
  *
  *   - `former`: the cross join plus ranking window `bruteForce` was
  *     ([[FormerKnn]]);
  *   - `bruteForce`: the one-stage kernel;
  *   - `partitionKnn` at as many blocks as cores.
  *
  * Each is timed as the median of three runs after one untimed run, or
  * as one run at N ≥ 10k (the smaller sizes, run first, warm the JIT).
  * At the smallest N the three results are checked to be the same rows.
  * Runs `local[cores]` with as many shuffle partitions; `cores` defaults
  * to 4.
  *
  * `sbt 'Test/runMain graft.tsne.KnnBench [--cores c] [N ...]'`
  */
object KnnBench {

  private val Dim = 64
  private val Components = 10
  private val K = 30
  private val Metric = "sqeuclidean"

  private def mixture(n: Int, seed: Long): Seq[Point] = {
    val rng = new java.util.Random(seed)
    val centers = Array.fill(Components, Dim)(rng.nextGaussian() * 4.0)
    (0 until n).map { i =>
      Point(i.toLong, Array.tabulate(Dim)(d => centers(i % Components)(d) + rng.nextGaussian()))
    }
  }

  private def timed(body: => Long): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)

  def main(args: Array[String]): Unit = {
    val (cores, sizes) = args.toList match {
      case "--cores" :: c :: rest => (c.toInt, rest.map(_.toInt))
      case rest => (4, rest.map(_.toInt))
    }
    val ns = if (sizes.nonEmpty) sizes else Seq(1000, 2000, 20000)
    val spark = SparkSession.builder().appName("knn-bench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    val methods: Seq[(String, Dataset[Point] => Dataset[Neighbor])] = Seq(
      "former" -> (ds => FormerKnn.bruteForce(ds, K, Metric)),
      "bruteForce" -> (ds => Knn.bruteForce(ds, K, Metric)),
      "partitionKnn" -> (ds => Knn.partitionKnn(ds, K, Metric, cores)))
    try for (n <- ns) {
      val ds = spark.createDataset(mixture(n, 1L))
      if (n == ns.min) {
        val rows = methods.map(_._2(ds).collect().toSeq
          .map(r => (r.i, r.j, java.lang.Double.doubleToLongBits(r.dist))).sorted)
        require(rows.forall(_ == rows.head), s"n=$n: the three kNN results differ")
      }
      val reps = if (n >= 10000) 1 else 3
      val times = methods.map { case (name, knn) =>
        if (reps > 1) knn(ds).count()
        name -> median((1 to reps).map(_ => timed(knn(ds).count())))
      }
      println(f"KNNBENCH n=$n%6d cores=$cores " +
        times.map { case (name, t) => f"$name%s_s=$t%.3f" }.mkString(" "))
    } finally spark.stop()
  }
}
