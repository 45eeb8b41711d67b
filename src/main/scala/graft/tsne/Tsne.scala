package graft.tsne

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** Pipeline assembly + CLI driver (ref: `Tsne.scala:31-136`).
  *
  * Flag names, defaults and dispatch mirror the reference's CLI
  * (`Tsne.scala:39-63`, `README.md:9-38`): `--input --output --dimension
  * --metric --perplexity --nComponents --earlyExaggeration --learningRate
  * --iterations --randomState --neighbors --initialMomentum --finalMomentum
  * --theta --loss --knnIterations --knnMethod --knnBlocks
  * --inputDistanceMatrix --executionPlan`. Rebuild extensions:
  * `--recallOut <path> [--recallK k]` — embedding neighbor-recall report;
  * `--maxLocalPEntries n` — the local/distributed optimizer dispatch. Any
  * other flag is rejected before Spark work starts.
  */
object Tsne {

  /** Every flag [[run]] reads. */
  private val Flags = Set("input", "output", "dimension", "metric", "perplexity",
    "nComponents", "earlyExaggeration", "learningRate", "iterations", "randomState",
    "neighbors", "initialMomentum", "finalMomentum", "theta", "loss", "knnIterations",
    "knnMethod", "knnBlocks", "inputDistanceMatrix", "executionPlan", "recallOut",
    "recallK", "maxLocalPEntries")

  /** E2 — the library pipeline (ref `Tsne.scala:105-136`):
    * kNN triples → P as sparse rows ([[Affinities.highDimAffinities]]:
    * pairwise affinities, then symmetrize + normalize + row assembly in
    * one kernel) → init → 3-phase optimize. */
  def computeEmbedding(knn: Dataset[Neighbor], params: Optimizer.Params,
                       lossAcc: Option[MapAccumulator] = None): Dataset[Point] = {
    val p = Affinities.highDimAffinities(knn, params.perplexity)
    Optimizer.optimize(p, Optimizer.initWorkingSet(p, params.nComponents, params.seed),
      params, lossAcc)
  }

  def main(args: Array[String]): Unit = {
    val builder = SparkSession.builder()
      .appName("tsne")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // spark-submit injects spark.master; running the bare main (sbt run,
    // plain java) gets a local default instead of an init failure
    if (!sys.props.contains("spark.master")) builder.master("local[*]")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(args, spark)
    finally spark.stop()
  }

  /** The CLI body, separated from session lifecycle so tests can drive it
    * on a shared session (the reference runs its pipeline on the test
    * ExecutionEnvironment the same way). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val a = parseArgs(args)
    // a mistyped flag must fail, not silently run on the default
    (a.keySet -- Flags).headOption.foreach(k =>
      throw new IllegalArgumentException(s"unknown flag --$k"))
    def req(k: String) = a.getOrElse(k,
      throw new IllegalArgumentException(s"missing required --$k"))
    def opt(k: String, d: String) = a.getOrElse(k, d)

    val inputPath = req("input")
    val outputPath = req("output")
    val dimension = req("dimension").toInt
    val metric = opt("metric", "sqeuclidean")
    val perplexity = opt("perplexity", "30.0").toDouble
    val neighbors = a.get("neighbors").map(_.toInt).getOrElse(3 * perplexity.toInt)
    val knnMethod = req("knnMethod")
    val knnBlocks = a.get("knnBlocks").map(_.toInt)
      .getOrElse(spark.sparkContext.defaultParallelism)
    val knnIterations = opt("knnIterations", "3").toInt
    val lossFile = opt("loss", "loss.txt")
    val params = Optimizer.Params(
      perplexity = perplexity,
      nComponents = opt("nComponents", "2").toInt,
      earlyExaggeration = opt("earlyExaggeration", "4").toDouble,
      learningRate = opt("learningRate", "1000").toDouble,
      iterations = opt("iterations", "300").toInt,
      initialMomentum = opt("initialMomentum", "0.5").toDouble,
      finalMomentum = opt("finalMomentum", "0.8").toDouble,
      theta = opt("theta", "0.25").toDouble,
      metric = metric,
      seed = opt("randomState", "0").toLong,
      // rebuild extension: the optimizer path dispatch is tunable from the
      // CLI (force the distributed superstep loop on a cluster where the
      // default would stay driver-local)
      maxLocalPEntries = opt("maxLocalPEntries", "2000000").toLong)

    // the kNN is built on the run path only: building it can run jobs
    // (bruteforce reads `points.rdd`, projectKnn counts and ranks)
    val input: Either[Dataset[Neighbor], Dataset[Point]] =
      if (a.contains("inputDistanceMatrix")) {
        val spark2 = spark
        import spark2.implicits._
        Left(IO.readCoo(spark, inputPath).map(e => Neighbor(e.i, e.j.toLong, e.v)))
      } else Right(IO.readInput(spark, inputPath, dimension))
    def knnOf(points: Dataset[Point]): Dataset[Neighbor] =
      Knn.byMethod(knnMethod, points, neighbors, metric, knnBlocks,
        knnIterations, params.seed, dimension)

    // validate the recall report arguments BEFORE any Spark work: failing
    // after a multi-minute pipeline has already run (and written output)
    // is the worst place to learn an argument was out of range
    val recallOut = a.get("recallOut").map { path =>
      val k = opt("recallK", "10").toInt
      require(k > 0 && k <= neighbors,
        s"--recallK must be in [1, --neighbors]; got $k with neighbors=$neighbors")
      (path, k)
    }

    if (a.contains("executionPlan")) {
      // the kNN is dumped over an empty point set, like the affinity
      // kernel below (projectKnn still runs its count and ranking jobs)
      import spark.implicits._
      val empty = spark.emptyDataset[Point]
      writePlan(spark, params, input match {
        case Left(knn) => "== kNN ==\n" + knn.queryExecution.toString
        case Right(points) =>
          "== points ==\n" + points.queryExecution.toString +
            "\n== kNN (over an empty point set) ==\n" +
            (if (knnMethod == "bruteforce")
              Knn.bruteForceKernel(empty, neighbors, metric).toDebugString
            else knnOf(empty).queryExecution.toString)
      })
    } else {
      val knn = input.fold(identity, knnOf)
      val lossAcc = new MapAccumulator
      spark.sparkContext.register(lossAcc, "loss")
      // --recallOut reads the kNN graph a second time (as the recall truth);
      // persist it so that read is a cache hit, not a re-run of the full
      // kNN lineage (for bruteforce, a second N² pass)
      if (recallOut.nonEmpty) knn.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try runBody(knn, params, lossAcc, outputPath, lossFile, recallOut)
      finally if (recallOut.nonEmpty) knn.unpersist()
    }
  }

  /** ref Tsne.scala:89-95 — dump the plan INSTEAD OF executing, submitting
    * ZERO Spark jobs: `knnPlan`, then the affinity kernel's lineage over an
    * empty kNN, as the superstep is dumped over representative datasets.
    * Built over real input, an RDD kernel would run the exchanges of that
    * input's plan (`Dataset.rdd` materializes AQE stages). */
  private def writePlan(spark: SparkSession, params: Optimizer.Params,
                        knnPlan: String): Unit = {
    import spark.implicits._
    val kernel = Affinities.affinityRows(spark.emptyDataset[Neighbor], params.perplexity)
    val pDs = spark.createDataset(kernel)
    val ws0 = Optimizer.initWorkingSet(pDs, params.nComponents, params.seed)
    val pw = new java.io.PrintWriter(new java.io.File("tsne_executionPlan.json"))
    pw.write(knnPlan +
      "\n== affinity kernel (RDD lineage, over an empty kNN) ==\n" +
      kernel.toDebugString +
      "\n== init working set ==\n" + ws0.queryExecution.toString +
      "\n" + Optimizer.superstepPlanString(pDs, ws0, params))
    pw.close()
  }

  /** The pipeline after argument validation: `recallOut` is the validated
    * `--recallOut` path and `--recallK`. */
  private def runBody(knn: Dataset[Neighbor], params: Optimizer.Params,
                      lossAcc: MapAccumulator, outputPath: String, lossFile: String,
                      recallOut: Option[(String, Int)]): Unit = {
    val result = computeEmbedding(knn, params, Some(lossAcc))
    IO.writeEmbeddingCsv(result, outputPath)
    val pw = new java.io.PrintWriter(new java.io.File(lossFile))
    pw.write(lossAcc.value.toSeq.sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }.mkString("{", ", ", "}"))
    pw.close()
    // rebuild extension (no reference counterpart): --recallOut <path>
    // writes the embedding's neighbor-recall@k — the quality gate a real
    // t-SNE user checks on every run (see graft.tsne.Quality). The truth
    // side re-reads the pipeline's own kNN graph (persisted above), so
    // no kNN lineage re-runs.
    recallOut.foreach { case (path, k) =>
      val truth = Knn.topKPerPointRanked(
        knn.toDF().select(col("i"), col("j"), col("dist")), k)
      val row = Quality.neighborRecall(truth, result, k).head()
      val n = row.getLong(row.fieldIndex("n_points"))
      // denominator = actual truth pairs: a sparse graph (distance-matrix
      // input with < k entries for some rows) must still report 1.0 when
      // every truth neighborhood is preserved
      val pairs = row.getLong(row.fieldIndex("truth_pairs"))
      val recall =
        if (pairs == 0) 0.0
        else row.getLong(row.fieldIndex("hits")).toDouble / pairs.toDouble
      val rw = new java.io.PrintWriter(new java.io.File(path))
      rw.write(f"{n=$n, k=$k, recall=$recall%.6f}")
      rw.close()
    }
  }

  /** `--key value` / bare `--flag` parsing (the reference uses Flink's
    * `ParameterTool.fromArgs`, `Tsne.scala:34`). */
  private[tsne] def parseArgs(args: Array[String]): Map[String, String] = {
    val m = scala.collection.mutable.Map.empty[String, String]
    var k = 0
    while (k < args.length) {
      val arg = args(k)
      require(arg.startsWith("--"), s"unexpected argument '$arg'")
      val key = arg.drop(2)
      if (k + 1 < args.length && !args(k + 1).startsWith("--")) {
        m(key) = args(k + 1); k += 2
      } else {
        m(key) = "true"; k += 1
      }
    }
    m.toMap
  }
}
