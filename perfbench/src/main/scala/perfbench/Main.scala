package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** The repo benchmark's driver: one workload, one seed, a closed loop with
  * one client (one pass at a time) for a fixed number of seconds.
  *
  * {{{
  *   perfbench.Main --workload tsne_local --seed 1 --seconds 20 --trace 0
  * }}}
  *
  * Prints a human-readable summary line, then, as the last line, one JSON
  * object `{"correct", "attempted", "failed", "metrics"}`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`. */
object Main {

  val EndToEnd: Seq[(String, String)] = Seq("wall_s" -> "s", "setup_s" -> "s")

  val PerLayer: Seq[(String, String)] = Seq(
    "knn.s" -> "s", "knn.pairs" -> "count",
    "affinities.s" -> "s", "affinities.p_entries" -> "count",
    "optimizer.s" -> "s",
    "optimizer.phase1_ms_per_iter" -> "ms", "optimizer.phase2_ms_per_iter" -> "ms",
    "optimizer.phase3_ms_per_iter" -> "ms",
    "bhtree.build_ms.collapsed" -> "ms", "bhtree.build_ms.spread" -> "ms",
    "bhtree.repulse_us_per_point.collapsed" -> "us", "bhtree.repulse_us_per_point.spread" -> "us",
    "optimizer.superstep_ms" -> "ms", "optimizer.superstep_ms.state" -> "ms",
    "spark.jobs_per_superstep" -> "count", "spark.tasks_per_superstep" -> "count",
    "dedup.minhash.s" -> "s", "dedup.clusters.s" -> "s", "dedup.jobs" -> "count",
    "dedup.pairs_out" -> "count",
    "graph.kcore.s" -> "s", "graph.kcore.jobs" -> "count",
    "graph.pagerank.s" -> "s", "graph.pagerank.jobs" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.jobs_active_s" -> "s", "driver.only_s" -> "s",
    "spark.shuffle_write_mb" -> "MB", "spark.shuffle_read_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.result_mb" -> "MB",
    "spark.persisted_rdds_after" -> "count", "retained_mb" -> "MB",
    "recall_at10" -> "fraction",
    "trace.wall_s" -> "s", "trace.overhead_s" -> "s", "trace.unattributed_s" -> "s")

  val SetupReps = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val seed = need("seed").toLong
    val runSeconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val work = java.nio.file.Paths.get(".bench_build", "perfbench").toAbsolutePath
    // half the processors run tasks; the rest are left to the driver thread
    // (the driver-local optimizer, query planning), the JIT compiler and the
    // collector, so the passes do not queue for a processor behind them
    val cores = math.max(1, Runtime.getRuntime.availableProcessors() / 2)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionSeconds = seconds(t0)
    try run(spark, workload, seed, runSeconds, trace, sessionSeconds, work)
    finally spark.stop()
  }

  private def run(spark: SparkSession, name: String, seed: Long, runSeconds: Double,
                  trace: Boolean, sessionSeconds: Double, work: java.nio.file.Path): Unit = {
    val sc = spark.sparkContext
    val tracer = new Tracer(sc)
    val w: Workload = name match {
      case "tsne_local" => new TsneLocal(spark, seed, tracer)
      case "dedup_graph" => new DedupGraph(spark, seed, tracer, work.resolve("inputs"))
      case other => System.err.println(s"unknown workload $other"); sys.exit(2)
    }

    // set-up: the session, the seed's inputs built several times (median),
    // and the untimed warm-up passes: cold passes run several times slower
    // (code generation, JIT), a cost paid once per session
    val builds = (1 to SetupReps).map { _ =>
      val t = System.nanoTime()
      w.setUp()
      seconds(t)
    }
    val warmT = System.nanoTime()
    val warmPasses = w.warmUp()
    val warmSeconds = seconds(warmT)
    val setupSeconds = sessionSeconds + median(builds) + warmSeconds

    def retainedMb(): Double = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

    // passes are isolated exactly as graft.Bench isolates queries: clearCache
    // before and after, nothing more (leftover RDDs of the program stay)
    final case class PassRecord(wall: Double, out: Try[w.Out], retained: Double, rdds: Int,
                                layers: Option[Map[String, Double]])
    def onePass(p: Int, traced: Boolean): PassRecord = {
      spark.catalog.clearCache()
      val t = System.nanoTime()
      val (out, layers) =
        if (traced) {
          val (o, root) = tracer.tracedPass(p)(Try(w.pass(p)))
          (o, Some(tracer.passMetrics(root)))
        } else (Try(w.pass(p)), None)
      val wall = seconds(t)
      spark.catalog.clearCache()
      PassRecord(wall, out, retainedMb(), sc.getPersistentRDDs.size, layers)
    }

    val records = mutable.ArrayBuffer.empty[PassRecord]
    // a pass starts only while it should end within the run's seconds, the
    // last one's time taken as the estimate; at least one always runs
    val loopStart = System.nanoTime()
    var p = 0
    var last = 0.0
    while (p == 0 || seconds(loopStart) + last <= runSeconds) {
      val t = System.nanoTime()
      records += onePass(p, traced = false)
      if (trace) records += onePass(p + 1, traced = true)
      last = seconds(t)
      p += 2
    }

    // checks, outside the timed region
    val checkT = System.nanoTime()
    val checked = records.map { r =>
      r.out match {
        case Success(o) => Try(w.check(o)) match {
          case Success(res) => res
          case Failure(e) => (Some(s"check threw: $e"), Map.empty[String, Double])
        }
        case Failure(e) => (Some(s"pass threw: $e"), Map.empty[String, Double])
      }
    }
    val checkSeconds = seconds(checkT)
    val reasons = mutable.ArrayBuffer.from(checked.flatMap(_._1))
    var attempted = records.size
    val ok = records.zip(checked).filter(_._2._1.isEmpty).map(_._1)
    val untraced = (if (ok.exists(_.layers.isEmpty)) ok else records).filter(_.layers.isEmpty)
    val wall = median(untraced.map(_.wall).toSeq)
    val retained = median(records.map(_.retained).toSeq)
    // numbers the checks measured (recall, pair count): medians over the passes
    val measured = checked.flatMap(_._2.keys).distinct
      .map(k => k -> median(checked.flatMap(_._2.get(k)).toSeq)).toMap
    val recall = measured.getOrElse("recall_at10", Double.NaN)

    val metrics: Seq[(String, String, Double)] =
      if (!trace) {
        EndToEnd.map { case (k, u) => (k, u, Map("wall_s" -> wall, "setup_s" -> setupSeconds)(k)) }
      } else {
        val tracedOk = ok.flatMap(_.layers)
        val tracedAll = if (tracedOk.nonEmpty) tracedOk else records.flatMap(_.layers)
        val keys = tracedAll.flatMap(_.keys).distinct
        val med = keys.map(k => k -> median(tracedAll.map(_.getOrElse(k, 0.0)).toSeq)).toMap
          .withDefaultValue(0.0)
        val (layer, extraFailures) = Try(w.layerMetrics(med)) match {
          case Success(v) => v
          case Failure(e) => (Map.empty[String, Double], Seq(s"layer measurement threw: $e"))
        }
        attempted += 1
        reasons ++= extraFailures
        val traced = records.filter(_.layers.nonEmpty)
        val all = med ++ layer ++ measured ++ Map(
          "trace.overhead_s" -> (med("trace.wall_s") - wall),
          "spark.persisted_rdds_after" -> median(traced.map(_.rdds.toDouble).toSeq),
          "retained_mb" -> retained)
        tracer.dump(work.resolve(s"spans-$name-seed$seed.jsonl"))
        PerLayer.map { case (k, u) => (k, u, all.getOrElse(k, 0.0)) }
      }

    val failed = reasons.size
    reasons.distinct.take(5).foreach(r => System.err.println(s"perfbench: FAILED $r"))
    val walls = untraced.map(_.wall)
    println(f"perfbench $name seed=$seed trace=${if (trace) 1 else 0}: " +
      f"passes=${walls.size} wall_s=$wall%.4f s (${walls.map(x => f"$x%.2f").mkString("/")}) " +
      f"setup_s=$setupSeconds%.4f s (session $sessionSeconds%.3f + inputs ${median(builds)}%.3f + warm-up $warmSeconds%.3f: ${warmPasses.map(x => f"$x%.2f").mkString("/")}) " +
      f"retained_mb=$retained%.3f MB failed_ratio=$failed/$attempted check_s=$checkSeconds%.2f" +
      (if (recall.isNaN) "" else f" recall_at10=$recall%.4f"))
    val body = metrics.map { case (k, u, v) =>
      val x = if (v.isNaN || v.isInfinite) 0.0 else v
      s""""$k":{"value":$x,"unit":"$u"}"""
    }.mkString(",")
    println(s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}""")
  }
}
