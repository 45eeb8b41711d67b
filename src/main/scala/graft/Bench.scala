package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Warm up JIT + codegen on the hot shapes (cross join + array math,
    // ranking window, hash agg) with a tiny in-memory dataset, so the first
    // measured query doesn't absorb one-time JVM compilation cost and
    // per-query timings are comparable across rounds. Its cost is reported
    // as warmup_sec — it lands in sbt wall-clock but in no query timing.
    val warmT0 = System.nanoTime()
    locally {
      import spark.implicits._
      val warm = spark.range(200)
        .select(col("id"), array((0 until 8).map(d => rand(d)): _*).as("vec"))
        .as[graft.tsne.Point]
      // covers: cross join + native distance exprs + ranking window + hash
      // agg + the affinity kernel's shuffles (per-point search, symmetrize)
      graft.tsne.Affinities.pairwiseAffinities(
        graft.tsne.Knn.bruteForce(warm, 5, "sqeuclidean"), 2.0).count()
      graft.tsne.Affinities.jointDistribution(
        graft.tsne.Knn.bruteForce(warm, 5, "sqeuclidean")).count()
      spark.read.parquet(s"$sfDir/nation.parquet").count()
      spark.catalog.clearCache()
    }
    val warmupSec = (System.nanoTime() - warmT0) / 1e9

    // Prior round's per-query timings (newest BENCH_r{N}.json in cwd) feed
    // the regression gate below: same harness methodology round over round,
    // so a >2× per-query jump is a real plan/code regression, not noise.
    val prior: Map[String, Double] = {
      // the driver's BENCH_r{N}.json is a tail capture that may carry only a
      // raw "tail" string (r6/r7 did — the prior map came back empty and the
      // regression gate was inert all round). Our own BENCH_LOCAL_r{N}.json
      // is always the full JSON line, so at any given N prefer it; fall back
      // to the driver copy only when no local artifact exists for that N.
      val reDriver = "BENCH_r(\\d+)\\.json".r
      val reLocal = "BENCH_LOCAL_r(\\d+)\\.json".r
      def parseQueries(f: java.io.File): Map[String, Double] =
        try {
          import org.json4s._
          val src = scala.io.Source.fromFile(f)
          val raw = try src.mkString finally src.close()
          val j = org.json4s.jackson.JsonMethods.parse(raw)
          // the driver wraps the bench's own JSON line under "parsed";
          // accept both layouts
          val qn = (j \ "parsed" \ "queries", j \ "queries") match {
            case (o: JObject, _) => o
            case (_, o: JObject) => o
            case _ => JNothing
          }
          qn match {
            case JObject(fields) => fields.collect {
              case (k, JDouble(v)) => k -> v
              case (k, JInt(v)) => k -> v.toDouble
              case (k, JDecimal(v)) => k -> v.toDouble
            }.toMap
            case _ => Map.empty[String, Double]
          }
        } catch { case _: Throwable => Map.empty[String, Double] }
      val files = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File])
      val byRound = files.flatMap(f => f.getName match {
        case reLocal(n) => Some((n.toInt, true, f))
        case reDriver(n) => Some((n.toInt, false, f))
        case _ => None
      })
      // newest round first; within a round, local before driver; first file
      // that yields a non-empty query map wins (a parseable-but-empty tail
      // capture must not shadow an older round's real numbers)
      byRound.sortBy { case (n, isLocal, _) => (-n, !isLocal) }
        .iterator.map { case (_, _, f) => parseQueries(f) }
        .find(_.nonEmpty).getOrElse(Map.empty)
    }

    // fixed name order: timings are position-independent and diffable;
    // each run isolated (Release.isolated: cache cleared, the RDDs it left
    // persistent unpersisted) so no query is billed against another's
    // persisted subtree (several share the kNN lineage); min of 3 runs per
    // query strips environment noise (this VM shows sporadic 10-25×
    // memory-reclaim stalls on an otherwise idle box — with min-of-2 a
    // single stalled pair still poisoned a round-5 measurement of a
    // trivial hash agg to 8.9 s)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val times = (1 to 3).map { _ => Release.isolated(spark) {
        val t0 = System.nanoTime()
        try {
          // foreach, NOT count: under count() Catalyst prunes every column,
          // so a map-only query (redaction, text stats) would be timed as a
          // bare parquet row count — the per-row expressions and the final
          // sort optimized away. foreach must materialize every output row
          // in full, so the measured plan is the plan a consumer pays for.
          fn(spark, sfDir).foreach(_ => ())
          (System.nanoTime() - t0) / 1e9
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          -1.0 // a failing query must read as failure, not as a fast run
        }
      }}
      name -> (if (times.contains(-1.0)) -1.0 else times.min)
    }
    // 3-digit floats: the one-line artifact must survive the driver's tail
    // capture (round 5's 9-digit line outgrew it and shipped truncated —
    // "parsed": null, headline unrecoverable)
    val qs = results.map { case (k, v) => f""""$k":$v%.3f""" }
      .mkString("{", ",", "}")
    // any failure poisons the headline: null (not a negative sentinel, which
    // would still satisfy a naive numeric "total <= 2x baseline" check)
    val total =
      if (results.isEmpty) "0.0"
      else if (results.exists(_._2 < 0)) "null"
      else f"${results.map(_._2).sum}%.3f"
    // >2× the prior round at identical methodology = regression candidate;
    // queries new this round (or failed either round) can't regress
    val flagged = results.collect {
      case (name, now) if now > 0 && prior.getOrElse(name, Double.MaxValue) > 0 &&
        prior.contains(name) && now > 2 * prior(name) => (name, now)
    }
    // self-adjudication: this VM's sporadic memory-reclaim stalls can
    // poison even a min-of-3 window for a contiguous block of the fixed
    // run order (round 5 shipped 8 such false flags). Re-measure each
    // flagged query ONCE after the main loop — outside the stall window
    // that flagged it — and confirm only flags that reproduce.
    val confirmed = flagged.flatMap { case (name, _) => Release.isolated(spark) {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir).foreach(_ => ())
        val again = (System.nanoTime() - t0) / 1e9
        if (again > 2 * prior(name))
          Some(f"""{"query":"$name","prior":${prior(name)}%.3f,"again":$again%.3f}""")
        else None
      } catch { case _: Throwable =>
        Some(s"""{"query":"$name","prior":${prior(name)},"again":-1.0}""")
      }
    }}
    val regressions = flagged.map { case (name, now) =>
      f"""{"query":"$name","prior":${prior(name)}%.3f,"now":$now%.3f}"""
    }.mkString("[", ",", "]")
    val full = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      f""""warmup_sec":$warmupSec%.2f,"regressions":$regressions,""" +
      s""""regressions_confirmed":${confirmed.mkString("[", ",", "]")},"sf":"$sfDir"}"""
    // compact headline FIRST — even a truncated capture keeps the total —
    // then the full line (what the driver parses), and the full JSON also
    // lands in-repo so no round depends on tail-capture size again
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size}}""")
    println(full)
    val localName = {
      val re = "BENCH_r(\\d+)\\.json".r
      val maxN = Option(new java.io.File(".").listFiles())
        .getOrElse(Array.empty[java.io.File])
        .flatMap(_.getName match { case re(n) => Some(n.toInt); case _ => None })
        .foldLeft(0)(math.max)
      s"BENCH_LOCAL_r${maxN + 1}.json"
    }
    try {
      val w = new java.io.PrintWriter(localName, "UTF-8")
      try w.println(full) finally w.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $localName: ${e.getMessage}")
    }
    spark.stop()
  }
}
