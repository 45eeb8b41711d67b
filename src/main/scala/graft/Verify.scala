package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Dump each query's result to `outDir/<name>/` parquet. A failing query
    * must NOT vanish from the scoreboard: it leaves a `_FAILED` marker
    * where its parquet would be (the driver's read of the dir then errors →
    * CORRECTNESS records `err != null` instead of omitting the row) and its
    * message in the returned map (written to `_errors.json` by `main`).
    * Exposed separately from `main` so the failure contract is testable. */
  def dumpQueries(spark: SparkSession, sfDir: String, outDir: String,
                  queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : Seq[(String, String)] = {
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    queries.foreach { case (name, fn) =>
      // delete any previous round's output FIRST: a query that now fails
      // before its overwrite-write starts would otherwise leave stale
      // results in place, and the driver's compare would hash last round's
      // parquet and report a false PASS for a broken query
      val dest = new java.io.File(s"$outDir/$name")
      if (dest.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm))
          f.delete(): Unit
        }
        rm(dest)
      }
      // queries may persist shared subtrees (e.g. q_tsne_quality's ranked
      // kNN) or return checkpoints; release them so nothing one query
      // keeps resident outlives its run — the isolation Bench gives too
      Release.isolated(spark) {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
          System.err.println(s"[verify] $name FAILED: $msg")
          failures(name) = msg
          dest.mkdirs()
          Files.writeString(Paths.get(s"$outDir/$name/_FAILED"),
            s"$name\n$msg\n")
        }
      }
    }
    failures.toSeq
  }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in builder-authored SQL would otherwise make the
  // driver's json.load fail and silently zero the round's correctness.
  private def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query names — restrict the dump
    // (e.g. the sf1eq pass runs only the queries whose tables the native
    // fixture generates). No 3rd arg = every query, the driver contract.
    val (sfDir, outDir, only) = args match {
      case Array(a, b) => (a, b, None)
      case Array(a, b, names) => (a, b, Some(names.split(',').toSet))
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // name order throughout, so two dumps of the same code are identical
    val failures = dumpQueries(spark, sfDir, outDir,
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filter { case (name, _) => only.forall(_.contains(name)) })
    val json = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // failure sidecar (always written, empty object when all green): the
    // one-glance answer to "did every query at least RUN" for this dump
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_errors.json"), errJson)
    // exit 0 even on per-query failures: the driver must still run the
    // compare for the queries that DID dump (a non-zero exit could zero
    // the whole round); the markers + sidecar carry the failure signal
    spark.stop()
  }
}
