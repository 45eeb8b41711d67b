package graft

import org.apache.spark.sql.SparkSession

/** One-off: time named queries under the Bench methodology (full
  * materialization, cache cleared, min of 2) at an arbitrary SF dir.
  * `sbt 'Test/runMain graft.QueryTime /root/testdata/sf0.1 q_dedup_clusters'`
  * Optional first arg `--cpus=N` sets master local[N] + shuffle
  * partitions (default 32) — the SCALE.md 8-vs-32-core evidence knob.
  * Optional `--bc=BYTES` sets spark.sql.autoBroadcastJoinThreshold (and
  * its adaptive twin) — forces the past-broadcast regime locally to
  * measure scale-routed plans without a billion-node fixture. */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val (opt, rest) = args.partition(a =>
      a.startsWith("--cpus=") || a.startsWith("--bc="))
    val cpus = opt.find(_.startsWith("--cpus="))
      .map(_.stripPrefix("--cpus=").toInt).getOrElse(32)
    val bc = opt.find(_.startsWith("--bc="))
      .map(_.stripPrefix("--bc=").toLong)
    val dir = rest.head
    val b0 = SparkSession.builder().appName("query-time").master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
    val spark = bc.fold(b0)(v => b0
        .config("spark.sql.autoBroadcastJoinThreshold", v)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", v))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try rest.tail.foreach { q =>
      val times = (1 to 2).map { _ => Release.isolated(spark) {
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir).foreach(_ => ())
        (System.nanoTime() - t0) / 1e9
      }}
      println(f"QTIME $q run1=${times(0)}%.2f run2=${times(1)}%.2f")
    } finally spark.stop()
  }
}
