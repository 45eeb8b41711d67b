package graft.tsne

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.Suite

/** Shared local SparkSession for all specs (one JVM-wide session; ScalaTest
  * suites run sequentially in the forked test JVM). */
trait SparkTestBase extends BeforeAndAfterAll { self: Suite =>

  lazy val spark: SparkSession = SparkTestBase.session

  def fixturePath(name: String): String =
    getClass.getResource(s"/$name").getPath

  /** Runs `body` with `spark.sql.shuffle.partitions` set to `n` — the
    * partition count of the graph superstep kernels. */
  def withShufflePartitions[T](n: Int)(body: => T): T = {
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", n.toLong)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}

object SparkTestBase {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
