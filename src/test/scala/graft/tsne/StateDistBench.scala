package graft.tsne

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Measurement for the SCALE.md / LEDGER.md optimizer-superstep rows: the
  * distributed superstep loop at N = 200k, k = 10, 3 supersteps. Metrics
  * come from Spark's own task accounting — `resultSize` is exactly the
  * bytes every task ships driver-ward (the position collects and the
  * per-partition partials), and `shuffleWriteMetrics.bytesWritten` is the
  * cluster-side traffic (the one cogroup that builds the static side).
  *
  * `sbt 'Test/runMain graft.tsne.StateDistBench'`
  */
object StateDistBench {

  private final class Meter extends SparkListener {
    val shuffleWrite = new AtomicLong
    val resultSize = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        resultSize.addAndGet(m.resultSize)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().appName("state-dist-bench")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .getOrCreate()
    import spark.implicits._
    spark.sparkContext.setLogLevel("WARN")
    try {
      val n = 200_000
      val k = 10
      val iters = 3
      val pRows = spark.sparkContext.parallelize(0 until 32, 32).flatMap { part =>
        val rng = new scala.util.Random(4321L + part)
        val per = n / 32
        Iterator.tabulate(per) { r =>
          val id = part.toLong * per + r
          val js = Array.fill(k)(rng.nextLong(n.toLong))
          val raw = Array.fill(k)(rng.nextDouble() + 1e-3)
          val s = raw.sum
          AffinityRow(id, js, raw.map(_ / s / n))
        }
      }.toDS().cache()
      pRows.count()
      // spread-out start (σ=1, not the optimizer's 1e-4): a collapsed cloud
      // defeats the BH criterion (every traversal degenerates to O(N)) and
      // this measures traffic, not trajectory — the per-superstep dataflow
      // is identical at any spread
      val ws0 = spark.range(n).as[Long].map { id =>
        val w = Optimizer.initRow(id, 2, seed = 7L)
        WorkingSet(w.id, w.y.map(_ * 1e4), w.lastGrad, w.gains)
      }.cache()
      ws0.count()

      val params = Optimizer.Params(iterations = iters, theta = 0.25,
        earlyExaggeration = 4.0, learningRate = 300)

      val meter = new Meter
      spark.sparkContext.addSparkListener(meter)
      def measure(label: String)(run: => Unit): Unit = {
        val (sw0, rs0) = (meter.shuffleWrite.get(), meter.resultSize.get())
        val t0 = System.nanoTime()
        run
        Thread.sleep(2000) // let the listener bus drain task-end events
        val sec = (System.nanoTime() - t0) / 1e9
        val swMb = (meter.shuffleWrite.get() - sw0) / 1e6
        val rsMb = (meter.resultSize.get() - rs0) / 1e6
        println(f"STATEDIST n=$n k=$k iters=$iters path=$label%-10s " +
          f"wall=$sec%.1fs driver_result_mb=$rsMb%.1f shuffle_write_mb=$swMb%.1f")
      }

      measure("distributed") {
        Optimizer.optimizeDistributed(pRows, ws0, params, None).foreach(_ => ())
      }
    } finally spark.stop()
  }
}
