package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One call into one layer, timed from outside: name, start, end, the span
  * that caused it, and the pass it belongs to. */
final class SpanRec(val id: Int, val name: String, val parent: Int, val pass: Int) {
  val startMs: Long = System.currentTimeMillis()
  val startNs: Long = System.nanoTime()
  var endNs: Long = startNs
  var endMs: Long = startMs
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark work the listener attributed to one span. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L; var taskMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L; var result = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** Benchmark-side spans plus a `SparkListener` that attributes each job,
  * stage and task to the span that was open when it was submitted (via a
  * thread-local Spark property). Spans stay in memory until [[dump]].
  * With `enabled = false`, [[span]] just runs its body. */
final class Tracer(sc: SparkContext) extends SparkListener {
  private val Key = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val work = mutable.HashMap.empty[Int, Work]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, (Int, Long)]
  private var open: Option[SpanRec] = None
  var enabled = false

  def span[T](name: String, pass: Int)(body: => T): T =
    if (!enabled) body
    else {
      val parent = open
      val s = new SpanRec(spans.size, name, parent.fold(-1)(_.id), pass)
      spans += s
      open = Some(s)
      sc.setLocalProperty(Key, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
        open = parent
        sc.setLocalProperty(Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Runs `body` as one traced pass: listener attached, a root span named
    * "pass", every event delivered before returning. */
  def tracedPass[T](pass: Int)(body: => T): (T, SpanRec) = {
    sc.addSparkListener(this)
    enabled = true
    try {
      val out = span("pass", pass)(body)
      (out, spans.filter(s => s.pass == pass && s.parent == -1).last)
    } finally {
      enabled = false
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(this)
    }
  }

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(Key))).fold(-1)(_.toInt)

  private def workOf(span: Int): Work = work.getOrElseUpdate(span, new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (spanOf(e.properties), e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) =>
      val w = workOf(span)
      w.jobs += 1
      w.jobIntervals += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    workOf(span).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = workOf(stageSpan.getOrElse(e.stageId, -1))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskMs += m.executorRunTime
      w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      w.spill += m.diskBytesSpilled
      w.result += m.resultSize
    }
  }

  private def descendants(root: SpanRec): Seq[SpanRec] = {
    val kids = spans.filter(_.parent == root.id).toSeq
    kids ++ kids.flatMap(descendants)
  }

  /** Per-pass numbers of one traced pass: self time, jobs and tasks per span
    * name (`<name>.s`, `<name>.jobs`, `<name>.tasks`), and the pass's Spark
    * totals, jobs attributed to the root included. `trace.unattributed_s` is
    * the root's self time: wall time spent in none of the layer spans. */
  def passMetrics(root: SpanRec): Map[String, Double] = synchronized {
    val tree = root +: descendants(root)
    val out = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = out(k) = out.getOrElse(k, 0.0) + v
    for (s <- tree) {
      val self = s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
      if (s eq root) out("trace.unattributed_s") = self
      else {
        val w = work.getOrElse(s.id, new Work)
        add(s"${s.name}.s", self)
        add(s"${s.name}.jobs", w.jobs.toDouble)
        add(s"${s.name}.tasks", w.tasks.toDouble)
      }
    }
    val ws = tree.flatMap(s => work.get(s.id))
    val mb = 1e6
    out("trace.wall_s") = root.seconds
    out("spark.jobs") = ws.map(_.jobs).sum.toDouble
    out("spark.stages") = ws.map(_.stages).sum.toDouble
    out("spark.tasks") = ws.map(_.tasks).sum.toDouble
    out("spark.task_s") = ws.map(_.taskMs).sum / 1000.0
    out("spark.shuffle_write_mb") = ws.map(_.shuffleWrite).sum / mb
    out("spark.shuffle_read_mb") = ws.map(_.shuffleRead).sum / mb
    out("spark.spill_mb") = ws.map(_.spill).sum / mb
    out("spark.result_mb") = ws.map(_.result).sum / mb
    val active = unionMs(ws.flatMap(_.jobIntervals)
      .map { case (a, b) => (math.max(a, root.startMs), math.min(b, root.endMs)) }) / 1000.0
    out("spark.jobs_active_s") = active
    out("driver.only_s") = math.max(0.0, root.seconds - active)
    out.toMap
  }

  private def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L; var curStart = Long.MinValue; var curEnd = Long.MinValue
    for ((a, b) <- intervals.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curEnd) { total += curEnd - curStart; curStart = a; curEnd = b }
      else curEnd = math.max(curEnd, b)
    }
    total + (curEnd - curStart)
  }

  /** Writes every span, one JSON object per line, with the Spark work
    * attributed to it. */
  def dump(path: java.nio.file.Path): Unit = synchronized {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      val w = work.getOrElse(s.id, new Work)
      f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        f""""start_ms":${s.startMs},"seconds":${s.seconds}%.6f,"jobs":${w.jobs},""" +
        f""""stages":${w.stages},"tasks":${w.tasks},"task_ms":${w.taskMs},""" +
        f""""shuffle_write_bytes":${w.shuffleWrite},"shuffle_read_bytes":${w.shuffleRead}}"""
    }
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
