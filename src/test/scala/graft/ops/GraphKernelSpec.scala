package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.TestListenerBus
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.tsne.SparkTestBase

/** The packed-block superstep kernels of [[Graph]] against verbatim copies
  * of the per-record kernels they replaced ([[FormerGraph]]): the rows
  * must be `==`, at 1, 2 and 7 shuffle partitions, on inputs with the
  * shapes each kernel has rules for. Plus what the packing buys (a bounded
  * record count per shuffle) and the quiet release of superseded rounds. */
class GraphKernelSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val Partitions = Seq(1, 2, 7)

  private def sorted(df: DataFrame): (Seq[String], Seq[Row]) =
    (df.schema.map(f => s"${f.name}:${f.dataType}"), df.collect().toSeq.sortBy(_.toString))

  /** `current` and `former` give the same schema and rows at every
    * partition count. */
  private def sameAsFormer(current: => DataFrame, former: => DataFrame): Unit =
    Partitions.foreach { p =>
      withClue(s"at $p shuffle partitions: ") {
        withShufflePartitions(p)(sorted(current) shouldBe sorted(former))
      }
    }

  private def longEdges(es: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    es.toDF("src", "dst")
  }

  /** Duplicate and reversed edges, self-loops, and nodes that only ever
    * receive an edge (100–104). */
  private lazy val messy: Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(41)
    Seq.fill(240)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)) ++
      Seq((1L, 2L), (1L, 2L), (2L, 1L), (3L, 3L), (7L, 7L), (7L, 8L)) ++
      (100L to 104L).map(v => (rnd.nextInt(60).toLong, v))
  }

  /** A hub with 10,000 leaves, every tenth leaf linking back and to its
    * neighbour leaf, plus a 6-clique. */
  private lazy val hub: Seq[(Long, Long)] =
    (1L to 10000L).map(v => (0L, v)) ++
      (10L to 10000L by 10L).flatMap(v => Seq((v, 0L), (v, v + 1))) ++
      (for (a <- 20001L to 20006L; b <- a + 1 to 20006L) yield (a, b))

  /** Edges with a null endpoint, over int ids. */
  private def nullIntEdges: DataFrame = {
    val s = spark
    import s.implicits._
    val k4 = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 5), (6, 4))
    (k4.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(5), None), (None, Some(5)), (None, Some(1)), (None, None)))
      .toDF("src", "dst")
  }

  /** Graphs with fewer nodes than the 7-partition run has partitions. */
  private val tiny = Seq((1L, 2L), (2L, 3L), (3L, 1L))

  "Graph.pageRank" should "equal the former kernel on messy, null, int, tiny and hub graphs" in {
    for (es <- Seq(messy, tiny, hub))
      sameAsFormer(Graph.pageRank(longEdges(es), 5), FormerGraph.pageRank(longEdges(es), 5))
    sameAsFormer(Graph.pageRank(nullIntEdges, 4), FormerGraph.pageRank(nullIntEdges, 4))
  }

  it should "equal the former kernel with a rank checkpoint every 1 and 2 iterations" in {
    for (every <- Seq(1, 2))
      sameAsFormer(Graph.pageRank(longEdges(messy).repartition(3), 5, checkpointEvery = every),
        FormerGraph.pageRank(longEdges(messy).repartition(3), 5, checkpointEvery = every))
  }

  "Graph.personalizedPageRank" should
    "equal the former kernel, seeds outside the edge table and null seeds included" in {
    val s = spark
    import s.implicits._
    val seeds = Seq(Some(0L), Some(3L), Some(104L), Some(500L), Some(501L), None, Some(3L))
      .toDF("node")
    sameAsFormer(Graph.personalizedPageRank(longEdges(messy), seeds, 5),
      FormerGraph.personalizedPageRank(longEdges(messy), seeds, 5))
    val hubSeeds = Seq(0L, 20001L, 99999L).toDF("node")
    sameAsFormer(Graph.personalizedPageRank(longEdges(hub), hubSeeds, 4),
      FormerGraph.personalizedPageRank(longEdges(hub), hubSeeds, 4))
    val intSeeds = Seq(Some(1), Some(9), None).toDF("node")
    sameAsFormer(Graph.personalizedPageRank(nullIntEdges, intSeeds, 3),
      FormerGraph.personalizedPageRank(nullIntEdges, intSeeds, 3))
    val tinySeeds = Seq(2L).toDF("node")
    sameAsFormer(Graph.personalizedPageRank(longEdges(tiny), tinySeeds, 3),
      FormerGraph.personalizedPageRank(longEdges(tiny), tinySeeds, 3))
  }

  "Graph.kCore" should "equal the former kernel on messy, null, int, tiny and hub graphs" in {
    for ((es, k) <- Seq((messy, 5), (messy, 9), (tiny, 2), (tiny, 3), (hub, 2), (hub, 5)))
      sameAsFormer(Graph.kCore(longEdges(es), k), FormerGraph.kCore(longEdges(es), k))
    sameAsFormer(Graph.kCore(nullIntEdges, 3), FormerGraph.kCore(nullIntEdges, 3))
    sameAsFormer(Graph.kCore(longEdges(Nil), 2), FormerGraph.kCore(longEdges(Nil), 2))
  }

  "Graph.components" should
    "equal the former kernel, a 40-deep chain and ids outside the domain included" in {
    val s = spark
    import s.implicits._
    // a path whose minimum sits at one end, its edges listed in random order
    val chain = new scala.util.Random(3).shuffle((1L to 40L).map(i => (i + 1, i)))
    val domain = (1L to 45L).toDF("id")
    sameAsFormer(Graph.components(domain, chain.toDF("i", "j")),
      FormerGraph.components(domain, chain.toDF("i", "j")))
    // pair endpoints outside the domain (≥ 50) hold and relay no label;
    // 60–69 are singletons
    val messyDomain = ((0L until 50L) ++ (60L until 70L)).toDF("doc_id")
    sameAsFormer(Graph.components(messyDomain, longEdges(messy)),
      FormerGraph.components(messyDomain, longEdges(messy)))
    val hubDomain = (0L to 10000L).toDF("id")
    sameAsFormer(Graph.components(hubDomain, longEdges(hub)),
      FormerGraph.components(hubDomain, longEdges(hub)))
    val intDomain = Seq(Some(1), Some(2), Some(3), Some(4), Some(5), Some(7), None).toDF("id")
    sameAsFormer(Graph.components(intDomain, nullIntEdges),
      FormerGraph.components(intDomain, nullIntEdges))
    val tinyDomain = Seq(1L, 2L, 3L).toDF("id")
    sameAsFormer(Graph.components(tinyDomain, longEdges(tiny)),
      FormerGraph.components(tinyDomain, longEdges(tiny)))
  }

  /** Per shuffle-writing stage of `body`: (map tasks, records written). */
  private def shuffleStages(body: => Unit): Seq[(Int, Long)] = {
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val written = e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten
        if (written > 0) stages.add((e.stageInfo.numTasks, written))
        ()
      }
    }
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try body
    finally {
      TestListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    stages.asScala.toSeq
  }

  "the superstep kernels" should
    "write at most (map tasks × reduce partitions) records per shuffle" in {
    val p = 4
    withShufflePartitions(p) {
      val s = spark
      import s.implicits._
      def bounded(stages: Seq[(Int, Long)]): Unit =
        stages.foreach { case (tasks, written) => written should be <= tasks.toLong * p }
      val rank = shuffleStages(Graph.pageRank(longEdges(hub), 5).collect())
      rank.size shouldBe 6 // the adjacency and five supersteps
      bounded(rank)
      // the per-record kernel this replaced writes far more on the hub
      shuffleStages(FormerGraph.pageRank(longEdges(hub), 5).collect())
        .map(_._2).max should be > 4L * p * p
      val core = shuffleStages(Graph.kCore(longEdges(hub), 2).collect())
      core.size should be >= 2
      bounded(core)
      val chain = (1L to 40L).map(i => (i, i + 1)).toDF("i", "j")
      val labels = shuffleStages(Graph.components((1L to 41L).toDF("id"), chain).collect())
      labels.size should be >= 6 // halving rounds shuffle three times
      bounded(labels)
    }
  }

  /** The messages logged at WARN or above while `body` runs. */
  private def warnings(body: => Unit): Seq[String] = {
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val capture = new AbstractAppender("graph-kernel-capture", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        if (e.getLevel.isMoreSpecificThan(org.apache.logging.log4j.Level.WARN))
          lines.add(e.getMessage.getFormattedMessage)
        ()
      }
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext].getRootLogger
    root.addAppender(capture)
    try body
    finally {
      root.removeAppender(capture)
      capture.stop()
    }
    lines.asScala.toSeq
  }

  "Graph.kCore" should "release its superseded rounds without the local-checkpoint WARN" in {
    val Truncated = "was locally checkpointed"
    // the capture sees the WARN where Spark's own unpersist logs it
    val r = spark.sparkContext.parallelize(1 to 4).localCheckpoint()
    r.count()
    warnings(r.unpersist()).exists(_.contains(Truncated)) shouldBe true
    // a 17-node path at k = 2 peels in 9 rounds, each releasing the last
    val path = longEdges((0L until 16L).map(i => (i, i + 1)))
    warnings(Graph.kCore(path, 2).collect()).filter(_.contains(Truncated)) shouldBe empty
  }
}
