package perfbench

import graft.ops.Graph
import graft.pipeline.Dedup
import graft.tsne.{Affinities, AffinityRow, BhTree, Knn, Optimizer, Point}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col

/** One benchmark workload. The driver loop ([[Main]]) calls [[setUp]], then
  * [[warmUp]], then [[pass]] repeatedly to measure; [[check]] runs on every
  * measured pass's output after the timed loop. */
abstract class Workload(val spark: SparkSession, val seed: Long, val tracer: Tracer) {
  type Out

  /** Builds the full-size inputs for the seed (driver arrays and the
    * Datasets over them). */
  def setUp(): Unit

  /** One closed-loop pass of the user-visible job; `pass` tags its spans. */
  def pass(pass: Int): Out

  /** The untimed warm-up passes before the first timed one; returns how long
    * each took. */
  def warmUp(): Seq[Double]

  protected def timedPass(): Double = {
    val t = System.nanoTime()
    pass(-1)
    spark.catalog.clearCache()
    (System.nanoTime() - t) / 1e9
  }

  /** `None` when the output is correct, else the reason; plus any numbers
    * the check measured (e.g. recall). */
  def check(out: Out): (Option[String], Map[String, Double])

  /** Per-layer numbers measured once per traced run, outside the passes, or
    * derived from the traced passes' medians (`passes`, keyed as
    * [[Tracer.passMetrics]] keys them, which are reported as they are).
    * Failures found here are returned as reasons. */
  def layerMetrics(passes: Map[String, Double]): (Map[String, Double], Seq[String])

  protected def span[T](name: String, p: Int)(body: => T): T = tracer.span(name, p)(body)
}

/** Points → 2-D embedding: top-30 brute-force kNN, perplexity-10 affinities,
  * 250 iterations of the optimizer under default dispatch (driver-local at
  * this size). The traced run also drives the same P through both superstep
  * loops (broadcast-state and state-distributed) and checks each against the
  * driver-local loop. */
final class TsneLocal(spark: SparkSession, seed: Long, tracer: Tracer)
    extends Workload(spark, seed, tracer) {
  type Out = Array[(Long, Array[Double])]
  private val n = 1000
  private val iterations = 250
  private val Dim = 64
  private val Components = 10
  private val K = 30
  private val Perplexity = 10.0
  private val Metric = "sqeuclidean"
  private val WarmPasses = 6
  private val params = Optimizer.Params(perplexity = Perplexity, iterations = iterations, seed = seed)
  private var input: Array[Array[Double]] = _
  private var pts: Dataset[Point] = _
  private lazy val truth = Checks.topK(input, 10)

  def setUp(): Unit = {
    import spark.implicits._
    input = Gen.mixture(n, Dim, Components, seed)
    pts = spark.createDataset(input.indices.map(i => Point(i.toLong, input(i))))
  }

  // passes keep getting faster for ~20 passes (JIT of the planner and the
  // task path); six warm-up passes and a 20 s window centre the timed ones
  // near the 12th, where one pass more or less barely moves their median
  def warmUp(): Seq[Double] = Seq.fill(WarmPasses)(timedPass())

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  private def embedding(ds: Dataset[Point]): Out = ds.collect().map(q => (q.id, q.vec))

  // kNN and P are each materialized inside their own span, so every layer
  // is timed on its own rather than folded into the optimizer's first action
  def pass(p: Int): Out = {
    val knn = span("knn", p) {
      val k = Knn.bruteForce(pts, K, Metric).persist()
      k.count()
      k
    }
    val (pRows, release) = span("affinities", p) {
      val (a, rel) = Affinities.highDimAffinitiesWithRelease(knn, Perplexity)
      val cached = a.persist()
      cached.count()
      (cached, rel)
    }
    try span("optimizer", p) {
      embedding(Optimizer.optimize(pRows, Optimizer.initWorkingSet(pRows, 2, seed), params))
    } finally release()
  }

  def check(out: Out): (Option[String], Map[String, Double]) = {
    val (bad, r) = Checks.tsneLocal(out, truth, floor = 0.08)
    (bad, Map("recall_at10" -> r))
  }

  def layerMetrics(m: Map[String, Double]): (Map[String, Double], Seq[String]) = {
    val pRows = Affinities.highDimAffinities(Knn.bruteForce(pts, K, Metric), Perplexity).collect()
    val pDs = spark.createDataset(pRows.toSeq)(org.apache.spark.sql.Encoders.product[AffinityRow])
    val ws0 = Optimizer.initWorkingSet(pDs, 2, seed).collect()
    def local(ps: Optimizer.Params) = Optimizer.optimizeLocal(pRows, ws0, ps)._1

    // the 3-phase schedule at 20 / 101 / 250 iterations: each a prefix of the next
    val (collapsed, t1) = timed(local(params.copy(iterations = 20)))
    val (_, t2) = timed(local(params.copy(iterations = 101)))
    val (spread, t3) = timed(local(params))
    def tree(snap: Array[Point]): (Double, Double) = {
      val ys = snap.sortBy(_.id).map(_.vec)
      val builds = (1 to 5).map(_ => timed(BhTree.build(ys))._2 * 1e3)
      val t = BhTree.build(ys)
      val reps = (1 to 3).map { _ =>
        timed(ys.foreach(y => t.repulsiveForce(y(0), y(1), params.theta)))._2 * 1e6 / ys.length
      }
      (Main.median(builds), Main.median(reps))
    }
    val (bc, rc) = tree(collapsed)
    val (bs, rs) = tree(spread)

    // the superstep loops on the same P: warmed on a 2-iteration run, then
    // one traced run each, checked against the driver-local loop at 1e-9
    def superstep(ps: Optimizer.Params, id: Int): (Map[String, Double], Option[String]) = {
      def go(q: Optimizer.Params) = Optimizer.optimize(pDs, Optimizer.initWorkingSet(pDs, 2, seed), q)
        .collect().map(r => (r.id, r.vec))
      go(ps.copy(iterations = 2))
      val (out, root) = tracer.tracedPass(id)(go(ps))
      val ref = local(ps).map(q => (q.id, q.vec))
      (tracer.passMetrics(root), Checks.sameEmbedding(out, ref, 1e-9))
    }
    val (distIters, stateIters) = (12, 4)
    val dist = params.copy(iterations = distIters, maxLocalPEntries = 0L)
    val (md, badDist) = superstep(dist, 1000001)
    val (ms, badState) = superstep(
      dist.copy(iterations = stateIters, maxBroadcastStateRows = 0L), 1000002)

    (Map(
      "knn.pairs" -> n.toDouble * (n - 1),
      "affinities.p_entries" -> pRows.map(_.js.length.toDouble).sum,
      "optimizer.phase1_ms_per_iter" -> t1 * 1e3 / 20,
      "optimizer.phase2_ms_per_iter" -> (t2 - t1) * 1e3 / 81,
      "optimizer.phase3_ms_per_iter" -> (t3 - t2) * 1e3 / (iterations - 101),
      "bhtree.build_ms.collapsed" -> bc, "bhtree.build_ms.spread" -> bs,
      "bhtree.repulse_us_per_point.collapsed" -> rc,
      "bhtree.repulse_us_per_point.spread" -> rs,
      "optimizer.superstep_ms" -> md("trace.wall_s") * 1e3 / distIters,
      "optimizer.superstep_ms.state" -> ms("trace.wall_s") * 1e3 / stateIters,
      "spark.jobs_per_superstep" -> md("spark.jobs") / distIters,
      "spark.tasks_per_superstep" -> md("spark.tasks") / distIters),
      badDist.map(r => s"superstep loop: $r").toSeq ++
        badState.map(r => s"state-distributed loop: $r"))
  }
}

/** The collected outputs of one `dedup_graph` pass. */
final case class DedupGraphResult(pairs: Array[(Long, Long, Double)], clusters: Array[(Long, Long)],
                                  core: Array[(Long, Long)], rank: Array[(Long, Long)])

/** MinHash near-duplicates, duplicate clusters over those pairs, k-core and
  * PageRank: the shuffle-join and iterative-checkpoint operators, no t-SNE.
  * Inputs are shaped like the sf0.1 tables the `q_dedup_*`, `q_kcore` and
  * `q_pagerank` queries read: the documents table at its full size, the
  * two `lineitem` graphs at a quarter of it. */
final class DedupGraph(spark: SparkSession, seed: Long, tracer: Tracer, dir: java.nio.file.Path)
    extends Workload(spark, seed, tracer) {
  type Out = DedupGraphResult
  private val Theta = 0.7
  private val CoreK = 16
  private val RankIters = 5

  private final class Inputs(shrink: Int, name: String) {
    val docRows: Array[Doc] = Gen.documents(n = 5000 / shrink, dupShare = 0.05, seed = seed)
    val coreRows: Array[Edge] =
      Gen.coOccurrence(Gen.orderLines(orders = 9200 / shrink, items = 5000 / shrink, seed = seed + 1))
    val rankRows: Array[Edge] =
      Gen.bipartite(Gen.orderLines(orders = 12275 / shrink, items = 250 / shrink, seed = seed + 2))
    // written as Parquet and read back, so every pass scans files as the
    // queries do rather than shipping local rows inside its tasks
    private def table(t: String, df: DataFrame): DataFrame = {
      val path = dir.resolve(name).resolve(t).toString
      df.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }
    import spark.implicits._
    val docs: DataFrame = table("documents", docRows.toSeq.toDF())
    val coreEdges: DataFrame = table("core_edges", coreRows.toSeq.toDF())
    val rankEdges: DataFrame = table("rank_edges", rankRows.toSeq.toDF())
  }
  private var in: Inputs = _
  private lazy val refPairs = Checks.jaccardPairs(in.docRows, Theta)
  private lazy val refClusters = Checks.clusters(in.docRows.map(_.doc_id), refPairs.keys)
  private lazy val refCore = Checks.kCore(in.coreRows, CoreK)
  private lazy val refRank = Checks.pageRank(in.rankRows, RankIters)

  def setUp(): Unit = in = new Inputs(1, "full")

  // most of a cold pass is code generation and JIT compilation, which do
  // not depend on the input size, so the warm-up pass runs on inputs an
  // eighth the size
  def warmUp(): Seq[Double] = {
    val full = in
    in = new Inputs(8, "small")
    val small = timedPass()
    in = full
    Seq(small)
  }

  // the clusters step reads the MinHash pairs as the lazy DataFrame, as
  // q_dedup_clusters does, so the seam between the two is measured as is
  def pass(p: Int): Out = {
    val (nearDups, pairs) = span("dedup.minhash", p) {
      val df = Dedup.minHashNearDups(in.docs, n = 3, theta = Theta)
      (df, df.select("i", "j", "jaccard").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val clusters = span("dedup.clusters", p) {
      Dedup.duplicateClusters(in.docs.select("doc_id"), nearDups.select("i", "j"))
        .select(col("id").cast("long"), col("cluster").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
    }
    val core = span("graph.kcore", p) {
      Graph.kCore(in.coreEdges, k = CoreK).select(col("node").cast("long"), col("deg").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    val rank = span("graph.pagerank", p) {
      Graph.pageRank(in.rankEdges, iters = RankIters).select(col("node").cast("long"), col("rank").cast("long"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
    }
    DedupGraphResult(pairs, clusters, core, rank)
  }

  def check(out: Out): (Option[String], Map[String, Double]) = {
    val bad = Checks.pairs(out.pairs, refPairs, Theta)
      .orElse(Checks.sameRows("clusters", out.clusters, refClusters))
      .orElse(Checks.sameRows("k-core", out.core, refCore))
      .orElse(Checks.sameRows("pagerank", out.rank, refRank))
    (bad, Map("dedup.pairs_out" -> out.pairs.length.toDouble))
  }

  def layerMetrics(m: Map[String, Double]): (Map[String, Double], Seq[String]) =
    (Map("dedup.jobs" -> (m("dedup.minhash.jobs") + m("dedup.clusters.jobs"))), Nil)
}
