package graft.ops

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.tsne.SparkTestBase

/** [[Graph.pageRank]] — fixed-point integer PageRank. Checked against a
  * plain-Scala long-arithmetic reference (the exactness claim is
  * bit-identity, not approximation), plus partitioning-invariance and
  * dangling-mass redistribution. */
class GraphSpec extends AnyFlatSpec with Matchers with SparkTestBase {

  private val SCALE = 1000000000000L

  /** Reference implementation: same recurrence, same integer ops. */
  private def brute(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length.toLong
    val base = SCALE / n
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var r = nodes.map(_ -> base).toMap
    (1 to iters).foreach { _ =>
      val contrib = edges
        .map { case (s, d) => d -> r(s) / outdeg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      val dang = nodes.filterNot(outdeg.contains).map(r).sum
      r = nodes.map { v =>
        v -> (15L * base + 85L * (contrib.getOrElse(v, 0L) + dang / n)) / 100L
      }.toMap
    }
    r
  }

  private def run(edges: Seq[(Long, Long)], iters: Int,
                  parts: Int = 1, checkpointEvery: Int = 6): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    Graph.pageRank(df, iters, checkpointEvery = checkpointEvery)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** A sparse random graph: many dangling nodes, several components. */
  private def sparseGraph(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(90)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.distinct
  }

  "Graph.pageRank" should "match the integer reference bit-for-bit on a small graph" in {
    // a hub (1), a chain, a dangling sink (5), and a cycle
    val edges = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 2L -> 1L, 3L -> 1L,
      4L -> 5L, 6L -> 7L, 7L -> 6L)
    run(edges, 5) shouldBe brute(edges, 5)
    // the hub outranks the dangling sink's sole feeder
    val got = run(edges, 5)
    got(1L) should be > got(4L)
  }

  it should "be invariant to input partitioning (integer ops have no sum-order)" in {
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter { case (a, b) => a != b }.distinct
    val one = run(edges, 4, parts = 1)
    run(edges, 4, parts = 13) shouldBe one
    one shouldBe brute(edges, 4)
  }

  it should "match the reference at 1 and 7 shuffle partitions" in {
    val edges = sparseGraph(5)
    val expect = brute(edges, 5)
    withShufflePartitions(1)(run(edges, 5)) shouldBe expect
    withShufflePartitions(7)(run(edges, 5)) shouldBe expect
  }

  it should "match the reference with checkpointEvery = 2 over 5 iterations" in {
    val edges = sparseGraph(6)
    run(edges, 5, checkpointEvery = 2) shouldBe brute(edges, 5)
    run(edges, 5, parts = 5, checkpointEvery = 1) shouldBe brute(edges, 5)
  }

  it should "plan no edge-side exchange over the persisted repartitioned edges (the no-reshuffle premise)" in {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.col
    // The DataFrame co-location premise: a persisted repartition(src) edge
    // table satisfies an edges⋈scores join's distribution, so the join
    // plans no edge-side exchange — the lever a DataFrame loop (hits) or
    // a bucketed edge table gets at cluster scale. localCheckpoint canNOT
    // substitute: its LogicalRDD reports UnknownPartitioning. pageRank no
    // longer joins DataFrames: its RDD kernel co-partitions the adjacency
    // and the ranks itself (LEDGER.md, "Graph.pageRank").
    // Pin the premise with AQE off so the plan string is deterministic.
    val prev = s.conf.get("spark.sql.adaptive.enabled")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val e = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
        .repartition(col("src"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      try {
        val r = Seq((1L, 10L), (2L, 20L)).toDF("node", "rank")
        val joined = e.join(r, e("src") === r("node"))
        val plan = joined.queryExecution.executedPlan.toString
        // exactly ONE shuffle — the slim rank side; the persisted edge
        // side's partitioning satisfies the join's distribution
        "Exchange hashpartitioning".r.findAllIn(plan).size shouldBe 1
        plan should include("InMemoryTableScan")
      } finally { e.unpersist(); () }
    } finally s.conf.set("spark.sql.adaptive.enabled", prev)
  }

  it should "redistribute dangling mass uniformly" in {
    // star into a sink: every leaf's rank drains to 4, which is dangling
    val edges = Seq(1L -> 4L, 2L -> 4L, 3L -> 4L)
    val got = run(edges, 3)
    got shouldBe brute(edges, 3)
    // the sink accumulates strictly more than any leaf
    got(4L) should be > got(1L)
    // leaves are symmetric: identical ranks
    got(1L) shouldBe got(2L)
    got(2L) shouldBe got(3L)
  }

  /** Reference PPR: restart and dangling mass both teleport to seeds. */
  private def brutePpr(edges: Seq[(Long, Long)], seeds: Seq[Long],
                       iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2) ++ seeds).distinct.sorted
    val sSet = seeds.toSet
    val sCount = seeds.distinct.length.toLong
    val sBase = SCALE / sCount
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    var r = nodes.map(v => v -> (if (sSet(v)) sBase else 0L)).toMap
    (1 to iters).foreach { _ =>
      val contrib = edges
        .map { case (s, d) => d -> r(s) / outdeg(s) }
        .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).sum }
      val dang = nodes.filterNot(outdeg.contains).map(r).sum
      r = nodes.map { v =>
        val sb = if (sSet(v)) sBase else 0L
        val ds = if (sSet(v)) dang / sCount else 0L
        v -> (15L * sb + 85L * (contrib.getOrElse(v, 0L) + ds)) / 100L
      }.toMap
    }
    r
  }

  private def runPpr(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int,
                     parts: Int = 1): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df = edges.toDF("src", "dst").repartition(parts)
    Graph.personalizedPageRank(df, seeds.toDF("node"), iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  "Graph.personalizedPageRank" should "match the integer reference and localize rank around the seeds" in {
    // two symmetric cycles bridged both ways; seed in the first — without
    // the return bridge the far cycle is an absorbing component and
    // legitimately accumulates the leaked mass (checked the hard way)
    val c1 = Seq(1L -> 2L, 2L -> 3L, 3L -> 1L)
    val c2 = Seq(10L -> 11L, 11L -> 12L, 12L -> 10L)
    val bridges = Seq(3L -> 10L, 12L -> 1L)
    val edges = c1 ++ c2 ++ bridges
    val got = runPpr(edges, Seq(1L), 6)
    got shouldBe brutePpr(edges, Seq(1L), 6)
    // restart mass keeps the seed on top, and the seed's cycle holds more
    // total mass than the mirror cycle
    got(1L) should be > got(10L)
    (got(1L) + got(2L) + got(3L)) should be > (got(10L) + got(11L) + got(12L))
  }

  it should "teleport dangling mass to the seeds and accept off-graph seeds" in {
    // 1 -> 2 (dangling sink), seed 99 not in the edge table
    val edges = Seq(1L -> 2L)
    val got = runPpr(edges, Seq(1L, 99L), 4)
    got shouldBe brutePpr(edges, Seq(1L, 99L), 4)
    // the off-graph seed keeps restart + dangling-return mass
    got(99L) should be > 0L
    got.keySet should contain(99L)
  }

  it should "match the reference with seeds outside the edge table" in {
    val edges = sparseGraph(7)
    val seeds = Seq(0L, 3L, 500L, 501L, 502L)
    val expect = brutePpr(edges, seeds, 5)
    runPpr(edges, seeds, 5) shouldBe expect
    Seq(500L, 501L, 502L).foreach(v => expect(v) should be > 0L)
  }

  it should "match the reference at 1 and 7 shuffle partitions" in {
    val edges = sparseGraph(8)
    val seeds = Seq(1L, 2L, 700L)
    val expect = brutePpr(edges, seeds, 5)
    withShufflePartitions(1)(runPpr(edges, seeds, 5)) shouldBe expect
    withShufflePartitions(7)(runPpr(edges, seeds, 5, parts = 3)) shouldBe expect
  }

  it should "be invariant to input partitioning" in {
    val rnd = new scala.util.Random(11)
    val edges = Seq.fill(200)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter { case (a, b) => a != b }.distinct
    val seeds = Seq(0L, 5L, 9L)
    val one = runPpr(edges, seeds, 4, parts = 1)
    runPpr(edges, seeds, 4, parts = 9) shouldBe one
    one shouldBe brutePpr(edges, seeds, 4)
  }

  behavior of "Graph.triangleCounts"

  private def runTri(edges: Seq[(Long, Long)],
                     nodes: Option[Seq[Long]] = None): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    Graph.triangleCounts(edges.toDF("src", "dst"),
      nodes.map(_.toDF("node")))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def bruteTri(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val e = edges.collect { case (a, b) if a != b =>
      (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = e.flatMap(p => Seq(p._1, p._2))
    val adj = nodes.map(v =>
      v -> e.collect { case (a, b) if a == v => b
                       case (a, b) if b == v => a }).toMap
    nodes.map(v => v -> adj(v).toSeq.combinations(2)
      .count { case Seq(x, y) =>
        e((math.min(x, y), math.max(x, y))) }.toLong).toMap
  }

  it should "count K4 and leave a star triangle-free" in {
    // K4: 4 triangles, each node in 3 of them
    val k4 = for (a <- 0 to 3; b <- a + 1 to 3) yield (a.toLong, b.toLong)
    runTri(k4) shouldBe Map(0L -> 3L, 1L -> 3L, 2L -> 3L, 3L -> 3L)
    // star hub: high degree, zero triangles — the hub-artifact signature
    val star = (1 to 6).map(i => (0L, i.toLong))
    runTri(star).values.toSet shouldBe Set(0L)
  }

  it should "clean duplicates, reversed edges and self-loops" in {
    val messy = Seq((1L, 2L), (2L, 1L), (1L, 2L), (2L, 3L), (3L, 1L),
      (2L, 2L))
    runTri(messy) shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L)
  }

  it should "cover the node domain with zeros for isolated nodes" in {
    val got = runTri(Seq((1L, 2L), (2L, 3L), (3L, 1L)),
      nodes = Some(Seq(1L, 2L, 3L, 9L)))
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 0L)
  }

  it should "match brute force on a random graph incl. a heavy hub, at any partitioning" in {
    val rnd = new scala.util.Random(23)
    val rand = Seq.fill(300)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    // plant a hub touching everything: the degree orientation must not
    // blow up nor miscount around it
    val hub = (0 until 40).map(i => (99L, i.toLong))
    val edges = (rand ++ hub).filter { case (a, b) => a != b }
    val expect = bruteTri(edges)
    runTri(edges) shouldBe expect
    val s = spark
    import s.implicits._
    Graph.triangleCounts(edges.toDF("src", "dst").repartition(11))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap shouldBe expect
  }

  /** Plain-Scala peeling reference (set-based fixpoint). */
  private def bruteCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Long] = {
    var e = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .filter { case (a, b) => a != b }.distinct
    var changed = true
    while (changed) {
      val deg = e.flatMap { case (a, b) => Seq(a, b) }
        .groupBy(identity).map { case (n, xs) => n -> xs.size }
      val keep = deg.filter(_._2 >= k).keySet
      val next = e.filter { case (a, b) => keep(a) && keep(b) }
      changed = next.size != e.size
      e = next
    }
    e.flatMap { case (a, b) => Seq(a, b) }
      .groupBy(identity).map { case (n, xs) => n -> xs.size.toLong }
  }

  private def runCore(edges: Seq[(Long, Long)], k: Int,
                      parts: Int = 1, maxRounds: Int = 50): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df = edges.toDF("src", "dst")
    Graph.kCore(if (parts > 1) df.repartition(parts) else df, k, maxRounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  "Graph.kCore" should "keep the clique and peel the tendril (hub-vs-cohesion)" in {
    // K4 {1,2,3,4} with a pendant chain 4-5-6: the 3-core is exactly the
    // K4 (each member keeps its 3 clique neighbors); the chain peels
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L))
    val edges = k4 ++ Seq((4L, 5L), (5L, 6L))
    runCore(edges, 3) shouldBe Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L)
    // a star hub has huge degree but an empty 2-core — the signal degree
    // alone cannot express
    val star = (1L to 30L).map(i => (0L, i))
    runCore(star, 2) shouldBe Map.empty
  }

  it should "survive cascades, dirty edges, and match brute force at any partitioning" in {
    // peeling one layer re-exposes the next: cascade must run to fixpoint
    val rnd = new scala.util.Random(31)
    val edges = Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .filter { case (a, b) => a != b } ++
      Seq((7L, 7L), (3L, 3L)) ++ // self loops: cleaned
      Seq((1L, 2L), (2L, 1L), (1L, 2L)) // dupes + reversed: one edge
    val expect = bruteCore(edges, 6)
    expect should not be Map.empty // fixture sanity: non-trivial core
    runCore(edges, 6) shouldBe expect
    runCore(edges, 6, parts = 11) shouldBe expect
  }

  it should "fail loudly when the cascade outruns maxRounds" in {
    // a 30-chain at k=2 peels one node per end per round — 14 rounds;
    // capping at 3 must throw, never return a half-peeled set
    val chain = (0L until 29L).map(i => (i, i + 1))
    an[IllegalStateException] should be thrownBy
      runCore(chain, 2, maxRounds = 3)
    // with enough rounds the same chain peels to an empty core
    runCore(chain, 2, maxRounds = 20) shouldBe Map.empty
  }

  /** Runs `body` on another thread and fails if it has not returned within
    * two minutes: a convergence count that never arrived would block. */
  private def noHang[T](body: => T): T = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    Await.result(Future(body)(ExecutionContext.global), 2.minutes)
  }

  it should "return an empty core for an empty edge table" in {
    noHang(runCore(Nil, 2)) shouldBe Map.empty
  }

  it should "stop in round 0 on a graph that already is a k-core" in {
    // a 6-cycle is its own 2-core: the first peel removes nothing
    val cycle = (0L until 6L).map(i => (i, (i + 1) % 6))
    noHang(runCore(cycle, 2)) shouldBe bruteCore(cycle, 2)
    noHang(runCore(cycle, 2)).keySet shouldBe (0L until 6L).toSet
  }

  it should "peel a graph to empty" in {
    // a binary tree has no 2-core: leaves peel level by level
    val tree = (1L until 31L).map(i => ((i - 1) / 2, i))
    bruteCore(tree, 2) shouldBe Map.empty
    noHang(runCore(tree, 2)) shouldBe Map.empty
  }

  it should "match brute force at 1 and 7 shuffle partitions" in {
    val rnd = new scala.util.Random(17)
    val edges = Seq.fill(300)((rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
    val expect = bruteCore(edges, 5)
    expect should not be Map.empty // fixture sanity: non-trivial core
    withShufflePartitions(1)(runCore(edges, 5)) shouldBe expect
    withShufflePartitions(7)(runCore(edges, 5, parts = 3)) shouldBe expect
  }

  it should "keep IntegerType ids and ignore edges with a null endpoint" in {
    val s = spark
    import s.implicits._
    // K4 {1,2,3,4} with a pendant 4-5: the 3-core is the K4
    val edges = Seq((1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5))
    val withNulls = edges.map { case (a, b) => (Option(a), Option(b)) } ++
      Seq((Some(5), None), (None, Some(5)), (None, Some(1)), (None, None))
    val core = Graph.kCore(withNulls.toDF("src", "dst"), 3)
    core.schema.map(_.dataType) shouldBe Seq(IntegerType, LongType)
    val asLong = edges.map { case (a, b) => (a.toLong, b.toLong) }
    core.collect().map(r => r.getInt(0).toLong -> r.getLong(1)).toMap shouldBe
      runCore(asLong, 3)
    runCore(asLong, 3) shouldBe bruteCore(asLong, 3)
  }

  private val HitsScale = 1000000000L

  /** Plain-Scala integer HITS in the operator's exact spelling:
    * widen-to-BigInt multiply, truncated division, L1 renorm per
    * half-step. */
  private def bruteHits(edges: Seq[(Long, Long)],
                        iters: Int): Map[Long, (Long, Long)] = {
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    var h = nodes.map(_ -> HitsScale).toMap
    var a = Map.empty[Long, Long]
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val tot = BigInt(raw.values.map(BigInt(_)).sum.toString)
      nodes.map { n =>
        n -> (BigInt(raw.getOrElse(n, 0L)) * HitsScale / tot).toLong
      }.toMap
    }
    (1 to iters).foreach { _ =>
      a = norm(edges.groupBy(_._2).view
        .mapValues(_.map(e => h(e._1)).sum).toMap)
      h = norm(edges.groupBy(_._1).view
        .mapValues(_.map(e => a(e._2)).sum).toMap)
    }
    nodes.map(n => n -> (h(n), a(n))).toMap
  }

  private def runHits(edges: Seq[(Long, Long)], iters: Int,
                      parts: Int = 4): Map[Long, (Long, Long)] = {
    val s = spark
    import s.implicits._
    Graph.hits(edges.toDF("src", "dst").repartition(parts), iters)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
  }

  "hits" should "split the hub and authority roles on a bipartite fan" in {
    // order-ish nodes 1..3 point at supplier-ish nodes 10..12; node 1
    // spans all three suppliers, supplier 10 is hit by all three orders
    val edges = Seq(1L -> 10L, 1L -> 11L, 1L -> 12L,
      2L -> 10L, 2L -> 11L, 3L -> 10L)
    val got = runHits(edges, 3)
    got shouldBe bruteHits(edges, 3)
    // pure sources have authority 0, pure sinks hub 0
    Seq(1L, 2L, 3L).foreach(n => got(n)._2 shouldBe 0L)
    Seq(10L, 11L, 12L).foreach(n => got(n)._1 shouldBe 0L)
    // the broadest order is the best hub; the most-cited supplier the
    // best authority
    got(1L)._1 should be > got(2L)._1
    got(2L)._1 should be > got(3L)._1
    got(10L)._2 should be > got(11L)._2
    got(11L)._2 should be > got(12L)._2
  }

  it should "match brute force on a random directed graph at any partitioning" in {
    val rnd = new scala.util.Random(31)
    val edges = (1 to 300).map(_ =>
      (rnd.nextInt(40).toLong, (40 + rnd.nextInt(20)).toLong)) ++
      (1 to 60).map(_ => ((40 + rnd.nextInt(20)).toLong, rnd.nextInt(40).toLong))
    val expect = bruteHits(edges, 3)
    runHits(edges, 3, parts = 1) shouldBe expect
    runHits(edges, 3, parts = 17) shouldBe expect
  }
}
