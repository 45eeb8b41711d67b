package graft.ops

import scala.collection.mutable

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{ReduceShare, SuperstepPartitioner}

/** Link-graph scoring — the crawl-curation signal family: PageRank-style
  * centrality over an edge table, the score CommonCrawl-derived pipelines
  * use to weight domains/URLs before sampling (harmonic/PageRank
  * centrality is the standard "is this a reputable page" prior, cf. the
  * CC-Net / RefinedWeb curation stacks). Complements the dedup module's
  * connected components ([[graft.pipeline.Dedup.duplicateClusters]]):
  * components answer "which nodes are the same thing", centrality answers
  * "which nodes matter".
  *
  * Arithmetic is FIXED-POINT (long micro-units, integer division): every
  * iteration is integer-exact, so the result is bit-identical across
  * partitionings, engines, and runs — no float-sum order anywhere. The
  * cost is floor-loss per division (rank mass shrinks by < 1 unit per
  * edge per iteration — a scoring signal, not a probability
  * distribution; documented, deterministic, and identical in the DuckDB
  * oracle's unrolled spelling).
  *
  * Scale shape: PageRank/PPR, k-core and the duplicate-cluster components
  * run as co-partitioned RDD supersteps. The adjacency (|V| rows,
  * neighbour arrays) is built once, hash-partitioned and checkpointed; a
  * superstep is a narrow position-by-position join of the node state with
  * it and ONE map-side-combined `reduceByKey` of messages (the label loop
  * adds two shuffles for path halving). PageRank/PPR submit no job per
  * iteration (the dangling mass rides the same shuffle); the peel and
  * label loops submit one job per round, whose count both materializes the
  * round's checkpoint and tests convergence. No cross product, no
  * window, no driver data path. Alternatives measured and rejected are in
  * LEDGER.md.
  */
object Graph {

  /** Fixed-point PageRank. `edges` is a directed `(src, dst)` table
    * (longs, self-loops allowed, duplicates contribute multiplicity, an
    * edge with a null endpoint is ignored); returns `(node, rank)` where
    * rank is in SCALE=10^12 fixed-point units (Σ rank ≈ SCALE up to floor
    * loss).
    *
    * Per iteration, with integer division throughout:
    * {{{
    *   contrib(dst) = Σ_{(s,dst)∈E} rank(s) div outdeg(s)
    *   dangShare    = (Σ_{outdeg(s)=0} rank(s)) div N
    *   rank'(v)     = (15·(SCALE div N) + 85·(contrib(v) + dangShare)) div 100
    * }}}
    * i.e. damping 0.85 expressed as the exact rational 85/100.
    *
    * `checkpointEvery` marks every that-many-th rank RDD for
    * `localCheckpoint`: the caller's action materializes it, and later
    * actions on the result start from there. */
  def pageRank(edges: DataFrame, iters: Int = 5,
               scale: Long = 1000000000000L,
               checkpointEvery: Int = 6): DataFrame =
    rankSupersteps(edges, None, iters, scale, checkpointEvery)

  /** Personalized (topic-sensitive) PageRank: the restart mass teleports
    * to a SEED set instead of uniformly — "rank every page by proximity
    * to these trusted/topical pages", the crawl-prioritization and
    * TrustRank-style spam-demotion variant. Same fixed-point integer
    * arithmetic, same superstep kernel as [[pageRank]]; the only
    * changes are the restart vector (`scale div |S|` on seeds, 0
    * elsewhere) and the dangling mass, which returns to the seeds (the
    * standard PPR convention — lost mass re-enters through the teleport
    * distribution). Seeds outside the edge table still hold restart mass
    * (they are added to the node set). Returns `(node, rank)`,
    * bit-identical across partitionings and engines. */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5,
                           scale: Long = 1000000000000L,
                           checkpointEvery: Int = 6): DataFrame =
    rankSupersteps(edges, Some(seeds), iters, scale, checkpointEvery)

  /** A node's static superstep state: its out-neighbours (duplicates kept,
    * so multiplicity counts) and whether it takes restart and dangling
    * mass (every node in PageRank, the seeds in PPR). */
  private final case class Adjacency(out: Array[Long], restart: Boolean)

  /** The PageRank/PPR superstep kernel. The adjacency is built once,
    * partitioned by [[SuperstepPartitioner]] and `localCheckpoint`ed; the
    * job that materializes it also counts the restart nodes. The rank RDD
    * is always produced by walking the adjacency partition in order, so
    * each superstep reads both sides position by position (a narrow,
    * co-partitioned join) and runs ONE shuffle: a `reduceByKey` of the
    * contributions keyed by `dst`, plus one dangling partial per map task
    * for every reduce partition. No job runs per superstep — the caller's
    * action executes all of them. */
  private def rankSupersteps(edges: DataFrame, seeds: Option[DataFrame],
                             iters: Int, scale: Long,
                             checkpointEvery: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val spark = edges.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val everyNode = seeds.isEmpty
    val e = longPairs(edges.select("src", "dst"))
    val seedIds = seeds.fold(spark.sparkContext.emptyRDD[(Long, Unit)])(
      _.select(col("node").cast("long")).na.drop().rdd.map(r => (r.getLong(0), ())))
    val adj = e.cogroup(e.map { case (_, d) => (d, ()) }, seedIds, part)
      .mapValues { case (out, _, seed) =>
        Adjacency(out.toArray, everyNode || seed.nonEmpty) }
      .localCheckpoint()
    val restartNodes = adj.aggregate(0L)(
      (n, a) => if (a._2.restart) n + 1 else n, _ + _)
    require(restartNodes > 0,
      if (everyNode) "pageRank needs a non-empty edge table"
      else "personalizedPageRank needs a non-empty seed set")
    val base = scale / restartNodes

    var ranks = adj.mapValues(a => if (a.restart) base else 0L)
    var it = 0
    while (it < iters) {
      val sums = adj.zipPartitions(ranks) { (as, rs) =>
        var dm = 0L
        val contribs = as.zip(rs).flatMap { case ((_, a), (_, r)) =>
          if (a.out.isEmpty) { dm += r; Iterator.empty }
          else {
            val c = r / a.out.length
            a.out.iterator.map(d => (d: Any, c))
          }
        }
        // `++` takes its operand by name: the partials are built after
        // the contributions are drained, when `dm` is final
        contribs ++ (if (dm == 0L) Iterator.empty else part.shares(dm))
      }.reduceByKey(part, _ + _)
      ranks = adj.zipPartitions(sums) { (as, ss) =>
        val contrib = new mutable.LongMap[Long]
        var dm = 0L
        ss.foreach {
          case (ReduceShare(_), x) => dm = x
          case (v: Long, x) => contrib(v) = x
        }
        val share = dm / restartNodes
        as.map { case (v, a) =>
          val (b, d) = if (a.restart) (base, share) else (0L, 0L)
          (v, (15L * b + 85L * (contrib.getOrElse(v, 0L) + d)) / 100L)
        }
      }
      it += 1
      if (it % checkpointEvery == 0 && it < iters) ranks.localCheckpoint()
    }
    spark.createDataFrame(ranks).toDF("node", "rank")
  }

  /** The first two columns of `df` as long pairs, rows with a null dropped. */
  private def longPairs(df: DataFrame): RDD[(Long, Long)] =
    df.select(df.columns.take(2).toSeq.map(c => col(c).cast("long")): _*)
      .na.drop().rdd.map(r => (r.getLong(0), r.getLong(1)))

  /** The undirected simple adjacency `node → distinct neighbours` of
    * `edges` (self-loops dropped, parallel and reversed edges collapsed),
    * partitioned by `part` and `localCheckpoint`ed; the caller's first job
    * materializes it. With a `domain`, only its ids are keys, though their
    * neighbour arrays may still name ids outside it. */
  private def undirectedAdjacency(edges: RDD[(Long, Long)],
                                  domain: Option[RDD[Long]],
                                  part: Partitioner): RDD[(Long, Array[Long])] = {
    val restricted = domain.isDefined
    val arcs = edges.flatMap { case (a, b) =>
      if (a == b) Iterator.empty else Iterator((a, b), (b, a)) }
    val keys = domain.fold(edges.sparkContext.emptyRDD[(Long, Unit)])(
      _.map(v => (v, ())))
    arcs.cogroup(keys, part)
      .filter { case (_, (ns, in)) => ns.nonEmpty && (!restricted || in.nonEmpty) }
      .mapValues { case (ns, _) => ns.toArray.distinct }
      .localCheckpoint()
  }

  /** Exact per-node triangle counts on an undirected graph — the local
    * clustering signal: for a duplicate-pair graph, triangle-rich nodes
    * sit in coherent near-dup families (safe to collapse) while
    * triangle-free high-degree nodes are hub artifacts of the blocking
    * (boilerplate shingles, LSH band collisions) that SHOULDN'T merge —
    * the standard spam/community diagnostic on similarity graphs.
    *
    * `edges` is any-orientation `(src, dst)`; duplicates and self-loops
    * are cleaned. `nodes` optionally fixes the output domain (isolated
    * nodes get 0); default = nodes appearing in edges.
    *
    * Scale shape (Suri & Vassilvitskii, WWW'11): orient each edge toward
    * its higher-(degree, id) endpoint — every triangle then has exactly
    * one pivot with two out-edges, and the wedge join's volume is
    * Σ_v outdeg(v)² = O(|E|^1.5) on ANY graph (each outdeg ≤ √(2|E|)),
    * immune to the power-law hub blowup a naive adjacency self-join hits
    * (a hub of degree d would otherwise contribute d² wedges; oriented,
    * a hub RECEIVES edges and contributes none). Three hash joins + one
    * aggregate, no window, nothing driver-side. */
  def triangleCounts(edges: DataFrame,
                     nodes: Option[DataFrame] = None): DataFrame = {
    // canonical simple edge set, consumed 4× (degrees, orientation, wedge
    // closing join) — cut the lineage once
    val e = cleanUV(edges).localCheckpoint()
    triangleCountsClean(e, degreesOf(e).localCheckpoint(), nodes)
  }

  /** Canonical simple `(u, v)` edge set (u < v, no self-loops, distinct)
    * — the cleaning pass every undirected-graph operator here shares. */
  private def cleanUV(edges: DataFrame): DataFrame =
    edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .where(col("u") =!= col("v"))
      .distinct()

  /** Degrees of a cleaned `(u, v)` edge table. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("deg"))

  /** [[triangleCounts]] body over an ALREADY cleaned+materialized edge
    * table and its (materialized) degree table — the seam that lets
    * [[clusteringCoefficients]] share one clean+distinct+degree pass
    * instead of re-running both (the degree table is referenced three
    * times below, the edge table twice more; both arrive as leaves). */
  private def triangleCountsClean(e: DataFrame, deg: DataFrame,
                                  nodes: Option[DataFrame]): DataFrame = {
    // (deg, id) total order: strictly more edges, or same degree + higher id
    val ew = e
      .join(deg.select(col("node").as("u"), col("deg").as("du")), "u")
      .join(deg.select(col("node").as("v"), col("deg").as("dv")), "v")
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = ew.select(
      when(uFirst, col("u")).otherwise(col("v")).as("p"),
      when(uFirst, col("v")).otherwise(col("u")).as("q"),
      when(uFirst, col("dv")).otherwise(col("du")).as("dq"))
    // wedges at the pivot, each unordered out-pair once (by the same
    // (deg, id) order), closed iff (x, y) is an edge
    val o1 = oriented.select(col("p"), col("q").as("x"), col("dq").as("dx"))
    val o2 = oriented.select(col("p"), col("q").as("y"), col("dq").as("dy"))
    val wedges = o1.join(o2,
      Seq("p")).where(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
    val tris = wedges.join(e,
      least(col("x"), col("y")) === col("u") &&
        greatest(col("x"), col("y")) === col("v"))
      .select(col("p"), col("x"), col("y"))
    val perNode = tris
      .select(explode(array(col("p"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    val domain = nodes.getOrElse(deg.select("node"))
    domain.join(perNode, Seq("node"), "left")
      .select(col("node"),
        coalesce(col("triangles"), lit(0L)).as("triangles"))
  }

  /** Local clustering coefficient per node: `2·T(v) / (deg(v)·(deg(v)−1))`
    * — triangles from [[triangleCounts]], degrees re-derived from the same
    * cleaned edge set, the division left as the ONE IEEE operation on
    * integer-exact numerator/denominator (the repo's exactness
    * convention). Degree-1 and isolated nodes get coefficient 0. The
    * per-node "is this neighborhood a coherent community or a hub
    * artifact" score; emits `(node, deg, triangles, coeff)`. */
  def clusteringCoefficients(edges: DataFrame,
                             nodes: Option[DataFrame] = None): DataFrame = {
    // one clean+distinct pass and one degree aggregation, shared with the
    // triangle pass through the materialized seam (previously the triangle
    // call re-cleaned the already-cleaned edges and re-derived degrees —
    // a full extra distinct exchange + explode+agg over the edge set)
    val e = cleanUV(edges).localCheckpoint()
    val deg = degreesOf(e).localCheckpoint()
    val tri = triangleCountsClean(e, deg, nodes)
    tri.join(deg, Seq("node"), "left")
      .select(col("node"), coalesce(col("deg"), lit(0L)).as("deg"),
        col("triangles"),
        when(coalesce(col("deg"), lit(0L)) >= 2,
          (col("triangles") * 2).cast("double") /
            (col("deg") * (col("deg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("coeff"))
  }

  /** k-core via iterative peeling: repeatedly drop nodes with degree < k
    * until the fixpoint — the maximal subgraph where every node keeps ≥ k
    * neighbors. The cohesion filter degree alone can't express (a hub
    * touching a thousand degree-1 leaves has huge degree and an empty
    * 2-core): dense duplicate families, link farms, and genuinely
    * interlinked communities survive; stars and tendrils peel away. Emits
    * `(node, deg)` for core members, `deg` = degree WITHIN the core and
    * `node` in the edge table's id type; an edge with a null endpoint is
    * ignored.
    *
    * Exact and deterministic: peeling is confluent (the k-core is unique
    * regardless of removal order), every round is integer counting — no
    * float anywhere — so the result is partition- and engine-invariant.
    *
    * Scale shape: the state is each node's live degree (−1 once dead). Per
    * round every node below k dies and sends one loss to each neighbour
    * (ONE `reduceByKey`, shuffle ∝ the peeled edges), then a narrow apply
    * and a `localCheckpoint` whose job also counts the nodes the NEXT
    * round peels: one job per round, and a zero count is the fixpoint.
    * Rounds = cascade depth, NOT diameter; a cascade deeper than
    * `maxRounds` fails loudly rather than returning a half-peeled set. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val idType = edges.select(least(col("src"), col("dst"))).schema.head.dataType
    val adj = undirectedAdjacency(longPairs(edges.select("src", "dst")), None, part)
    val peels = (d: Int) => d >= 0 && d < k
    var deg = adj.mapValues(_.length).localCheckpoint()
    var dying = deg.filter(v => peels(v._2)).count()
    var rounds = 0
    while (dying > 0) {
      if (rounds == maxRounds)
        throw new IllegalStateException(
          s"kCore(k=$k) did not reach the fixpoint in $maxRounds rounds " +
            "(pathologically deep cascade) — raise maxRounds")
      val lost = adj.zipPartitions(deg) { (as, ds) =>
        as.zip(ds).flatMap { case ((_, ns), (_, d)) =>
          if (peels(d)) ns.iterator.map(n => (n, 1)) else Iterator.empty }
      }.reduceByKey(part, _ + _)
      val next = deg.zipPartitions(lost) { (ds, ls) =>
        val m = mutable.LongMap.from(ls)
        ds.map { case (v, d) => (v, if (d < k) -1 else d - m.getOrElse(v, 0)) }
      }.localCheckpoint()
      dying = next.filter(v => peels(v._2)).count()
      deg.unpersist()
      deg = next
      rounds += 1
    }
    adj.unpersist()
    spark.createDataFrame(deg.filter(_._2 >= k).mapValues(_.toLong))
      .toDF("node", "deg").select(col("node").cast(idType), col("deg"))
  }

  /** The connected-components kernel of
    * [[graft.pipeline.Dedup.duplicateClusters]], which states the contract.
    * The state is each connected node's label and whether it changed last
    * round (only a changed label is sent). Per round: ONE `reduceByKey` of
    * neighbour minima, a narrow apply, from the third round
    * [[halvePaths]], then a `localCheckpoint` whose job counts the changed
    * labels. Ids without an edge skip the rounds and are unioned back. */
  private[graft] def components(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val id = nodes.schema.head
    val ids = nodes.select(col(id.name).cast("long")).na.drop().rdd.map(_.getLong(0))
    val adj = undirectedAdjacency(longPairs(edges), Some(ids), part)
    var labels = adj.mapPartitions(_.map { case (v, _) => (v, (v, true)) },
      preservesPartitioning = true)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val nbrMin = adj.zipPartitions(labels) { (as, ls) =>
        as.zip(ls).flatMap { case ((_, ns), (_, (l, fresh))) =>
          if (fresh) ns.iterator.map(n => (n, l)) else Iterator.empty }
      }.reduceByKey(part, math.min(_, _))
      val prop = labels.zipPartitions(nbrMin, preservesPartitioning = true) { (ls, ms) =>
        val m = mutable.LongMap.from(ms)
        ls.map { case (v, (l, _)) => val b = math.min(l, m.getOrElse(v, l)); (v, (b, b < l)) }
      }
      // plain propagation settles the shallow stars of real near-dup
      // graphs in two rounds; halving from the third keeps a deep chain
      // at O(log D) rounds
      val next = (if (rounds < 2) prop else halvePaths(prop, part)).localCheckpoint()
      changed = next.filter(_._2._2).count()
      labels.unpersist()
      labels = next
      rounds += 1
    }
    adj.unpersist()
    // convergence is a CORRECTNESS property, not best-effort: exiting on
    // the round cap with changes still flowing would silently return split
    // components for any duplicate chain of diameter > cap
    require(changed == 0,
      s"duplicateClusters did not converge after $rounds rounds " +
        "(a duplicate chain longer than the round cap exists); " +
        "raise the cap or pre-collapse exact duplicates first")
    val singletons = ids.map(v => (v, ())).subtractByKey(labels, part)
      .map { case (v, _) => (v, v) }
    spark.createDataFrame(labels.mapValues(_._1).union(singletons))
      .toDF("id", "cluster")
      .select(col("id").cast(id.dataType), col("cluster").cast(id.dataType))
  }

  /** One path-halving step, `l(v) ← min(l(v), l(l(v)))`: every label is
    * a node of the same state, so each node asks its label's owner (two
    * shuffles, there and back) and a chain's depth halves. */
  private def halvePaths(labels: RDD[(Long, (Long, Boolean))],
                         part: Partitioner): RDD[(Long, (Long, Boolean))] = {
    val asks = labels.flatMap { case (v, (l, _)) =>
      if (l == v) Iterator.empty else Iterator((l, v)) }.partitionBy(part)
    val answers = labels.zipPartitions(asks) { (ls, qs) =>
      val own = mutable.LongMap.from(ls.map { case (v, (l, _)) => (v, l) })
      qs.map { case (t, v) => (v, own(t)) }
    }.partitionBy(part)
    labels.zipPartitions(answers, preservesPartitioning = true) { (ls, as) =>
      val m = mutable.LongMap.from(as)
      ls.map { case (v, (l, fresh)) =>
        val j = m.getOrElse(v, l)
        if (j < l) (v, (j, true)) else (v, (l, fresh))
      }
    }
  }

  /** HITS hubs & authorities (Kleinberg's mutual recursion) — the
    * centrality that separates the two ROLES a node plays on a directed
    * graph: a good hub points at good authorities, a good authority is
    * pointed at by good hubs. On the order→supplier bipartite graph this
    * reads "orders that span reputable suppliers" / "suppliers reached by
    * broad orders"; on a crawl link graph it is the classic
    * directory-vs-content split PageRank's single score conflates.
    *
    * Same fixed-point discipline as [[pageRank]]: scores live in integer
    * `scale` units, each half-step L1-normalizes (Σ = scale, up to floor
    * loss) via widen-to-decimal multiply + integral division — a long
    * `raw·scale` would overflow at crawl-scale edge counts, decimal(38,0)
    * holds to 10^38; the division is `div` (truncation toward zero,
    * matching DuckDB `//` on HUGEINT) — so every score is bit-identical
    * across partitionings and engines, and the DuckDB oracle replays the
    * full recursion. Duplicate edges contribute multiplicity, as in
    * [[pageRank]]; nodes with no in-edges get authority 0, no out-edges
    * hub 0 (scores are diagnostics, not distributions over iterations).
    *
    * Per iteration: two slim equi-joins (edges⋈scores) + two
    * map-side-combinable long hash aggregates + two 1-row broadcast
    * normalizer aggregates — shuffle ∝ |E| + |V|, no window, nothing
    * data-sized on the driver; the score table is `localCheckpoint`ed per
    * iteration, the PageRank/CC lineage-cut rule. */
  def hits(edges: DataFrame, iters: Int = 3,
           scale: Long = 1000000000L): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val div = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
      call_function("div", a, b)
    val e = edges.select(col("src").cast("long").as("src"),
      col("dst").cast("long").as("dst"))
      .localCheckpoint()
    require(e.limit(1).count() > 0, "hits needs a non-empty edge table")
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct()
      .repartition(col("node"))
      .localCheckpoint()

    // one L1-normalized half-step: raw_score(node) = Σ over matching
    // edges of the counterpart score, rescaled so Σ = scale exactly
    // (floor loss aside). `raw·scale` rides decimal(38,0).
    def halfStep(score: DataFrame, scoreCol: String, edgeKey: String,
                 groupKey: String, outCol: String): DataFrame = {
      val raw = e.join(score, e(edgeKey) === score("node"))
        .groupBy(e(groupKey).as("node"))
        .agg(sum(col(scoreCol)).as("raw"))
      val tot = raw.agg(sum(col("raw")).as("tot"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(tot))
        .select(col("node"),
          div(coalesce(col("raw"), lit(0L)).cast("decimal(38,0)") *
            lit(scale), col("tot")).as(outCol))
    }

    var h = nodes.select(col("node"), lit(scale).as("hub"))
    var a: DataFrame = null
    var it = 0
    while (it < iters) {
      a = halfStep(h, "hub", "src", "dst", "auth").localCheckpoint()
      h = halfStep(a, "auth", "dst", "src", "hub").localCheckpoint()
      it += 1
    }
    h.join(a, "node")
      .select(col("node"), col("hub"), col("auth").as("authority"))
  }
}
