package graft.ops

import scala.collection.mutable
import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._

import graft.{Messages, Outbox, Release, ReduceShare, SuperstepPartitioner}
import graft.Outbox.sortedDistinct

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
  * run on one superstep kernel over packed blocks of primitive arrays.
  * One narrow pass over the edge rows packs them into one block per map
  * task and reduce partition; one shuffle of those blocks builds each
  * partition's adjacency as a CSR (sorted node ids, offsets, neighbours),
  * one `localCheckpoint`ed element per partition. The node state is a
  * primitive array in CSR order. A superstep combines its messages per
  * destination inside the map task and ships one block of ids and values
  * per reduce partition, PageRank's dangling partial inside it, so every
  * shuffle moves at most (map tasks × reduce partitions) records whatever
  * the edge count. PageRank/PPR submit no job per iteration; the peel and
  * label loops submit one job per round, whose count both materializes
  * the round's checkpoint and tests convergence. No cross product, no
  * window, no driver data path. The spellings measured before this one
  * are in LEDGER.md.
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

  /** The PageRank/PPR kernel. Each node's out-arcs keep their duplicates,
    * so multiplicity counts; the flagged nodes (the seeds in PPR, every
    * node in PageRank) take restart and dangling mass. The job that
    * materializes the adjacency also counts them. A superstep is one
    * [[exchange]] of rank contributions, the dangling partial riding it,
    * and a narrow apply: no job runs per superstep — the caller's action
    * executes all of them. */
  private def rankSupersteps(edges: DataFrame, seeds: Option[DataFrame],
                             iters: Int, scale: Long,
                             checkpointEvery: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    require(checkpointEvery >= 1,
      s"checkpointEvery must be >= 1, got $checkpointEvery")
    val spark = edges.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val everyNode = seeds.isEmpty
    val arcs = pack(longRows(edges.select("src", "dst"), 2), part) { (p, r) =>
      p.arc(r.getLong(0), r.getLong(1))
      p.id(r.getLong(1))
    }
    val seedIds = seeds.map(s =>
      pack(longRows(s.select("node"), 1), part)((p, r) => p.mark(r.getLong(0))))
    val csr = adjacency(seedIds.fold(arcs)(arcs.union), part, markedOnly = false, distinct = false)
    val restarts = (c: Csr, i: Int) => everyNode || c.flag(i)
    val restartNodes = csr.map(c => c.ids.indices.count(restarts(c, _)).toLong).fold(0L)(_ + _)
    require(restartNodes > 0,
      if (everyNode) "pageRank needs a non-empty edge table"
      else "personalizedPageRank needs a non-empty seed set")
    val base = scale / restartNodes

    var ranks = csr.map(c => Array.tabulate(c.size)(i => if (restarts(c, i)) base else 0L))
    var it = 0
    while (it < iters) {
      val in = exchange(csr, ranks, part, 0L, _ + _) { (c, r, acc) =>
        var dangling = 0L
        var i = 0
        while (i < c.size) {
          val d = c.off(i + 1) - c.off(i)
          if (d == 0) dangling += r(i)
          else {
            val x = r(i) / d
            var e = c.off(i)
            while (e < c.off(i + 1)) { acc(c.slot(e)) += x; e += 1 }
          }
          i += 1
        }
        dangling
      }
      ranks = csr.zipPartitions(in) { (cs, ins) =>
        val c = cs.next()
        val m = ins.next()
        val share = m.partial / restartNodes
        Iterator(Array.tabulate(c.size) { i =>
          if (restarts(c, i)) (15L * base + 85L * (m.values(i) + share)) / 100L
          else 85L * m.values(i) / 100L
        })
      }
      it += 1
      if (it % checkpointEvery == 0 && it < iters) ranks.localCheckpoint()
    }
    val rows = csr.zipPartitions(ranks) { (cs, rs) =>
      val (c, r) = (cs.next(), rs.next())
      c.ids.indices.iterator.map(i => (c.ids(i), r(i)))
    }
    spark.createDataFrame(rows).toDF("node", "rank")
  }

  /** The first `n` columns of `df` cast to long, rows with a null dropped,
    * as the plan's own rows (no conversion to external `Row`s). */
  private def longRows(df: DataFrame, n: Int): RDD[InternalRow] =
    df.select(df.columns.take(n).toSeq.map(c => col(c).cast("long")): _*)
      .na.drop().queryExecution.toRdd

  /** One map task's share of an adjacency for one reduce partition: the
    * arcs `src(i) → dst(i)` whose source the partition owns, the ids it
    * owns that are nodes with or without an arc (`ids`: PageRank's arc
    * targets), and the ids it owns that carry the kernel's flag
    * (`marked`: the PPR seeds, the components id domain). */
  private final case class ArcBlock(src: Array[Long], dst: Array[Long],
                                    ids: Array[Long], marked: Array[Long])

  /** A map task's [[ArcBlock]] buffers, one set per reduce partition. */
  private final class ArcPacker(part: SuperstepPartitioner) {
    private def buffers = Array.fill(part.numPartitions)(new mutable.ArrayBuilder.ofLong)
    private val (src, dst, ids, marked) = (buffers, buffers, buffers, buffers)

    def arc(s: Long, d: Long): Unit = {
      val q = part.partitionOf(s)
      src(q) += s
      dst(q) += d
    }
    def id(v: Long): Unit = ids(part.partitionOf(v)) += v
    def mark(v: Long): Unit = marked(part.partitionOf(v)) += v

    /** One block per reduce partition that receives anything; an id added
      * more than once travels once. */
    def blocks: Iterator[(Any, ArcBlock)] =
      Iterator.range(0, part.numPartitions).flatMap { q =>
        val b = ArcBlock(src(q).result(), dst(q).result(),
          sortedDistinct(ids(q).result()), sortedDistinct(marked(q).result()))
        if (b.src.isEmpty && b.ids.isEmpty && b.marked.isEmpty) None
        else Some((ReduceShare(q), b))
      }
  }

  /** One narrow pass over `rows` that packs what `add` makes of each row. */
  private def pack(rows: RDD[InternalRow], part: SuperstepPartitioner)(
      add: (ArcPacker, InternalRow) => Unit): RDD[(Any, ArcBlock)] =
    rows.mapPartitions { it =>
      val p = new ArcPacker(part)
      it.foreach(add(p, _))
      p.blocks
    }

  /** Packs each edge row `(a, b)` with a ≠ b as the arcs a → b and b → a. */
  private def undirectedArcs(rows: RDD[InternalRow],
                             part: SuperstepPartitioner): RDD[(Any, ArcBlock)] =
    pack(rows, part) { (p, r) =>
      val a = r.getLong(0)
      val b = r.getLong(1)
      if (a != b) { p.arc(a, b); p.arc(b, a) }
    }

  /** One partition's adjacency: its nodes' ids ascending, node `i`'s arcs
    * at `off(i) until off(i + 1)`, and each arc's target as a slot of
    * `dsts`, which holds the distinct targets grouped by owning partition
    * (`dstOff(q) until dstOff(q + 1)`) and ascending within it. `flag(i)`
    * says whether node `i` was marked. */
  private final case class Csr(ids: Array[Long], off: Array[Int], slot: Array[Int],
                               dsts: Array[Long], dstOff: Array[Int],
                               flag: Array[Boolean]) {
    def size: Int = ids.length
  }

  /** Builds a partition's [[Csr]] from its blocks. The nodes are the arc
    * sources, `ids` and `marked`, or with `markedOnly` just `marked` (arcs
    * from any other source are dropped). With `distinct` a node keeps one
    * copy of each neighbour. */
  private def buildCsr(blocks: Array[ArcBlock], part: SuperstepPartitioner,
                       markedOnly: Boolean, distinct: Boolean): Csr = {
    def all(f: ArcBlock => Array[Long]): Array[Long] = Array.concat(blocks.toSeq.map(f): _*)
    val (src, dst, marked) = (all(_.src), all(_.dst), all(_.marked))
    val ids = sortedDistinct(
      if (markedOnly) marked.clone() else Array.concat(src, all(_.ids), marked))
    val n = ids.length
    val flag = new Array[Boolean](n)
    marked.foreach(v => flag(java.util.Arrays.binarySearch(ids, v)) = true)

    // arcs by source node, a counting sort
    val at = src.map(java.util.Arrays.binarySearch(ids, _))
    val off = new Array[Int](n + 1)
    at.foreach(i => if (i >= 0) off(i + 1) += 1)
    for (i <- 0 until n) off(i + 1) += off(i)
    val nbr = new Array[Long](off(n))
    val fill = java.util.Arrays.copyOf(off, n)
    for (a <- at.indices if at(a) >= 0) { nbr(fill(at(a))) = dst(a); fill(at(a)) += 1 }
    if (distinct) {
      var w = 0
      for (i <- 0 until n) {
        val (from, to) = (off(i), off(i + 1))
        java.util.Arrays.sort(nbr, from, to)
        off(i) = w
        for (r <- from until to) if (r == from || nbr(r) != nbr(r - 1)) { nbr(w) = nbr(r); w += 1 }
      }
      off(n) = w
    }

    // distinct targets, grouped by the partition that owns them
    val targets = sortedDistinct(java.util.Arrays.copyOf(nbr, off(n)))
    val owner = targets.map(part.partitionOf)
    val dstOff = new Array[Int](part.numPartitions + 1)
    owner.foreach(q => dstOff(q + 1) += 1)
    for (q <- 0 until part.numPartitions) dstOff(q + 1) += dstOff(q)
    val dsts = new Array[Long](targets.length)
    val pos = new Array[Int](targets.length)
    val next = java.util.Arrays.copyOf(dstOff, part.numPartitions)
    for (t <- targets.indices) {
      val q = owner(t)
      pos(t) = next(q)
      dsts(next(q)) = targets(t)
      next(q) += 1
    }
    val slot = Array.tabulate(off(n))(e => pos(java.util.Arrays.binarySearch(targets, nbr(e))))
    Csr(ids, off, slot, dsts, dstOff, flag)
  }

  /** The [[Csr]] adjacency of `blocks`: one shuffle of the packed blocks,
    * one element per partition, `localCheckpoint`ed; the caller's first
    * job materializes it. */
  private def adjacency(blocks: RDD[(Any, ArcBlock)], part: SuperstepPartitioner,
                        markedOnly: Boolean, distinct: Boolean): RDD[Csr] =
    blocks.partitionBy(part)
      .mapPartitions(bs => Iterator(buildCsr(bs.map(_._2).toArray, part, markedOnly, distinct)))
      .localCheckpoint()

  /** A partition's received messages, combined per node in CSR order
    * (`empty` where none arrived), and the sum of the partials. */
  private final case class Inbox(values: Array[Long], partial: Long)

  /** The [[Inbox]] of a partition whose nodes are `ids` (ascending). */
  private def receive(ids: Array[Long], ms: Iterator[Messages], empty: Long,
                      combine: (Long, Long) => Long): Inbox = {
    val values = Array.fill(ids.length)(empty)
    var partial = 0L
    ms.foreach { m =>
      partial += m.partial
      for (k <- m.ids.indices) {
        val i = java.util.Arrays.binarySearch(ids, m.ids(k))
        if (i >= 0) values(i) = combine(values(i), m.values(k))
      }
    }
    Inbox(values, partial)
  }

  /** One superstep's exchange, the step every kernel here shares. In each
    * partition `send` writes its nodes' messages into one slot per distinct
    * target (`acc`, filled with `empty` first; `send` combines) and
    * returns the partition's partial. Every slot that is not `empty`
    * travels in one [[Messages]] block per reduce partition, and each
    * partition combines what reaches its nodes with `combine`. One
    * shuffle, no job. */
  private def exchange[S: ClassTag](csr: RDD[Csr], state: RDD[S], part: SuperstepPartitioner,
                                    empty: Long, combine: (Long, Long) => Long)(
      send: (Csr, S, Array[Long]) => Long): RDD[Inbox] = {
    val sent = csr.zipPartitions(state) { (cs, ss) =>
      val c = cs.next()
      val acc = Array.fill(c.dsts.length)(empty)
      val partial = send(c, ss.next(), acc)
      val out = new Outbox(part)
      for (q <- 0 until part.numPartitions; t <- c.dstOff(q) until c.dstOff(q + 1))
        if (acc(t) != empty) out.add(q, c.dsts(t), acc(t))
      out.blocks(partial)
    }.partitionBy(part)
    csr.zipPartitions(sent)((cs, ms) =>
      Iterator(receive(cs.next().ids, ms.map(_._2), empty, combine)))
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
    * Scale shape: the adjacency is undirected and simple (self-loops
    * dropped, parallel and reversed edges collapsed); the state is each
    * node's live degree (−1 once dead). Per round every node below k dies
    * and sends one loss to each neighbour (one [[exchange]], shuffle ∝ the
    * peeled edges), then a narrow apply and a `localCheckpoint` whose job
    * also counts the nodes the NEXT round peels: one job per round, and a
    * zero count is the fixpoint. Rounds = cascade depth, NOT diameter; a
    * cascade deeper than `maxRounds` fails loudly rather than returning a
    * half-peeled set. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 50): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val spark = edges.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val idType = edges.select(least(col("src"), col("dst"))).schema.head.dataType
    val csr = adjacency(undirectedArcs(longRows(edges.select("src", "dst"), 2), part), part,
      markedOnly = false, distinct = true)
    val peels = (d: Int) => d >= 0 && d < k
    val dying = (s: Degrees) => s.deg.count(peels).toLong
    var deg = csr.map(c => Degrees(c.ids, Array.tabulate(c.size)(i => c.off(i + 1) - c.off(i))))
      .localCheckpoint()
    var peeling = deg.map(dying).fold(0L)(_ + _)
    var rounds = 0
    while (peeling > 0) {
      if (rounds == maxRounds)
        throw new IllegalStateException(
          s"kCore(k=$k) did not reach the fixpoint in $maxRounds rounds " +
            "(pathologically deep cascade) — raise maxRounds")
      val lost = exchange(csr, deg, part, 0L, _ + _) { (c, s, acc) =>
        for (i <- 0 until c.size if peels(s.deg(i)); e <- c.off(i) until c.off(i + 1))
          acc(c.slot(e)) += 1
        0L
      }
      val next = deg.zipPartitions(lost) { (ds, ls) =>
        val (s, l) = (ds.next(), ls.next())
        Iterator(Degrees(s.ids, Array.tabulate(s.ids.length)(i =>
          if (s.deg(i) < k) -1 else s.deg(i) - l.values(i).toInt)))
      }.localCheckpoint()
      peeling = next.map(dying).fold(0L)(_ + _)
      Release.rdd(deg)
      deg = next
      rounds += 1
    }
    Release.rdd(csr)
    val core = deg.flatMap(s => s.ids.indices.iterator.filter(s.deg(_) >= k)
      .map(i => (s.ids(i), s.deg(i).toLong)))
    spark.createDataFrame(core)
      .toDF("node", "deg").select(col("node").cast(idType), col("deg"))
  }

  /** A partition's live degrees in CSR node order, with the CSR's ids. */
  private final case class Degrees(ids: Array[Long], deg: Array[Int])

  /** A partition's labels in CSR node order, with the CSR's ids, and
    * whether each changed in the last round. */
  private final case class Labels(ids: Array[Long], label: Array[Long], fresh: Array[Boolean])

  /** The connected-components kernel of
    * [[graft.pipeline.Dedup.duplicateClusters]], which states the contract.
    * The nodes are the ids of `nodes`, each with its distinct neighbours
    * (which may lie outside `nodes`, and then receive nothing). The state
    * is each node's label and whether it changed last round (only a
    * changed label is sent). Per round: one [[exchange]] of neighbour
    * minima, a narrow apply, from the third round [[halvePaths]], then a
    * `localCheckpoint` whose job counts the changed labels. An id without
    * an edge keeps its own label. */
  private[graft] def components(nodes: DataFrame, edges: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    val part = SuperstepPartitioner.of(spark)
    val id = nodes.schema.head
    val domain = pack(longRows(nodes, 1), part)((p, r) => p.mark(r.getLong(0)))
    val csr = adjacency(undirectedArcs(longRows(edges, 2), part).union(domain), part,
      markedOnly = true, distinct = true)
    val min = (a: Long, b: Long) => math.min(a, b)
    var labels = csr.map(c => Labels(c.ids, c.ids, Array.fill(c.size)(true)))
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 50) {
      val nbrMin = exchange(csr, labels, part, Long.MaxValue, min) { (c, s, acc) =>
        for (i <- 0 until c.size if s.fresh(i); e <- c.off(i) until c.off(i + 1))
          acc(c.slot(e)) = math.min(acc(c.slot(e)), s.label(i))
        0L
      }
      val prop = labels.zipPartitions(nbrMin) { (ls, ms) =>
        val (s, m) = (ls.next(), ms.next())
        val label = Array.tabulate(s.ids.length)(i => math.min(s.label(i), m.values(i)))
        Iterator(Labels(s.ids, label, Array.tabulate(label.length)(i => label(i) < s.label(i))))
      }
      // plain propagation settles the shallow stars of real near-dup
      // graphs in two rounds; halving from the third keeps a deep chain
      // at O(log D) rounds
      val next = (if (rounds < 2) prop else halvePaths(prop, part)).localCheckpoint()
      changed = next.map(_.fresh.count(identity).toLong).fold(0L)(_ + _)
      Release.rdd(labels)
      labels = next
      rounds += 1
    }
    Release.rdd(csr)
    // convergence is a CORRECTNESS property, not best-effort: exiting on
    // the round cap with changes still flowing would silently return split
    // components for any duplicate chain of diameter > cap
    require(changed == 0,
      s"duplicateClusters did not converge after $rounds rounds " +
        "(a duplicate chain longer than the round cap exists); " +
        "raise the cap or pre-collapse exact duplicates first")
    val rows = labels.flatMap(s => s.ids.indices.iterator.map(i => (s.ids(i), s.label(i))))
    spark.createDataFrame(rows)
      .toDF("id", "cluster")
      .select(col("id").cast(id.dataType), col("cluster").cast(id.dataType))
  }

  /** One path-halving step, `l(v) ← min(l(v), l(l(v)))`: every label is
    * a node of the same state, so each node asks its label's owner (two
    * shuffles of packed blocks, there and back) and a chain's depth
    * halves. */
  private def halvePaths(labels: RDD[Labels], part: SuperstepPartitioner): RDD[Labels] = {
    val asks = labels.mapPartitions { ls =>
      val s = ls.next()
      val out = new Outbox(part)
      for (i <- s.ids.indices if s.label(i) != s.ids(i)) out.send(s.label(i), s.ids(i))
      out.blocks(0L)
    }.partitionBy(part)
    val answers = labels.zipPartitions(asks) { (ls, qs) =>
      val s = ls.next()
      val out = new Outbox(part)
      qs.foreach { case (_, m) =>
        for (k <- m.ids.indices)
          out.send(m.values(k), s.label(java.util.Arrays.binarySearch(s.ids, m.ids(k))))
      }
      out.blocks(0L)
    }.partitionBy(part)
    labels.zipPartitions(answers) { (ls, as) =>
      val s = ls.next()
      val in = receive(s.ids, as.map(_._2), Long.MaxValue, (a, b) => math.min(a, b))
      val label = s.label.clone()
      val fresh = s.fresh.clone()
      for (i <- label.indices if in.values(i) < label(i)) {
        label(i) = in.values(i)
        fresh(i) = true
      }
      Iterator(Labels(s.ids, label, fresh))
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
