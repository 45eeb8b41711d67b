package graft
package queries

import org.apache.spark.sql.functions._

/** Graph analytics: PageRank, personalized PageRank, HITS, triangles
  * and k-core. */
object GraphQueries {

  /** DuckDB replay of [[graft.ops.Graph.hits]]: the mutual recursion
    * unrolled — per iteration two edge⋈score sums and two L1
    * normalizations, HUGEINT `raw·scale // tot` matching Spark's
    * decimal-widened `div` (both truncate toward zero on positives). */
  private def hitsOracleSql(iters: Int, scale: Long): String = {
    val sb = new StringBuilder
    sb ++= s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst
      |  FROM lineitem WHERE l_orderkey % 3 = 0),
      |nodes AS MATERIALIZED (SELECT DISTINCT node FROM
      |  (SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
      |h0 AS MATERIALIZED (SELECT node, CAST($scale AS BIGINT) AS hub FROM nodes)""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s""",
        |ra$i AS MATERIALIZED (SELECT e.dst AS node, SUM(h.hub) AS raw
        |         FROM e JOIN h${i - 1} h ON e.src = h.node GROUP BY 1),
        |ta$i AS MATERIALIZED (SELECT SUM(raw) AS tot FROM ra$i),
        |a$i AS MATERIALIZED (SELECT n.node,
        |               CAST(COALESCE(r.raw, 0) * $scale // t.tot AS BIGINT) AS auth
        |        FROM nodes n LEFT JOIN ra$i r USING (node), ta$i t),
        |rh$i AS MATERIALIZED (SELECT e.src AS node, SUM(a.auth) AS raw
        |         FROM e JOIN a$i a ON e.dst = a.node GROUP BY 1),
        |th$i AS MATERIALIZED (SELECT SUM(raw) AS tot FROM rh$i),
        |h$i AS MATERIALIZED (SELECT n.node,
        |               CAST(COALESCE(r.raw, 0) * $scale // t.tot AS BIGINT) AS hub
        |        FROM nodes n LEFT JOIN rh$i r USING (node), th$i t)""".stripMargin
    }
    sb ++= s"""
      |SELECT h.node, h.hub, a.auth AS authority
      |FROM h$iters h JOIN a$iters a USING (node) ORDER BY node""".stripMargin
    sb.toString
  }

  /** Fixed-point PageRank recurrence unrolled as chained CTEs (DuckDB's
    * recursive CTEs forbid aggregates in the recursive term, so each
    * iteration is its own contrib/dangling/rank CTE triple) — integer
    * arithmetic mirrors `ops.Graph.pageRank` op-for-op: `//` is DuckDB's
    * floor division ≡ Spark's `div` on the non-negative ranks. */
  private def pageRankOracleSql(iters: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |      WHERE l_orderkey % 3 = 0),
        |e AS MATERIALIZED (SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM li
        |      UNION
        |      SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM li),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |nn AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node, 1000000000000 // (SELECT n FROM nn) AS r
        |       FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, SUM(r.r // deg.deg) AS s
         |       FROM e JOIN r${i - 1} r ON e.src = r.node
         |       JOIN deg ON deg.src = e.src
         |       GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0) AS dm
         |       FROM r${i - 1} r LEFT JOIN deg ON r.node = deg.src
         |       WHERE deg.src IS NULL),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |         (15 * (1000000000000 // (SELECT n FROM nn)) +
         |          85 * (COALESCE(c$i.s, 0) +
         |                (SELECT dm FROM d$i) // (SELECT n FROM nn))) // 100 AS r
         |       FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters ORDER BY node"
  }

  /** Personalized-PageRank unroll: same chained-CTE shape as
    * [[pageRankOracleSql]], with the restart vector on the seed set
    * (`node % 20 = 1` — every 10th supplier) and dangling mass returning
    * to the seeds. */
  private def pprOracleSql(iters: Int): String = {
    val head =
      """WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
        |      WHERE l_orderkey % 3 = 0),
        |e AS MATERIALIZED (SELECT l_orderkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM li
        |      UNION
        |      SELECT l_suppkey * 2 + 1, l_orderkey * 2 FROM li),
        |nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e),
        |ns AS MATERIALIZED (SELECT COUNT(*) AS n FROM nodes WHERE node % 20 = 1),
        |deg AS MATERIALIZED (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
        |r0 AS MATERIALIZED (SELECT node,
        |         CASE WHEN node % 20 = 1
        |              THEN 1000000000000 // (SELECT n FROM ns) ELSE 0 END AS r
        |       FROM nodes)""".stripMargin
    val steps = (1 to iters).map { i =>
      s"""c$i AS MATERIALIZED (SELECT e.dst AS node, SUM(r.r // deg.deg) AS s
         |       FROM e JOIN r${i - 1} r ON e.src = r.node
         |       JOIN deg ON deg.src = e.src
         |       GROUP BY e.dst),
         |d$i AS MATERIALIZED (SELECT COALESCE(SUM(r.r), 0) AS dm
         |       FROM r${i - 1} r LEFT JOIN deg ON r.node = deg.src
         |       WHERE deg.src IS NULL),
         |r$i AS MATERIALIZED (SELECT nodes.node,
         |         (CASE WHEN nodes.node % 20 = 1
         |               THEN 15 * (1000000000000 // (SELECT n FROM ns)) ELSE 0 END +
         |          85 * (COALESCE(c$i.s, 0) +
         |                CASE WHEN nodes.node % 20 = 1
         |                     THEN (SELECT dm FROM d$i) // (SELECT n FROM ns)
         |                     ELSE 0 END)) // 100 AS r
         |       FROM nodes LEFT JOIN c$i ON nodes.node = c$i.node)""".stripMargin
    }
    (head +: steps).mkString(",\n") +
      s"\nSELECT node, CAST(r AS BIGINT) AS rank FROM r$iters ORDER BY node"
  }

  val specs: Seq[QuerySpec] = Seq(
    // link-graph centrality (crawl-curation prior): fixed-point PageRank
    // over the order↔supplier bipartite graph (namespaced node ids),
    // integer arithmetic end-to-end so 5 iterations of join+agg are
    // bit-identical cross-engine — the oracle unrolls the same recurrence
    // as chained CTEs (recursive CTEs can't aggregate)
    QuerySpec("q_pagerank", (s, dir) => {
      // a deterministic 1/3 subgraph keeps the bench contract light; the
      // operator itself has no subsetting
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_orderkey") * 2).as("dst"))
      val edges = fwd.unionByName(rev).distinct()
      ops.Graph.pageRank(edges, iters = 5)
        .orderBy("node")
    }, oracle = pageRankOracleSql(5)),

    // HITS hubs & authorities on the DIRECTED order→supplier bipartite
    // graph (same 1/3 subgraph as q_pagerank): hubs = orders spanning
    // reputable suppliers, authorities = suppliers reached by broad
    // orders — the two-role centrality PageRank's single score conflates.
    // Fixed-point integer with decimal-widened L1 normalization; the
    // oracle replays the full mutual recursion.
    QuerySpec("q_hits", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 3 === 0)
      val edges = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct()
      ops.Graph.hits(edges, iters = 3)
        .orderBy("node")
    }, oracle = hitsOracleSql(3, 1000000000L)),

    // exact per-node triangle counts on the supplier co-supply graph
    // (suppliers sharing an order — clique-per-order structure): the
    // local-clustering diagnostic that separates coherent similarity
    // families from blocking-artifact hubs. Degree-oriented wedge join —
    // Σ outdeg² = O(E^1.5) candidates on any graph, no hub blowup.
    QuerySpec("q_triangles", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      ops.Graph.triangleCounts(pairs,
        Some(s.read.parquet(s"$dir/supplier.parquet")
          .select(col("s_suppkey").as("node"))))
        .orderBy("node")
    }, oracle =
      // every triangle enumerated once as a < b < c by the textbook 3-way
      // join — independent of the Spark side's degree orientation
      """WITH e AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  WHERE a.l_orderkey % 20 = 0),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e x JOIN e y ON y.u = x.v
        |  JOIN e z ON z.u = x.u AND z.v = y.v),
        |t AS (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |SELECT s.s_suppkey AS node, CAST(COUNT(t.node) AS BIGINT) AS triangles
        |FROM supplier s LEFT JOIN t ON t.node = s.s_suppkey
        |GROUP BY 1 ORDER BY node""".stripMargin),

    // k-core of the part co-occurrence graph (parts sharing an order):
    // iterative peeling to the unique fixpoint at k=16 — the cohesion
    // gate separating interlinked families from hub/tendril artifacts.
    // Exact integer counting, confluent, so the oracle's unrolled peel
    // chain must match node-for-node incl. in-core degrees (measured
    // peel depth 3/7/6 at sf0.001/0.01/0.1; the oracle unrolls 12).
    QuerySpec("q_kcore", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 4 === 0)
        .select(col("l_orderkey"), col("l_partkey"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") < col("b.l_partkey"))
        .select(col("a.l_partkey").as("src"), col("b.l_partkey").as("dst"))
      ops.Graph.kCore(pairs, k = 16).orderBy("node")
    }, oracle =
      // the identical peel chain unrolled 12 rounds (≥ the measured depth;
      // idempotent once converged) — any dropped-too-early or kept-too-long
      // node breaks the hash
      {
      val base =
        """WITH e0 AS MATERIALIZED (
          |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  WHERE a.l_orderkey % 4 = 0)""".stripMargin
      val rounds = (0 until 12).map { i =>
        s""",
           |d$i AS MATERIALIZED (SELECT node, COUNT(*) AS c FROM
           |  (SELECT u AS node FROM e$i UNION ALL SELECT v FROM e$i) t
           |  GROUP BY 1),
           |k$i AS MATERIALIZED (SELECT node FROM d$i WHERE c >= 16),
           |e${i + 1} AS MATERIALIZED (SELECT u, v FROM e$i
           |  WHERE u IN (SELECT node FROM k$i)
           |    AND v IN (SELECT node FROM k$i))""".stripMargin
      }.mkString
      base + rounds +
        """,
          |dfin AS (SELECT node, COUNT(*) AS c FROM
          |  (SELECT u AS node FROM e12 UNION ALL SELECT v FROM e12) t
          |  GROUP BY 1)
          |SELECT node, CAST(c AS BIGINT) AS deg
          |FROM dfin WHERE c >= 16 ORDER BY node""".stripMargin
    }),

    // local clustering coefficient over the same co-supply graph: exact
    // integer numerator/denominator, one IEEE division per node
    QuerySpec("q_clustering_coeff", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 20 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val pairs = li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
        .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
      ops.Graph.clusteringCoefficients(pairs)
        .select(col("node"), col("deg"), col("triangles"),
          (round(col("coeff"), 6) + 0.0).as("coeff_r"))
        .orderBy("node")
    }, oracle =
      // same triangle enumeration + degrees; the coefficient is the same
      // one integer-exact-operands division, rounded identically
      """WITH e AS (
        |  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
        |  FROM lineitem a JOIN lineitem b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
        |  WHERE a.l_orderkey % 20 = 0),
        |dg AS (
        |  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
        |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
        |  GROUP BY 1),
        |tri AS (
        |  SELECT x.u AS a, x.v AS b, y.v AS c
        |  FROM e x JOIN e y ON y.u = x.v
        |  JOIN e z ON z.u = x.u AND z.v = y.v),
        |t AS (SELECT a AS node FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri),
        |tc AS (
        |  SELECT dg.node, dg.deg, CAST(COUNT(t.node) AS BIGINT) AS triangles
        |  FROM dg LEFT JOIN t ON t.node = dg.node
        |  GROUP BY 1, 2)
        |SELECT node, deg, triangles,
        |       CASE WHEN deg >= 2 THEN
        |         ROUND(CAST(triangles * 2 AS DOUBLE) / (deg * (deg - 1)), 6) + 0.0
        |       ELSE 0.0 END AS coeff_r
        |FROM tc ORDER BY node""".stripMargin),

    // personalized PageRank: restart mass teleports to a seed set (every
    // 10th supplier) — rank-by-proximity-to-trusted-nodes, the
    // TrustRank / topical-crawl-prioritization variant; same fixed-point
    // integer arithmetic, bit-identical to the unrolled oracle
    QuerySpec("q_ppr", (s, dir) => {
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_orderkey") % 3 === 0)
        .select(col("l_orderkey"), col("l_suppkey"))
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      val rev = li.select((col("l_suppkey") * 2 + 1).as("src"),
        (col("l_orderkey") * 2).as("dst"))
      val edges = fwd.unionByName(rev).distinct()
      val seeds = edges.select(col("dst").as("node"))
        .where(col("node") % 20 === 1)
        .distinct()
      ops.Graph.personalizedPageRank(edges, seeds, iters = 5)
        .orderBy("node")
    }, oracle = pprOracleSql(5))
  )
}
