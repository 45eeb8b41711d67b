package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational operators over the TPC-H-shaped tables and the documents
  * table: aggregates, joins, windows, set operations, change capture. */
object RelationalQueries {

  val specs: Seq[QuerySpec] = Seq(
    // §2.2 vocabulary — hash aggregation with partial map-side combine
    QuerySpec("q_agg_lineitem", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // decimal-grid sums: order-independent and oracle-exact even
          // for the sf1-scale groups where a float sum's accumulated
          // error crosses round() boundaries (see ops.ExactNum)
          round(ops.ExactNum.gridSumFast(col("l_quantity"), 2), 4).as("sum_qty"),
          round(ops.ExactNum.gridSumFast(col("l_extendedprice"), 2), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty,
        |       ROUND(SUM(CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_price,
        |       COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // §2.2 vocabulary — grouped top-k via ranking window (integer output)
    QuerySpec("q_topk_orders", (s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("rn", row_number().over(w).cast("long"))
        .where(col("rn") <= 3)
        .select(col("o_custkey"), col("o_orderkey"), col("rn"))
        .orderBy("o_custkey", "rn")
    }, oracle =
      """SELECT o_custkey, o_orderkey, rn FROM (
        |  SELECT o_custkey, o_orderkey,
        |         ROW_NUMBER() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin),

    // §2.2 vocabulary — grouped top-k with rank() tie semantics: tie groups
    // straddling k survive whole, so groups emit >k rows. Executes through
    // Spark's WindowGroupLimit in rank() mode (each key keeps the tie
    // groups that start within k); the DuckDB RANK() oracle
    // machine-checks the gap numbering and the whole-group survivors.
    QuerySpec("q_rank_topk", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_year").desc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("rk", rank().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_year").cast("long"), col("rk"))
        .orderBy("o_custkey", "rk", "o_orderkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_year, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         RANK() OVER (PARTITION BY o_custkey
        |                      ORDER BY year(o_orderdate) DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk, o_orderkey""".stripMargin),

    // §2.2 vocabulary — dense_rank-bounded filter through the same
    // operator (first k DISTINCT order years per customer, gap-free
    // numbering; unbounded rows per key, bounded distinct values)
    QuerySpec("q_dense_rank_topk", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_year").desc)
      s.read.parquet(s"$dir/orders.parquet")
        .withColumn("o_year", year(col("o_orderdate")))
        .withColumn("rk", dense_rank().over(w).cast("long"))
        .where(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"),
          col("o_year").cast("long"), col("rk"))
        .orderBy("o_custkey", "rk", "o_orderkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey, o_year, rk FROM (
        |  SELECT o_custkey, o_orderkey,
        |         CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |         DENSE_RANK() OVER (PARTITION BY o_custkey
        |                            ORDER BY year(o_orderdate) DESC) AS rk
        |  FROM orders)
        |WHERE rk <= 2 ORDER BY o_custkey, rk, o_orderkey""".stripMargin),

    // JSONL interchange round-trip: parquet truth → writeDocuments JSONL
    // → readDocuments (declared schema, PERMISSIVE quarantine) must
    // reproduce every value bit-for-bit, with two injected corrupt lines
    // landing in the _corrupt column instead of the clean rows — the one
    // operator family that had no CORRECTNESS row before round 9
    QuerySpec("q_jsonl_roundtrip", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val tag = (dir.hashCode.toLong & 0xFFFFFFFFL).toHexString
      val out = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_$tag"
      sources.Jsonl.writeDocuments(docs, out)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$out/zz_corrupt.json"),
        "this line is not json at all\n{\"doc_id\": \"not-a-long\"\n"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      // localCheckpoint: one parse pass feeds both the quarantine count
      // and the clean rows (and sidesteps QUERY_ONLY_CORRUPT_RECORD_COLUMN)
      val back = sources.Jsonl.readDocuments(s, out).localCheckpoint()
      val nCorrupt = back.where(col("_corrupt").isNotNull).count()
      back.where(col("_corrupt").isNull)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .withColumn("n_corrupt", lit(nCorrupt))
        .orderBy("doc_id")
    }, oracle =
      // the round-trip must land exactly on the parquet truth; the corrupt
      // count is the two injected lines, quarantined rather than read
      """SELECT doc_id, text, lang, source, n_chars,
        |       CAST(2 AS BIGINT) AS n_corrupt
        |FROM documents ORDER BY doc_id""".stripMargin),

    // skew-safe distinct count: dedupe-then-count (two skew-free shuffles)
    // instead of countDistinct's single final reducer per key
    QuerySpec("q_skew_distinct", (s, dir) => {
      ops.Skew.distinctCountByKey(s.read.parquet(s"$dir/lineitem.parquet"),
        Seq("l_returnflag"), "l_orderkey", outCol = "n_orders")
        .orderBy("l_returnflag")
    }, oracle =
      """SELECT l_returnflag, COUNT(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // salted two-phase sum — same result as the plain grouped sum, hot keys
    // spread over 16 reducers in phase 1
    QuerySpec("q_salted_agg", (s, dir) => {
      ops.Skew.saltedSum(s.read.parquet(s"$dir/lineitem.parquet")
          .withColumn("l_quantity", ops.ExactNum.gridLong(col("l_quantity"), 2)),
        Seq("l_returnflag", "l_linestatus"), Seq("l_quantity"),
        saltFrom = "l_orderkey", salts = 16)
        .select(col("l_returnflag"), col("l_linestatus"),
          round(col("sum_l_quantity") / lit(100.0), 4).as("sum_qty_r"))
        .orderBy("l_returnflag", "l_linestatus")
    }, oracle =
      """SELECT l_returnflag, l_linestatus,
        |       ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty_r
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // skew-safe salted equi-join: the hot-key join spelled by hand
    // (deterministic salt from o_orderkey, small side replicated 8×) —
    // must equal the plain join row-for-row, so the oracle just joins
    QuerySpec("q_salted_join", (s, dir) => {
      val ord = s.read.parquet(s"$dir/orders.parquet")
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey").as("o_custkey"), col("c_mktsegment"))
      ops.Skew.saltedJoin(ord, cust, Seq("o_custkey"), col("o_orderkey"),
        factor = 8)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("sum_price_r"))
        .orderBy("c_mktsegment")
    }, oracle =
      """SELECT c_mktsegment, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS sum_price_r
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),

    // §2.2 vocabulary — CUBE grouping sets (all 2^d subtotal combinations;
    // ROLLUP's hierarchical subset is pinned by q_rollup_lineitem)
    QuerySpec("q_cube_lineitem", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(ops.ExactNum.gridSumFast(col("l_quantity"), 2), 4).as("sum_qty_r"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty_r"))
        .orderBy("rf", "ls")
    }, oracle =
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n, ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty_r
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // §2.2 vocabulary — ROLLUP grouping sets (subtotals + grand total)
    QuerySpec("q_rollup_lineitem", (s, dir) => {
      s.read.parquet(s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), round(ops.ExactNum.gridSumFast(col("l_quantity"), 2), 4).as("sum_qty_r"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("n"), col("sum_qty_r"))
        .orderBy("rf", "ls")
    }, oracle =
      """SELECT COALESCE(l_returnflag, 'ALL') AS rf,
        |       COALESCE(l_linestatus, 'ALL') AS ls,
        |       COUNT(*) AS n, ROUND(SUM(CAST(FLOOR(l_quantity * 100.0 + 0.5) AS BIGINT)) / 100.0, 4) AS sum_qty_r
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY rf, ls""".stripMargin),

    // §2.2 vocabulary — semi/anti joins (EXISTS / NOT EXISTS): customers
    // partitioned by whether they have any order, one row per customer
    QuerySpec("q_semi_anti", (s, dir) => {
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .select(col("o_custkey").as("c_custkey"))
      val withOrders = customer.join(orders, Seq("c_custkey"), "left_semi")
        .select(col("c_custkey"), lit(1L).as("has_orders"))
      val withoutOrders = customer.join(orders, Seq("c_custkey"), "left_anti")
        .select(col("c_custkey"), lit(0L).as("has_orders"))
      withOrders.union(withoutOrders).orderBy("c_custkey")
    }, oracle =
      """SELECT c_custkey,
        |       CASE WHEN EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |            THEN 1 ELSE 0 END AS has_orders
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // §2.3 vocabulary — full outer join: customers vs a value-bearing
    // order aggregate, both unmatched sides preserved
    QuerySpec("q_outer_join", (s, dir) => {
      val perCust = s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("rev"))
        .where(col("o_custkey") % 3 === 0)
      val customer = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
        .where(col("c_custkey") % 2 === 0)
      customer.join(perCust, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_nationkey"), col("rev"))
        .orderBy("custkey")
    }, oracle =
      """WITH perCust AS (
        |  SELECT o_custkey, ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS rev
        |  FROM orders GROUP BY o_custkey HAVING o_custkey % 3 = 0),
        |cust AS (
        |  SELECT c_custkey, c_nationkey FROM customer WHERE c_custkey % 2 = 0)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_nationkey, rev
        |FROM cust FULL OUTER JOIN perCust ON c_custkey = o_custkey
        |ORDER BY custkey""".stripMargin),

    // §2.3 vocabulary — set ops: INTERSECT and EXCEPT (distinct semantics)
    QuerySpec("q_set_ops", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val en = docs.where(col("lang") === "en").select("doc_id")
      val sampled = ops.Sampling.hashSample(docs, "doc_id", 0.5, "train")
        .select("doc_id")
      val both = en.intersect(sampled).select(col("doc_id"), lit("both").as("tag"))
      val only = en.except(sampled).select(col("doc_id"), lit("only_en").as("tag"))
      both.union(only).orderBy("doc_id")
    }, oracle = {
      val thr = math.round(0.5 * (1L << 60).toDouble)
      s"""WITH en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |sampled AS (
         |  SELECT doc_id FROM documents
         |  WHERE ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null') || '#train'), 1, 15))::BIGINT < $thr)
         |SELECT doc_id, 'both' AS tag FROM (SELECT doc_id FROM en INTERSECT SELECT doc_id FROM sampled)
         |UNION ALL
         |SELECT doc_id, 'only_en' AS tag FROM (SELECT doc_id FROM en EXCEPT SELECT doc_id FROM sampled)
         |ORDER BY doc_id""".stripMargin
    }),

    // §2.3 vocabulary — the wider window-function family over one pass:
    // lag, lead, dense_rank, ntile, running sum
    QuerySpec("q_window_family", (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderkey"))
      s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          lag("o_totalprice", 1).over(w).as("prev_price"),
          lead("o_totalprice", 1).over(w).as("next_price"),
          dense_rank().over(w.orderBy(col("o_orderpriority"), col("o_orderkey")))
            .cast("long").as("prio_rank"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(sum(ops.ExactNum.gridLong(col("o_totalprice"), 2)).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            / lit(100.0), 2)
            .as("run_rev"))
        .orderBy("o_custkey", "o_orderkey")
    }, oracle =
      """SELECT o_custkey, o_orderkey,
        |  LAG(o_totalprice, 1) OVER w AS prev_price,
        |  LEAD(o_totalprice, 1) OVER w AS next_price,
        |  DENSE_RANK() OVER (PARTITION BY o_custkey
        |                     ORDER BY o_orderpriority, o_orderkey) AS prio_rank,
        |  NTILE(4) OVER w AS quartile,
        |  ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT))
        |          OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0, 2) AS run_rev
        |FROM orders WHERE o_custkey < 200
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // §2.3 vocabulary — pivot (long → wide): order counts per status
    QuerySpec("q_pivot_orders", (s, dir) => {
      s.read.parquet(s"$dir/orders.parquet")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(col("o_orderpriority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("o_orderpriority")
    }, oracle =
      """SELECT o_orderpriority,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin),

    // bucketed co-located join: both sides written bucketBy(custkey) once,
    // then joined with zero exchanges (BucketingSpec pins the plan); the
    // result must equal the plain join the oracle computes
    QuerySpec("q_bucketed_join", (s, dir) => {
      // write once per (session, sf dir), reuse after: the point of the
      // layout is that the write is paid once and every later join is
      // exchange-free — the bench's second run then times the join, not
      // the writes. Table names carry the sf-dir hash so a session that
      // touches several scale factors can't reuse the wrong data.
      val tag = (dir.hashCode.toLong & 0xFFFFFFFFL).toHexString
      val (tOrders, tCustomer) = (s"bq_orders_$tag", s"bq_customer_$tag")
      // reclaim bucketed-table directories orphaned by previous sessions
      // (their catalog entries died with the session; ours are registered).
      // SERIAL-HARNESS ASSUMPTION: a concurrent session's live bq_* tables
      // would look like orphans to this catalog check — the harness never
      // runs two sbt sessions against one working dir (verify SKILL.md
      // gotcha), which is what makes this sweep safe.
      ops.Bucketing.sweepStaleTables(s)
      if (!s.catalog.tableExists(tOrders))
        ops.Bucketing.writeBucketed(
          s.read.parquet(s"$dir/orders.parquet")
            .select(col("o_custkey"), col("o_totalprice")),
          tOrders, "o_custkey", buckets = 8)
      if (!s.catalog.tableExists(tCustomer))
        ops.Bucketing.writeBucketed(
          s.read.parquet(s"$dir/customer.parquet")
            .select(col("c_custkey").as("o_custkey"), col("c_nationkey")),
          tCustomer, "o_custkey", buckets = 8)
      ops.Bucketing.bucketedJoin(s, tOrders, tCustomer, "o_custkey")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("n_orders"),
          round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("rev"))
        .orderBy("c_nationkey")
    }, oracle =
      """SELECT c_nationkey, COUNT(*) AS n_orders,
        |       ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS rev
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // §2.2 vocabulary — multi-way equi-join with broadcast dimension
    QuerySpec("q_join_agg", (s, dir) => {
      val orders = s.read.parquet(s"$dir/orders.parquet")
      val customer = s.read.parquet(s"$dir/customer.parquet")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      orders
        .join(customer, col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_orders"), round(ops.ExactNum.gridSumFast(col("o_totalprice"), 2), 2).as("rev"))
        .orderBy("n_name")
    }, oracle =
      """SELECT n_name, COUNT(*) AS n_orders, ROUND(SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) / 100.0, 2) AS rev
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // snapshot diff (CDC): one full-outer key join classifies a re-crawl
    // against the served corpus into insert/update/delete rows — the
    // incremental primitive that keeps downstream work ∝ |changes|. The
    // two snapshots derive from the fixture by SQL-replicable rules so
    // the oracle can rebuild both sides exactly
    QuerySpec("q_snapshot_diff", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val oldSnap = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newSnap = docs.where(col("doc_id") % 17 =!= 3)
      ops.Snapshot.diff(oldSnap, newSnap, "doc_id",
        Seq("text", "lang", "source", "n_chars"))
        .select("doc_id", "change", "n_chars")
        .orderBy("doc_id")
    }, oracle =
      """WITH old AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 10 = 0 THEN text || ' v1' ELSE text END AS text,
        |         lang, source, n_chars
        |  FROM documents WHERE doc_id % 13 <> 0),
        |new AS (
        |  SELECT doc_id, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 17 <> 3),
        |d AS (
        |  SELECT COALESCE(n.doc_id, o.doc_id) AS doc_id,
        |         CASE WHEN o.doc_id IS NULL THEN 'insert'
        |              WHEN n.doc_id IS NULL THEN 'delete'
        |              WHEN n.text IS DISTINCT FROM o.text
        |                OR n.lang IS DISTINCT FROM o.lang
        |                OR n.source IS DISTINCT FROM o.source
        |                OR n.n_chars IS DISTINCT FROM o.n_chars THEN 'update'
        |         END AS change,
        |         COALESCE(n.n_chars, o.n_chars) AS n_chars
        |  FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id)
        |SELECT doc_id, change, n_chars FROM d
        |WHERE change IS NOT NULL ORDER BY doc_id""".stripMargin),

    // changeset apply (the other half of the CDC loop): snapshot + its
    // own diff must reproduce the new corpus EXACTLY — the oracle is just
    // the new corpus, so the round-trip identity is the hash check; the
    // anti-join's change side is broadcast, the snapshot never shuffles
    QuerySpec("q_apply_changes", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val oldSnap = docs.where(col("doc_id") % 13 =!= 0)
        .withColumn("text", when(col("doc_id") % 10 === 0,
          concat(col("text"), lit(" v1"))).otherwise(col("text")))
      val newSnap = docs.where(col("doc_id") % 17 =!= 3)
      // the changeset feeds BOTH apply branches (anti-join keys + the
      // insert/update union side) — persist so the full-outer diff join
      // runs once, not once per consumer
      val changes = ops.Snapshot.diff(oldSnap, newSnap, "doc_id",
        Seq("text", "lang", "source", "n_chars")).persist()
      ops.Snapshot.applyChanges(oldSnap, changes, "doc_id")
        .select("doc_id", "text", "n_chars")
        .orderBy("doc_id")
    }, oracle =
      // the round-trip identity IS the check: snapshot + diff(snapshot, new)
      // must equal new, so the oracle is simply the new corpus — fully
      // independent of both operators under test
      """SELECT doc_id, text, n_chars FROM documents
        |WHERE doc_id % 17 <> 3 ORDER BY doc_id""".stripMargin),

    // z-order layout key over (n_chars, doc_id): fixed-width buckets from
    // a broadcast 1-row extrema aggregate, then the mask-and-shift Morton
    // spread — all integer bit math, map-side, exactly recomputable by
    // the oracle. Range-partitioning this key is the OPTIMIZE ZORDER
    // layout whose per-file stats prune scans on BOTH columns
    QuerySpec("q_zorder_key", (s, dir) => {
      ops.Layout.withZorderKey(
        s.read.parquet(s"$dir/documents.parquet")
          .select("doc_id", "n_chars"),
        "n_chars", "doc_id", bits = 16)
        .select("doc_id", "zkey")
        .orderBy("doc_id")
    }, oracle =
      // the same bucket + mask-and-shift ladder in DuckDB integer bit ops —
      // any drift in the key math breaks the hash
      """WITH ext AS (
        |  SELECT MIN(n_chars) AS mn1, MAX(n_chars) AS mx1,
        |         MIN(doc_id) AS mn2, MAX(doc_id) AS mx2
        |  FROM documents),
        |b AS (
        |  SELECT doc_id,
        |         CASE WHEN mx1 = mn1 THEN 0
        |              ELSE ((n_chars - mn1) * 65536) // (mx1 - mn1 + 1)
        |         END AS b1,
        |         CASE WHEN mx2 = mn2 THEN 0
        |              ELSE ((doc_id - mn2) * 65536) // (mx2 - mn2 + 1)
        |         END AS b2
        |  FROM documents CROSS JOIN ext),
        |s1 AS (SELECT doc_id, b1 & 65535 AS x, b2 & 65535 AS y FROM b),
        |s2 AS (SELECT doc_id, (x | (x << 8)) & 16711935 AS x,
        |              (y | (y << 8)) & 16711935 AS y FROM s1),
        |s3 AS (SELECT doc_id, (x | (x << 4)) & 252645135 AS x,
        |              (y | (y << 4)) & 252645135 AS y FROM s2),
        |s4 AS (SELECT doc_id, (x | (x << 2)) & 858993459 AS x,
        |              (y | (y << 2)) & 858993459 AS y FROM s3),
        |s5 AS (SELECT doc_id, (x | (x << 1)) & 1431655765 AS x,
        |              (y | (y << 1)) & 1431655765 AS y FROM s4)
        |SELECT doc_id, CAST((x << 1) | y AS BIGINT) AS zkey
        |FROM s5 ORDER BY doc_id""".stripMargin),

    // incremental view maintenance: the per-(source, lang) datacard
    // aggregate refreshed from a CDC changeset — inserts, deletes AND
    // group-moving updates — without rescanning the corpus; the oracle
    // recomputes the aggregate directly over the new corpus, so the hash
    // check IS the incremental ≡ full-recompute identity
    QuerySpec("q_incremental_agg", (s, dir) => {
      val docs = s.read.parquet(s"$dir/documents.parquet")
      val oldC = docs.where(col("doc_id") % 17 =!= 3)
      val newC = docs.where(col("doc_id") % 19 =!= 5)
        .withColumn("lang",
          when(col("doc_id") % 13 === 0, lit("xx")).otherwise(col("lang")))
      val base = oldC.groupBy("source", "lang")
        .agg(count(lit(1)).as("n"), sum("n_chars").as("s"))
      val changes = ops.Snapshot.diffWithOld(oldC, newC, "doc_id",
        Seq("text", "lang", "source", "n_chars")).persist()
      ops.Snapshot.incrementalCountSum(base, changes,
        Seq("source", "lang"), "n_chars")
        .orderBy("source", "lang")
    }, oracle =
      // the direct aggregate over the (deterministically re-derived) new
      // corpus — fully independent of the diff and delta machinery
      """SELECT source,
        |       CASE WHEN doc_id % 13 = 0 THEN 'xx' ELSE lang END AS lang,
        |       CAST(COUNT(*) AS BIGINT) AS n,
        |       CAST(SUM(n_chars) AS BIGINT) AS s
        |FROM documents WHERE doc_id % 19 <> 5
        |GROUP BY 1, 2 ORDER BY source, lang""".stripMargin),

    // anti-entropy table checksum: hash-bucketed row counts + XOR of
    // content hashes — order/partitioning-invariant, divergence between
    // copies localizes to the differing buckets
    QuerySpec("q_table_checksum", (s, dir) => {
      pipeline.Audit.tableChecksum(
        s.read.parquet(s"$dir/documents.parquet"), "doc_id",
        Seq("doc_id", "text", "lang", "source", "n_chars"), nBuckets = 64)
        .orderBy("bucket")
    }, oracle =
      // the full checksum recomputed from scratch: key-hash bucketing and
      // the content hash over the same chr(1)-separated / chr(2)-NULL-sentinel
      // column serialization (delimited so boundary shifts can't collide)
      """WITH h AS (
        |  SELECT ('0x' || substr(md5(COALESCE(CAST(doc_id AS VARCHAR), 'null')), 1, 15))::BIGINT % 64 AS bucket,
        |         ('0x' || substr(md5(
        |            COALESCE(CAST(doc_id AS VARCHAR), chr(2)) || chr(1) || COALESCE(text, chr(2)) || chr(1) ||
        |            COALESCE(lang, chr(2)) || chr(1) || COALESCE(source, chr(2)) || chr(1) ||
        |            COALESCE(CAST(n_chars AS VARCHAR), chr(2))), 1, 15))::BIGINT AS ch
        |  FROM documents)
        |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |       bit_xor(ch) AS content_xor
        |FROM h GROUP BY bucket ORDER BY bucket""".stripMargin),

    // the TPC-H Q3 shape — segment-filtered customers ⋈ open orders ⋈
    // late-shipping lineitems, revenue top-10: the canonical "filter
    // early, join on keys, aggregate, bounded top-k" OLAP plan. Both
    // join keys hash-partition; the segment and date filters reach the
    // scans; the top-10 is a TakeOrdered, never a global sort
    QuerySpec("q_tpch_q3", (s, dir) => {
      val cutoff = "1997-01-01"
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .where(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .where(col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .agg(round(sum(ops.ExactNum.dec(col("l_extendedprice"), 2) *
            (lit(1).cast("decimal(3,2)") - ops.ExactNum.dec(col("l_discount"), 2)))
            .cast("double"), 2)
          .as("revenue_r"))
        .orderBy(col("revenue_r").desc, col("l_orderkey"))
        .limit(10)
    }, oracle =
      """SELECT l_orderkey,
        |       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue_r
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < '1997-01-01' AND l_shipdate > '1997-01-01'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue_r DESC, l_orderkey LIMIT 10""".stripMargin),

    // the TPC-H Q5 shape — six-table star join with region/nation
    // broadcast and a local-supplier equi-constraint, revenue per nation:
    // the dimension tables ride the driver as broadcasts, the two fact
    // joins hash-partition on their keys
    QuerySpec("q_tpch_q5", (s, dir) => {
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val orders = s.read.parquet(s"$dir/orders.parquet")
        .where(col("o_orderdate") >= "1997-01-01" &&
          col("o_orderdate") < "1998-01-01")
        .select("o_orderkey", "o_custkey")
      val li = s.read.parquet(s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val supp = s.read.parquet(s"$dir/supplier.parquet")
        .select("s_suppkey", "s_nationkey")
      val nation = s.read.parquet(s"$dir/nation.parquet")
      val region = s.read.parquet(s"$dir/region.parquet")
        .where(col("r_name") === "ASIA")
      li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(ops.ExactNum.dec(col("l_extendedprice"), 2) *
            (lit(1).cast("decimal(3,2)") - ops.ExactNum.dec(col("l_discount"), 2)))
            .cast("double"), 2)
          .as("revenue_r"))
        .orderBy(col("revenue_r").desc, col("n_name"))
    }, oracle =
      """SELECT n_name,
        |       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
        |                  * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 2) AS revenue_r
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= '1997-01-01' AND o_orderdate < '1998-01-01'
        |GROUP BY n_name ORDER BY revenue_r DESC, n_name""".stripMargin)
  )
}
