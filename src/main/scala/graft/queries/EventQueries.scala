package graft
package queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics over the `events` table: windows, sessions,
  * joins in time, funnels, retention and sketches. These are the
  * batch-verifiable forms of the Structured Streaming module;
  * `EventsStreamingSpec` drives the same functions through MemoryStream
  * and watermarks. */
object EventQueries {

  val specs: Seq[QuerySpec] = Seq(
    // tumbling-window aggregation (event time). Timestamps cross the
    // DuckDB-compare boundary as epoch seconds: a raw TIMESTAMP column
    // hash-compares differently depending on the reader's tz/type mapping,
    // an integer never does.
    QuerySpec("q_events_window", (s, dir) => {
      streaming.Events.windowedStats(streaming.Events.readEvents(s, dir), "1 hour")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
          col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value_r"))
        .orderBy("window_start_s", "event_type")
    }, oracle =
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
        |         AS window_start_s,
        |       event_type, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM events
        |GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin),

    // event-rate anomaly flags: windows whose count sits 3σ above the
    // type's own mean — exact integer test (no sqrt, no float), per-type
    // moments re-aggregated from the window-count table and broadcast
    QuerySpec("q_rate_anomaly", (s, dir) => {
      streaming.Events.rateAnomalies(streaming.Events.readEvents(s, dir),
          "1 hour")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
          col("event_type"), col("n"), col("is_anomaly"))
        .orderBy("window_start_s", "event_type")
    }, oracle =
      // identical window counts, identical integer 3-sigma test (HUGEINT is
      // DuckDB's exact int128, mirroring Spark's DECIMAL(38,0) widening)
      """WITH wc AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_s,
        |         event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nw,
        |         CAST(SUM(n) AS BIGINT) AS s1, CAST(SUM(n * n) AS BIGINT) AS s2
        |  FROM wc GROUP BY 1)
        |SELECT wc.window_start_s, wc.event_type, wc.n,
        |       CAST(CASE WHEN (wc.n * m.nw - m.s1) > 0
        |                  AND CAST(wc.n * m.nw - m.s1 AS HUGEINT)
        |                      * CAST(wc.n * m.nw - m.s1 AS HUGEINT)
        |                      > 9 * (CAST(m.nw AS HUGEINT) * CAST(m.s2 AS HUGEINT)
        |                             - CAST(m.s1 AS HUGEINT) * CAST(m.s1 AS HUGEINT))
        |                 THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM wc JOIN m ON wc.event_type = m.event_type
        |ORDER BY wc.window_start_s, wc.event_type""".stripMargin),

    // exact two-proportion A/B test: hash arms, distinct-user conversion
    // to 'purchase', χ² verdict by integer cross-multiplication in
    // DECIMAL(38) (critical value as the rational 384/100) — no float
    // anywhere, the oracle replays every count and the comparison
    QuerySpec("q_ab_test", (s, dir) => {
      streaming.Events.abTest(streaming.Events.readEvents(s, dir), "purchase")
    }, oracle =
      // identical arm hash, distinct-user conversion, and HUGEINT
      // cross-multiplied verdict
      """WITH u AS (
        |  SELECT user_id,
        |         ('0x' || substr(md5(CAST(user_id AS VARCHAR) || '#ab'),
        |                         1, 15))::BIGINT % 2 AS arm,
        |         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS conv
        |  FROM events GROUP BY 1, 2),
        |c AS (
        |  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
        |         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
        |         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS conv_b
        |  FROM u)
        |SELECT n_a, conv_a, n_b, conv_b,
        |       CAST(CASE WHEN
        |         CAST(n_a + n_b AS HUGEINT)
        |           * ((CAST(conv_a AS HUGEINT) * CAST(n_b - conv_b AS HUGEINT)
        |               - CAST(n_a - conv_a AS HUGEINT) * CAST(conv_b AS HUGEINT))
        |              * (CAST(conv_a AS HUGEINT) * CAST(n_b - conv_b AS HUGEINT)
        |                 - CAST(n_a - conv_a AS HUGEINT) * CAST(conv_b AS HUGEINT)))
        |           * 100
        |         > 384 * CAST(n_a AS HUGEINT) * CAST(n_b AS HUGEINT)
        |               * CAST(conv_a + conv_b AS HUGEINT)
        |               * CAST((n_a - conv_a) + (n_b - conv_b) AS HUGEINT)
        |       THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM c""".stripMargin),

    // CUSUM sequential drift monitor: per-type running max(0, S+(n−k))
    // over hourly counts, alarm at S > 3k — catches the sustained small
    // shift the 3σ point test (q_rate_anomaly) can't see. Exact integer
    // recurrence; the oracle replays it as a recursive CTE.
    QuerySpec("q_cusum_drift", (s, dir) => {
      streaming.Events.cusumDrift(streaming.Events.readEvents(s, dir),
          "1 hour")
        .orderBy("window_start_s", "event_type")
    }, oracle =
      // the identical integer recurrence replayed as a recursive CTE over
      // per-type window indices
      """WITH RECURSIVE wc AS (
        |  SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT) AS window_start_s,
        |         event_type, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1, 2),
        |idx AS (
        |  SELECT event_type, window_start_s, n,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY window_start_s) AS i
        |  FROM wc),
        |al AS (
        |  SELECT event_type,
        |         CAST((SUM(n) + COUNT(*) - 1) // COUNT(*) AS BIGINT) AS k
        |  FROM wc GROUP BY 1),
        |r(event_type, i, s) AS (
        |  SELECT idx.event_type, idx.i, GREATEST(0, idx.n - al.k)
        |  FROM idx JOIN al ON al.event_type = idx.event_type WHERE idx.i = 1
        |  UNION ALL
        |  SELECT idx.event_type, idx.i, GREATEST(0, r.s + (idx.n - al.k))
        |  FROM r JOIN idx ON idx.event_type = r.event_type
        |              AND idx.i = r.i + 1
        |  JOIN al ON al.event_type = idx.event_type)
        |SELECT idx.window_start_s, idx.event_type, idx.n, al.k, r.s,
        |       CAST(CASE WHEN r.s > 3 * al.k THEN 1 ELSE 0 END AS BIGINT)
        |         AS alarm
        |FROM r JOIN idx ON idx.event_type = r.event_type AND idx.i = r.i
        |JOIN al ON al.event_type = idx.event_type
        |ORDER BY idx.window_start_s, idx.event_type""".stripMargin),

    // sliding (hopping) event-time windows: 1-hour stats every 15
    // minutes — each event fans out to 4 windows map-side, one hash agg
    QuerySpec("q_events_sliding", (s, dir) => {
      streaming.Events.slidingStats(streaming.Events.readEvents(s, dir),
          "1 hour", "15 minutes")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
          col("event_type"), col("n"),
          round(col("sum_value"), 6).as("sum_value_r"))
        .orderBy("window_start_s", "event_type")
    }, oracle =
      // each event's 4 covering sliding windows generated per row, then the
      // same grouped micro-grid sums as the tumbling oracle
      """WITH ks AS (
        |  SELECT ts, event_type, value, unnest(generate_series(0, 3)) AS k
        |  FROM events),
        |wd AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - k * INTERVAL '15 minutes' AS ws,
        |         event_type, value
        |  FROM ks)
        |SELECT CAST(epoch(ws) AS BIGINT) AS window_start_s,
        |       event_type, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM wd
        |GROUP BY 1, 2 ORDER BY window_start_s, event_type""".stripMargin),

    // gap-based session windows per user (keyed incremental state when
    // streaming; gaps-and-islands SQL for the oracle). Session starts carry
    // microseconds → epoch micros, same tz-proofing as above.
    QuerySpec("q_events_sessions", (s, dir) => {
      streaming.Events.sessionStats(streaming.Events.readEvents(s, dir), "30 minutes")
        .select(unix_micros(col("session_start")).as("session_start_us"),
          col("user_id"), col("n_events"), col("sum_value_r"))
        .orderBy("user_id", "session_start_us")
    }, oracle =
      """WITH flagged AS (
        |  SELECT user_id, ts, value,
        |         CASE WHEN ts >= COALESCE(LAG(ts) OVER w + INTERVAL '30 minutes',
        |                                  ts) AND LAG(ts) OVER w IS NOT NULL
        |              THEN 1
        |              WHEN LAG(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |islands AS (
        |  SELECT user_id, ts, value,
        |         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
        |                                ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged)
        |SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS session_start_us, user_id,
        |       COUNT(*) AS n_events,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM islands GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin),

    // JSON-ish property extraction + aggregation
    QuerySpec("q_events_json", (s, dir) => {
      streaming.Events.propsStats(streaming.Events.readEvents(s, dir))
        .orderBy("event_type")
    }, oracle =
      """SELECT event_type, COUNT(*) AS n,
        |       ROUND(AVG(TRY_CAST(regexp_extract(props, '"k":\s*(\d+)', 1)
        |                      AS BIGINT)), 6) AS avg_k_r
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // stream-static enrichment: events ⋈ broadcast customer dimension,
    // aggregated per market segment — the zero-shuffle lookup shape; the
    // streaming form (stream-static join per micro-batch) is pinned
    // streaming≡batch by EventsStreamingSpec
    QuerySpec("q_events_enrich", (s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
      val cust = s.read.parquet(s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_mktsegment"))
      streaming.Events.enrichWithDim(ev, cust)
        .groupBy("c_mktsegment", "event_type")
        .agg(count(lit(1)).as("n"),
          round(ops.ExactNum.gridSumFast(col("value")), 6).as("sum_value_r"))
        .orderBy("c_mktsegment", "event_type")
    }, oracle =
      """SELECT c_mktsegment, event_type, COUNT(*) AS n,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS sum_value_r
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |GROUP BY 1, 2 ORDER BY c_mktsegment, event_type""".stripMargin),

    // keyed-state accumulator (flatMapGroupsWithState) in its batch form:
    // one micro-batch holding the whole table, so each user emits exactly
    // its final running profile — SUM/COUNT per user for the oracle. The
    // streaming form (incremental state across micro-batches) is pinned
    // streaming≡batch by EventsStreamingSpec.
    QuerySpec("q_events_running_totals", (s, dir) => {
      streaming.Events.userRunningTotals(streaming.Events.readEvents(s, dir))
        .toDF()
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 6).as("total_value_r"))
        .orderBy("user_id")
    }, oracle =
      """SELECT user_id, COUNT(*) AS n_events,
        |       ROUND(SUM(value), 6) AS total_value_r
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin),

    // as-of join: every click event joined to the same user's latest view
    // at or before it (left-outer). Union-and-carry-forward shape — one
    // keyed shuffle, no per-key cross product; oracle is DuckDB's native
    // ASOF LEFT JOIN, an independent implementation of the same semantics.
    QuerySpec("q_asof_join", (s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      val views = ev.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("v_id"),
          unix_micros(col("ts")).as("v_ts_us"), col("value").as("v_val"))
      ops.TemporalJoins.asOfJoin(clicks, views, Seq("user_id"),
        leftTs = "ts_us", rightTs = "v_ts_us",
        rightVals = Seq("v_ts_us", "v_val"), rightTieBreak = Some("v_id"))
        .select(col("user_id"), col("event_id"), col("ts_us"), col("v_ts_us"),
          round(col("v_val"), 6).as("v_val_r"))
        .orderBy("event_id")
    }, oracle =
      // DuckDB's native ASOF LEFT JOIN — an independent implementation of the
      // same semantics as the union-and-carry-forward Spark shape
      """WITH clicks AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events WHERE event_type = 'click'),
        |views AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS v_ts_us,
        |         value AS v_val
        |  FROM events WHERE event_type = 'view'
        |  -- dedupe equal-microsecond ties to the max-event_id row: DuckDB's
        |  -- ASOF picks an arbitrary tied row, the Spark operator picks the
        |  -- max tie-break row — pre-deduping makes both deterministic and
        |  -- equal (the fixtures are tie-free today; this pins the contract)
        |  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts)
        |                             ORDER BY event_id DESC) = 1)
        |SELECT c.user_id, c.event_id, c.ts_us, v.v_ts_us,
        |       ROUND(v.v_val, 6) AS v_val_r
        |FROM clicks c ASOF LEFT JOIN views v
        |  ON c.user_id = v.user_id AND v.v_ts_us <= c.ts_us
        |ORDER BY c.event_id""".stripMargin),

    // band (range) self-join: pairs of events of one user within 30 min,
    // via time-bucketed equi-joins (bin, bin+1) — never a per-key cross
    // product; oracle is the plain inequality join
    QuerySpec("q_range_join", (s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
        .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("ts_us"))
      ops.TemporalJoins.bandJoin(ev, Seq("user_id"), "ts_us", "event_id",
        bandUs = 30L * 60 * 1000000)
        .select(col("user_id"), col("i"), col("j"), col("dt_us"))
        .orderBy("i", "j")
    }, oracle =
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
        |  FROM events)
        |SELECT a.user_id, a.event_id AS i, b.event_id AS j,
        |       b.ts_us - a.ts_us AS dt_us
        |FROM e a JOIN e b ON a.user_id = b.user_id
        |WHERE (b.ts_us > a.ts_us
        |       OR (b.ts_us = a.ts_us AND b.event_id > a.event_id))
        |  AND b.ts_us <= a.ts_us + 1800000000
        |ORDER BY i, j""".stripMargin),

    // stream-stream interval join in its batch-verifiable form (the
    // streaming run of the same function is pinned by EventsStreamingSpec)
    QuerySpec("q_interval_join", (s, dir) => {
      streaming.Events.clickViewIntervalJoin(
        streaming.Events.readEvents(s, dir), "30 minutes")
        .select(col("user_id"), col("click_id"), col("view_id"), col("gap_us"))
        .orderBy("click_id", "view_id")
    }, oracle =
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |         event_type
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |       c.ts_us - v.ts_us AS gap_us
        |FROM e c JOIN e v
        |  ON c.user_id = v.user_id
        | AND c.event_type = 'click' AND v.event_type = 'view'
        | AND v.ts_us BETWEEN c.ts_us - 1800000000 AND c.ts_us
        |ORDER BY click_id, view_id""".stripMargin),

    // per-event trailing 1 h window per user (RANGE frame over event time,
    // not ROWS): the rate-limiting / burst-detection shape; equal-ts peers
    // share the frame per ANSI RANGE semantics on both engines
    QuerySpec("q_events_rolling", (s, dir) => {
      streaming.Events.rollingUserStats(
        streaming.Events.readEvents(s, dir), windowUs = 3600000000L)
        .orderBy("user_id", "ts_us", "event_id")
    }, oracle =
      """SELECT event_id, user_id,
        |       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |       CAST(COUNT(*) OVER w AS BIGINT) AS n_window,
        |       ROUND(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER w / 1000000.0, 6) AS sum_window_r
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts_us, event_id""".stripMargin),

    // duration-capped sessionization: sessions close on a 24 h inactivity
    // gap OR at 48 h since their first event — the cap resets at each
    // split, which makes the rule sequential (no window function can
    // express it; the oracle needs a recursive CTE). Runs through the
    // shared batch/streaming fold; on this fixture the cap splits 1,214
    // gap-only sessions into 2,074, so both rules are hash-exercised
    QuerySpec("q_sessions_capped", (s, dir) => {
      streaming.Events.cappedSessions(streaming.Events.readEvents(s, dir))
        .toDF()
        .select(col("user_id"), col("session_start_us"),
          col("session_end_us"), col("n_events"),
          round(col("sum_value"), 6).as("sum_value_r"))
        .orderBy("user_id", "session_start_us")
    }, oracle =
      // sequential split rule → recursive CTE: the walk carries each event's
      // current session start; all users advance in lockstep on rn, so the
      // recursion depth is max events/user, not total events
      """WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, value,
        |         ROW_NUMBER() OVER (PARTITION BY user_id
        |                            ORDER BY ts, event_id) AS rn
        |  FROM events),
        |walk AS (
        |  SELECT user_id, rn, ts_us, value, ts_us AS sess_start
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.ts_us, e.value,
        |         CASE WHEN e.ts_us - w.ts_us > 86400000000
        |                OR e.ts_us - w.sess_start > 172800000000
        |              THEN e.ts_us ELSE w.sess_start END
        |  FROM ev e JOIN walk w
        |    ON e.user_id = w.user_id AND e.rn = w.rn + 1)
        |SELECT user_id, sess_start AS session_start_us,
        |       MAX(ts_us) AS session_end_us,
        |       CAST(COUNT(*) AS BIGINT) AS n_events,
        |       ROUND(SUM(value), 6) AS sum_value_r
        |FROM walk GROUP BY 1, 2
        |ORDER BY user_id, session_start_us""".stripMargin),

    // first-touch attribution: the FIRST event per (user, event_type) —
    // a k=1 grouped top-k, executed through Spark's WindowGroupLimit
    // instead of a window over every (user, event_type) group
    QuerySpec("q_first_touch", (s, dir) => {
      val ev = streaming.Events.readEvents(s, dir)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(col("ts"), col("event_id"))
      ev.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"),
          unix_micros(col("ts")).as("ts_us"),
          round(col("value"), 6).as("value_r"))
        .orderBy("user_id", "event_type")
    }, oracle =
      """SELECT user_id, event_type, event_id,
        |       CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |       ROUND(value, 6) AS value_r
        |FROM events
        |QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |                           ORDER BY ts, event_id) = 1
        |ORDER BY user_id, event_type""".stripMargin),

    // cohort retention: users keyed by first-ever event day, counted per
    // day-offset — shuffle ∝ active user-days after the (user, day)
    // dedup, never ∝ raw events
    QuerySpec("q_retention", (s, dir) => {
      streaming.Events.retentionCohorts(streaming.Events.readEvents(s, dir))
        .orderBy("cohort_day", "offset_days")
    }, oracle =
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        |  FROM events),
        |coh AS (SELECT user_id, MIN(day) AS cohort_day FROM ud GROUP BY user_id)
        |SELECT strftime(cohort_day, '%Y-%m-%d') AS cohort_day,
        |       CAST(datediff('day', cohort_day, day) AS BIGINT) AS offset_days,
        |       CAST(COUNT(*) AS BIGINT) AS n_users
        |FROM ud JOIN coh USING (user_id)
        |GROUP BY coh.cohort_day, datediff('day', cohort_day, day)
        |ORDER BY cohort_day, offset_days""".stripMargin),

    // behavioral path mining: each user-day's event types in event-time
    // order collapse to a path string, identical paths counted corpus-wide
    // — per-group lists bounded by one user's one day, sorted in-task
    QuerySpec("q_session_paths", (s, dir) => {
      streaming.Events.dailyPaths(streaming.Events.readEvents(s, dir))
        .orderBy(col("n_user_days").desc, col("path"))
        .limit(50)
    }, oracle =
      """WITH p AS (
        |  SELECT user_id, date_trunc('day', ts)::DATE AS day,
        |         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        |  FROM events GROUP BY user_id, day)
        |SELECT path, CAST(COUNT(*) AS BIGINT) AS n_user_days
        |FROM p GROUP BY path
        |ORDER BY n_user_days DESC, path LIMIT 50""".stripMargin),

    // ordered funnel conversion: first view → first click strictly after
    // it → first purchase strictly after that, per user, in ONE pass over
    // the event table (sorted-group fold; the N-pass conditional-min
    // alternative scans it `steps` times). Long format: one row per
    // achieved step, times as epoch micros (tz-proof hash compare)
    QuerySpec("q_funnel", (s, dir) => {
      streaming.Events.funnel(streaming.Events.readEvents(s, dir),
        Seq("view", "click", "purchase"))
        .orderBy("user_id", "step")
    }, oracle =
      // sequential semantics pinned by the CTE chain: each step's MIN(ts)
      // is constrained strictly after the previous step's achieved time
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT user_id, CAST(1 AS INTEGER) AS step, 'view' AS step_name,
        |       CAST(epoch_us(t) AS BIGINT) AS t_us FROM s1
        |UNION ALL
        |SELECT user_id, CAST(2 AS INTEGER), 'click',
        |       CAST(epoch_us(t) AS BIGINT) FROM s2
        |UNION ALL
        |SELECT user_id, CAST(3 AS INTEGER), 'purchase',
        |       CAST(epoch_us(t) AS BIGINT) FROM s3
        |ORDER BY user_id, step""".stripMargin),

    // gap-filled daily value series: sparse per-(user, day) totals
    // densified onto each user's [first, last]-day spine, missing days
    // forward-filled from the last observed total — sparse events → a
    // regular time-series feature table
    QuerySpec("q_gap_fill", (s, dir) => {
      streaming.Events.gapFillDaily(streaming.Events.readEvents(s, dir))
        .select(col("user_id"),
          date_format(col("day"), "yyyy-MM-dd").as("day"),
          round(col("v_fill"), 6).as("v_fill_r"), col("observed"))
        .orderBy("user_id", "day")
    }, oracle =
      """WITH daily AS (
        |  SELECT user_id, date_trunc('day', ts)::DATE AS day,
        |         SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0 AS v
        |  FROM events GROUP BY 1, 2),
        |b AS (SELECT user_id, MIN(day) AS lo, MAX(day) AS hi
        |      FROM daily GROUP BY 1),
        |spine AS (
        |  SELECT user_id,
        |         unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS day
        |  FROM b),
        |j AS (
        |  SELECT s.user_id, s.day, d.v
        |  FROM spine s LEFT JOIN daily d
        |    ON s.user_id = d.user_id AND s.day = d.day)
        |SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
        |       ROUND(LAST_VALUE(v IGNORE NULLS)
        |               OVER (PARTITION BY user_id ORDER BY day
        |                     ROWS UNBOUNDED PRECEDING), 6) AS v_fill_r,
        |       v IS NOT NULL AS observed
        |FROM j ORDER BY user_id, day""".stripMargin),

    // time-weighted average value per user (each value holds until the
    // next event): one user-keyed shuffle, the lead() window bounded by
    // one user's events
    QuerySpec("q_twa", (s, dir) => {
      streaming.Events.timeWeightedAvg(streaming.Events.readEvents(s, dir))
        .orderBy("user_id")
    }, oracle =
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events),
        |d AS (
        |  SELECT user_id, value,
        |         LEAD(ts_us) OVER (PARTITION BY user_id
        |                           ORDER BY ts_us, event_id) - ts_us AS dt_us
        |  FROM e),
        |a AS (
        |  SELECT user_id,
        |         CAST(SUM(CAST(value AS DECIMAL(18,6)) * dt_us) AS DOUBLE) AS svdt,
        |         CAST(SUM(dt_us) AS BIGINT) AS span_us
        |  FROM d WHERE dt_us IS NOT NULL GROUP BY user_id)
        |SELECT user_id, ROUND(svdt / CAST(span_us AS DOUBLE), 6) AS twa_r, span_us
        |FROM a ORDER BY user_id""".stripMargin),

    // LEFT OUTER interval join: unmatched clicks survive with NULL view
    // columns — the orphan-conversion rows an attribution pipeline must
    // surface, not drop
    QuerySpec("q_interval_join_outer", (s, dir) => {
      streaming.Events.clickViewIntervalJoinOuter(
        streaming.Events.readEvents(s, dir), "30 minutes")
        .orderBy("click_id", "view_id")
    }, oracle =
      // the same join LEFT OUTER: clicks with no in-window view keep a row
      """WITH e AS (
        |  SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |         event_type
        |  FROM events)
        |SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
        |       c.ts_us - v.ts_us AS gap_us
        |FROM (SELECT * FROM e WHERE event_type = 'click') c
        |LEFT JOIN (SELECT * FROM e WHERE event_type = 'view') v
        |  ON c.user_id = v.user_id
        | AND v.ts_us BETWEEN c.ts_us - 1800000000 AND c.ts_us
        |ORDER BY click_id, view_id""".stripMargin),

    // funnel stall analysis: exact nearest-rank quantiles of each step
    // transition's conversion latency (integer micros end-to-end)
    QuerySpec("q_conversion_latency", (s, dir) => {
      streaming.Events.conversionLatencyQuantiles(
        streaming.Events.readEvents(s, dir),
        Seq("view", "click", "purchase"),
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L))))
        .orderBy("transition", "quantile")
    }, oracle =
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |l AS (
        |  SELECT s1.user_id, 'view>click' AS transition,
        |         epoch_us(s2.t) - epoch_us(s1.t) AS lat_us
        |  FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL
        |  SELECT s2.user_id, 'click>purchase',
        |         epoch_us(s3.t) - epoch_us(s2.t)
        |  FROM s2 JOIN s3 USING (user_id)),
        |h AS (
        |  SELECT transition, lat_us,
        |         ('0x' || substr(md5(COALESCE(CAST(user_id AS VARCHAR), 'null') || '#conv'), 1, 15))::BIGINT AS hh,
        |         user_id
        |  FROM l),
        |r AS (
        |  SELECT transition, lat_us,
        |         ROW_NUMBER() OVER (PARTITION BY transition
        |                            ORDER BY lat_us, hh, user_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY transition) AS c
        |  FROM h),
        |q(quantile, num, den) AS (VALUES ('p50', 50, 100), ('p90', 90, 100))
        |SELECT transition, quantile, lat_us
        |FROM r JOIN q ON rn = GREATEST((c * num + den - 1) // den, 1)
        |ORDER BY transition, quantile""".stripMargin),

    // sketch-rollup pattern: per-day HLL sketches merged to weekly
    // estimates WITHOUT re-touching rows (what a pipeline persists +
    // unions for any ad-hoc range); ok = merged estimate within 5% of
    // the exact recomputation, covering build + merge + estimate
    QuerySpec("q_hll_rollup", (s, dir) => {
      ops.Sketches.hllWeeklyRollup(
        streaming.Events.readEvents(s, dir), "user_id", tol = 0.05)
        .orderBy("week")
    }, oracle =
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin),

    // quantile-sketch rollup (the HLL pattern for order statistics):
    // per-day KLL sketches merged to weekly p50/p90/p99 WITHOUT
    // re-touching rows; ok = every estimate's true rank interval within
    // 3% of its target — covering build + merge + estimate
    QuerySpec("q_kll_rollup", (s, dir) => {
      ops.Sketches.kllWeeklyQuantileRollup(
        streaming.Events.readEvents(s, dir), "value",
        Seq(0.5, 0.9, 0.99))
        .orderBy("week")
    }, oracle =
      // exact weekly non-null counts; ok = 1 is the KLL rank-interval
      // contract the Spark side machine-checks
      """SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS week,
        |       CAST(COUNT(value) AS BIGINT) AS n,
        |       CAST(1 AS BIGINT) AS ok
        |FROM events GROUP BY 1 ORDER BY week""".stripMargin),

    // audience overlap via theta sketches — the set operation HLL can't
    // do: per-event-type sketches of user_id, pairwise INTERSECTION
    // estimates machine-checked against the exact overlap counts
    QuerySpec("q_theta_overlap", (s, dir) => {
      ops.Sketches.thetaPairOverlap(
        streaming.Events.readEvents(s, dir), "event_type", "user_id")
        .orderBy("g_a", "g_b")
    }, oracle =
      // exact per-type distinct users and pairwise overlaps; ok = 1 is the
      // theta-intersection accuracy contract
      """WITH mem AS (SELECT DISTINCT event_type AS g, user_id AS k FROM events),
        |per AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n FROM mem GROUP BY g),
        |ov AS (SELECT a.g AS g_a, b.g AS g_b, CAST(COUNT(*) AS BIGINT) AS n_both
        |       FROM mem a JOIN mem b ON a.k = b.k AND a.g < b.g
        |       GROUP BY 1, 2)
        |SELECT p1.g AS g_a, p2.g AS g_b, p1.n AS n_a, p2.n AS n_b,
        |       COALESCE(ov.n_both, 0) AS n_both, CAST(1 AS BIGINT) AS ok
        |FROM per p1 JOIN per p2 ON p1.g < p2.g
        |LEFT JOIN ov ON ov.g_a = p1.g AND ov.g_b = p2.g
        |ORDER BY g_a, g_b""".stripMargin),

    // recurrence cadence: exact nearest-rank quantiles of same-type
    // inter-event gaps per type — integer micros end-to-end, the lag()
    // window bounded by one user's one-type stream
    QuerySpec("q_interarrival", (s, dir) => {
      streaming.Events.interarrivalQuantiles(
        streaming.Events.readEvents(s, dir),
        Map("p50" -> ((50L, 100L)), "p90" -> ((90L, 100L)),
          "p99" -> ((99L, 100L))))
        .orderBy("event_type", "quantile")
    }, oracle =
      """WITH g AS (
        |  SELECT event_id, event_type,
        |         epoch_us(ts) - LAG(epoch_us(ts)) OVER (
        |           PARTITION BY user_id, event_type
        |           ORDER BY epoch_us(ts), event_id) AS gap_us
        |  FROM events),
        |h AS (
        |  SELECT event_id, event_type, gap_us,
        |         ('0x' || substr(md5(COALESCE(CAST(event_id AS VARCHAR), 'null') || '#gap'), 1, 15))::BIGINT AS h
        |  FROM g WHERE gap_us IS NOT NULL),
        |r AS (
        |  SELECT event_type, gap_us,
        |         ROW_NUMBER() OVER (PARTITION BY event_type
        |                            ORDER BY gap_us, h, event_id) AS rn,
        |         COUNT(*) OVER (PARTITION BY event_type) AS c
        |  FROM h),
        |q(quantile, num, den) AS (
        |  VALUES ('p50', 50, 100), ('p90', 90, 100), ('p99', 99, 100))
        |SELECT event_type, quantile, gap_us
        |FROM r JOIN q ON rn = GREATEST((c * num + den - 1) // den, 1)
        |ORDER BY event_type, quantile""".stripMargin),

    // market-basket pair mining over user-day baskets: co-presence counts
    // + exact-arithmetic lift (integer products, one IEEE division) —
    // pairs generated map-side per basket, marginals re-aggregated from
    // the basket table, never a second events pass
    QuerySpec("q_basket_pairs", (s, dir) => {
      streaming.Events.basketPairs(
        streaming.Events.readEvents(s, dir), minSupport = 2L)
        .orderBy("a", "b")
    }, oracle =
      // the oracle mines pairs by positional self-join over the distinct
      // (user, day, type) table — an independent algorithm from the
      // per-basket map-side generator under test
      """WITH ut AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day,
        |         event_type
        |  FROM events),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_baskets
        |       FROM (SELECT DISTINCT user_id, day FROM ut)),
        |m AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c
        |      FROM ut GROUP BY 1),
        |p AS (
        |  SELECT x.event_type AS a, y.event_type AS b,
        |         CAST(COUNT(*) AS BIGINT) AS c12
        |  FROM ut x JOIN ut y
        |    ON x.user_id = y.user_id AND x.day = y.day
        |   AND x.event_type < y.event_type
        |  GROUP BY 1, 2)
        |SELECT p.a, p.b, c12, ma.c AS c1, mb.c AS c2, n_baskets,
        |       ROUND(CAST(n_baskets * c12 AS DOUBLE)
        |             / CAST(ma.c * mb.c AS DOUBLE), 6) AS lift_r
        |FROM p JOIN m ma ON p.a = ma.event_type
        |       JOIN m mb ON p.b = mb.event_type
        |       CROSS JOIN nb
        |WHERE c12 >= 2 ORDER BY a, b""".stripMargin),

    // trailing-7-day distinct active users per day (the WAU curve):
    // map-side fan-out of the deduped user-day table onto the report
    // days it covers — never a per-day window join over raw events
    QuerySpec("q_rolling_active", (s, dir) => {
      streaming.Events.rollingActiveUsers(
        streaming.Events.readEvents(s, dir), windowDays = 7)
        .select(date_format(col("report_day"), "yyyy-MM-dd").as("report_day"),
          col("active_users"))
        .orderBy("report_day")
    }, oracle =
      // the oracle counts by band join over a generated day spine — the
      // window-join spelling of the fan-out construction under test
      """WITH ud AS (
        |  SELECT DISTINCT user_id, date_trunc('day', ts)::DATE AS day
        |  FROM events),
        |spine AS (
        |  SELECT unnest(generate_series(mn, mx, INTERVAL 1 DAY))::DATE AS d
        |  FROM (SELECT MIN(day) AS mn, MAX(day) AS mx FROM ud))
        |SELECT strftime(d, '%Y-%m-%d') AS report_day,
        |       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS active_users
        |FROM spine JOIN ud
        |  ON ud.day BETWEEN d - INTERVAL 6 DAY AND d
        |GROUP BY d ORDER BY report_day""".stripMargin)
  )
}
