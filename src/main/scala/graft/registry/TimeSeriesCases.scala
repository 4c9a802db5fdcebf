package graft.registry

import org.apache.spark.sql.functions._
import graft.SparkEntry.T
import graft.ops.{Joins, Rollups, Sequences, TimeSeries}
import graft.registry.Check.Oracle

/** Event time series: windows, sessions, as-of and interval joins,
  * funnels and attribution, smoothing and change detection. */
private[graft] object TimeSeriesCases {

  val cases: Seq[Case] = Seq(
    // ---- windows, sessions and time joins -------------------------------
    Case("q_window_events", Oracle(
      "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h, COUNT(*) AS n FROM events GROUP BY 1 ORDER BY h"))((s, dir) => {
      T(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("h"), col("n")).orderBy("h")
    }),
    Case("q_session_window", Oracle(
      // gaps-and-islands: new session only when STRICTLY more than the gap
      // since the previous event (Spark merges an event landing exactly on
      // prev+gap — verified in StreamingSpec)
      ("WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t FROM events), " +
        "m AS (SELECT user_id, t, CASE WHEN t - lag(t) OVER (PARTITION BY user_id ORDER BY t) > INTERVAL 30 MINUTE " +
        "OR lag(t) OVER (PARTITION BY user_id ORDER BY t) IS NULL THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, t, SUM(new_s) OVER (PARTITION BY user_id ORDER BY t ROWS UNBOUNDED PRECEDING) AS sid FROM m) " +
        "SELECT MIN(t) AS session_start, user_id, COUNT(*) AS n FROM s GROUP BY user_id, sid " +
        "ORDER BY user_id NULLS FIRST, session_start NULLS FIRST")))((s, dir) => {
      // batch parity of the streaming session-window operator (same code
      // path minus watermark): 30-min-gap sessions per user
      graft.streaming.StreamingValidate.sessionCounts(
        T(s, dir, "events"), "ts", "user_id", "30 minutes")
        .orderBy("user_id", "session_start")
    }),
    Case("q_asof", Oracle(
      // DuckDB's native ASOF LEFT JOIN is the reference semantics the
      // union-window encoding must reproduce
      ("WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT c.event_id, p.pv FROM c ASOF LEFT JOIN p ON c.user_id = p.user_id AND c.t >= p.t ORDER BY c.event_id")))((s, dir) => {
      // as-of join: most recent purchase value at-or-before each click,
      // per user — union + per-key window, ONE shuffle, no join operator
      // (see Joins.asofJoin). Right side pre-aggregated to unique
      // (user_id, ts) so ties are well-defined on both engines.
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts")
        .select(col("event_id"), col("pv")).orderBy("event_id")
    }),
    Case("q_asof_tolerance", Oracle(
      // no ASOF-with-tolerance in SQL — the correlated latest-fresh-row
      // subquery is the defining form
      ("WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT c.event_id, (SELECT p.pv FROM p WHERE p.user_id = c.user_id AND p.t <= c.t " +
        "AND c.t - p.t <= INTERVAL 2 HOUR ORDER BY p.t DESC LIMIT 1) AS pv " +
        "FROM c ORDER BY c.event_id")))((s, dir) => {
      // bounded-staleness variant: a purchase only matches within 2 hours
      // before the click — the "join telemetry to the latest fresh
      // snapshot" shape; stale matches null out rather than attach
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        tolerance = Some(expr("INTERVAL 2 HOURS")))
        .select(col("event_id"), col("pv")).orderBy("event_id")
    }),
    Case("q_asof_nearest", Oracle(
      // exact-microsecond distances; at equal distance p.t ASC picks the
      // earlier (= backward) row, matching the engine's tie rule
      ("WITH c AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t FROM events WHERE event_type = 'click'), " +
        "p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS t, max(value) AS pv FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) " +
        "SELECT c.event_id, (SELECT p.pv FROM p WHERE p.user_id = c.user_id " +
        "AND c.t IS NOT NULL AND p.t IS NOT NULL " +
        "ORDER BY abs(epoch_us(c.t) - epoch_us(p.t)), p.t ASC LIMIT 1) AS pv " +
        "FROM c ORDER BY c.event_id")))((s, dir) => {
      // nearest-direction as-of (pandas merge_asof parity): closest
      // purchase on either side, backward winning ties
      val ev = T(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts")).agg(max(col("value")).as("pv"))
      Joins.asofJoin(clicks, purchases, Seq("user_id"), "ts", "ts",
        direction = "nearest")
        .select(col("event_id"), col("pv")).orderBy("event_id")
    }),
    Case("q_interval_merge", Oracle(
      // identical gaps-and-islands: running max end over strictly-preceding
      // rows, new island on start STRICTLY past it (touch merges), island
      // ordinal by cumulative flag; per-island roll-up
      ("WITH iv AS (SELECT user_id % 50 AS k, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS s, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) + 300 + event_id % 7200 AS e " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_id IS NOT NULL), " +
        "m AS (SELECT k, s, e, max(e) OVER (PARTITION BY k ORDER BY s, e " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm FROM iv WHERE e >= s), " +
        "g AS (SELECT k, s, e, sum(CASE WHEN pm IS NULL OR s > pm THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING) - 1 AS island FROM m) " +
        "SELECT k, CAST(island AS BIGINT) AS island, min(s) AS s, max(e) AS e, " +
        "count(*) AS n_merged FROM g GROUP BY k, island ORDER BY k, island")))((s, dir) => {
      // gaps-and-islands interval coalescing over epoch-second intervals
      // synthesized from events (duration varies with event_id so islands
      // mix singletons and long chains; user_id%50 densifies overlap);
      // the oracle mirrors the same running-max + cumulative-flag windows
      val sec = unix_timestamp(col("ts"))
      val iv = T(s, dir, "events")
        .filter(col("user_id").isNotNull && col("ts").isNotNull &&
          col("event_id").isNotNull)
        .select((col("user_id") % 50).as("k"), sec.as("s"),
          (sec + lit(300L) + col("event_id") % 7200).as("e"))
      TimeSeries.mergeIntervals(iv, "k", "s", "e").orderBy("k", "island")
    }),
    Case("q_sessionize", Oracle(
      // the q_session_window island form on FLOORED epoch seconds (the
      // engine's unix_timestamp gap base), keeping per-row session ids;
      // equal-second runs share a session whatever their internal order,
      // so the (sec, event_id) ordering here matches the engine's
      // (ts, event_id)
      ("WITH e AS (SELECT event_id, user_id, " +
        "CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sec " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "m AS (SELECT user_id, event_id, sec, CASE WHEN lag(sec) OVER " +
        "(PARTITION BY user_id ORDER BY sec, event_id) IS NULL OR " +
        "sec - lag(sec) OVER (PARTITION BY user_id ORDER BY sec, event_id) > 1800 " +
        "THEN 1 ELSE 0 END AS new_s FROM e), " +
        "s AS (SELECT user_id, sec, sum(new_s) OVER (PARTITION BY user_id " +
        "ORDER BY sec, event_id ROWS UNBOUNDED PRECEDING) - 1 AS sid FROM m) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS session_id, count(*) AS n_events, " +
        "min(sec) AS t_start, max(sec) AS t_end FROM s " +
        "GROUP BY user_id, sid ORDER BY user_id, session_id")))((s, dir) => {
      // batch row-level sessionization (30-min gap, event_id tiebreak)
      // rolled up to per-session stats; session identity is order-
      // independent within an equal-second run (gap 0), so the oracle's
      // (sec, event_id) ordering and the engine's (ts, event_id) ordering
      // assign identical sessions
      val sess = TimeSeries.sessionize(T(s, dir, "events"), "user_id", "ts",
        "event_id", gapSeconds = 1800)
      sess.groupBy(col("user_id"), col("session_id"))
        .agg(count(lit(1)).as("n_events"),
          min(unix_timestamp(col("ts"))).as("t_start"),
          max(unix_timestamp(col("ts"))).as("t_end"))
        .orderBy("user_id", "session_id")
    }),
    Case("q_range_join", Oracle(
      ("WITH r AS (SELECT o_orderkey AS rid, o_totalprice * 0.5 AS lo, o_totalprice * 0.5 + 1000.0 AS hi " +
        "FROM orders WHERE o_orderkey < 50) " +
        "SELECT l.l_orderkey, l.l_linenumber, r.rid FROM lineitem l JOIN r " +
        "ON l.l_extendedprice >= r.lo AND l.l_extendedprice < r.hi " +
        "ORDER BY l.l_orderkey, l.l_linenumber, r.rid")))((s, dir) => {
      // interval containment as a bin-overlap EQUI-join (never a nested
      // loop): 49 price brackets derived from orders, each width 1000 =
      // the bin width, so a range spans ≤ 2 bins
      val points = T(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      val ranges = T(s, dir, "orders").filter(col("o_orderkey") < 50)
        .select(col("o_orderkey").as("rid"),
          (col("o_totalprice") * 0.5).as("lo"),
          (col("o_totalprice") * 0.5 + 1000.0).as("hi"))
      Joins.rangeJoin(points, ranges, "l_extendedprice", "lo", "hi", binWidth = 1000.0)
        .select(col("l_orderkey"), col("l_linenumber"), col("rid"))
        .orderBy("l_orderkey", "l_linenumber", "rid")
    }),
    Case("q_interval_join", Oracle(
      // plain non-equi overlap join at oracle scale — the bin blocking +
      // canonical-bin dedup must be invisible in the pair set
      ("WITH l AS (SELECT o_orderkey AS a_key, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS lo " +
        "FROM orders WHERE o_orderkey % 97 = 0), " +
        "r AS (SELECT o_orderkey AS b_key, CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS DOUBLE) AS lo " +
        "FROM orders WHERE o_orderkey % 89 = 3) " +
        "SELECT a_key, b_key FROM l JOIN r ON l.lo < r.lo + 3.0 AND r.lo < l.lo + 7.0 " +
        "ORDER BY a_key, b_key")))((s, dir) => {
      // interval×interval overlap join: 7-day order windows (keys %97)
      // against 3-day windows (keys %89≡3) from the same calendar —
      // bin-blocked with canonical-bin dedup, mirrored as a plain
      // non-equi join at oracle scale
      val o = T(s, dir, "orders")
      val left = o.filter(col("o_orderkey") % 97 === 0)
        .select(col("o_orderkey").as("a_key"),
          unix_date(to_date(col("o_orderdate"))).cast("double").as("a_lo"))
        .withColumn("a_hi", col("a_lo") + 7.0)
      val right = o.filter(col("o_orderkey") % 89 === 3)
        .select(col("o_orderkey").as("b_key"),
          unix_date(to_date(col("o_orderdate"))).cast("double").as("b_lo"))
        .withColumn("b_hi", col("b_lo") + 3.0)
      Joins.intervalJoin(left, right, "a_lo", "a_hi", "b_lo", "b_hi", binWidth = 7.0)
        .select("a_key", "b_key").orderBy("a_key", "b_key")
    }),
    Case("q_locf", Oracle(
      // the IGNORE NULLS running last-value window, identical ordering
      ("WITH e AS (SELECT event_id, user_id, ts, " +
        "CASE WHEN event_id % 3 = 0 THEN NULL ELSE value END AS value FROM events) " +
        "SELECT event_id, user_id, ts, " +
        "last_value(value IGNORE NULLS) OVER w AS value, " +
        "(value IS NULL AND last_value(value IGNORE NULLS) OVER w IS NOT NULL) AS was_filled " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "ORDER BY event_id")))((s, dir) => {
      // forward-fill per user over a deterministic missingness pattern
      // (every event_id%3==0 reading dropped)
      val ev = T(s, dir, "events").select(col("event_id"), col("user_id"),
        col("ts"),
        when(col("event_id") % 3 === 0, lit(null).cast("double"))
          .otherwise(col("value")).as("value"))
      graft.ops.TimeSeries.locfFill(ev, "user_id", "ts", "event_id", "value")
        .orderBy("event_id")
    }),
    Case("q_resample_daily", Oracle(
      // per-(user, day) close by the day's final (ts, event_id), per-user
      // daily span grid, ASOF fill — DuckDB's native ASOF JOIN is the
      // reference semantics for the union-window LOCF encoding
      ("WITH o AS (SELECT user_id, ts, event_id, value FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL), " +
        "cl AS (SELECT user_id, CAST(ts AS DATE) AS day, value FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts DESC, event_id DESC) AS rn FROM o) WHERE rn = 1), " +
        "sp AS (SELECT user_id, CAST(min(ts) AS DATE) AS d0, CAST(max(ts) AS DATE) AS d1 FROM o GROUP BY 1), " +
        "g AS (SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day FROM sp) " +
        "SELECT g.user_id, g.day, cl.value FROM g ASOF JOIN cl " +
        "ON g.user_id = cl.user_id AND g.day >= cl.day ORDER BY g.user_id, g.day")))((s, dir) => {
      // irregular event values onto each user's own daily grid with
      // as-of fill — the daily-close convention
      graft.ops.TimeSeries.resampleDaily(T(s, dir, "events"),
          "user_id", "ts", "event_id", "value")
        .orderBy("user_id", "day")
    }),
    // ---- funnels and attribution ----------------------------------------
    Case("q_funnel", Oracle(
      // iterated earliest-next-step CTEs — the SQL spelling of greedy
      // funnel matching; every step ≥2 bounded by t_1 + 7 days
      ("WITH s1 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_1 FROM events " +
        "WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_2 FROM events e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t_1 AND CAST(e.ts AS TIMESTAMP) <= s1.t_1 + INTERVAL 7 DAY GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_3 FROM events e JOIN s2 ON e.user_id = s2.user_id JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t_2 AND CAST(e.ts AS TIMESTAMP) <= s1.t_1 + INTERVAL 7 DAY GROUP BY 1) " +
        "SELECT s1.user_id, CAST(CASE WHEN s3.t_3 IS NOT NULL THEN 3 WHEN s2.t_2 IS NOT NULL THEN 2 ELSE 1 END AS INTEGER) AS step_reached, " +
        "s1.t_1, s2.t_2, s3.t_3 FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id LEFT JOIN s3 ON s1.user_id = s3.user_id " +
        "ORDER BY s1.user_id")))((s, dir) => {
      // ordered-sequence funnel view→click→purchase, whole funnel bounded
      // to 7 days from the first view; greedy earliest-first matching
      Sequences.funnel(T(s, dir, "events"), "user_id", "ts", "event_type",
          Seq("view", "click", "purchase"),
          horizon = Some(expr("INTERVAL 7 DAYS")))
        .select(col("user_id"), col("step_reached"),
          col("t_1"), col("t_2"), col("t_3"))
        .orderBy("user_id")
    }),
    Case("q_funnel_counts", Oracle(
      ("WITH s1 AS (SELECT user_id, min(CAST(ts AS TIMESTAMP)) AS t_1 FROM events " +
        "WHERE event_type = 'view' AND user_id IS NOT NULL AND ts IS NOT NULL GROUP BY 1), " +
        "s2 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_2 FROM events e JOIN s1 ON e.user_id = s1.user_id " +
        "WHERE e.event_type = 'click' AND CAST(e.ts AS TIMESTAMP) > s1.t_1 GROUP BY 1), " +
        "s3 AS (SELECT e.user_id, min(CAST(e.ts AS TIMESTAMP)) AS t_3 FROM events e JOIN s2 ON e.user_id = s2.user_id " +
        "WHERE e.event_type = 'purchase' AND CAST(e.ts AS TIMESTAMP) > s2.t_2 GROUP BY 1) " +
        "SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_type, CAST((SELECT count(*) FROM s1) AS BIGINT) AS n_keys " +
        "UNION ALL SELECT CAST(2 AS INTEGER), 'click', CAST((SELECT count(*) FROM s2) AS BIGINT) " +
        "UNION ALL SELECT CAST(3 AS INTEGER), 'purchase', CAST((SELECT count(*) FROM s3) AS BIGINT) ORDER BY step")))((s, dir) => {
      // unbounded variant + the cumulative conversion report
      val f = Sequences.funnel(T(s, dir, "events"), "user_id", "ts",
        "event_type", Seq("view", "click", "purchase"))
      Sequences.funnelCounts(f, Seq("view", "click", "purchase")).orderBy("step")
    }),
    Case("q_transitions", Oracle(
      ("WITH o AS (SELECT user_id, event_type, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL) " +
        "SELECT prev AS from_event, event_type AS to_event, COUNT(*) AS n " +
        "FROM o WHERE prev IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2")))((s, dir) => {
      // corpus-wide event-transition counts per user session order,
      // event_id breaking timestamp ties
      Sequences.transitionCounts(T(s, dir, "events"), "user_id", "ts",
          "event_type", "event_id")
        .orderBy("from_event", "to_event")
    }),
    Case("q_retention", Oracle(
      ("WITH um AS (SELECT DISTINCT user_id AS u, CAST(year(ts) * 12 + month(ts) AS INTEGER) AS m " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "c AS (SELECT u, MIN(m) AS cm FROM um GROUP BY 1) " +
        "SELECT cm AS cohort_month, m - cm AS offset_m, COUNT(*) AS n_users " +
        "FROM um JOIN c USING (u) GROUP BY 1, 2 ORDER BY 1, 2")))((s, dir) => {
      // first-active-month cohorts × return offsets over the event
      // stream; months-since-epoch integer index on both engines
      Rollups.retentionCohorts(T(s, dir, "events"), "user_id", "ts")
        .orderBy("cohort_month", "offset_m")
    }),
    Case("q_attribution", Oracle(
      // identical IGNORE NULLS last-value window up to the previous row;
      // gap via second-boundary diff ≡ floor(unix) − floor(unix)
      ("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "a AS (SELECT user_id, ts, event_type, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS attributed_type, " +
        "last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS) OVER w AS attributed_ts " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, ts, attributed_type, attributed_ts, " +
        "CAST(date_diff('second', attributed_ts, ts) AS BIGINT) AS gap_seconds " +
        "FROM a WHERE event_type = 'purchase' ORDER BY user_id, ts")))((s, dir) => {
      // last-touch attribution: every purchase credited to the user's
      // most recent prior non-purchase event — one window, no join
      graft.ops.Sequences.lastTouchAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("user_id", "ts")
    }),
    Case("q_attribution_first", Oracle(
      // the q_attribution window with first_value — the gap is the same
      // second-boundary diff (== the engine's date_trunc interval diff)
      ("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL), " +
        "a AS (SELECT user_id, ts, event_type, " +
        "first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS) OVER w AS attributed_type, " +
        "first_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS) OVER w AS attributed_ts " +
        "FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
        "SELECT user_id, ts, attributed_type, attributed_ts, " +
        "CAST(date_diff('second', attributed_ts, ts) AS BIGINT) AS gap_seconds " +
        "FROM a WHERE event_type = 'purchase' ORDER BY user_id, ts")))((s, dir) => {
      // first-touch: the same window exchange, earliest prior touch —
      // "which channel first brought this user in"
      graft.ops.Sequences.firstTouchAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("user_id", "ts")
    }),
    Case("q_attribution_position", Oracle(
      // journey index = running count of PRIOR conversions; per-journey
      // touch rank/count windows; exact-double 40/20/40 weight arithmetic
      ("WITH e AS (SELECT user_id, ts, event_id, event_type FROM events " +
        "WHERE user_id IS NOT NULL AND ts IS NOT NULL AND event_type IS NOT NULL), " +
        "j AS (SELECT *, coalesce(CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) + 1 AS journey FROM e), " +
        "t AS (SELECT user_id, journey, ts AS touch_ts, event_type AS touch_type, " +
        "row_number() OVER (PARTITION BY user_id, journey ORDER BY ts, event_id) AS rn, " +
        "count(*) OVER (PARTITION BY user_id, journey) AS cnt " +
        "FROM j WHERE event_type <> 'purchase'), " +
        "c AS (SELECT user_id, journey, ts AS conv_ts FROM j WHERE event_type = 'purchase') " +
        "SELECT c.user_id, c.conv_ts, t.touch_ts, t.touch_type, " +
        "CASE WHEN t.cnt = 1 THEN CAST(1.0 AS DOUBLE) WHEN t.cnt = 2 THEN CAST(0.5 AS DOUBLE) " +
        "WHEN t.rn = 1 OR t.rn = t.cnt THEN CAST(0.4 AS DOUBLE) " +
        "ELSE 0.2 / CAST(t.cnt - 2 AS DOUBLE) END AS weight " +
        "FROM c JOIN t ON c.user_id = t.user_id AND c.journey = t.journey " +
        "ORDER BY c.user_id, conv_ts, touch_ts")))((s, dir) => {
      // U-shaped 40/20/40 multi-touch credit within each purchase journey
      graft.ops.Sequences.positionAttribution(T(s, dir, "events"),
          "user_id", "ts", "event_id", "event_type", "purchase")
        .orderBy("user_id", "conv_ts", "touch_ts")
    }),
    Case("q_rfm", Oracle(
      // cents-snapped DECIMAL spend, data-anchored recency, three ntile(5)
      // windows each on a TOTAL order (key tiebreak)
      ("WITH o AS (SELECT o_custkey, o_orderdate, " +
        "CAST(floor(o_totalprice*100 + 0.5)/100 AS DECIMAL(18,2)) AS spend " +
        "FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL), " +
        "an AS (SELECT CAST(max(o_orderdate) AS DATE) AS anchor FROM o), " +
        "k AS (SELECT o_custkey, CAST(date_diff('day', CAST(max(o_orderdate) AS DATE), an.anchor) AS BIGINT) AS recency_days, " +
        "count(*) AS frequency, sum(spend) AS monetary FROM o CROSS JOIN an GROUP BY 1, an.anchor) " +
        "SELECT o_custkey, recency_days, frequency, CAST(monetary AS DOUBLE) AS monetary, " +
        "CAST(ntile(5) OVER (ORDER BY recency_days DESC, o_custkey) AS INTEGER) AS r, " +
        "CAST(ntile(5) OVER (ORDER BY frequency ASC, o_custkey) AS INTEGER) AS f, " +
        "CAST(ntile(5) OVER (ORDER BY monetary ASC NULLS FIRST, o_custkey) AS INTEGER) AS m " +
        "FROM k ORDER BY o_custkey")))((s, dir) => {
      // RFM quintiles over orders; monetary pre-snapped to cents and
      // summed as DECIMAL (exact, order-free), output cast to double so
      // both engines' sum dtypes align
      val o = T(s, dir, "orders").select(col("o_custkey"),
        col("o_orderdate"),
        (floor(col("o_totalprice") * 100 + lit(0.5)) / 100)
          .cast("decimal(18,2)").as("spend"))
      graft.ops.Rollups.rfmSegments(o, "o_custkey", "o_orderdate", "spend")
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary").cast("double").as("monetary"),
          col("r"), col("f"), col("m"))
        .orderBy("o_custkey")
    }),
    Case("q_sla", Oracle(
      // quantile_cont ≡ the engine's percentile-over-array (one buffer,
      // same interpolation); 1e-9 floors
      ("SELECT event_type, CAST(count(*) AS BIGINT) AS n, " +
        "floor(quantile_cont(value, 0.5)*1e9 + 0.5)/1e9 AS p50, " +
        "floor(quantile_cont(value, 0.9)*1e9 + 0.5)/1e9 AS p90, " +
        "floor(quantile_cont(value, 0.99)*1e9 + 0.5)/1e9 AS p99 " +
        "FROM events WHERE value IS NOT NULL GROUP BY 1 ORDER BY event_type")))((s, dir) => {
      // the SLA table: per-type value percentiles as ONE
      // percentile-over-array aggregate per group
      graft.ops.Rollups.groupPercentiles(T(s, dir, "events"),
          Seq("event_type"), "value", Seq(0.5, 0.9, 0.99))
        .orderBy("event_type")
    }),
    // ---- smoothing and change detection ---------------------------------
    Case("q_rolling", Oracle(
      // identical 2^-20 grid snap; ROWS frame of 4 and a 1-day RANGE frame
      // over the truncated epoch second — every aggregate exact on the grid
      ("WITH e AS (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS t, floor(value * 1048576.0 + 0.5) / 1048576.0 AS v " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL) " +
        "SELECT event_id, lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id) AS lag_1, " +
        "round(v - lag(v) OVER (PARTITION BY user_id ORDER BY t, event_id), 6) AS delta, " +
        "round(avg(v) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS roll_avg, " +
        "min(v) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll_min, " +
        "max(v) OVER (PARTITION BY user_id ORDER BY t, event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS roll_max, " +
        "CAST(count(*) OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(t)) AS BIGINT) " +
        "RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_range " +
        "FROM e ORDER BY event_id")))((s, dir) => {
      // per-user rolling features; values snapped to a 2^-20 grid so every
      // frame aggregate (sums of ≤4 grid points, ÷4 a power of two) is
      // EXACT in both engines — the oracle compare is rounding-free in
      // spirit, the round(…,6) is belt-and-braces
      val ev = T(s, dir, "events").withColumn("v",
        floor(col("value") * 1048576.0 + 0.5) / 1048576.0)
      TimeSeries.rollingFeatures(ev, "user_id", "ts", "v", "event_id",
          rowFrame = 4, rangeSeconds = 86400)
        .select(col("event_id"), col("lag_1"),
          round(col("delta"), 6).as("delta"),
          round(col("roll_avg"), 6).as("roll_avg"),
          col("roll_min"), col("roll_max"), col("n_range"))
        .orderBy("event_id")
    }),
    Case("q_ewma", Oracle(
      // closed-form prefix spelling: y_t = β^rn · Σ_{i≤t} z_i·β^(−rn_i)
      // with z_0 = x_0, z_i = α·x_i — exponents ≤ the per-user row count,
      // safe at oracle scale; the engine's blocked scan must agree to 6dp
      ("WITH e AS (SELECT event_id, user_id, value, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS rn " +
        "FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL), " +
        "s AS (SELECT event_id, user_id, rn, power(0.9, -rn) * (CASE WHEN rn = 0 THEN value ELSE 0.1 * value END) AS zb FROM e), " +
        "p AS (SELECT event_id, user_id, rn, sum(zb) OVER (PARTITION BY user_id ORDER BY rn ROWS UNBOUNDED PRECEDING) AS pref FROM s) " +
        "SELECT event_id, round(power(0.9, rn) * pref, 6) AS ewma FROM p ORDER BY event_id")))((s, dir) => {
      // two-level blocked EWMA (α=0.1) vs the oracle's closed-form prefix
      // sum — machine-precision-equal by the forgetting argument, rounded
      // to 6dp for the cross-engine hash
      TimeSeries.ewma(T(s, dir, "events"), "user_id", "ts", "value",
          "event_id", alpha = 0.1, blockSize = 64)
        .select(col("event_id"), round(col("ewma"), 6).as("ewma"))
        .orderBy("event_id")
    }),
    Case("q_cusum", Oracle(
      // prefix-sum-minus-prefix-min closed form of max(0, S+d) in the
      // same DECIMAL(18,6) lane; target snapped at 1e-6 BEFORE the
      // decimal cast so no engine's double→decimal rounding rule fires
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "tg AS (SELECT event_type, floor(avg(n)*1e6 + 0.5)/1e6 AS target FROM daily WHERE day < DATE '2024-01-11' GROUP BY 1), " +
        "d AS (SELECT daily.event_type, day, n, CAST(n AS DECIMAL(18,6)) - CAST(target AS DECIMAL(18,6)) - CAST(1.0 AS DECIMAL(18,6)) AS dev " +
        "FROM daily JOIN tg USING (event_type)), " +
        "cc AS (SELECT event_type, day, n, sum(dev) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING) AS cum FROM d), " +
        "m AS (SELECT event_type, day, n, cum, least(min(cum) OVER (PARTITION BY event_type ORDER BY day ROWS UNBOUNDED PRECEDING), CAST(0 AS DECIMAL(18,6))) AS mn FROM cc) " +
        "SELECT event_type, day, n, floor(CAST(cum - mn AS DOUBLE)*1e6 + 0.5)/1e6 AS s_pos, " +
        "(floor(CAST(cum - mn AS DOUBLE)*1e6 + 0.5)/1e6) > 15.0 AS alarm FROM m ORDER BY event_type, day")))((s, dir) => {
      // CUSUM changepoint over per-type daily event counts with the
      // first-10-days mean as in-control target (snapped to 1e-6 so the
      // double→DECIMAL handoff is rounding-rule-proof on both engines)
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val targets = daily.filter(col("day") < lit("2024-01-11").cast("date"))
        .groupBy(col("event_type"))
        .agg((floor(avg(col("n")) * 1e6 + lit(0.5)) / 1e6).as("target"))
      graft.ops.TimeSeries.cusum(daily, "event_type", "day", "n",
          targets, "target", slack = 1.0, threshold = 15.0)
        .select(col("event_type"), col("day"), col("n"), col("s_pos"), col("alarm"))
        .orderBy("event_type", "day")
    }),
    Case("q_autocorr", Oracle(
      // identical lag pairing (rows with no partner drop) and the
      // correlationMatrix decimal-moment closed form per (key, lag)
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), " +
        "l AS (SELECT event_type, n, lag(n, 1) OVER w AS y1, lag(n, 2) OVER w AS y2, lag(n, 3) OVER w AS y3 " +
        "FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day)), " +
        "p AS (SELECT event_type, 1 AS lg, n AS x, y1 AS y FROM l WHERE y1 IS NOT NULL " +
        "UNION ALL SELECT event_type, 2, n, y2 FROM l WHERE y2 IS NOT NULL " +
        "UNION ALL SELECT event_type, 3, n, y3 FROM l WHERE y3 IS NOT NULL), " +
        "m AS (SELECT event_type, lg, count(*) AS n, " +
        "sum(CAST(x AS DECIMAL(18,6))) AS sx, sum(CAST(y AS DECIMAL(18,6))) AS sy, " +
        "sum(CAST(x AS DECIMAL(18,6))*CAST(y AS DECIMAL(18,6))) AS sxy, " +
        "sum(CAST(x AS DECIMAL(18,6))*CAST(x AS DECIMAL(18,6))) AS sxx, " +
        "sum(CAST(y AS DECIMAL(18,6))*CAST(y AS DECIMAL(18,6))) AS syy FROM p GROUP BY 1, 2) " +
        "SELECT event_type, CAST(lg AS INTEGER) AS lag, n, " +
        "CASE WHEN n >= 2 AND (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) > 0 " +
        "AND (CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)) > 0 THEN " +
        "floor((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) / " +
        "sqrt((CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) * " +
        "(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))) * 1e9 + 0.5)/1e9 " +
        "END AS acf FROM m ORDER BY event_type, lag")))((s, dir) => {
      // ACF at lags 1..3 of the same per-type daily count series — the
      // weekly-rhythm / persistence audit
      val daily = T(s, dir, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.autocorrelation(daily, "event_type", "day", "n", maxLag = 3)
        .orderBy("event_type", "lag")
    }),
    Case("q_pop", Oracle(
      // months-since-epoch integer bucketing (the retention convention),
      // exact DECIMAL totals, delta in decimal cast once, 1e-9 pct floor
      ("WITH m AS (SELECT (year(o_orderdate)*12 + month(o_orderdate) - 1 - 12*1970) AS mi, " +
        "count(*) AS n, sum(CAST(floor(o_totalprice*1e6 + 0.5)/1e6 AS DECIMAL(28,6))) AS t " +
        "FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1), " +
        "l AS (SELECT *, lag(t) OVER (ORDER BY mi) AS p FROM m) " +
        "SELECT CAST(DATE '1970-01-01' + to_months(CAST(mi AS INTEGER)) AS DATE) AS month, " +
        "n, CAST(t AS DOUBLE) AS total, CAST(p AS DOUBLE) AS prev_total, " +
        "CAST(t - p AS DOUBLE) AS delta, " +
        "CASE WHEN p IS NOT NULL AND p <> 0 THEN floor((CAST(t - p AS DOUBLE)/CAST(p AS DOUBLE))*1e9 + 0.5)/1e9 END AS pct_change " +
        "FROM l ORDER BY month")))((s, dir) => {
      // month-over-month order mass with deltas and percent change
      graft.ops.Rollups.periodOverPeriod(T(s, dir, "orders"),
          "o_orderdate", "o_totalprice")
        .orderBy("month")
    }),
    Case("q_holt", Oracle(
      // the exact snapped fold replayed via list_reduce with a [l,b]
      // list accumulator; (1.0 - 0.5)/(1.0 - 0.3) written as runtime
      // subtractions so both engines fold the identical double
      ("WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS DOUBLE) AS v " +
        "FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "s AS (SELECT event_type, list(v ORDER BY day) AS ys FROM daily GROUP BY 1 HAVING count(*) >= 2), " +
        "f AS (SELECT event_type, CAST(len(ys) AS BIGINT) AS n, " +
        "list_reduce(list_prepend([floor(ys[1]/1e-12 + 0.5)*1e-12, floor((ys[2]-ys[1])/1e-12 + 0.5)*1e-12]::DOUBLE[], " +
        "list_transform(ys[2:], y -> [y, 0.0]::DOUBLE[])), " +
        "(acc, y) -> [floor((0.5*y[1] + (1.0 - 0.5)*(acc[1] + acc[2]))/1e-12 + 0.5)*1e-12, " +
        "floor((0.3*(floor((0.5*y[1] + (1.0 - 0.5)*(acc[1] + acc[2]))/1e-12 + 0.5)*1e-12 - acc[1]) + (1.0 - 0.3)*acc[2])/1e-12 + 0.5)*1e-12]::DOUBLE[]) AS st " +
        "FROM s) " +
        "SELECT event_type, n, st[1] AS level, st[2] AS trend, " +
        "floor((st[1] + 7.0*st[2])/1e-12 + 0.5)*1e-12 AS forecast " +
        "FROM f ORDER BY event_type")))((s, dir) => {
      // Holt level+trend over the 5 per-type daily count series (the
      // CUSUM fixture); the oracle replays the fold via list_reduce
      val daily = T(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.holtSmooth(daily, "event_type", "day", "n",
          alpha = 0.5, beta = 0.3, horizon = 7)
        .orderBy("event_type")
    }),
    Case("q_seasonal", Oracle(
      // 1e-6-snapped DECIMAL window sums (window summation ORDER is
      // engine-internal — exact decimal sums are the only stable form),
      // phase means re-centered by the key mean, 1e-9 floors
      ("WITH daily AS (SELECT event_type AS k, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n " +
        "FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL GROUP BY 1, 2), " +
        "b AS (SELECT k, day, n, CAST(floor(CAST(n AS DOUBLE)*1e6 + 0.5)/1e6 AS DECIMAL(28,6)) AS v6, " +
        "row_number() OVER (PARTITION BY k ORDER BY day) AS idx FROM daily), " +
        "t AS (SELECT *, CASE WHEN count(v6) OVER w = 7 THEN " +
        "floor((CAST(sum(v6) OVER w AS DOUBLE)/7.0)*1e9 + 0.5)/1e9 END AS trend, " +
        "(idx - 1) % 7 AS phase FROM b " +
        "WINDOW w AS (PARTITION BY k ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), " +
        "dd AS (SELECT *, CAST(floor((CAST(v6 AS DOUBLE) - trend)*1e9 + 0.5)/1e9 AS DECIMAL(28,9)) AS d FROM t), " +
        "mm AS (SELECT *, CAST(sum(d) OVER (PARTITION BY k, phase) AS DOUBLE)/CAST(count(d) OVER (PARTITION BY k, phase) AS DOUBLE) AS pm, " +
        "CAST(sum(d) OVER (PARTITION BY k) AS DOUBLE)/CAST(count(d) OVER (PARTITION BY k) AS DOUBLE) AS gm FROM dd) " +
        "SELECT k AS event_type, day, n, trend, " +
        "CASE WHEN pm IS NOT NULL AND gm IS NOT NULL THEN floor((pm - gm)*1e9 + 0.5)/1e9 END AS seasonal, " +
        "CASE WHEN trend IS NOT NULL AND pm IS NOT NULL AND gm IS NOT NULL THEN " +
        "floor((CAST(v6 AS DOUBLE) - trend - floor((pm - gm)*1e9 + 0.5)/1e9)*1e9 + 0.5)/1e9 END AS resid " +
        "FROM mm ORDER BY event_type, day")))((s, dir) => {
      // weekly additive decomposition of the same daily series
      val daily = T(s, dir, "events")
        .filter(col("event_type").isNotNull && col("ts").isNotNull)
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      graft.ops.TimeSeries.seasonalDecompose(daily, "event_type", "day",
          "n", period = 7)
        .orderBy("event_type", "day")
    }),
  )
}
