package graft
package queries

import graft.operators.{Fraud, Windows}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's window and fraud surface in batch form (tumbling,
  * sliding, session, cumulative windows, count-or-time triggers,
  * threshold alerts), plus the event-time analytics built on the same
  * per-key time order: sessions, funnels, cohorts, resampling and
  * change detection.
  */
object WindowQueries {

  import Parity.dec

  val all: Seq[Query] = Seq(
    Query("w_tumbling_sum",
      """SELECT user_id,
        |  (CAST(floor(epoch(ts)) AS BIGINT) // 21600) * 21600 AS ws,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY user_id, ws""".stripMargin)((s, dir) =>
      Windows.tumblingAgg(Tables.events(s, dir), "user_id", "ts", "value", 21600)),

    Query("w_sliding_mean",
      """SELECT event_type, ws, CAST(sum_dec AS DOUBLE) AS sum_val, cnt,
        |  CAST(sum_dec * 100 AS BIGINT) // cnt AS mean_cents
        |FROM (
        |  SELECT event_type,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 900) - g.g) * 900 AS ws,
        |    SUM(CAST(value AS DECIMAL(10,2))) AS sum_dec,
        |    COUNT(*) AS cnt
        |  FROM events, range(4) g(g)
        |  GROUP BY event_type, ws)""".stripMargin)((s, dir) =>
      Windows.slidingAgg(Tables.events(s, dir), "event_type", "ts", "value", 3600, 900)),

    Query("w_sliding_pane",
      """SELECT event_type, ws, CAST(sum_dec AS DOUBLE) AS sum_val, cnt,
        |  CAST(sum_dec * 100 AS BIGINT) // cnt AS mean_cents
        |FROM (
        |  SELECT event_type,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 900) - g.g) * 900 AS ws,
        |    SUM(CAST(value AS DECIMAL(10,2))) AS sum_dec,
        |    COUNT(*) AS cnt
        |  FROM events, range(4) g(g)
        |  GROUP BY event_type, ws)""".stripMargin)((s, dir) =>
      Windows.paneSlidingAgg(Tables.events(s, dir), "event_type", "ts", "value", 3600, 900)),

    Query("w_session",
      """WITH t AS (
        |  SELECT user_id, value, event_id, epoch(ts) AS te,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS tsec
        |  FROM events),
        |m AS (
        |  SELECT *, CASE WHEN lag(te) OVER w IS NULL
        |                   OR te - lag(te) OVER w >= 1800 THEN 1 ELSE 0 END AS brk
        |  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY te, event_id)),
        |g AS (
        |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY te, event_id
        |                           ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m)
        |SELECT user_id, MIN(tsec) AS sess_start,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM g GROUP BY user_id, grp""".stripMargin)((s, dir) =>
      Windows.sessionAgg(Tables.events(s, dir), "user_id", "ts", "value", 1800)),

    Query("w_cumulative",
      """WITH w AS (
        |  SELECT user_id,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS ws,
        |    SUM(CAST(value AS DECIMAL(10,2))) AS sum_dec
        |  FROM events GROUP BY user_id, ws)
        |SELECT user_id, ws, CAST(sum_dec AS DOUBLE) AS sum_val,
        |  CAST(SUM(sum_dec) OVER (PARTITION BY user_id ORDER BY ws
        |                          ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_sum
        |FROM w""".stripMargin)((s, dir) =>
      Windows.cumulativeWindowSum(Tables.events(s, dir), "user_id", "ts", "value", 86400)),

    Query("trigger_chunks",
      """WITH r AS (
        |  SELECT event_type, value,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS ws,
        |    row_number() OVER (PARTITION BY event_type,
        |        (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400
        |      ORDER BY ts, event_id) AS rn
        |  FROM events)
        |SELECT event_type, ws, (rn - 1) // 5 AS chunk,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) * 100 AS BIGINT) // COUNT(*) AS mean_cents
        |FROM r GROUP BY event_type, ws, chunk""".stripMargin)((s, dir) =>
      Windows.triggerChunks(Tables.events(s, dir), "event_type", "ts", "event_id",
        "value", 86400, 5)),

    Query("fraud_alerts",
      """SELECT user_id,
        |  (CAST(floor(epoch(ts)) AS BIGINT) // 86400) * 86400 AS ws,
        |  CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS sum_val,
        |  COUNT(*) AS cnt
        |FROM events GROUP BY user_id, ws
        |HAVING CAST(SUM(CAST(value AS DECIMAL(10,2))) AS DECIMAL(38,2)) > 300""".stripMargin)((s, dir) =>
      Fraud.windowAlerts(Tables.events(s, dir), "user_id", "ts", "value", 86400, 300.0)),

    // time-series resampling to OHLC bars: open/close picked by
    // row_number over the per-(type, hour) event order (ties broken by
    // event_id — total order, so both engines agree), high/low/n as
    // plain aggregates. Windows are per-series only; cents keep every
    // measure BIGINT.
    Query("q_ohlc",
      // same bar algebra; row_number tiebreak on (sec, event_id) makes
      // open/close a total order both engines share
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |h AS (SELECT *, sec // 3600 AS hour,
        |        row_number() OVER (PARTITION BY event_type, sec // 3600
        |          ORDER BY sec, event_id) AS rn_a,
        |        row_number() OVER (PARTITION BY event_type, sec // 3600
        |          ORDER BY sec DESC, event_id DESC) AS rn_d
        |      FROM e)
        |SELECT event_type, hour,
        |  MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
        |  MAX(cents) AS high_cents, MIN(cents) AS low_cents,
        |  MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
        |  COUNT(*) AS n
        |FROM h GROUP BY event_type, hour""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("event_type"),
        unix_timestamp(col("ts")).as("sec"), col("event_id"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
        .withColumn("hour", expr("sec div 3600"))
      val asc = Window.partitionBy(col("event_type"), col("hour"))
        .orderBy(col("sec"), col("event_id"))
      val desc = Window.partitionBy(col("event_type"), col("hour"))
        .orderBy(col("sec").desc, col("event_id").desc)
      e.withColumn("rn_a", row_number().over(asc))
        .withColumn("rn_d", row_number().over(desc))
        .groupBy(col("event_type"), col("hour"))
        .agg(max(when(col("rn_a") === 1, col("cents"))).as("open_cents"),
          max(col("cents")).as("high_cents"),
          min(col("cents")).as("low_cents"),
          max(when(col("rn_d") === 1, col("cents"))).as("close_cents"),
          count(lit(1)).as("n"))
    }),

    // ordered-event funnel (view → click → purchase per user): ONE
    // shuffle — per-user sorted per-step second lists, then the
    // sequential-min walk runs as array HOFs on the grouped row.
    // Seconds-granularity ordering (>=) keeps both engines identical;
    // -1 fills keep the output null-free for the hash gate.
    Query("q_funnel",
      // sequential-min funnel walk as dependent CTEs; -1 fills mirror
      // the Spark side exactly
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec
        |  FROM events),
        |u AS (SELECT DISTINCT user_id FROM e),
        |s1 AS (
        |  SELECT user_id, MIN(sec) AS t1 FROM e
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.sec) AS t2 FROM e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.sec >= s1.t1
        |  GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.sec) AS t3 FROM e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.sec >= s2.t2
        |  GROUP BY e.user_id)
        |SELECT u.user_id,
        |  COALESCE(s1.t1, -1) AS t_view,
        |  COALESCE(s2.t2, -1) AS t_click,
        |  COALESCE(s3.t3, -1) AS t_purchase,
        |  (CASE WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END +
        |   CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END +
        |   CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END) AS stage
        |FROM u
        |LEFT JOIN s1 ON s1.user_id = u.user_id
        |LEFT JOIN s2 ON s2.user_id = u.user_id
        |LEFT JOIN s3 ON s3.user_id = u.user_id""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), unix_timestamp(col("ts")).as("sec"))
      e.groupBy(col("user_id")).agg(
          min(when(col("event_type") === "view", col("sec"))).as("t1"),
          sort_array(collect_list(when(col("event_type") === "click",
            col("sec")))).as("clicks"),
          sort_array(collect_list(when(col("event_type") === "purchase",
            col("sec")))).as("purch"))
        .withColumn("t2",
          array_min(filter(col("clicks"), c => c >= col("t1"))))
        .withColumn("t3",
          array_min(filter(col("purch"), p => p >= col("t2"))))
        .select(col("user_id"),
          coalesce(col("t1"), lit(-1L)).as("t_view"),
          coalesce(col("t2"), lit(-1L)).as("t_click"),
          coalesce(col("t3"), lit(-1L)).as("t_purchase"),
          (when(col("t1").isNotNull, 1).otherwise(0) +
            when(col("t2").isNotNull, 1).otherwise(0) +
            when(col("t3").isNotNull, 1).otherwise(0)).as("stage"))
    }),

    // funnel CONVERSION DELAY: per user, the first purchase at or
    // after the first view; delay distribution as engine-common
    // floor(percentile) order statistics — the "how long does
    // conversion take" companion to B26's ordered funnel. Two
    // min-aggregations + one user-keyed join; the delay frame is
    // user-bounded.
    Query("q_funnel_delay",
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS t
        |  FROM events),
        |v AS (SELECT user_id, MIN(t) AS tv FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |d AS (
        |  SELECT p.user_id, MIN(p.t) - MIN(v.tv) AS delay_s
        |  FROM e p JOIN v ON v.user_id = p.user_id
        |  WHERE p.event_type = 'purchase' AND p.t >= v.tv
        |  GROUP BY p.user_id)
        |SELECT COUNT(*) AS n_converted,
        |  CAST(floor(quantile_cont(delay_s, 0.25)) AS BIGINT)
        |    AS p25_delay_s,
        |  CAST(floor(quantile_cont(delay_s, 0.5)) AS BIGINT)
        |    AS p50_delay_s,
        |  CAST(floor(quantile_cont(delay_s, 0.9)) AS BIGINT)
        |    AS p90_delay_s
        |FROM d""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        col("event_type"), expr("unix_timestamp(ts)").as("t"))
      val v = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t")).as("tv"))
      val d = e.filter(col("event_type") === "purchase")
        .join(v, "user_id")
        .filter(col("t") >= col("tv"))
        .groupBy(col("user_id")).agg(min(col("t")).as("tp"),
          min(col("tv")).as("tv2"))
        .select((col("tp") - col("tv2")).as("delay_s"))
      d.agg(count(lit(1)).as("n_converted"),
        floor(expr("percentile(delay_s, 0.25)")).cast(LongType)
          .as("p25_delay_s"),
        floor(expr("percentile(delay_s, 0.5)")).cast(LongType)
          .as("p50_delay_s"),
        floor(expr("percentile(delay_s, 0.9)")).cast(LongType)
          .as("p90_delay_s"))
    }),

    // batch SESSIONIZATION via gaps-and-islands: a new session starts
    // when the per-user gap exceeds 4 h; session ids are the running
    // sum of session-start flags inside the narrow per-user window
    // (never a global window), then two bounded rollups emit per-user
    // session metrics — the product-analytics face of A11's streaming
    // session windows.
    Query("q_sessionize",
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    event_id
        |  FROM events),
        |s AS (
        |  SELECT user_id, t, event_id,
        |    CASE WHEN lag(t) OVER w IS NULL THEN 1
        |         WHEN t - lag(t) OVER w > 14400 THEN 1 ELSE 0 END
        |      AS new_s
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |si AS (
        |  SELECT user_id, t,
        |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY t, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s),
        |g AS (
        |  SELECT user_id, sid, COUNT(*) AS n_ev, MAX(t) - MIN(t) AS dur_s
        |  FROM si GROUP BY 1, 2)
        |SELECT user_id, COUNT(*) AS n_sessions,
        |  CAST(SUM(n_ev) AS BIGINT) AS n_events,
        |  MAX(n_ev) AS longest_session_events,
        |  CAST(SUM(dur_s) AS BIGINT) AS active_seconds
        |FROM g GROUP BY user_id""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val gap = 14400L
      val e = Tables.events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts)").as("t"), col("event_id"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      val sess = e
        .withColumn("new_s",
          when(col("t") - lag(col("t"), 1).over(w) > gap, 1L)
            .when(lag(col("t"), 1).over(w).isNull, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy(col("user_id"), col("sid"))
        .agg(count(lit(1)).as("n_ev"),
          (max(col("t")) - min(col("t"))).as("dur_s"))
      sess.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("n_ev")).cast(LongType).as("n_events"),
          max(col("n_ev")).as("longest_session_events"),
          sum(col("dur_s")).cast(LongType).as("active_seconds"))
    }),

    // frequent JOURNEY PATHS: the top ordered event-type trigrams
    // across per-user streams — LEAD ×2 inside the narrow per-user
    // window (the q_markov collation), then one |types|³-bounded
    // count frame; the "what do users actually do" sequence-mining
    // primitive behind funnel design.
    Query("q_paths",
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    event_id, event_type
        |  FROM events),
        |l AS (
        |  SELECT event_type AS s0,
        |    lead(event_type, 1) OVER w AS s1,
        |    lead(event_type, 2) OVER w AS s2
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT s0, s1, s2, COUNT(*) AS n
        |FROM l WHERE s2 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY n DESC, s0, s1, s2 LIMIT 20""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(expr("unix_timestamp(ts)"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"),
          col("event_type").as("s0"))
        .withColumn("s1", lead(col("s0"), 1).over(w))
        .withColumn("s2", lead(col("s0"), 2).over(w))
        .filter(col("s2").isNotNull)
        .groupBy(col("s0"), col("s1"), col("s2"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("s0"), col("s1"), col("s2"))
        .limit(20)
    }),

    // first-order Markov transition matrix over per-user event
    // streams: LEAD inside the per-user window (narrow, the q_lag
    // collation — truncated second + event_id total order), then a
    // |types|²-row transition count frame with integer permille
    // probabilities — the behavioral-model estimator run before any
    // sequence featurization. Nothing corpus-global: the window is
    // user-partitioned, the normalizing totals broadcast.
    Query("q_markov",
      // same per-user (ts_sec, event_id) collation, same LEAD, same
      // integer permille normalization
      """WITH e AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec, event_id
        |  FROM events),
        |t AS (
        |  SELECT event_type AS from_type,
        |    LEAD(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts_sec, event_id)
        |      AS to_type
        |  FROM e),
        |tr AS (SELECT from_type, to_type, COUNT(*) AS n FROM t
        |       WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
        |        FROM tr GROUP BY 1)
        |SELECT tr.from_type, tr.to_type, tr.n,
        |  CAST(tr.n * 1000 // tot.n_from AS BIGINT) AS p_pml
        |FROM tr JOIN tot USING (from_type)""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_sec"), col("event_id"))
      val tr = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          unix_timestamp(col("ts")).as("ts_sec"), col("event_id"))
        .withColumn("next_type", lead(col("event_type"), 1).over(w))
        .filter(col("next_type").isNotNull)
        .groupBy(col("event_type").as("from_type"),
          col("next_type").as("to_type"))
        .agg(count(lit(1)).as("n"))
      val tot = tr.groupBy(col("from_type"))
        .agg(sum(col("n")).as("n_from"))
      tr.join(broadcast(tot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          expr("n * 1000 div n_from").as("p_pml"))
    }),

    // hourly volume anomaly flags from EXACT integer moments: flag
    // hour h iff (c_h·H − S)² > 9·(H·S2 − S²) — the 3-sigma test
    // cross-multiplied so no division or float ever happens, making
    // an anomaly DETECTOR hash-oracle-able (the batch face of the
    // streaming Welford z-score, A20). One count agg + a 1-row
    // moment broadcast; squares live in DECIMAL(38,0) (c·H crosses
    // 2^63 squared immediately).
    Query("q_anomaly",
      // same cross-multiplied 3-sigma test in HUGEINT — no division,
      // no float, anywhere
      """WITH h AS (
        |  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hour,
        |    COUNT(*) AS n_events
        |  FROM events GROUP BY 1),
        |st AS (
        |  SELECT CAST(COUNT(*) AS HUGEINT) AS H,
        |    CAST(SUM(n_events) AS HUGEINT) AS S,
        |    SUM(CAST(n_events AS HUGEINT) * n_events) AS S2
        |  FROM h)
        |SELECT hour, n_events,
        |  CAST(CASE WHEN (n_events * H - S) * (n_events * H - S)
        |              > 9 * (H * S2 - S * S)
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM h, st""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val h = Tables.events(s, dir)
        .groupBy(expr("unix_timestamp(ts) div 3600").as("hour"))
        .agg(count(lit(1)).as("n_events"))
      val st = h.agg(count(lit(1)).cast(d38).as("H"),
        sum(col("n_events")).cast(d38).as("S"),
        sum(col("n_events").cast(d38) * col("n_events")).as("S2"))
      h.crossJoin(broadcast(st))
        .select(col("hour"), col("n_events"),
          when(expr("(n_events * H - S) * (n_events * H - S)" +
            " > 9 * (H * S2 - S * S)"), 1L).otherwise(0L)
            .as("is_anomaly"))
    }),

    // calendar seasonal profile with per-cell outlier counts: every
    // (type, weekday, hour-of-day) cell's volume + mean cents, plus
    // how many of its values fail the cross-multiplied 3-sigma test
    // against the CELL's own moments — q_anomaly's integer z-score
    // generalized from one global frame to the seasonal grid (dow/hod
    // from pure epoch arithmetic: no engine calendar functions, no
    // dayofweek-origin mismatch). The cell-moment table is
    // grid-bounded (types×7×24) and broadcasts to the one-scan test.
    Query("q_seasonal",
      // same cross-multiplied test against per-(type, dow, hod) cell
      // moments; dow/hod by pure epoch arithmetic on both sides
      """WITH e AS (
        |  SELECT event_type,
        |    ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7 + 7)
        |      % 7 AS dow,
        |    (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hod,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |cells AS (
        |  SELECT event_type, dow, hod,
        |    CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(c) AS HUGEINT) AS s,
        |    SUM(CAST(c AS HUGEINT) * c) AS s2
        |  FROM e GROUP BY 1, 2, 3)
        |SELECT e.event_type, e.dow, e.hod, COUNT(*) AS n_events,
        |  CAST(MIN(s) // MIN(n) AS BIGINT) AS mean_cents,
        |  CAST(SUM(CASE WHEN (c * n - s) * (c * n - s)
        |                     > 9 * (n * s2 - s * s)
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM e JOIN cells USING (event_type, dow, hod)
        |GROUP BY 1, 2, 3""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val e = Tables.events(s, dir).select(col("event_type"),
        pmod(expr("unix_timestamp(ts) div 86400") + 4, lit(7)).as("dow"),
        pmod(expr("unix_timestamp(ts) div 3600"), lit(24)).as("hod"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("c"))
      val cells = e.groupBy(col("event_type"), col("dow"), col("hod"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("c")).cast(d38).as("s"),
          sum(col("c").cast(d38) * col("c")).as("s2"))
      e.join(broadcast(cells), Seq("event_type", "dow", "hod"))
        .groupBy(col("event_type"), col("dow"), col("hod"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(min(s) div min(n) AS BIGINT)").as("mean_cents"),
          sum(when(expr("(c * n - s) * (c * n - s) > 9 * (n * s2 - s * s)"),
            1L).otherwise(0L)).as("n_outliers"))
    }),

    // TIME-WEIGHTED average for irregularly-sampled series (the
    // sensor/price-feed aggregate where plain AVG over-weights bursts):
    // twa = Σ vᵢ·(tᵢ₊₁−tᵢ) div (t_last − t_first) per user, durations
    // from LEAD inside the per-user window (narrow, the q_lag
    // collation), value·seconds products in DECIMAL(38,0). Pure
    // integer floor division keeps it hash-exact.
    Query("q_twa",
      """WITH e AS (
        |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t,
        |    event_id,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS v
        |  FROM events),
        |l AS (
        |  SELECT user_id, t, v,
        |    lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |      AS t2
        |  FROM e)
        |SELECT user_id,
        |  CAST(SUM(CAST(t2 - t AS HUGEINT) * v)
        |    // (MAX(t2) - MIN(t)) AS BIGINT) AS twa_cents
        |FROM l WHERE t2 IS NOT NULL
        |GROUP BY user_id HAVING MAX(t2) - MIN(t) > 0""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d38 = DecimalType(38, 0)
      val e = Tables.events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts)").as("t"), col("event_id"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("v"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t"), col("event_id"))
      e.withColumn("t2", lead(col("t"), 1).over(w))
        .filter(col("t2").isNotNull)
        .groupBy(col("user_id"))
        .agg(sum((col("t2") - col("t")).cast(d38) * col("v")).as("num"),
          (max(col("t2")) - min(col("t"))).cast(d38).as("den"))
        .filter(col("den") > 0)
        .select(col("user_id"),
          expr("CAST(num div den AS BIGINT)").as("twa_cents"))
    }),

    // exponentially-weighted smoothing with a TRUNCATED integer kernel
    // (α = 1/2 over the last 4 observations): ewma = (8x₀ + 4x₁ + 2x₂
    // + 1x₃) div (sum of PRESENT weights) — short-history rows
    // renormalize over available lags, so the series has no warm-up
    // NULLs and every value is exact integer cents. The window is
    // type-partitioned (narrow); the truncation error vs the infinite
    // kernel is ≤ 1/15 of the oldest weight — the trade that keeps an
    // inherently-recursive smoother one window pass and hash-oracled.
    Query("q_ewma",
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(10,2)) * 100) AS BIGINT)
        |      AS x
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, day, x,
        |    lag(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS l1,
        |    lag(x, 2) OVER (PARTITION BY event_type ORDER BY day) AS l2,
        |    lag(x, 3) OVER (PARTITION BY event_type ORDER BY day) AS l3
        |  FROM d)
        |SELECT event_type, day,
        |  CAST((8 * CAST(x AS HUGEINT) + 4 * coalesce(l1, 0)
        |    + 2 * coalesce(l2, 0) + coalesce(l3, 0))
        |    // (8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END
        |         + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END
        |         + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END)
        |    AS BIGINT) AS ewma_cents
        |FROM l""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir).select(col("event_type"),
          expr("unix_timestamp(ts) div 86400").as("day"),
          (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("cents")).as("x"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      daily
        .withColumn("l1", lag(col("x"), 1).over(w))
        .withColumn("l2", lag(col("x"), 2).over(w))
        .withColumn("l3", lag(col("x"), 3).over(w))
        .select(col("event_type"), col("day"),
          expr("CAST((8 * CAST(x AS DECIMAL(38,0))" +
            " + 4 * coalesce(l1, 0) + 2 * coalesce(l2, 0)" +
            " + coalesce(l3, 0)) div" +
            " (8 + CASE WHEN l1 IS NULL THEN 0 ELSE 4 END" +
            "    + CASE WHEN l2 IS NULL THEN 0 ELSE 2 END" +
            "    + CASE WHEN l3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)")
            .as("ewma_cents"))
    }),

    // time-series GAP FILL with linear interpolation: missing hours
    // take the integer-exact line between the nearest real points
    // (hold/backfill at the edges). Interpolation is multiply-then-
    // integer-divide on exact cents — both engines truncate toward
    // zero — so filled values are engine-exact where a float slope
    // would drift. Per-series windows sort each series' own hours,
    // never the corpus.
    Query("q_interpolate",
      // same grid; interpolation in exact cents with truncating integer
      // division (DuckDB // and Spark div both truncate toward zero)
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS c
        |  FROM events),
        |b AS (SELECT unnest(generate_series(MIN(hr), MAX(hr))) AS hr FROM e),
        |t AS (SELECT DISTINCT event_type FROM e),
        |s AS (SELECT event_type, hr, CAST(SUM(c) AS BIGINT) AS c
        |      FROM e GROUP BY 1, 2),
        |g AS (
        |  SELECT t.event_type, b.hr, s.c
        |  FROM t CROSS JOIN b
        |  LEFT JOIN s ON s.event_type = t.event_type AND s.hr = b.hr),
        |w AS (
        |  SELECT event_type, hr, c,
        |    last_value(c IGNORE NULLS) OVER pre AS pc,
        |    last_value(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER pre AS ph,
        |    first_value(c IGNORE NULLS) OVER post AS nc,
        |    first_value(CASE WHEN c IS NOT NULL THEN hr END IGNORE NULLS)
        |      OVER post AS nh
        |  FROM g
        |  WINDOW
        |    pre AS (PARTITION BY event_type ORDER BY hr
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    post AS (PARTITION BY event_type ORDER BY hr
        |             ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, hr,
        |  CASE WHEN c IS NOT NULL THEN c
        |       WHEN pc IS NOT NULL AND nc IS NOT NULL
        |         THEN pc + (nc - pc) * (hr - ph) // (nh - ph)
        |       WHEN pc IS NOT NULL THEN pc
        |       ELSE nc END AS c_interp,
        |  CASE WHEN c IS NOT NULL THEN 0 ELSE 1 END AS filled
        |FROM w""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val ev = Tables.events(s, dir)
      val e = ev.select(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).cast(LongType).as("hr"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("c"))
      val hours = e.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
      val types = e.select(col("event_type")).distinct()
      val sums = e.groupBy(col("event_type"), col("hr"))
        .agg(sum(col("c")).cast(LongType).as("c"))
      val grid = types.crossJoin(hours)
        .join(sums, Seq("event_type", "hr"), "left")
      val back = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val fwd = Window.partitionBy(col("event_type")).orderBy(col("hr"))
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val markedHr = when(col("c").isNotNull, col("hr"))
      grid
        .withColumn("pc", last(col("c"), ignoreNulls = true).over(back))
        .withColumn("ph", last(markedHr, ignoreNulls = true).over(back))
        .withColumn("nc", first(col("c"), ignoreNulls = true).over(fwd))
        .withColumn("nh", first(markedHr, ignoreNulls = true).over(fwd))
        .select(col("event_type"), col("hr"),
          when(col("c").isNotNull, col("c"))
            .when(col("pc").isNotNull && col("nc").isNotNull,
              col("pc") + expr("(nc - pc) * (hr - ph) div (nh - ph)"))
            .when(col("pc").isNotNull, col("pc"))
            .otherwise(col("nc")).as("c_interp"),
          when(col("c").isNotNull, 0).otherwise(1).as("filled"))
    }),

    // zero-filled hourly scaffold per event type: sequence over the
    // corpus hour range × distinct types, outer-joined to the counts —
    // the gaps-visible time-series view a dashboard needs
    Query("q_gen_series",
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr
        |  FROM events),
        |b AS (SELECT unnest(generate_series(MIN(hr), MAX(hr))) AS hr FROM e),
        |t AS (SELECT DISTINCT event_type FROM e),
        |c AS (SELECT event_type, hr, COUNT(*) AS n FROM e GROUP BY 1, 2)
        |SELECT t.event_type, b.hr, COALESCE(c.n, 0) AS n
        |FROM t CROSS JOIN b
        |LEFT JOIN c ON c.event_type = t.event_type AND c.hr = b.hr""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).cast(LongType).as("hr"))
      val hours = e.agg(min(col("hr")).as("h0"), max(col("hr")).as("h1"))
        .select(explode(sequence(col("h0"), col("h1"))).as("hr"))
      val types = e.select(col("event_type")).distinct()
      val counts = e.groupBy(col("event_type"), col("hr"))
        .agg(count(lit(1)).as("n"))
      types.crossJoin(hours)
        .join(counts, Seq("event_type", "hr"), "left")
        .select(col("event_type"), col("hr"),
          coalesce(col("n"), lit(0L)).as("n"))
    }),

    // CUSUM change-point detection in exact integers: per-type hourly
    // sums v_h, deviation d_h = v_h·H − S cross-multiplied so the
    // "hourly value minus mean" needs no division, cumulative C_h per
    // series, report the extremes and the |C| argmax hour (drift
    // location). The fraud-adjacent drift detector, engine-exact;
    // windows are per-type over the hour dictionary.
    Query("q_cusum",
      // same cross-multiplied deviations; argmax = MIN(hr) among rows
      // hitting MAX(abs(c)) — Spark's struct-max tiebreak spelled out
      """WITH h AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
        |    CAST(SUM(CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT))
        |      AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2),
        |t AS (SELECT event_type, COUNT(*) AS h_cnt,
        |        CAST(SUM(v) AS BIGINT) AS s
        |      FROM h GROUP BY 1),
        |c AS (SELECT h.event_type, h.hr,
        |        SUM(CAST(h.v AS HUGEINT) * t.h_cnt - t.s)
        |          OVER (PARTITION BY h.event_type ORDER BY h.hr) AS c
        |      FROM h JOIN t USING (event_type)),
        |m AS (SELECT event_type, CAST(MAX(c) AS BIGINT) AS c_max,
        |        CAST(MIN(c) AS BIGINT) AS c_min, MAX(abs(c)) AS am
        |      FROM c GROUP BY 1)
        |SELECT m.event_type, m.c_max, m.c_min,
        |  CAST(MIN(c.hr) AS BIGINT) AS argmax_hr
        |FROM m JOIN c ON c.event_type = m.event_type AND abs(c.c) = m.am
        |GROUP BY m.event_type, m.c_max, m.c_min""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val hourly = Tables.events(s, dir).select(col("event_type"),
          expr("unix_timestamp(ts) div 3600").as("hr"),
          (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
        .groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cents").cast(DecimalType(38, 0))).cast(LongType)
          .as("v"))
      val totals = hourly.groupBy(col("event_type"))
        .agg(count(lit(1)).as("h_cnt"),
          sum(col("v").cast(DecimalType(38, 0))).cast(LongType).as("s"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("hr"))
      val cum = hourly.join(broadcast(totals), "event_type")
        .withColumn("d",
          (col("v").cast(DecimalType(38, 0)) * col("h_cnt") - col("s")))
        .withColumn("c", sum(col("d")).over(w))
      cum.groupBy(col("event_type"))
        .agg(max(col("c")).cast(LongType).as("c_max"),
          min(col("c")).cast(LongType).as("c_min"),
          max(struct(abs(col("c")).as("a"), (-col("hr")).as("nh")))
            .getField("nh").cast(LongType).as("neg_argmax_hr"))
        .select(col("event_type"), col("c_max"), col("c_min"),
          (-col("neg_argmax_hr")).as("argmax_hr"))
    }),

    // engagement metrics: per-day DAU plus trailing-7-day WAU and the
    // stickiness ratio in permille — WAU materializes as a distinct
    // count over a 7-offset day scaffold join (day-dictionary-sized),
    // never a per-event window.
    Query("q_dau_wau",
      // day-scaffold WAU: each (user, day) visit covers days d..d+6
      """WITH ud AS (
        |  SELECT DISTINCT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |dau AS (SELECT day, COUNT(DISTINCT user_id) AS dau
        |        FROM ud GROUP BY day),
        |x AS (SELECT ud.user_id, ud.day + o.off AS day
        |      FROM ud CROSS JOIN
        |        (SELECT unnest(generate_series(0, 6)) AS off) o),
        |wau AS (SELECT x.day, COUNT(DISTINCT x.user_id) AS wau
        |        FROM x JOIN dau USING (day) GROUP BY x.day)
        |SELECT dau.day, dau.dau, wau.wau,
        |  dau.dau * 1000 // wau.wau AS stickiness_pml
        |FROM dau JOIN wau USING (day)""".stripMargin)((s, dir) => {
      val ud = Tables.events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day")).distinct()
      val dau = ud.groupBy(col("day")).agg(countDistinct(col("user_id"))
        .as("dau"))
      val offsets = explode(array((0 to 6).map(lit(_)): _*)).as("off")
      val wau = ud.select(col("user_id"), col("day"), offsets)
        .select(col("user_id"), (col("day") + col("off")).as("day"))
        .join(dau.select(col("day")), "day") // only days that exist
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("wau"))
      dau.join(wau, "day")
        .select(col("day"), col("dau"), col("wau"),
          expr("dau * 1000 div wau").as("stickiness_pml"))
    }),

    // cohort retention: users bucketed by first-seen day, counted on
    // each later day-offset they return — the product-analytics
    // triangle. First-seen is a per-user min (hash agg), the matrix a
    // (cohort, offset) count; nothing user-crossing beyond that.
    Query("q_retention",
      // same min-day cohorts and distinct (user, offset) visits
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |f AS (SELECT user_id, MIN(day) AS cohort_day
        |      FROM e GROUP BY user_id),
        |v AS (SELECT DISTINCT e.user_id, f.cohort_day,
        |        e.day - f.cohort_day AS "offset"
        |      FROM e JOIN f USING (user_id))
        |SELECT cohort_day, "offset" AS offset, COUNT(*) AS n_users
        |FROM v GROUP BY cohort_day, "offset"""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      val firstDay = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      e.join(firstDay, "user_id")
        .select(col("user_id"), col("cohort_day"),
          (col("day") - col("cohort_day")).as("offset"))
        .distinct()
        .groupBy(col("cohort_day"), col("offset"))
        .agg(count(lit(1)).as("n_users"))
    }),

    // cohort CHURN: per weekly acquisition cohort, the share of users
    // whose last activity is more than 7 days before corpus end —
    // exact permille; two bounded aggregations + one 1-row corpus-end
    // broadcast.
    Query("q_churn",
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day
        |  FROM events),
        |u AS (
        |  SELECT user_id, MIN(day) AS firstd, MAX(day) AS lastd
        |  FROM e GROUP BY 1),
        |x AS (SELECT MAX(day) AS endd FROM e)
        |SELECT firstd // 7 AS cohort_week, COUNT(*) AS n_users,
        |  CAST(SUM(CASE WHEN endd - lastd > 7 THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_churned,
        |  (1000 * CAST(SUM(CASE WHEN endd - lastd > 7 THEN 1 ELSE 0
        |    END) AS BIGINT)) // COUNT(*) AS churn_permille
        |FROM u, x GROUP BY 1""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("user_id"),
        expr("unix_timestamp(ts) div 86400").as("day"))
      val users = e.groupBy(col("user_id"))
        .agg(min(col("day")).as("firstd"), max(col("day")).as("lastd"))
      users
        .crossJoin(broadcast(e.agg(max(col("day")).as("endd"))))
        .select(expr("firstd div 7").as("cohort_week"),
          when(col("endd") - col("lastd") > 7, 1L).otherwise(0L)
            .as("churned"))
        .groupBy(col("cohort_week"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("churned")).as("n_churned"))
        .withColumn("churn_permille",
          expr("(1000 * n_churned) div n_users"))
    }),

    // cohort LIFETIME VALUE: weekly acquisition cohorts, revenue by
    // cohort age, cumulative LTV per user in exact cents — the
    // revenue face of B66's retention matrix. Aggregate FIRST, then
    // the cumulative sum runs over the tiny (cohort × age) grid —
    // never a per-order window.
    Query("q_cohort_ltv",
      """WITH o AS (
        |  SELECT o_custkey,
        |    CAST(floor(epoch(o_orderdate)) AS BIGINT) // 604800 AS wk,
        |    CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders),
        |f AS (SELECT o_custkey, MIN(wk) AS cw FROM o GROUP BY 1),
        |g AS (
        |  SELECT f.cw, o.wk - f.cw AS age, COUNT(*) AS n_orders,
        |    CAST(SUM(o.cents) AS BIGINT) AS rev_cents
        |  FROM o JOIN f USING (o_custkey) GROUP BY 1, 2),
        |sz AS (SELECT cw, COUNT(*) AS n_users FROM f GROUP BY cw),
        |c AS (
        |  SELECT cw, age, n_orders, rev_cents,
        |    CAST(SUM(rev_cents) OVER (PARTITION BY cw ORDER BY age
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_rev_cents
        |  FROM g)
        |SELECT c.cw AS cohort_week, c.age AS age_weeks, c.n_orders,
        |  c.rev_cents, c.cum_rev_cents, sz.n_users,
        |  c.cum_rev_cents // sz.n_users AS ltv_per_user_cents
        |FROM c JOIN sz USING (cw)""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = Tables.orders(s, dir).select(col("o_custkey"),
        expr("unix_timestamp(o_orderdate) div 604800").as("wk"),
        (dec(col("o_totalprice"), 12, 2) * 100).cast(LongType).as("cents"))
      val first = o.groupBy(col("o_custkey")).agg(min(col("wk")).as("cw"))
      val grid = o.join(first, "o_custkey")
        .groupBy(col("cw"), (col("wk") - col("cw")).as("age"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("cents")).cast(LongType).as("rev_cents"))
      val sizes = first.groupBy(col("cw")).agg(count(lit(1)).as("n_users"))
      val w = Window.partitionBy(col("cw")).orderBy(col("age"))
        .rowsBetween(Window.unboundedPreceding, 0)
      grid.withColumn("cum_rev_cents", sum(col("rev_cents")).over(w))
        .join(sizes, "cw")
        .select(col("cw").as("cohort_week"), col("age").as("age_weeks"),
          col("n_orders"), col("rev_cents"),
          col("cum_rev_cents").cast(LongType).as("cum_rev_cents"),
          col("n_users"),
          expr("cum_rev_cents div n_users").as("ltv_per_user_cents"))
    }),

    // period-over-period growth report: weekly volume per type with
    // the previous period, absolute delta, and growth in permille —
    // the WoW dashboard primitive; the window runs over the
    // calendar-bounded weekly grid, never per event.
    Query("q_pop",
      """WITH w AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
        |    COUNT(*) AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (
        |  SELECT event_type, wk, n,
        |    lag(n) OVER (PARTITION BY event_type ORDER BY wk) AS prev_n
        |  FROM w)
        |SELECT event_type, wk, n, prev_n, n - prev_n AS delta,
        |  CASE WHEN prev_n > 0 THEN (1000 * (n - prev_n)) // prev_n
        |       END AS growth_permille
        |FROM l""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val weekly = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_timestamp(ts) div 604800").as("wk"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("wk"))
      weekly.withColumn("prev_n", lag(col("n"), 1).over(w))
        .select(col("event_type"), col("wk"), col("n"), col("prev_n"),
          (col("n") - col("prev_n")).as("delta"),
          when(col("prev_n") > 0,
            expr("(1000 * (n - prev_n)) div prev_n")).as("growth_permille"))
    }),

    // lag-1 AUTOCORRELATION as the integer AR(1) coefficient: regress
    // next-day volume on today's — φ = (nΣxy − ΣxΣy) div (nΣx² −
    // (Σx)²) in permille over calendar-adjacent day pairs (one
    // self-join of the tiny daily grid), the q_linreg moment
    // discipline pointed at the series itself. The mean-reversion /
    // burst-persistence signal behind capacity forecasts.
    Query("q_autocorr",
      """WITH d AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
        |    COUNT(*) AS x
        |  FROM events GROUP BY 1, 2),
        |p AS (
        |  SELECT a.event_type, CAST(a.x AS HUGEINT) AS x,
        |    CAST(b.x AS HUGEINT) AS y
        |  FROM d a JOIN d b ON b.event_type = a.event_type
        |    AND b.day = a.day + 1),
        |m AS (
        |  SELECT event_type, CAST(COUNT(*) AS HUGEINT) AS n,
        |    SUM(x) AS sx, SUM(y) AS sy, SUM(x*y) AS sxy, SUM(x*x) AS sxx
        |  FROM p GROUP BY event_type)
        |SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
        |  CAST((1000 * (n * sxy - sx * sy))
        |    // (n * sxx - sx * sx) AS BIGINT) AS ar1_permille
        |FROM m""".stripMargin)((s, dir) => {
      val d38 = DecimalType(38, 0)
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          expr("unix_timestamp(ts) div 86400").as("day"))
        .agg(count(lit(1)).as("x"))
      val pairs = daily
        .join(daily.select(col("event_type"), (col("day") - 1).as("day"),
          col("x").as("y")), Seq("event_type", "day"))
      pairs.select(col("event_type"), col("x").cast(d38).as("x"),
          col("y").cast(d38).as("y"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).cast(d38).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"))
        .select(col("event_type"), col("n").cast(LongType).as("n_pairs"),
          expr("CAST((1000 * (n * sxy - sx * sy))" +
            " div (n * sxx - sx * sx) AS BIGINT)").as("ar1_permille"))
    }),

    // time-series similarity: pairwise sum-of-squared-differences
    // between every two types' hourly revenue series, aligned on
    // shared hours (inner join on the hour key — series live as
    // (key, hour, value) rows, never arrays). Diffs square in
    // DECIMAL and emit mega-cents² so the output stays BIGINT at any
    // SF; series pairs are type-pairs (tiny), hours the only join key.
    Query("q_series_sim",
      // same shared-hour alignment and HUGEINT-exact squared diffs
      """WITH e AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS hr,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |h AS (SELECT event_type, hr, CAST(SUM(cents) AS BIGINT) AS v
        |      FROM e GROUP BY event_type, hr)
        |SELECT a.event_type AS type_a, b.event_type AS type_b,
        |  COUNT(*) AS n_hours,
        |  CAST(SUM(CAST(a.v - b.v AS HUGEINT) * (a.v - b.v))
        |    // 1000000 AS BIGINT) AS ssd_mega
        |FROM h a JOIN h b ON a.hr = b.hr AND a.event_type < b.event_type
        |GROUP BY a.event_type, b.event_type""".stripMargin)((s, dir) => {
      val e = Tables.events(s, dir).select(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("hr"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val hourly = e.groupBy(col("event_type"), col("hr"))
        .agg(sum(col("cents").cast(DecimalType(38, 0))).cast(LongType)
          .as("v"))
      val a = hourly.select(col("event_type").as("type_a"),
        col("hr"), col("v").as("va"))
      val b = hourly.select(col("event_type").as("type_b"),
        col("hr"), col("v").as("vb"))
      a.join(b, Seq("hr")).filter(col("type_a") < col("type_b"))
        .groupBy(col("type_a"), col("type_b"))
        .agg(count(lit(1)).as("n_hours"),
          sum(((col("va") - col("vb")) * (col("va") - col("vb")))
            .cast(DecimalType(38, 0))).as("ssd"))
        // integral div, not decimal /: decimal division rounds at its
        // result scale before the cast and can land one above floor
        .select(col("type_a"), col("type_b"), col("n_hours"),
          expr("ssd div 1000000").as("ssd_mega"))
    }),

    // order statistics inside window frames: a 5-row moving median
    // per series. The ×10 decicents trick (q_approx) keeps the
    // interpolated midpoint integral — a 5-or-fewer-row frame's
    // median is k or k.5 exactly — so a float-only windowed statistic
    // hash-oracles. Frames are per-(type) ordered ROWS, no global
    // sort.
    Query("q_moving_median",
      // same ×10 decicent window median; quantile_cont is DuckDB's
      // spelling of percentile
      """WITH e AS (
        |  SELECT event_type, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(CAST(value AS DECIMAL(10,2)) * 100 AS BIGINT) AS cents
        |  FROM events)
        |SELECT event_type, event_id,
        |  CAST(quantile_cont(cents, 0.5) OVER (PARTITION BY event_type
        |    ORDER BY sec, event_id
        |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) * 10 AS BIGINT)
        |    AS med_decicents
        |FROM e ORDER BY event_type, event_id LIMIT 2000""".stripMargin)((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Tables.events(s, dir).select(col("event_type"),
        col("event_id"), unix_timestamp(col("ts")).as("sec"),
        (dec(col("value"), 10, 2) * 100).cast(LongType).as("cents"))
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("sec"), col("event_id")).rowsBetween(-4, 0)
      e.select(col("event_type"), col("event_id"),
          (expr("percentile(cents, 0.5)").over(w) * 10)
            .cast(LongType).as("med_decicents"))
        .orderBy(col("event_type"), col("event_id")).limit(2000)
    })
  )
}
