package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Q.sql
import Shared._

/** Queries whose headline call is in `EventAnalytics`, each beside its DuckDB oracle. */
object EventAnalyticsQueries {
  val all: Seq[Q] = Seq(
    // ---- ordered conversion funnel view -> click -> purchase (7-day step
    // horizon, first-touch completion times) --------------------------------
    Q("q_funnel", "EventAnalytics", (s, dir) => {
      EventAnalytics.funnel(events(s, dir), "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), horizonUs = RUN_WEEK_US)
        .orderBy(col("stage"))
    }, sql(
      // windowed first-touch funnel: per-step min-after-previous within the
      // horizon; ratios of engine-exact longs, floor-quantized
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
         |  FROM events WHERE user_id IS NOT NULL),
         |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY u),
         |s2 AS (SELECT e.u, min(t) AS t2 FROM e JOIN s1 ON e.u = s1.u
         |       WHERE et = 'click' AND t > t1 AND t <= t1 + $RUN_WEEK_US GROUP BY e.u),
         |s3 AS (SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON e.u = s2.u
         |       WHERE et = 'purchase' AND t > t2 AND t <= t2 + $RUN_WEEK_US GROUP BY e.u),
         |c AS (          SELECT 1 AS stage, 'view' AS step, (SELECT count(*) FROM s1) AS n
         |      UNION ALL SELECT 2, 'click', (SELECT count(*) FROM s2)
         |      UNION ALL SELECT 3, 'purchase', (SELECT count(*) FROM s3))
         |SELECT CAST(stage AS BIGINT) AS stage, step, CAST(n AS BIGINT) AS n_users,
         |  CASE WHEN lag(n) OVER (ORDER BY stage) IS NULL THEN CAST(1 AS DOUBLE)
         |       ELSE floor((CAST(n AS DOUBLE) / lag(n) OVER (ORDER BY stage)) * 1000000.0) / 1000000.0 END
         |    AS conv_from_prev,
         |  floor((CAST(n AS DOUBLE) / first_value(n) OVER (ORDER BY stage)) * 1000000.0) / 1000000.0
         |    AS conv_overall
         |FROM c ORDER BY stage""".stripMargin)),

    // ---- day-cohort retention triangle (first-activity cohorts, k <= 13) --
    Q("q_retention", "EventAnalytics", (s, dir) => {
      EventAnalytics.retention(events(s, dir), "user_id", "ts_us", maxDays = 13)
        .orderBy(col("cohort_day"), col("k"))
    }, sql(
      // day-cohort retention triangle: integer epoch-day buckets, distinct
      // (user, day) activity, cells bounded by cohorts x maxDays
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) // 86400000000 AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |coh AS (SELECT u, min(d) AS c FROM e GROUP BY u),
        |sz AS (SELECT c, CAST(count(*) AS BIGINT) AS cohort_size FROM coh GROUP BY c),
        |act AS (SELECT DISTINCT u, d FROM e),
        |cell AS (SELECT c AS cohort_day, d - c AS k, CAST(count(*) AS BIGINT) AS n_active
        |         FROM act JOIN coh USING (u) WHERE d - c <= 13 GROUP BY 1, 2)
        |SELECT cohort_day, k, cohort_size, n_active,
        |  floor((CAST(n_active AS DOUBLE) / cohort_size) * 1000000.0) / 1000000.0 AS retention
        |FROM cell JOIN sz ON cohort_day = sz.c ORDER BY cohort_day, k""".stripMargin)),

    // ---- behavior-sequence corpus: per-user ordered event-type stream ----
    Q("q_user_sequences", "EventAnalytics", (s, dir) => {
      EventAnalytics.userSequences(events(s, dir).where(col("user_id") < 40),
        "user_id", "ts_us", "event_id", "event_type", maxLen = 50)
        .orderBy(col("user_id"))
    }, sql(
      // user sequences: (ts_us, event_id) is unique per user, so the ordered
      // list render is total-order deterministic in both engines
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id < 40 AND user_id IS NOT NULL
        |    AND ts IS NOT NULL AND event_type IS NOT NULL)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  array_to_string(list(event_type ORDER BY ts_us, event_id)[1:50], ' ') AS seq
        |FROM e GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // ---- first-order Markov transition matrix over per-user event streams
    Q("q_event_transitions", "EventAnalytics", (s, dir) => {
      EventAnalytics.transitionMatrix(events(s, dir), "user_id", "ts_us",
        "event_id", "event_type")
        .orderBy(col("prev_type"), col("next_type"))
    }, sql(
      // Markov transitions: (ts_us, event_id) is unique per user so the lag
      // pairing is total-order deterministic; prob is a double division of
      // two exact longs in both engines, floor-quantized
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |p AS (SELECT lag(event_type) OVER (PARTITION BY u ORDER BY ts_us, event_id) AS prev_type,
        |             event_type AS next_type FROM e),
        |c AS (SELECT prev_type, next_type, CAST(count(*) AS BIGINT) AS n FROM p
        |      WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, n,
        |  floor((CAST(n AS DOUBLE) / sum(n) OVER (PARTITION BY prev_type)) * 1000000.0) / 1000000.0 AS prob
        |FROM c ORDER BY prev_type, next_type""".stripMargin)),

    // ---- DAU / trailing-7-day rolling WAU / stickiness -------------------
    Q("q_active_users", "EventAnalytics", (s, dir) => {
      EventAnalytics.activeUsers(events(s, dir), "user_id", "ts_us")
        .orderBy(col("day"))
    }, sql(
      // DAU/WAU: the rolling 7-day distinct is re-expressed as a ×7 coverage
      // fan-out of the deduped (user, day) activity set — identical row sets
      // in both engines, stickiness a floor-quantized exact-long ratio
      """WITH ud AS (SELECT DISTINCT user_id AS u, epoch_us(ts) // 86400000000 AS d
        |  FROM events WHERE user_id IS NOT NULL),
        |dau AS (SELECT d, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY d),
        |cov AS (SELECT DISTINCT u, cd FROM
        |        (SELECT u, unnest(generate_series(d, d + 6)) AS cd FROM ud)),
        |wau AS (SELECT cd, CAST(count(*) AS BIGINT) AS wau FROM cov GROUP BY cd)
        |SELECT d AS day, dau, wau,
        |  floor((CAST(dau AS DOUBLE) / wau) * 1000000.0) / 1000000.0 AS stickiness
        |FROM dau JOIN wau ON d = cd ORDER BY day""".stripMargin)),

    // ---- top 3-event paths (order-2 behavior sequences) ------------------
    Q("q_event_paths", "EventAnalytics", (s, dir) => {
      EventAnalytics.topPaths(events(s, dir), "user_id", "ts_us", "event_id",
        "event_type", n = 3, k = 20)
    }, sql(
      // event paths: the transition-matrix lag window extended one more lag;
      // (ts_us, event_id) unique per user makes the pairing deterministic
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS ts_us, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT event_type AS t0,
        |        lag(event_type, 1) OVER w AS t1,
        |        lag(event_type, 2) OVER w AS t2
        |      FROM e WINDOW w AS (PARTITION BY u ORDER BY ts_us, event_id)),
        |p AS (SELECT t2 || '->' || t1 || '->' || t0 AS path, CAST(count(*) AS BIGINT) AS n
        |      FROM l WHERE t2 IS NOT NULL GROUP BY 1)
        |SELECT path, n FROM p ORDER BY n DESC, path LIMIT 20""".stripMargin)),

    // ---- funnel time-to-convert distribution per transition --------------
    Q("q_funnel_latency", "EventAnalytics", (s, dir) => {
      EventAnalytics.funnelLatency(events(s, dir), "user_id", "ts_us", "event_type",
        Seq("view", "click", "purchase"), horizonUs = RUN_WEEK_US)
        .orderBy(col("stage"))
    }, sql(
      // funnel latency: the q_funnel step CTEs, then one latency frame per
      // transition; exact integer micros min/max, quantile_cont == percentile
      // (the q_bands parity) rounded to 6 places
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_type AS et
         |  FROM events WHERE user_id IS NOT NULL),
         |s1 AS (SELECT u, min(t) AS t1 FROM e WHERE et = 'view' GROUP BY u),
         |s2 AS (SELECT e.u, min(t) AS t2 FROM e JOIN s1 ON e.u = s1.u
         |       WHERE et = 'click' AND t > t1 AND t <= t1 + $RUN_WEEK_US GROUP BY e.u),
         |s3 AS (SELECT e.u, min(t) AS t3 FROM e JOIN s2 ON e.u = s2.u
         |       WHERE et = 'purchase' AND t > t2 AND t <= t2 + $RUN_WEEK_US GROUP BY e.u),
         |l2 AS (SELECT t2 - t1 AS lat FROM s2 JOIN s1 USING (u)),
         |l3 AS (SELECT t3 - t2 AS lat FROM s3 JOIN s2 USING (u)),
         |c AS (SELECT 2 AS stage, 'click' AS step, CAST(count(*) AS BIGINT) AS n_conv,
         |        min(lat) AS min_us,
         |        round(quantile_cont(CAST(lat AS DOUBLE), CAST(0.5 AS DOUBLE)), 6) AS p50_us,
         |        round(quantile_cont(CAST(lat AS DOUBLE), CAST(0.9 AS DOUBLE)), 6) AS p90_us,
         |        max(lat) AS max_us FROM l2
         |      UNION ALL
         |      SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
         |        min(lat),
         |        round(quantile_cont(CAST(lat AS DOUBLE), CAST(0.5 AS DOUBLE)), 6),
         |        round(quantile_cont(CAST(lat AS DOUBLE), CAST(0.9 AS DOUBLE)), 6),
         |        max(lat) FROM l3)
         |SELECT CAST(stage AS BIGINT) AS stage, step, n_conv, min_us, p50_us,
         |  p90_us, max_us
         |FROM c ORDER BY stage""".stripMargin)),

    // ---- RFM quintile segmentation over purchase events ------------------
    Q("q_rfm", "EventAnalytics", (s, dir) => {
      EventAnalytics.rfm(events(s, dir), "user_id", "ts_us", "event_type",
        conversion = "purchase", value = "value", nowUs = T1)
        .orderBy(col("user_id"))
    }, sql(
      // RFM: per-user conversion aggregate, integer-rank quintiles (no
      // percentile interpolation), monetary rounded BEFORE ranking
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, value FROM events
         |  WHERE user_id IS NOT NULL AND event_type = 'purchase'),
         |per AS (SELECT u AS user_id, ($T1 - max(t)) // 86400000000 AS recency_days,
         |          CAST(count(*) AS BIGINT) AS frequency,
         |          round(CAST(sum(CAST(round(coalesce(value, 0.0) * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0, 6) AS monetary
         |        FROM e GROUP BY 1),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM per),
         |r AS (SELECT *, row_number() OVER (ORDER BY recency_days, user_id) AS rr,
         |        row_number() OVER (ORDER BY frequency DESC, user_id) AS rf,
         |        row_number() OVER (ORDER BY monetary DESC, user_id) AS rm
         |      FROM per)
         |SELECT user_id, recency_days, frequency, monetary,
         |  CAST(5 - ((rr - 1) * 5) // n AS BIGINT) AS r_score,
         |  CAST(5 - ((rf - 1) * 5) // n AS BIGINT) AS f_score,
         |  CAST(5 - ((rm - 1) * 5) // n AS BIGINT) AS m_score,
         |  CAST((5 - ((rr - 1) * 5) // n) * 100 + (5 - ((rf - 1) * 5) // n) * 10
         |    + (5 - ((rm - 1) * 5) // n) AS BIGINT) AS rfm
         |FROM r CROSS JOIN nn ORDER BY user_id""".stripMargin)),

    // ---- U-shaped multi-touch attribution over the event stream ----------
    Q("q_attribution", "EventAnalytics", (s, dir) => {
      EventAnalytics.attribution(events(s, dir), "user_id", "ts_us", "event_id",
        "event_type", conversion = "purchase", touches = Seq("view", "click"),
        lookbackUs = RUN_WEEK_US)
        .orderBy(col("channel"))
    }, sql(
      // attribution: per-conversion touch windows, the same positional CASE
      // weights, one channel aggregate (sum rounded)
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tb, event_type AS et
         |  FROM events WHERE user_id IS NOT NULL),
         |c AS (SELECT u, t AS cts, tb AS cid FROM e WHERE et = 'purchase'),
         |p AS (SELECT e.et, e.u, e.t, e.tb, c.cts, c.cid FROM e JOIN c ON e.u = c.u
         |      WHERE e.et IN ('view', 'click') AND e.t < c.cts AND e.t >= c.cts - $RUN_WEEK_US),
         |r AS (SELECT *, row_number() OVER (PARTITION BY u, cts, cid ORDER BY t, tb) AS rn,
         |        count(*) OVER (PARTITION BY u, cts, cid) AS n FROM p)
         |SELECT et AS channel, CAST(count(*) AS BIGINT) AS n_touches,
         |  round(CAST(sum(CAST(round((CASE WHEN n = 1 THEN 1.0
         |                 WHEN rn = 1 OR rn = n THEN (CASE WHEN n = 2 THEN 0.5 ELSE 0.4 END)
         |                 ELSE 0.2 / (n - 2) END) * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0, 6) AS credit
         |FROM r GROUP BY 1 ORDER BY channel""".stripMargin)),

    // ---- dwell-time profile per adjacent event-type transition -----------
    Q("q_transition_latency", "EventAnalytics", (s, dir) => {
      EventAnalytics.transitionLatency(events(s, dir), "user_id", "ts_us",
        "event_id", "event_type")
    }, sql(
      """WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t, event_id AS tb,
        |    event_type AS et
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |l AS (SELECT u, t, et,
        |        lag(t) OVER (PARTITION BY u ORDER BY t, tb) AS pt,
        |        lag(et) OVER (PARTITION BY u ORDER BY t, tb) AS pe
        |      FROM e),
        |g AS (SELECT pe AS from_type, et AS to_type,
        |        CAST(t - pt AS DOUBLE) AS gap
        |      FROM l WHERE pe IS NOT NULL)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n,
        |  round(quantile_cont(gap, CAST(0.5 AS DOUBLE)) / 1000000.0, 3) AS p50_s,
        |  round(quantile_cont(gap, CAST(0.9 AS DOUBLE)) / 1000000.0, 3) AS p90_s,
        |  CAST(max(gap) AS BIGINT) AS max_us
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- leakage-safe churn dataset: trailing features, future label -----
    Q("q_churn_labels", "EventAnalytics", (s, dir) => {
      EventAnalytics.churnLabels(events(s, dir), "user_id", "ts_us",
        cutoffUs = TMID, labelUs = 7L * 86400000000L)
    }, sql(
      s"""WITH e AS (SELECT user_id AS u, epoch_us(ts) AS t FROM events
         |           WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |             AND epoch_us(ts) < ${TMID + 7L * 86400000000L}),
         |g AS (SELECT u AS user_id,
         |        CAST(sum(CASE WHEN t >= ${TMID - 7L * 86400000000L} AND t < $TMID
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_7d,
         |        CAST(sum(CASE WHEN t >= ${TMID - 86400000000L} AND t < $TMID
         |                      THEN 1 ELSE 0 END) AS BIGINT) AS n_1d,
         |        max(CASE WHEN t < $TMID THEN t END) AS last_t,
         |        CAST(max(CASE WHEN t >= $TMID THEN 1 ELSE 0 END) AS BIGINT) AS label
         |      FROM e GROUP BY 1)
         |SELECT user_id, n_7d, n_1d, $TMID - last_t AS recency_us, label
         |FROM g WHERE n_7d > 0 ORDER BY user_id""".stripMargin)),

    // ---- A/B experiment readout: two-proportion z on purchase conversion -
    Q("q_ab_test", "EventAnalytics", (s, dir) => {
      // plain 'purchase' converts EVERY sampled user — test a high-value
      // conversion so the proportions are informative
      val ev = events(s, dir).withColumn("__conv",
        when(col("event_type") === "purchase" && col("value") >= 300.0,
          "bigbuy").otherwise(col("event_type")))
      EventAnalytics.abTest(ev, "user_id",
        when(pmod(col("user_id"), lit(2)) === 0, "A").otherwise("B"),
        "__conv", "bigbuy")
    }, sql(
      """WITH b AS (SELECT user_id AS u,
        |    CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS v,
        |    CASE WHEN event_type = 'purchase' AND value >= 300.0
        |         THEN 'bigbuy' ELSE event_type END AS e
        |  FROM events WHERE user_id IS NOT NULL),
        |us AS (SELECT DISTINCT u, v FROM b),
        |cv AS (SELECT DISTINCT u, v FROM b WHERE e = 'bigbuy'),
        |per AS (SELECT us.v, CAST(count(*) AS BIGINT) AS n,
        |          CAST(sum(CASE WHEN cv.u IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS k
        |        FROM us LEFT JOIN cv ON us.u = cv.u AND us.v = cv.v
        |        GROUP BY 1),
        |j AS (SELECT a.v AS variant_a, b2.v AS variant_b, a.n AS users_a,
        |        a.k AS conv_a, b2.n AS users_b, b2.k AS conv_b,
        |        ((a.k + b2.k) / (a.n + b2.n)) *
        |          (1.0 - (a.k + b2.k) / (a.n + b2.n)) *
        |          (1.0 / a.n + 1.0 / b2.n) AS vt,
        |        a.k / a.n - b2.k / b2.n AS pd
        |      FROM per a JOIN per b2 ON a.v < b2.v)
        |SELECT variant_a, variant_b, users_a, conv_a, users_b, conv_b,
        |  CASE WHEN vt > 0.0 THEN round(pd / sqrt(vt), 6) END AS z
        |FROM j ORDER BY variant_a, variant_b""".stripMargin)),

    // ---- time-decayed trending users (bucketed half-life decay) ----------
    Q("q_trending", "EventAnalytics", (s, dir) => {
      EventAnalytics.trendingTopK(events(s, dir), "user_id", "ts_us",
        halfLifeUs = 172800000000L, k = 20)
    }, sql(
      // decayed trending: same integer half-life buckets, exact BIGINT
      // 2^(40-d) terms, one scale-back division per output row
      """WITH b AS (SELECT user_id AS k, epoch_us(ts) AS t FROM events
        |           WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |m AS (SELECT max(t) AS tmax FROM b),
        |d AS (SELECT k, CAST(least(floor((tmax - t) / 172800000000.0), 40.0) AS INTEGER) AS d
        |      FROM b, m),
        |g AS (SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(1::BIGINT << (40 - d)) AS BIGINT) AS s
        |      FROM d GROUP BY 1)
        |SELECT user_id, n, round(s / 1099511627776.0, 6) AS score
        |FROM g ORDER BY score DESC, user_id LIMIT 20""".stripMargin)),

    // ---- incremental rollup maintenance: prior + delta == full (the
    // oracle recomputes from scratch — implementation-divergent check) -----
    Q("q_rollup_merge", "EventAnalytics", (s, dir) => {
      val ev = events(s, dir)
      val prior = EventAnalytics.dailyRollup(
        ev.where(col("ts_us") < TMID), "ts_us", "event_type", "value")
      val delta = EventAnalytics.dailyRollup(
        ev.where(col("ts_us") >= TMID), "ts_us", "event_type", "value")
      EventAnalytics.mergeRollup(prior, delta, Seq("day", "event_type"))
        .select(col("day"), col("event_type"), col("n"),
          round(col("sum_value").cast("double"), 6).as("sum_value"))
        .orderBy(col("day"), col("event_type"))
    }, sql(
      // rollup merge: the oracle recomputes the FULL rollup from scratch —
      // the engine's prior+delta merge must land on the same table
      """SELECT epoch_us(ts) // 86400000000 AS day, event_type,
        |  CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(coalesce(value, 0.0) AS DECIMAL(28,6))) AS DOUBLE), 6) AS sum_value
        |FROM events WHERE event_type IS NOT NULL
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin)))
}
