package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Q.sql
import Shared._

/** Queries whose headline call is in `TimeSeries`, each beside its DuckDB oracle. */
object TimeSeriesQueries {
  val all: Seq[Q] = Seq(
    // ---- S4/P1/O1 time-range scan (archiver.py:185-190) --------------------
    Q("q_range_scan", "TimeSeries", (s, dir) => {
      TimeSeries.rangeScan(events(s, dir), col("event_type"), "click", "ts_us", T0, T1)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
        .orderBy(col("ts_us"), col("event_id"))
    }, sql(
      s"""SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
         |FROM events
         |WHERE event_type = 'click' AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $T1
         |ORDER BY ts_us, event_id""".stripMargin)),

    // ---- W2/Q3 flagship get_data: range + one point before tmin ------------
    Q("q_get_data", "TimeSeries", (s, dir) => {
      TimeSeries.getData(events(s, dir), col("event_type"), "purchase", "ts_us", "event_id", T0, T1)
        .select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    }, sql(
      // early point bounded to [T0 - 1 day, T0) like the reference's one-day
      // slice (archiver.py:192-206) — mirrors getData's earlyLookbackUs default
      s"""WITH e AS (
         |  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
         |  FROM events WHERE event_type = 'purchase'),
         |early AS (
         |  SELECT event_id, user_id, ts_us, value
         |  FROM (SELECT *, row_number() OVER (ORDER BY ts_us DESC, event_id DESC) AS rn
         |        FROM e WHERE ts_us < $T0 AND ts_us >= ${T0 - 86400000000L})
         |  WHERE rn = 1)
         |SELECT event_id, user_id, ts_us, value FROM early
         |UNION ALL
         |SELECT event_id, user_id, ts_us, value FROM e WHERE ts_us >= $T0 AND ts_us < $T1
         |ORDER BY ts_us, event_id""".stripMargin)),

    // ---- Q2 get_value_at_time per key --------------------------------------
    Q("q_value_at_time", "TimeSeries", (s, dir) => {
      TimeSeries.valueAtTime(events(s, dir), "user_id", "ts_us", "event_id", TMID)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        .orderBy(col("user_id"))
    }, sql(
      s"""SELECT user_id, ts_us, event_id, value
         |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
         |        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
         |      FROM events WHERE epoch_us(ts) <= $TMID)
         |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ---- A1 latest-per-key (the reference's cache table) -------------------
    Q("q_latest_per_key", "TimeSeries", (s, dir) => {
      TimeSeries.latestPerKey(events(s, dir), "user_id", "ts_us", "event_id", Seq("event_type", "value"))
        .orderBy(col("user_id"))
    }, sql(
      """SELECT user_id, ts_us, event_id, event_type, value
        |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value,
        |        row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ---- A2 min/max time + count per series --------------------------------
    Q("q_minmax_per_type", "TimeSeries", (s, dir) => {
      TimeSeries.minMaxPerKey(events(s, dir), "event_type", "ts_us")
        .orderBy(col("event_type"))
    }, sql(
      """SELECT event_type, min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS stop_us,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- P6 count since threshold per key ----------------------------------
    Q("q_count_since", "TimeSeries", (s, dir) => {
      TimeSeries.countSince(events(s, dir), "event_type", "ts_us", T0)
        .orderBy(col("event_type"))
    }, sql(
      s"""SELECT event_type, count(*) AS n FROM events
         |WHERE epoch_us(ts) > $T0 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- J5 runs overlapping a query interval (dbs_for_time) ---------------
    Q("q_runs_overlap", "TimeSeries", (s, dir) => {
      TimeSeries.runsOverlapping(events(s, dir), "ts_us", RUN_WEEK_US, T0, T1)
    }, sql(
      s"""SELECT epoch_us(ts) // $RUN_WEEK_US AS run_id,
         |  min(epoch_us(ts)) AS start_us, max(epoch_us(ts)) AS stop_us, count(*) AS n
         |FROM events GROUP BY 1
         |HAVING max(epoch_us(ts)) >= $T0 AND min(epoch_us(ts)) <= $T1
         |ORDER BY run_id""".stripMargin)),

    // ---- W3/T2 batch twin of the deadtime/deadband downsampler -------------
    Q("q_downsample", "TimeSeries", (s, dir) => {
      TimeSeries.downsampleBatch(
        events(s, dir), "user_id", "ts_us", "event_id", "value",
        deadtimeUs = 6L * 3600L * 1000000L, deadband = 50.0)
        .select(col("user_id"), col("ts_us"), col("event_id"), col("value"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    }, sql(
      s"""SELECT user_id, ts_us, event_id, value
         |FROM (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value,
         |        lag(epoch_us(ts)) OVER w AS pts,
         |        lag(value) OVER w AS pv
         |      FROM events
         |      WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
         |WHERE pts IS NULL OR ((ts_us - pts) > ${6L * 3600L * 1000000L} AND abs(value - pv) > 50.0)
         |ORDER BY user_id, ts_us, event_id""".stripMargin)),

    // ---- J2/W1 multi-series LOCF as-of alignment (chunk-parallel form) -----
    Q("q_locf_align", "TimeSeries", (s, dir) => {
      TimeSeries.locfAlignChunked(events(s, dir), "event_type", "ts_us", "value",
        Seq("click", "purchase", "view"), T0, T1, chunkUs = 86400000000L)
    }, sql(
      s"""WITH e AS (
         |  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
         |  WHERE event_type IN ('click', 'purchase', 'view') AND epoch_us(ts) < $T1),
         |g AS (SELECT ts_us,
         |        max(CASE WHEN event_type = 'click' THEN value END) AS c0,
         |        max(CASE WHEN event_type = 'purchase' THEN value END) AS c1,
         |        max(CASE WHEN event_type = 'view' THEN value END) AS c2
         |      FROM e GROUP BY ts_us),
         |f AS (SELECT ts_us,
         |        last_value(c0 IGNORE NULLS) OVER w AS click,
         |        last_value(c1 IGNORE NULLS) OVER w AS purchase,
         |        last_value(c2 IGNORE NULLS) OVER w AS "view"
         |      FROM g WINDOW w AS (ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT ts_us, click, purchase, "view" FROM f
         |WHERE ts_us >= $T0 AND click IS NOT NULL AND purchase IS NOT NULL AND "view" IS NOT NULL
         |ORDER BY ts_us""".stripMargin)),

    // ---- Q1 cull_data percentile-preserving decimation ---------------------
    Q("q_decimate", "TimeSeries", (s, dir) => {
      val e = events(s, dir)
        .where(col("event_type") === "error" && col("ts_us") >= T0 && col("ts_us") < T1)
      TimeSeries.decimate(e, "ts_us", "event_id", "value", sample = 5, percent = 10.0)
        .select(col("ts_us"), col("event_id"), col("value"))
    }, sql(
      s"""WITH e AS (
         |  SELECT epoch_us(ts) AS ts_us, event_id, value FROM events
         |  WHERE event_type = 'error' AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $T1),
         |b AS (SELECT quantile_cont(CAST(value AS DOUBLE), CAST(0.1 AS DOUBLE)) AS lo,
         |             quantile_cont(CAST(value AS DOUBLE), CAST(0.9 AS DOUBLE)) AS hi FROM e),
         |r AS (SELECT ts_us, event_id, value, row_number() OVER (ORDER BY ts_us, event_id) AS rn FROM e)
         |SELECT ts_us, event_id, value FROM r, b
         |WHERE (rn - 1) % 5 = 0 OR value < lo OR value > hi
         |ORDER BY ts_us, event_id""".stripMargin)),

    // ---- gap-based sessionization per user (30 min idle timeout) ----------
    Q("q_sessions", "TimeSeries", (s, dir) => {
      val samples = events(s, dir).select(
        concat(lit("u"), col("user_id")).as("pvname"), col("ts_us"))
      TimeSeries.sessionStats(samples, "pvname", "ts_us", gapUs = 30L * 60L * 1000000L)
        .orderBy(col("pvname"), col("session_idx"))
    }, sql(
      // lag/cumsum sessionization restated over the same 30-min idle gap
      s"""WITH e AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname, epoch_us(ts) AS ts_us
         |  FROM events),
         |f AS (SELECT pvname, ts_us,
         |    CASE WHEN lag(ts_us) OVER (PARTITION BY pvname ORDER BY ts_us) IS NULL
         |           OR ts_us - lag(ts_us) OVER (PARTITION BY pvname ORDER BY ts_us)
         |              > ${30L * 60L * 1000000L} THEN 1 ELSE 0 END AS is_new
         |  FROM e),
         |sx AS (SELECT pvname, ts_us, CAST(sum(is_new) OVER (
         |    PARTITION BY pvname ORDER BY ts_us
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
         |  FROM f)
         |SELECT pvname, session_idx, min(ts_us) AS start_us, max(ts_us) AS end_us,
         |  CAST(count(*) AS BIGINT) AS n_events
         |FROM sx GROUP BY pvname, session_idx
         |ORDER BY pvname, session_idx""".stripMargin)),

    // ---- generic keyed as-of join (vectorized Q2): every view event picks
    // up the user's latest click value at or before its time ----------------
    Q("q_asof_join", "TimeSeries", (s, dir) => {
      val ev = events(s, dir)
      val views = ev.where(col("event_type") === "view").select(
        concat(lit("u"), col("user_id")).as("pvname"),
        col("ts_us"), col("event_id"))
      val clicks = ev.where(col("event_type") === "click").select(
        concat(lit("u"), col("user_id")).as("pvname"),
        col("ts_us").as("click_ts"), col("value"))
        // unique per (key, ts): max tie-break, mirrored in the oracle
        .groupBy(col("pvname"), col("click_ts"))
        .agg(max(col("value")).as("click_value"))
      TimeSeries.asofJoin(views, clicks, "pvname", "ts_us", "click_ts",
        Seq("click_value"))
        // views before any click carry null; a sentinel keeps the compare
        // null-free (the gate sorts row tuples)
        .select(col("pvname"), col("ts_us"), col("event_id"),
          coalesce(col("click_value"), lit(-1.0)).as("click_value"))
        .orderBy(col("pvname"), col("ts_us"), col("event_id"))
    }, sql(
      // DuckDB's native ASOF LEFT JOIN is the independent restatement of the
      // union+running-last plan — an implementation-divergent oracle
      """WITH l AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
        |    epoch_us(ts) AS ts_us, event_id FROM events WHERE event_type = 'view'),
        |r AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
        |    epoch_us(ts) AS click_ts, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2)
        |SELECT l.pvname, l.ts_us, l.event_id,
        |  coalesce(r.click_value, -1.0) AS click_value
        |FROM l ASOF LEFT JOIN r
        |  ON l.pvname = r.pvname AND l.ts_us >= r.click_ts
        |ORDER BY l.pvname, l.ts_us, l.event_id""".stripMargin)),

    // ---- linear-interpolation resampling to an hourly grid (the smooth-
    // plot twin of the LOCF alignment family) ------------------------------
    Q("q_interpolate", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click" && col("ts_us") >= T0 && col("ts_us") < TMID)
        .where(col("user_id") < 40)
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.interpolateLinear(samples, "pvname", "ts_us", "value",
        t0 = T0, t1 = TMID, stepUs = 6L * 3600L * 1000000L)
        .select(col("pvname"), col("ts_us"),
          coalesce(col("value"), lit(Double.NaN)).as("value"))
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // grid rows interleave AFTER their same-timestamp sample (is_grid
      // orders last), so "prev" is at-or-before and "next" strictly after;
      // head-of-series grid points have no value -> NaN (driver hygiene)
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, max(value) AS v
         |  FROM events WHERE event_type = 'click'
         |    AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $TMID AND user_id < 40
         |  GROUP BY 1, 2),
         |grid AS (SELECT pvname, unnest(generate_series($T0, $TMID,
         |    ${6L * 3600L * 1000000L})) AS ts_us
         |  FROM (SELECT DISTINCT pvname FROM s)),
         |u AS (SELECT pvname, ts_us, v, 0 AS is_grid FROM s
         |  UNION ALL SELECT pvname, ts_us, NULL, 1 FROM grid),
         |f AS (SELECT pvname, ts_us, is_grid,
         |    last_value(CASE WHEN is_grid = 0 AND v IS NOT NULL THEN v END
         |      IGNORE NULLS) OVER wp AS pv,
         |    last_value(CASE WHEN is_grid = 0 AND v IS NOT NULL THEN ts_us END
         |      IGNORE NULLS) OVER wp AS pt,
         |    first_value(CASE WHEN is_grid = 0 AND v IS NOT NULL THEN v END
         |      IGNORE NULLS) OVER wn AS nv,
         |    first_value(CASE WHEN is_grid = 0 AND v IS NOT NULL THEN ts_us END
         |      IGNORE NULLS) OVER wn AS nt
         |  FROM u
         |  WINDOW wp AS (PARTITION BY pvname ORDER BY ts_us, is_grid
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |    wn AS (PARTITION BY pvname ORDER BY ts_us, is_grid
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         |SELECT pvname, ts_us,
         |  coalesce(round(CASE
         |    WHEN pt IS NOT NULL AND nt IS NOT NULL
         |      THEN pv + (nv - pv) * ((ts_us - pt) / (nt - pt))
         |    WHEN pt IS NOT NULL THEN pv END, 6), 'NaN'::DOUBLE) AS value
         |FROM f WHERE is_grid = 1 ORDER BY pvname, ts_us""".stripMargin)),

    // ---- per-series daily OHLC rollup (first/last/min/max per bucket) ------
    Q("q_ohlc", "TimeSeries", (s, dir) => {
      TimeSeries.bucketRollup(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", widthUs = 86400000000L)
        .orderBy(col("pvname"), col("bucket"))
    }, sql(
      // daily OHLC rollup: dedupe per (key, ts) first so arg_min/arg_max are
      // tie-free; open/high/low/close are exact data values (no rounding)
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    max(CAST(value AS DOUBLE)) AS v
         |  FROM events GROUP BY 1, 2)
         |SELECT pvname, ts_us // 86400000000 AS bucket,
         |  arg_min(v, ts_us) AS open, max(v) AS high, min(v) AS low,
         |  arg_max(v, ts_us) AS close, CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(round((v) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((v) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS mean
         |FROM s GROUP BY 1, 2 ORDER BY pvname, bucket""".stripMargin)),

    // ---- per-series fixed-range value histogram (20 bins over [0, 500],
    // out-of-range clamped into the edge bins) -----------------------------
    Q("q_histogram", "TimeSeries", (s, dir) => {
      TimeSeries.histogram(
        events(s, dir).select(col("event_type").as("pvname"), col("value")),
        "pvname", "value", lo = 0.0, hi = 500.0, bins = 20)
        .orderBy(col("pvname"), col("bin"))
    }, sql(
      // fixed-range histogram: identical clamp expression on both engines
      // ((500-0)/20 = 25.0 exact, so the bin arithmetic is exact-double)
      s"""WITH s AS (SELECT event_type AS pvname, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL)
         |SELECT pvname,
         |  CAST(least(greatest(floor((v - 0.0) / 25.0), 0), 19) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(0.0 AS DOUBLE) + CAST(least(greatest(floor((v - 0.0) / 25.0), 0), 19) AS BIGINT) * CAST(25.0 AS DOUBLE), 6) AS bin_lo
         |FROM s GROUP BY 1, 2 ORDER BY pvname, bin""".stripMargin)),

    // ---- per-key sample-to-sample delta / rate of change -------------------
    Q("q_delta_rate", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click" && col("ts_us") >= T0 && col("ts_us") < TMID)
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.deltaRate(samples, "pvname", "ts_us", "value")
        // first-of-key rows carry no rate; drop them here so the oracled
        // output has no NULLs (driver row-sort hygiene, like q_trailing_stats)
        .where(col("delta").isNotNull)
        .select(col("pvname"), col("ts_us"), col("value"), col("delta"),
          col("dt_us"),
          coalesce(col("rate_per_sec"), lit(Double.NaN)).as("rate_per_sec"))
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // per-key delta / rate of change: lag over the deduped series; rows
      // without a predecessor are dropped on both sides
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, max(CAST(value AS DOUBLE)) AS v
         |  FROM events WHERE event_type = 'click'
         |    AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $TMID
         |  GROUP BY 1, 2),
         |d AS (SELECT pvname, ts_us, v,
         |    v - lag(v) OVER w AS dd, ts_us - lag(ts_us) OVER w AS dt_us
         |  FROM s WINDOW w AS (PARTITION BY pvname ORDER BY ts_us))
         |SELECT pvname, ts_us, v AS value, round(dd, 6) + 0.0 AS delta, dt_us,
         |  coalesce(CASE WHEN dt_us > 0
         |      THEN round(dd / (dt_us / 1000000.0), 6) + 0.0 END,
         |    'NaN'::DOUBLE) AS rate_per_sec
         |FROM d WHERE dd IS NOT NULL ORDER BY pvname, ts_us""".stripMargin)),

    // ---- per-key EWMA smoothing (sequential fold; secondary-sort linear
    // scan in Spark, list_reduce fold in the oracle — identical op order,
    // bit-identical doubles before the shared round) -----------------------
    Q("q_ewma", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.ewma(samples, "pvname", "ts_us", "value", alpha = 0.25)
        // floor-quantize, not round: alpha=0.25 makes many ewma values exact
        // dyadics sitting ON decimal half-points, where Spark (BigDecimal
        // HALF_UP) and DuckDB (float rounding) disagree; floor of the
        // bit-identical fold output is engine-invariant
        .withColumn("ewma", floor(col("ewma") * 1000000.0) / 1000000.0)
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // EWMA: the sequential fold re-expressed as a per-prefix list_reduce
      // (same technique as q_downsample_stateful/q_alerts). 0.75*a + 0.25*x
      // mirrors the Scala fold's (1-alpha)*s + alpha*v literally — both
      // constants are exact doubles, so pre-round values are bit-identical.
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, max(CAST(value AS DOUBLE)) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |g AS (SELECT pvname, list(ts_us ORDER BY ts_us) AS tss,
         |    list(v ORDER BY ts_us) AS vs
         |  FROM s GROUP BY pvname),
         |u AS (SELECT pvname,
         |    unnest(tss) AS ts_us,
         |    unnest(vs) AS value,
         |    unnest([floor(list_reduce(vs[1:i], (a, x) -> 0.75 * a + 0.25 * x) * 1000000.0) / 1000000.0
         |            FOR i IN generate_series(1, len(vs))]) AS ewma
         |  FROM g)
         |SELECT pvname, ts_us, value, ewma FROM u
         |ORDER BY pvname, ts_us""".stripMargin)),

    // ---- per-key Holt level+trend smoothing (sequential two-scalar fold;
    // same secondary-sort linear scan as q_ewma, struct-state list_reduce
    // in the oracle — identical op order, bit-identical doubles before the
    // shared floor quantization) -------------------------------------------
    Q("q_holt", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.holt(samples, "pvname", "ts_us", "value", alpha = 0.5, beta = 0.25)
        .withColumn("level", floor(col("level") * 1000000.0) / 1000000.0)
        .withColumn("trend", floor(col("trend") * 1000000.0) / 1000000.0)
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // Holt level+trend: the two-scalar fold state rides in ONE VARCHAR
      // 'l|b' (DuckDB 1.0 list_reduce mis-threads struct accumulators — the
      // q_downsample_stateful workaround; double<->varchar casts are
      // shortest-round-trip so state stays bit-exact). The level expression
      // is inlined twice in the trend update — recomputing an identical
      // double expression yields identical bits. 0.5/0.25/0.75 are exact
      // dyadic doubles; op order mirrors TimeSeries.holt literally.
      {
      val A = "string_split(a,'|')"
      val l = s"CAST($A[1] AS DOUBLE)"
      val b = s"CAST($A[2] AS DOUBLE)"
      val xv = "CAST(x AS DOUBLE)"
      val lNew = s"(0.5 * $xv + 0.5 * ($l + $b))"
      val bNew = s"(0.25 * ($lNew - $l) + 0.75 * $b)"
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, max(CAST(value AS DOUBLE)) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |g AS (SELECT pvname, list(ts_us ORDER BY ts_us) AS tss,
         |    list(v ORDER BY ts_us) AS vs
         |  FROM s GROUP BY pvname),
         |u AS (SELECT pvname,
         |    unnest(tss) AS ts_us,
         |    unnest(vs) AS value,
         |    unnest([list_reduce(
         |        list_prepend(CAST(vs[1] AS VARCHAR) || '|' || CAST(CAST(0 AS DOUBLE) AS VARCHAR),
         |                     [CAST(x AS VARCHAR) FOR x IN vs[2:i]]),
         |        (a, x) -> CAST($lNew AS VARCHAR) || '|' || CAST($bNew AS VARCHAR))
         |      FOR i IN generate_series(1, len(vs))]) AS st
         |  FROM g)
         |SELECT pvname, ts_us, value,
         |  floor(CAST(string_split(st,'|')[1] AS DOUBLE) * 1000000.0) / 1000000.0 AS level,
         |  floor(CAST(string_split(st,'|')[2] AS DOUBLE) * 1000000.0) / 1000000.0 AS trend
         |FROM u ORDER BY pvname, ts_us""".stripMargin
    })),

    // ---- per-event-type winsorized robust stats (exact percentile fences,
    // clamp, one combinable moment pass) -----------------------------------
    Q("q_winsorize", "TimeSeries", (s, dir) => {
      TimeSeries.winsorize(
        events(s, dir).select(col("event_type"), col("value")),
        "event_type", "value", pLo = 0.05, pHi = 0.95)
        .orderBy(col("event_type"))
    }, sql(
      // winsorized robust stats: quantile_cont == Spark's exact percentile
      // (the q_bands parity); the moment pass mirrors the engine's
      // clamp+avg expressions, greatest(_, 0) guards the sqrt cancellation
      """WITH b AS (SELECT event_type, CAST(value AS DOUBLE) AS v
        |           FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |f AS (SELECT event_type,
        |        quantile_cont(v, CAST(0.05 AS DOUBLE)) AS lo,
        |        quantile_cont(v, CAST(0.95 AS DOUBLE)) AS hi
        |      FROM b GROUP BY 1),
        |c AS (SELECT b.event_type, v, lo, hi, least(greatest(v, lo), hi) AS w
        |      FROM b JOIN f USING (event_type))
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN v < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN v > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  round(min(lo), 6) AS p_lo, round(min(hi), 6) AS p_hi,
        |  round(CAST(sum(CAST(round(w * 1000.0) AS BIGINT)) AS BIGINT)::DOUBLE / 1000.0 / count(*), 6) AS win_mean,
        |  round(sqrt(greatest(
        |    CAST(sum(CAST(round(w * 1000.0) AS BIGINT) * CAST(round(w * 1000.0) AS BIGINT)) AS BIGINT)::DOUBLE / 1000000.0 / count(*) -
        |    (CAST(sum(CAST(round(w * 1000.0) AS BIGINT)) AS BIGINT)::DOUBLE / 1000.0 / count(*)) *
        |    (CAST(sum(CAST(round(w * 1000.0) AS BIGINT)) AS BIGINT)::DOUBLE / 1000.0 / count(*)), CAST(0 AS DOUBLE))), 6) AS win_std
        |FROM c GROUP BY 1 ORDER BY event_type""".stripMargin)),

    // ---- correlation matrix over the LOCF-aligned series ("do these PVs
    // move together") — explicit-sum Pearson from ONE shared agg pass ------
    Q("q_pv_corr", "TimeSeries", (s, dir) => {
      val aligned = TimeSeries.locfAlign(
        events(s, dir).select(col("event_type"), col("ts_us"), col("value")),
        "event_type", "ts_us", "value", Seq("click", "purchase", "view"), T0, T1)
      TimeSeries.correlationMatrix(aligned, Seq("click", "purchase", "view"))
        .select(col("k1"), col("k2"), col("n"),
          coalesce(col("corr"), lit(Double.NaN)).as("corr"))
        .orderBy(col("k1"), col("k2"))
    }, sql(
      // correlation matrix over the q_locf_align grid: explicit-sum Pearson
      // (identical formula both engines — not each engine's corr() internals);
      // values quantized to 1e-3-grid BIGINTs before summation so the moment
      // sums are exact integers (Pearson is scale-invariant, so no de-scaling)
      s"""WITH e AS (
         |  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
         |  WHERE event_type IN ('click', 'purchase', 'view') AND epoch_us(ts) < $T1),
         |g AS (SELECT ts_us,
         |        max(CASE WHEN event_type = 'click' THEN value END) AS c0,
         |        max(CASE WHEN event_type = 'purchase' THEN value END) AS c1,
         |        max(CASE WHEN event_type = 'view' THEN value END) AS c2
         |      FROM e GROUP BY ts_us),
         |f AS (SELECT ts_us,
         |        last_value(c0 IGNORE NULLS) OVER w AS a0,
         |        last_value(c1 IGNORE NULLS) OVER w AS b0,
         |        last_value(c2 IGNORE NULLS) OVER w AS c0
         |      FROM g WINDOW w AS (ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |al0 AS (SELECT a0, b0, c0 FROM f
         |       WHERE ts_us >= $T0 AND a0 IS NOT NULL AND b0 IS NOT NULL AND c0 IS NOT NULL),
         |al AS (SELECT CAST(round(CAST(a0 AS DOUBLE) * 1000.0) AS BIGINT) AS a,
         |              CAST(round(CAST(b0 AS DOUBLE) * 1000.0) AS BIGINT) AS b,
         |              CAST(round(CAST(c0 AS DOUBLE) * 1000.0) AS BIGINT) AS c
         |       FROM al0),
         |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a) AS BIGINT) AS sxa, CAST(sum(a*a) AS BIGINT) AS sxxa,
         |    CAST(sum(b) AS BIGINT) AS sxb, CAST(sum(b*b) AS BIGINT) AS sxxb,
         |    CAST(sum(c) AS BIGINT) AS sxc, CAST(sum(c*c) AS BIGINT) AS sxxc,
         |    CAST(sum(a*b) AS BIGINT) AS sab, CAST(sum(a*c) AS BIGINT) AS sac,
         |    CAST(sum(b*c) AS BIGINT) AS sbc
         |  FROM al),
         |p AS (
         |  SELECT 'click' AS k1, 'purchase' AS k2, n, sab AS sxy,
         |         sxa AS sx1, sxxa AS sxx1, sxb AS sx2, sxxb AS sxx2 FROM sums
         |  UNION ALL
         |  SELECT 'click', 'view', n, sac, sxa, sxxa, sxc, sxxc FROM sums
         |  UNION ALL
         |  SELECT 'purchase', 'view', n, sbc, sxb, sxxb, sxc, sxxc FROM sums)
         |SELECT k1, k2, CAST(n AS BIGINT) AS n,
         |  coalesce(CASE WHEN sqrt(n::DOUBLE * sxx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) *
         |                sqrt(n::DOUBLE * sxx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE) > 0
         |      THEN round((n::DOUBLE * sxy::DOUBLE - sx1::DOUBLE * sx2::DOUBLE) /
         |        (sqrt(n::DOUBLE * sxx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) *
         |         sqrt(n::DOUBLE * sxx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE)), 6) END,
         |    'NaN'::DOUBLE) AS corr
         |FROM p ORDER BY k1, k2""".stripMargin)),

    // ---- downtime/gap report (where the data ISN'T) -----------------------
    Q("q_gaps", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"), col("ts_us"))
      TimeSeries.gaps(samples, "pvname", "ts_us", minGapUs = 5L * 86400000000L)
        .orderBy(col("pvname"), col("gap_start"))
    }, sql(
      // downtime gaps: lag over the deduped series, keep intervals > 5 days
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |d AS (SELECT pvname, lag(ts_us) OVER w AS gap_start, ts_us AS gap_end
         |  FROM s WINDOW w AS (PARTITION BY pvname ORDER BY ts_us))
         |SELECT pvname, gap_start, gap_end, gap_end - gap_start AS gap_us
         |FROM d WHERE gap_start IS NOT NULL
         |  AND gap_end - gap_start > ${5L * 86400000000L}
         |ORDER BY pvname, gap_start""".stripMargin)),

    // ---- per-day percentile bands (ribbon-plot envelope) ------------------
    Q("q_bands", "TimeSeries", (s, dir) => {
      TimeSeries.percentileBands(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", widthUs = 86400000000L)
        .orderBy(col("pvname"), col("bucket"))
    }, sql(
      // percentile bands: exact interpolated quantiles per (series, day)
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL)
         |SELECT pvname, ts_us // 86400000000 AS bucket,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(quantile_cont(v, CAST(0.1 AS DOUBLE)), 6) AS p10,
         |  round(quantile_cont(v, CAST(0.5 AS DOUBLE)), 6) AS p50,
         |  round(quantile_cont(v, CAST(0.9 AS DOUBLE)), 6) AS p90
         |FROM s GROUP BY 1, 2 ORDER BY pvname, bucket""".stripMargin)),

    // ---- per-series autocorrelation at lags 1..3 --------------------------
    Q("q_acf", "TimeSeries", (s, dir) => {
      TimeSeries.autocorrelation(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", maxLag = 3)
        .select(col("pvname"), col("lag"), col("n"),
          coalesce(col("acf"), lit(Double.NaN)).as("acf"))
        .orderBy(col("pvname"), col("lag"))
    }, sql(
      // autocorrelation: one lag window, per-lag conditional sums (rows where
      // the lag exists), the shared explicit-sum Pearson formula
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    max(CAST(value AS DOUBLE)) AS v
         |  FROM events GROUP BY 1, 2),
         |lg AS (SELECT pvname, v,
         |    lag(v, 1) OVER w AS l1, lag(v, 2) OVER w AS l2, lag(v, 3) OVER w AS l3
         |  FROM s WINDOW w AS (PARTITION BY pvname ORDER BY ts_us)),
         |a AS (
         |  SELECT pvname, 1 AS lag_i, CAST(count(*) AS DOUBLE) AS n,
         |      sum(v) AS sx, sum(v*v) AS sxx, sum(l1) AS sy, sum(l1*l1) AS syy,
         |      sum(v*l1) AS sxy
         |    FROM lg WHERE l1 IS NOT NULL GROUP BY pvname
         |  UNION ALL
         |  SELECT pvname, 2, CAST(count(*) AS DOUBLE),
         |      sum(v), sum(v*v), sum(l2), sum(l2*l2), sum(v*l2)
         |    FROM lg WHERE l2 IS NOT NULL GROUP BY pvname
         |  UNION ALL
         |  SELECT pvname, 3, CAST(count(*) AS DOUBLE),
         |      sum(v), sum(v*v), sum(l3), sum(l3*l3), sum(v*l3)
         |    FROM lg WHERE l3 IS NOT NULL GROUP BY pvname)
         |SELECT pvname, CAST(lag_i AS BIGINT) AS "lag", CAST(n AS BIGINT) AS n,
         |  coalesce(CASE WHEN n >= 2 AND sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy) > 0
         |      THEN round((n * sxy - sx * sy) /
         |        (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) END,
         |    'NaN'::DOUBLE) AS acf
         |FROM a ORDER BY pvname, "lag"""".stripMargin)),

    // ---- per-key per-day ingest throttle (hard rate cap, first-2 kept) ----
    Q("q_throttle", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("event_id"), col("value"))
      TimeSeries.throttle(samples, "pvname", "ts_us", "event_id",
        windowUs = 86400000000L, perWindow = 2)
        .orderBy(col("pvname"), col("ts_us"), col("event_id"))
    }, sql(
      // per-day throttle: same row_number survivor rule
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, event_id, value
         |  FROM events WHERE event_type = 'click'),
         |r AS (SELECT pvname, ts_us, event_id, value,
         |    row_number() OVER (PARTITION BY pvname, ts_us // 86400000000
         |      ORDER BY ts_us, event_id) AS rn
         |  FROM s)
         |SELECT pvname, ts_us, event_id, value FROM r WHERE rn <= 2
         |ORDER BY pvname, ts_us, event_id""".stripMargin)),

    // ---- flatline / staleness report (stuck-sensor detector) over a
    // 50-quantized value so runs actually form ------------------------------
    Q("q_flatline", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), floor(col("value") / 50.0).as("value"))
      TimeSeries.flatline(samples, "pvname", "ts_us", "value")
        .orderBy(col("pvname"))
    }, sql(
      // flatline: change-flag running sum -> runs -> longest (ties earliest)
      // via a deterministic row_number; staleness = last sample - last change
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us,
         |    max(floor(CAST(value AS DOUBLE) / 50.0)) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |c AS (SELECT pvname, ts_us, v,
         |    CASE WHEN lag(v) OVER w IS NULL OR v <> lag(v) OVER w THEN 1 ELSE 0 END AS chg
         |  FROM s WINDOW w AS (PARTITION BY pvname ORDER BY ts_us)),
         |r AS (SELECT pvname, ts_us, v,
         |    sum(chg) OVER (PARTITION BY pvname ORDER BY ts_us
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
         |  FROM c),
         |runs AS (SELECT pvname, run, count(*) AS len, min(ts_us) AS start_us,
         |    max(ts_us) AS end_us, max(v) AS rv
         |  FROM r GROUP BY 1, 2),
         |rk AS (SELECT pvname, len, rv,
         |    row_number() OVER (PARTITION BY pvname ORDER BY len DESC, start_us ASC) AS rn
         |  FROM runs),
         |top AS (SELECT pvname, CAST(len AS BIGINT) AS longest_flat, rv AS flat_value
         |  FROM rk WHERE rn = 1),
         |agg AS (SELECT pvname, CAST(sum(len) AS BIGINT) AS n_samples,
         |    CAST(arg_max(len, run) AS BIGINT) AS tail_run,
         |    CAST(max(end_us) - max(start_us) AS BIGINT) AS stale_us
         |  FROM runs GROUP BY pvname)
         |SELECT a.pvname AS pvname, n_samples, longest_flat, flat_value,
         |  tail_run, stale_us
         |FROM agg a JOIN top USING (pvname) ORDER BY pvname""".stripMargin)),

    // ---- two-sided CUSUM drift detection (sequential control-chart fold,
    // floor-quantized accumulators like q_ewma) ----------------------------
    Q("q_cusum", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.cusum(samples, "pvname", "ts_us", "value",
        target = 50.0, slack = 5.0, h = 200.0)
        .withColumn("s_pos", floor(col("s_pos") * 1000000.0) / 1000000.0)
        .withColumn("s_neg", floor(col("s_neg") * 1000000.0) / 1000000.0)
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // two-sided CUSUM: per-prefix folds (list_prepend injects the zero
      // initial state); (x - 50.0 - 5.0) mirrors the Scala op order exactly,
      // so accumulators are bit-identical; alarm tests the RAW folds, the
      // emitted accumulators floor-quantize like q_ewma
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, max(CAST(value AS DOUBLE)) AS v
         |  FROM events WHERE event_type = 'click' GROUP BY 1, 2),
         |g AS (SELECT pvname, list(ts_us ORDER BY ts_us) AS tss,
         |    list(v ORDER BY ts_us) AS vs
         |  FROM s GROUP BY pvname),
         |u AS (SELECT pvname,
         |    unnest(tss) AS ts_us,
         |    unnest(vs) AS value,
         |    unnest([list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[1:i]),
         |        (a, x) -> greatest(CAST(0 AS DOUBLE), a + (x - 50.0 - 5.0)))
         |      FOR i IN generate_series(1, len(vs))]) AS sp_raw,
         |    unnest([list_reduce(list_prepend(CAST(0 AS DOUBLE), vs[1:i]),
         |        (a, x) -> least(CAST(0 AS DOUBLE), a + (x - 50.0 + 5.0)))
         |      FOR i IN generate_series(1, len(vs))]) AS sn_raw
         |  FROM g)
         |SELECT pvname, ts_us, value,
         |  floor(sp_raw * 1000000.0) / 1000000.0 AS s_pos,
         |  floor(sn_raw * 1000000.0) / 1000000.0 AS s_neg,
         |  (sp_raw > 200.0 OR sn_raw < -200.0) AS alarm
         |FROM u ORDER BY pvname, ts_us""".stripMargin)),

    // ---- Spearman rank-correlation matrix over the LOCF grid (integer-
    // exact average ranks into the shared explicit-sum Pearson pass) -------
    Q("q_spearman", "TimeSeries", (s, dir) => {
      val aligned = TimeSeries.locfAlign(
        events(s, dir).select(col("event_type"), col("ts_us"), col("value")),
        "event_type", "ts_us", "value", Seq("click", "purchase", "view"), T0, T1)
      TimeSeries.spearmanMatrix(aligned, Seq("click", "purchase", "view"))
        .select(col("k1"), col("k2"), col("n"),
          coalesce(col("corr"), lit(Double.NaN)).as("corr"))
        .orderBy(col("k1"), col("k2"))
    }, sql(
      // Spearman: integer-exact average ranks (min-rank + (ties-1)/2), then
      // the same explicit-sum Pearson as q_pv_corr over the rank columns
      s"""WITH e AS (
         |  SELECT epoch_us(ts) AS ts_us, event_type, value FROM events
         |  WHERE event_type IN ('click', 'purchase', 'view') AND epoch_us(ts) < $T1),
         |g AS (SELECT ts_us,
         |        max(CASE WHEN event_type = 'click' THEN value END) AS c0,
         |        max(CASE WHEN event_type = 'purchase' THEN value END) AS c1,
         |        max(CASE WHEN event_type = 'view' THEN value END) AS c2
         |      FROM e GROUP BY ts_us),
         |f AS (SELECT ts_us,
         |        last_value(c0 IGNORE NULLS) OVER w AS a0,
         |        last_value(c1 IGNORE NULLS) OVER w AS b0,
         |        last_value(c2 IGNORE NULLS) OVER w AS c0
         |      FROM g WINDOW w AS (ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |al AS (SELECT a0, b0, c0 FROM f
         |       WHERE ts_us >= $T0 AND a0 IS NOT NULL AND b0 IS NOT NULL AND c0 IS NOT NULL),
         |r0 AS (SELECT
         |    CAST(rank() OVER (ORDER BY a0) AS DOUBLE) + (count(*) OVER (PARTITION BY a0) - 1) / CAST(2.0 AS DOUBLE) AS a,
         |    CAST(rank() OVER (ORDER BY b0) AS DOUBLE) + (count(*) OVER (PARTITION BY b0) - 1) / CAST(2.0 AS DOUBLE) AS b,
         |    CAST(rank() OVER (ORDER BY c0) AS DOUBLE) + (count(*) OVER (PARTITION BY c0) - 1) / CAST(2.0 AS DOUBLE) AS c
         |  FROM al),
         |r AS (SELECT CAST(round(CAST(a AS DOUBLE) * 2.0) AS BIGINT) AS a,
         |             CAST(round(CAST(b AS DOUBLE) * 2.0) AS BIGINT) AS b,
         |             CAST(round(CAST(c AS DOUBLE) * 2.0) AS BIGINT) AS c
         |      FROM r0),
         |sums AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(a) AS BIGINT) AS sxa, CAST(sum(a*a) AS BIGINT) AS sxxa,
         |    CAST(sum(b) AS BIGINT) AS sxb, CAST(sum(b*b) AS BIGINT) AS sxxb,
         |    CAST(sum(c) AS BIGINT) AS sxc, CAST(sum(c*c) AS BIGINT) AS sxxc,
         |    CAST(sum(a*b) AS BIGINT) AS sab, CAST(sum(a*c) AS BIGINT) AS sac,
         |    CAST(sum(b*c) AS BIGINT) AS sbc
         |  FROM r),
         |p AS (
         |  SELECT 'click' AS k1, 'purchase' AS k2, n, sab AS sxy,
         |         sxa AS sx1, sxxa AS sxx1, sxb AS sx2, sxxb AS sxx2 FROM sums
         |  UNION ALL
         |  SELECT 'click', 'view', n, sac, sxa, sxxa, sxc, sxxc FROM sums
         |  UNION ALL
         |  SELECT 'purchase', 'view', n, sbc, sxb, sxxb, sxc, sxxc FROM sums)
         |SELECT k1, k2, CAST(n AS BIGINT) AS n,
         |  coalesce(CASE WHEN sqrt(n::DOUBLE * sxx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) *
         |                sqrt(n::DOUBLE * sxx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE) > 0
         |      THEN round((n::DOUBLE * sxy::DOUBLE - sx1::DOUBLE * sx2::DOUBLE) /
         |        (sqrt(n::DOUBLE * sxx1::DOUBLE - sx1::DOUBLE * sx1::DOUBLE) *
         |         sqrt(n::DOUBLE * sxx2::DOUBLE - sx2::DOUBLE * sx2::DOUBLE)), 6) END,
         |    'NaN'::DOUBLE) AS corr
         |FROM p ORDER BY k1, k2""".stripMargin)),

    // ---- hour-of-day x day-of-week seasonal profile (pure integer
    // calendar arithmetic — no timezone library in the hash path) ----------
    Q("q_seasonal", "TimeSeries", (s, dir) => {
      TimeSeries.seasonalProfile(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value")
        .orderBy(col("pvname"), col("hour"), col("dow"))
    }, sql(
      // seasonal profile: integer hour/dow derivation (epoch is a Thursday)
      s"""SELECT event_type AS pvname,
         |  (epoch_us(ts) // 3600000000) % 24 AS hour,
         |  ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(sum(CAST(round((value) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((value) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS mean
         |FROM events GROUP BY 1, 2, 3
         |ORDER BY pvname, hour, dow""".stripMargin)),

    // ---- PSI distribution drift between the two halves of the month ------
    Q("q_psi", "TimeSeries", (s, dir) => {
      TimeSeries.psiDrift(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", tSplit = TMID, lo = 0.0, hi = 500.0, bins = 20)
        .orderBy(col("pvname"))
    }, sql(
      // PSI drift: one FILTERed count agg (same bin set as the engine's
      // two-agg full-outer join), half-count Laplace smoothing, natural log
      psiOracleSql)),

    // ---- rolling day-over-day PSI drift series per event type ------------
    Q("q_psi_rolling", "TimeSeries", (s, dir) => {
      TimeSeries.psiRolling(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"),
          col("value")),
        "pvname", "ts_us", "value", lo = 0.0, hi = 500.0, bins = 20,
        stepUs = 86400000000L)
    }, sql(
      // rolling PSI: same clamp-bin grid and smoothing as q_psi, paired on
      // consecutive day indices where both sides have data
      """WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
        |c AS (SELECT pvname, ts_us // 86400000000 AS p,
        |        CAST(least(greatest(floor((v - 0.0) / 25.0), 0.0), 19.0) AS BIGINT) AS b,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM s GROUP BY 1, 2, 3),
        |pd AS (SELECT DISTINCT pvname, p FROM c),
        |pairs AS (SELECT a.pvname, a.p + 1 AS pair FROM pd a
        |          JOIN pd b2 ON a.pvname = b2.pvname AND b2.p = a.p + 1),
        |pv AS (SELECT pvname, p + 1 AS pair, b, n AS n1 FROM c),
        |cu AS (SELECT pvname, p AS pair, b, n AS n2 FROM c),
        |j0 AS (SELECT coalesce(pv.pvname, cu.pvname) AS pvname,
        |         coalesce(pv.pair, cu.pair) AS pair,
        |         coalesce(pv.b, cu.b) AS b,
        |         coalesce(n1, 0) AS n1, coalesce(n2, 0) AS n2
        |       FROM pv FULL OUTER JOIN cu
        |         ON pv.pvname = cu.pvname AND pv.pair = cu.pair AND pv.b = cu.b),
        |j AS (SELECT j0.* FROM j0 JOIN pairs USING (pvname, pair)),
        |t AS (SELECT pvname, pair, CAST(sum(n1) AS BIGINT) AS t1,
        |        CAST(sum(n2) AS BIGINT) AS t2, CAST(count(*) AS BIGINT) AS cells
        |      FROM j GROUP BY 1, 2),
        |pp AS (SELECT j.pvname, j.pair,
        |         (n1 + 0.5) / (t1 + 0.5 * cells) AS p1,
        |         (n2 + 0.5) / (t2 + 0.5 * cells) AS p2
        |       FROM j JOIN t USING (pvname, pair))
        |SELECT pvname, pair AS period,
        |  round(sum((p1 - p2) * ln(p1 / p2)), 6) AS psi
        |FROM pp GROUP BY 1, 2 ORDER BY pvname, period""".stripMargin)),

    // ---- one-row-per-key drift panel: PSI and KS side by side, from ONE
    // fused histogram pass (joining the two operators scans events 3×) ----
    Q("q_drift_panel", "TimeSeries", (s, dir) => {
      val ev = events(s, dir).select(col("event_type").as("pvname"),
        col("ts_us"), col("value"))
      TimeSeries.driftPanel(ev, "pvname", "ts_us", "value",
        tSplit = TMID, lo = 0.0, hi = 500.0, bins = 20)
        .select(col("pvname"), col("psi"), col("ks"))
        .orderBy(col("pvname"))
    }, sql(
      // drift panel: the two drift oracles composed as subqueries, joined on
      // the key — same statistics side by side, no restatement
      s"""SELECT p.*, k.ks
         |FROM ($psiOracleSql) p JOIN ($ksDriftOracleSql) k USING (pvname)
         |ORDER BY pvname""".stripMargin)),

    // ---- rolling-median despiking filter ----------------------------------
    Q("q_despike", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click" && col("ts_us") >= T0 && col("ts_us") < TMID)
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.medianFilter(samples, "pvname", "ts_us", "value",
        halfWindow = 2, spikeThresh = 50.0)
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // rolling-median despike: exact interpolated median over a centered
      // ROWS frame (both engines: lower + (upper-lower)*frac on identical
      // sorted doubles); the spike test compares against the 6-dp median
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, max(CAST(value AS DOUBLE)) AS v
         |  FROM events WHERE event_type = 'click'
         |    AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $TMID
         |  GROUP BY 1, 2),
         |m AS (SELECT pvname, ts_us, v,
         |    round(quantile_cont(v, CAST(0.5 AS DOUBLE)) OVER (
         |      PARTITION BY pvname ORDER BY ts_us
         |      ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING), 6) AS med
         |  FROM s)
         |SELECT pvname, ts_us, v AS value, med AS median,
         |  (abs(v - med) > 50.0) AS is_spike
         |FROM m ORDER BY pvname, ts_us""".stripMargin)),

    // ---- time-bucket x value-bin heatmap (waterfall plot frame) -----------
    Q("q_heatmap", "TimeSeries", (s, dir) => {
      TimeSeries.heatmap(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value",
        widthUs = 86400000000L, lo = 0.0, hi = 500.0, bins = 10)
        .orderBy(col("pvname"), col("bucket"), col("bin"))
    }, sql(
      // heatmap: day buckets x clamped value bins, one combinable agg
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL)
         |SELECT pvname, ts_us // 86400000000 AS bucket,
         |  CAST(least(greatest(floor((v - 0.0) / 50.0), 0), 9) AS BIGINT) AS bin,
         |  CAST(count(*) AS BIGINT) AS n,
         |  round(CAST(0.0 AS DOUBLE) + CAST(least(greatest(floor((v - 0.0) / 50.0), 0), 9) AS BIGINT) * CAST(50.0 AS DOUBLE), 6) AS bin_lo
         |FROM s GROUP BY 1, 2, 3 ORDER BY pvname, bucket, bin""".stripMargin)),

    // ---- time-weighted average (LOCF weighting + W2 pre-window seed) ------
    Q("q_twa", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click")
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.timeWeightedAvg(samples, "pvname", "ts_us", "value", T0, TMID)
        .orderBy(col("pvname"))
    }, sql(
      // time-weighted average: LOCF segment weighting, pre-window arg_max
      // seed carried to t0 (a real sample AT t0 wins via the flag argmax),
      // covered-time normalization for keys with no seed
      s"""WITH e AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v
         |  FROM events WHERE event_type = 'click'),
         |seed AS (SELECT pvname, $T0 AS ts_us, arg_max(v, ts_us) AS v, 0 AS fl
         |  FROM e WHERE ts_us < $T0 GROUP BY pvname),
         |iw AS (SELECT pvname, ts_us, max(v) AS v, 1 AS fl
         |  FROM e WHERE ts_us >= $T0 AND ts_us < $TMID GROUP BY 1, 2),
         |pts AS (SELECT pvname, ts_us, arg_max(v, fl) AS v
         |  FROM (SELECT * FROM iw UNION ALL SELECT * FROM seed) GROUP BY 1, 2),
         |seg AS (SELECT pvname, v,
         |    coalesce(lead(ts_us) OVER (PARTITION BY pvname ORDER BY ts_us), $TMID) - ts_us AS w
         |  FROM pts)
         |SELECT pvname, round(CAST(sum(CAST(round(v * 1000.0) AS BIGINT) * w) AS BIGINT)::DOUBLE / 1000.0 / CAST(sum(w) AS BIGINT)::DOUBLE, 6) AS twa,
         |  CAST(sum(w) AS BIGINT) AS covered_us, CAST(count(*) AS BIGINT) AS n
         |FROM seg GROUP BY pvname ORDER BY pvname""".stripMargin)),

    // ---- trailing-window moving stats + z-score anomaly flag (the
    // "suddenly 6-sigma off its last 6 hours" monitoring primitive) --------
    Q("q_trailing_stats", "TimeSeries", (s, dir) => {
      val samples = events(s, dir)
        .where(col("event_type") === "click" && col("ts_us") >= T0 && col("ts_us") < TMID)
        .select(concat(lit("u"), col("user_id")).as("pvname"),
          col("ts_us"), col("value"))
      TimeSeries.trailingStats(samples, "pvname", "ts_us", "value",
        windowUs = 6L * 3600L * 1000000L)
        // driver-compare hygiene: no NULLs in oracle-checked outputs (the
        // row sort can't order None against values) — absent baselines
        // surface as NaN on both engines
        .select(col("pvname"), col("ts_us"), col("value"), col("n_prev"),
          coalesce(col("mean_prev"), lit(Double.NaN)).as("mean_prev"),
          coalesce(col("std_prev"), lit(Double.NaN)).as("std_prev"),
          coalesce(col("z"), lit(Double.NaN)).as("z"))
        .orderBy(col("pvname"), col("ts_us"), col("value"))
    }, sql(
      // strictly-preceding 6 h range frame per key; stddev/z gated on a
      // >= 2-point baseline, z additionally on a non-constant one
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, value
         |  FROM events WHERE event_type = 'click'
         |    AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $TMID),
         |w AS (SELECT pvname, ts_us, value,
         |    count(value) OVER win AS n_prev,
         |    avg(value) OVER win AS mean_raw,
         |    stddev_samp(value) OVER win AS std_raw
         |  FROM s
         |  WINDOW win AS (PARTITION BY pvname ORDER BY ts_us
         |    RANGE BETWEEN ${6L * 3600L * 1000000L} PRECEDING AND 1 PRECEDING))
         |SELECT pvname, ts_us, value,
         |  CAST(n_prev AS BIGINT) AS n_prev,
         |  coalesce(CASE WHEN n_prev >= 1 THEN round(mean_raw, 6) END,
         |    'NaN'::DOUBLE) AS mean_prev,
         |  coalesce(CASE WHEN n_prev >= 2 THEN round(std_raw, 6) END,
         |    'NaN'::DOUBLE) AS std_prev,
         |  coalesce(CASE WHEN n_prev >= 2 AND std_raw > 0
         |       THEN round((value - mean_raw) / std_raw, 6) END,
         |    'NaN'::DOUBLE) AS z
         |FROM w ORDER BY pvname, ts_us, value""".stripMargin)),

    // ---- MAD robust outliers (modified z-score, median/MAD fences) -------
    Q("q_mad_outliers", "TimeSeries", (s, dir) => {
      TimeSeries.madOutliers(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", zThresh = 3.5)
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // MAD outliers: quantile_cont == Spark percentile (the q_winsorize
      // parity); the modified-z cut compares the 6-dp-rounded score on both
      // sides so the boundary can't flap on ulps
      """WITH b AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |m AS (SELECT pvname, quantile_cont(v, CAST(0.5 AS DOUBLE)) AS med FROM b GROUP BY 1),
        |d AS (SELECT b.pvname, ts_us, v, med FROM b JOIN m USING (pvname)),
        |md AS (SELECT pvname, quantile_cont(abs(v - med), CAST(0.5 AS DOUBLE)) AS mad
        |       FROM d GROUP BY 1),
        |z AS (SELECT d.pvname, ts_us, v, med, mad,
        |        round(0.6745 * (v - med) / mad, 6) AS robust_z
        |      FROM d JOIN md USING (pvname) WHERE mad > 0)
        |SELECT pvname, ts_us, v AS value, round(med, 6) AS med, round(mad, 6) AS mad, robust_z
        |FROM z WHERE abs(robust_z) > 3.5 ORDER BY pvname, ts_us""".stripMargin)),

    // ---- calendar-adjusted anomalies vs the hour x dow seasonal profile --
    Q("q_seasonal_residual", "TimeSeries", (s, dir) => {
      TimeSeries.seasonalResidual(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", topN = 50)
    }, sql(
      // seasonal residuals: integer calendar cells, 6-dp cell means (the
      // q_seasonal parity), residual quantized against the quantized mean;
      // the top-N sort is a total order (|residual|, key, ts, value)
      """WITH b AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
        |    (epoch_us(ts) // 3600000000) % 24 AS hour,
        |    ((epoch_us(ts) // 86400000000) + 4) % 7 AS dow,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
        |c AS (SELECT pvname, hour, dow, CAST(count(*) AS BIGINT) AS cell_n,
        |             round(CAST(sum(CAST(round((v) * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round((v) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS cell_mean
        |      FROM b GROUP BY 1, 2, 3 HAVING count(*) >= 2),
        |r AS (SELECT b.pvname, ts_us, v AS value, b.hour, b.dow, cell_n, cell_mean,
        |             round(v - cell_mean, 6) AS residual
        |      FROM b JOIN c USING (pvname, hour, dow))
        |SELECT * FROM r ORDER BY abs(residual) DESC, pvname, ts_us, value LIMIT 50""".stripMargin)),

    // ---- event-rate burst detection (6-hour buckets, trailing-8 baseline)
    Q("q_bursts", "TimeSeries", (s, dir) => {
      TimeSeries.bursts(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us")),
        "pvname", "ts_us", bucketUs = 21600000000L, trailing = 8, zThresh = 2.0)
        .orderBy(col("pvname"), col("bucket"))
    }, sql(
      // bursts: counts are exact longs, so the trailing window's moments are
      // exact integers and the z is a single double expression — identical
      // in both engines; baseline frame is strictly preceding
      """WITH c AS (SELECT event_type AS pvname, epoch_us(ts) // 21600000000 AS bucket,
        |    CAST(count(*) AS BIGINT) AS n
        |  FROM events WHERE event_type IS NOT NULL GROUP BY 1, 2),
        |w AS (SELECT pvname, bucket, n,
        |    CAST(count(n) OVER pw AS BIGINT) AS np,
        |    CAST(sum(n) OVER pw AS BIGINT) AS s,
        |    CAST(sum(n * n) OVER pw AS BIGINT) AS ss
        |  FROM c WINDOW pw AS (PARTITION BY pvname ORDER BY bucket
        |    ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING)),
        |v AS (SELECT *, CAST(s AS DOUBLE) / np AS bm,
        |    CAST(ss AS DOUBLE) / np - (CAST(s AS DOUBLE) / np) * (CAST(s AS DOUBLE) / np) AS var
        |  FROM w WHERE np >= 3),
        |z AS (SELECT pvname, bucket, n, bm, var,
        |    round((n - bm) / sqrt(var), 6) AS z FROM v WHERE var > 0)
        |SELECT pvname, bucket, n, round(bm, 6) AS base_mean, round(sqrt(var), 6) AS base_std, z
        |FROM z WHERE z > 2.0 ORDER BY pvname, bucket""".stripMargin)),

    // ---- Theil-Sen robust daily trend per event type ---------------------
    Q("q_theil_sen", "TimeSeries", (s, dir) => {
      TimeSeries.theilSen(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", bucketUs = 86400000000L)
        .orderBy(col("pvname"))
    }, sql(
      // Theil-Sen: two stacked exact medians (quantile_cont == percentile,
      // the q_winsorize parity); slopes are one double expression each
      """WITH m AS (SELECT event_type AS pvname, epoch_us(ts) // 86400000000 AS b,
        |    quantile_cont(CAST(value AS DOUBLE), CAST(0.5 AS DOUBLE)) AS med
        |  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL GROUP BY 1, 2),
        |p AS (SELECT a.pvname, (b2.med - a.med) / CAST(b2.b - a.b AS DOUBLE) AS slope
        |      FROM m a JOIN m b2 ON a.pvname = b2.pvname AND a.b < b2.b),
        |s AS (SELECT pvname, CAST(count(*) AS BIGINT) AS n_pairs,
        |        quantile_cont(slope, CAST(0.5 AS DOUBLE)) AS sl FROM p GROUP BY 1),
        |nb AS (SELECT pvname, CAST(count(*) AS BIGINT) AS n_buckets FROM m GROUP BY 1)
        |SELECT s.pvname, n_buckets, n_pairs, round(sl, 6) AS slope
        |FROM s JOIN nb USING (pvname) ORDER BY pvname""".stripMargin)),

    // ---- offline change-point detection: binary segmentation with the
    // integer CUSUM mean-shift statistic (depth 2, earliest-tie splits) ---
    Q("q_cpd", "TimeSeries", (s, dir) => {
      TimeSeries.changePoints(events(s, dir), "event_type", "ts_us", "value",
        minSeg = 100, depth = 2, quantum = 1e-3)
        .orderBy(col("key"), col("level"), col("split_rn"))
    }, sql(
      // change-point detection: the cpdSql unrolled binary segmentation
      cpdSql(minSeg = 100, depth = 2, scale = 1000L))),

    // ---- DTW shape distance of each event-type series vs the click trace -
    Q("q_dtw", "TimeSeries", (s, dir) => {
      TimeSeries.dtwProfile(events(s, dir), "event_type", "ts_us", "value",
        refKey = "click", bucketUs = 21600000000L)
    }, sql(
      // DTW: same 6-dp bucket means; the DP fold re-expressed as DuckDB's
      // nested list_reduce with a VARCHAR DP row (1.0 list_reduce has no init
      // arg — prepend it — and mis-threads struct accumulators; doubles
      // round-trip VARCHAR exactly). Identical IEEE add/min order → identical
      // cells.
      """WITH s AS (SELECT event_type AS k, epoch_us(ts) // 21600000000 AS b,
        |    round(CAST(sum(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)) AS BIGINT)
        |          / (count(CAST(round(CAST(value AS DOUBLE) * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS v
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |  GROUP BY 1, 2),
        |g AS (SELECT k, list(v ORDER BY b) AS arr FROM s GROUP BY 1),
        |rf AS (SELECT arr AS ref FROM g WHERE k = 'click'),
        |d AS (SELECT k, arr, ref,
        |        list_reduce(
        |          list_concat(['0.0' || repeat(';1e18', len(ref))],
        |                      [CAST(x AS VARCHAR) FOR x IN arr]),
        |          (rw, x) -> list_reduce(
        |            list_concat(['1e18'],
        |                        [CAST(i AS VARCHAR) FOR i IN generate_series(1, len(ref))]),
        |            (acc, i) -> acc || ';' || CAST(
        |              abs(ref[CAST(i AS BIGINT)] - CAST(x AS DOUBLE)) +
        |              least(CAST(string_split(acc, ';')[len(string_split(acc, ';'))] AS DOUBLE),
        |                    CAST(string_split(rw, ';')[CAST(i AS BIGINT) + 1] AS DOUBLE),
        |                    CAST(string_split(rw, ';')[CAST(i AS BIGINT)] AS DOUBLE)) AS VARCHAR)))
        |        AS st
        |      FROM g, rf)
        |SELECT k AS event_type, CAST(len(arr) AS BIGINT) AS n,
        |  CAST(len(ref) AS BIGINT) AS m,
        |  round(CAST(string_split(st, ';')[len(ref) + 1] AS DOUBLE), 6) AS dtw,
        |  round(round(CAST(string_split(st, ';')[len(ref) + 1] AS DOUBLE), 6)
        |        / (len(arr) + len(ref)), 6) AS dtw_norm
        |FROM d ORDER BY event_type""".stripMargin)),

    // ---- lead-lag cross-correlation: does click volume lead purchases? ---
    Q("q_lead_lag", "TimeSeries", (s, dir) => {
      TimeSeries.leadLagCorr(events(s, dir), "event_type", "ts_us", "value",
        k1 = "click", k2 = "purchase", bucketUs = 3600000000L, maxLag = 6)
        .orderBy(col("lag"))
    }, sql(
      // lead-lag: hour-bucket 6-dp means, the (2L+1)-way lag explode of the
      // AGGREGATED series, explicit-sum Pearson per lag
      """WITH s AS (SELECT event_type, epoch_us(ts) AS ts_us,
        |    CAST(value AS DOUBLE) AS v
        |  FROM events WHERE value IS NOT NULL),
        |a AS (SELECT ts_us // 3600000000 AS bucket, round(CAST(sum(CAST(round(v * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round(v * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS v
        |      FROM s WHERE event_type = 'click' GROUP BY 1),
        |b AS (SELECT ts_us // 3600000000 AS bucket, round(CAST(sum(CAST(round(v * 1000000.0) AS BIGINT)) AS BIGINT) / (count(CAST(round(v * 1000000.0) AS BIGINT)) * 1000000.0), 6) AS w
        |      FROM s WHERE event_type = 'purchase' GROUP BY 1),
        |bx AS (SELECT bucket - u.l AS bucket, u.l AS lag, w
        |       FROM b, unnest(generate_series(-6, 6)) AS u(l)),
        |j AS (SELECT lag, a.v, bx.w FROM a JOIN bx USING (bucket)),
        |g AS (SELECT CAST(lag AS BIGINT) AS lag, CAST(count(*) AS BIGINT) AS n,
        |        sum(v) AS sx, sum(w) AS sy, sum(v * v) AS sxx,
        |        sum(w * w) AS syy, sum(v * w) AS sxy
        |      FROM j GROUP BY 1)
        |SELECT lag, n,
        |  CASE WHEN n >= 2 AND (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
        |       THEN round((n * sxy - sx * sy) /
        |              sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) END AS corr
        |FROM g ORDER BY lag""".stripMargin)),

    // ---- binned two-sample KS drift between the two halves of the month --
    Q("q_ks_drift", "TimeSeries", (s, dir) => {
      TimeSeries.ksDrift(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", tSplit = TMID, lo = 0.0, hi = 500.0, bins = 20)
        .orderBy(col("pvname"))
    }, sql(
      // binned two-sample KS: same 20-bin grid as q_psi, cumulative ECDFs
      // via windows over at most 20 cells per key, max absolute gap
      ksDriftOracleSql)))

  /** q_psi oracle body (also composed into q_drift_panel). */
  private lazy val psiOracleSql: String =
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL),
         |b AS (SELECT pvname,
         |    CAST(least(greatest(floor((v - 0.0) / 25.0), 0), 19) AS BIGINT) AS bin,
         |    count(*) FILTER (WHERE ts_us < $TMID) AS n1,
         |    count(*) FILTER (WHERE ts_us >= $TMID) AS n2
         |  FROM s GROUP BY 1, 2),
         |t AS (SELECT pvname, sum(n1) AS t1, sum(n2) AS t2, count(*) AS cells
         |  FROM b GROUP BY pvname),
         |pr AS (SELECT b.pvname,
         |    (n1 + CAST(0.5 AS DOUBLE)) / (t1 + CAST(0.5 AS DOUBLE) * cells) AS p1,
         |    (n2 + CAST(0.5 AS DOUBLE)) / (t2 + CAST(0.5 AS DOUBLE) * cells) AS p2
         |  FROM b JOIN t ON b.pvname = t.pvname)
         |SELECT pvname, round(sum((p1 - p2) * ln(p1 / p2)), 6) AS psi
         |FROM pr GROUP BY pvname ORDER BY pvname""".stripMargin

  /** q_ks_drift oracle body (also composed into q_drift_panel). */
  private lazy val ksDriftOracleSql: String =
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    CAST(value AS DOUBLE) AS v
         |  FROM events WHERE value IS NOT NULL),
         |b AS (SELECT pvname,
         |    CAST(least(greatest(floor((v - 0.0) / 25.0), 0), 19) AS BIGINT) AS bin,
         |    count(*) FILTER (WHERE ts_us < $TMID) AS n1,
         |    count(*) FILTER (WHERE ts_us >= $TMID) AS n2
         |  FROM s GROUP BY 1, 2),
         |c AS (SELECT pvname, bin, n1, n2,
         |    sum(n1) OVER (PARTITION BY pvname ORDER BY bin) AS c1,
         |    sum(n2) OVER (PARTITION BY pvname ORDER BY bin) AS c2,
         |    sum(n1) OVER (PARTITION BY pvname) AS t1,
         |    sum(n2) OVER (PARTITION BY pvname) AS t2
         |  FROM b)
         |SELECT pvname, CAST(max(t1) AS BIGINT) AS n1, CAST(max(t2) AS BIGINT) AS n2,
         |  round(max(abs(CAST(c1 AS DOUBLE) / t1 - CAST(c2 AS DOUBLE) / t2)), 6) AS ks
         |FROM c WHERE t1 > 0 AND t2 > 0
         |GROUP BY pvname ORDER BY pvname""".stripMargin

  /** DuckDB mirror of [[operators.TimeSeries.changePoints]]: `depth`
    * unrolled binary-segmentation levels over one (rank, prefix-sum)
    * window frame — per level a segment-bound lookup, the integer CUSUM
    * gain `|Sl·nr − Sr·nl|`, an argmax with (gain DESC, rn) ties, and the
    * ≥ 2·minSeg halves carried to the next level. All BIGINT.
    */
  private def cpdSql(minSeg: Int, depth: Int, scale: Long): String = {
    val levels = (0 until depth).map { l =>
      val segDef =
        if (l == 0)
          s"""seg0 AS (SELECT k, CAST(1 AS BIGINT) AS a, CAST(count(*) AS BIGINT) AS b
             |  FROM base GROUP BY 1)""".stripMargin
        else
          s"""seg$l AS (SELECT k, a, rn AS b FROM sp${l - 1} WHERE rn - a + 1 >= ${2 * minSeg}
             |  UNION ALL SELECT k, rn + 1, b FROM sp${l - 1} WHERE b - rn >= ${2 * minSeg})""".stripMargin
      segDef + ",\n" +
        s"""w$l AS (SELECT s.k, s.a, s.b, coalesce(x.P, 0) AS Pa, y.P AS Pb
           |  FROM seg$l s LEFT JOIN base x ON x.k = s.k AND x.rn = s.a - 1
           |  JOIN base y ON y.k = s.k AND y.rn = s.b),
           |c$l AS (SELECT w.k, w.a, w.b, b.rn, b.t,
           |    abs((b.P - w.Pa) * (w.b - b.rn) - (w.Pb - b.P) * (b.rn - w.a + 1)) AS gain
           |  FROM w$l w JOIN base b ON b.k = w.k
           |    AND b.rn >= w.a + ${minSeg - 1} AND b.rn <= w.b - $minSeg),
           |sp$l AS MATERIALIZED (SELECT k, a, b, rn, t, gain FROM (
           |    SELECT *, row_number() OVER (PARTITION BY k, a, b ORDER BY gain DESC, rn) AS r
           |    FROM c$l) WHERE r = 1)""".stripMargin
    }.mkString(",\n")
    val out = (0 until depth).map(l =>
      s"SELECT k AS key, CAST($l AS BIGINT) AS level, rn AS split_rn, t AS split_ts, CAST(gain AS BIGINT) AS gain FROM sp$l")
      .mkString("\n  UNION ALL ")
    s"""WITH base AS MATERIALIZED (
       |  SELECT k, t, q,
       |    CAST(row_number() OVER (PARTITION BY k ORDER BY t, q) AS BIGINT) AS rn,
       |    CAST(sum(q) OVER (PARTITION BY k ORDER BY t, q ROWS UNBOUNDED PRECEDING) AS BIGINT) AS P
       |  FROM (SELECT event_type AS k, epoch_us(ts) AS t,
       |          CAST(round(CAST(value AS DOUBLE) * ${scale}.0) AS BIGINT) AS q
       |        FROM events
       |        WHERE event_type IS NOT NULL AND ts IS NOT NULL AND value IS NOT NULL)),
       |$levels,
       |u AS ($out)
       |SELECT key, level, split_rn, split_ts, gain FROM u
       |ORDER BY key, level, split_rn""".stripMargin
  }
}
