package graft
package queries

import org.apache.spark.sql.functions._

import Q.sql
import Shared._

/** Queries that run a streaming operator's batch twin (`graft.streaming`),
  * each beside its DuckDB oracle. */
object StreamingQueries {
  val all: Seq[Q] = Seq(
    // ---- T2 downsampler replay via the stateful step function. Oracle-
    // checked: the limbo state machine is re-expressed in DuckDB as a pure
    // list_reduce fold per PV (see [[downsampleStatefulSql]]) ---------------
    Q("q_downsample_stateful", "Streaming", (s, dir) => {
      import s.implicits._
      val raw = events(s, dir)
        .select(concat(lit("u"), col("user_id")).as("pvname"), col("ts_us").as("tsUs"),
          col("value").cast("string").as("value"), col("value").cast("string").as("cvalue"))
        .as[graft.streaming.Downsampler.RawSample]
      graft.streaming.Downsampler.replayBatch(raw, Map.empty,
        default = graft.streaming.Downsampler.PvConfig("double", 6L * 3600L * 1000000L, 50.0))
        .toDF()
        // compare in the value domain: Spark double→string→double round-trips
        // exactly (shortest-repr cast both ways), and a double column avoids
        // cross-engine float-formatting parity questions entirely
        .select(col("pvname"), col("tsUs").as("ts_us"), col("value").cast("double").as("value"))
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(downsampleStatefulSql(6L * 3600L * 1000000L, 50.0))),

    // ---- T4 alert state machine replay. Oracle-checked: the per-alert
    // (status, lastNotice) fold is re-expressed in DuckDB as a list_reduce
    // over the time-ordered observations with the WHOLE state in one
    // VARCHAR — the same technique that oracles the T2 limbo machine
    // (see [[alertsSql]]) ---------------------------------------------------
    Q("q_alerts", "Streaming", (s, dir) => {
      import s.implicits._
      val obs = events(s, dir)
        .where(col("user_id") < 8)
        .select(col("user_id").cast("long").as("alertId"), col("ts_us").as("tsUs"),
          col("value").cast("string").as("value"))
        .as[graft.streaming.Alerts.Observation]
      graft.streaming.Alerts.replayBatch(obs, alertConfigs.map(c => c.alertId -> c).toMap)
        .toDF()
        .select(col("alertId").as("alert_id"), col("pvname"), col("tsUs").as("ts_us"),
          col("value").cast("double").as("value"), col("status"), col("notified"))
        .orderBy(col("alert_id"), col("ts_us"))
    }, sql(alertsSql)),

    // ---- T3 heartbeat batch replay. Oracle-checked: emissions in a gap are
    // prev.ts + cumulative seeded intervals — the cumulative table is
    // precomputed here (same PRNG) and embedded in the SQL as VALUES --------
    Q("q_heartbeat", "Streaming", (s, dir) => {
      import s.implicits._
      val samples = events(s, dir)
        .where(col("user_id") < 5)
        .select(concat(lit("u"), col("user_id")).as("pvname"), col("ts_us").as("tsUs"),
          col("value").cast("string").as("value"), col("value").cast("string").as("cvalue"))
        .as[graft.streaming.Downsampler.Sample]
      graft.streaming.Heartbeat.replayBatch(samples, horizonUs = T1)
        .toDF()
        .select(col("pvname"), col("tsUs").as("ts_us"), col("value").cast("double").as("value"))
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(heartbeatSql(T1, nPvs = 5, maxBeatsPerGap = 80))))

  /** T2 limbo downsampler as a pure DuckDB fold: per PV, `list_reduce` over
    * the time-ordered events with the WHOLE state in one VARCHAR
    * `lt|lv|bt|bv|em` (last-emit ts/value, limbo ts/value or 'N', ';'-joined
    * emitted timestamps). A single string is used deliberately: DuckDB
    * 1.0's list_reduce mis-threads multi-field struct accumulators across
    * iterations (cross-field aliasing), while scalar accumulators fold
    * correctly. Emitted samples are recovered by joining the emitted
    * timestamps back to the events (ts is unique per PV in the testdata),
    * and values compare as doubles — DuckDB's double↔varchar casts are
    * shortest-round-trip, so state stays exact. Mirrors
    * the T2 fold `graft.streaming.Downsampler.Fold` (archiver.py:389-414 limbo
    * semantics) branch for branch.
    */
  private def downsampleStatefulSql(deadtimeUs: Long, deadband: Double): String = {
    val gap = 1000L // MinGapUs (archiver.py:398)
    val A = "string_split(a,'|')"
    val X = "string_split(x,'|')"
    val lt0 = s"CAST($A[1] AS BIGINT)"
    val xt = s"CAST($X[1] AS BIGINT)"
    val xv = s"CAST($X[2] AS DOUBLE)"
    val flush = s"($A[3] <> 'N' AND $xt > $lt0 + $deadtimeUs)"
    val lt1 = s"(CASE WHEN $flush THEN TRY_CAST($A[3] AS BIGINT) ELSE $lt0 END)"
    val lv1 = s"(CASE WHEN $flush THEN TRY_CAST($A[4] AS DOUBLE) ELSE CAST($A[2] AS DOUBLE) END)"
    val emitE = s"($xt > $lt1 + $deadtimeUs AND abs($xv - $lv1) > $deadband)"
    s"""WITH e AS (
       |  SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v
       |  FROM events),
       |g AS (
       |  SELECT pvname, list(CAST(ts_us AS VARCHAR) || '|' || CAST(v AS VARCHAR) || '|N|N|' || CAST(ts_us AS VARCHAR)
       |                      ORDER BY ts_us) AS evs
       |  FROM e GROUP BY pvname),
       |r AS (
       |  SELECT pvname, list_reduce(evs, (a, x) ->
       |       (CASE WHEN $emitE THEN $X[1] WHEN $flush THEN $A[3] ELSE $A[1] END)
       |    || '|' || (CASE WHEN $emitE THEN $X[2] WHEN $flush THEN $A[4] ELSE $A[2] END)
       |    || '|' || (CASE WHEN $xt > $lt1 + $deadtimeUs THEN 'N'
       |                    WHEN $xt > $lt1 + $gap THEN $X[1]
       |                    ELSE (CASE WHEN $flush THEN 'N' ELSE $A[3] END) END)
       |    || '|' || (CASE WHEN $xt > $lt1 + $deadtimeUs THEN 'N'
       |                    WHEN $xt > $lt1 + $gap THEN $X[2]
       |                    ELSE (CASE WHEN $flush THEN 'N' ELSE $A[4] END) END)
       |    || '|' || ($A[5] || (CASE WHEN $flush THEN ';' || $A[3] ELSE '' END)
       |                     || (CASE WHEN $emitE THEN ';' || $X[1] ELSE '' END))
       |  ) AS st
       |  FROM g),
       |fin AS (
       |  SELECT pvname,
       |         string_split(st,'|')[5]
       |         || (CASE WHEN string_split(st,'|')[3] <> 'N' THEN ';' || string_split(st,'|')[3] ELSE '' END) AS em
       |  FROM r),
       |u AS (SELECT pvname, CAST(unnest(string_split(em, ';')) AS BIGINT) AS ts_us FROM fin)
       |SELECT u.pvname AS pvname, u.ts_us AS ts_us, e.v AS value
       |FROM u JOIN e ON u.pvname = e.pvname AND u.ts_us = e.ts_us
       |ORDER BY u.pvname, u.ts_us""".stripMargin
  }

  /** T4 demo alert set over events users 0–7: every compare op, numeric and
    * string trippoints (string compare on '2!' depends only on the value's
    * first digit, so it is immune to float-formatting differences), a
    * never-tripping alert, an inactive alert, and an unconfigured observer
    * (user 7) — cache.py:601-630 semantics. Timeouts straddle the ~10 h
    * median inter-observation gap so the debounce both fires and suppresses.
    */
  private final val HOUR_US = 3600000000L

  private[graft] def alertConfigs: Seq[graft.streaming.Alerts.AlertConfig] = {
    import graft.streaming.Alerts.AlertConfig
    Seq(
      AlertConfig(0, "u0", "hi", "gt", "150.0", 72 * HOUR_US, active = true),
      AlertConfig(1, "u1", "lo", "le", "50.0", 48 * HOUR_US, active = true),
      AlertConfig(2, "u2", "crit", "ge", "120.0", 0L, active = true),
      AlertConfig(3, "u3", "rare", "lt", "10.0", 24 * HOUR_US, active = true),
      AlertConfig(4, "u4", "strcmp", "lt", "2!", 2 * HOUR_US, active = true),
      AlertConfig(5, "u5", "never", "eq", "nope", 3 * HOUR_US, active = true),
      AlertConfig(6, "u6", "off", "gt", "100.0", HOUR_US, active = false))
  }

  /** T4 alert machine as a pure DuckDB fold (mirrors
    * the alert fold `graft.streaming.Alerts.Fold`, cache.py:601-630): per alert,
    * `list_reduce` over the time-ordered observations with the whole
    * (status, lastNotice, emits) state in ONE VARCHAR `status|ln|emits` —
    * scalar accumulators fold correctly where DuckDB 1.0 mis-threads
    * multi-field structs (see [[downsampleStatefulSql]]). The initial state
    * is `list_prepend`ed so the fold needs no seed argument. The alarm bit
    * depends only on (config, value), so it is computed as a plain column
    * BEFORE the fold — generated per config from the same [[alertConfigs]]
    * definition the Spark side uses (single source of truth), picking the
    * numeric or string compare exactly like `Alerts.tripped`. Emitted
    * events are recovered by splitting the `;`-joined `ts:status:notified`
    * triples and joining ts back to the observations (ts is unique per
    * user in the testdata).
    */
  private def alertsSql: String = {
    val sqlOp = Map("eq" -> "=", "ne" -> "<>", "le" -> "<=", "lt" -> "<", "ge" -> ">=", "gt" -> ">")
    val active = alertConfigs.filter(_.active)
    val alarmWhens = active.map { c =>
      val numeric = graft.streaming.Downsampler.parseDouble(c.trippoint).isDefined
      val (lhs, rhs) =
        if (numeric) ("v", c.trippoint) else ("CAST(v AS VARCHAR)", s"'${c.trippoint}'")
      s"WHEN ${c.alertId} THEN ($lhs ${sqlOp(c.compare)} $rhs)"
    }.mkString(" ")
    val cfgValues = active.map(c => s"(${c.alertId}, '${c.pvname}', ${c.timeoutUs})").mkString(", ")
    val A = "string_split(a,'|')"
    val X = "string_split(x,'|')"
    val xt = s"CAST($X[1] AS BIGINT)"
    val al = s"($X[2] = '1')"
    val to = s"CAST($X[3] AS BIGINT)"
    val st0 = s"$A[1]"
    val ln0 = s"CAST($A[2] AS BIGINT)"
    val status = s"(CASE WHEN $al THEN 'alarm' ELSE 'ok' END)"
    val notify = s"($st0 = 'ok' AND $al AND $xt > $ln0 + $to)"
    val emit = s"($status <> $st0 OR $notify)"
    val step =
      s"$status || '|' || CAST(CASE WHEN $notify THEN $xt ELSE $ln0 END AS VARCHAR) || '|' || " +
        s"($A[3] || CASE WHEN $emit THEN ';' || $X[1] || ':' || $status || ':' || " +
        s"(CASE WHEN $notify THEN '1' ELSE '0' END) ELSE '' END)"
    s"""WITH obs AS (
       |  SELECT user_id AS alert_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v
       |  FROM events WHERE user_id < 8),
       |cfg(alert_id, pvname, timeout_us) AS (VALUES $cfgValues),
       |e AS (
       |  SELECT o.alert_id AS alert_id, o.ts_us, o.v, cfg.pvname, cfg.timeout_us,
       |         (CASE o.alert_id $alarmWhens END) AS alarm
       |  FROM obs o JOIN cfg ON o.alert_id = cfg.alert_id),
       |g AS (
       |  SELECT alert_id, pvname,
       |         list(CAST(ts_us AS VARCHAR) || '|' || (CASE WHEN alarm THEN '1' ELSE '0' END)
       |              || '|' || CAST(timeout_us AS VARCHAR) ORDER BY ts_us) AS evs
       |  FROM e GROUP BY alert_id, pvname),
       |r AS (
       |  SELECT alert_id, pvname,
       |         list_reduce(list_prepend('ok|${Long.MinValue / 2}|', evs), (a, x) -> $step) AS st
       |  FROM g),
       |u AS (
       |  SELECT alert_id, pvname, unnest(string_split(substr(string_split(st,'|')[3], 2), ';')) AS em
       |  FROM r WHERE string_split(st,'|')[3] <> ''),
       |f AS (
       |  SELECT alert_id, pvname, CAST(string_split(em,':')[1] AS BIGINT) AS ts_us,
       |         string_split(em,':')[2] AS status, string_split(em,':')[3] = '1' AS notified
       |  FROM u)
       |SELECT f.alert_id AS alert_id, f.pvname AS pvname, f.ts_us AS ts_us, o.v AS value,
       |       f.status AS status, f.notified AS notified
       |FROM f JOIN obs o ON f.alert_id = o.alert_id AND f.ts_us = o.ts_us
       |ORDER BY alert_id, ts_us""".stripMargin
  }

  /** T3 heartbeat oracle: a heartbeat fires at `prev.ts + c_j` for every
    * cumulative interval `c_j = Σ_{i≤j} forceIntervalUs(pv, i)` that lands
    * before the next real sample (or the horizon after the last one) — the
    * per-gap counter k resets on every real sample, so the gap fill is a
    * plain join against the precomputed cumulative table (no recursion).
    * The table is generated here with the SAME seeded PRNG the operator
    * uses and embedded as VALUES.
    */
  private def heartbeatSql(horizonUs: Long, nPvs: Int, maxBeatsPerGap: Int): String = {
    val values = (0 until nPvs).flatMap { u =>
      val pv = s"u$u"
      var acc = 0L
      (0 until maxBeatsPerGap).map { k =>
        acc += graft.streaming.Heartbeat.forceIntervalUs(pv, k)
        s"('$pv', $acc)"
      }
    }.mkString(", ")
    s"""WITH s AS (
       |  SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS v
       |  FROM events WHERE user_id < $nPvs),
       |g AS (
       |  SELECT pvname, ts_us, v,
       |         coalesce(lead(ts_us) OVER (PARTITION BY pvname ORDER BY ts_us), $horizonUs) AS until
       |  FROM s),
       |iv(pvname, c) AS (VALUES $values)
       |SELECT g.pvname AS pvname, g.ts_us + iv.c AS ts_us, g.v AS value
       |FROM g JOIN iv ON g.pvname = iv.pvname
       |WHERE g.ts_us + iv.c < g.until
       |ORDER BY g.pvname, ts_us""".stripMargin
  }
}
