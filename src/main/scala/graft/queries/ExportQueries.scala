package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Q.sql
import Shared._

/** Queries whose headline call is in `Export`, each beside its DuckDB oracle. */
object ExportQueries {
  val all: Seq[Q] = Seq(
    // ---- S11 multi-PV aligned EXPORT (scripts/get_pvarch:138-223): the
    // full aligned-rows line assembly — `%.6f` seconds + one fixed-width
    // hformat field per series — over the oracled LOCF core. hformat is
    // value-shape-dependent, so the values are first mapped to a uniform
    // 6-digit integral grid (100000 + floor(value*100) mod 10000), where
    // hformat(v, 12) is exactly ' DDDDDD.0000' → trailing-000 trim →
    // ' DDDDDD.0' — lettting DuckDB mirror the whole line byte-for-byte
    // (the general hformat surface has its own 500-case fixture oracle,
    // q_hformat). The `%.6f` ts is safe cross-engine: integral micros
    // ≤ 2^53 divide to within 1.2e-7 of the true 6-decimal value, so both
    // formatters round to the same string ---------------------------------
    Q("q_export_multi", "Export", (s, dir) => {
      val ev = events(s, dir).select(col("event_type"), col("ts_us"),
        (lit(100000L) + pmod(floor(col("value") * 100).cast("long"), lit(10000L)))
          .cast("double").as("value"))
      val aligned = TimeSeries.locfAlignChunked(ev, "event_type", "ts_us", "value",
        Seq("click", "purchase", "view"), T0, T1, chunkUs = 86400000000L)
      Export.alignedRows(aligned, "ts_us", Seq("click", "purchase", "view"))
    }, sql(
      // S11 aligned export: the q_locf_align CTE over the 6-digit integral
      // value grid, then the line rendered byte-for-byte — two spaces
      // between fields because each hformat field keeps its one leading
      // space (the ' ' sign flag) after the trailing-000 trim
      s"""WITH e AS (
         |  SELECT epoch_us(ts) AS ts_us, event_type,
         |         100000 + ((CAST(floor(value * 100) AS BIGINT) % 10000) + 10000) % 10000 AS vi
         |  FROM events
         |  WHERE event_type IN ('click', 'purchase', 'view') AND epoch_us(ts) < $T1),
         |g AS (SELECT ts_us,
         |        max(CASE WHEN event_type = 'click' THEN vi END) AS c0,
         |        max(CASE WHEN event_type = 'purchase' THEN vi END) AS c1,
         |        max(CASE WHEN event_type = 'view' THEN vi END) AS c2
         |      FROM e GROUP BY ts_us),
         |f AS (SELECT ts_us,
         |        last_value(c0 IGNORE NULLS) OVER w AS v0,
         |        last_value(c1 IGNORE NULLS) OVER w AS v1,
         |        last_value(c2 IGNORE NULLS) OVER w AS v2
         |      FROM g WINDOW w AS (ORDER BY ts_us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT printf('%.6f', ts_us / 1000000.0)
         |       || '  ' || CAST(v0 AS VARCHAR) || '.0'
         |       || '  ' || CAST(v1 AS VARCHAR) || '.0'
         |       || '  ' || CAST(v2 AS VARCHAR) || '.0' AS line
         |FROM f
         |WHERE ts_us >= $T0 AND v0 IS NOT NULL AND v1 IS NOT NULL AND v2 IS NOT NULL
         |ORDER BY ts_us""".stripMargin)),

    // ---- S12 save/restore writer (util.py:391-424): the cache snapshot —
    // latest non-null value per series — rendered through ALL THREE flavor
    // writers (plain / idl / python), line-exact: flavor headers, the
    // cmt-prefixed extra header line, per-flavor caput quoting. Values on
    // an integral grid (floor(value*1000)) so both engines render the same
    // digits. The collect is keys-sized by construction — a save file has
    // one line per PV (control-plane artifact, like the reference's) -----
    Q("q_save_restore", "Export", (s, dir) => {
      import s.implicits._
      val latest = TimeSeries.latestPerKey(
          events(s, dir).where(col("value").isNotNull),
          "event_type", "ts_us", "event_id", Seq("value"))
        .select(concat(lit("EV:"), col("event_type")).as("pv"),
          floor(col("value") * 1000).cast("string").as("v"))
        .orderBy(col("pv"))
      val pvvals = latest.collect().map(r => (r.getString(0), r.getString(1))).toSeq
      Seq("plain", "idl", "python").flatMap { f =>
        Export.saveRestore(pvvals, f, header = Seq("graft snapshot")).zipWithIndex
          .map { case (l, i) => (f, i.toLong, l) }
      }.toDF("flavor", "line_no", "line")
        .orderBy(col("flavor"), col("line_no"))
    }, sql(
      // S12 save/restore: the latest-non-null-per-series snapshot rendered
      // through the three flavor writers, every line mirrored verbatim —
      // header blocks as literal rows, value lines assembled with the same
      // quoting per flavor
      """WITH src AS (
        |  SELECT event_type, epoch_us(ts) AS ts_us, event_id, value
        |  FROM events WHERE value IS NOT NULL),
        |latest AS (
        |  SELECT 'EV:' || event_type AS pv,
        |         CAST(CAST(floor(value * 1000) AS BIGINT) AS VARCHAR) AS v
        |  FROM (SELECT event_type, value,
        |          row_number() OVER (PARTITION BY event_type
        |                             ORDER BY ts_us DESC, event_id DESC) AS rn
        |        FROM src) WHERE rn = 1),
        |ord AS (SELECT pv, v, row_number() OVER (ORDER BY pv) - 1 AS rn FROM latest),
        |heads(flavor, line_no, line) AS (VALUES
        |  ('plain', 0, '# Plain Save/Restore script'),
        |  ('plain', 1, '# graft snapshot'),
        |  ('idl', 0, '; IDL save restore script'),
        |  ('idl', 1, '; graft snapshot'),
        |  ('python', 0, '#!/usr/bin/env python'),
        |  ('python', 1, '#  Python save restore script'),
        |  ('python', 2, 'from epics import caput'),
        |  ('python', 3, '# graft snapshot')),
        |nhead(flavor, n) AS (VALUES ('plain', 2), ('idl', 2), ('python', 4)),
        |vals AS (
        |  SELECT nh.flavor, nh.n + o.rn AS line_no,
        |         CASE nh.flavor
        |           WHEN 'idl' THEN 's = caput(''' || o.pv || ''', ' || o.v || ')'
        |           WHEN 'python' THEN 'caput(''' || o.pv || ''', ' || o.v || ')'
        |           ELSE o.pv || '  ' || o.v END AS line
        |  FROM ord o CROSS JOIN nhead nh)
        |SELECT flavor, CAST(line_no AS BIGINT) AS line_no, line
        |FROM (SELECT * FROM heads UNION ALL SELECT * FROM vals)
        |ORDER BY flavor, line_no""".stripMargin)),

    // ---- Q5 string-PV table: char-array waveform decoded to (iso, value)
    // rows; the waveform is derived from event_type with a NUL + trailing
    // junk so the F9 truncation path is what the oracle actually checks ----
    Q("q_string_table", "Export", (s, dir) => {
      val wave = events(s, dir)
        .where(col("event_type") === "view" && col("ts_us") >= T0 && col("ts_us") < TMID)
        .withColumn("wave",
          concat(
            transform(split(col("event_type"), ""), c => ascii(c)),
            array(lit(0), lit(88), lit(89))))
      Export.stringPvTable(wave, "ts_us", "wave")
    }, sql(
      // F9's NUL truncation makes the decoded waveform exactly event_type
      s"""SELECT epoch_us(ts) AS ts_us,
         |  strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:%M:%S.%g') AS iso,
         |  event_type AS value
         |FROM events
         |WHERE event_type = 'view' AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $TMID
         |ORDER BY ts_us""".stripMargin)),

    // ---- Q4 plot-trace assembly: cull (Q1) + iso x-axis + numeric y ------
    Q("q_plot_trace", "Export", (s, dir) => {
      val e = events(s, dir)
        .where(col("event_type") === "error" && col("ts_us") >= T0 && col("ts_us") < T1)
      Export.plotTrace(e, "ts_us", "event_id", "value", sample = 5, percent = 10.0)
    }, sql(
      s"""WITH e AS (
         |  SELECT epoch_us(ts) AS ts_us, event_id, value FROM events
         |  WHERE event_type = 'error' AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $T1),
         |b AS (SELECT quantile_cont(CAST(value AS DOUBLE), CAST(0.1 AS DOUBLE)) AS lo,
         |             quantile_cont(CAST(value AS DOUBLE), CAST(0.9 AS DOUBLE)) AS hi FROM e),
         |r AS (SELECT ts_us, event_id, value, row_number() OVER (ORDER BY ts_us, event_id) AS rn FROM e)
         |SELECT ts_us, event_id,
         |  strftime(make_timestamp(ts_us), '%Y-%m-%d %H:%M:%S.%g') AS x,
         |  CAST(value AS DOUBLE) AS y
         |FROM r, b
         |WHERE (rn - 1) % 5 = 0 OR value < lo OR value > hi
         |ORDER BY ts_us, event_id""".stripMargin)),

    // ---- largest-triangle plot decimation (parallel fixed-anchor LTTB) ----
    Q("q_lttb", "Export", (s, dir) => {
      Export.lttb(
        events(s, dir).select(col("event_type").as("pvname"), col("ts_us"), col("value")),
        "pvname", "ts_us", "value", buckets = 48)
        .orderBy(col("pvname"), col("ts_us"))
    }, sql(
      // parallel fixed-anchor LTTB: time normalized to bucket units before
      // averaging (areas O(bucket x value), so the shared 6-dp rounding is
      // meaningful); area DESC, ts ASC argmax == Spark's max(struct) pick
      s"""WITH s AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us,
         |    max(CAST(value AS DOUBLE)) AS v
         |  FROM events GROUP BY 1, 2),
         |ext AS (SELECT pvname, min(ts_us) AS t0, max(ts_us) AS t1,
         |    arg_min(v, ts_us) AS vfirst, arg_max(v, ts_us) AS vlast,
         |    count(*) AS cnt
         |  FROM s GROUP BY pvname),
         |j AS (SELECT s.pvname, s.ts_us, s.v, ext.t0, ext.t1,
         |    ext.vfirst, ext.vlast, ext.cnt
         |  FROM s JOIN ext USING (pvname)),
         |pass AS (SELECT pvname, ts_us, v FROM j
         |  WHERE NOT (cnt > 50 AND t1 > t0)),
         |interior AS (SELECT pvname, ts_us, v, vfirst, vlast,
         |    (ts_us - t0) / (CAST(t1 - t0 AS DOUBLE) / 48) AS x,
         |    least(CAST(floor((ts_us - t0) / (CAST(t1 - t0 AS DOUBLE) / 48)) AS BIGINT), 47) AS b
         |  FROM j WHERE (cnt > 50 AND t1 > t0) AND ts_us > t0 AND ts_us < t1),
         |avgs AS (SELECT pvname, b, avg(x) AS at, avg(v) AS av
         |  FROM interior GROUP BY 1, 2),
         |anch AS (SELECT pvname, b,
         |    lag(at) OVER w AS pat, lag(av) OVER w AS pav,
         |    lead(at) OVER w AS nat, lead(av) OVER w AS nav
         |  FROM avgs WINDOW w AS (PARTITION BY pvname ORDER BY b)),
         |scored AS (SELECT i.pvname, i.b, i.ts_us, i.v,
         |    round(abs(
         |      (coalesce(a.pat, CAST(0.0 AS DOUBLE)) - coalesce(a.nat, CAST(48.0 AS DOUBLE)))
         |        * (i.v - coalesce(a.pav, i.vfirst))
         |      - (coalesce(a.pat, CAST(0.0 AS DOUBLE)) - i.x)
         |        * (coalesce(a.nav, i.vlast) - coalesce(a.pav, i.vfirst))), 6) AS area
         |  FROM interior i JOIN anch a USING (pvname, b)),
         |win AS (SELECT pvname, b, ts_us, v,
         |    row_number() OVER (PARTITION BY pvname, b ORDER BY area DESC, ts_us ASC) AS rn
         |  FROM scored),
         |sel AS (SELECT pvname, ts_us, v FROM win WHERE rn = 1),
         |firsts AS (SELECT pvname, t0 AS ts_us, vfirst AS v FROM ext
         |  WHERE cnt > 50 AND t1 > t0),
         |lasts AS (SELECT pvname, t1 AS ts_us, vlast AS v FROM ext
         |  WHERE cnt > 50 AND t1 > t0),
         |u AS (SELECT * FROM pass UNION ALL SELECT * FROM firsts
         |  UNION ALL SELECT * FROM lasts UNION ALL SELECT * FROM sel)
         |SELECT pvname, ts_us, v AS value FROM u
         |ORDER BY pvname, ts_us""".stripMargin)))
}
