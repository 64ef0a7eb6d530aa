package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{GraftUdfs, PvFunctions}

/** S10/S11/S12 — formatted export (webapp.py:260-323, scripts/get_pvarch:
  * 138-223, util.py:391-424). The row body is a distributed projection
  * (hformat + date formatting stay on executors); only the header block —
  * a dozen lines — is assembled on the driver.
  */
object Export {

  /** S10 ASCII data rows: `ts value YYYYMMDD HHMMSS` (webapp.py:312-322),
    * value fixed-width via hformat (util.py:427-491). Produces a single
    * `line` column ordered by time.
    */
  def asciiRows(df: DataFrame, tsUs: String, dvalue: String, hfLength: Int = 12): DataFrame =
    df.select(
      col(tsUs),
      concat_ws(
        " ",
        format_string("%.6f", col(tsUs).cast("double") / 1e6),
        graft.plans.HFormatExpr.hformat(col(dvalue), lit(hfLength)),
        date_format(timestamp_micros(col(tsUs)), "yyyyMMdd HHmmss")).as("line"))
      .orderBy(col(tsUs))
      .select(col("line"))

  /** S11 multi-PV aligned export (scripts/get_pvarch:138-223): one line per
    * aligned timestamp with each series' value in fixed-width hformat —
    * feed it the output of [[TimeSeries.locfAlign]].
    */
  def alignedRows(df: DataFrame, tsUs: String, seriesCols: Seq[String], hfLength: Int = 12): DataFrame =
    df.select(
      col(tsUs),
      concat_ws(
        " ",
        format_string("%.6f", col(tsUs).cast("double") / 1e6) +:
          seriesCols.map(c => graft.plans.HFormatExpr.hformat(col(c), lit(hfLength))): _*).as("line"))
      .orderBy(col(tsUs))
      .select(col("line"))

  /** S10 header block (webapp.py:293-311). Driver-side string assembly. */
  def asciiHeader(
      pvname: String,
      description: String,
      dtype: String,
      t0Us: Long,
      t1Us: Long,
      npts: Long,
      enumLabels: Seq[String] = Nil): String = {
    val fmt = (us: Long) =>
      java.time.Instant.ofEpochMilli(us / 1000)
        .atZone(java.time.ZoneOffset.UTC)
        .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss"))
    val legend =
      if (enumLabels.isEmpty) ""
      else enumLabels.zipWithIndex.map { case (l, i) => s"#    $i: $l" }
        .mkString("# enum legends:\n", "\n", "\n")
    s"""|# pvname:     $pvname
        |# desc:       $description
        |# type:       $dtype
        |# time range: ${fmt(t0Us)} to ${fmt(t1Us)}
        |# npts:       $npts
        |$legend# ts           value        date      time
        |""".stripMargin
  }

  /** Q5 — the string-PV table (webapp.py:390-394): the first string-typed
    * PV's window rendered as `(iso timestamp, decoded value)` rows — F8
    * `ts2iso` + F9 `chararray_as_string` composed as one distributed
    * projection over a [[TimeSeries.getData]] window. `charArr` is the
    * int-array waveform column (decoded up to the first NUL).
    */
  def stringPvTable(df: DataFrame, tsUs: String, charArr: String): DataFrame =
    df.select(
      col(tsUs),
      PvFunctions.ts2iso(col(tsUs)).as("iso"),
      PvFunctions.charArrayAsString(col(charArr)).as("value"))
      .orderBy(col(tsUs))

  /** Q4 — engine side of plot assembly (webapp.py:396-409 +
    * web_utils.py:177-237): cull the series with one Q1 pass
    * ([[TimeSeries.decimate]]; [[TimeSeries.decimateToCap]] repeats it up
    * to the 30k cap), then emit the plot frame: `x` = ISO timestamps,
    * `y` = numeric values, in `(tsUs, tieBreak)` order, as one partition.
    * Layout, enum tick labels, and colors are presentation-layer per
    * SURVEY §2.10.
    */
  def plotTrace(
      df: DataFrame,
      tsUs: String,
      tieBreak: String,
      value: String,
      sample: Int = 3,
      percent: Double = 15.0): DataFrame =
    TimeSeries.decimate(df, tsUs, tieBreak, value, sample, percent)
      .select(
        col(tsUs),
        col(tieBreak),
        PvFunctions.ts2iso(col(tsUs)).as("x"),
        col(value).cast("double").as("y"))

  /** Largest-triangle plot decimation, the fixed-anchor (parallelizable)
    * take on LTTB — the modern alternative to the reference's
    * sample/percent cull (Q1, web_utils.py:131-161): per key, keep the
    * first and last samples, split the interior span into `buckets`
    * equal-TIME buckets, and from each keep the point forming the largest
    * triangle against its neighbor buckets' average points. Unlike
    * sequential LTTB (whose anchor is the previously SELECTED point, an
    * inherently serial dependency), both anchors here are bucket averages,
    * so every bucket decides independently — the standard parallel
    * variant. Keys with `<= buckets + 2` points (or a zero-width span)
    * pass through untouched.
    *
    * Scale shape: dedupe agg, per-key extents agg, one keyed join, bucket
    * averages agg, `lag`/`lead` anchor windows over the BUCKET table
    * (`<= buckets` rows per key, control-plane-sized), and a per-bucket
    * `max(struct)` argmax — every shuffle is on the series key, no global
    * window, no driver loop. Ties on the (6-dp-rounded) area break toward
    * the earlier point, so the selection is deterministic and
    * engine-portable.
    */
  def lttb(df: DataFrame, key: String, ts: String, value: String,
      buckets: Int): DataFrame = {
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val b = buckets
    val s = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    val ext = s.groupBy(col(key)).agg(
      min(col(ts)).as("__t0"), max(col(ts)).as("__t1"),
      min_by(col("__v"), col(ts)).as("__vfirst"),
      max_by(col("__v"), col(ts)).as("__vlast"),
      count(lit(1)).as("__cnt"))
    val j = s.join(ext, key)
    val isBig = col("__cnt") > (b + 2) && col("__t1") > col("__t0")
    val passThrough = j.where(!isBig).select(col(key), col(ts), col("__v"))
    // time normalized into BUCKET UNITS (x in [0, b]) before any averaging:
    // epoch-micros are ~1e15 and bucket-average noise at that magnitude
    // would swamp a fixed-decimal area rounding; in bucket units the area
    // is O(bucket x value-range) and 6-dp rounding is meaningful
    val xOf = (col(ts) - col("__t0")).cast("double") /
      ((col("__t1") - col("__t0")).cast("double") / b)
    val interior = j.where(isBig && col(ts) > col("__t0") && col(ts) < col("__t1"))
      .withColumn("__x", xOf)
      .withColumn("__b", least(floor(col("__x")), lit((b - 1).toLong)))
    val avgs = interior.groupBy(col(key), col("__b"))
      .agg(avg(col("__x")).as("__at"), avg(col("__v")).as("__av"))
    // anchors: neighbor NON-EMPTY buckets' averages (lag/lead over the
    // bucket table skips empties by construction), endpoints at the edges
    val wb = Window.partitionBy(col(key)).orderBy(col("__b"))
    val anchors = avgs
      .withColumn("__pat", lag(col("__at"), 1).over(wb))
      .withColumn("__pav", lag(col("__av"), 1).over(wb))
      .withColumn("__nat", lead(col("__at"), 1).over(wb))
      .withColumn("__nav", lead(col("__av"), 1).over(wb))
    val withAnchors = interior.join(anchors.drop("__at", "__av"), Seq(key, "__b"))
      .select(col(key), col("__b"), col(ts), col("__v"), col("__x"),
        coalesce(col("__pat"), lit(0.0)).as("__ax"),
        coalesce(col("__pav"), col("__vfirst")).as("__ay"),
        coalesce(col("__nat"), lit(b.toDouble)).as("__cx"),
        coalesce(col("__nav"), col("__vlast")).as("__cy"))
    // twice the triangle area vs the fixed anchors (the LTTB ranking
    // quantity); rounded so both engines argmax identical doubles
    val area = round(abs(
      (col("__ax") - col("__cx")) * (col("__v") - col("__ay")) -
        (col("__ax") - col("__x")) * (col("__cy") - col("__ay"))), 6)
    val winners = withAnchors
      .groupBy(col(key), col("__b"))
      .agg(max(struct(area.as("a"), (-col(ts)).as("nt"), col(ts).as("t"),
        col("__v").as("v"))).as("__w"))
      .select(col(key), col("__w.t").as(ts), col("__w.v").as("__v"))
    val firsts = ext.where(isBig).select(col(key), col("__t0").as(ts), col("__vfirst").as("__v"))
    val lasts = ext.where(isBig).select(col(key), col("__t1").as(ts), col("__vlast").as("__v"))
    passThrough.unionByName(firsts).unionByName(lasts).unionByName(winners)
      .select(col(key), col(ts), col("__v").as(value))
  }

  /** Q4 helper — `auto_ylog`'s DOCUMENTED heuristic (web_utils.py:113-127):
    * a non-negative series goes log-scale when its 1st-99th percentile
    * spread (over values > 1e-150) exceeds ×200. The reference SHIPS this
    * disabled (the function body returns False); the aggregation is
    * provided for deployments that re-enable it — one distributed pass,
    * one 3-value row to the driver.
    */
  def autoYLog(df: DataFrame, value: String): Boolean = {
    val r = df.agg(
      min(col(value).cast("double")).as("mn"),
      expr(s"percentile(CASE WHEN $value > 1e-150 THEN CAST($value AS DOUBLE) END, 0.01)").as("p01"),
      expr(s"percentile(CASE WHEN $value > 1e-150 THEN CAST($value AS DOUBLE) END, 0.99)").as("p99"))
      .collect()(0)
    !r.isNullAt(0) && r.getDouble(0) >= 0 &&
      !r.isNullAt(1) && !r.isNullAt(2) && r.getDouble(1) > 0 &&
      r.getDouble(2) / r.getDouble(1) > 200.0
  }

  /** S12 save/restore writer (util.py:391-424), byte-parity with
    * `write_saverestore`: flavor headers, `cmt`-prefixed extra header
    * lines, and per-flavor value lines (values UNQUOTED in idl/python, two
    * spaces in plain).
    */
  def saveRestore(
      pvvals: Seq[(String, String)],
      format: String = "plain",
      header: Seq[String] = Nil): Seq[String] = {
    val fmt = format.toLowerCase
    val (head, xfmt, cmt) =
      if (fmt.startsWith("idl"))
        (Seq("; IDL save restore script"), (p: String, v: String) => s"s = caput('$p', $v)", ";")
      else if (fmt.startsWith("py"))
        (Seq("#!/usr/bin/env python", "#  Python save restore script", "from epics import caput"),
          (p: String, v: String) => s"caput('$p', $v)", "#")
      else
        (Seq("# Plain Save/Restore script"), (p: String, v: String) => s"$p  $v", "#")
    head ++ header.map(h => s"$cmt $h") ++ pvvals.map { case (p, v) => xfmt(p, v) }
  }
}
