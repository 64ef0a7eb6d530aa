package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.TimeSeries

/** The user-facing query surface of the engine — the Spark re-expression of
  * the reference's `Archiver`/`Cache` read APIs (SURVEY §3): a samples
  * DataFrame (any source: [[graft.store.SampleStore]], raw parquet, a
  * streaming sink's output) plus an optional latest-value cache DataFrame.
  *
  * Column convention: `pvname: string, tsUs: long, value: string` (+ extra
  * columns pass through untouched).
  */
class Archive(samples: DataFrame, cache: Option[DataFrame] = None) {

  /** Q3 `get_data` (archiver.py:131-223): rows in `[t0, t1)` plus the most
    * recent row before `t0`, optionally extended with the live cached value
    * when the range ends "now" (archiver.py:212-218's with_current) —
    * a single declarative pipeline. Over a [[graft.store.SampleStore]]
    * frame the scan reads one bucket per run (`BucketPruneRule` turns the
    * pvname literal into a bucket partition filter) and skips row groups
    * by their `tsUs` stats; runs are not pruned, because nothing here
    * states a run predicate ([[graft.store.SampleStore.scanPv]] does).
    *
    * `withCurrent = None` mirrors the reference's auto-enable
    * (archiver.py:139-146): the cache row joins in whenever `t1Us` lands
    * within a minute of `nowUs` — a caller asking for "history up to now"
    * gets the live value without opting in. `Some(b)` forces it either way.
    *
    * When the cache row is used, `nowUs` (the timestamp stamped on it) is
    * required, and the result carries the columns common to both sources —
    * a store-backed `samples` frame has run/bucket columns the cache
    * doesn't.
    */
  def getData(pvname: String, t0Us: Long, t1Us: Long,
      withCurrent: Option[Boolean] = None, nowUs: Long = -1L): DataFrame = {
    val useCurrent = withCurrent.getOrElse(
      nowUs >= 0 && math.abs(t1Us - nowUs) < 60L * 1000000L)
    val base = TimeSeries.getData(
      samples, col("pvname"), pvname, "tsUs", "tsUs", t0Us, t1Us)
    val withCache = (cache, useCurrent) match {
      case (Some(c), true) =>
        require(nowUs >= 0, "getData(withCurrent = true) requires nowUs (the cache row's timestamp)")
        val cacheCols = c.columns.toSet
        val common = base.columns.filter(cn => cn == "tsUs" || cacheCols.contains(cn))
        val cur = c.where(col("pvname") === pvname)
          .select(common.map {
            case "tsUs" => lit(nowUs).as("tsUs")
            case other => col(other)
          }.toSeq: _*)
        base.select(common.map(col).toSeq: _*).unionByName(cur)
      case _ => base
    }
    withCache.orderBy(col("tsUs"))
  }

  /** Q2 `get_value_at_time` (archiver.py:112-129). The reference scans
    * `get_data(tmin = t-60, tmax = t+1)` — a 60 s window plus get_data's
    * one-day-bounded early point — so the effective lookback is bounded;
    * mirroring that here keeps the scan pruned at 100 TB instead of
    * reading a PV's entire history for a single-row answer (the heartbeat
    * guarantees ≥1 sample/24 h, making the default lossless).
    */
  def valueAtTime(pvname: String, tUs: Long,
      lookbackUs: Long = 86400000000L + 60000000L): DataFrame = {
    val lo = if (lookbackUs >= tUs) Long.MinValue else tUs - lookbackUs
    TimeSeries.valueAtTime(
      samples.where(col("pvname") === pvname && col("tsUs") >= lo),
      "pvname", "tsUs", "tsUs", tUs)
  }

  /** The latest-value view: the supplied cache frame, or — when none was
    * given — the A1 latest-per-key aggregation DERIVED from the samples,
    * so the cache-shaped APIs below always see one row per PV (falling
    * back to raw samples would hand a polling web layer many rows per PV
    * as a "delta").
    */
  private lazy val cacheView: DataFrame = cache.getOrElse(
    // tie-break on value so equal-ts duplicates resolve the same way on
    // every run (same rule as every other argmax in the engine)
    TimeSeries.valueAtTime(samples, "pvname", "tsUs", "value", Long.MaxValue))

  /** P1 `get_values` on the cache (cache.py:464-473). */
  def cacheSince(sinceUs: Long): DataFrame =
    cacheView.where(col("tsUs") > sinceUs).orderBy(col("tsUs"))

  /** Q6 cache-refresh delta (webapp.py:52-76): rows changed in the last
    * `ageUs` microseconds — the incremental view a polling web layer merges.
    */
  def refreshDelta(nowUs: Long, ageUs: Long): DataFrame =
    cacheView.where(col("tsUs") > nowUs - ageUs)

  /** Liveness/activity check (pvarch.py:184-192, config defaults
    * util.py:43-46): updates in the trailing window `(tUs - windowUs, tUs]`
    * per PV, with the reference's verdict `alive = n_recent >= minUpdates`
    * (cache: ≥2 updates/10 s; archive: ≥2 inserts/60 s). The reference
    * gates process-level totals; the per-PV generalization is what a
    * 1000-executor fleet needs to find the silent channels, and the total
    * is one further `agg` away.
    *
    * `pvDim` (the monitored-PV dimension) makes silent PVs visible: a PV
    * with no recent samples appears with `n_recent = 0, alive = false`
    * instead of vanishing. Physical shape: a pushed-down time filter over
    * the scan, one map-side-combinable count, and a broadcast-sized
    * dimension outer join — no data-sized shuffle.
    */
  def activity(tUs: Long, windowUs: Long, minUpdates: Long,
      pvDim: Option[DataFrame] = None): DataFrame = {
    val recent = samples
      .where(col("tsUs") > tUs - windowUs && col("tsUs") <= tUs)
      .groupBy(col("pvname"))
      .agg(count(lit(1)).as("n_recent"))
    val base = pvDim match {
      case Some(dim) =>
        dim.select(col("pvname")).distinct()
          .join(recent, Seq("pvname"), "left_outer")
          .select(col("pvname"), coalesce(col("n_recent"), lit(0L)).as("n_recent"))
      case None => recent
    }
    base.select(col("pvname"), col("n_recent"),
      (col("n_recent") >= minUpdates).as("alive"))
  }
}

/** P3/P4 — the generic where/select surface (util.py:157-240): a dict of
  * equality constraints (or a primary key) + order_by/limit, as one Column
  * conjunction. The engine-API equivalent of `DatabaseConnection.get_rows`.
  */
object Generic {

  /** `handle_where` (util.py:157-189): Map → conjunction of `col == value`;
    * a bare value means the `id` primary key.
    */
  def handleWhere(where: Map[String, Any]): Column =
    where.map { case (k, v) => col(k) === lit(v) }.reduceOption(_ && _).getOrElse(lit(true))

  def handleWhere(primaryKey: Long): Column = col("id") === primaryKey

  /** `get_rows` (util.py:191-240). */
  def getRows(df: DataFrame, where: Map[String, Any], orderBy: Option[(String, Boolean)] = None,
      limitOne: Boolean = false): DataFrame = {
    val filtered = df.where(handleWhere(where))
    val ordered = orderBy match {
      case Some((c, asc)) => filtered.orderBy(if (asc) col(c).asc else col(c).desc)
      case None => filtered
    }
    if (limitOne) ordered.limit(1) else ordered
  }
}
