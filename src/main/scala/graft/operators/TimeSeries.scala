package graft.operators

import scala.reflect.runtime.universe.TypeTag

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.streaming.{KeyedFold, Smoothing}

/** The archiver's query surface re-expressed as declarative DataFrame
  * transforms (SURVEY.md §2.2/§2.3/§2.5/§2.8/§2.10 and §3.1).
  *
  * Operators are generic over `(key, ts, value)` column names so they apply to
  * any keyed time series (the reference's PV samples, the testdata `events`
  * table, or a 100 TB partitioned store). All of them stay fully declarative:
  * filters and projections reach the parquet scan, per-key work shuffles once
  * on the key, and no driver-side loop touches data.
  *
  * Scale notes are on each operator; the intentionally narrow-parallelism
  * spots are [[locfAlign]]'s final global ordering and [[decimateToCap]]'s
  * one-task cull, both of which in practice run over a bounded plot window
  * (the reference caps plot payloads at 30k points — web_utils.py:131-161).
  */
object TimeSeries {

  /** Persisted frames whose lifetime is "until the query that built them is
    * done" but which CANNOT be unpersisted inside the operator that made
    * them (the operator returns a lazy frame that still needs the persist
    * at evaluation time — see [[rowNumberRanged]]'s boundary-consistency
    * note). Operators register here; harnesses release at phase boundaries.
    */
  private val callScopedPersists =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Register a persisted frame for deferred release — used by operators
    * whose returned plan reads the persist at evaluation time (so a
    * `finally unpersist` inside the call would break it).
    *
    * SINGLE-THREADED CONTRACT: the queue is process-global, so a
    * [[releaseCallScopedPersists]] from one thread would unpersist frames a
    * CONCURRENT caller registered mid-evaluation — the exact silent
    * rank-offset misalignment [[releaseCallScopedPersists]] warns about.
    * Register/release must run from one harness thread at a time (Bench,
    * Verify and the sbt test runner are single-threaded by convention);
    * a concurrent driver needs per-phase scoping before it may call
    * release. */
  private[graft] def registerCallScopedPersist(df: DataFrame): Unit =
    callScopedPersists.add(df)

  /** Unpersist every frame registered since the last release. Call ONLY at
    * points where all frames built by prior calls are dead (Bench: after a
    * query's timed runs; Verify: after a query's dump): re-evaluating a
    * frame whose internal persist was released recomputes its branches
    * independently, which for [[rowNumberRanged]] risks misaligned rank
    * offsets — wrongness, not slowness. Same risk class and convention as
    * SparkEntry.clearSharedFrames. */
  def releaseCallScopedPersists(): Unit = {
    var df = callScopedPersists.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = callScopedPersists.poll()
    }
  }

  /** S4/P1/O1 — time-range scan of one series, ordered by time
    * (archiver.py:185-190). Partition+predicate pruning eliminates everything
    * but the one key's bucket and the time range.
    */
  def rangeScan(df: DataFrame, keyCol: Column, keyValue: String, ts: String, t0: Long, t1: Long): DataFrame =
    df.where(keyCol === keyValue && col(ts) >= t0 && col(ts) < t1).orderBy(col(ts))

  /** W2/Q3 — the flagship `get_data` shape (archiver.py:131-223): the rows in
    * `[t0, t1)` plus the single most recent row before `t0` ("one point before
    * tmin", archiver.py:161-165), so as-of/LOCF consumers have a defined value
    * at the window start.
    *
    * The early-point scan is BOUNDED to `[t0 - earlyLookbackUs, t0)`, exactly
    * like the reference's one-day slice (archiver.py:192-206) — without the
    * bound the argmax would read arbitrarily deep history at 100 TB. The
    * lower bound is a pushed parquet filter (row-group pruning); pass
    * `earlyLookbackUs = Long.MaxValue` for the unbounded scan. The heartbeat
    * sweep (T3) guarantees ≥1 sample/PV/24 h, which is what makes the 1-day
    * default lossless in the reference's own deployment.
    *
    * The top-1 itself is distributed (TakeOrderedAndProject: per-partition
    * limit + driver merge) — never concentrates history on one task.
    */
  def getData(
      df: DataFrame,
      keyCol: Column,
      keyValue: String,
      ts: String,
      tieBreak: String,
      t0: Long,
      t1: Long,
      earlyLookbackUs: Long = 86400000000L): DataFrame = {
    val series = df.where(keyCol === keyValue)
    val inRange = series.where(col(ts) >= t0 && col(ts) < t1)
    val earlyLo = if (earlyLookbackUs >= t0) Long.MinValue else t0 - earlyLookbackUs
    val early = series
      .where(col(ts) < t0 && col(ts) >= earlyLo)
      .orderBy(col(ts).desc, col(tieBreak).desc)
      .limit(1)
    early.unionByName(inRange).orderBy(col(ts), col(tieBreak))
  }

  /** Q2 `get_value_at_time` (archiver.py:112-129) generalized to every key:
    * latest row at-or-before `t` per key. The pre-filter `ts <= t` is
    * pushed to the scan, and the per-key argmax is a `max_by` aggregation —
    * map-side combinable (partial argmax per input partition, then one
    * shuffle of ONE row per key), where the previous per-key window had to
    * shuffle and sort every qualifying row. Same output, including the
    * `(ts, tieBreak)` tie-break.
    */
  def valueAtTime(df: DataFrame, key: String, ts: String, tieBreak: String, t: Long): DataFrame = {
    val others = df.columns.filter(_ != key)
    val ord = struct(col(ts), col(tieBreak))
    df.where(col(ts) <= t)
      .groupBy(col(key))
      .agg(max_by(struct(others.map(col): _*), ord).as("__r"))
      // getField, not a "__r.c" string path: column names containing dots
      // must keep resolving (they did under the old window form)
      .select(df.columns.map(c => if (c == key) col(c) else col("__r").getField(c).as(c)): _*)
  }

  /** A1 — latest-per-key (the reference's cache table, cache.py:433-462).
    * `max_by` over a struct gives a single map-side-combinable aggregation —
    * at 100 TB this is the right shape: partial aggregation per input
    * partition, one shuffle of one row per key.
    */
  def latestPerKey(df: DataFrame, key: String, ts: String, tieBreak: String, values: Seq[String]): DataFrame = {
    val ord = struct(col(ts), col(tieBreak))
    val picked = struct((Seq(ts, tieBreak) ++ values).map(col): _*)
    df.groupBy(col(key))
      .agg(max_by(picked, ord).as("__latest"))
      .select(col(key) +: (Seq(ts, tieBreak) ++ values).map(c => col(s"__latest.$c").as(c)): _*)
  }

  /** A2 `set_runinfo` (cache.py:254-288): min/max time + count per key. */
  def minMaxPerKey(df: DataFrame, key: String, ts: String): DataFrame =
    df.groupBy(col(key))
      .agg(min(col(ts)).as("start_us"), max(col(ts)).as("stop_us"), count(lit(1)).as("n"))

  /** P6 — row count since a threshold per key (cache.py:208-223). */
  def countSince(df: DataFrame, key: String, ts: String, since: Long): DataFrame =
    df.where(col(ts) > since).groupBy(col(key)).agg(count(lit(1)).as("n"))

  /** Gap-based sessionization: a new session starts whenever the gap from
    * the previous event on the same key exceeds `gapUs` (the idle-timeout
    * definition Structured Streaming's `session_window` uses — the
    * [[graft.streaming.Sessions]] twin is spec-checked against this batch
    * form, including the boundary case: session_window merges touching
    * windows, so an event at EXACTLY prev + gap continues the session in
    * both forms). Adds
    * `session_idx`, the per-key session ordinal; (key, session_idx) is the
    * session identity. Per-key window — one shuffle by key, no global sort.
    */
  def sessionize(df: DataFrame, key: String, ts: String, gapUs: Long): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val isNew = when(
      lag(col(ts), 1).over(w).isNull ||
        col(ts) - lag(col(ts), 1).over(w) > gapUs, 1L).otherwise(0L)
    df.withColumn("session_idx", sum(isNew).over(
      w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session rollup over [[sessionize]]: start/end/event count per
    * (key, session). Two-phase aggregation after the sessionizing window —
    * map-side combinable on the same key partitioning.
    */
  def sessionStats(df: DataFrame, key: String, ts: String, gapUs: Long): DataFrame =
    sessionize(df, key, ts, gapUs)
      .groupBy(col(key), col("session_idx"))
      .agg(
        min(col(ts)).as("start_us"),
        max(col(ts)).as("end_us"),
        count(lit(1)).as("n_events"))

  /** Trailing-window moving statistics + z-score anomaly flag: for every
    * sample, count/mean/stddev over the STRICTLY-PRECEDING `windowUs` of
    * the same key (`[ts - windowUs, ts - 1]` — excluding the row itself
    * and its same-timestamp peers, so a spike cannot contaminate its own
    * baseline), and the sample's z-score against that baseline. The
    * monitoring primitive behind "PV suddenly reads 6σ off its last hour".
    *
    * Scale shape: ONE key-partitioned range window — state per task is the
    * window's worth of samples for its keys, never the corpus; no global
    * window, no second shuffle (mean/std/count share the frame).
    * stddev/z are null until the baseline has >= 2 points, and z is null
    * when the baseline is constant (stddev 0).
    *
    * Cross-engine determinism: both engines stream their variance update
    * in frame order over identical doubles; mean/std/z round to 6 after
    * the shared expression `(v − mean) / std`.
    */
  def trailingStats(df: DataFrame, key: String, ts: String, value: String,
      windowUs: Long): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
      .rangeBetween(-windowUs, -1L)
    val n = count(col(value)).over(w)
    val mean = avg(col(value)).over(w)
    val std = stddev_samp(col(value)).over(w)
    df.select(col(key), col(ts), col(value),
        n.as("n_prev"),
        when(n >= 1, round(mean, 6)).as("mean_prev"),
        when(n >= 2, round(std, 6)).as("std_prev"),
        when(n >= 2 && std > 0, round((col(value) - mean) / std, 6)).as("z"))
  }

  /** Resample each key's series onto a regular `[t0, t1]` grid (every
    * `stepUs`) with LINEAR interpolation — the smooth-plot twin of the
    * LOCF family: a grid point between two samples takes
    * `prev + (next − prev)·(t − tp)/(tn − tp)`; past the last sample the
    * value carries forward (LOCF tail); before the first there is no
    * value (null). A grid point landing exactly on a sample reproduces it
    * (the factor is exactly 0). Same-timestamp duplicate samples collapse
    * to their max first (one deterministic value per instant).
    *
    * Plan shape: samples dedupe in one key-partitioned aggregation; the
    * grid is a map-only key×sequence explode; neighbors come from ONE
    * key-partitioned window pass (running last below, running first
    * above — sample rows sort before their same-timestamp grid row, so
    * "next" is strictly later). No global window, no join: per-task state
    * is one key's rows, the locfAlignChunked-style time-chunking applies
    * if single keys outgrow a task.
    */
  def interpolateLinear(df: DataFrame, key: String, ts: String, value: String,
      t0: Long, t1: Long, stepUs: Long): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    require(t1 >= t0, s"empty grid: t1 $t1 < t0 $t0")
    val samples = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    val grid = samples.select(col(key)).distinct()
      .select(col(key), explode(sequence(lit(t0), lit(t1), lit(stepUs))).as(ts))
      .withColumn("__v", lit(null).cast("double"))
      .withColumn("__g", lit(1))
    val u = samples.withColumn("__g", lit(0)).unionByName(grid)
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col("__g"))
    val wPrev = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val isSample = col("__g") === 0 && col("__v").isNotNull
    val pv = last(when(isSample, col("__v")), ignoreNulls = true).over(wPrev)
    val pt = last(when(isSample, col(ts)), ignoreNulls = true).over(wPrev)
    val nv = first(when(isSample, col("__v")), ignoreNulls = true).over(wNext)
    val nt = first(when(isSample, col(ts)), ignoreNulls = true).over(wNext)
    u.select(col(key), col(ts), col("__g"),
        when(pt.isNotNull && nt.isNotNull,
          pv + (nv - pv) * ((col(ts) - pt) / (nt - pt)))
          .when(pt.isNotNull, pv).as("__iv"))
      .where(col("__g") === 1)
      .select(col(key), col(ts), round(col("__iv"), 6).as("value"))
  }

  /** Generic keyed AS-OF JOIN — the vectorized form of Q2 `get_value_at_time`
    * (archiver.py:112-129): every left row picks up the latest right row
    * with `rightTs <= leftTs` on the same key (null value columns when no
    * right row precedes it). Spark has no native as-of join; rather than an
    * O(n·m) inequality join, both sides union into one frame and the right
    * values carry forward with a per-key running `last(ignoreNulls)` — ONE
    * shuffle by key, sort within partitions, linear scan. A right row tied
    * with a left row's timestamp IS visible to it (`>=` semantics, matching
    * DuckDB's ASOF JOIN, which the oracle uses).
    *
    * `right` must be unique per (key, rightTs) — pre-aggregate duplicates
    * (e.g. `max_by`) or the carried value among ties is order-dependent.
    * Left column names and `rightVals` must not collide.
    */
  def asofJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, rightVals: Seq[String]): DataFrame = {
    val lCols = left.columns.toSeq
    require(rightVals.nonEmpty, "asofJoin needs at least one right value column")
    require(rightVals.intersect(lCols).isEmpty,
      s"right value columns ${rightVals.intersect(lCols).mkString(",")} collide with left columns")
    val l = left.select(
      col(leftTs).as("__t") +: lit(1).as("__side") +: lCols.map(col) ++:
        rightVals.map(c => lit(null).cast(right.schema(c).dataType).as(c)): _*)
    val r = right.select(
      col(rightTs).as("__t") +: lit(0).as("__side") +: col(key) +:
        lCols.filterNot(_ == key).map(c => lit(null).cast(left.schema(c).dataType).as(c)) ++:
        rightVals.map(col): _*)
    // side 0 < 1: a right row at the same timestamp sorts before the left
    // row, so the left row sees it
    val w = Window.partitionBy(col(key)).orderBy(col("__t"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = rightVals.foldLeft(l.unionByName(r)) { (acc, c) =>
      acc.withColumn(s"__carry_$c", last(col(c), ignoreNulls = true).over(w))
    }
    carried.where(col("__side") === 1)
      .select(lCols.map(col) ++ rightVals.map(c => col(s"__carry_$c").as(c)): _*)
  }

  /** A column by its literal name. Pivoted PV columns are named after the
    * PV, and an EPICS name with a record field (`13BMA:m1.VAL`) would read
    * as struct-field access through `col`.
    */
  private def named(name: String): Column = col("`" + name.replace("`", "``") + "`")

  /** J2/W1 — multi-series as-of alignment with LOCF (scripts/get_pvarch:122-192):
    * pivot the series onto the union of their timestamps, then carry each
    * series' last value forward; rows before every series has a value are
    * dropped, and the result is clipped to `[t0, t1)` *after* filling so
    * pre-window history seeds the carry.
    *
    * The pivot is a per-timestamp aggregation (one shuffle); the LOCF pass is
    * a running `last(ignoreNulls)` which for a plot-sized window (≤30k rows,
    * the reference's own cap) is fine as a single ordered frame. For
    * unbounded alignment at scale, range-chunk the window and seed each chunk
    * with [[valueAtTime]] at its start.
    */
  def locfAlign(
      df: DataFrame,
      key: String,
      ts: String,
      value: String,
      keys: Seq[String],
      t0: Long,
      t1: Long): DataFrame = {
    val grid = df
      .where(col(key).isin(keys: _*) && col(ts) < t1)
      .groupBy(col(ts))
      .pivot(key, keys)
      .agg(max(col(value)))
    val w = Window.orderBy(col(ts)).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = keys.foldLeft(grid) { (acc, k) =>
      acc.withColumn(k, last(named(k), ignoreNulls = true).over(w))
    }
    filled
      .where(col(ts) >= t0 && keys.map(k => named(k).isNotNull).reduce(_ && _))
      .orderBy(col(ts))
  }

  /** [[locfAlign]]'s scale path: the same alignment with the carry-forward
    * window PARTITIONED by fixed-width time chunks, so no single ordered
    * partition ever holds more than one chunk of the grid. Cross-chunk
    * carry comes from a two-level scan: per-chunk last non-null values
    * (map-side combinable `max_by`), a running `last(ignoreNulls)` over the
    * ONE-ROW-PER-CHUNK frame (control-plane-sized — its single-partition
    * window holds timeRange/chunkUs rows, never samples), and a broadcast
    * join of those seeds back to the grid. Output is identical to
    * [[locfAlign]], and the whole thing is ONE lazy plan — nothing executes
    * at construction, so the operator composes (plan audits, caching,
    * streaming `foreachBatch`) like any other transform.
    */
  def locfAlignChunked(
      df: DataFrame,
      key: String,
      ts: String,
      value: String,
      keys: Seq[String],
      t0: Long,
      t1: Long,
      chunkUs: Long): DataFrame = {
    val grid = df
      .where(col(key).isin(keys: _*) && col(ts) < t1)
      .groupBy(col(ts))
      .pivot(key, keys)
      .agg(max(col(value)))
      .withColumn("__chunk", expr(s"$ts DIV ${chunkUs}L"))
    // per-chunk last non-null value of each series
    val lastPerChunk = grid.groupBy(col("__chunk"))
      .agg(
        max_by(named(keys.head), when(named(keys.head).isNotNull, col(ts))).as(s"__last_${keys.head}"),
        keys.tail.map(k => max_by(named(k), when(named(k).isNotNull, col(ts))).as(s"__last_$k")): _*)
    // seed of chunk c = last non-null of any STRICTLY EARLIER chunk: a
    // running last(ignoreNulls) over rows (-inf, -1] of the per-chunk frame.
    // This global window runs over one row per chunk (control data), so the
    // WindowExec single-partition warning is benign here by construction.
    val wSeed = Window.orderBy(col("__chunk")).rowsBetween(Window.unboundedPreceding, -1)
    val seeds = lastPerChunk.select(
      col("__chunk") +:
        keys.map(k => last(named(s"__last_$k"), ignoreNulls = true).over(wSeed).as(s"__seed_$k")): _*)
    // within-chunk LOCF, seeded by the previous chunks' carry (null-safe
    // join key so a null-ts group keeps its seed row, like a plain window's
    // nulls-first order)
    val wChunk = Window.partitionBy(col("__chunk")).orderBy(col(ts))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val joined = grid.join(
      broadcast(seeds.withColumnRenamed("__chunk", "__schunk")),
      col("__chunk") <=> col("__schunk")).drop("__schunk")
    val filled = keys.foldLeft(joined) { (acc, k) =>
      acc.withColumn(k, coalesce(last(named(k), ignoreNulls = true).over(wChunk), named(s"__seed_$k")))
    }
    filled
      .where(col(ts) >= t0 && keys.map(k => named(k).isNotNull).reduce(_ && _))
      .select(col(ts) +: keys.map(named): _*)
      .orderBy(col(ts))
  }

  /** Distributed global row number over an ARBITRARY sort key — identical
    * output to `row_number().over(Window.orderBy(sortCols))` with ZERO
    * empty-partition windows in the plan ([[rfm]]'s and `negativeSample`'s
    * rank windows were the last data-sized global sorts on the surface).
    * It ranks on any orderable key, including low-cardinality metrics
    * where value-derived chunking degenerates to one chunk.
    *
    * Three-step plan, all distributed:
    *  1. `repartitionByRange(nParts, sortCols)` — partition boundaries are
    *     ordered by the sort key, so global order = (partition id asc,
    *     within-partition order). Equal metric values split across
    *     partitions by the tiebreak column, so skewed metrics (a Zipfian
    *     frequency column) still parallelize — the property no
    *     value-keyed chunking can give.
    *  2. per-partition `row_number()` windowed BY `spark_partition_id()`
    *     (never empty-partition), plus
    *  3. partition offsets = prefix sums of per-partition counts, computed
    *     by exploding each count row to every LATER partition id and
    *     summing — a map + one tiny groupBy over ≤ nParts² control rows,
    *     no window, no nested-loop join; attached back via broadcast hash
    *     join.
    *
    * The range-parted frame is persisted: the counts branch and the join
    * branch MUST observe identical partition boundaries (range sampling is
    * seeded per RDD instance — two independent executions may split
    * differently, which would misalign offsets). The persist is lazy, so
    * plan construction still runs no job (PlanAuditSpec contract). Ranks
    * themselves are boundary-independent — any consistent split yields the
    * same global numbering when the full sort key is unique (callers pass
    * a tiebreak column).
    *
    * The persist must NOT be unpersisted inside this call: the returned
    * frame is lazy, and unpersisting before (or between) its evaluations
    * would let the two branches recompute the range shuffle independently
    * — silently misaligned offsets, a correctness break, not a perf one.
    * It therefore registers in [[registerCallScopedPersist]]'s queue;
    * harnesses call [[releaseCallScopedPersists]] at points where every
    * frame built since the last release is dead (Bench after each query's
    * timed runs, Verify after each query's parquet dump) so a long-lived
    * session does not pin one users-sized frame per call forever.
    *
    * Nulls: range partitioning and window ordering both place nulls first
    * ascending — consistent with a plain global window's default.
    */
  def rowNumberRanged(
      df: DataFrame,
      outCol: String,
      nParts: Int,
      sortCols: Column*): DataFrame = {
    require(nParts >= 1, s"nParts must be >= 1, got $nParts")
    val parted = df.repartitionByRange(nParts, sortCols: _*)
      .withColumn("__pid", spark_partition_id())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    registerCallScopedPersist(parted)
    val counts = parted.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
    // prefix sum without a window: each partition's count contributes to
    // every LATER partition's offset (sequence() reverses when start > stop,
    // so last-partition rows are filtered BEFORE the explode)
    val offsets = counts
      .where(col("__pid") < nParts - 1)
      .select(explode(sequence(col("__pid") + 1, lit(nParts - 1))).as("__pid"),
        col("__cnt"))
      .groupBy(col("__pid")).agg(sum(col("__cnt")).as("__off"))
    val wIn = Window.partitionBy(col("__pid")).orderBy(sortCols: _*)
    parted
      .join(broadcast(offsets), Seq("__pid"), "left_outer")
      .withColumn(outCol,
        row_number().over(wIn).cast("long") + coalesce(col("__off"), lit(0L)))
      .drop("__pid", "__off")
  }

  /** Q1 `cull_data` (web_utils.py:131-161): one plot-decimation pass. It
    * keeps every `sample`-th row in `(ts, tieBreak)` order, plus every row
    * whose value lies outside the `[percent, 100-percent]` percentile band,
    * so extremes survive. The plan and semantics are [[decimateToCap]]'s,
    * with exactly one pass.
    */
  def decimate(
      df: DataFrame,
      ts: String,
      tieBreak: String,
      value: String,
      sample: Int,
      percent: Double): DataFrame =
    decimateToCap(df, ts, tieBreak, value, cap = -1L, sample, percent, maxIters = 1)

  /** Q1 plot loop (webapp.py:396-401): repeat the [[decimate]] pass until
    * the series fits the plot cap (reference: 30000 points, sample=3,
    * percent=15). The loop stops after `maxIters` passes, or as soon as a
    * pass stops shrinking the series (every survivor is an outlier). A
    * frame already at or under the cap comes back with all its rows.
    *
    * Plan: one exchange to a single partition, Spark's sort on
    * `(ts, tieBreak)`, and one task that buffers the frame and runs every
    * pass. The result is that one partition, in `(ts, tieBreak)` order,
    * with the input schema. Building the frame runs no job, and nothing
    * is persisted.
    *
    * Memory: the task holds the whole frame. That is no new limit: Spark's
    * exact `percentile` already merges every distinct value of the frame
    * in one final-aggregate task, and the reference culls a whole series
    * in memory. Cull one plotted series (a bounded `getData` window), not
    * an archive.
    *
    * Semantics, as Spark SQL would compute them:
    *  - the band is Spark's exact `percentile` of the non-null values,
    *    linear interpolation at `(n-1)·p`, taken over the WHOLE frame, so
    *    a multi-series frame shares one band;
    *  - `value` is any numeric column, compared as a double; a null is
    *    never an outlier, NaN sorts above every number (an outlier above
    *    `hi` unless `hi` is NaN), and -0.0 equals 0.0.
    */
  def decimateToCap(
      df: DataFrame,
      ts: String,
      tieBreak: String,
      value: String,
      cap: Long = 30000L,
      sample: Int = 3,
      percent: Double = 15.0,
      maxIters: Int = 16): DataFrame = {
    require(sample >= 1, s"sample must be positive, got $sample")
    val vi = df.schema.fieldIndex(value)
    df.repartition(1)
      .sortWithinPartitions(col(ts), col(tieBreak))
      .mapPartitions { it =>
        def v(r: Row) = r.getAs[Number](vi).doubleValue
        var rows = it.toArray
        var (passes, shrank) = (0, true)
        while (shrank && rows.length > cap && passes < maxIters) {
          val xs = rows.collect { case r if !r.isNullAt(vi) => v(r) }
          java.util.Arrays.sort(xs)
          // evaluated only for a non-null value, so `xs` is not empty
          lazy val (lo, hi) = (exactPercentile(xs, percent / 100.0), exactPercentile(xs, (100.0 - percent) / 100.0))
          val next = rows.zipWithIndex.collect {
            case (r, k) if k % sample == 0 ||
                !r.isNullAt(vi) && (sqlCompare(v(r), lo) < 0 || sqlCompare(v(r), hi) > 0) => r
          }
          shrank = next.length < rows.length
          rows = next
          passes += 1
        }
        rows.iterator
      }(Encoders.row(df.schema))
  }

  /** Spark SQL's double comparison: -0.0 equals 0.0, and NaN equals NaN and
    * sorts above every number (Java's `<` and `>` are false on NaN). */
  private[operators] def sqlCompare(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** Spark's exact `percentile` over non-empty `sorted` (ascending, NaN
    * last): linear interpolation at position `(n-1)·p`, in Spark's own
    * arithmetic so the result is bit-identical. */
  private[graft] def exactPercentile(sorted: Array[Double], p: Double): Double = {
    val pos = (sorted.length - 1).toLong * p
    val (lower, higher) = (pos.floor.toLong, pos.ceil.toLong)
    val a = sorted(lower.toInt)
    val b = sorted(higher.toInt)
    if (lower == higher || a == b) a else (higher - pos) * a + (pos - lower) * b
  }

  /** W3 — batch twin of the T2 deadtime/deadband downsampler
    * (archiver.py:389-398): keep a row when it is the first of its key, or
    * arrives more than `deadtime` after the previous row, or moves more than
    * `deadband` from the previous value. `lag` over a per-key window — one
    * shuffle on the key, codegen'd comparison.
    *
    * Note this is the row-vs-previous-row formulation (exactly the W3 batch
    * replay); the emit-vs-last-*emitted* streaming semantics (with the limbo
    * buffer) live in [[graft.streaming.Downsampler]].
    */
  def downsampleBatch(
      df: DataFrame,
      key: String,
      ts: String,
      tieBreak: String,
      value: String,
      deadtimeUs: Long,
      deadband: Double): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col(ts), col(tieBreak))
    // deadtime AND deadband, like the reference (archiver.py:389-398 sets
    // do_save by the time test, then for doubles re-ANDs the band test) and
    // this repo's streaming Downsampler
    df.withColumn("__pts", lag(col(ts), 1).over(w))
      .withColumn("__pv", lag(col(value), 1).over(w))
      .where(
        col("__pts").isNull ||
          ((col(ts) - col("__pts")) > deadtimeUs &&
            abs(col(value) - col("__pv")) > deadband))
      .drop("__pts", "__pv")
  }

  /** J5 `dbs_for_time` (archiver.py:104-110) generalized: derive fixed-width
    * "runs" (time partitions) from the data and keep those overlapping
    * `[q0, q1]`. With a real partitioned store this is Catalyst partition
    * pruning; as a query it is the interval-overlap join predicate.
    */
  def runsOverlapping(df: DataFrame, ts: String, widthUs: Long, q0: Long, q1: Long): DataFrame =
    // integer (DIV) not floating division: epoch-micros quotients must be exact
    df.groupBy(expr(s"$ts DIV ${widthUs}L").as("run_id"))
      .agg(min(col(ts)).as("start_us"), max(col(ts)).as("stop_us"), count(lit(1)).as("n"))
      .where(col("stop_us") >= q0 && col("start_us") <= q1)
      .orderBy(col("run_id"))

  /** Per-key fixed-width time-bucket OHLC rollup — the hourly/daily report
    * shape behind the reference's plot and status pages (first/last/min/max
    * per PV per interval; web_utils.py time-binned summaries). Same-timestamp
    * duplicates collapse to their max first, so open/close are deterministic
    * (`min_by`/`max_by` ties cannot arise once `(key, ts)` is unique).
    *
    * Scale shape: two map-side-combinable aggregations, both keyed on the
    * series key (the second adds the bucket), so per-task state is one
    * partial row per (key, bucket) — never the samples. No windows, no
    * joins; at 100 TB this is the textbook reduce-side rollup and the
    * bucket count bounds the output, not the input.
    */
  def bucketRollup(df: DataFrame, key: String, ts: String, value: String,
      widthUs: Long): DataFrame = {
    require(widthUs > 0, s"widthUs must be positive, got $widthUs")
    val s = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    s.groupBy(col(key), expr(s"$ts DIV ${widthUs}L").as("bucket"))
      .agg(
        min_by(col("__v"), col(ts)).as("open"),
        max(col("__v")).as("high"),
        min(col("__v")).as("low"),
        max_by(col("__v"), col(ts)).as("close"),
        count(lit(1)).as("n"),
        fixedPointMean6(col("__v")).as("mean"))
  }

  /** Per-key fixed-range value histogram: `bins` equal-width bins over
    * `[lo, hi]`, out-of-range values clamped into the edge bins (a PV
    * briefly railing past its display limits still shows up, like the
    * reference's plot clipping). Null values are dropped. Returns one row
    * per NON-EMPTY (key, bin) — dense zero-filled axes are presentation,
    * not data (web_utils.py leaves that to the plot layer too).
    *
    * ONE map-side-combinable aggregation; the bin arithmetic is a codegen'd
    * scalar expression so the scan never materializes an intermediate.
    */
  def histogram(df: DataFrame, key: String, value: String,
      lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"empty range: hi $hi <= lo $lo")
    val w = (hi - lo) / bins
    val bin = least(greatest(floor((col(value).cast("double") - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    df.where(col(value).isNotNull)
      .groupBy(col(key), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * w, 6))
  }

  /** Per-key centered rolling-MEDIAN filter with a spike flag — the classic
    * despiking cleanup for noisy PVs (a median shrugs off outliers where a
    * moving mean chases them): each sample reports the exact interpolated
    * median of the `2*halfWindow + 1` surrounding samples (frame shrinks at
    * the series edges) and whether it deviates from that median by more
    * than `spikeThresh`. Duplicate instants collapse to their max first.
    *
    * One key-partitioned ROWS window; per-task state is the frame's
    * samples for its keys, never the corpus. The spike test uses the
    * 6-dp-rounded median on both engines so the flag is hash-stable.
    */
  def medianFilter(df: DataFrame, key: String, ts: String, value: String,
      halfWindow: Int, spikeThresh: Double): DataFrame = {
    require(halfWindow >= 1, s"halfWindow must be >= 1, got $halfWindow")
    require(spikeThresh > 0, s"spikeThresh must be positive, got $spikeThresh")
    val s = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
      .rowsBetween(-halfWindow, halfWindow)
    val med = round(expr("percentile(__v, 0.5D)").over(w), 6)
    s.select(col(key), col(ts), col("__v").as("value"),
      med.as("median"),
      (abs(col("__v") - med) > spikeThresh).as("is_spike"))
  }

  /** Time-bucket × value-bin occupancy counts — the waterfall/heatmap frame
    * behind long-horizon PV plots (how a value distribution drifts over
    * days). The composition of [[bucketRollup]]'s time axis with
    * [[histogram]]'s clamped value bins: one row per non-empty
    * `(key, bucket, bin)` cell. ONE map-side-combinable aggregation, no
    * windows; output bounded by buckets × bins per key.
    */
  def heatmap(df: DataFrame, key: String, ts: String, value: String,
      widthUs: Long, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(widthUs > 0, s"widthUs must be positive, got $widthUs")
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"empty range: hi $hi <= lo $lo")
    val w = (hi - lo) / bins
    val bin = least(greatest(floor((col(value).cast("double") - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    df.where(col(value).isNotNull)
      .groupBy(col(key), expr(s"$ts DIV ${widthUs}L").as("bucket"), bin.as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("bin_lo", round(lit(lo) + col("bin") * w, 6))
  }

  /** Per-key sample-to-sample delta and rate of change (the numeric
    * derivative behind "how fast is this PV moving" monitoring). Duplicate
    * timestamps collapse to their max first; each survivor reports the
    * difference from its predecessor and the per-second rate. The first
    * sample of a key has no predecessor (null delta/dt/rate).
    *
    * One key-partitioned `lag` window after the dedup shuffle — per-task
    * state is a single previous row per key.
    */
  def deltaRate(df: DataFrame, key: String, ts: String, value: String): DataFrame = {
    val s = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    s.select(col(key), col(ts), col("__v"),
        (col("__v") - lag(col("__v"), 1).over(w)).as("__d"),
        (col(ts) - lag(col(ts), 1).over(w)).as("dt_us"))
      .select(col(key), col(ts), col("__v").as("value"),
        round(col("__d"), 6).as("delta"),
        col("dt_us"),
        when(col("dt_us") > 0, round(col("__d") / (col("dt_us") / 1.0e6), 6))
          .as("rate_per_sec"))
  }

  /** Per-key exponentially-weighted moving average (the classic control-room
    * smoothing filter): `s_1 = v_1`, `s_i = (1-alpha)*s_{i-1} + alpha*v_i`
    * over time order. Duplicate timestamps collapse to their max first so
    * the fold order is total.
    *
    * The recurrence is inherently sequential PER KEY: the batch
    * [[graft.streaming.KeyedFold]] over the same fold as the streaming twin
    * ([[graft.streaming.Smoothing.streaming]]), so a 100 TB corpus folds as
    * width(keys) parallel linear scans with O(1) state per key.
    * Cross-engine determinism: the fold applies the exact double expression
    * `(1-alpha)*s + alpha*v` in the exact same order as the oracle's
    * `list_reduce`, so the `ewma` doubles are bit-identical — returned
    * UNROUNDED (a dyadic alpha lands many values exactly on decimal rounding
    * half-points, where engines' round() disagree; quantize with
    * floor(x*1e6)/1e6 if a fixed-decimal compare is needed).
    */
  def ewma(df: DataFrame, key: String, ts: String, value: String,
      alpha: Double): DataFrame =
    foldPoints(df, key, ts, value, new Smoothing.EwmaFold(alpha))
      .toDF(key, ts, "value", "ewma")

  /** Runs a [[Smoothing]] fold as its batch twin: null keys dropped (they
    * carry no identity to fold under), duplicate instants collapsed to their
    * max, then [[graft.streaming.KeyedFold.batch]] on the key.
    */
  private def foldPoints[S, O <: Product: TypeTag](df: DataFrame, key: String, ts: String,
      value: String, fold: KeyedFold[String, Smoothing.Point, S, O]): Dataset[O] = {
    val spark = df.sparkSession
    import spark.implicits._
    val points = df.where(col(key).isNotNull)
      .groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
      .select(col(key).cast("string").as("pvname"), col(ts).cast("long").as("tsUs"),
        col("__v").as("value"))
      .as[Smoothing.Point]
    KeyedFold.batch(points, fold, (p: Smoothing.Point) => p.pvname, "pvname", "tsUs")
  }

  /** Per-key TIME-WEIGHTED average over `[t0, t1)` — the canonical archiver
    * aggregate for irregularly-sampled PVs (a value "counts" for as long as
    * it was current, LOCF weighting): each sample carries its value until
    * the next sample or the window end, and the pre-window LOCF seed
    * (W2's one-point-before, archiver.py:131-223) anchors the span from
    * `t0` to the first in-window sample. A plain `avg` over-weights bursts;
    * this is the mean a strip-chart integral gives. Keys whose coverage
    * starts inside the window (no seed) normalize by COVERED time, not the
    * full window. Returns `(key, twa, covered_us, n)`.
    *
    * Plan shape: bounded pre-window argmax (map-side combinable) union the
    * in-window dedupe, one per-key `lead` window for segment widths, one
    * final rollup — every shuffle on the key, output one row per key.
    */
  def timeWeightedAvg(df: DataFrame, key: String, ts: String, value: String,
      t0: Long, t1: Long): DataFrame = {
    require(t1 > t0, s"empty window: t1 $t1 <= t0 $t0")
    // LOCF seed: the latest strictly-pre-window sample, carried to t0. A
    // real sample AT t0 wins over the seed (flag-based argmax).
    val seed = df.where(col(ts) < t0)
      .groupBy(col(key))
      .agg(max_by(col(value), col(ts)).cast("double").as("__v"))
      .select(col(key), lit(t0).as(ts), col("__v"), lit(0).as("__fl"))
    val inWin = df.where(col(ts) >= t0 && col(ts) < t1)
      .groupBy(col(key), col(ts))
      .agg(max(col(value)).cast("double").as("__v"))
      .select(col(key), col(ts), col("__v"), lit(1).as("__fl"))
    val pts = inWin.unionByName(seed)
      .groupBy(col(key), col(ts))
      .agg(max_by(col("__v"), col("__fl")).as("__v"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val seg = pts.withColumn("__w",
      coalesce(lead(col(ts), 1).over(w), lit(t1)) - col(ts))
    // order-independent: v on the 1e-3 grid × exact micros weights — the
    // segment weights PARTITION the window, so Σ qv·w ≤ max|qv| · (t1−t0);
    // bound: max|v| · 1e3 · windowUs < 2^63 (~9e6 value-units on a 1-day
    // window). One double division chain at the end, mirrored by the oracle.
    seg.groupBy(col(key))
      .agg(
        round(sum(FixedPoint.q(col("__v"), 1000.0) * col("__w")).cast("double") /
          lit(1000.0) / sum(col("__w")).cast("double"), 6).as("twa"),
        sum(col("__w")).as("covered_us"),
        count(lit(1)).as("n"))
  }

  /** Per-key downtime/gap report — every interval between consecutive
    * samples longer than `minGapUs` (the beam-downtime complement of
    * [[sessionize]]: sessions are where data IS, this lists where it
    * ISN'T). One key-partitioned `lag` after the dedupe shuffle; output is
    * gaps only, bounded by the outage count.
    */
  def gaps(df: DataFrame, key: String, ts: String, minGapUs: Long): DataFrame = {
    require(minGapUs > 0, s"minGapUs must be positive, got $minGapUs")
    val s = df.groupBy(col(key), col(ts)).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    s.select(col(key), lag(col(ts), 1).over(w).as("gap_start"), col(ts).as("gap_end"))
      .where(col("gap_start").isNotNull &&
        (col("gap_end") - col("gap_start")) > minGapUs)
      .select(col(key), col("gap_start"), col("gap_end"),
        (col("gap_end") - col("gap_start")).as("gap_us"))
  }

  /** Per-key per-time-bucket percentile BANDS (p10/p50/p90 by default) —
    * the ribbon-plot frame ("show me the envelope of this PV per day").
    * Exact interpolated percentiles (`percentile` == `quantile_cont`), one
    * map-side-combinable aggregation, output bounded by buckets × keys.
    */
  def percentileBands(df: DataFrame, key: String, ts: String, value: String,
      widthUs: Long, ps: Seq[Double] = Seq(0.1, 0.5, 0.9)): DataFrame = {
    require(widthUs > 0, s"widthUs must be positive, got $widthUs")
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1), s"bad percentiles: $ps")
    val arr = ps.map(p => s"${p}D").mkString("array(", ", ", ")")
    val qs = df.where(col(value).isNotNull)
      .groupBy(col(key), expr(s"$ts DIV ${widthUs}L").as("bucket"))
      .agg(count(lit(1)).as("n"),
        expr(s"percentile(CAST($value AS DOUBLE), $arr)").as("__q"))
    ps.zipWithIndex.foldLeft(qs) { case (acc, (p, i)) =>
      acc.withColumn(s"p${(p * 100).round}", round(col("__q").getItem(i), 6))
    }.drop("__q")
  }

  /** Per-key autocorrelation at lags `1..maxLag` (sample-index lags over
    * the deduped series) — the periodicity/inertia probe: for each lag,
    * the Pearson correlation between the series and its lag-shifted self
    * over the overlapping rows. Explicit-sum formula like
    * [[correlationMatrix]], so both engines assemble identical arithmetic;
    * a lag with fewer than 2 overlapping pairs (or a constant slice)
    * yields null.
    *
    * ONE key window produces every lag column, ONE combinable aggregation
    * collects all 6·maxLag conditional sums, and the per-lag rows explode
    * from the one result row per key — no joins, no repeated scans.
    */
  def autocorrelation(df: DataFrame, key: String, ts: String, value: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1, got $maxLag")
    val lags = 1 to maxLag
    val s = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val lagged = lags.foldLeft(s) { (acc, l) =>
      acc.withColumn(s"__l$l", lag(col("__v"), l).over(w))
    }
    val sums = lagged.groupBy(col(key)).agg(
      count(lit(1)).as("__rows"),
      lags.flatMap { l =>
        val ok = col(s"__l$l").isNotNull
        Seq(
          count(when(ok, 1)).cast("double").as(s"__n$l"),
          sum(when(ok, col("__v"))).as(s"__sx$l"),
          sum(when(ok, col("__v") * col("__v"))).as(s"__sxx$l"),
          sum(when(ok, col(s"__l$l"))).as(s"__sy$l"),
          sum(when(ok, col(s"__l$l") * col(s"__l$l"))).as(s"__syy$l"),
          sum(when(ok, col("__v") * col(s"__l$l"))).as(s"__sxy$l"))
      }: _*)
    val rows = lags.map { l =>
      val n = col(s"__n$l")
      val num = n * col(s"__sxy$l") - col(s"__sx$l") * col(s"__sy$l")
      val den = sqrt(n * col(s"__sxx$l") - col(s"__sx$l") * col(s"__sx$l")) *
        sqrt(n * col(s"__syy$l") - col(s"__sy$l") * col(s"__sy$l"))
      struct(lit(l).cast("long").as("lag"), n.cast("long").as("n"),
        when(n >= 2 && den > 0, round(num / den, 6)).as("acf"))
    }
    sums.select(col(key), explode(array(rows: _*)).as("p"))
      .select(col(key), col("p.lag").as("lag"), col("p.n").as("n"),
        col("p.acf").as("acf"))
  }

  /** Per-key per-window ingest throttle — keep at most `perWindow` samples
    * of each key in each fixed `windowUs` bucket (the storage-QoS guard in
    * front of a misbehaving 10 kHz PV; the reference bounds rates per-PV
    * via deadtime, this is the hard cap flavor). Deterministic survivor
    * choice: the FIRST `perWindow` by `(ts, tieBreak)`.
    *
    * One key+bucket-partitioned `row_number` — state per task is a counter
    * per (key, bucket), the filter is codegen'd, survivors keep their
    * original columns.
    */
  def throttle(df: DataFrame, key: String, ts: String, tieBreak: String,
      windowUs: Long, perWindow: Int): DataFrame = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(perWindow >= 1, s"perWindow must be >= 1, got $perWindow")
    val w = Window.partitionBy(col(key), expr(s"$ts DIV ${windowUs}L"))
      .orderBy(col(ts), col(tieBreak))
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") <= perWindow)
      .drop("__rn")
  }

  /** Per-key flatline/staleness report — the stuck-sensor detector: a PV
    * that keeps timestamping the SAME value is alive-but-frozen (the
    * liveness check Q8 can't see it). Runs of identical consecutive values
    * come from the classic change-flag running sum; the report gives the
    * longest flat run (ties -> earliest start), its value, the tail-run
    * length still in progress, and the time since the last CHANGE.
    * Duplicate instants collapse to their max first.
    *
    * Two key windows (change flag + running run-id) share one sort, then
    * two combinable rollups (per-run, per-key) — state is never more than
    * a task's runs.
    */
  def flatline(df: DataFrame, key: String, ts: String, value: String): DataFrame = {
    val s = df.groupBy(col(key), col(ts)).agg(max(col(value)).cast("double").as("__v"))
    val w = Window.partitionBy(col(key)).orderBy(col(ts))
    val chg = when(lag(col("__v"), 1).over(w).isNull ||
      col("__v") =!= lag(col("__v"), 1).over(w), 1L).otherwise(0L)
    val runs = s.withColumn("__run",
        sum(chg).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(key), col("__run"))
      .agg(count(lit(1)).as("__len"), min(col(ts)).as("__start"),
        max(col(ts)).as("__end"), max(col("__v")).as("__rv")) // run values all equal
    runs.groupBy(col(key))
      .agg(
        sum(col("__len")).as("n_samples"),
        max(struct(col("__len").as("len"), (-col("__start")).as("ns"),
          col("__rv").as("v"))).as("__top"),
        max_by(col("__len"), col("__run")).as("tail_run"),
        max(col("__start")).as("__last_chg"),
        max(col("__end")).as("__last_ts"))
      .select(col(key), col("n_samples"),
        col("__top.len").as("longest_flat"),
        col("__top.v").as("flat_value"),
        col("tail_run"),
        (col("__last_ts") - col("__last_chg")).as("stale_us"))
  }

  /** Per-key two-sided CUSUM change detection — the sequential
    * control-chart fold (Page's test): against a `target` setpoint with
    * `slack` allowance, `s_pos` accumulates upward drift
    * (`max(0, s + (v - target - slack))`), `s_neg` downward
    * (`min(0, s + (v - target + slack))`), and a sample alarms when either
    * exceeds `h`. Catches slow drifts a z-score threshold misses.
    * Duplicate instants collapse to their max first.
    *
    * Sequential per key like [[ewma]], and the same shape: the batch
    * [[graft.streaming.KeyedFold]] over the fold its streaming twin
    * ([[graft.streaming.Smoothing.cusumStreaming]]) runs. Both accumulators
    * are returned unrounded (bit-identical to the oracle's prefix folds;
    * floor-quantize for fixed-decimal compares).
    */
  def cusum(df: DataFrame, key: String, ts: String, value: String,
      target: Double, slack: Double, h: Double): DataFrame =
    foldPoints(df, key, ts, value, new Smoothing.CusumFold(target, slack, h))
      .toDF(key, ts, "value", "s_pos", "s_neg", "alarm")

  /** Spearman rank-correlation matrix over a LOCF-aligned frame — the
    * outlier-robust companion to [[correlationMatrix]] (monotone
    * association, not linear): each column becomes its AVERAGE rank
    * (`min_rank + (ties-1)/2`, exact halves), then Pearson on the ranks
    * via the shared explicit-sum pass. Rank windows are global per column,
    * so this is for plot-sized aligned frames (the [[locfAlign]] contract);
    * the rank arithmetic is integer-exact, making the matrix
    * engine-portable where raw-value ranking noise would not be.
    */
  def spearmanMatrix(aligned: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.size >= 2, s"need at least 2 series, got ${keys.size}")
    val ranked = keys.foldLeft(aligned) { (acc, k) =>
      val wr = Window.orderBy(named(k))
      val wt = Window.partitionBy(named(k))
      acc.withColumn(k,
        rank().over(wr).cast("double") + (count(lit(1)).over(wt) - 1) / 2.0)
    }
    // average ranks are exact halves: the 0.5 grid doubles them into exact
    // integers with the tightest overflow bound (n·(2n)² < 2^63)
    correlationMatrix(ranked.select(keys.map(named): _*), keys, quantum = 0.5)
  }

  /** Per-key hour-of-day × day-of-week seasonal profile — "what does this
    * PV normally do at 3am on a Sunday", the baseline behind
    * calendar-aware alarming. Pure INTEGER calendar arithmetic on epoch
    * micros (UTC; the epoch is a Thursday, hence the +4), identical in any
    * engine — no timezone library in the hash path. ONE combinable
    * aggregation; output bounded by 168 cells per key.
    */
  def seasonalProfile(df: DataFrame, key: String, ts: String, value: String): DataFrame =
    df.groupBy(col(key),
        (expr(s"$ts DIV 3600000000L") % 24).as("hour"),
        ((expr(s"$ts DIV 86400000000L") + 4) % 7).as("dow"))
      .agg(count(lit(1)).as("n"), fixedPointMean6(col(value)).as("mean"))

  /** Per-key population-stability index (PSI) between the two halves of a
    * time split — the standard "has this distribution drifted" score
    * (PSI < 0.1 stable, > 0.25 action): both periods histogram onto the
    * SAME fixed `[lo, hi]` × `bins` grid ([[histogram]]'s clamp), counts
    * Laplace-smooth by half a count per bin (so empty cells don't blow up
    * the log), and `psi = Σ (p1 - p2) · ln(p1 / p2)`. Two combinable
    * count aggregations + a bins-sized join; output one row per key.
    */
  def psiDrift(df: DataFrame, key: String, ts: String, value: String,
      tSplit: Long, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"empty range: hi $hi <= lo $lo")
    val w = (hi - lo) / bins
    val bin = least(greatest(floor((col(value).cast("double") - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    def side(pred: Column, n: String) = df.where(col(value).isNotNull && pred)
      .groupBy(col(key), bin.as("bin")).agg(count(lit(1)).as(n))
    val joined = side(col(ts) < tSplit, "n1")
      .join(side(col(ts) >= tSplit, "n2"), Seq(key, "bin"), "full_outer")
      .select(col(key), coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val tot = joined.groupBy(col(key))
      .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
        count(lit(1)).as("cells"))
    joined.join(tot, Seq(key))
      .select(col(key),
        ((col("n1") + 0.5) / (col("t1") + lit(0.5) * col("cells"))).as("p1"),
        ((col("n2") + 0.5) / (col("t2") + lit(0.5) * col("cells"))).as("p2"))
      .groupBy(col(key))
      .agg(round(sum((col("p1") - col("p2")) * log(col("p1") / col("p2"))), 6).as("psi"))
  }

  /** Lead–lag cross-correlation between two series — "does PV A move
    * BEFORE PV B, and by how much": both series average onto a shared
    * `bucketUs` grid (6-dp rounded, so shuffle-order float noise dies at
    * the bucket boundary), then every lag in `[-maxLag, maxLag]` buckets
    * correlates `x_t` against `y_{t+lag}` over the overlapping buckets —
    * the argmax row of the output is the transport/causality delay
    * detectors read (beam current leads vacuum pressure by N seconds, a
    * click burst leads a purchase burst by one hour).
    *
    * Pearson per lag comes from the explicit-sum formula over ONE keyed
    * aggregation (the [[correlationMatrix]] determinism convention). Plan
    * shape: two bucket aggregations (map-side combinable, buckets-sized
    * output), one small explode (×(2·maxLag+1)) of the ALREADY-AGGREGATED
    * second series, one join on the bucket key, one `(lag)` aggregation —
    * the raw stream is never joined or exploded; everything past the first
    * agg is buckets-sized. Output: `(lag, n, corr)` for every lag, `corr`
    * null when a side is constant (or `n < 2`) at that lag.
    */
  /** 6-dp bucket mean as ORDER-INDEPENDENT fixed point (see
    * [[FixedPoint]]): sf0.1 q_dtw caught a real 1-unit-at-6dp divergence
    * between Spark's partial-agg order and DuckDB's sequential order.
    * Bounded by |v| ≤ ~9e9 · rows per group at this quantum.
    */
  private def fixedPointMean6(v: Column): Column = FixedPoint.mean6(v)

  def leadLagCorr(df: DataFrame, key: String, ts: String, value: String,
      k1: String, k2: String, bucketUs: Long, maxLag: Int): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    require(maxLag >= 0, s"maxLag must be >= 0, got $maxLag")
    def series(k: String) = df
      .where(col(key) === k && col(value).isNotNull)
      .groupBy(expr(s"$ts DIV $bucketUs").as("bucket"))
      .agg(fixedPointMean6(col(value)).as("v"))
    val a = series(k1)
    val bExp = series(k2)
      .select(col("bucket"), col("v").as("w"))
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .select((col("bucket") - col("lag")).as("bucket"), col("lag"), col("w"))
    a.join(bExp, Seq("bucket"))
      .groupBy(col("lag").cast("long").as("lag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("__sx"), sum(col("w")).as("__sy"),
        sum(col("v") * col("v")).as("__sxx"), sum(col("w") * col("w")).as("__syy"),
        sum(col("v") * col("w")).as("__sxy"))
      .select(col("lag"), col("n"),
        when(col("n") >= 2 &&
            (col("n") * col("__sxx") - col("__sx") * col("__sx")) > 0 &&
            (col("n") * col("__syy") - col("__sy") * col("__sy")) > 0,
          round((col("n") * col("__sxy") - col("__sx") * col("__sy")) /
            sqrt((col("n") * col("__sxx") - col("__sx") * col("__sx")) *
              (col("n") * col("__syy") - col("__sy") * col("__sy"))), 6))
          .as("corr"))
  }

  /** Per-key two-sample Kolmogorov–Smirnov statistic between the two halves
    * of a time split — the nonparametric companion to [[psiDrift]] (PSI
    * reads density ratios, KS reads the worst-case CDF gap; together they
    * catch both tail-mass and location drift). Both periods histogram onto
    * the SAME fixed `[lo, hi]` × `bins` grid and the statistic is the max
    * absolute ECDF difference over bin boundaries — the binned KS every
    * large-scale drift monitor actually computes (the unbinned statistic
    * needs a global per-key sort; the binned one needs `bins` cells).
    *
    * Plan shape: ONE combinable count aggregation over `(key, bin)` (both
    * sides via conditional counts in the same pass — the split predicate is
    * a filter, not a second scan), then a cumulative window over at most
    * `bins` rows per key — bounded state per key regardless of data size.
    * Output one row per key: `(key, n1, n2, ks)`.
    */
  def ksDrift(df: DataFrame, key: String, ts: String, value: String,
      tSplit: Long, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"empty range: hi $hi <= lo $lo")
    val w = (hi - lo) / bins
    val bin = least(greatest(floor((col(value).cast("double") - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    val counts = df.where(col(value).isNotNull)
      .groupBy(col(key), bin.as("bin"))
      .agg(count(when(col(ts) < tSplit, lit(1))).as("n1"),
        count(when(col(ts) >= tSplit, lit(1))).as("n2"))
    val cum = Window.partitionBy(col(key)).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col(key))
    counts
      .withColumn("__c1", sum(col("n1")).over(cum))
      .withColumn("__c2", sum(col("n2")).over(cum))
      .withColumn("__t1", sum(col("n1")).over(tot))
      .withColumn("__t2", sum(col("n2")).over(tot))
      .where(col("__t1") > 0 && col("__t2") > 0)
      .groupBy(col(key))
      .agg(max(col("__t1")).as("n1"), max(col("__t2")).as("n2"),
        round(max(abs(col("__c1") / col("__t1") - col("__c2") / col("__t2"))), 6).as("ks"))
  }

  /** [[psiDrift]] and [[ksDrift]] side by side from ONE histogram pass —
    * the drift-panel composition. Joining the two operators scans the
    * input three times (PSI sides twice, KS once) for aggregations over
    * the IDENTICAL `(key, bin)` grid; here one conditional-count
    * aggregation feeds both statistics (the cell set is the same by
    * construction: bins with at least one sided non-null row), so the
    * output matches `psiDrift ⋈ ksDrift` exactly while the corpus moves
    * once. Output one row per key present on both sides:
    * `(key, psi, n1, n2, ks)`.
    */
  def driftPanel(df: DataFrame, key: String, ts: String, value: String,
      tSplit: Long, lo: Double, hi: Double, bins: Int): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"empty range: hi $hi <= lo $lo")
    val w = (hi - lo) / bins
    val bin = least(greatest(floor((col(value).cast("double") - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    val counts = df
      .where(col(value).isNotNull &&
        (col(ts) < tSplit || col(ts) >= tSplit)) // ts non-null: PSI cell set
      .groupBy(col(key), bin.as("bin"))
      .agg(count(when(col(ts) < tSplit, lit(1))).as("n1"),
        count(when(col(ts) >= tSplit, lit(1))).as("n2"))
      .persist()
    try {
      val tot = counts.groupBy(col(key))
        .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
          count(lit(1)).as("cells"))
      val psi = counts.join(tot, Seq(key))
        .select(col(key),
          ((col("n1") + 0.5) / (col("t1") + lit(0.5) * col("cells"))).as("p1"),
          ((col("n2") + 0.5) / (col("t2") + lit(0.5) * col("cells"))).as("p2"))
        .groupBy(col(key))
        .agg(round(sum((col("p1") - col("p2")) * log(col("p1") / col("p2"))), 6).as("psi"))
      val cum = Window.partitionBy(col(key)).orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val totW = Window.partitionBy(col(key))
      val ks = counts
        .withColumn("__c1", sum(col("n1")).over(cum))
        .withColumn("__c2", sum(col("n2")).over(cum))
        .withColumn("__t1", sum(col("n1")).over(totW))
        .withColumn("__t2", sum(col("n2")).over(totW))
        .where(col("__t1") > 0 && col("__t2") > 0)
        .groupBy(col(key))
        .agg(max(col("__t1")).as("n1"), max(col("__t2")).as("n2"),
          round(max(abs(col("__c1") / col("__t1") - col("__c2") / col("__t2"))), 6).as("ks"))
      psi.join(ks, Seq(key)).localCheckpoint() // lets the counts cache go
    } finally counts.unpersist(blocking = false)
  }

  /** Pearson correlation matrix between LOCF-aligned series — "do these PVs
    * move together" over a shared time grid (feed it [[locfAlign]] /
    * [[locfAlignChunked]] output, or any wide frame of numeric columns).
    * Returns one row per unordered pair `(k1, k2, n, corr)`; `corr` is null
    * when either side is constant.
    *
    * Every pairwise co-moment comes from ONE shared aggregation pass
    * (`k + k(k+1)/2` partial sums over a single scan, map-side combinable)
    * and the correlations are assembled from those sums on the one result
    * row — the explicit-sum formula, identical on both engines, rather than
    * each engine's internal `corr` update order. Pair count is k², but k is
    * the aligned series list (plot-sized), never the corpus.
    *
    * Determinism: values are quantized to the `quantum` grid as BIGINTs
    * before summation, so every moment sum is an exact integer — a plain
    * `sum(double)` varies with partial-agg scheduling and can flip a 6-dp
    * rounding (the q_embed_cov hazard class; same fix as the DTW/lead-lag
    * fixed-point bucket means). Pearson is scale-invariant, so quantized
    * inputs need no de-scaling — the grid only sets resolution. Overflow
    * bound: `n · (max|v| / quantum)² < 2^63`.
    */
  def correlationMatrix(aligned: DataFrame, keys: Seq[String],
      quantum: Double = 1e-3): DataFrame = {
    require(keys.size >= 2, s"need at least 2 series, got ${keys.size}")
    require(quantum > 0, s"quantum must be positive, got $quantum")
    val invQ = 1.0 / quantum
    val quantized = aligned.select(keys.map(k =>
      round(named(k).cast("double") * lit(invQ)).cast("bigint").as(k)): _*)
    val pairs = for { i <- keys.indices; j <- i + 1 until keys.size }
      yield (keys(i), keys(j))
    val n = count(lit(1)).as("__n")
    val perKey = keys.flatMap { k =>
      Seq(sum(named(k)).as(s"__sx_$k"), sum(named(k) * named(k)).as(s"__sxx_$k"))
    }
    val perPair = pairs.map { case (a, b) => sum(named(a) * named(b)).as(s"__sxy_${a}__$b") }
    val sums = quantized.agg(n, (perKey ++ perPair): _*)
    def varN(k: String) =
      col("__n").cast("double") * named(s"__sxx_$k").cast("double") -
        named(s"__sx_$k").cast("double") * named(s"__sx_$k").cast("double")
    val rows = pairs.map { case (a, b) =>
      val num = col("__n").cast("double") * named(s"__sxy_${a}__$b").cast("double") -
        named(s"__sx_$a").cast("double") * named(s"__sx_$b").cast("double")
      val den = sqrt(varN(a)) * sqrt(varN(b))
      struct(lit(a).as("k1"), lit(b).as("k2"),
        when(den > 0, round(num / den, 6)).as("corr"))
    }
    sums.select(col("__n").as("n"), explode(array(rows: _*)).as("p"))
      .select(col("p.k1").as("k1"), col("p.k2").as("k2"), col("n"),
        col("p.corr").as("corr"))
  }

  /** Per-key winsorized robust statistics — outlier-resistant summary the
    * raw mean/std can't give on spiky archiver channels: exact interpolated
    * `[pLo, pHi]` percentiles per key, values clamped to that band, then
    * the winsorized mean/std plus how many samples hit each fence. A large
    * `n_lo + n_hi` under a stable winsorized mean is the signature of
    * sensor glitches rather than real drift.
    *
    * Two aggregations over one scan shape: percentiles per key (exact
    * `percentile`, same interpolation as DuckDB's `quantile_cont` — the
    * [[percentileBands]] parity), result joined back (a per-key dimension
    * row — broadcast-sized, AQE picks it up), then one map-side-combinable
    * clamp+moment pass. No windows, no driver collect.
    *
    * Output: `(key, n, n_lo, n_hi, p_lo, p_hi, win_mean, win_std)` with the
    * moments rounded to 6 places (cross-engine double hygiene); std is the
    * population form (divide by n), 0 for a constant or single-sample key.
    */
  def winsorize(df: DataFrame, key: String, value: String,
      pLo: Double = 0.05, pHi: Double = 0.95): DataFrame = {
    require(pLo >= 0 && pHi <= 1 && pLo < pHi, s"bad band: [$pLo, $pHi]")
    val base = df.where(col(value).isNotNull && col(key).isNotNull)
      .select(col(key), col(value).cast("double").as("__v"))
    val fences = base.groupBy(col(key))
      .agg(expr(s"percentile(__v, array(${pLo}D, ${pHi}D))").as("__q"))
      .select(col(key), col("__q").getItem(0).as("__lo"), col("__q").getItem(1).as("__hi"))
    val clamped = base.join(fences, Seq(key))
      .withColumn("__w", least(greatest(col("__v"), col("__lo")), col("__hi")))
    clamped.groupBy(col(key))
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("__v") < col("__lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("__v") > col("__hi"), 1L).otherwise(0L)).as("n_hi"),
        round(min(col("__lo")), 6).as("p_lo"),
        round(min(col("__hi")), 6).as("p_hi"),
        // 1e-3-grid fixed-point moments (the coarser grid keeps the squared
        // sums in BIGINT: n·(|v|·1e3)² < 2^63 → ~2.9e7 rows/key at |v|≤560);
        // winsorized values aren't grid-aligned, so the quantization is a
        // documented 1e-3 resolution — identical on both engines
        round(sum(FixedPoint.q(col("__w"), 1000.0)).cast("double") /
          lit(1000.0) / count(lit(1)), 6).as("win_mean"),
        // greatest(_, 0): the moment difference can cancel to a tiny
        // negative on constant keys — sqrt would turn that into NaN
        round(sqrt(greatest(
          sum(FixedPoint.q(col("__w"), 1000.0) * FixedPoint.q(col("__w"), 1000.0))
            .cast("double") / lit(1000000.0) / count(lit(1)) -
            (sum(FixedPoint.q(col("__w"), 1000.0)).cast("double") /
              lit(1000.0) / count(lit(1))) *
            (sum(FixedPoint.q(col("__w"), 1000.0)).cast("double") /
              lit(1000.0) / count(lit(1))), lit(0.0))), 6)
          .as("win_std"))
  }

  /** Per-key Holt linear-trend (double-exponential) smoothing — EWMA's
    * sibling that also tracks slope, the standard short-horizon forecast
    * baseline for drifting channels: seeded `l_1 = v_1, b_1 = 0`, then
    * {{{
    *   l_i = alpha * v_i + (1-alpha) * (l_{i-1} + b_{i-1})
    *   b_i = beta * (l_i - l_{i-1}) + (1-beta) * b_{i-1}
    * }}}
    * over time order (duplicate timestamps collapse to their max first so
    * the fold order is total; null keys dropped like [[ewma]]). The one-step
    * forecast is `l + b`.
    *
    * Same shape as [[ewma]]: the batch [[graft.streaming.KeyedFold]] over
    * the fold its streaming twin ([[graft.streaming.Smoothing.holtStreaming]])
    * runs. Cross-engine determinism: with dyadic `alpha`/`beta` the fold
    * applies bit-exact double arithmetic in a fixed order, mirrored by the
    * oracle's struct-state `list_reduce`; outputs are returned UNROUNDED
    * (quantize with `floor(x*1e6)/1e6` for fixed-decimal compares, like
    * [[ewma]]).
    */
  def holt(df: DataFrame, key: String, ts: String, value: String,
      alpha: Double, beta: Double): DataFrame =
    foldPoints(df, key, ts, value, new Smoothing.HoltFold(alpha, beta))
      .toDF(key, ts, "value", "level", "trend")

  /** Per-key Theil–Sen robust trend — the median of pairwise slopes
    * between per-bucket medians, the drift estimator outliers can't drag
    * (a spike shifts the OLS slope arbitrarily; it moves one bucket median
    * at most, and the slope median not at all until half the buckets are
    * corrupt). Two stacked exact medians: bucket medians first
    * (`percentile` == `quantile_cont`), then the median over all
    * `(b1 < b2)` bucket-pair slopes `(m2−m1)/(b2−b1)`.
    *
    * Output: `(key, n_buckets, n_pairs, slope)` — slope in value units per
    * BUCKET, rounded to 6; keys with fewer than 2 buckets are dropped.
    *
    * Plan shape: the corpus pays ONE combinable aggregation down to the
    * keys×buckets table; the pair explosion is a key-equi self-join of
    * THAT (buckets²-bounded per key — time-bucketing is what makes
    * Theil–Sen's O(n²) pairs affordable at any corpus size), then one
    * more combinable percentile per key.
    */
  def theilSen(df: DataFrame, key: String, ts: String, value: String,
      bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val meds = df.where(col(value).isNotNull && col(key).isNotNull)
      .groupBy(col(key), expr(s"$ts DIV ${bucketUs}L").as("__b"))
      .agg(expr(s"percentile(CAST($value AS DOUBLE), 0.5D)").as("__m"))
    val a = meds.select(col(key), col("__b").as("__b1"), col("__m").as("__m1"))
    val b = meds.select(col(key), col("__b").as("__b2"), col("__m").as("__m2"))
    a.join(b, Seq(key)).where(col("__b1") < col("__b2"))
      .withColumn("__slope",
        (col("__m2") - col("__m1")) / (col("__b2") - col("__b1")).cast("double"))
      .groupBy(col(key))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(__slope, 0.5D)").as("__ts_slope"))
      .join(meds.groupBy(col(key)).agg(count(lit(1)).as("n_buckets")), Seq(key))
      .select(col(key), col("n_buckets"), col("n_pairs"),
        round(col("__ts_slope"), 6).as("slope"))
  }

  /** Per-key event-rate burst detection — volume anomalies over OBSERVED
    * time buckets: count events per `(key, bucket)`, then score each
    * bucket against the mean/std of its own key's `trailing` preceding
    * buckets (a strictly-preceding ROWS frame — the baseline never
    * includes the bucket it judges, the [[trailingStats]] contract).
    * Emitted rows are the bursts only: at least `minPrev` baseline buckets
    * behind them, positive baseline spread, and a 6-dp z-score above
    * `zThresh`.
    *
    * The z is engine-exact: counts are longs, so the window's sum and
    * sum-of-squares are exact integers and the score is one double
    * expression over them — no float accumulation order anywhere.
    *
    * Plan shape: ONE map-side-combinable count aggregation collapses the
    * corpus to buckets-sized data, and the window runs key-partitioned
    * over THAT — at 100 TB the sort is per-key bucket counts, not events.
    */
  def bursts(df: DataFrame, key: String, ts: String, bucketUs: Long,
      trailing: Int, zThresh: Double, minPrev: Int = 3): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    require(trailing >= minPrev && minPrev >= 2,
      s"need trailing >= minPrev >= 2, got trailing=$trailing minPrev=$minPrev")
    val counts = df.where(col(key).isNotNull)
      .groupBy(col(key), expr(s"$ts DIV ${bucketUs}L").as("bucket"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col(key)).orderBy(col("bucket"))
      .rowsBetween(-trailing, -1)
    counts
      .withColumn("__np", count(col("n")).over(w))
      .withColumn("__s", sum(col("n")).over(w))
      .withColumn("__ss", sum(col("n") * col("n")).over(w))
      .where(col("__np") >= minPrev)
      // exact-integer moments: mean = s/np, var = ss/np - mean²
      .withColumn("base_mean", col("__s").cast("double") / col("__np"))
      .withColumn("__var",
        col("__ss").cast("double") / col("__np") - col("base_mean") * col("base_mean"))
      .where(col("__var") > 0)
      .withColumn("z", round((col("n") - col("base_mean")) / sqrt(col("__var")), 6))
      .where(col("z") > zThresh)
      .select(col(key), col("bucket"), col("n"), round(col("base_mean"), 6).as("base_mean"),
        round(sqrt(col("__var")), 6).as("base_std"), col("z"))
  }

  /** Per-key MAD-based robust outliers — the median/MAD companion to
    * [[trailingStats]]' mean/std z-score: global-per-key exact median,
    * MAD = median of |v − median|, and the modified z-score
    * `0.6745 · (v − med) / mad` (Iglewicz–Hoaglin). Spikes can't drag
    * their own fence the way they inflate a std, so this flags exactly the
    * glitches a contaminated z-score hides.
    *
    * Output: the OUTLIER rows only — `(key, ts, value, med, mad, robust_z)`
    * with `|robust_z| > zThresh` on the 6-dp-rounded score (both engines
    * compare the same quantized number, so the cut can't flap on ulps).
    * Keys whose MAD is zero (over half the samples identical) emit nothing:
    * the modified z is undefined there — [[flatline]] is the detector for
    * those.
    *
    * Plan shape: two exact-percentile aggregations (median, then MAD over
    * the residual — `percentile` == `quantile_cont`, the [[winsorize]]
    * parity), each joined back as a per-key dimension row (broadcast-sized,
    * AQE picks it up), then one codegen'd filter. No windows, no driver
    * collect; output bounded by the outlier count.
    */
  def madOutliers(df: DataFrame, key: String, ts: String, value: String,
      zThresh: Double = 3.5): DataFrame = {
    require(zThresh > 0, s"zThresh must be positive, got $zThresh")
    val base = df.where(col(value).isNotNull && col(key).isNotNull)
      .select(col(key), col(ts), col(value).cast("double").as("__v"))
    val med = base.groupBy(col(key))
      .agg(expr("percentile(__v, 0.5D)").as("med"))
    val withMed = base.join(med, Seq(key))
    val mad = withMed.groupBy(col(key))
      .agg(expr("percentile(abs(__v - med), 0.5D)").as("mad"))
    withMed.join(mad, Seq(key))
      .where(col("mad") > 0)
      .withColumn("robust_z", round(lit(0.6745) * (col("__v") - col("med")) / col("mad"), 6))
      .where(abs(col("robust_z")) > zThresh)
      .select(col(key), col(ts), col("__v").as("value"),
        round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad"),
        col("robust_z"))
  }

  /** Calendar-adjusted anomalies: each observation's residual against its
    * key's [[seasonalProfile]] cell (hour-of-day × day-of-week mean), top-N
    * by absolute residual — "unusual FOR 3am on a Sunday", which a global
    * z-score can't express because the daily cycle dominates its variance.
    *
    * The cell means reuse the exact [[seasonalProfile]] integer calendar
    * arithmetic; the residual is quantized to 6 places against the
    * 6-dp-rounded cell mean (identical discrete numbers in both engines).
    * Cells with fewer than `minN` samples are skipped — a 1-sample cell
    * would declare its own observation perfectly normal.
    *
    * Plan shape: ONE combinable aggregation to the 168-cells-per-key
    * profile, joined back on the (key, hour, dow) cell — a dimension-sized
    * broadcast at any corpus scale — then a global top-N
    * (`TakeOrderedAndProject`, no full sort). Deterministic order:
    * (|residual| desc, key, ts).
    */
  def seasonalResidual(df: DataFrame, key: String, ts: String, value: String,
      topN: Int, minN: Long = 2L): DataFrame = {
    require(topN >= 1, s"topN must be >= 1, got $topN")
    val base = df.where(col(value).isNotNull && col(key).isNotNull)
      .select(col(key),
        col(ts),
        (expr(s"$ts DIV 3600000000L") % 24).as("hour"),
        ((expr(s"$ts DIV 86400000000L") + 4) % 7).as("dow"),
        col(value).cast("double").as("__v"))
    val cells = base.groupBy(col(key), col("hour"), col("dow"))
      .agg(count(lit(1)).as("cell_n"), fixedPointMean6(col("__v")).as("cell_mean"))
      .where(col("cell_n") >= minN)
    base.join(cells, Seq(key, "hour", "dow"))
      .withColumn("residual", round(col("__v") - col("cell_mean"), 6))
      .select(col(key), col(ts), col("__v").as("value"), col("hour"), col("dow"),
        col("cell_n"), col("cell_mean"), col("residual"))
      // total order: duplicate (key, ts) observations differ in value
      .orderBy(abs(col("residual")).desc, col(key), col(ts), col("value"))
      .limit(topN)
  }

  /** Dynamic-time-warping distance from every key's bucket-mean series to a
    * reference key's series — the shape-similarity ranking that pairs PVs
    * whose traces move together even when one lags or stretches (where
    * [[leadLagCorr]] only handles a rigid shift). Classic DTW recurrence
    * (Sakoe & Chiba 1978): `D[i,j] = |aᵢ − bⱼ| + min(D[i−1,j], D[i,j−1],
    * D[i−1,j−1])`, anchored both ends.
    *
    * Plan shape: one keyed bucket-mean aggregation (map-side combinable,
    * 6-dp means exactly like [[leadLagCorr]]), one collect_list per key —
    * the per-key DP then runs INSIDE the engine as a nested
    * `aggregate(...)` fold over the value array (row-by-row over the key's
    * series, left-to-right within a row; state = one DP row, never the
    * matrix), with the reference row broadcast as a one-row cross join. No
    * UDF, no driver loop; per-key cost is `n·m` over BUCKET counts (a
    * month at 6 h buckets is ~120 points), not raw rows — the bucket width
    * IS the scale knob. Arithmetic is a fixed-order chain of IEEE adds on
    * 6-dp inputs, so any engine folding the same order reproduces it
    * bit-for-bit.
    *
    * Output: `(key, n, m, dtw, dtw_norm)` with `dtw_norm = dtw/(n+m)`
    * (path-length normalized), ordered by key; the reference key rides
    * along with distance 0 as a built-in sanity row.
    */
  def dtwProfile(df: DataFrame, key: String, ts: String, value: String,
      refKey: String, bucketUs: Long): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive, got $bucketUs")
    val series = df.where(col(key).isNotNull && col(value).isNotNull)
      .groupBy(col(key).as("__k"), expr(s"$ts DIV ${bucketUs}L").as("__b"))
      .agg(fixedPointMean6(col(value)).as("__v"))
    val arrs = series.groupBy(col("__k"))
      .agg(array_sort(collect_list(struct(col("__b"), col("__v")))).as("__sv"))
      .select(col("__k"), expr("transform(__sv, s -> s.__v)").as("__arr"))
    val ref = arrs.where(col("__k") === refKey).select(col("__arr").as("__ref"))
    arrs.crossJoin(broadcast(ref)) // 1-row reference
      .select(col("__k"), size(col("__arr")).cast("long").as("n"),
        size(col("__ref")).cast("long").as("m"),
        expr("""round(element_at(
            aggregate(__arr,
              concat(array(0.0D), transform(__ref, y -> 1e18)),
              (r, x) -> aggregate(sequence(1, size(__ref)),
                array(1e18),
                (acc, i) -> concat(acc, array(
                  abs(element_at(__ref, i) - x) +
                  least(element_at(acc, -1), element_at(r, i + 1),
                        element_at(r, i)))))),
            -1), 6)""").as("dtw"))
      .withColumn("dtw_norm", round(col("dtw") / (col("n") + col("m")), 6))
      .orderBy(col("__k"))
      .withColumnRenamed("__k", key)
  }

  /** Rolling drift series: [[psiDrift]]'s statistic between every period
    * and its predecessor — drift as a TIME SERIES per key, the monitor
    * form (a single split answers "did it drift?"; the rolling form
    * answers "when"). Same clamp-bin grid, same half-count smoothing; only
    * period pairs where BOTH sides have data emit (a first period has no
    * baseline, a silent period no sample).
    *
    * Plan shape: ONE (key, period, bin) count aggregation; every later
    * frame is bounded by keys × periods × bins cells, never raw rows.
    *
    * Output: `(key, period, psi)` — `period` is the later period index.
    */
  def psiRolling(df: DataFrame, key: String, ts: String, value: String,
      lo: Double, hi: Double, bins: Int, stepUs: Long): DataFrame = {
    require(bins > 0, s"bins must be positive, got $bins")
    require(hi > lo, s"empty range: hi $hi <= lo $lo")
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    val w = (hi - lo) / bins
    val bin = least(greatest(floor((col(value).cast("double") - lo) / w), lit(0.0)),
      lit((bins - 1).toDouble)).cast("long")
    val counts = df.where(col(value).isNotNull && col(ts).isNotNull)
      .groupBy(col(key), expr(s"$ts DIV ${stepUs}L").as("__p"), bin.as("__b"))
      .agg(count(lit(1)).as("__n"))
    val periods = counts.select(col(key), col("__p")).distinct()
    // pair id = the LATER period; valid only where the predecessor exists
    val pairs = periods.select(col(key), (col("__p") + 1L).as("__pair"))
      .join(periods.select(col(key), col("__p").as("__pair")), Seq(key, "__pair"))
    val prev = counts.select(col(key), (col("__p") + 1L).as("__pair"),
      col("__b"), col("__n").as("n1"))
    val cur = counts.select(col(key), col("__p").as("__pair"),
      col("__b"), col("__n").as("n2"))
    val joined = prev.join(cur, Seq(key, "__pair", "__b"), "full_outer")
      .join(pairs, Seq(key, "__pair")) // keep only both-sided pairs
      .select(col(key), col("__pair"),
        coalesce(col("n1"), lit(0L)).as("n1"),
        coalesce(col("n2"), lit(0L)).as("n2"))
    val tot = joined.groupBy(col(key), col("__pair"))
      .agg(sum(col("n1")).as("t1"), sum(col("n2")).as("t2"),
        count(lit(1)).as("cells"))
    joined.join(tot, Seq(key, "__pair"))
      .select(col(key), col("__pair"),
        ((col("n1") + 0.5) / (col("t1") + lit(0.5) * col("cells"))).as("p1"),
        ((col("n2") + 0.5) / (col("t2") + lit(0.5) * col("cells"))).as("p2"))
      .groupBy(col(key), col("__pair").as("period"))
      .agg(round(sum((col("p1") - col("p2")) * log(col("p1") / col("p2"))), 6)
        .as("psi"))
      .orderBy(col(key), col("period"))
  }

  /** Offline change-point detection: binary segmentation with the
    * integer-exact CUSUM mean-shift statistic. Per key, the series is
    * split where `gain = |Sl·nr − Sr·nl|` peaks (that is
    * `nl·nr·|meanL − meanR|` scaled to stay integral — the classic
    * max-mean-shift criterion with no division), then each half recurses
    * to `depth` levels. Everything is BIGINT on the `quantum` grid
    * (prefix sums of quantized values), ties break to the EARLIEST
    * split, and the total order inside a key is `(ts, q)` — so the
    * result is bit-identical on any engine and shuffle order. `minSeg`
    * keeps both sides of every split at a minimum length (a 1-point
    * "segment" always wins raw CUSUM on noise).
    *
    * Overflow bound (guarded loudly, the [[FixedPoint]] convention):
    * `4 · max|prefix sum| · n < 2^63` per key — coarsen `quantum` for
    * very long or large-valued series. The guard reads the per-key
    * `max(abs(P))` over ALL rows, not just the segment-boundary prefix
    * sum: with mixed-sign values a mid-segment P can far exceed |Pb|,
    * and a guard on the boundary alone would let the BIGINT gain wrap
    * silently.
    *
    * Plan shape: ONE key-local window pass builds (rank, prefix sum);
    * each level is a segment-frame join (segments ≤ 2^level per key —
    * control-plane sized) + one (key, segment)-keyed argmax window over
    * the candidate rows. No global windows, no driver collects; depth is
    * a small constant.
    *
    * Output: `(key, level, split_rn, split_ts, gain)` — one row per
    * accepted split, `split_rn` the 1-based in-key rank of the LAST row
    * of the left segment.
    */
  def changePoints(df: DataFrame, key: String, ts: String, value: String,
      minSeg: Int = 5, depth: Int = 2, quantum: Double = 1e-6): DataFrame = {
    require(minSeg >= 1, s"minSeg must be >= 1, got $minSeg")
    require(depth >= 1 && depth <= 6, s"depth in [1,6], got $depth")
    require(quantum > 0, s"quantum must be positive, got $quantum")
    val invQ = 1.0 / quantum
    val w = Window.partitionBy(col("k")).orderBy(col("t"), col("q"))
    val base = df
      .where(col(key).isNotNull && col(ts).isNotNull && col(value).isNotNull)
      .select(col(key).as("k"), col(ts).cast("long").as("t"),
        expr(s"CAST(round(CAST($value AS DOUBLE) * ${invQ}D) AS BIGINT)").as("q"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("P", sum(col("q")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .persist()
    try {
      // per-key max|prefix sum| rides the initial segment aggregate and is
      // CARRIED through the loop as a segment column (recomputing it per
      // level would re-aggregate the cached base three times): each gain
      // term |segment sum| · length is ≤ 2·max|P|·n and the difference of
      // two such ≤ 4·max|P|·n — bound the MID-SEGMENT P, not just Pb
      var segments = base.groupBy(col("k"))
        .agg(count(lit(1)).as("b"), max(abs(col("P"))).as("__mP"))
        .select(col("k"), lit(1L).as("a"), col("b"), col("__mP"))
      val splits = Seq.newBuilder[DataFrame]
      val aw = Window.partitionBy(col("k"), col("a"), col("b"))
        .orderBy(col("gain").desc, col("rn"))
      for (level <- 0 until depth) {
        // segment bounds -> boundary prefix sums (Pa at a-1, Pb at b)
        val withPa = segments
          .join(base.select(col("k"), (col("rn") + 1).as("a"), col("P").as("Pa")),
            Seq("k", "a"), "left_outer")
          .join(base.select(col("k"), col("rn").as("b"), col("P").as("Pb")),
            Seq("k", "b"))
          .select(col("k"), col("a"), col("b"), col("__mP"),
            coalesce(col("Pa"), lit(0L)).as("Pa"), col("Pb"))
        val cand = base.join(withPa, Seq("k"))
          .where(col("rn") >= col("a") + (minSeg - 1) &&
            col("rn") <= col("b") - minSeg)
          .select(col("k"), col("a"), col("b"), col("__mP"), col("rn"), col("t"),
            // loud overflow guard on the per-key max|P|: each gain term is
            // a segment sum (≤ 2·max|P|) times a length (≤ b), and the
            // difference of two such ≤ 4·max|P|·b — so 4·mP·b < 2^63/2
            when(assert_true(
              col("__mP").cast("double") * col("b").cast("double") < lit(1.1e18),
              lit("changePoints overflow: max|prefix sum| * n exceeds BIGINT " +
                "- coarsen `quantum`")).isNull,
              abs((col("P") - col("Pa")) * (col("b") - col("rn")) -
                (col("Pb") - col("P")) * (col("rn") - col("a") + 1)))
              .as("gain"))
        val best = cand
          .withColumn("__r", row_number().over(aw))
          .where(col("__r") === 1)
          .select(col("k"), col("a"), col("b"), col("__mP"), col("rn"), col("t"),
            col("gain"), lit(level.toLong).as("level"))
          .localCheckpoint() // feeds BOTH the output and the next level
        splits += best
        segments = best.select(col("k"), col("a"), col("rn").as("b"), col("__mP"))
          .where(col("b") - col("a") + 1 >= 2L * minSeg)
          .unionByName(best.select(col("k"), (col("rn") + 1).as("a"), col("b"),
            col("__mP"))
            .where(col("b") - col("rn") >= 2L * minSeg))
      }
      splits.result().reduce(_ unionByName _)
        .select(col("k").as("key"), col("level"), col("rn").as("split_rn"),
          col("t").as("split_ts"), col("gain"))
    } finally base.unpersist(blocking = false)
  }
}
