package graft.streaming

import org.apache.spark.sql.Dataset

/** The EWMA, CUSUM and Holt recurrences as [[KeyedFold]]s, each shared by
  * its batch twin in [[graft.operators.TimeSeries]] and the streaming form
  * here — the live strip-chart smoother and control charts over an EPICS
  * monitor stream, bit-identical to the batch replay because both run the
  * same `step`.
  *
  * Within a micro-batch, a key's events fold in `(tsUs, value DESC)` order:
  * the max of an instant folds first and its same-instant peers drop,
  * matching the batch twins' max-per-(key, ts) dedupe. A late event (tsUs
  * at or below the last folded one) is dropped (the T7 convention). State
  * per key is two or three scalars; emission is one row per folded event.
  */
object Smoothing {

  /** A numeric sample on the monitor stream. */
  case class Point(pvname: String, tsUs: Long, value: Double)

  /** Per-key fold state: the running ewma and the last folded event time
    * (late arrivals — tsUs below it — are dropped, not folded backwards).
    */
  case class SmoothState(ewma: Double, lastTsUs: Long)

  /** A smoothed sample. */
  case class Smoothed(pvname: String, tsUs: Long, value: Double, ewma: Double)

  /** Per-key CUSUM state for [[cusumStreaming]]. */
  case class CusumState(sPos: Double, sNeg: Double, lastTsUs: Long)

  /** A CUSUM-scored sample. */
  case class CusumPoint(pvname: String, tsUs: Long, value: Double,
      sPos: Double, sNeg: Double, alarm: Boolean)

  /** Per-key Holt state for [[holtStreaming]]: level, trend, last folded
    * event time.
    */
  case class HoltState(level: Double, trend: Double, lastTsUs: Long)

  /** A Holt-smoothed sample (level + trend; one-step forecast = level +
    * trend).
    */
  case class HoltPoint(pvname: String, tsUs: Long, value: Double,
      level: Double, trend: Double)

  /** `(tsUs, value DESC)`; the descending value compares as `-value`, so a
    * NaN sorts last.
    */
  private val PointOrder: Ordering[Point] =
    KeyedFold.byTime[Point](_.tsUs)((a, b) => java.lang.Double.compare(-a.value, -b.value))

  /** `s_1 = v_1`, `s_i = (1-alpha)*s_{i-1} + alpha*v_i`. */
  private[graft] final class EwmaFold(alpha: Double)
      extends KeyedFold[String, Point, SmoothState, Smoothed] {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    private val oneMinus = 1.0 - alpha
    def init(pv: String): SmoothState = null
    def step(pv: String, st: SmoothState, p: Point, emit: Smoothed => Unit): SmoothState =
      if (st == null) {
        emit(Smoothed(pv, p.tsUs, p.value, p.value))
        SmoothState(p.value, p.tsUs)
      } else if (p.tsUs > st.lastTsUs) {
        val e = oneMinus * st.ewma + alpha * p.value
        emit(Smoothed(pv, p.tsUs, p.value, e))
        SmoothState(e, p.tsUs)
      } else st // late or duplicate instant: dropped (T7)
  }

  /** Two-sided CUSUM (Page's test): `s_pos = max(0, s_pos + (v - target -
    * slack))`, `s_neg = min(0, s_neg + (v - target + slack))`; a sample
    * alarms when either passes `h`.
    */
  private[graft] final class CusumFold(target: Double, slack: Double, h: Double)
      extends KeyedFold[String, Point, CusumState, CusumPoint] {
    require(slack >= 0, s"slack must be >= 0, got $slack")
    require(h > 0, s"alarm threshold must be positive, got $h")
    def init(pv: String): CusumState = CusumState(0.0, 0.0, Long.MinValue)
    def step(pv: String, st: CusumState, p: Point, emit: CusumPoint => Unit): CusumState =
      if (p.tsUs > st.lastTsUs) {
        val sp = math.max(0.0, st.sPos + (p.value - target - slack))
        val sn = math.min(0.0, st.sNeg + (p.value - target + slack))
        emit(CusumPoint(pv, p.tsUs, p.value, sp, sn, sp > h || sn < -h))
        CusumState(sp, sn, p.tsUs)
      } else st // late or duplicate instant: dropped (T7)
  }

  /** Holt linear trend: seeded `l_1 = v_1, b_1 = 0`, then
    * `l = alpha*v + (1-alpha)*(l+b)` and `b = beta*(lNew-l) + (1-beta)*b`.
    */
  private[graft] final class HoltFold(alpha: Double, beta: Double)
      extends KeyedFold[String, Point, HoltState, HoltPoint] {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0, 1], got $alpha")
    require(beta >= 0.0 && beta <= 1.0, s"beta must be in [0, 1], got $beta")
    private val oneMinusA = 1.0 - alpha
    private val oneMinusB = 1.0 - beta
    def init(pv: String): HoltState = null
    def step(pv: String, st: HoltState, p: Point, emit: HoltPoint => Unit): HoltState =
      if (st == null) {
        emit(HoltPoint(pv, p.tsUs, p.value, p.value, 0.0))
        HoltState(p.value, 0.0, p.tsUs)
      } else if (p.tsUs > st.lastTsUs) {
        val lNew = alpha * p.value + oneMinusA * (st.level + st.trend)
        val bNew = beta * (lNew - st.level) + oneMinusB * st.trend
        emit(HoltPoint(pv, p.tsUs, p.value, lNew, bNew))
        HoltState(lNew, bNew, p.tsUs)
      } else st // late or duplicate instant: dropped (T7)
  }

  /** Streaming twin of [[graft.operators.TimeSeries.cusum]]. */
  def cusumStreaming(ds: Dataset[Point], target: Double, slack: Double,
      h: Double): Dataset[CusumPoint] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new CusumFold(target, slack, h), (p: Point) => p.pvname, PointOrder)
  }

  /** Streaming twin of [[graft.operators.TimeSeries.holt]]. */
  def holtStreaming(ds: Dataset[Point], alpha: Double, beta: Double): Dataset[HoltPoint] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new HoltFold(alpha, beta), (p: Point) => p.pvname, PointOrder)
  }

  /** Streaming twin of [[graft.operators.TimeSeries.ewma]]. */
  def streaming(ds: Dataset[Point], alpha: Double): Dataset[Smoothed] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new EwmaFold(alpha), (p: Point) => p.pvname, PointOrder)
  }
}
