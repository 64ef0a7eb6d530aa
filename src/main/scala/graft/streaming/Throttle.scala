package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.operators.TimeSeries.throttle]] — the live
  * per-key rate cap: at most `perWindow` events pass per `(key, tumbling
  * windowUs bucket)`, survivors chosen FIRST by `(tsUs, value)` exactly like
  * the batch row_number cap. State per key is two scalars (current bucket,
  * its pass count); the cap therefore holds across micro-batch boundaries —
  * a window whose quota was spent in batch N admits nothing in batch N+1.
  *
  * Delivery contract (T7, as for [[Smoothing]]): per-key event-time
  * monotone across batches, same-instant ties inside one batch; late events
  * (an earlier bucket than the state's) are dropped, not re-admitted —
  * replay the batch operator to reconstruct history.
  */
object Throttle {

  /** Per-key cap state: the tumbling bucket being filled and how many
    * events it has admitted.
    */
  case class CapState(bucket: Long, n: Int, lastTsUs: Long)

  private final class Fold(windowUs: Long, perWindow: Int)
      extends KeyedFold[String, Smoothing.Point, CapState, Smoothing.Point] {
    def init(pv: String): CapState = CapState(Long.MinValue, 0, Long.MinValue)
    def step(pv: String, st0: CapState, p: Smoothing.Point,
        emit: Smoothing.Point => Unit): CapState = {
      val b = p.tsUs / windowUs // truncating, like the batch `DIV`
      val st = if (b > st0.bucket) CapState(b, 0, st0.lastTsUs) else st0
      if (b >= st.bucket && p.tsUs >= st.lastTsUs && st.n < perWindow) {
        emit(p)
        CapState(st.bucket, st.n + 1, p.tsUs)
      } else st // over quota, or late (earlier bucket / before the admit frontier)
    }
  }

  /** `(tsUs, value)` ascending, mirroring the batch `orderBy(ts, tieBreak = value)`. */
  private val Order: Ordering[Smoothing.Point] =
    KeyedFold.byTime[Smoothing.Point](_.tsUs)((a, b) =>
      java.lang.Double.compare(a.value, b.value))

  def streaming(ds: Dataset[Smoothing.Point], windowUs: Long,
      perWindow: Int): Dataset[Smoothing.Point] = {
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    require(perWindow >= 1, s"perWindow must be >= 1, got $perWindow")
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new Fold(windowUs, perWindow), (p: Smoothing.Point) => p.pvname,
      Order)
  }
}
