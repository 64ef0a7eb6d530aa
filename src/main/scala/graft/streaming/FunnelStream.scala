package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.operators.EventAnalytics.funnel]]: per-user
  * step-completion state turns a live event stream into append-mode
  * `(user, stage, step, tsUs)` completion rows — count them per stage for a
  * live funnel dashboard, or derive `t_i − t_{i−1}` latencies for the
  * [[graft.operators.EventAnalytics.funnelLatency]] report.
  *
  * Fold rule (identical to the batch recurrence under per-key event-time
  * monotone delivery, the T7 convention): the next expected step completes
  * at the FIRST qualifying event — strictly after the previous step's
  * completion and within `horizonUs` of it. Events for already-completed or
  * not-yet-reached steps fold away; late events (before the last folded
  * instant) are dropped. State per key is one bounded array of completion
  * times (≤ steps.length longs) plus the last folded instant.
  */
object FunnelStream {

  case class Event(userId: Long, tsUs: Long, tieBreak: Long, eventType: String)

  /** A step completion, stamped with the qualifying event's time. */
  case class Completion(userId: Long, stage: Int, step: String, tsUs: Long)

  /** Per-key fold state: completion time of each completed prefix step and
    * the last folded (ts, tieBreak) for late-drop.
    */
  case class FunnelState(doneTimes: Seq[Long], lastTs: Long, lastTie: Long)

  private final class Fold(steps: Seq[String], horizonUs: Long)
      extends KeyedFold[Long, Event, FunnelState, Completion] {
    def init(u: Long): FunnelState = FunnelState(Vector.empty, Long.MinValue, Long.MinValue)
    def step(u: Long, st: FunnelState, e: Event, emit: Completion => Unit): FunnelState =
      if (e.tsUs > st.lastTs || (e.tsUs == st.lastTs && e.tieBreak > st.lastTie)) {
        val next = st.doneTimes.length
        val completes = next < steps.length && e.eventType == steps(next) &&
          (next == 0 ||
            (e.tsUs > st.doneTimes(next - 1) && e.tsUs <= st.doneTimes(next - 1) + horizonUs))
        if (completes) emit(Completion(u, next + 1, steps(next), e.tsUs))
        FunnelState(if (completes) st.doneTimes :+ e.tsUs else st.doneTimes, e.tsUs, e.tieBreak)
      } else st // late or duplicate instant: dropped (T7)
  }

  private val Order: Ordering[Event] =
    KeyedFold.byTime[Event](_.tsUs)((a, b) => java.lang.Long.compare(a.tieBreak, b.tieBreak))

  def streaming(ds: Dataset[Event], steps: Seq[String], horizonUs: Long): Dataset[Completion] = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(horizonUs > 0, s"horizonUs must be positive, got $horizonUs")
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new Fold(steps, horizonUs), (e: Event) => e.userId, Order)
  }
}
