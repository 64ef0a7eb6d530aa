package graft.streaming

import org.apache.spark.sql.Dataset

/** Streaming twin of [[graft.operators.EventAnalytics.transitionMatrix]]'s
  * pairing stage: per-user "last event" state turns a live event stream
  * into `(prev_type, next_type)` transition rows — feed them to a
  * complete-mode count aggregation for the live Markov matrix, or sink
  * them raw for the batch normalizer.
  *
  * A [[KeyedFold]]: a user's events pair in `(tsUs, tieBreak)` order, and
  * late or duplicate instants drop instead of pairing backwards. State per
  * key is one (ts, tieBreak, type) triple; emission is one row per
  * consecutive pair.
  */
object Transitions {

  /** One event on the stream. `tieBreak` must make (tsUs, tieBreak) unique
    * per user (the [[graft.operators.EventAnalytics.userSequences]]
    * ordering contract).
    */
  case class Event(userId: Long, tsUs: Long, tieBreak: Long, eventType: String)

  /** A consecutive-pair emission, stamped with the NEXT event's time. */
  case class Transition(userId: Long, tsUs: Long, prevType: String, nextType: String)

  /** Per-key fold state: the last folded event. */
  case class LastEvent(tsUs: Long, tieBreak: Long, eventType: String)

  private object Fold extends KeyedFold[Long, Event, LastEvent, Transition] {
    def init(u: Long): LastEvent = null
    def step(u: Long, st: LastEvent, e: Event, emit: Transition => Unit): LastEvent =
      if (st == null || e.tsUs > st.tsUs || (e.tsUs == st.tsUs && e.tieBreak > st.tieBreak)) {
        if (st != null) emit(Transition(u, e.tsUs, st.eventType, e.eventType))
        LastEvent(e.tsUs, e.tieBreak, e.eventType)
      } else st // late or duplicate instant: dropped (T7)
  }

  private val Order: Ordering[Event] =
    KeyedFold.byTime[Event](_.tsUs)((a, b) => java.lang.Long.compare(a.tieBreak, b.tieBreak))

  def streaming(ds: Dataset[Event]): Dataset[Transition] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, Fold, (e: Event) => e.userId, Order)
  }
}
