package graft.streaming

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A per-key fold over time-ordered events: the one shape behind every
  * batch/streaming twin (the T2 downsampler, alerts, heartbeat, the
  * EWMA/CUSUM/Holt smoothers, throttle, transitions, funnel). An operator
  * supplies only the fold; the drivers in the companion run it, so a batch
  * twin and its streaming twin execute the same `step` and cannot drift.
  *
  * The contract:
  *  - '''Order.''' A key's events reach `step` in one fixed event order.
  *    The batch driver gets it from Spark: `repartition(key)` then
  *    `sortWithinPartitions(key, order…)`, where strings compare as UTF-8
  *    bytes. The streaming driver sorts each key's micro-batch events once,
  *    stably, with an `Ordering` that must agree with those columns on
  *    every tie that can change the result — a string tie-break uses
  *    [[Downsampler.Utf8Order]], not `String.compareTo`. Across micro-batches
  *    the streaming twin assumes per-key event-time monotone delivery (the
  *    T7 convention): an event older than the state cannot be re-sorted
  *    into history; replay the batch twin to reconstruct it.
  *  - '''State.''' `init(key)` is the state before a key's first event;
  *    `null` means "no state yet", and a key whose state is still `null`
  *    after a micro-batch stores nothing. `step` folds one event, emits
  *    through the callback, and returns the next state.
  *  - '''Flush''' (batch only) runs once after a key's last event: the end
  *    of history, e.g. releasing the downsampler's limbo.
  *  - '''Timeout''' (streaming only). With `hasTimeout`, the query declares
  *    a processing-time timeout, and after each micro-batch a key with a
  *    positive `timeoutMs` registers one. When it fires, `onTimeout` runs
  *    with the wall clock in micros, before that key's new events. Without
  *    `hasTimeout` no timeout is declared at all: merely declaring one
  *    makes the micro-batch engine run no-data batches forever.
  *  - '''State compatibility.''' The streaming state is the operator's own
  *    case class, stored as is; the driver adds no wrapper or field. A
  *    checkpoint restarts as long as that class keeps its fields and types.
  */
abstract class KeyedFold[K, E, S, O] extends Serializable {
  def init(key: K): S
  def step(key: K, st: S, e: E, emit: O => Unit): S
  def flush(key: K, st: S, emit: O => Unit): Unit = ()
  def hasTimeout: Boolean = false
  def timeoutMs(key: K, st: S): Long = 0L
  def onTimeout(key: K, st: S, nowUs: Long, emit: O => Unit): S = st
}

object KeyedFold {

  /** Batch twin: one shuffle on `keyCol`, Spark's external (spill-capable)
    * sort on `(keyCol, orderCols…)`, one run iterator per partition with
    * O(1) state per key — a key's whole history never materializes, so one
    * hot key cannot OOM an executor.
    */
  def batch[K, E: Encoder, S, O: Encoder](ds: Dataset[E], fold: KeyedFold[K, E, S, O],
      key: E => K, keyCol: String, orderCols: String*): Dataset[O] =
    ds.repartition(col(keyCol))
      .sortWithinPartitions((keyCol +: orderCols).map(col): _*)
      .as[E]
      .mapPartitions(it => run(fold, key, it))

  /** Streaming twin: `groupByKey` → `flatMapGroupsWithState` in Append mode. */
  def streaming[K: Encoder, E, S: Encoder, O: Encoder](ds: Dataset[E],
      fold: KeyedFold[K, E, S, O], key: E => K, order: Ordering[E]): Dataset[O] = {
    val timeoutConf =
      if (fold.hasTimeout) GroupStateTimeout.ProcessingTimeTimeout else GroupStateTimeout.NoTimeout
    ds.groupByKey(key).flatMapGroupsWithState[S, O](OutputMode.Append(), timeoutConf) {
      (k: K, it: Iterator[E], gs: GroupState[S]) =>
        val out = ArrayBuffer.empty[O]
        val emit: O => Unit = out += _
        var st = if (gs.exists) gs.get else fold.init(k)
        if (gs.hasTimedOut && st != null)
          st = fold.onTimeout(k, st, gs.getCurrentProcessingTimeMs() * 1000L, emit)
        it.to(ArrayBuffer).sortInPlace()(order).foreach(e => st = fold.step(k, st, e, emit))
        if (st != null) {
          gs.update(st)
          if (fold.hasTimeout) {
            val ms = fold.timeoutMs(k, st)
            if (ms > 0) gs.setTimeoutDuration(ms)
          }
        }
        out.iterator
    }
  }

  /** Event order: `ts` ascending, then `tie` on equal timestamps only. */
  def byTime[E](ts: E => Long)(tie: (E, E) => Int): Ordering[E] = (a: E, b: E) => {
    val c = java.lang.Long.compare(ts(a), ts(b))
    if (c != 0) c else tie(a, b)
  }

  /** The run iterator over key-clustered, event-ordered input: it detects
    * key boundaries, flushes each finished key, and flushes the last key
    * lazily once the input is exhausted.
    */
  def run[K, E, S, O](f: KeyedFold[K, E, S, O], key: E => K, in: Iterator[E]): Iterator[O] =
    new Iterator[O] {
      private val buf = ArrayBuffer.empty[O]
      private val emit: O => Unit = buf += _
      private var i = 0
      private var open = false
      private var cur: K = _
      private var st: S = _

      def hasNext: Boolean = {
        while (i == buf.length && (open || in.hasNext)) refill()
        i < buf.length
      }

      def next(): O = {
        if (!hasNext) throw new NoSuchElementException("end of fold output")
        i += 1
        buf(i - 1)
      }

      private def refill(): Unit = {
        buf.clear()
        i = 0
        if (in.hasNext) {
          val e = in.next()
          val k = key(e)
          if (!open || k != cur) {
            if (open) f.flush(cur, st, emit)
            cur = k
            st = f.init(k)
            open = true
          }
          st = f.step(k, st, e, emit)
        } else {
          f.flush(cur, st, emit)
          open = false
        }
      }
    }
}
