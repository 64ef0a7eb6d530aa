package graft.streaming

import org.apache.spark.sql.Dataset

/** T2/T3 — the deadtime/deadband downsampler with limbo semantics, the one
  * genuinely stateful operator of the reference (archiver.py:362-463,
  * doc/setup.rst:74-96), re-expressed as one [[KeyedFold]] that drives both
  * the Structured Streaming form and the deterministic batch replay.
  *
  * Semantics (per PV, events in time order; all times in epoch micros):
  *  - first event always emits;
  *  - an event later than `lastEmitTs + deadtime` emits, except that a
  *    double-typed PV must also move more than `|deadband|` from the last
  *    emitted value (unparseable values compare as "moved");
  *  - an event inside the deadtime goes to the limbo buffer (latest change
  *    wins), provided it is >1 ms after the last emit;
  *  - once the deadtime expires (next arrival, stream timeout, or end of a
  *    batch replay), the limbo value emits with its ORIGINAL timestamp — the
  *    true change time is preserved (doc/setup.rst:82-85) — and the deadtime
  *    restarts from that timestamp.
  *
  * Note on deadband fidelity: in the reference, a deadband-suppressed change
  * lands in limbo and the same `collect()` pass flushes it (tnow ≥ ts always,
  * archiver.py:399-414), so the shipped code's deadband barely filters.
  * We implement the *documented* semantics (deadband-failed changes are "no
  * change"), which is what its docs and config defaults describe.
  *
  * Scale: state is three scalars + one buffered event per PV ("thousands of
  * PVs" — doc/overview.rst:7-8), keyed shuffle only; no skew risk.
  */
object Downsampler {

  /** An ingest change event (SURVEY §2.1 S1). */
  case class RawSample(pvname: String, tsUs: Long, value: String, cvalue: String)

  /** Per-PV archiving parameters (pv table — schema.py:6-19). */
  case class PvConfig(dtype: String, deadtimeUs: Long, deadband: Double)

  /** An archived sample (accepted by the downsampler). */
  case class Sample(pvname: String, tsUs: Long, value: String, cvalue: String)

  /** Keyed operator state. */
  case class State(
      lastTsUs: Long,
      lastValue: String,
      limbo: Option[RawSample])

  val DefaultConfig: PvConfig = PvConfig("double", 5000000L, 1.0e-8)

  /** UTF-8 binary string order — the order Spark SQL sorts strings in
    * (UTF8String byte comparison). The equal-timestamp tie-break must use
    * THIS ordering everywhere: the batch twins tie-break in Spark's order,
    * so the streaming twins' in-memory sorts use the same order, or
    * supplementary-plane values (where UTF-16 code-unit order and UTF-8
    * byte order disagree) would process in a different sequence and
    * desynchronize the state machines.
    */
  val Utf8Order: Ordering[String] = (x: String, y: String) => {
    val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(a.length, b.length)
    var r = 0
    while (r == 0 && i < n) { r = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
    if (r != 0) r else a.length - b.length
  }

  /** (tsUs, value) event order with the UTF-8 tie-break. */
  val EventOrder: Ordering[(Long, String)] = Ordering.Tuple2(Ordering.Long, Utf8Order)

  /** [[EventOrder]] over any event type, comparing values only on a tie. */
  private[streaming] def eventOrder[E](ts: E => Long, value: E => String): Ordering[E] =
    KeyedFold.byTime(ts)((a, b) => Utf8Order.compare(value(a), value(b)))

  /** Minimum gap (1 ms, archiver.py:398) below which a change is ignored. */
  private final val MinGapUs = 1000L

  /** `clean_value` (archiver.py:34-44): float parse incl. b'..' unwrap. */
  def parseDouble(v: String): Option[Double] = {
    val s =
      if (v != null && v.startsWith("b'") && v.endsWith("'")) v.substring(2, v.length - 1)
      else v
    try Option(s).map(_.trim.toDouble)
    catch { case _: NumberFormatException => None }
  }

  private def sample(e: RawSample): Sample = Sample(e.pvname, e.tsUs, e.value, e.cvalue)

  /** The T2 step; `st == null` is a PV's first event. */
  private def advance(st: State, e: RawSample, cfg: PvConfig, emit: Sample => Unit): State =
    if (st == null) {
      emit(sample(e))
      State(e.tsUs, e.value, None)
    } else {
      // arrival advances the clock: flush an expired limbo first
      var s = clock(st, e.tsUs, cfg, emit)
      if (e.tsUs > s.lastTsUs + cfg.deadtimeUs) {
        val moved =
          if (cfg.dtype == "double")
            (parseDouble(e.value), parseDouble(s.lastValue)) match {
              case (Some(a), Some(b)) => math.abs(a - b) > math.abs(cfg.deadband)
              case _ => true // unparseable → treat as changed (archiver.py:386-388)
            }
          else true
        if (moved) {
          emit(sample(e))
          s = State(e.tsUs, e.value, None)
        }
      } else if (e.tsUs > s.lastTsUs + MinGapUs) {
        s = s.copy(limbo = Some(e))
      }
      s
    }

  private def clock(st: State, nowUs: Long, cfg: PvConfig, emit: Sample => Unit): State =
    st.limbo match {
      case Some(l) if nowUs > st.lastTsUs + cfg.deadtimeUs =>
        emit(sample(l))
        State(l.tsUs, l.value, None)
      case _ => st
    }

  /** The T2 fold ([[KeyedFold]]): the end-of-history flush and the quiet-PV
    * timeout both release the limbo with its original timestamp.
    */
  private final class Fold(configs: Map[String, PvConfig], default: PvConfig, quietMs: Long)
      extends KeyedFold[String, RawSample, State, Sample] {
    def init(pv: String): State = null
    def step(pv: String, st: State, e: RawSample, emit: Sample => Unit): State =
      advance(st, e, configs.getOrElse(pv, default), emit)
    // end of history: the deadtime has trivially expired by "now"
    override def flush(pv: String, st: State, emit: Sample => Unit): Unit =
      st.limbo.foreach(l => emit(sample(l)))
    override def hasTimeout: Boolean = quietMs > 0
    override def timeoutMs(pv: String, st: State): Long = if (st.limbo.isDefined) quietMs else 0L
    override def onTimeout(pv: String, st: State, nowUs: Long, emit: Sample => Unit): State =
      clock(st, nowUs, configs.getOrElse(pv, default), emit)
  }

  /** Pure per-key replay: events must be time-ordered; the trailing limbo is
    * flushed (a batch replay sees the complete history).
    */
  def replayKey(events: Iterable[RawSample], cfg: PvConfig): Vector[Sample] =
    KeyedFold.run(new Fold(Map.empty, cfg, 0L), (e: RawSample) => e.pvname, events.iterator)
      .toVector

  /** Batch replay over a Dataset — the deterministic twin used for
    * correctness tests and backfills ([[KeyedFold.batch]]).
    */
  def replayBatch(
      ds: Dataset[RawSample],
      configs: Map[String, PvConfig] = Map.empty,
      default: PvConfig = DefaultConfig): Dataset[Sample] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.batch(ds, new Fold(configs, default, 0L), (e: RawSample) => e.pvname,
      "pvname", "tsUs", "value")
  }

  /** Streaming form ([[KeyedFold.streaming]]) with a processing-time
    * timeout that flushes the limbo when a PV goes quiet (SURVEY §2.9 T2).
    *
    * `timeoutMs <= 0` disables the quiet-PV flush (the limbo then flushes
    * on next arrival only) — used by deterministic tests, since a registered
    * processing-time timeout makes the default trigger run continuous
    * no-data batches.
    */
  def streaming(
      ds: Dataset[RawSample],
      configs: Map[String, PvConfig] = Map.empty,
      timeoutMs: Long = 1000L): Dataset[Sample] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new Fold(configs, DefaultConfig, timeoutMs),
      (e: RawSample) => e.pvname, eventOrder[RawSample](_.tsUs, _.value))
  }
}
