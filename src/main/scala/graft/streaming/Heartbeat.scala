package graft.streaming

import org.apache.spark.sql.Dataset

import Downsampler.Sample

/** T3 — forced heartbeat (archiver.py:419-440, util.py:348-354): any PV
  * silent longer than its per-PV force interval (uniform 13-21 h, seeded)
  * gets its last value re-archived, guaranteeing ≥1 sample/PV/24 h so
  * time-range queries always find a "point before tmin".
  *
  * Determinism: the reference draws `randint` at runtime and stamps emits
  * with the sweep's wall clock (a 300 s grid); here the interval sequence is
  * a seeded PRNG per (pvname, draw index) and the batch replay stamps the
  * forced sample at exactly `lastTs + interval`, making replays reproducible.
  */
object Heartbeat {

  final val MinForceUs: Long = 13L * 3600 * 1000000L
  final val SpanForceUs: Long = 8L * 3600 * 1000000L

  /** k-th force interval for a PV (seeded; mirrors util.py:348-354's
    * 13 h + rand(8 h) draw). `minUs`/`spanUs` default to the reference's
    * 13-21 h window; tests shrink them to drive the timeout path quickly.
    */
  def forceIntervalUs(pvname: String, k: Int, seed: Long = 42L,
      minUs: Long = MinForceUs, spanUs: Long = SpanForceUs): Long = {
    val rng = new scala.util.Random(seed ^ pvname.hashCode.toLong ^ (k.toLong << 32))
    minUs + rng.nextLong(spanUs)
  }

  case class HbState(lastTs: Long, value: String, cvalue: String, k: Int)

  /** Re-archive the carried value at each force interval that elapses
    * strictly before `until`.
    */
  private def fill(pv: String, st: HbState, until: Long, seed: Long,
      emit: Sample => Unit): Unit = if (st != null) {
    var ts = st.lastTs
    var k = st.k
    var interval = forceIntervalUs(pv, k, seed)
    while (ts + interval < until) {
      ts += interval
      emit(Sample(pv, ts, st.value, st.cvalue))
      k += 1
      interval = forceIntervalUs(pv, k, seed)
    }
  }

  private def carry(s: Sample): HbState = HbState(s.tsUs, s.value, s.cvalue, 0)

  /** Event-time fold ([[KeyedFold]]): each real sample fills the silent gap
    * before it, and the end of history fills up to `horizonUs`.
    */
  private final class ReplayFold(horizonUs: Long, seed: Long)
      extends KeyedFold[String, Sample, HbState, Sample] {
    def init(pv: String): HbState = null
    def step(pv: String, st: HbState, s: Sample, emit: Sample => Unit): HbState = {
      fill(pv, st, s.tsUs, seed, emit)
      carry(s)
    }
    override def flush(pv: String, st: HbState, emit: Sample => Unit): Unit =
      fill(pv, st, horizonUs, seed, emit)
  }

  /** Processing-time fold: a real sample only resets the carried value; the
    * timeout re-archives it stamped with the wall clock.
    */
  private final class LiveFold(seed: Long, minUs: Long, spanUs: Long)
      extends KeyedFold[String, Sample, HbState, Sample] {
    def init(pv: String): HbState = null
    def step(pv: String, st: HbState, s: Sample, emit: Sample => Unit): HbState = carry(s)
    override def hasTimeout: Boolean = true
    override def timeoutMs(pv: String, st: HbState): Long =
      math.max(forceIntervalUs(pv, st.k, seed, minUs, spanUs) / 1000L, 1L)
    override def onTimeout(pv: String, st: HbState, nowUs: Long, emit: Sample => Unit): HbState = {
      emit(Sample(pv, nowUs, st.value, st.cvalue))
      HbState(nowUs, st.value, st.cvalue, st.k + 1)
    }
  }

  /** Batch replay over one PV's archived samples (time-ordered): synthetic
    * heartbeat rows in the silent gaps, up to `horizonUs`.
    */
  def replayKey(samples: Iterable[Sample], horizonUs: Long, seed: Long = 42L): Vector[Sample] =
    KeyedFold.run(new ReplayFold(horizonUs, seed), (s: Sample) => s.pvname, samples.iterator)
      .toVector

  /** [[replayKey]] over a Dataset ([[KeyedFold.batch]]); the `value`
    * tie-break keeps the carried value partition-order independent.
    */
  def replayBatch(ds: Dataset[Sample], horizonUs: Long, seed: Long = 42L): Dataset[Sample] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.batch(ds, new ReplayFold(horizonUs, seed), (s: Sample) => s.pvname,
      "pvname", "tsUs", "value")
  }

  /** Streaming form ([[KeyedFold.streaming]]): a per-PV processing-time
    * timeout re-emits the cached value when the force interval elapses with
    * no real sample (stamped at the wall clock, like the reference's sweep).
    * `minUs`/`spanUs` shrink the 13-21 h window for tests.
    */
  def streaming(ds: Dataset[Sample], seed: Long = 42L,
      minUs: Long = MinForceUs, spanUs: Long = SpanForceUs): Dataset[Sample] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new LiveFold(seed, minUs, spanUs), (s: Sample) => s.pvname,
      Downsampler.eventOrder[Sample](_.tsUs, _.value))
  }
}
