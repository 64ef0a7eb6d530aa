package perfbench

import java.util.SplittableRandom

import graft.streaming.Downsampler.{PvConfig, RawSample}

/** Seeded input generators. Every generator is a pure function of the
  * workload seed (and, for streamed inputs, of the chunk index), so the same
  * seed always yields byte-identical inputs and the engine only ever sees
  * their output.
  */
object Gen {

  /** A stream of independent generators derived from (seed, salt). */
  def rng(seed: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt + 0x632BE59BD9B4E019L) * 0xBF58476D1CE4E5B9L)

  private val Sectors = Array("13BMA", "13BMD", "13IDA", "13IDC", "13IDE", "13LAB", "S13", "13XRM")
  private val Devices = Array("m", "cc", "ip", "scaler", "tc", "dmm", "ion", "gauge", "valve", "shutter")
  private val Fields = Array("VAL", "RBV", "DMOV", "STAT", "TEMP", "RAW")
  private val EnumLabels = Array("Closed", "Open", "Moving", "Fault")

  def pvName(seed: Long, i: Int): String = {
    val r = rng(seed, 1000003L + i)
    s"${Sectors(r.nextInt(Sectors.length))}:${Devices(r.nextInt(Devices.length))}$i.${Fields(r.nextInt(Fields.length))}"
  }

  /** One channel of the CA event log. */
  final case class Pv(name: String, dtype: String, deadtimeUs: Long, deadband: Double, base: Double)

  /** The channel-access event log the ingest path archives: `numPvs` PVs
    * with the reference's four value types, Zipf-skewed update rates and
    * sub-deadtime bursts. Chunk `k` covers event time
    * `[t0Us + k * spanUs, t0Us + (k + 1) * spanUs)`; its events are shuffled
    * (out of order within the chunk), chunks are in time order.
    */
  final class EventLog(val seed: Long, val numPvs: Int, val t0Us: Long, val spanUs: Long) {

    val pvs: Array[Pv] = Array.tabulate(numPvs) { i =>
      val r = rng(seed, 2000003L + i)
      val u = r.nextDouble()
      val dtype = if (u < 0.70) "double" else if (u < 0.85) "enum" else if (u < 0.95) "int" else "string"
      val deadtime = if (dtype == "double") 5000000L else 1000000L
      val deadband = if (dtype == "double" && r.nextDouble() < 0.3) 0.05 else 1.0e-8
      Pv(pvName(seed, i), dtype, deadtime, deadband, math.floor(r.nextDouble() * 1000) / 10)
    }

    /** Per-PV configs for every PV that differs from the engine default. */
    val configs: Map[String, PvConfig] = pvs.iterator
      .map(p => p.name -> PvConfig(p.dtype, p.deadtimeUs, p.deadband))
      .filter(_._2 != graft.streaming.Downsampler.DefaultConfig).toMap

    // Zipf(1.1) update rates over a seeded permutation of the PVs
    private val cdf: Array[Double] = {
      val perm = Array.range(0, numPvs)
      val r = rng(seed, 3L)
      var i = numPvs - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = perm(i); perm(i) = perm(j); perm(j) = t; i -= 1 }
      val w = new Array[Double](numPvs)
      var k = 0
      while (k < numPvs) { w(perm(k)) = 1.0 / math.pow(k + 1, 1.1); k += 1 }
      val c = w.scanLeft(0.0)(_ + _).tail
      c.map(_ / c.last)
    }

    private def pick(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, numPvs - 1)
    }

    private def value(p: Pv, r: SplittableRandom): (String, String) = p.dtype match {
      case "double" =>
        // mostly small moves, some below the 0.05 deadband
        val v = String.format(java.util.Locale.ROOT, "%.4f", Double.box(p.base + r.nextGaussian() * 0.2))
        (v, v)
      case "enum" =>
        val s = r.nextInt(4)
        (s.toString, EnumLabels(s))
      case "int" =>
        val v = (p.base.toLong + r.nextInt(20)).toString
        (v, v)
      case _ =>
        val v = s"state_${r.nextInt(6)}"
        (v, v)
    }

    /** Events of chunk `k`: `n` picks, 30% of them a burst of 3-8 updates
      * spaced 10-200 ms (inside every deadtime). Timestamps are unique per
      * PV; the result is shuffled.
      */
    def chunk(k: Int, n: Int): Array[RawSample] = {
      val r = rng(seed, 10000000L + k)
      val lo = t0Us + k.toLong * spanUs
      val out = scala.collection.mutable.ArrayBuffer.empty[RawSample]
      val used = scala.collection.mutable.HashSet.empty[(Int, Long)]
      while (out.size < n) {
        val i = pick(r)
        val p = pvs(i)
        val burst = if (r.nextDouble() < 0.3) 3 + r.nextInt(6) else 1
        var t = lo + (r.nextDouble() * spanUs * 0.8).toLong
        var b = 0
        while (b < burst && out.size < n && t < lo + spanUs) {
          if (used.add((i, t))) {
            val (v, cv) = value(p, r)
            out += RawSample(p.name, t, v, cv)
          }
          t += 10000L + r.nextInt(190000)
          b += 1
        }
      }
      val a = out.toArray
      var j = a.length - 1
      while (j > 0) { val x = r.nextInt(j + 1); val t = a(j); a(j) = a(x); a(x) = t; j -= 1 }
      a
    }

    /** One event per PV far past every deadtime and with a value no
      * deadband can hold back: it releases every limbo buffer, so a stream
      * that has consumed it has archived exactly what the batch replay of
      * the same history archives.
      */
    def flushChunk(atUs: Long): Array[RawSample] =
      pvs.map(p => RawSample(p.name, atUs, "flush", "flush"))
  }

  /** JSON-lines rendering of events, as the file source reads them. Values
    * are generated without quotes or backslashes, so no escaping is needed.
    */
  def jsonLines(events: Array[RawSample]): Array[Byte] = {
    val sb = new java.lang.StringBuilder(events.length * 80)
    events.foreach { e =>
      sb.append("{\"pvname\":\"").append(e.pvname).append("\",\"tsUs\":").append(e.tsUs)
        .append(",\"value\":\"").append(e.value).append("\",\"cvalue\":\"").append(e.cvalue).append("\"}\n")
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }

  final val WeekUs: Long = 7L * 86400L * 1000000L
  final val DayUs: Long = 86400L * 1000000L
  final val HourUs: Long = 3600L * 1000000L

  /** The settled archive the read path queries: `weeks` weekly runs (the
    * reference's rotation cadence) of history for `numPvs` PVs, whose names
    * cover all 128 store buckets, plus `hot` PVs that each exceed the 30,000
    * point plot cap within one week. History ends two days before the end
    * of the last (current) run. Every series is numeric and has strictly
    * increasing timestamps; [[series]] is the plain-Scala model the answers
    * are checked against.
    */
  final class History(val seed: Long, val numPvs: Int, val hot: Int, val hotPerWeek: Int,
      val weeks: Int) extends Serializable {
    val t0Us: Long = (1704067200000000L / WeekUs + 1) * WeekUs // first run boundary in 2024
    val endUs: Long = t0Us + weeks * WeekUs - 2 * DayUs

    val names: Array[String] = {
      // numPvs + hot names; once the slots left equal the buckets not yet
      // covered, only names that cover one are taken
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val seen = scala.collection.mutable.HashSet.empty[Int]
      var i = 0
      while (buf.size < numPvs + hot) {
        val n = pvName(seed ^ 0x5eedL, i)
        val b = graft.functions.PvFunctions.hashname(n)
        if (!seen(b) || buf.size + graft.store.SampleStore.NumBuckets - seen.size < numPvs + hot) {
          buf += n
          seen += b
        }
        i += 1
      }
      buf.toArray
    }
    def isHot(i: Int): Boolean = i < hot
    def size: Int = names.length

    /** Series of PV `i`: (timestamps, values), strictly increasing in time. */
    def series(i: Int): (Array[Long], Array[Double]) = {
      val r = rng(seed, 40000000L + i)
      val span = endUs - t0Us
      val n =
        if (isHot(i)) (hotPerWeek.toLong * span / WeekUs).toInt
        else (weeks * math.exp(math.log(10) + r.nextDouble() * math.log(50))).toInt
      val ts = new Array[Long](n)
      val vs = new Array[Double](n)
      val step = span / math.max(n, 1)
      var t = t0Us + (r.nextDouble() * step).toLong
      var v = math.floor(r.nextDouble() * 1000) / 10
      var k = 0
      while (k < n && t < endUs) {
        ts(k) = t
        v = math.rint((v + r.nextGaussian()) * 1000) / 1000
        vs(k) = v
        t += 1 + (r.nextDouble() * 2 * step).toLong
        k += 1
      }
      (java.util.Arrays.copyOf(ts, k), java.util.Arrays.copyOf(vs, k))
    }

    def rows(i: Int): Iterator[RawSample] = {
      val (ts, vs) = series(i)
      val name = names(i)
      Iterator.range(0, ts.length).map { k =>
        val v = vs(k).toString
        RawSample(name, ts(k), v, v)
      }
    }

    /** Related-PV pairs (pv1 < pv2, score): each PV relates to a few
      * seeded neighbours, as a PV-list file would declare them.
      */
    def pairs: Seq[(String, String, Long)] = {
      val r = rng(seed, 5L)
      (0 until size).flatMap { i =>
        Seq.fill(1 + r.nextInt(4)) {
          val j = r.nextInt(size)
          val (a, b) = if (names(i) < names(j)) (names(i), names(j)) else (names(j), names(i))
          (a, b, 1L + r.nextInt(20))
        }.filter(p => p._1 != p._2)
      }.groupBy(p => (p._1, p._2)).map { case ((a, b), ps) => (a, b, ps.map(_._3).max) }
        .toSeq.sortBy(p => (p._1, p._2))
    }
  }
}
