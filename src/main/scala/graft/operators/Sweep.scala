package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.sql.{Dataset, Encoder, Encoders, SparkSession}

/** The pair-sweep kernels, each defined once: the vector norm and dot
  * product, the rounded cosine score with its threshold quick reject, the
  * bounded top-k buffer, and the broadcast sweep scaffold. The broadcast and
  * blocked twins of the embedding, near-duplicate and tf-idf operators all
  * call them, so the twins return the same rows by construction.
  *
  * The scaffold abstracts per-row work only. Each operator's per-pair loop
  * stays a direct `while` calling these small final methods on primitive
  * arrays: one shared inner loop handed several closures goes megamorphic
  * and the JIT stops inlining the O(n²) body.
  */
private[operators] object Sweep {

  /** Spark `round(_, 6)` semantics (RoundBase: BigDecimal.valueOf + HALF_UP)
    * for executor-side code that must match Column results, including
    * NaN/Infinity passthrough (BigDecimal.valueOf would throw; Spark's round
    * leaves them unchanged).
    */
  def round6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else java.math.BigDecimal.valueOf(x).setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Dot product accumulated in double, in index order, over the shorter
    * vector: one fixed order, so every sweep scores a pair bit-identically.
    */
  def dot(a: Array[Float], b: Array[Float]): Double = {
    val len = math.min(a.length, b.length)
    var s = 0.0; var t = 0
    while (t < len) { s += a(t).toDouble * b(t).toDouble; t += 1 }
    s
  }

  def norm(v: Array[Float]): Double = math.sqrt(dot(v, v))

  /** The unrounded cosine of a pair from its dot product and norms. */
  def cosine(ab: Double, na: Double, nb: Double): Double = ab / (na * nb)

  /** The pair score `round6(cosine)` when it is at least `threshold`, else
    * NaN. `round6` moves a value by < 5e-7, so a raw cosine below
    * `threshold − 1e-6` can never round up across it: the quick reject skips
    * the BigDecimal for the non-match majority without changing a result.
    */
  def cos6(ab: Double, na: Double, nb: Double, threshold: Double): Double = {
    val raw = cosine(ab, na, nb)
    if (raw < threshold - 1e-6) Double.NaN
    else {
      val sim = round6(raw)
      if (sim >= threshold) sim else Double.NaN
    }
  }

  /** The `k` best neighbours of one query, ordered by `round6` similarity
    * descending, then id ascending — `ORDER BY sim DESC, id` in Spark's SQL
    * double order ([[TimeSeries.sqlCompare]]): NaN, the score of a zero
    * vector, ranks above every number, and -0.0 ties 0.0. With `labels`,
    * each slot also carries one long payload that moves with its neighbour.
    */
  final class TopK(k: Int, labels: Boolean = false) {
    val sims = new Array[Double](k)
    val ids = new Array[Long](k)
    val payload: Array[Long] = if (labels) new Array[Long](k) else null
    var size = 0

    /** Offers neighbour `id` by its unrounded cosine. A full buffer turns
      * the pair away before the `round6` when `raw` is more than 1e-6 below
      * its last similarity (see [[cos6]]): it could not round into it.
      */
    def offer(raw: Double, id: Long, label: Long = 0L): Unit = {
      if (size == k && (k == 0 || raw < sims(k - 1) - 1e-6)) return
      val sim = round6(raw)
      var pos = size
      while (pos > 0 && ranksBefore(sim, id, pos - 1)) pos -= 1
      if (pos < k) {
        var s = math.min(size, k - 1)
        while (s > pos) {
          sims(s) = sims(s - 1); ids(s) = ids(s - 1)
          if (payload != null) payload(s) = payload(s - 1)
          s -= 1
        }
        sims(pos) = sim; ids(pos) = id
        if (payload != null) payload(pos) = label
        if (size < k) size += 1
      }
    }

    private def ranksBefore(sim: Double, id: Long, slot: Int): Boolean = {
      val c = TimeSeries.sqlCompare(sim, sims(slot))
      c > 0 || (c == 0 && id < ids(slot))
    }
  }

  /** The broadcast sweep: `shared` (the caller's rows, collected and sorted
    * by id, with any per-row side arrays) is broadcast once, and each row
    * index of `0 until n` runs `perRow(shared, i)` in a task of
    * `spark.range(n)` spread over `defaultParallelism` partitions — the
    * spread balances the triangle sweeps, whose row cost falls with `i`.
    */
  def broadcastRows[S: ClassTag, O: Encoder](spark: SparkSession, n: Int, shared: S)(
      perRow: (S, Int) => Iterator[O]): Dataset[O] = {
    val bc = spark.sparkContext.broadcast(shared)
    spark.range(n.toLong)
      .repartition(spark.sparkContext.defaultParallelism)
      .as(Encoders.scalaLong)
      .mapPartitions { it =>
        val s = bc.value
        it.flatMap(i => perRow(s, i.toInt))
      }
  }
}
