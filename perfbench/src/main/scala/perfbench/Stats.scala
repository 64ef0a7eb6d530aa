package perfbench

/** Percentiles and the open-loop freshness/backlog arithmetic, kept free of
  * Spark so they are unit-testable on hand-built inputs.
  */
object Stats {

  /** Nearest-rank percentile of `xs` (need not be sorted); NaN when empty. */
  def percentile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1))
    }

  def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Median of a mix: each sample is a (kind, value), and each kind carries
    * its fixed weight in `weights` however many of its samples a run holds,
    * so the result does not depend on which ops the time window cut off.
    * The lower weighted median; kinds without samples drop out.
    */
  def mixMedian(samples: Seq[(String, Double)], weights: Map[String, Double]): Double = {
    val byKind = samples.groupBy(_._1)
    val w = byKind.toSeq.flatMap { case (k, xs) => xs.map(x => (x._2, weights(k) / xs.size)) }.sortBy(_._1)
    val half = w.map(_._2).sum / 2
    w.scanLeft((Double.NaN, 0.0)) { case ((_, acc), (x, wx)) => (x, acc + wx) }.tail
      .find(_._2 >= half - 1e-12).map(_._1).getOrElse(Double.NaN)
  }

  /** Mean of a mix, each kind weighted as in [[mixMedian]]. */
  def mixMean(samples: Seq[(String, Double)], weights: Map[String, Double]): Double = {
    val byKind = samples.groupBy(_._1)
    byKind.map { case (k, xs) => weights(k) * xs.map(_._2).sum / xs.size }.sum /
      byKind.keys.toSeq.map(weights).sum
  }

  /** Samples strictly beyond the nearest-rank `p`-th percentile of `n`. */
  def beyond(n: Int, p: Double): Int = n - math.max(1, math.ceil(p / 100.0 * n).toInt)

  /** The highest of the tail percentiles that leaves at least 10 samples
    * beyond it, or None when even p75 does not.
    */
  def tailLevel(n: Int): Option[Double] =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => beyond(n, p) >= 10)

  /** One chunk the open-loop generator offered: when it was due, and how
    * many rows it held. */
  final case class Chunk(dueMs: Long, rows: Long)

  /** One micro-batch as its progress reports it: when its trigger started,
    * how long the trigger ran (commit included), and its input rows. */
  final case class Batch(startMs: Long, durationMs: Long, inputRows: Long) {
    def commitMs: Long = startMs + durationMs
  }

  /** Freshness of every chunk: the commit time of the micro-batch that
    * consumed its last row, minus the time the chunk was due. The file
    * source consumes whole files oldest first, so chunk `k` is complete in
    * the first batch whose cumulative input reaches the cumulative row
    * count through chunk `k`. Chunks no batch completed are left out.
    */
  def freshness(chunks: Seq[Chunk], batches: Seq[Batch]): Seq[Long] = {
    val data = batches.filter(_.inputRows > 0).sortBy(_.startMs)
    val cum = data.scanLeft(0L)(_ + _.inputRows).tail
    var b = 0
    var through = 0L
    chunks.flatMap { c =>
      through += c.rows
      while (b < data.size && cum(b) < through) b += 1
      if (b < data.size) Some(data(b).commitMs - c.dueMs) else None
    }
  }

  /** Rows offered but not yet committed, sampled at every batch commit. */
  def backlog(chunks: Seq[Chunk], batches: Seq[Batch]): Seq[Long] = {
    val data = batches.sortBy(_.startMs)
    var done = 0L
    data.map { b =>
      done += b.inputRows
      chunks.filter(_.dueMs <= b.commitMs).map(_.rows).sum - done
    }
  }

  /** An offered rate is unsustainable when the backlog grows for the whole
    * phase: every sample of its second half exceeds every sample of its
    * first half.
    */
  def unsustainable(backlog: Seq[Long]): Boolean =
    backlog.size >= 4 && {
      val (a, b) = backlog.splitAt(backlog.size / 2)
      b.min > a.max
    }
}
