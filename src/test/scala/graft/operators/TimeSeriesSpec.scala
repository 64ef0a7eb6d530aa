package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class TimeSeriesSpec extends SparkSpec {

  private def events = {
    val sp = spark
    import sp.implicits._
    Seq(
      // (key, ts, id, value)
      ("a", 10L, 1L, 1.0), ("a", 20L, 2L, 5.0), ("a", 30L, 3L, 2.0), ("a", 40L, 4L, 9.0),
      ("b", 15L, 5L, 7.0), ("b", 25L, 6L, 3.0)).toDF("k", "ts", "id", "v")
  }

  test("rangeScan filters key + half-open range, ordered") {
    val got = TimeSeries.rangeScan(events, col("k"), "a", "ts", 20L, 40L)
      .collect().map(_.getAs[Long]("ts"))
    assert(got.toSeq == Seq(20L, 30L))
  }

  test("getData prepends exactly one point before tmin") {
    val got = TimeSeries.getData(events, col("k"), "a", "ts", "id", 25L, 45L)
      .collect().map(_.getAs[Long]("ts"))
    assert(got.toSeq == Seq(20L, 30L, 40L))
    // window starting before any data: no early point
    val none = TimeSeries.getData(events, col("k"), "a", "ts", "id", 5L, 15L)
      .collect().map(_.getAs[Long]("ts"))
    assert(none.toSeq == Seq(10L))
  }

  test("valueAtTime picks the at-or-before row per key") {
    val got = TimeSeries.valueAtTime(events, "k", "ts", "id", 25L)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("ts"))).sortBy(_._1)
    assert(got.toSeq == Seq(("a", 20L), ("b", 25L)))
  }

  test("sessionize: idle gaps split sessions per key; rollup counts match") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("a", 0L), ("a", 5L), ("a", 9L), // gaps 5, 4 <= 10 -> one session
      ("a", 20L),                      // gap 11 > 10 -> new session
      ("b", 100L)
    ).toDF("k", "t")
    val got = TimeSeries.sessionStats(df, "k", "t", gapUs = 10L)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("session_idx"),
        r.getAs[Long]("start_us"), r.getAs[Long]("end_us"), r.getAs[Long]("n_events")))
      .sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(
      ("a", 1L, 0L, 9L, 3L), ("a", 2L, 20L, 20L, 1L), ("b", 1L, 100L, 100L, 1L)))
    // per-key window only — the plan must not collapse to one partition
    val plan = TimeSeries.sessionize(df, "k", "t", 10L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("asofJoin: latest right row at-or-before each left row, per key") {
    val sp = spark
    import sp.implicits._
    val probes = Seq( // (key, ts, probe_id)
      ("a", 10L, 1L), ("a", 20L, 2L), ("a", 25L, 3L),
      ("b", 5L, 4L),  // before any b sample -> null
      ("b", 30L, 5L)
    ).toDF("k", "pt", "probe_id")
    val samples = Seq( // (key, ts, v); 20 ties probe 2's timestamp exactly
      ("a", 8L, 1.0), ("a", 20L, 2.0), ("a", 21L, 3.0),
      ("b", 6L, 10.0), ("b", 30L, 11.0)
    ).toDF("k", "st", "v")
    val got = TimeSeries.asofJoin(probes, samples, "k", "pt", "st", Seq("v"))
      .collect()
      .map(r => (r.getAs[Long]("probe_id"), Option(r.getAs[java.lang.Double]("v")).map(_.toDouble)))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, Some(1.0)),  // 8 <= 10
      (2L, Some(2.0)),  // tie at 20: >= semantics, the tied row wins
      (3L, Some(3.0)),  // 21 <= 25
      (4L, None),       // nothing at or before 5
      (5L, Some(11.0)))) // tie at 30
    // one shuffle by key, no global window
    val plan = TimeSeries.asofJoin(probes, samples, "k", "pt", "st", Seq("v"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("latestPerKey keeps newest row with all requested values") {
    val got = TimeSeries.latestPerKey(events, "k", "ts", "id", Seq("v"))
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("ts"), r.getAs[Double]("v")))
      .sortBy(_._1)
    assert(got.toSeq == Seq(("a", 40L, 9.0), ("b", 25L, 3.0)))
  }

  test("locfAlign carries values forward and drops incomplete rows") {
    val sp = spark
    import sp.implicits._
    // EPICS names carry a record field; its `.` is part of the PV name
    Seq(("x", "y"), ("13BMA:m1.VAL", "13BMA:m2.RBV")).foreach { case (x, y) =>
      val df = Seq(
        (x, 10L, 1.0), (y, 20L, 5.0), (x, 30L, 2.0), (y, 40L, 6.0))
        .toDF("k", "ts", "v")
      val got = TimeSeries.locfAlign(df, "k", "ts", "v", Seq(x, y), 0L, 100L)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double](x), r.getAs[Double](y)))
      // ts=10 dropped (y missing); x carried forward at 20 and 40
      assert(got.toSeq == Seq((20L, 1.0, 5.0), (30L, 2.0, 5.0), (40L, 2.0, 6.0)), s"keys $x, $y")
    }
  }

  test("downsampleBatch keeps first and rows passing BOTH deadtime and deadband") {
    val sp = spark
    import sp.implicits._
    val df = Seq(
      ("p", 0L, 1L, 1.0), // first -> keep
      ("p", 5L, 2L, 9.0), // big move but inside deadtime -> drop
      ("p", 30L, 3L, 9.1), // deadtime passed but |9.1-9.0| < band -> drop
      ("p", 60L, 4L, 2.0)) // deadtime AND band passed -> keep
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.downsampleBatch(df, "k", "ts", "id", "v", deadtimeUs = 20L, deadband = 0.5)
      .collect().map(_.getAs[Long]("ts"))
    assert(got.toSeq.sorted == Seq(0L, 60L))
  }

  // ---- plain-Scala model of Q1 cull_data (web_utils.py:131-161) and the
  // webapp.py:396-401 loop, under Spark SQL's double semantics ----

  private type Pt = (Long, Long, Option[Double]) // (ts, id, value)

  /** Spark SQL `a < b` on doubles: NaN is the greatest value and equals
    * itself; -0.0 equals 0.0. */
  private def sqlLt(a: Double, b: Double): Boolean = !a.isNaN && (b.isNaN || a < b)

  /** Spark's exact `percentile`: linear interpolation at (n-1)·p. */
  private def modelPercentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sortWith(sqlLt)
    val pos = (s.size - 1) * p
    val (l, h) = (math.floor(pos).toInt, math.ceil(pos).toInt)
    if (l == h || s(l) == s(h)) s(l) else (h - pos) * s(l) + (pos - l) * s(h)
  }

  /** One cull_data pass over points already in (ts, id) order. */
  private def modelPass(pts: Seq[Pt], sample: Int, percent: Double): Seq[Pt] = {
    val xs = pts.flatMap(_._3)
    val band = if (xs.isEmpty) None
      else Some((modelPercentile(xs, percent / 100.0), modelPercentile(xs, (100.0 - percent) / 100.0)))
    def outlier(v: Double) = band.exists { case (lo, hi) => sqlLt(v, lo) || sqlLt(hi, v) }
    pts.zipWithIndex.collect { case (p, k) if k % sample == 0 || p._3.exists(outlier) => p }
  }

  /** The loop to the cap: the survivors, why it stopped, and its passes. */
  private def modelToCap(pts: Seq[Pt], sample: Int, percent: Double, cap: Long,
      maxIters: Int): (Seq[Pt], String, Int) = {
    @annotation.tailrec
    def go(cur: Seq[Pt], i: Int): (Seq[Pt], String, Int) =
      if (cur.size <= cap) (cur, "under-cap", i)
      else if (i == maxIters) (cur, "max-iters", i)
      else {
        val next = modelPass(cur, sample, percent)
        if (next.size >= cur.size) (next, "no-shrink", i + 1) else go(next, i + 1)
      }
    go(pts.sortBy(p => (p._1, p._2)), 0)
  }

  /** `n` points in shuffled order: three per timestamp, ids out of ts
    * order, quarter-step values (many duplicates), and `special` of them
    * null, NaN, 0.0 or -0.0. */
  private def cullInput(seed: Int, n: Int, special: Double = 0.1): Seq[Pt] = {
    val rng = new scala.util.Random(seed)
    val odd = Seq(None, Some(Double.NaN), Some(0.0), Some(-0.0))
    rng.shuffle((0 until n).map { i =>
      val v = if (rng.nextDouble() < special) odd(rng.nextInt(odd.size))
        else Some(math.round(rng.nextGaussian() * 40) / 4.0)
      (i / 3L, i * 7919L % n, v)
    })
  }

  private def cullFrame(pts: Seq[Pt]) = {
    val sp = spark
    import sp.implicits._
    pts.toDF("ts", "id", "v")
  }

  /** Rows as points, with values compared bit for bit (-0.0 is not 0.0). */
  private def asPts(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Option[Long])] =
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
      if (r.isNullAt(2)) None else Some(java.lang.Double.doubleToLongBits(r.getDouble(2)))))

  private def bits(pts: Seq[Pt]) =
    pts.map(p => (p._1, p._2, p._3.map(java.lang.Double.doubleToLongBits)))

  test("decimate keeps every nth point plus percentile outliers") {
    // (seed, n, share of null/NaN/±0.0, sample, percent); the 0.6 share
    // puts NaN inside the band, so the high percentile itself is NaN
    Seq((1, 100, 0.0, 10, 5.0), (2, 997, 0.1, 5, 10.0), (3, 600, 0.6, 3, 15.0), (4, 2, 0.0, 3, 15.0))
      .foreach { case (seed, n, special, sample, percent) =>
        val pts = cullInput(seed, n, special)
        val got = asPts(TimeSeries.decimate(cullFrame(pts), "ts", "id", "v", sample, percent))
        assert(got == bits(modelPass(pts.sortBy(p => (p._1, p._2)), sample, percent)), s"seed $seed")
      }
    // the spike survives as an outlier between the sample points
    val spike = (1 to 100).map(i => (i.toLong, i.toLong, Some(if (i == 50) 1000.0 else i.toDouble)))
    val got = asPts(TimeSeries.decimate(cullFrame(spike), "ts", "id", "v", sample = 10, percent = 5.0))
    assert(got.map(_._1).contains(50L) && got == bits(modelPass(spike, 10, 5.0)))
  }

  test("property: getData/valueAtTime match a brute-force oracle on random series") {
    val sp = spark
    import sp.implicits._
    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(100 + seed)
      val rows = (0 until 200).map(i => ("k" + rng.nextInt(3), rng.nextLong(1000L), i.toLong, rng.nextDouble()))
      val df = rows.toDF("k", "ts", "id", "v")
      val t0 = 250L + rng.nextLong(200L)
      val t1 = t0 + 300L

      val got = TimeSeries.getData(df, col("k"), "k1", "ts", "id", t0, t1)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Long]("id"))).toSeq
      val series = rows.filter(_._1 == "k1").map(r => (r._2, r._3))
      val early = series.filter(_._1 < t0).sorted.lastOption.toSeq
      val want = (early ++ series.filter(r => r._1 >= t0 && r._1 < t1)).sorted
      assert(got.sorted == want, s"getData seed=$seed")

      val t = 500L
      val gotV = TimeSeries.valueAtTime(df, "k", "ts", "id", t)
        .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("ts"), r.getAs[Long]("id"))).toSet
      val wantV = rows.filter(_._2 <= t).groupBy(_._1).map { case (k, rs) =>
        val best = rs.map(r => (r._2, r._3)).max
        (k, best._1, best._2)
      }.toSet
      assert(gotV == wantV, s"valueAtTime seed=$seed")
    }
  }

  test("property: locfAlignChunked is identical to locfAlign across chunk widths") {
    val sp = spark
    import sp.implicits._
    for {
      keys <- Seq(Seq("x", "y"), Seq("13BMA:m1.VAL", "13BMA:m2.RBV"))
      seed <- 1 to 3
    } {
      val rng = new scala.util.Random(200 + seed)
      val rows = for {
        k <- keys
        _ <- 0 until 40
      } yield (k, rng.nextLong(5000L), rng.nextDouble())
      val df = rows.toDF("k", "ts", "v")
      val plain = TimeSeries.locfAlign(df, "k", "ts", "v", keys, 500L, 4500L)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
      Seq(100L, 999L, 10000L).foreach { w =>
        val chunked = TimeSeries.locfAlignChunked(df, "k", "ts", "v", keys, 500L, 4500L, w)
          .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
        assert(chunked == plain, s"keys=$keys seed=$seed chunk=$w")
      }
    }
  }

  test("property: LOCF invariants — grid = union of input timestamps, values piecewise-constant") {
    val sp = spark
    import sp.implicits._
    (1 to 5).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val rows = for {
        k <- Seq("x", "y", "z")
        i <- 0 until 30
      } yield (k, rng.nextLong(10000L), rng.nextDouble())
      val df = rows.toDF("k", "ts", "v")
      val got = TimeSeries.locfAlign(df, "k", "ts", "v", Seq("x", "y", "z"), 0L, 10001L)
        .collect().map(r => (r.getAs[Long]("ts"), r.getAs[Double]("x"), r.getAs[Double]("y"), r.getAs[Double]("z")))
      // 1. output timestamps ⊆ union of input timestamps, each appearing once
      val inputTs = rows.map(_._2).toSet
      assert(got.map(_._1).forall(inputTs.contains))
      assert(got.map(_._1).distinct.length == got.length)
      // 2. after the first complete row, every input timestamp appears
      if (got.nonEmpty) {
        val start = got.head._1
        assert(inputTs.count(_ >= start) == got.length)
      }
      // 3. per series: value at each grid ts equals the input's latest value
      //    at-or-before that ts (ties resolved by max — the pivot agg)
      val byKey = rows.groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).sortBy(identity)).toMap
      def expectAt(k: String, ts: Long): Double = {
        val elig = byKey(k).filter(_._1 <= ts)
        elig.filter(_._1 == elig.last._1).map(_._2).max
      }
      got.foreach { case (ts, x, y, z) =>
        assert(x == expectAt("x", ts) && y == expectAt("y", ts) && z == expectAt("z", ts))
      }
    }
  }

  test("decimateToCap loops until under the plot cap (webapp.py:396-401)") {
    val wave = (1 to 2000).map(i => (i.toLong, i.toLong, Some(math.sin(i / 10.0) * 100)))
    val distinct = new scala.util.Random(5).shuffle((0 until 301).map(i => (i.toLong, i.toLong, Some(i * 1.5))))
    // (input, cap, sample, percent, maxIters, expected stop, expected passes)
    Seq(
      (wave, 300L, 3, 15.0, 16, "under-cap", 4),
      (cullInput(6, 2000), 300L, 3, 15.0, 16, "under-cap", 4),
      (cullInput(7, 500), 500L, 3, 15.0, 16, "under-cap", 0), // exactly at the cap
      (cullInput(8, 2000), 10L, 3, 15.0, 2, "max-iters", 2),
      // percent 50: the band shrinks to the median; once the count is even
      // the median falls between two values and every row is an outlier
      (distinct, 1L, 1000, 50.0, 16, "no-shrink", 2)
    ).zipWithIndex.foreach { case ((pts, cap, sample, percent, maxIters, stop, passes), i) =>
      val (want, why, n) = modelToCap(pts, sample, percent, cap, maxIters)
      assert((why, n) == ((stop, passes)), s"case $i: the model stopped by $why after $n passes")
      val got = TimeSeries.decimateToCap(cullFrame(pts), "ts", "id", "v", cap, sample, percent, maxIters)
      assert(asPts(got) == bits(want), s"case $i")
    }
  }

  test("in-task percentile matches Spark's exact percentile on random doubles with duplicates") {
    val sp = spark
    import sp.implicits._
    (1 to 4).foreach { seed =>
      val rng = new scala.util.Random(seed)
      val xs = Seq.fill(1 + rng.nextInt(400))(rng.nextInt(40) / 4.0 - 3.0) ++
        Seq.fill(rng.nextInt(20))(rng.nextGaussian() * 1e6) ++
        (seed match { case 3 => Seq(Double.NaN, Double.NaN); case 4 => Seq(-0.0, 0.0, 0.0); case _ => Nil })
      val ps = Seq(0.0, 0.1, 0.15, 0.5, 0.85, 0.9, 1.0, rng.nextDouble())
      val row = xs.toDF("v").agg(percentile(col("v"), lit(ps.head)), ps.tail.map(p => percentile(col("v"), lit(p))): _*)
        .head()
      val sorted = xs.toArray
      java.util.Arrays.sort(sorted)
      ps.zipWithIndex.foreach { case (p, i) =>
        val (got, want) = (TimeSeries.exactPercentile(sorted, p), row.getDouble(i))
        // NaN equals NaN; the sign of a zero bound changes no comparison
        assert(got == want || got.isNaN && want.isNaN, s"seed $seed p $p: $got vs Spark $want")
      }
    }
  }

  test("runsOverlapping derives only runs intersecting the window") {
    val sp = spark
    import sp.implicits._
    val df = (0 until 100).map(i => Tuple1(i.toLong * 10)).toDF("ts")
    val got = TimeSeries.runsOverlapping(df, "ts", widthUs = 100L, q0 = 250L, q1 = 450L)
      .collect().map(_.getAs[Long]("run_id"))
    assert(got.toSeq == Seq(2L, 3L, 4L))
  }

  test("interpolateLinear: grid hits samples exactly, interpolates between, LOCF tail, null head") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 10L, 10.0), ("a", 10L, 5.0), // duplicate instant collapses to max
      ("a", 30L, 30.0),
      ("b", 25L, 7.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.interpolateLinear(rows, "k", "ts", "v", t0 = 0L, t1 = 40L, stepUs = 10L)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("ts")),
        Option(r.getAs[Any]("value")))).toMap
    assert(got(("a", 0L)).isEmpty) // before the first sample
    assert(got(("a", 10L)) == Some(10.0)) // exactly on a (deduped) sample
    assert(got(("a", 20L)) == Some(20.0)) // midpoint
    assert(got(("a", 30L)) == Some(30.0))
    assert(got(("a", 40L)) == Some(30.0)) // LOCF past the last sample
    assert(got(("b", 20L)).isEmpty && got(("b", 30L)) == Some(7.0))
    assert(got.size == 10) // 2 keys x 5 grid points
  }

  test("trailingStats: strictly-preceding baseline, window expiry, z-score gates") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 0L, 10.0), // no baseline
      ("a", 10L, 20.0), // baseline {10}: n=1, mean only
      ("a", 20L, 30.0), // baseline {10, 20}: mean 15, std ~7.07, z = 15/7.07
      ("a", 200L, 5.0), // window 50: everything expired -> no baseline
      ("b", 10L, 7.0), ("b", 15L, 7.0), ("b", 20L, 99.0)) // constant baseline: z null
      .toDF("k", "ts", "v")
    val got = TimeSeries.trailingStats(rows, "k", "ts", "v", windowUs = 50L)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("ts")),
        (r.getAs[Long]("n_prev"), Option(r.getAs[Any]("mean_prev")),
          Option(r.getAs[Any]("std_prev")), Option(r.getAs[Any]("z")))))
      .toMap
    assert(got(("a", 0L)) == ((0L, None, None, None)))
    assert(got(("a", 10L)) == ((1L, Some(10.0), None, None)))
    val a20 = got(("a", 20L))
    assert(a20._1 == 2L && a20._2 == Some(15.0))
    assert(a20._3 == Some(7.071068) && a20._4 == Some(2.12132))
    assert(got(("a", 200L)) == ((0L, None, None, None)))
    // constant baseline: stddev 0 -> std reported, z gated off
    assert(got(("b", 20L)) == ((2L, Some(7.0), Some(0.0), None)))
  }

  test("bucketRollup: deterministic OHLC per bucket, dup instants collapse to max") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 5L, 2.0), ("a", 5L, 4.0), // same instant: dedupe to 4.0 -> open
      ("a", 7L, 1.0), ("a", 9L, 3.0), // close = 3.0, low = 1.0
      ("a", 12L, 8.0), // second bucket
      ("b", 3L, 6.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.bucketRollup(rows, "k", "ts", "v", widthUs = 10L)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("bucket")),
        (r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
          r.getAs[Double]("close"), r.getAs[Long]("n"), r.getAs[Double]("mean"))))
      .toMap
    assert(got(("a", 0L)) == ((4.0, 4.0, 1.0, 3.0, 3L, 2.666667)))
    assert(got(("a", 1L)) == ((8.0, 8.0, 8.0, 8.0, 1L, 8.0)))
    assert(got(("b", 0L)) == ((6.0, 6.0, 6.0, 6.0, 1L, 6.0)))
    assert(got.size == 3)
  }

  test("histogram: equal-width bins, out-of-range clamps into edge bins, nulls dropped") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", Some(-5.0)), // below lo -> bin 0
      ("a", Some(0.0)), ("a", Some(9.9)), // bin 0
      ("a", Some(10.0)), // boundary -> bin 1
      ("a", Some(99.9)), ("a", Some(100.0)), ("a", Some(250.0)), // clamp -> bin 9
      ("a", None))
      .toDF("k", "v")
    val got = TimeSeries.histogram(rows, "k", "v", lo = 0.0, hi = 100.0, bins = 10)
      .collect()
      .map(r => (r.getAs[Long]("bin"), (r.getAs[Long]("n"), r.getAs[Double]("bin_lo"))))
      .toMap
    assert(got(0L) == ((3L, 0.0)))
    assert(got(1L) == ((1L, 10.0)))
    assert(got(9L) == ((3L, 90.0)))
    assert(got.size == 3) // empty bins are absent, null row dropped
  }

  test("deltaRate: per-key lag delta and per-second rate, first row null") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 0L, 10.0), ("a", 2000000L, 15.0), // +5 over 2 s -> 2.5/s
      ("a", 2000000L, 11.0), // dup instant collapses to max (15.0)
      ("a", 3000000L, 9.0), // -6 over 1 s
      ("b", 5L, 1.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.deltaRate(rows, "k", "ts", "v")
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("ts")),
        (Option(r.getAs[Any]("delta")), Option(r.getAs[Any]("rate_per_sec")))))
      .toMap
    assert(got(("a", 0L)) == ((None, None)))
    assert(got(("a", 2000000L)) == ((Some(5.0), Some(2.5))))
    assert(got(("a", 3000000L)) == ((Some(-6.0), Some(-6.0))))
    assert(got(("b", 5L)) == ((None, None)))
    assert(got.size == 4)
  }

  test("medianFilter: centered rolling median, edge frames shrink, spike flagged") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 10L, 1.0), ("a", 20L, 2.0), ("a", 30L, 99.0), // spike
      ("a", 40L, 3.0), ("a", 50L, 4.0), ("a", 60L, 5.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.medianFilter(rows, "k", "ts", "v", halfWindow = 2, spikeThresh = 10.0)
      .collect()
      .map(r => (r.getAs[Long]("ts"),
        (r.getAs[Double]("median"), r.getAs[Boolean]("is_spike"))))
      .toMap
    assert(got(10L) == ((2.0, false))) // head frame {1,2,99}: median 2
    assert(got(20L) == ((2.5, false))) // frame {1,2,99,3}: interpolated 2.5
    assert(got(30L) == ((3.0, true))) // frame {1,2,99,3,4}: median 3, |99-3| > 10
    assert(got(40L) == ((4.0, false))) // frame {2,99,3,4,5}: median 4
    assert(got(60L) == ((4.0, false))) // tail frame {3,4,5}: median 4
    assert(got.size == 6)
  }

  test("heatmap: time-bucket x value-bin occupancy with clamped edges") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 5L, 5.0), ("a", 7L, 15.0), ("a", 9L, 15.5), // bucket 0: bins 0, 1, 1
      ("a", 12L, 999.0), // bucket 1, clamped into bin 9
      ("b", 3L, -4.0)) // clamped into bin 0
      .toDF("k", "ts", "v")
    val got = TimeSeries.heatmap(rows, "k", "ts", "v",
      widthUs = 10L, lo = 0.0, hi = 100.0, bins = 10)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("bucket"), r.getAs[Long]("bin")),
        (r.getAs[Long]("n"), r.getAs[Double]("bin_lo"))))
      .toMap
    assert(got(("a", 0L, 0L)) == ((1L, 0.0)))
    assert(got(("a", 0L, 1L)) == ((2L, 10.0)))
    assert(got(("a", 1L, 9L)) == ((1L, 90.0)))
    assert(got(("b", 0L, 0L)) == ((1L, 0.0)))
    assert(got.size == 4)
  }

  test("timeWeightedAvg: LOCF segment weighting, pre-window seed, covered-time normalization") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      // key a: seed 2.0 at ts<t0 covers [100,140); 10.0 covers [140,200)
      ("a", 50L, 2.0), ("a", 140L, 10.0),
      // key b: no seed; first sample at 150 -> covered 50 only
      ("b", 150L, 4.0),
      // key c: sample exactly AT t0 beats the seed
      ("c", 80L, 1.0), ("c", 100L, 7.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.timeWeightedAvg(rows, "k", "ts", "v", t0 = 100L, t1 = 200L)
      .collect()
      .map(r => (r.getAs[String]("k"),
        (r.getAs[Double]("twa"), r.getAs[Long]("covered_us"), r.getAs[Long]("n"))))
      .toMap
    assert(got("a") == (((2.0 * 40 + 10.0 * 60) / 100, 100L, 2L))) // 6.8
    assert(got("b") == ((4.0, 50L, 1L)))
    assert(got("c") == ((7.0, 100L, 1L)))
  }

  test("ewma: seeded by first sample, folds in time order per key") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 30L, 8.0), // out of order on purpose: fold must sort by ts
      ("a", 10L, 4.0), ("a", 20L, 8.0),
      ("b", 5L, 100.0),
      (null.asInstanceOf[String], 1L, 7.0)) // null key: dropped, not folded
      .toDF("k", "ts", "v")
    val got = TimeSeries.ewma(rows, "k", "ts", "v", alpha = 0.5)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("ts")), r.getAs[Double]("ewma")))
      .toMap
    assert(got(("a", 10L)) == 4.0) // s1 = v1
    assert(got(("a", 20L)) == 6.0) // 0.5*4 + 0.5*8
    assert(got(("a", 30L)) == 7.0) // 0.5*6 + 0.5*8
    assert(got(("b", 5L)) == 100.0)
    assert(got.size == 4) // the null-key row is dropped
  }

  test("gaps: lists only intervals beyond the threshold, per key") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 0L), ("a", 10L), ("a", 100L), ("a", 105L), ("a", 300L),
      ("b", 0L), ("b", 20L))
      .toDF("k", "ts")
    val got = TimeSeries.gaps(rows, "k", "ts", minGapUs = 50L)
      .collect()
      .map(r => (r.getAs[String]("k"), r.getAs[Long]("gap_start"),
        r.getAs[Long]("gap_end"), r.getAs[Long]("gap_us"))).toSet
    assert(got == Set(("a", 10L, 100L, 90L), ("a", 105L, 300L, 195L)))
  }

  test("percentileBands: exact interpolated envelope per bucket") {
    val sp = spark
    import sp.implicits._
    val rows = (1 to 9).map(i => ("a", i.toLong, i.toDouble)) :+ (("a", 12L, 100.0))
    val got = TimeSeries.percentileBands(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      widthUs = 10L)
      .collect()
      .map(r => (r.getAs[Long]("bucket"),
        (r.getAs[Long]("n"), r.getAs[Double]("p10"), r.getAs[Double]("p50"),
          r.getAs[Double]("p90")))).toMap
    // bucket 0 holds 1..9: p10 = 1.8, p50 = 5, p90 = 8.2 (interpolated)
    assert(got(0L) == ((9L, 1.8, 5.0, 8.2)))
    assert(got(1L) == ((1L, 100.0, 100.0, 100.0)))
  }

  test("autocorrelation: alternating series has acf -1 at lag 1, +1 at lag 2") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 12).map(i => ("a", i.toLong, if (i % 2 == 0) 1.0 else 5.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.autocorrelation(rows, "k", "ts", "v", maxLag = 3)
      .collect()
      .map(r => (r.getAs[Long]("lag"), (r.getAs[Long]("n"), Option(r.getAs[Any]("acf")))))
      .toMap
    assert(got(1L) == ((11L, Some(-1.0))))
    assert(got(2L) == ((10L, Some(1.0))))
    assert(got(3L) == ((9L, Some(-1.0))))
  }

  test("autocorrelation: too-short and constant series yield null acf") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(("a", 1L, 3.0), ("a", 2L, 3.0), ("a", 3L, 3.0), ("b", 1L, 9.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.autocorrelation(rows, "k", "ts", "v", maxLag = 2)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("lag")),
        (r.getAs[Long]("n"), Option(r.getAs[Any]("acf"))))).toMap
    assert(got(("a", 1L)) == ((2L, None))) // constant -> zero variance
    assert(got(("b", 1L)) == ((0L, None))) // no overlapping pair
    assert(got(("b", 2L)) == ((0L, None)))
  }

  test("throttle: keeps the first N per key per window by (ts, tieBreak)") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      ("a", 1L, 1L, 1.0), ("a", 2L, 2L, 2.0), ("a", 3L, 3L, 3.0), // window 0: drop ts=3
      ("a", 5L, 5L, 5.0), ("a", 5L, 4L, 4.5), // same ts: tiebreak keeps id 4 then 5... cap 2
      ("a", 12L, 6L, 6.0), // window 1
      ("b", 1L, 7L, 7.0))
      .toDF("k", "ts", "id", "v")
    val got = TimeSeries.throttle(rows, "k", "ts", "id", windowUs = 10L, perWindow = 2)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("id"))).toSet
    assert(got == Set(("a", 1L), ("a", 2L), ("a", 6L), ("b", 7L)))
  }

  test("flatline: longest run (ties earliest), tail run, staleness to last change") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(
      // a: runs [7,7,7] (len 3, start 10), [9] (len 1), [7,7] (len 2, tail)
      ("a", 10L, 7.0), ("a", 20L, 7.0), ("a", 30L, 7.0),
      ("a", 40L, 9.0),
      ("a", 50L, 7.0), ("a", 60L, 7.0),
      // b: two len-2 runs -> earliest wins
      ("b", 10L, 1.0), ("b", 20L, 1.0), ("b", 30L, 2.0), ("b", 40L, 2.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.flatline(rows, "k", "ts", "v")
      .collect()
      .map(r => (r.getAs[String]("k"),
        (r.getAs[Long]("n_samples"), r.getAs[Long]("longest_flat"),
          r.getAs[Double]("flat_value"), r.getAs[Long]("tail_run"),
          r.getAs[Long]("stale_us"))))
      .toMap
    assert(got("a") == ((6L, 3L, 7.0, 2L, 10L))) // last change at 50, last sample 60
    assert(got("b") == ((4L, 2L, 1.0, 2L, 10L))) // tie -> the earlier (value 1.0) run
  }

  test("cusum: accumulates drift above slack, resets at zero, alarms past h") {
    val sp = spark
    import sp.implicits._
    // target 10, slack 1: values at 10 accumulate nothing; a +5 step drifts
    // s_pos by 4 per sample until the alarm at > 8
    val rows = Seq(
      ("a", 1L, 10.0), ("a", 2L, 15.0), ("a", 3L, 15.0), ("a", 4L, 15.0),
      ("b", 1L, 4.0), ("b", 2L, 10.0))
      .toDF("k", "ts", "v")
    val got = TimeSeries.cusum(rows, "k", "ts", "v", target = 10.0, slack = 1.0, h = 8.0)
      .collect()
      .map(r => ((r.getAs[String]("k"), r.getAs[Long]("ts")),
        (r.getAs[Double]("s_pos"), r.getAs[Double]("s_neg"), r.getAs[Boolean]("alarm"))))
      .toMap
    assert(got(("a", 1L)) == ((0.0, 0.0, false))) // on target
    assert(got(("a", 2L)) == ((4.0, 0.0, false)))
    assert(got(("a", 3L)) == ((8.0, 0.0, false))) // at h, not past it
    assert(got(("a", 4L)) == ((12.0, 0.0, true)))
    assert(got(("b", 1L)) == ((0.0, -5.0, false))) // downward drift
    assert(got(("b", 2L)) == ((0.0, -4.0, false))) // recovering toward 0
  }

  test("spearmanMatrix: +1 for any monotone relation, ties get average ranks") {
    val sp = spark
    import sp.implicits._
    // y = x^3 is nonlinear but monotone: Pearson < 1, Spearman exactly 1;
    // z reverses x; t has a tie pair
    // plain names, then EPICS names whose record field holds a `.`
    Seq(Seq("x", "y", "z", "t"),
        Seq("13BMA:m1.VAL", "13BMA:m2.VAL", "13BMA:m3.VAL", "13BMA:m4.VAL")).foreach { names =>
      val Seq(x, y, z, t) = names
      val aligned = Seq(
        (1.0, 1.0, 9.0, 5.0), (2.0, 8.0, 8.0, 5.0),
        (3.0, 27.0, 7.0, 6.0), (4.0, 64.0, 6.0, 7.0))
        .toDF(names: _*)
      val got = TimeSeries.spearmanMatrix(aligned, names)
        .collect()
        .map(r => ((r.getAs[String]("k1"), r.getAs[String]("k2")),
          Option(r.getAs[Any]("corr")))).toMap
      assert(got((x, y)) == Some(1.0))
      assert(got((x, z)) == Some(-1.0))
      // t's ranks: {1.5, 1.5, 3, 4} vs x's {1,2,3,4} -> corr < 1 but high
      val xt = got((x, t)).get.asInstanceOf[Double]
      assert(xt > 0.9 && xt < 1.0, xt.toString)
      // Pearson on x-y is NOT 1 (that's the point of Spearman)
      val pearson = TimeSeries.correlationMatrix(aligned, Seq(x, y))
        .collect().head.getAs[Double]("corr")
      assert(pearson < 1.0)
    }
  }

  test("seasonalProfile: integer hour/dow cells (epoch day 0 is a Thursday)") {
    val sp = spark
    import sp.implicits._
    val hourUs = 3600000000L
    val dayUs = 86400000000L
    val rows = Seq(
      ("a", 3L * hourUs, 10.0), // Thu 03:00 -> (3, 4+0 % 7 = 4)
      ("a", 3L * hourUs + 1L, 20.0), // same cell
      ("a", 4L * dayUs, 7.0)) // Monday 00:00 -> (0, (4+4)%7 = 1)
      .toDF("k", "ts", "v")
    val got = TimeSeries.seasonalProfile(rows, "k", "ts", "v")
      .collect()
      .map(r => ((r.getAs[Long]("hour"), r.getAs[Long]("dow")),
        (r.getAs[Long]("n"), r.getAs[Double]("mean")))).toMap
    assert(got((3L, 4L)) == ((2L, 15.0)))
    assert(got((0L, 1L)) == ((1L, 7.0)))
    assert(got.size == 2)
  }

  test("psiDrift: identical halves score ~0, a shifted distribution scores high") {
    val sp = spark
    import sp.implicits._
    // key a: same uniform spread both halves -> psi ~ 0 (only smoothing
    // noise); key b: values jump from ~10 to ~90 across the split -> large
    val rows =
      (0 until 100).map(i => ("a", i.toLong, (i % 10) * 10.0)) ++
        (100 until 200).map(i => ("a", i.toLong, (i % 10) * 10.0)) ++
        (0 until 100).map(i => ("b", i.toLong, 10.0)) ++
        (100 until 200).map(i => ("b", i.toLong, 90.0))
    val got = TimeSeries.psiDrift(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      tSplit = 100L, lo = 0.0, hi = 100.0, bins = 10)
      .collect().map(r => (r.getAs[String]("k"), r.getAs[Double]("psi"))).toMap
    assert(math.abs(got("a")) < 0.01, got("a").toString)
    assert(got("b") > 1.0, got("b").toString)
  }

  test("leadLagCorr: a shifted copy correlates exactly 1 at its shift") {
    val sp = spark
    import sp.implicits._
    val pattern = Seq(0.0, 1.0, 0.0, 2.0, 0.0, 3.0, 1.0, 0.0, 5.0, 0.0)
    // series b is a's pattern delayed by 2 buckets (b trails a)
    val rows =
      pattern.zipWithIndex.map { case (v, t) => ("a", t * 10L, v) } ++
        pattern.zipWithIndex.map { case (v, t) => ("b", (t + 2) * 10L, v) }
    val got = TimeSeries.leadLagCorr(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      k1 = "a", k2 = "b", bucketUs = 10L, maxLag = 3)
      .collect()
      .map(r => r.getAs[Long]("lag") ->
        ((r.getAs[Long]("n"), Option(r.getAs[java.lang.Double]("corr")))))
      .toMap
    // at lag +2: y_{t+2} = x_t for all 10 overlapping buckets -> corr 1
    assert(got(2L) == ((10L, Some(java.lang.Double.valueOf(1.0)))))
    // all 7 lags present; no other lag reaches 1
    assert(got.size == 7)
    assert(!got.exists { case (l, (_, c)) => l != 2L && c.contains(1.0) })
  }

  test("leadLagCorr: constant side yields null corr, not NaN or a crash") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 8).map(t => ("a", t * 10L, t.toDouble)) ++
      (0 until 8).map(t => ("b", t * 10L, 5.0))
    val got = TimeSeries.leadLagCorr(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      k1 = "a", k2 = "b", bucketUs = 10L, maxLag = 1)
      .collect()
    assert(got.nonEmpty)
    assert(got.forall(_.isNullAt(2)))
  }

  test("ksDrift: identical halves score 0, disjoint supports score 1") {
    val sp = spark
    import sp.implicits._
    // key a: identical distribution both halves -> ks = 0 exactly;
    // key b: all mass below 50 before the split, all above after -> ks = 1;
    // key c: one-sided (no rows after the split) -> excluded from output
    val rows =
      (0 until 100).map(i => ("a", i.toLong, (i % 10) * 10.0)) ++
        (100 until 200).map(i => ("a", i.toLong, (i % 10) * 10.0)) ++
        (0 until 100).map(i => ("b", i.toLong, 10.0)) ++
        (100 until 200).map(i => ("b", i.toLong, 90.0)) ++
        (0 until 10).map(i => ("c", i.toLong, 42.0))
    val got = TimeSeries.ksDrift(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      tSplit = 100L, lo = 0.0, hi = 100.0, bins = 10)
      .collect()
      .map(r => r.getAs[String]("k") ->
        ((r.getAs[Long]("n1"), r.getAs[Long]("n2"), r.getAs[Double]("ks"))))
      .toMap
    assert(got("a") == ((100L, 100L, 0.0)))
    assert(got("b") == ((100L, 100L, 1.0)))
    assert(!got.contains("c"))
  }

  test("ksDrift: a median shift of one bin scores the single-bin mass") {
    val sp = spark
    import sp.implicits._
    // half the mass moves one bin right: ECDF gap peaks at 0.5 at the
    // boundary bin
    val rows =
      (0 until 8).map(i => ("k", i.toLong, if (i < 4) 10.0 else 30.0)) ++
        (8 until 16).map(i => ("k", i.toLong, if (i < 12) 30.0 else 50.0))
    val got = TimeSeries.ksDrift(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      tSplit = 8L, lo = 0.0, hi = 100.0, bins = 10)
      .collect()(0)
    assert(got.getAs[Double]("ks") == 0.5)
  }

  test("correlationMatrix: exact +-1 on linear series, null on constant series") {
    val sp = spark
    import sp.implicits._
    // x ascends, y = 2x+1 (corr +1), z descends (corr -1 vs x), c constant
    // plain names, then EPICS names whose record field holds a `.`
    Seq(Seq("x", "y", "z", "c"),
        Seq("13BMA:m1.VAL", "13BMA:m1.RBV", "13BMA:m2.VAL", "13BMA:m2.DMOV")).foreach { names =>
      val Seq(x, y, z, c) = names
      val aligned = Seq(
        (1.0, 3.0, 9.0, 5.0), (2.0, 5.0, 8.0, 5.0), (3.0, 7.0, 7.0, 5.0),
        (4.0, 9.0, 6.0, 5.0))
        .toDF(names: _*)
      val got = TimeSeries.correlationMatrix(aligned, names)
        .collect()
        .map(r => ((r.getAs[String]("k1"), r.getAs[String]("k2")),
          (r.getAs[Long]("n"), Option(r.getAs[Any]("corr")))))
        .toMap
      assert(got((x, y)) == ((4L, Some(1.0))))
      assert(got((x, z)) == ((4L, Some(-1.0))))
      assert(got((y, z)) == ((4L, Some(-1.0))))
      // constant column: zero variance -> corr undefined (null), not NaN
      assert(got((x, c)) == ((4L, None)))
      assert(got.size == 6)
    }
  }

  test("winsorize: fences, clip counts and winsorized moments by hand") {
    val sp = spark
    import sp.implicits._
    // key "a": 1..20 plus a wild outlier 1000 replacing 20
    val va = (1 to 19).map(_.toDouble) :+ 1000.0
    val df = (va.map(v => ("a", Some(v))) ++
      Seq(("b", Some(5.0)), ("b", Some(5.0)), ("a", Option.empty[Double])))
      .toDF("k", "v")
    val got = TimeSeries.winsorize(df, "k", "v", pLo = 0.05, pHi = 0.95)
      .collect()
      .map(r => (r.getAs[String]("k"),
        (r.getAs[Long]("n"), r.getAs[Long]("n_lo"), r.getAs[Long]("n_hi"),
          r.getAs[Double]("p_lo"), r.getAs[Double]("p_hi"),
          r.getAs[Double]("win_mean"), r.getAs[Double]("win_std"))))
      .toMap
    // exact interpolated percentiles of 20 ordered values: p05 at index
    // 0.95 -> 1.95, p95 at index 18.05 -> 19 + 0.05*(1000-19) = 68.05
    val (n, nLo, nHi, pLo, pHi, mean, std) = got("a")
    assert(n == 20L && nLo == 1L && nHi == 1L)
    assert(pLo == 1.95 && pHi == 68.05)
    val w = (2 to 19).map(_.toDouble) ++ Seq(1.95, 68.05)
    val m = w.sum / 20
    assert(math.abs(mean - m) < 1e-6)
    assert(math.abs(std - math.sqrt(w.map(x => x * x).sum / 20 - m * m)) < 1e-6)
    // constant key: zero clips, zero std
    assert(got("b") == ((2L, 0L, 0L, 5.0, 5.0, 5.0, 0.0)))
  }

  test("holt: level tracks a linear ramp and trend converges to its slope") {
    val sp = spark
    import sp.implicits._
    val rows = (0 until 40).map(i => ("a", i.toLong, 10.0 + 3.0 * i)) :+
      (null.asInstanceOf[String], 0L, 9.9) // null key dropped like ewma
    val got = TimeSeries.holt(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      alpha = 0.5, beta = 0.25)
      .collect()
      .map(r => (r.getAs[Long]("ts"),
        (r.getAs[Double]("level"), r.getAs[Double]("trend"))))
      .toMap
    assert(got.size == 40)
    assert(got(0L) == ((10.0, 0.0))) // seed: level = v1, trend = 0
    // manual first fold step: l2 = .5*13 + .5*(10+0) = 11.5; b2 = .25*1.5
    assert(got(1L) == ((11.5, 0.375)))
    // the ramp is a fixed point (l = v_i, b = slope); convergence is
    // geometric at |root| = sqrt(1-alpha) ~ 0.707 per step
    val (lEnd, bEnd) = got(39L)
    assert(math.abs(bEnd - 3.0) < 1e-4) // trend locks onto the slope
    assert(math.abs(lEnd - (10.0 + 3.0 * 39)) < 1e-3) // level tracks the ramp
  }

  test("holt: duplicate instants collapse to their max before the fold") {
    val sp = spark
    import sp.implicits._
    val rows = Seq(("a", 0L, 4.0), ("a", 0L, 6.0), ("a", 1L, 6.0))
    val got = TimeSeries.holt(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      alpha = 0.5, beta = 0.25).collect()
      .map(r => (r.getAs[Long]("ts"), r.getAs[Double]("level"))).toMap
    assert(got.size == 2)
    assert(got(0L) == 6.0) // max of the duplicate instant seeds
    assert(got(1L) == 6.0) // 0.5*6 + 0.5*(6+0)
  }

  test("theilSen: a spike bucket cannot drag the slope median") {
    val sp = spark
    import sp.implicits._
    // key a: bucket medians 10, 12, 14, 16, 18 (slope 2/bucket) with one
    // wild bucket (median 1000) in the middle: OLS would explode; the
    // pairwise-slope median stays at 2. 3 samples per bucket pin medians.
    val vals = Map(0L -> 10.0, 1L -> 12.0, 2L -> 1000.0, 3L -> 16.0, 4L -> 18.0)
    val rows = vals.toSeq.flatMap { case (b, m) =>
      Seq(("a", b * 100L + 1, m - 1), ("a", b * 100L + 2, m), ("a", b * 100L + 3, m + 1))
    } ++ Seq(("b", 5L, 7.0)) // single bucket: dropped
    val got = TimeSeries.theilSen(rows.toDF("k", "ts", "v"), "k", "ts", "v", bucketUs = 100L)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("k") == "a")
    assert(r.getAs[Long]("n_buckets") == 5L && r.getAs[Long]("n_pairs") == 10L)
    assert(r.getAs[Double]("slope") == 2.0) // the outlier bucket is outvoted
  }

  test("bursts: a volume spike scores against its trailing baseline only") {
    val sp = spark
    import sp.implicits._
    // key a: buckets 0..7 carry 2,3,2,3,2,3,2,3 events, bucket 8 carries 30.
    // baseline(8) = trailing 8 buckets: mean 2.5, var 0.25 -> z = 55.0
    val calm = (0 until 8).flatMap { b =>
      (0 until (if (b % 2 == 0) 2 else 3)).map(i => ("a", b * 100L + i))
    }
    val spike = (0 until 30).map(i => ("a", 800L + i))
    val got = TimeSeries.bursts((calm ++ spike).toDF("k", "ts"), "k", "ts",
      bucketUs = 100L, trailing = 8, zThresh = 2.0)
      .collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[Long]("bucket") == 8L && r.getAs[Long]("n") == 30L)
    assert(r.getAs[Double]("base_mean") == 2.5 && r.getAs[Double]("base_std") == 0.5)
    assert(r.getAs[Double]("z") == 55.0)
  }

  test("bursts: early buckets lack baseline; constant rate never fires") {
    val sp = spark
    import sp.implicits._
    // constant 5 events/bucket: variance 0 everywhere -> no rows, and the
    // first minPrev buckets are skipped for lack of history anyway
    val rows = (0 until 12).flatMap(b => (0 until 5).map(i => ("a", b * 10L + i)))
    assert(TimeSeries.bursts(rows.toDF("k", "ts"), "k", "ts",
      bucketUs = 10L, trailing = 8, zThresh = 2.0).count() == 0)
  }

  test("madOutliers: spikes can't drag the fence; zero-MAD keys emit nothing") {
    val sp = spark
    import sp.implicits._
    // key a: 1..9 plus a huge spike. med = 5.5, MAD = 2.5
    //   spike z = 0.6745*(1000-5.5)/2.5 ~ 268; inliers |z| <= 1.214
    val a = (1 to 9).map(i => ("a", i.toLong, i.toDouble)) :+ (("a", 10L, 1000.0))
    // key b: over half identical -> MAD = 0 -> undefined, excluded entirely
    val b = Seq(("b", 1L, 7.0), ("b", 2L, 7.0), ("b", 3L, 7.0), ("b", 4L, 99.0))
    val got = TimeSeries.madOutliers((a ++ b).toDF("k", "ts", "v"), "k", "ts", "v",
      zThresh = 3.5).collect()
    assert(got.length == 1)
    val r = got.head
    assert(r.getAs[String]("k") == "a" && r.getAs[Long]("ts") == 10L)
    assert(r.getAs[Double]("med") == 5.5 && r.getAs[Double]("mad") == 2.5)
    assert(math.abs(r.getAs[Double]("robust_z") - 0.6745 * (1000.0 - 5.5) / 2.5) < 1e-5)
  }

  test("seasonalResidual: deviation is measured against the observation's own calendar cell") {
    val sp = spark
    import sp.implicits._
    val hour = 3600000000L
    val day = 24 * hour
    // two weeks of a daily cycle — value 10 at hour 0, 100 at hour 12 — so
    // every (hour, dow) cell has two samples, plus one anomalous hour-0
    // reading of 40 on day 14 (same dow cell as days 0 and 7). A global
    // mean (~55) would call the normal 100s anomalous; the cell residual
    // flags only the 40.
    val rows =
      (0 until 14).flatMap { d =>
        Seq(("a", d * day, 10.0), ("a", d * day + 12 * hour, 100.0))
      } :+ (("a", 14L * day, 40.0))
    val got = TimeSeries.seasonalResidual(rows.toDF("k", "ts", "v"), "k", "ts", "v",
      topN = 3, minN = 2)
      .collect()
      .map(r => (r.getAs[Long]("ts"),
        (r.getAs[Long]("hour"), r.getAs[Double]("cell_mean"), r.getAs[Double]("residual"))))
    // top anomaly: the 40 (its cell holds 10, 10, 40 -> mean 20, residual 20)
    assert(got.head._1 == 14L * day)
    assert(got.head._2 == ((0L, 20.0, 20.0)))
    // next: that cell's two normal 10s at -10 each (days 0 and 7, ts order)
    assert(got(1)._1 == 0L && got(1)._2._3 == -10.0)
    assert(got(2)._1 == 7L * day && got(2)._2._3 == -10.0)
  }

  test("dtwProfile: classic DP against a hand-computed warping distance") {
    val sp = spark
    import sp.implicits._
    // bucket width 10: ref series [1,2,3]; other series [1,3] (buckets 0,1);
    // DTW([1,2,3],[1,3]) = 1 (2 aligns to either neighbor at cost 1);
    // self-distance is 0
    val rows = Seq(
      ("r", 5L, 1.0), ("r", 15L, 2.0), ("r", 25L, 3.0),
      ("o", 5L, 1.0), ("o", 15L, 3.0))
    val got = TimeSeries.dtwProfile(rows.toDF("k", "ts_us", "v"), "k", "ts_us", "v",
      refKey = "r", bucketUs = 10L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).toList
    assert(got == List(("o", 2L, 3L, 1.0, 0.2), ("r", 3L, 3L, 0.0, 0.0)))
  }

  test("psiRolling: identical periods drift 0, shifted period spikes, edges gated") {
    val sp = spark
    import sp.implicits._
    val D = 1000L
    // key a: day0 and day1 identical -> psi ~ 0; day2 mass moved -> psi > 0;
    // day4 exists but day3 missing -> (4) pair not emitted
    val rows =
      (0 until 50).flatMap(i => Seq(("a", 0 * D + i, 10.0), ("a", 1 * D + i, 10.0))) ++
      (0 until 50).map(i => ("a", 2 * D + i, 400.0)) ++
      (0 until 50).map(i => ("a", 4 * D + i, 10.0))
    val got = TimeSeries.psiRolling(rows.toDF("k", "t", "v"), "k", "t", "v",
      lo = 0.0, hi = 500.0, bins = 20, stepUs = D)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(got.keySet == Set(1L, 2L), got.toString)
    assert(math.abs(got(1L)) < 1e-9, got.toString)
    assert(got(2L) > 1.0, got.toString)
  }

  test("changePoints: mean shift found exactly; flat halves tie to earliest, zero gain") {
    val sp = spark
    import sp.implicits._
    // key a: 6 x 1.0 then 6 x 5.0 -> level-0 split exactly at rn 6 with
    // gain |6e6*6 - 30e6*6| = 1.44e8; both halves are flat, so level 1
    // ties every candidate at gain 0 and picks the earliest (rn 2 / 8).
    // key b: 1,1,9,9,9 -> split after rn 2; both halves too short for
    // level 1 (2*minSeg = 4).
    val rows =
      (1 to 6).map(i => ("a", i.toLong, 1.0)) ++
      (7 to 12).map(i => ("a", i.toLong, 5.0)) ++
      Seq(("b", 1L, 1.0), ("b", 2L, 1.0), ("b", 3L, 9.0), ("b", 4L, 9.0), ("b", 5L, 9.0))
    val df = rows.toDF("k", "t", "v")
    val got = TimeSeries.changePoints(df, "k", "t", "v", minSeg = 2, depth = 2)
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set(
      ("a", 0L, 6L, 6L, 144000000L),
      ("a", 1L, 2L, 2L, 0L),
      ("a", 1L, 8L, 8L, 0L),
      ("b", 0L, 2L, 2L, 48000000L)))
  }

  test("changePoints: minSeg excludes boundary splits entirely") {
    val sp = spark
    import sp.implicits._
    // 4 points with minSeg 3: no candidate satisfies nl >= 3 and nr >= 3
    val df = (1 to 4).map(i => ("a", i.toLong, i.toDouble)).toDF("k", "t", "v")
    val got = TimeSeries.changePoints(df, "k", "t", "v", minSeg = 3, depth = 1)
    assert(got.count() == 0L)
  }

  test("changePoints: the overflow guard reads the MID-SEGMENT max|P|, " +
      "not the near-zero boundary prefix sum") {
    val sp = spark
    import sp.implicits._
    // alternating ±3e9 over 400 rows: every even-rank prefix sum (incl.
    // Pb) is 0, but max|P| = 3e15 on the 1e-6 grid, so 4·max|P|·n ≈ 4.8e18
    // wraps a BIGINT gain — the r8 guard on |Pb|·b saw 0 and passed it
    // silently; the fixed guard must throw
    val df = (1 to 400).map(i =>
      ("a", i.toLong, if (i % 2 == 1) 3.0e9 else -3.0e9)).toDF("k", "t", "v")
    val ex = intercept[Exception] {
      TimeSeries.changePoints(df, "k", "t", "v", minSeg = 5, depth = 1).count()
    }
    assert(ex.getMessage.contains("changePoints overflow") ||
      Option(ex.getCause).exists(_.getMessage.contains("changePoints overflow")))
    // the same series on a coarser grid stays inside the bound and runs
    val ok = TimeSeries.changePoints(df, "k", "t", "v", minSeg = 5, depth = 1,
      quantum = 1.0)
    assert(ok.count() >= 0L)
  }

  test("driftPanel equals psiDrift ⋈ ksDrift on a mixed-drift fixture") {
    val sp = spark
    import sp.implicits._
    val rows =
      (0 until 100).map(i => ("a", i.toLong, (i % 10) * 10.0)) ++
        (100 until 200).map(i => ("a", i.toLong, (i % 10) * 10.0)) ++
        (0 until 100).map(i => ("b", i.toLong, 10.0)) ++
        (100 until 200).map(i => ("b", i.toLong, 90.0)) ++
        (0 until 50).map(i => ("c", i.toLong, (i % 7) * 13.0)) ++
        (100 until 130).map(i => ("c", i.toLong, (i % 5) * 21.0))
    val df = rows.toDF("k", "ts", "v")
    val fused = TimeSeries.driftPanel(df, "k", "ts", "v",
        tSplit = 100L, lo = 0.0, hi = 100.0, bins = 10)
      .orderBy(col("k")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toList
    val psi = TimeSeries.psiDrift(df, "k", "ts", "v", 100L, 0.0, 100.0, 10)
    val ks = TimeSeries.ksDrift(df, "k", "ts", "v", 100L, 0.0, 100.0, 10)
    val joined = psi.join(ks, Seq("k"))
      .select(col("k"), col("psi"), col("n1"), col("n2"), col("ks"))
      .orderBy(col("k")).collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toList
    assert(fused == joined)
    assert(fused.map(_._1) == List("a", "b", "c"))
  }

  test("rowNumberRanged equals a plain global rank window (asc, desc, ties)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    // Zipf-skewed metric: most rows share value 1 (the case value-keyed
    // chunking can't parallelize), ties broken by unique id
    val rows = (0 until 500).map { i =>
      val v = if (i % 5 != 0) 1L else (i % 37).toLong
      (v, s"id${499 - i}", i.toDouble / 3.0)
    }
    val df = rows.toDF("m", "id", "d")
    def expect(sort: Seq[org.apache.spark.sql.Column]) =
      df.withColumn("__rn",
          row_number().over(Window.orderBy(sort: _*)).cast("long"))
        .select(col("id"), col("__rn")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
    for ((sort, nParts) <- Seq(
        (Seq(col("m"), col("id")), 7),
        (Seq(col("m").desc, col("id")), 32),
        (Seq(col("d").desc, col("id")), 3),
        (Seq(col("m"), col("id")), 1))) {
      val got = TimeSeries.rowNumberRanged(df, "__rn", nParts, sort: _*)
        .select(col("id"), col("__rn")).collect()
        .map(r => (r.getString(0), r.getLong(1))).toMap
      assert(got == expect(sort), s"mismatch at nParts=$nParts sort=$sort")
    }
  }

  test("rowNumberRanged plan: no empty-partition window, offsets broadcast") {
    val sp = spark
    import sp.implicits._
    val df = (0 until 100).map(i => (i.toLong % 3, s"i$i")).toDF("m", "id")
    val ranked = TimeSeries.rowNumberRanged(df, "__rn", 8, col("m"), col("id"))
    val findings = graft.plans.PlanLint.lint(ranked)
    assert(!findings.exists(_.rule == "global-window"),
      s"rowNumberRanged must not plan a global window: $findings")
    assert(!findings.exists(_.rule == "nested-loop-join"),
      s"offsets must attach via broadcast HASH join: $findings")
    // ranks are a permutation of 1..n
    val rns = ranked.select(col("__rn")).collect().map(_.getLong(0)).sorted
    assert(rns.toSeq == (1L to 100L))
  }
}
