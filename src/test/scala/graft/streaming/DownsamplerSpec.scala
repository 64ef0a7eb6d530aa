package graft.streaming

import graft.SparkSpec
import Downsampler._

class DownsamplerSpec extends SparkSpec {

  /** Seeded random-case driver (scalatestplus is not in the offline cache,
    * so properties run as explicit seeded trials).
    */
  private def forSeeds(n: Int)(body: scala.util.Random => Unit): Unit =
    (1 to n).foreach(seed => body(new scala.util.Random(seed)))

  private val S = 1000000L // 1s in us
  private def ev(ts: Long, v: String) = RawSample("pv1", ts, v, v)
  private val cfg = PvConfig("double", 5 * S, 0.5)

  test("first event always emits") {
    assert(replayKey(Seq(ev(10 * S, "1.0")), cfg).map(_.tsUs) == Vector(10 * S))
  }

  test("changes beyond deadtime+deadband emit; inside deadtime go to limbo") {
    // t=0 emit; t=2s inside deadtime -> limbo; t=3s overwrites limbo;
    // t=10s arrival flushes limbo (original ts=3s!) then emits t=10s
    val out = replayKey(
      Seq(ev(0, "1.0"), ev(2 * S, "5.0"), ev(3 * S, "6.0"), ev(10 * S, "9.0")), cfg)
    assert(out.map(_.tsUs) == Vector(0, 3 * S, 10 * S))
    assert(out.map(_.value) == Vector("1.0", "6.0", "9.0"))
  }

  test("limbo flush preserves the original change timestamp (doc/setup.rst:82-85)") {
    val out = replayKey(Seq(ev(0, "1.0"), ev(4 * S, "2.0")), cfg)
    // trailing limbo flushed at end of history with ts=4s
    assert(out.map(_.tsUs) == Vector(0, 4 * S))
  }

  test("deadband suppresses small double moves after deadtime") {
    val out = replayKey(Seq(ev(0, "1.0"), ev(6 * S, "1.2"), ev(12 * S, "2.0")), cfg)
    // 1.2 is within deadband 0.5 of 1.0 -> dropped entirely; 2.0 emits
    assert(out.map(_.value) == Vector("1.0", "2.0"))
  }

  test("deadband ignored for non-double types and unparseable values") {
    val scfg = PvConfig("string", 5 * S, 0.5)
    assert(replayKey(Seq(ev(0, "a"), ev(6 * S, "b")), scfg).size == 2)
    assert(replayKey(Seq(ev(0, "1.0"), ev(6 * S, "oops")), cfg).size == 2)
  }

  test("sub-millisecond changes are ignored (archiver.py:398)") {
    val out = replayKey(Seq(ev(0, "1.0"), ev(500, "2.0"), ev(6 * S, "3.0")), cfg)
    assert(out.map(_.value) == Vector("1.0", "3.0"))
  }

  test("parseDouble recovers b'..' byte-literal relics (archiver.py:34-44)") {
    assert(parseDouble("b'1.23'").contains(1.23))
    assert(parseDouble("1.5e3").contains(1500.0))
    assert(parseDouble("four").isEmpty)
    assert(parseDouble(null).isEmpty)
  }

  test("property: emitted timestamps strictly increase with gaps > 1ms") {
    forSeeds(50) { rng =>
      var t = 0L
      val events = Vector.fill(60) {
        t += rng.nextLong(8 * S + 1)
        ev(t, (rng.nextDouble() * 20 - 10).toString)
      }
      val out = replayKey(events, cfg)
      val ts = out.map(_.tsUs)
      assert(ts == ts.sorted && ts.distinct == ts)
      ts.sliding(2).foreach {
        case Vector(a, b) => assert(b - a > 1000L)
        case _ =>
      }
      // every emitted (ts, value) existed in the input
      val inputSet = events.map(e => (e.tsUs, e.value)).toSet
      out.foreach(s => assert(inputSet.contains((s.tsUs, s.value))))
    }
  }

  test("property: at most 2 emits (1 direct + 1 limbo) per deadtime window") {
    forSeeds(50) { rng =>
      var t = 0L
      var i = 0
      val events = Vector.fill(40) {
        t += 1 + rng.nextLong(12 * S)
        i += 1
        ev(t, (i * 10.0).toString)
      }
      val out = replayKey(events, cfg)
      out.map(_.tsUs).sliding(3).foreach {
        case Vector(a, _, c) => assert(c - a > cfg.deadtimeUs)
        case _ =>
      }
    }
  }

  test("replayBatch distributes replayKey per PV") {
    val sp = spark
    import sp.implicits._
    val events = (0 until 100).flatMap { i =>
      Seq(
        RawSample("pvA", i * 2 * S, (i * 1.0).toString, ""),
        RawSample("pvB", i * 7 * S, (i * 1.0).toString, ""))
    }
    val got = replayBatch(events.toDS(), Map.empty).collect().toVector
      .sortBy(s => (s.pvname, s.tsUs))
    val want = (events.groupBy(_.pvname).toVector.flatMap { case (_, es) =>
      replayKey(es.sortBy(e => (e.tsUs, e.value)), DefaultConfig)
    }).sortBy(s => (s.pvname, s.tsUs))
    assert(got == want)
  }

  test("replayBatch survives one huge key (secondary sort, no per-key materialization)") {
    val sp = spark
    import sp.implicits._
    // one hot PV with 150k events (shuffled input order) + a small bystander:
    // the old groupByKey + toVector form concentrated the hot key's whole
    // history in one task's heap; the secondary-sort form streams it
    val rnd = new scala.util.Random(7)
    val hot = rnd.shuffle((0 until 150000).toVector).map { i =>
      RawSample("HOT", i * 2 * S, (i % 97 * 1.0).toString, "")
    }
    val cold = (0 until 50).map(i => RawSample("COLD", i * 60 * S, i.toString, ""))
    val got = replayBatch((hot ++ cold).toDS().repartition(8), Map.empty)
      .collect().toVector.sortBy(s => (s.pvname, s.tsUs))
    val want = ((hot ++ cold).groupBy(_.pvname).toVector.flatMap { case (_, es) =>
      replayKey(es.sortBy(e => (e.tsUs, e.value)), DefaultConfig)
    }).sortBy(s => (s.pvname, s.tsUs))
    assert(got == want)
  }

  test("streaming timeout flushes a quiet PV's limbo with its original timestamp") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = sp.sqlContext
    val input = MemoryStream[RawSample]
    // real processing-time timeout path: emit, then one sub-deadtime change
    // that stays in limbo until the 200ms timeout fires
    val q = streaming(input.toDS(), Map.empty, timeoutMs = 200L)
      .writeStream.format("memory").queryName("down_timeout").outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(100L))
      .start()
    try {
      input.addData(ev(0, "1.0"), ev(2 * S, "5.0"))
      val deadline = System.currentTimeMillis() + 20000
      var rows = Array.empty[Sample]
      while (rows.length < 2 && System.currentTimeMillis() < deadline) {
        Thread.sleep(200)
        rows = sp.table("down_timeout").as[Sample].collect()
      }
      assert(rows.map(_.tsUs).sorted.toSeq == Seq(0L, 2 * S),
        "limbo value must flush via timeout with its ORIGINAL timestamp")
    } finally q.stop()
  }

  test("streaming over MemoryStream matches batch replay (multi-batch)") {
    val sp = spark
    import sp.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = sp.sqlContext
    val events = (0 until 50).map(i => RawSample("pvS", i * 2 * S, (i * 1.0).toString, ""))
    // equal timestamps inside the deadtime of an emitted event: the one
    // sorted last wins the limbo. UTF-16 order puts "😀" before "｡", UTF-8
    // byte order (Spark's, Utf8Order) puts it after; arriving in UTF-16
    // order, "😀" wins only if the streaming sort uses Spark's order
    val ties = Seq(
      Seq(RawSample("pvT", 0L, "1.0", "")),
      Seq(RawSample("pvT", 2 * S, "😀", ""), RawSample("pvT", 2 * S, "｡", "")),
      Seq(RawSample("pvT", 10 * S, "3.0", "")))
    Seq(Seq(events.take(20), events.drop(20)), ties).zipWithIndex.foreach { case (batches, n) =>
      val input = MemoryStream[RawSample]
      // timeouts disabled: limbo flushes only on arrival, keeping the run
      // deterministic vs the batch twin (and processAllAvailable terminating)
      val q = streaming(input.toDS(), Map.empty, timeoutMs = 0L)
        .writeStream.format("memory").queryName(s"down_out$n").outputMode("append").start()
      try {
        batches.foreach { b =>
          input.addData(b)
          q.processAllAvailable()
        }
        val got = sp.table(s"down_out$n").as[Sample].collect().toVector.sortBy(_.tsUs)
        // batch twin on the same history, in the batch replay's order;
        // streaming keeps the tail event in limbo (no end-of-history
        // flush), so compare modulo that tail
        val want = replayKey(batches.flatten.sortBy(e => (e.tsUs, e.value))(EventOrder),
          DefaultConfig).sortBy(_.tsUs)
        assert(got == want.filter(s => got.map(_.tsUs).contains(s.tsUs)))
        assert(got.size >= want.size - 1)
      } finally q.stop()
    }
    assert(sp.table("down_out1").as[Sample].collect().exists(_.value == "😀"),
      "equal-timestamp tie-break must follow Spark's UTF-8 binary order")
  }
}
