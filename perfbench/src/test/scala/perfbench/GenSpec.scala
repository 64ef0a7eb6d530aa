package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private def eventBytes(seed: Long): Seq[Seq[Byte]] = {
    val log = new Gen.EventLog(seed, 2000, Gen.WeekUs * 2800, 1000000L)
    (0 until 3).map(k => Gen.jsonLines(log.chunk(k, 500)).toSeq) :+
      log.configs.toSeq.map(_.toString).sorted.mkString("\n").getBytes("UTF-8").toSeq
  }

  private def history(seed: Long): (Seq[String], Seq[(Seq[Long], Seq[Double])], Seq[(String, String, Long)]) = {
    val h = new Gen.History(seed, 200, 2, 1000, 3)
    (h.names.toSeq, (0 until h.size).map(i => h.series(i)).map { case (t, v) => (t.toSeq, v.toSeq) }, h.pairs)
  }

  test("the same seed yields byte-identical event logs; another seed does not") {
    assert(eventBytes(7) == eventBytes(7))
    assert(eventBytes(7) != eventBytes(8))
  }

  test("the same seed yields the identical archive history; another seed does not") {
    assert(history(7) == history(7))
    assert(history(7) != history(8))
  }

  test("event chunks: out of order within a chunk, unique (pv, ts), inside the chunk's time span") {
    val log = new Gen.EventLog(3, 2000, 0L, 1000000L)
    val c = log.chunk(5, 2000)
    assert(c.length == 2000)
    assert(c.map(_.tsUs).toSeq != c.map(_.tsUs).sorted.toSeq)
    assert(c.map(e => (e.pvname, e.tsUs)).distinct.length == c.length)
    assert(c.forall(e => e.tsUs >= 5000000L && e.tsUs < 6000000L))
  }

  test("the history has a fixed PV count covering every store bucket; its hot PVs exceed the plot cap within a week") {
    val h = new Gen.History(1, 600, 3, 35000, 3)
    assert(h.size == 603 && h.names.distinct.length == 603)
    assert(h.names.map(graft.functions.PvFunctions.hashname).distinct.length == graft.store.SampleStore.NumBuckets)
    (0 until 3).foreach { i =>
      val (t, _) = h.series(i)
      assert(t.count(ts => ts >= h.t0Us && ts < h.t0Us + Gen.WeekUs) > 30000)
      assert(t.toSeq == t.sorted.toSeq && t.distinct.length == t.length)
    }
  }
}
