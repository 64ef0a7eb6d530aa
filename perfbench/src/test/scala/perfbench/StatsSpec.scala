package perfbench

import org.scalatest.funsuite.AnyFunSuite

import Stats.{Batch, Chunk}

class StatsSpec extends AnyFunSuite {

  test("nearest-rank percentiles") {
    val xs = (1 to 100).map(_.toDouble).reverse
    assert(Stats.percentile(xs, 50) == 50.0)
    assert(Stats.percentile(xs, 90) == 90.0)
    assert(Stats.percentile(Seq(3.0), 99) == 3.0)
    assert(Stats.percentile(Nil, 50).isNaN)
  }

  test("the tail percentile leaves at least 10 samples beyond it") {
    assert(Stats.tailLevel(19).isEmpty)
    assert(Stats.tailLevel(40).contains(75.0))
    assert(Stats.tailLevel(99).contains(75.0))
    assert(Stats.tailLevel(100).contains(90.0))
    assert(Stats.tailLevel(200).contains(95.0))
    assert(Stats.tailLevel(1000).contains(99.0))
    val ladder = Seq(99.0, 95.0, 90.0, 75.0)
    (1 to 2000).foreach { n =>
      Stats.tailLevel(n).foreach { p =>
        val xs = (1 to n).map(_.toDouble)
        assert(xs.count(_ > Stats.percentile(xs, p)) >= 10, s"n=$n p$p")
        ladder.filter(_ > p).foreach(q => assert(xs.count(_ > Stats.percentile(xs, q)) < 10, s"n=$n p$q"))
      }
    }
  }

  test("mix statistics weigh each kind by its share, not by its sample count") {
    val w = Map("a" -> 3.0, "b" -> 1.0)
    // one or five samples of b: the same weight either way
    val one = Seq("a" -> 10.0, "a" -> 20.0, "a" -> 30.0, "b" -> 100.0)
    val five = one ++ Seq.fill(4)("b" -> 100.0)
    assert(Stats.mixMedian(one, w) == 20.0)
    assert(Stats.mixMedian(five, w) == 20.0)
    assert(Stats.mixMean(one, w) == (3 * 20.0 + 100.0) / 4)
    assert(Stats.mixMean(five, w) == Stats.mixMean(one, w))
    assert(Stats.mixMean(Seq("a" -> 10.0, "b" -> 20.0), Map("a" -> 1.0, "b" -> 1.0)) == 15.0)
    // a kind with no samples drops out
    assert(Stats.mixMean(Seq("a" -> 10.0), w) == 10.0)
    assert(Stats.mixMedian(Seq("b" -> 7.0, "b" -> 9.0), w) == 7.0)
  }

  test("an op's non-job time is its wall not covered by any job interval") {
    assert(Trace.uncoveredMs(0, 100, Nil) == 100)
    // overlapping and out-of-order jobs, one reaching past the op's end
    assert(Trace.uncoveredMs(0, 100, Seq((50L, 120L), (10L, 30L), (20L, 40L))) == 20)
  }

  // chunks due at 0, 100, 200, 300 ms (10 rows each); the stream commits
  // chunk 0 at 150, chunks 1-2 at 360, an empty batch, then chunk 3 at 510
  private val chunks = Seq(Chunk(0, 10), Chunk(100, 10), Chunk(200, 10), Chunk(300, 10))
  private val batches = Seq(Batch(50, 100, 10), Batch(160, 200, 20), Batch(400, 5, 0), Batch(410, 100, 10))

  test("freshness is the consuming batch's commit minus the chunk's due time") {
    assert(Stats.freshness(chunks, batches) == Seq(150L, 260L, 160L, 210L))
    assert(Stats.freshness(chunks, batches.reverse) == Seq(150L, 260L, 160L, 210L))
  }

  test("a chunk split across batches is fresh when its last row commits; unconsumed chunks are left out") {
    val split = Seq(Batch(50, 100, 15), Batch(160, 200, 5))
    assert(Stats.freshness(chunks, split) == Seq(150L, 260L))
  }

  test("backlog at each commit, and the unsustainable-rate flag") {
    assert(Stats.backlog(chunks, batches) == Seq(10L, 10L, 10L, 0L))
    assert(!Stats.unsustainable(Seq(10L, 10L, 10L, 0L)))
    assert(Stats.unsustainable(Seq(10L, 20L, 40L, 80L, 160L, 320L)))
    assert(!Stats.unsustainable(Seq(10L, 20L)))
  }
}
