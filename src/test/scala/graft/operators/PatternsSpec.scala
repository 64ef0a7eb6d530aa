package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class PatternsSpec extends SparkSpec {

  // 10 baskets; "a,b" co-occur in 4, "a,b,c" in 2, "d" appears once
  private def baskets = {
    val sp = spark
    import sp.implicits._
    Seq(
      (1L, "a"), (1L, "b"), (1L, "c"),
      (2L, "a"), (2L, "b"), (2L, "c"),
      (3L, "a"), (3L, "b"),
      (4L, "a"), (4L, "b"),
      (5L, "a"), (5L, "c"),
      (6L, "b"), (6L, "c"),
      (7L, "a"), (7L, "d"),
      (8L, "b"),
      (9L, "c"),
      (10L, "a"), (10L, "a") // duplicate item in one basket: presence, not count
    ).toDF("b", "i")
  }

  test("frequentItemsets: empty input yields an EMPTY frame, and the rule " +
      "miner reads it as no rules") {
    val sp = spark
    import sp.implicits._
    // the size-0 universe row must NOT appear with support 0 / ppm 100%
    // (r8 ADVICE) — an empty corpus has no itemsets, and a downstream
    // associationRulesFrom must not read a universe of 0 from it
    val empty = Seq.empty[(Long, String)].toDF("b", "i")
    val sets = Patterns.frequentItemsets(empty, "b", "i",
      minSupportPpm = 300000L, maxSize = 3)
    assert(sets.count() == 0L)
    assert(Patterns.associationRulesFrom(sets).count() == 0L)
  }

  test("frequentItemsets: level counts at 30% support; presence semantics") {
    // minSup = ceil(10 * 0.3) = 3
    val got = Patterns.frequentItemsets(baskets, "b", "i",
        minSupportPpm = 300000L, maxSize = 3)
      .collect()
      .map(r => (r.getAs[String]("items"), r.getAs[Long]("size"),
        r.getAs[Long]("support"), r.getAs[Long]("support_ppm")))
      .toSet
    // a: baskets 1,2,3,4,5,7,10 = 7 (10's duplicate counted once);
    // b: 1,2,3,4,6,8 = 6; c: 1,2,5,6,9 = 5; d: 1 -> infrequent
    // a|b: 1,2,3,4 = 4; a|c: 1,2,5 = 3; b|c: 1,2,6 = 3; a|b|c: 1,2 = 2 < 3
    assert(got == Set(
      ("", 0L, 10L, 1000000L),
      ("a", 1L, 7L, 700000L),
      ("b", 1L, 6L, 600000L),
      ("c", 1L, 5L, 500000L),
      ("a|b", 2L, 4L, 400000L),
      ("a|c", 2L, 3L, 300000L),
      ("b|c", 2L, 3L, 300000L)))
  }

  test("frequentItemsets: triples survive a lower bar; Apriori prune holds") {
    // minSup = 2: a|b|c qualifies (baskets 1,2); no triple containing d can
    // appear because every d-pair is infrequent (the anti-monotone bound)
    val got = Patterns.frequentItemsets(baskets, "b", "i",
        minSupportPpm = 200000L, maxSize = 3)
      .collect()
      .map(r => (r.getAs[String]("items"), r.getAs[Long]("size"), r.getAs[Long]("support")))
    val triples = got.filter(_._2 == 3L).toSet
    assert(triples == Set(("a|b|c", 3L, 2L)))
    assert(!got.exists(_._1.contains("d")))
  }

  test("frequentItemsets: maxSize caps the levels; threshold floors at 1") {
    val got = Patterns.frequentItemsets(baskets, "b", "i",
        minSupportPpm = 1L, maxSize = 1)
      .collect().map(r => (r.getAs[String]("items"), r.getAs[Long]("support"))).toSet
    // minSup = ceil(10 * 1e-6) floored to 1 -> every item, d included
    assert(got == Set(("", 10L), ("a", 7L), ("b", 6L), ("c", 5L), ("d", 1L)))
  }

  test("frequentItemsets: a dense corpus sizes the final checkpoint by its triples too") {
    val sp = spark
    import sp.implicits._
    // two identical 230-item baskets at 100% support: every item, pair and
    // triple is frequent, and the 2,001,460 triples outnumber the
    // 230 + 26,335 items and pairs
    val n = 230
    val dense = (for (b <- 1L to 2L; i <- 0 until n) yield (b, f"i$i%03d")).toDF("b", "i")
    // the planned width is the final checkpoint's Coalesce; the union under
    // it may have fewer partitions, so it is read from the plan
    val checkpoints = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = if (name == "localCheckpoint") checkpoints.add(qe.executedPlan.toString)
      override def onFailure(name: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    sp.listenerManager.register(listener)
    val sets = try {
      val r = Patterns.frequentItemsets(dense, "b", "i", minSupportPpm = 1000000L, maxSize = 3)
      org.apache.spark.GraftSparkTestHooks.waitListenerBus(sp.sparkContext)
      r
    } finally sp.listenerManager.unregister(listener)
    val bySize = sets.groupBy("size").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (l1, l2, l3) = (n.toLong, n.toLong * (n - 1) / 2, n.toLong * (n - 1) * (n - 2) / 6)
    assert(bySize == Map(0L -> 1L, 1L -> l1, 2L -> l2, 3L -> l3))
    assert(l3 > l1 + l2)
    // the width counts L3: the levels without it fit one partition
    assert(SizeGates.loopPartitions(1L + l1 + l2) == 1)
    assert(SizeGates.loopPartitions(1L + l1 + l2 + l3) == 2)
    assert(checkpoints.size == 1)
    assert(checkpoints.peek().contains("Coalesce 2"), checkpoints.peek())
  }

  test("associationRules: directional confidence, integer lift vs independence") {
    val got = Patterns.associationRules(baskets, "b", "i",
        minSupportPpm = 300000L)
      .collect()
      .map(r => (r.getAs[String]("antecedent"), r.getAs[String]("consequent"),
        r.getAs[Long]("support"), r.getAs[Long]("confidence_ppm"),
        r.getAs[Long]("lift_ppm")))
      .toSet
    // a->b: 4/7; b->a: 4/6; lift(ab) = 4*10/(7*6) both ways
    assert(got == Set(
      ("a", "b", 4L, 4000000L / 7L, 40000000L / 42L),
      ("b", "a", 4L, 4000000L / 6L, 40000000L / 42L),
      ("a", "c", 3L, 3000000L / 7L, 30000000L / 35L),
      ("c", "a", 3L, 3000000L / 5L, 30000000L / 35L),
      ("b", "c", 3L, 3000000L / 6L, 30000000L / 30L),
      ("c", "b", 3L, 3000000L / 5L, 30000000L / 30L)))
  }
}
