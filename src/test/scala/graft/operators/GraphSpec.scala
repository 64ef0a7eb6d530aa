package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class GraphSpec extends SparkSpec {

  private val SCALE = 1000000000000L

  /** Reference single-threaded fold of the integer PageRank recurrence. */
  private def prRef(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val n = nodes.length.toLong
    val tele = (SCALE * 15L / 100L) / n
    var pr = nodes.map(_ -> SCALE / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (d, es) =>
        d -> es.map { case (s, _) => ((pr(s) * 85L) / 100L) / outdeg(s) }.sum
      }
      pr = nodes.map(v => v -> (tele + in.getOrElse(v, 0L))).toMap
    }
    pr
  }

  test("pageRank matches a hand fold on a small directed graph") {
    val sp = spark
    import sp.implicits._
    // a 4-node graph with a sink-ish hub: 1->2, 1->3, 2->3, 3->1, 4->3
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 1L), (4L, 3L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 10)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("pagerank")).toMap
    assert(got == prRef(edges, 10))
    // the hub (3) outranks everyone; the unreferenced node (4) holds only teleport mass
    assert(got(3L) > got(1L) && got(1L) > got(2L))
    assert(got(4L) == (SCALE * 15L / 100L) / 4L)
  }

  test("pageRank on a symmetric ring is uniform (symmetry preserved exactly)") {
    val sp = spark
    import sp.implicits._
    val ring = (0L until 6L).flatMap(i => Seq((i, (i + 1) % 6), ((i + 1) % 6, i)))
    val got = Graph.pageRank(ring.toDF("a", "b"), "a", "b", iters = 7)
      .collect().map(r => r.getAs[Long]("pagerank")).toSet
    assert(got.size == 1) // every node identical, bit-for-bit
  }

  test("pageRank total mass is conserved up to integer-floor dust") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), (1L, 3L), (2L, 4L))
    val got = Graph.pageRank(edges.toDF("src", "dst"), "src", "dst", iters = 10)
      .agg(sum(col("pagerank"))).collect()(0).getLong(0)
    // each iteration floors away < 1e-9 of the mass; 10 rounds stay within 0.1%
    assert(got <= SCALE && got > SCALE * 999L / 1000L)
  }

  test("pageRank iters=0 returns the uniform prior") {
    val sp = spark
    import sp.implicits._
    val got = Graph.pageRank(Seq((1L, 2L), (2L, 1L)).toDF("src", "dst"),
      "src", "dst", iters = 0)
      .collect().map(r => r.getAs[Long]("pagerank")).toSet
    assert(got == Set(SCALE / 2L))
  }

  test("clusterPurity: dominant label, purity and effective label count per cluster") {
    val sp = spark
    import sp.implicits._
    val comps = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))
      .toDF("doc", "component")
    val labels = Seq((1L, 7), (2L, 7), (3L, 7), (4L, 8), (10L, 1), (11L, 2), (99L, 3))
      .toDF("vec_id", "label")
    val got = Graph.clusterPurity(comps, labels, "vec_id", "label")
      .collect().map(r => r.getAs[Long]("component") ->
        ((r.getAs[Long]("n_members"), r.getAs[Long]("n_labels"), r.getAs[Long]("top_label"),
          r.getAs[Long]("top_count"), r.getAs[Double]("purity"),
          r.getAs[Double]("eff_labels")))).toMap
    // cluster 1: labels {7:3, 8:1} -> purity 0.75, eff 16/10 = 1.6
    assert(got(1L) == ((4L, 2L, 7L, 3L, 0.75, 1.6)))
    // cluster 10: 1-1 split -> tie goes to smaller label, purity 0.5, eff 2
    assert(got(10L) == ((2L, 2L, 1L, 1L, 0.5, 2.0)))
  }

  test("triangleStats: hand-counted census on a known graph") {
    val sp = spark
    import sp.implicits._
    // K4 on {1..4} (4 triangles) plus a pendant 4-5 (no new triangle);
    // edges fed unordered/duplicated to prove normalization
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (5L, 4L))
      .toDF("x", "y")
    val r = Graph.triangleStats(edges, "x", "y").collect()(0)
    assert(r.getAs[Long]("n_nodes") == 5L)
    assert(r.getAs[Long]("n_edges") == 7L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    // degrees: 3,3,3,4,1 -> wedges 3+3+3+6+0 = 15; clustering = 12/15
    assert(r.getAs[Long]("n_wedges") == 15L)
    assert(r.getAs[Double]("clustering") == 0.8)
  }

  test("triangleStats: a triangle-free star has clustering 0") {
    val sp = spark
    import sp.implicits._
    val edges = (2L to 6L).map(i => (1L, i)).toDF("x", "y")
    val r = Graph.triangleStats(edges, "x", "y").collect()(0)
    assert(r.getAs[Long]("n_triangles") == 0L)
    assert(r.getAs[Double]("clustering") == 0.0)
  }

  test("labelPropagation: seeds frozen, majority vote spreads, ties take the smaller label") {
    val sp = spark
    import sp.implicits._
    // path 1-2-3-4-5 (undirected), seeds: 1 -> label 10, 5 -> label 20.
    // node 3 hears 10 (via 2) and 20 (via 4) equally -> smaller label 10.
    val base = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("node", "lab")
    val got = Graph.labelPropagation(edges, "src", "dst", seeds, "node", "lab", iters = 4)
      .collect().map(r => r.getAs[Long]("node") ->
        (if (r.isNullAt(1)) -1L else r.getAs[Long]("label"))).toMap
    assert(got(1L) == 10L && got(5L) == 20L) // seeds unchanged
    assert(got(2L) == 10L)                   // nearest seed
    assert(got(3L) == 10L)                   // hears 10 and 20 equally -> smaller label
    // node 4 then ties between its neighbor 3 (10) and seed 5 (20) every
    // round -> the deterministic tie-break hands the smaller label the win
    assert(got(4L) == 10L)
  }

  test("labelPropagation: unreached components stay null; seed labels dominate re-votes") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 1L), (8L, 9L), (9L, 8L)).toDF("src", "dst")
    val seeds = Seq((1L, 7L)).toDF("n", "l")
    val got = Graph.labelPropagation(edges, "src", "dst", seeds, "n", "l", iters = 3)
      .collect().map(r => r.getAs[Long]("node") ->
        (if (r.isNullAt(1)) -1L else r.getAs[Long]("label"))).toMap
    assert(got == Map(1L -> 7L, 2L -> 7L, 8L -> -1L, 9L -> -1L))
  }

  test("pageRank drops null endpoints and casts integral id types") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((Some(1), Some(2)), (Some(2), Some(1)), (None, Some(9)), (Some(9), None))
      .toDF("src", "dst")
    val got = Graph.pageRank(edges, "src", "dst", iters = 3).collect()
    assert(got.map(_.getAs[Long]("node")).toSet == Set(1L, 2L))
  }

  test("linkPredict: cycle diagonals score both shared neighbors; edges excluded") {
    val sp = spark
    import sp.implicits._
    // square 1-2-3-4-1: non-edges are the diagonals (1,3) and (2,4), each
    // sharing TWO neighbors of degree 2 -> cn=2, ra = 2 * (scale div 2)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val got = Graph.linkPredict(edges, "a", "b", maxDegree = 64, topK = 10,
      scale = 1000000L)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        ((r.getAs[Long]("cn"), r.getAs[Long]("ra")))).toMap
    assert(got == Map((1L, 3L) -> ((2L, 1000000L)), (2L, 4L) -> ((2L, 1000000L))))
  }

  test("linkPredict: hubs above maxDegree contribute nothing; path wedge scores 1/deg") {
    val sp = spark
    import sp.implicits._
    // path 1-2-3 (deg(2)=2) plus a hub 9 connected to 1,3,5,6 (deg 4)
    val edges = Seq((1L, 2L), (2L, 3L), (9L, 1L), (9L, 3L), (9L, 5L), (9L, 6L))
      .toDF("a", "b")
    val got = Graph.linkPredict(edges, "a", "b", maxDegree = 3, topK = 100,
      scale = 1000000L)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        ((r.getAs[Long]("cn"), r.getAs[Long]("ra")))).toMap
    // (1,3) shares node 2 (deg 2, contributes 500000) AND hub 9 (deg 4 >
    // maxDegree 3: no contribution, not even to cn); hub-only wedges like
    // (1,5) disappear entirely
    assert(got((1L, 3L)) == ((1L, 500000L)))
    assert(!got.keySet.exists { case (a, b) => Set(a, b).intersect(Set(5L, 6L)).nonEmpty })
  }

  test("negativeSample: deterministic, excludes self and real edges") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("d1", "d2")
    val g1 = Graph.negativeSample(edges, "d1", "d2", perNode = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val g2 = Graph.negativeSample(edges, "d1", "d2", perNode = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(g1 == g2)                       // seeded: replays identically
    assert(g1.nonEmpty)
    val real = Set((1L, 2L), (2L, 3L), (3L, 4L))
    g1.foreach { case (n, _, p) =>
      assert(n != p, s"self pair $n")
      val c = (math.min(n, p), math.max(n, p))
      assert(!real.contains(c), s"real edge sampled: $c")
      assert((1L to 4L).contains(p), s"partner outside universe: $p")
    }
    // a different seed draws a different proposal set
    val g3 = Graph.negativeSample(edges, "d1", "d2", perNode = 4, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    assert(g3 != g1)
  }

  test("kCore: triangle survives the 2-core, pendant chain peels away") {
    val sp = spark
    import sp.implicits._
    // triangle 1-2-3 plus a pendant path 3-4-5: the 2-core is the triangle
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("d1", "d2")
    val got = Graph.kCore(edges, "d1", "d2", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    assert(got == List((1L, 2L), (2L, 2L), (3L, 2L)), got.toString)
    // 3-core of the same graph is empty
    assert(Graph.kCore(edges, "d1", "d2", k = 3).collect().isEmpty)
  }

  test("kCore size gate: driver queue peel == distributed round peel") {
    val sp = spark
    import sp.implicits._
    // seeded random graph dense enough to have a nontrivial 3-core
    val rng = new scala.util.Random(11L)
    val edges = Seq.fill(400)((rng.nextInt(60).toLong, rng.nextInt(60).toLong))
      .filter { case (a, b) => a != b }.toDF("d1", "d2")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val driver = rows(Graph.kCore(edges, "d1", "d2", k = 3))
    // maxDriverEdges = 0 forces the distributed loop on the same input
    val dist = rows(Graph.kCore(edges, "d1", "d2", k = 3, maxDriverEdges = 0L))
    assert(driver.nonEmpty, "fixture produced an empty 3-core — weak test")
    assert(driver == dist)
  }

  test("pageRank size gate: driver integer loop == distributed rounds") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(13L)
    val edges = Seq.fill(500)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.toDF("s", "d")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(org.apache.spark.sql.functions.col("node"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toList
    val driver = rows(Graph.pageRank(edges, "s", "d", iters = 10))
    val dist = rows(Graph.pageRank(edges, "s", "d", iters = 10, maxDriverEdges = 0L))
    assert(driver == dist) // integer recurrence: bit-identical, not "close"
  }

  test("the driver paths count the edge frame once: the gate's count is passed in") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val seeds = Seq((1L, 7L)).toDF("node", "label")
    // the jobs of the gate's count: one count of a fresh cache of the
    // operator's own edge frame (harmonicCentrality's drops loops, distinct)
    def gateJobs(distinct: Boolean): Int = {
      val e0 = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .where(col("src").isNotNull && col("dst").isNotNull)
      val e = (if (distinct) e0.where(col("src") =!= col("dst")).distinct() else e0).persist()
      try jobsOf(e.count())._2.size finally e.unpersist(blocking = true)
    }
    def jobs(run: => org.apache.spark.sql.DataFrame): Int = jobsOf(run)._2.size
    // the gate's count plus the one collect of the edge list (and of the
    // seeds); the driver half used to count the cached frame a second time
    val plain = gateJobs(distinct = false) + 1
    assert(jobs(Graph.pageRank(edges, "src", "dst", iters = 3)) == plain)
    assert(jobs(Graph.hits(edges, "src", "dst", iters = 3)) == plain)
    assert(jobs(Graph.labelPropagation(edges, "src", "dst", seeds, "node", "label", 3)) == plain + 1)
    assert(jobs(Graph.harmonicCentrality(edges, "src", "dst")) == gateJobs(distinct = true) + 1)
  }

  test("labelPropagation size gate: driver vote loop == distributed rounds") {
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(17L)
    val e0 = Seq.fill(500)((rng.nextInt(80).toLong, rng.nextInt(80).toLong))
      .filter { case (a, b) => a != b }.toDF("s", "d")
    // symmetrize like the q_label_prop caller; seed a third of the nodes
    val edges = e0.unionByName(e0.select(
      org.apache.spark.sql.functions.col("d").as("s"),
      org.apache.spark.sql.functions.col("s").as("d")))
    val seeds = (0L until 80L by 3L).map(n => (n, n % 4)).toDF("node", "lab")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(org.apache.spark.sql.functions.col("node"))
        .collect().map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toList
    val driver = rows(Graph.labelPropagation(edges, "s", "d", seeds, "node", "lab", iters = 5))
    val dist = rows(Graph.labelPropagation(edges, "s", "d", seeds, "node", "lab", iters = 5,
      maxDriverEdges = 0L))
    assert(driver == dist)
  }

  /** Reference single-threaded fold of the integer HITS recurrence. */
  private def hitsRef(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000000L): Map[Long, (Long, Long)] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    var auth = nodes.map(_ -> scale / n).toMap
    var hub = nodes.map(_ -> scale / n).toMap
    def norm(raw: Map[Long, Long]): Map[Long, Long] = {
      val q = math.max(1L, raw.values.sum / scale)
      nodes.map(v => v -> raw.getOrElse(v, 0L) / q).toMap
    }
    for (_ <- 1 to iters) {
      auth = norm(edges.groupBy(_._2).map { case (d, es) => d -> es.map(e => hub(e._1)).sum })
      hub = norm(edges.groupBy(_._1).map { case (s, es) => s -> es.map(e => auth(e._2)).sum })
    }
    nodes.map(v => v -> (auth(v), hub(v))).toMap
  }

  test("hits matches a hand fold; star center is all authority, leaves all hub") {
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (4L, 0L))
    val got = Graph.hits(edges.toDF("src", "dst"), "src", "dst", iters = 5)
      .collect()
      .map(r => r.getAs[Long]("node") -> (r.getAs[Long]("auth"), r.getAs[Long]("hub")))
      .toMap
    assert(got == hitsRef(edges, 5))
    // the pointed-at center holds ALL authority and no hub mass; the four
    // symmetric leaves split the hub mass exactly evenly
    assert(got(0L)._1 > 0L && got(0L)._2 == 0L)
    val leafHubs = (1L to 4L).map(got(_)._2).toSet
    assert(leafHubs.size == 1 && leafHubs.head > 0L)
    assert((1L to 4L).forall(got(_)._1 == 0L))
  }

  test("hits size gate: driver integer loop == distributed rounds") {
    val sp = spark
    import sp.implicits._
    val edges = (0L until 120L).flatMap(i =>
      Seq((i, (i * 7 + 3) % 120), (i, (i * 13 + 1) % 120)))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("node")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toList
    val driver = rows(Graph.hits(edges, "src", "dst", iters = 5))
    val dist = rows(Graph.hits(edges, "src", "dst", iters = 5, maxDriverEdges = 0L))
    assert(driver == dist)
  }

  test("harmonicCentrality: hand-computed path graph, hop cap, seed exclusion") {
    val sp = spark
    import sp.implicits._
    // directed path 0 -> 1 -> 2 -> 3 -> 4, seeds = every node (seedMod 1),
    // scale 720720. d(s,v) = v - s for s < v, unreachable otherwise.
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val S = 720720L
    def exp(maxHops: Int): Map[Long, Long] =
      (0L to 4L).map(v => v -> (1L to math.min(v, maxHops.toLong))
        .map(d => S / d).sum).toMap
    for (cap <- Seq(1, 2, 6)) {
      val got = Graph.harmonicCentrality(edges, "src", "dst",
          seedMod = 1L, maxHops = cap)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == exp(cap), s"maxHops=$cap")
    }
  }

  test("harmonicCentrality: seedMod selects landmarks only") {
    val sp = spark
    import sp.implicits._
    // undirected 3-star around node 10 (both orientations); seeds = ids %2==0
    val half = Seq((10L, 1L), (10L, 2L), (10L, 4L))
    val edges = (half ++ half.map(_.swap)).toDF("src", "dst")
    val S = 720720L
    val got = Graph.harmonicCentrality(edges, "src", "dst",
        seedMod = 2L, maxHops = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // seeds: 10, 2, 4. center 10: d=1 from 2 and 4 -> 2S. leaf 1: d=1 from
    // 10, d=2 from 2 and 4 -> S + 2*(S/2) = 2S. leaf 2: d=1 from 10, d=2
    // from 4 -> S + S/2 (seed 2 itself excluded); leaf 4 symmetric.
    assert(got == Map(10L -> 2 * S, 1L -> 2 * S,
      2L -> (S + S / 2), 4L -> (S + S / 2)))
  }

  test("harmonicCentrality size gate: driver BFS == distributed frontier") {
    val sp = spark
    import sp.implicits._
    val edges = (0L until 150L).flatMap(i =>
      Seq((i, (i * 11 + 2) % 150), (i, (i * 17 + 5) % 150)))
      .filter { case (a, b) => a != b }.toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy(col("node")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toList
    val driver = rows(Graph.harmonicCentrality(edges, "src", "dst",
      seedMod = 3L, maxHops = 4))
    val dist = rows(Graph.harmonicCentrality(edges, "src", "dst",
      seedMod = 3L, maxHops = 4, maxDriverEdges = 0L))
    assert(driver == dist)
  }

  test("distributed loops are bit-stable under shuffle.partitions 1 vs 32") {
    // the QuerySurfaceSpec sweep jitters the QUERY surface, which routes these operators
    // through their driver gates at sf0.001 — the DISTRIBUTED loops (the
    // plans that actually run at 100×) need their own partitioning jitter
    // now that the r11 restructures lean on lazy checkpoints, literal
    // divisors and AQE join-strategy choices. Integer arithmetic is the
    // invariance argument; this pins it.
    val sp = spark
    import sp.implicits._
    val rng = new scala.util.Random(29L)
    val edges = Seq.fill(500)((rng.nextInt(70).toLong, rng.nextInt(70).toLong))
      .filter { case (a, b) => a != b }.toDF("s", "d")
    val seeds = (0L until 70L by 7L).map(i => (i, i % 3)).toDF("n", "l")
    def runAll(): Seq[Seq[String]] = Seq(
      Graph.kCore(edges, "s", "d", k = 3, maxDriverEdges = 0L),
      Graph.hits(edges, "s", "d", iters = 4, maxDriverEdges = 0L),
      Graph.pageRank(edges, "s", "d", iters = 6, maxDriverEdges = 0L),
      Graph.labelPropagation(edges, "s", "d", seeds, "n", "l", iters = 4,
        maxDriverEdges = 0L)
    ).map(_.collect().map(_.toString).toSeq.sorted)
    val before = sp.conf.get("spark.sql.shuffle.partitions")
    try {
      sp.conf.set("spark.sql.shuffle.partitions", 1)
      val one = runAll()
      sp.conf.set("spark.sql.shuffle.partitions", 32)
      val many = runAll()
      assert(one == many, "distributed graph loop output flips with partitioning")
    } finally sp.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("assortativity: star is disassortative, regular ring undefined") {
    val sp = spark
    import sp.implicits._
    // star 0-{1,2,3,4}: every edge pairs deg 4 with deg 1 -> r = -1
    val star = Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)).toDF("d1", "d2")
    val rs = Graph.assortativity(star, "d1", "d2").collect().head
    assert(rs.getLong(0) == 4L)
    assert(math.abs(rs.getDouble(1) - -1.0) < 1e-9, rs.toString)
    // 4-ring: all degrees 2 -> zero variance -> r null
    val ring = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("d1", "d2")
    val rr = Graph.assortativity(ring, "d1", "d2").collect().head
    assert(rr.getLong(0) == 4L && rr.isNullAt(1), rr.toString)
  }
}
