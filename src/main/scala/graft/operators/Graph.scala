package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Telemetry

/** Iterative graph analytics over plain edge-list DataFrames.
  *
  * Companion to [[Dedup.connectedComponents]] (hash-min label propagation):
  * the same "driver steers, cluster computes" shape — a fixed/bounded number
  * of keyed join+aggregate rounds over an edge frame, with lineage truncated
  * so the plan stays shallow no matter how many rounds run.
  */
object Graph {

  /** One round of a distributed iterative loop, as observed from the
    * driver: `wallMs` is the wall-clock the round spent (plan compile +
    * every Spark job it launched), `rows` a per-round mass figure —
    * surviving edges for the k-core peel, the hub-side raw L1 total for
    * HITS. The distributed k-core, HITS and pageRank loops note their
    * rounds through [[graft.Telemetry.note]] under [[KCoreRounds]],
    * [[HitsRounds]] and [[PageRankRounds]], once at the end of each call;
    * Bench embeds each `_dist_*` entry's own trace in BENCH_FULL next to
    * its timing (r10 verdict ask #1) so a probe regression decomposes into
    * rounds × per-round cost instead of being re-argued from plan shape.
    * pageRank's rows column is -1: its rounds deliberately run ZERO driver
    * actions (the lazy cut executes the round's stages without a separate
    * count job — r11 job-floor lesson), and adding a count to feed the
    * trace would change the very plan being measured. */
  final case class RoundTrace(round: Int, wallMs: Long, rows: Long)

  final val KCoreRounds = "graph.kcore.rounds"
  final val HitsRounds = "graph.hits.rounds"
  final val PageRankRounds = "graph.pagerank.rounds"

  /** Integer-exact PageRank with damping 0.85 and a FIXED iteration count.
    *
    * Ranks are carried as BIGINT in units of `1/scale` and every update is
    * integer arithmetic — `contrib = ((pr * 85) div 100) div outdeg`,
    * `pr' = teleport + sum(contrib over in-edges)` — so the result is
    * bit-identical on any engine (no floating-point accumulation order to
    * diverge between a 1000-executor shuffle and a single-node fold).
    * Dangling mass is dropped (the classic simplified variant); over a kNN
    * edge list every node has out-degree k, so no node dangles anyway.
    *
    * Plan shape per iteration: one keyed LEFT OUTER join (raw contribution
    * sums × edges on `src` — a node absent from the sums has
    * pr = teleport exactly, so `teleport + coalesce(m, 0)` inside the join
    * replaces a per-round nodes-fill join; the fill runs once on the final
    * output) and one keyed map-side-combinable sum (by `dst`); the
    * out-degree-annotated edge frame is computed once and persisted, and
    * the node-sized sum frame is lazily `localCheckpoint`ed EVERY round so
    * the plan stays constant-depth (the old every-3-rounds cut recompiled
    * a 3-round-deep plan per cut — r11 probe evidence). At 100 TB the edge
    * frame dominates and it is touched once per iteration with no driver
    * collect; the single driver-side action is the node COUNT (one long).
    *
    * Output: `(node BIGINT, pagerank BIGINT)` — scaled ranks; divide by
    * `scale` for probabilities. Sum over nodes ≈ scale (minus integer-floor
    * dust, which is exactly reproducible).
    */
  def pageRank(edges: DataFrame, src: String, dst: String, iters: Int = 10,
      scale: Long = 1000000000000L, maxDriverEdges: Long = 2000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    // persist the RAW edge frame first: outdeg, the annotated edge frame
    // and the node list all derive from it, and without the cache the edge
    // producer (e.g. a 25M-cosine kNN sweep) would re-run once per branch
    val e = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .persist()
    // Size-gated two-path routing (the kCore/bpeLearn pattern): every
    // update is INTEGER arithmetic, so a collected loop reproduces the
    // distributed ranks bit-for-bit while skipping `iters` × (join + agg)
    // cluster rounds of pure job floor on a control-plane-sized graph
    // (r7 bench: 5.3 s at sf0.1, ~all scheduling). GraphSpec pins the two
    // paths identical; the distributed loop remains the unbounded path.
    val nEdges = e.count()
    if (nEdges <= maxDriverEdges && nEdges <= (Int.MaxValue / 2 - 8).toLong) {
      try return pageRankDriver(e, nEdges.toInt, iters, scale)
      finally e.unpersist(blocking = false)
    }
    // setup passes (degree agg, node distinct, the `ed` build) read the
    // cached edge frame through a rows-derived coalesce VIEW — no shuffle,
    // a narrow task just reads several cached partitions. The cache's
    // native width is whatever the upstream producer (a kNN sweep, a pair
    // join) happened to leave: at sf0.1 that is 32 partitions of ~3 kB,
    // and the r14 probe measured ~190–500 ms of executor overhead PER
    // TASK on such slices (width-proportional scheduler/shuffle-registry
    // cost and memory-manager contention), so every setup pass burned
    // ~6–16 s of executor time moving kilobytes. At scale loopP grows
    // with the edge count and the coalesce is a no-op in spirit.
    val loopP = SizeGates.loopPartitions(nEdges)
    val eL = e.coalesce(loopP)
    val outd = eL.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // pin the cached edge frame's partitioning AND ordering to the loop's
    // join key: a hash(src) layout satisfies every round's join
    // distribution and the within-partition sort satisfies the merge
    // join's ordering requirement, so the EDGE-sized side is shuffled and
    // sorted once here instead of once per iteration when the rank side is
    // too big to broadcast (at toy scale AQE broadcasts the nodes-sized
    // side and the point is moot; at 100× the per-round edge exchange+sort
    // IS the job — GraphPlanSpec pins the shape: bare InMemoryTableScan,
    // no Exchange, no Sort). Partition count is ROWS-DERIVED
    // ([[SizeGates.loopPartitions]], r14): the old shuffle-partitions pin
    // made every round pay a 32-task map stage over a kB-sized cache —
    // ~190 ms of executor overhead per task, ~6 s of executor time per
    // round at sf0.1 — while at 100× the same constant under-partitions;
    // nEdges is already counted for the driver gate, so the pin costs
    // nothing extra and scales with the data.
    val ed = eL.join(outd, Seq("src"))
      .repartition(loopP, col("src"))
      .sortWithinPartitions(col("src")).persist()
    val nodes = eL.select(col("src").as("node"))
      .unionByName(eL.select(col("dst").as("node")))
      .distinct()
      .persist()
    try {
      val n = nodes.count() // the one driver-side action: a single long
      require(n > 0, "pageRank needs at least one edge")
      val teleport = (scale * 15L / 100L) / n
      if (iters == 0)
        return nodes.select(col("node"), lit(scale / n).as("pagerank"))
          .localCheckpoint()
      // Per-round plan, restructured on the r11 ProbeProfile evidence (the
      // _dist_hits lesson applied to the linear chain): the carried state
      // is the RAW per-node contribution SUM — a node absent from it has
      // pr = teleport exactly, so the per-round nodes-fill outer join
      // collapses into `teleport + coalesce(m, 0)` INSIDE the edge join
      // (now left_outer so every edge still contributes), and the fill
      // runs ONCE on the final output. Round 1's uniform scale/n rank is a
      // literal, so its join disappears entirely. Each round's sum frame
      // is cut LAZILY every round (constant-depth plan; the old every-3
      // lazy cut recompiled a 3-round-deep plan per cut). Integer
      // arithmetic identical to pageRankDriver — bit-equality pinned by
      // GraphSpec, values by the unrolled q_pagerank oracle.
      val trace = Seq.newBuilder[RoundTrace]
      var t0 = System.nanoTime()
      var sums: DataFrame = ed
        .select(col("dst").as("node"),
          expr(s"((${scale / n}L * 85) div 100) div outdeg").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("m"))
        .localCheckpoint(false)
      trace += RoundTrace(1, (System.nanoTime() - t0) / 1000000L, -1L)
      for (it <- 2 to iters) {
        t0 = System.nanoTime()
        sums = ed
          .join(sums.select(col("node").as("__sn"), col("m")),
            ed("src") === col("__sn"), "left_outer")
          .select(col("dst").as("node"),
            expr(s"(((${teleport}L + coalesce(m, 0L)) * 85) div 100) div outdeg").as("c"))
          .groupBy(col("node")).agg(sum(col("c")).as("m"))
          .localCheckpoint(false)
        trace += RoundTrace(it, (System.nanoTime() - t0) / 1000000L, -1L)
      }
      Telemetry.note(ed.sparkSession, PageRankRounds, trace.result())
      nodes.join(sums, Seq("node"), "left_outer")
        .select(col("node"),
          (lit(teleport) + coalesce(col("m"), lit(0L))).as("pagerank"))
        .localCheckpoint()
    } finally {
      e.unpersist()
      ed.unpersist()
      nodes.unpersist()
    }
  }

  /** Edge frame → primitive arrays + sorted-unique node index, streamed in
    * via toLocalIterator (no Array[Row] spike) — the shared first step of
    * the driver-gated graph loops. The coalesce(1) matters: toLocalIterator
    * runs ONE JOB PER PARTITION, and over a 32-partition cached frame that
    * is 32 sequential scheduler round-trips for a control-plane-sized edge
    * list (the r8 q_kcore regression, 0.69 → 1.22 s); a single coalesced
    * partition streams it in one job, still row-at-a-time (no Row array
    * spike). Returns (srcIds, dstIds, nodes). */
  private def collectGraph(e: DataFrame, m: Int): (Array[Long], Array[Long], Array[Long]) = {
    val ea = new Array[Long](m); val eb = new Array[Long](m)
    val it = e.coalesce(1).toLocalIterator()
    var i = 0
    while (it.hasNext) { val r = it.next(); ea(i) = r.getLong(0); eb(i) = r.getLong(1); i += 1 }
    val all = new Array[Long](2 * m)
    System.arraycopy(ea, 0, all, 0, m); System.arraycopy(eb, 0, all, m, m)
    java.util.Arrays.sort(all)
    var nn = 0
    i = 0
    while (i < all.length) {
      if (nn == 0 || all(nn - 1) != all(i)) { all(nn) = all(i); nn += 1 }
      i += 1
    }
    (ea, eb, java.util.Arrays.copyOf(all, nn))
  }

  /** Driver half of [[pageRank]]'s size gate: the identical integer
    * recurrence — `contrib = ((pr * 85) div 100) div outdeg` summed per
    * target, `pr' = teleport + Σ` — over collected primitive arrays.
    * Integer addition commutes, so this is bit-identical to the shuffled
    * sum by construction (GraphSpec pins it). */
  private def pageRankDriver(e: DataFrame, m: Int, iters: Int, scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    require(m > 0, "pageRank needs at least one edge")
    val (ea, eb, nodes) = collectGraph(e, m)
    val nn = nodes.length
    def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
    val si = new Array[Int](m); val di = new Array[Int](m)
    val outdeg = new Array[Long](nn)
    var i = 0
    while (i < m) { si(i) = idx(ea(i)); di(i) = idx(eb(i)); outdeg(si(i)) += 1L; i += 1 }
    val teleport = (scale * 15L / 100L) / nn
    var pr = Array.fill(nn)(scale / nn)
    var it2 = 0
    while (it2 < iters) {
      val nxt = Array.fill(nn)(teleport)
      i = 0
      while (i < m) {
        nxt(di(i)) += ((pr(si(i)) * 85L) / 100L) / outdeg(si(i))
        i += 1
      }
      pr = nxt
      it2 += 1
    }
    (0 until nn).map(j => (nodes(j), pr(j))).toDF("node", "pagerank")
  }

  /** Integer-exact HITS (hubs and authorities) with a FIXED iteration
    * count — [[pageRank]]'s directed complement: a node is a good
    * AUTHORITY when good hubs point at it and a good HUB when it points at
    * good authorities. Over a kNN edge list the split is diagnostic:
    * authority ≈ "how often am I someone's neighbor" (the hubness signal,
    * eigenvector-weighted) while hub ≈ "do my own neighbors matter" —
    * a retrieval-quality pair PageRank's single score conflates.
    *
    * Scores are BIGINT in units of `1/scale`; each half-iteration is one
    * keyed join + one keyed sum (auth from in-edge hubs, then hub from
    * out-edge auths), and the per-round L1 normalization — HITS diverges
    * without one — is `x div greatest(1, S div scale)` where `S` is the
    * 1-row total: pure integer arithmetic end to end, so the result is
    * bit-identical on any engine/shuffle order (the [[pageRank]]
    * guarantee), and the oracle unrolls the same recurrence. Bound: the
    * raw per-node sums stay under `indeg · scale`, so keep
    * `edges · scale < 2^62` (the default 1e9 scale leaves room for ~4e9
    * edges — far past the driver gate, and the distributed path carries
    * the same arithmetic).
    *
    * Plan shape per iteration: two keyed INNER joins (edges ⋈ raw — a
    * node absent from a raw frame scores 0 and contributes 0, so the
    * nodes-fill outer join is deferred to the single final output) + two
    * map-side-combinable sums; each half-round's RAW frame is
    * localCheckpoint-ed LAZILY (the plan is cut identically — the frame
    * is LogicalRDD-rooted either way) and its L1 total is a 1-row driver
    * read that doubles as the materializing action, inlined as a literal
    * divisor into the next half-round. History: the r9 lazy
    * every-3-rounds cut left 4^3 plan copies between cuts (87 s at
    * sf0.1); the r10 eager-raw cut fixed the doubling but still paid ~17
    * jobs/round of eager-count + fill-join + broadcast-total floor
    * (ProbeProfile r11: 84 jobs, 8.3 s, all floor) — this shape is the
    * same integer recurrence at ~1/3 the jobs. The size gate routes
    * control-plane-sized graphs through the identical collected integer
    * loop (GraphSpec pins the two paths bit-equal).
    *
    * Output: `(node, auth, hub)` — scaled BIGINTs, each column summing to
    * ≈ scale minus integer-floor dust.
    */
  def hits(edges: DataFrame, src: String, dst: String, iters: Int = 5,
      scale: Long = 1000000000L, maxDriverEdges: Long = 2000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    require(scale > 0, s"scale must be positive, got $scale")
    val e = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .persist()
    val nEdges = e.count()
    if (nEdges <= maxDriverEdges && nEdges <= (Int.MaxValue / 2 - 8).toLong) {
      try return hitsDriver(e, nEdges.toInt, iters, scale)
      finally e.unpersist(blocking = false)
    }
    // rows-derived widths for the setup passes AND the pinned caches
    // (SizeGates.loopPartitions + the coalesce view, r14) — see the
    // pageRank notes: the shuffle-partitions constant burned a 32-task
    // map stage per half-round (and per setup pass) on a kB-sized cache.
    val loopP = SizeGates.loopPartitions(nEdges)
    val eL = e.coalesce(loopP)
    val nodes = eL.select(col("src").as("node"))
      .unionByName(eL.select(col("dst").as("node")))
      .distinct()
      .persist()
    // HITS alternates join keys (src for the hub read, dst for the auth
    // read), so ONE cached layout can't serve both halves — cache a copy
    // pre-partitioned AND pre-sorted per key (the pageRank `ed` convention
    // doubled): 2× edge storage buys away one EDGE-sized exchange + sort
    // per half-round when the raw side outgrows broadcast (GraphPlanSpec
    // pins both halves: bare InMemoryTableScan, no Exchange, no Sort).
    val eBySrc = eL.repartition(loopP, col("src")).sortWithinPartitions(col("src")).persist()
    val eByDst = eL.repartition(loopP, col("dst")).sortWithinPartitions(col("dst")).persist()
    try {
      val n = nodes.count()
      require(n > 0, "hits needs at least one edge")
      if (iters == 0)
        return nodes.select(col("node"), lit(scale / n).as("auth"),
          lit(scale / n).as("hub")).localCheckpoint()
      // Per-half-round plan, restructured on the r11 ProbeProfile evidence
      // (the r10 shape spent 84 jobs / ~17 per round, ~all job floor):
      //  - the nodes-fill left_outer join is NOT run per half-round — a
      //    node absent from the raw frame has score 0 and contributes 0 to
      //    the next sums, so an INNER edge⋈raw join computes the identical
      //    integers; the fill happens ONCE on the final output;
      //  - the L1 divisor is a 1-row DRIVER read of the materialized raw
      //    frame (control-plane scalar, the repo's 1-row-read convention)
      //    inlined as a LITERAL, so the broadcast-total join and its build
      //    job disappear from every half-round;
      //  - the raw cut is LAZY (localCheckpoint(false)): the plan is cut
      //    identically — the returned frame is already LogicalRDD-rooted —
      //    and the 1-row total read doubles as the materializing action,
      //    so the eager cut's separate full-scan count job is gone;
      //  - round 1's hub side is the uniform scale/n literal, so its join
      //    collapses to a degree count.
      // Integer DIV on non-negative BIGINTs matches hitsDriver's Long
      // division exactly; sums commute — bit-equality is untouched
      // (GraphSpec pins it).
      def rawTotal(raw: DataFrame): Long = raw.agg(sum(col("raw"))).first().getLong(0)
      var aRaw: DataFrame = null; var aQ = 1L
      var hRaw: DataFrame = null; var hQ = 1L
      val trace = Seq.newBuilder[RoundTrace]
      for (it <- 1 to iters) {
        val t0 = System.nanoTime()
        val aNew = (if (it == 1)
            eByDst.groupBy(col("dst").as("node"))
              .agg((count(lit(1)) * lit(scale / n)).as("raw"))
          else
            eBySrc.join(hRaw.select(col("node").as("__hn"), col("raw").as("__hr")),
                col("src") === col("__hn"))
              .groupBy(col("dst").as("node"))
              .agg(sum(expr(s"__hr DIV ${hQ}L")).as("raw")))
          .localCheckpoint(false)
        aQ = math.max(1L, rawTotal(aNew) / scale)
        aRaw = aNew
        val hNew = eByDst.join(aRaw.select(col("node").as("__an"), col("raw").as("__ar")),
            col("dst") === col("__an"))
          .groupBy(col("src").as("node"))
          .agg(sum(expr(s"__ar DIV ${aQ}L")).as("raw"))
          .localCheckpoint(false)
        // the round's hub-side raw L1 mass doubles as the trace's `rows`
        // column — already a 1-row driver read here, and it gives a future
        // regression a per-round mass decomposition, not just wall
        val hTot = rawTotal(hNew)
        hQ = math.max(1L, hTot / scale)
        hRaw = hNew
        trace += RoundTrace(it, (System.nanoTime() - t0) / 1000000L, hTot)
      }
      Telemetry.note(eByDst.sparkSession, HitsRounds, trace.result())
      nodes
        .join(aRaw.select(col("node"), col("raw").as("__ar")), Seq("node"), "left_outer")
        .join(hRaw.select(col("node"), col("raw").as("__hr")), Seq("node"), "left_outer")
        .select(col("node"),
          expr(s"coalesce(__ar, 0L) DIV ${aQ}L").as("auth"),
          expr(s"coalesce(__hr, 0L) DIV ${hQ}L").as("hub"))
        .localCheckpoint()
    } finally {
      e.unpersist()
      eBySrc.unpersist()
      eByDst.unpersist()
      nodes.unpersist()
    }
  }

  /** Driver half of [[hits]]'s size gate: the identical integer recurrence
    * over collected primitive arrays — integer sums commute, so the two
    * paths are bit-equal by construction (GraphSpec pins it). */
  private def hitsDriver(e: DataFrame, m: Int, iters: Int, scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    require(m > 0, "hits needs at least one edge")
    val (ea, eb, nodes) = collectGraph(e, m)
    val nn = nodes.length
    def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
    val si = new Array[Int](m); val di = new Array[Int](m)
    var i = 0
    while (i < m) { si(i) = idx(ea(i)); di(i) = idx(eb(i)); i += 1 }
    var auth = Array.fill(nn)(scale / nn)
    var hub = Array.fill(nn)(scale / nn)
    def normalize(raw: Array[Long]): Array[Long] = {
      var s = 0L; var j = 0
      while (j < nn) { s += raw(j); j += 1 }
      val q = math.max(1L, s / scale)
      j = 0
      while (j < nn) { raw(j) = raw(j) / q; j += 1 }
      raw
    }
    var it2 = 0
    while (it2 < iters) {
      val aRaw = new Array[Long](nn)
      i = 0
      while (i < m) { aRaw(di(i)) += hub(si(i)); i += 1 }
      auth = normalize(aRaw)
      val hRaw = new Array[Long](nn)
      i = 0
      while (i < m) { hRaw(si(i)) += auth(di(i)); i += 1 }
      hub = normalize(hRaw)
      it2 += 1
    }
    (0 until nn).map(j => (nodes(j), auth(j), hub(j))).toDF("node", "auth", "hub")
  }

  /** Harmonic centrality from a deterministic LANDMARK set — "how close is
    * each node to the rest of the graph", the classic influence/coverage
    * signal, estimated the only way it scales: BFS from pivots, not from
    * every node (Eppstein–Wang style sampling; all-pairs BFS is O(V·E) and
    * dead at 100 TB). Seeds are every node with `id % seedMod == 0` — a
    * modulus, not a random draw, so the seed set is reproducible on any
    * engine with no RNG to mirror. `seedMod = 1` gives the exact
    * centrality.
    *
    * Score is integer-exact: a node reached from seed `s` at BFS distance
    * `d ≤ maxHops` collects `scale div d`, and the default
    * `scale = 720720 = lcm(1..16)` divides evenly for every `d ≤ 16`, so
    * the sum is EXACTLY `scale · Σ 1/d` — no float anywhere, bit-identical
    * across engines and shuffle orders (BFS distance is a unique minimum,
    * so contributions don't depend on traversal order). A seed's own
    * `d = 0` is excluded.
    *
    * Distributed plan per hop (maxHops-bounded BSP frontier expansion):
    * frontier ⋈ edges (keyed on the edge source), distinct, anti-join
    * against the visited set — three shuffles on frames bounded by
    * |seeds| · |V|, which is why `seedMod` IS the scale knob; lineage is
    * localCheckpoint-truncated every hop (the visited frame is referenced
    * by every later hop). The size gate routes control-plane-sized graphs
    * through the identical primitive-array BFS (GraphSpec pins the two
    * paths equal).
    *
    * Output: `(node, harmonic)` for EVERY endpoint node (0 when no seed
    * reaches it), node-ascending contract left to the caller.
    */
  def harmonicCentrality(edges: DataFrame, src: String, dst: String,
      seedMod: Long = 1L, maxHops: Int = 6, scale: Long = 720720L,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    require(seedMod >= 1, s"seedMod must be >= 1, got $seedMod")
    require(maxHops >= 1 && maxHops <= 64, s"maxHops in [1,64], got $maxHops")
    require(scale > 0, s"scale must be positive, got $scale")
    val e = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
      .persist()
    val nEdges = e.count()
    if (nEdges <= maxDriverEdges && nEdges <= (Int.MaxValue / 2 - 8).toLong) {
      try return harmonicDriver(e, nEdges.toInt, seedMod, maxHops, scale)
      finally e.unpersist(blocking = false)
    }
    // rows-derived width for the setup passes and the per-hop edge join
    // (SizeGates.loopPartitions + coalesce view, r14) — see pageRank
    val loopP = SizeGates.loopPartitions(nEdges)
    val eL = e.coalesce(loopP)
    val nodes = eL.select(col("src").as("node"))
      .unionByName(eL.select(col("dst").as("node")))
      .distinct()
      .persist()
    try {
      // pmod: the seed contract is on the VALUE, and ids may be negative
      var frontier = nodes.where(pmod(col("node"), lit(seedMod)) === 0)
        .select(col("node").as("s"), col("node").as("v"))
        .localCheckpoint()
      var visited = frontier
      val contribs = Seq.newBuilder[DataFrame]
      var hop = 1
      var exhausted = frontier.isEmpty
      while (hop <= maxHops && !exhausted) {
        val next = frontier.join(eL, frontier("v") === eL("src"))
          .select(col("s"), col("dst").as("v")).distinct()
          .join(visited, Seq("s", "v"), "left_anti")
          .localCheckpoint() // truncate: every later hop references visited
        if (next.isEmpty) exhausted = true
        else {
          contribs += next.groupBy(col("v").as("node"))
            .agg((count(lit(1)) * lit(scale / hop)).as("__h"))
          visited = visited.unionByName(next).localCheckpoint()
          frontier = next
        }
        hop += 1
      }
      val built = contribs.result()
      val summed =
        if (built.isEmpty) nodes.select(col("node"), lit(0L).as("__h")).limit(0)
        else built.reduce(_ unionByName _)
          .groupBy(col("node")).agg(sum(col("__h")).as("__h"))
      nodes.join(summed, Seq("node"), "left_outer")
        .select(col("node"), coalesce(col("__h"), lit(0L)).as("harmonic"))
        .localCheckpoint()
    } finally {
      e.unpersist()
      nodes.unpersist()
    }
  }

  /** Driver half of [[harmonicCentrality]]'s size gate: per-seed BFS over
    * the CSR out-adjacency — distances are unique minima, so this is
    * equal to the frontier-join path by construction (GraphSpec pins it). */
  private def harmonicDriver(e: DataFrame, m: Int, seedMod: Long, maxHops: Int,
      scale: Long): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    require(m > 0, "harmonicCentrality needs at least one edge")
    val (ea, eb, nodes) = collectGraph(e, m)
    val nn = nodes.length
    def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
    // CSR out-adjacency
    val deg = new Array[Int](nn)
    var i = 0
    while (i < m) { deg(idx(ea(i))) += 1; i += 1 }
    val off = new Array[Int](nn + 1)
    i = 0; while (i < nn) { off(i + 1) = off(i) + deg(i); i += 1 }
    val adj = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, nn)
    i = 0
    while (i < m) {
      val a = idx(ea(i)); adj(fill(a)) = idx(eb(i)); fill(a) += 1; i += 1
    }
    val harm = new Array[Long](nn)
    val dist = new Array[Int](nn)
    val queue = new Array[Int](nn)
    var s = 0
    while (s < nn) {
      // java % keeps the sign of the dividend; mirror pmod for negatives
      val r = nodes(s) % seedMod
      if ((if (r < 0) r + seedMod else r) == 0) {
        java.util.Arrays.fill(dist, -1)
        dist(s) = 0
        queue(0) = s
        var qh = 0; var qt = 1
        while (qh < qt) {
          val v = queue(qh); qh += 1
          val dNext = dist(v) + 1
          if (dNext <= maxHops) {
            var j = off(v)
            while (j < off(v + 1)) {
              val w = adj(j)
              if (dist(w) < 0) {
                dist(w) = dNext
                harm(w) += scale / dNext
                queue(qt) = w; qt += 1
              }
              j += 1
            }
          }
        }
      }
      s += 1
    }
    (0 until nn).map(j => (nodes(j), harm(j))).toDF("node", "harmonic")
  }

  /** Driver half of [[labelPropagation]]'s size gate: the identical
    * majority-vote recurrence — per round, each node takes the label most
    * frequent among its in-edge sources' labels (ties to the SMALLER
    * label), seeds frozen, unreached nodes keep null — over collected
    * primitive arrays with a CSR-by-target adjacency. Integer counts and a
    * total tie order make it bit-identical to the shuffled vote. */
  private def labelPropagationDriver(e: DataFrame, m: Int, sd: DataFrame, iters: Int): DataFrame = {
    val spark = e.sparkSession
    import spark.implicits._
    val (ea, eb, nodes) = collectGraph(e, m)
    val nn = nodes.length
    def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
    // CSR by DST: in-neighbor source indices per target
    val indeg = new Array[Int](nn)
    var i = 0
    while (i < m) { indeg(idx(eb(i))) += 1; i += 1 }
    val off = new Array[Int](nn + 1)
    i = 0; while (i < nn) { off(i + 1) = off(i) + indeg(i); i += 1 }
    val srcs = new Array[Int](m)
    val fill = java.util.Arrays.copyOf(off, nn)
    i = 0
    while (i < m) {
      val d = idx(eb(i)); srcs(fill(d)) = idx(ea(i)); fill(d) += 1; i += 1
    }
    // seed map over graph nodes only (the distributed join drops seeds for
    // nodes outside the edge universe)
    val seed = new Array[Long](nn)
    val seeded = new Array[Boolean](nn)
    val sit = sd.coalesce(1).toLocalIterator()
    while (sit.hasNext) {
      val r = sit.next()
      val j = idx(r.getLong(0))
      if (j >= 0) { seed(j) = r.getLong(1); seeded(j) = true }
    }
    val lab = new Array[Long](nn)
    val has = new Array[Boolean](nn)
    i = 0; while (i < nn) { if (seeded(i)) { lab(i) = seed(i); has(i) = true }; i += 1 }
    var round = 0
    while (round < iters) {
      val nlab = new Array[Long](nn)
      val nhas = new Array[Boolean](nn)
      val counts = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      var d = 0
      while (d < nn) {
        if (seeded(d)) { nlab(d) = seed(d); nhas(d) = true }
        else {
          counts.clear()
          var j = off(d)
          while (j < off(d + 1)) {
            val s = srcs(j)
            if (has(s)) counts.merge(lab(s), 1L, _ + _)
            j += 1
          }
          if (counts.isEmpty) { nlab(d) = lab(d); nhas(d) = has(d) }
          else {
            var bestL = 0L; var bestC = -1L
            counts.forEach { (l, c) =>
              if (c > bestC || (c == bestC && l < bestL)) { bestL = l; bestC = c }
            }
            nlab(d) = bestL; nhas(d) = true
          }
        }
        d += 1
      }
      System.arraycopy(nlab, 0, lab, 0, nn)
      System.arraycopy(nhas, 0, has, 0, nn)
      round += 1
    }
    (0 until nn).map(j => (nodes(j), if (has(j)) Some(lab(j)) else None))
      .toDF("node", "label")
  }

  /** Cluster-label purity report: for each cluster (e.g. a
    * [[Dedup.connectedComponents]] output) joined to a label column, the
    * dominant label, its share, and the cluster's inverse-Simpson effective
    * label count — the cluster-quality scorecard that says whether a
    * semantic clustering actually tracks the labels (purity → 1) or mixes
    * them (eff_labels → #labels). All integer counts; two divisions at the
    * end. ONE (cluster, label) count + one rollup, plus a deterministic
    * `min_by (count DESC, label)` dominant pick.
    *
    * Output: `(component, n_members, n_labels, top_label, top_count,
    * purity, eff_labels)`.
    */
  def clusterPurity(components: DataFrame, labels: DataFrame, id: String,
      label: String): DataFrame = {
    val lab = labels.select(col(id).cast("long").as("doc"),
      col(label).cast("long").as("__lab"))
      .where(col("__lab").isNotNull)
    components.join(lab, Seq("doc"))
      .groupBy(col("component"), col("__lab"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("component"))
      .agg(
        sum(col("__c")).as("n_members"),
        count(lit(1)).as("n_labels"),
        min_by(col("__lab"), struct((-col("__c")).as("c"), col("__lab").as("l"))).as("top_label"),
        max(col("__c")).as("top_count"),
        sum(col("__c") * col("__c")).as("__sq"))
      .select(col("component"), col("n_members"), col("n_labels"),
        col("top_label"), col("top_count"),
        round(col("top_count") / col("n_members"), 6).as("purity"),
        round((col("n_members") * col("n_members")) / col("__sq"), 6).as("eff_labels"))
  }

  /** Triangle census + global clustering coefficient of an undirected
    * graph — the cohesion report that distinguishes a community-structured
    * kNN graph from hub-and-spoke noise: `clustering = 3·triangles /
    * wedges`, where wedges = Σ deg·(deg−1)/2 are the open two-paths.
    * Everything is integer until the one final ratio.
    *
    * Plan shape: edges normalize to `a < b` once; triangles enumerate via
    * TWO keyed equi-joins on the ordered edge list (each `a<b<c` triple
    * counted once — the node-iterator algorithm's join form); wedges are
    * one degree aggregate. Edge-frame-sized throughout, never the node
    * crossproduct. For skewed degree distributions, pre-orient edges by
    * (degree, id) instead of raw id to bound the join fan-out — the
    * standard compact-forward refinement; id order suffices for kNN graphs
    * whose degree is capped by construction.
    *
    * Output: one row `(n_nodes, n_edges, n_triangles, n_wedges,
    * clustering)`.
    */
  def triangleStats(edges: DataFrame, src: String, dst: String): DataFrame = {
    val und = edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
      .persist()
    try {
      val tri = und.as("e1")
        .join(und.as("e2"), col("e1.b") === col("e2.a"))
        .join(und.as("e3"),
          col("e3.a") === col("e1.a") && col("e3.b") === col("e2.b"))
        .agg(count(lit(1)).as("n_triangles"))
      val deg = und.select(col("a").as("n")).unionByName(und.select(col("b").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
      val degStats = deg.agg(
        count(lit(1)).as("n_nodes"),
        sum(expr("d * (d - 1) div 2")).as("n_wedges"))
      val edgeCount = und.agg(count(lit(1)).as("n_edges"))
      degStats.crossJoin(edgeCount).crossJoin(tri) // three 1-row frames
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"), col("n_wedges"),
          when(col("n_wedges") === 0, lit(null))
            .otherwise(round(lit(3L) * col("n_triangles") / col("n_wedges"), 6))
            .as("clustering"))
        .localCheckpoint()
    } finally und.unpersist()
  }

  /** Link prediction by the resource-allocation index (Zhou, Lü & Zhang
    * 2009) — score every NON-edge pair that shares neighbors by
    * `Σ_z 1/deg(z)` over the shared neighbors `z`, the strongest of the
    * classic local similarity indices (Adamic–Adar's close cousin with
    * `deg` in place of `log deg`). Over a kNN graph this is the "these two
    * documents should probably be neighbors" audit that catches ANN recall
    * gaps and near-duplicate families one hop apart.
    *
    * Scores are integer-exact: each shared neighbor contributes
    * `scale div deg(z)` as a BIGINT (floor fixed-point), so the sum is
    * order-independent and bit-identical on any engine — the same
    * determinism trick as [[pageRank]], and deliberately NOT Adamic–Adar's
    * `1/ln(deg)` whose libm last-ULP would leak into a float sum.
    *
    * Plan shape: degree-annotate the adjacency once (two keyed aggs), then
    * ONE self-equi-join on the shared-neighbor key enumerates wedges —
    * fan-out per neighbor is `deg²`, so hubs above `maxDegree` are excluded
    * from CONTRIBUTING (standard practice: a hub shared by everyone carries
    * ~no signal and would quadratically dominate the shuffle; the cap is
    * the skew guard, like [[Dedup.spanPairs]]' `maxDocsPerSpan`). A keyed
    * left-anti join removes existing edges and a TakeOrdered cut emits the
    * top-k predictions.
    *
    * Output: `(d1, d2, cn, ra)` — common-neighbor count and the scaled RA
    * score, ordered `(ra DESC, d1, d2)`, at most `topK` rows.
    */
  def linkPredict(edges: DataFrame, src: String, dst: String,
      maxDegree: Int = 64, topK: Int = 100, scale: Long = 1000000000000L,
      materialize: Boolean = true): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    require(topK > 0, s"topK must be positive, got $topK")
    require(scale > 0, s"scale must be positive, got $scale")
    val undRaw = edges
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b"))
      .distinct()
    // the edge frame feeds three branches (adjacency ×2, anti-join): cache
    // it and populate the cache with ONE pass (the count) so an expensive
    // edge producer — a 25M-cosine kNN sweep — never recomputes per branch
    // inside the main job. materialize=false returns the pure lazy plan
    // instead (for plan inspection or when the caller manages caching of a
    // larger composition).
    val und = if (materialize) { val u = undRaw.persist(); u.count(); u } else undRaw
    try {
      val adj = und.select(col("a").as("z"), col("b").as("nb"))
        .unionByName(und.select(col("b").as("z"), col("a").as("nb")))
      val deg = adj.groupBy(col("z")).agg(count(lit(1)).as("d"))
      val adjd = adj.join(deg, Seq("z")).where(col("d") <= maxDegree)
      val cand = adjd.as("l")
        .join(adjd.as("r"), col("l.z") === col("r.z") && col("l.nb") < col("r.nb"))
        .select(col("l.nb").as("d1"), col("r.nb").as("d2"),
          expr(s"$scale div l.d").as("__c"))
      val scored = cand.groupBy(col("d1"), col("d2"))
        .agg(count(lit(1)).as("cn"), sum(col("__c")).as("ra"))
      val out = scored
        .join(und, col("d1") === col("a") && col("d2") === col("b"), "left_anti")
        .orderBy(col("ra").desc, col("d1"), col("d2"))
        .limit(topK)
      if (materialize) out.localCheckpoint() else out
    } finally if (materialize) und.unpersist()
  }

  /** Semi-supervised label propagation with frozen seeds and a FIXED
    * iteration count — spread a small labeled set over an edge list (e.g. a
    * mutual-kNN graph) to label the rest of a corpus. Entirely integer:
    * each round, every non-seed node takes the MODE of its in-neighbors'
    * current labels (most votes, ties to the smaller label), keeps its old
    * label when no neighbor is labeled, and seeds never change. Determinism
    * needs no quantization at all — votes are counts.
    *
    * Votes flow along edge direction (`src` votes into `dst`); pass a
    * symmetrized edge list for the undirected classic.
    *
    * Plan shape per iteration: one keyed join (labels × edges on `src`),
    * one `(dst, label)` count, one per-node argmax via `min_by` over a
    * labels-per-node-sized frame, one left join back to the node list —
    * every shuffle keyed by node, lineage truncated like [[pageRank]].
    *
    * Output: `(node BIGINT, label BIGINT nullable)` — null = unreached.
    */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      seeds: DataFrame, seedNode: String, seedLabel: String, iters: Int,
      maxDriverEdges: Long = 2000000L): DataFrame = {
    require(iters >= 0, s"iters must be >= 0, got $iters")
    val e = edges
      .select(col(src).cast("long").as("src"), col(dst).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .persist()
    val sd0 = seeds
      .select(col(seedNode).cast("long").as("node"), col(seedLabel).cast("long").as("__seed"))
      .where(col("node").isNotNull && col("__seed").isNotNull)
    // Size-gated two-path routing (the pageRank/kCore pattern): integer
    // vote counts + a total tie order make the majority-vote recurrence
    // engine-independent, so the collected loop is bit-identical while
    // skipping iters × (join + 2 aggs) of cluster job floor (r7 bench:
    // 4.9 s at sf0.1 on a 6k-node kNN backbone). GraphSpec pins parity.
    val nEdges = e.count()
    if (nEdges <= maxDriverEdges && nEdges <= (Int.MaxValue / 2 - 8).toLong) {
      try return labelPropagationDriver(e, nEdges.toInt, sd0, iters)
      finally e.unpersist(blocking = false)
    }
    // rows-derived widths for the setup passes and the pinned cache
    // (SizeGates.loopPartitions + coalesce view, r14) — see pageRank
    val loopP = SizeGates.loopPartitions(nEdges)
    val eL = e.coalesce(loopP)
    val nodes = eL.select(col("src").as("node"))
      .unionByName(eL.select(col("dst").as("node")))
      .distinct()
      .persist()
    val sd = sd0.persist()
    // every round's vote join keys on src — pin the cached layout AND
    // ordering to it (the pageRank `ed` convention): one edge shuffle +
    // sort for all rounds (GraphPlanSpec pins the vote join reads it bare)
    val eBySrc = eL.repartition(loopP, col("src"))
      .sortWithinPartitions(col("src")).persist()
    try {
      // Seeded nodes never change label (coalesce puts __seed first), so
      // they are STATIC state: hoist them out of the loop once and iterate
      // only the non-seeded remainder — this deletes the per-round
      // `⟕ sd` join, and the per-round fill shrinks to the non-seeded
      // frame (r11 probe-floor evidence, the _dist_hits lesson). The
      // voter set each round is `seeded ∪ labeled non-seeded`, exactly the
      // old `st.where(label IS NOT NULL)`. Lazy every-round cuts keep the
      // plan constant-depth (the old every-3 cut recompiled a plan that
      // referenced the previous state twice per round — 2^3 copies between
      // cuts, deduped only by exchange reuse). Vote counts and the
      // min_by total tie order are unchanged — bit-equality with
      // labelPropagationDriver stays pinned by GraphSpec.
      val seeded = nodes.join(sd, Seq("node"))
        .select(col("node"), col("__seed").as("label"))
        .localCheckpoint() // also materializes e/nodes/sd exactly once
      var ns = nodes.join(sd, Seq("node"), "left_anti")
        .select(col("node"), lit(null).cast("long").as("label"))
        .localCheckpoint()
      for (_ <- 1 to iters) {
        val voters = seeded.unionByName(ns.where(col("label").isNotNull))
        val votes = eBySrc
          .join(voters, eBySrc("src") === col("node"))
          .groupBy(col("dst"), col("label"))
          .agg(count(lit(1)).as("__cnt"))
        val best = votes.groupBy(col("dst"))
          .agg(min_by(col("label"), struct((-col("__cnt")).as("c"), col("label").as("l")))
            .as("__best"))
          .select(col("dst").as("node"), col("__best"))
        ns = ns.join(best, Seq("node"), "left_outer")
          .select(col("node"), coalesce(col("__best"), col("label")).as("label"))
          .localCheckpoint(false)
      }
      seeded.unionByName(ns).localCheckpoint()
    } finally {
      e.unpersist()
      eBySrc.unpersist()
      nodes.unpersist()
      sd.unpersist()
    }
  }

  /** Deterministic negative-edge sampling for contrastive/link-prediction
    * training: each node draws `perNode` pseudo-random partners from the
    * node universe via seeded hash arithmetic (no RNG in the data path —
    * replays and oracles agree bit-for-bit), then real edges and
    * self-pairs are anti-joined away. A dropped candidate leaves a slot
    * gap rather than resampling — the standard fixed-proposal scheme, and
    * the only one that stays a single declarative plan.
    *
    * Plan shape: one distinct-node frame ranked DISTRIBUTED via
    * [[graft.operators.TimeSeries.rowNumberRanged]] (range-partitioned
    * per-partition windows + explode/groupBy prefix offsets — no global
    * window; for kNN-derived graphs the node list IS the corpus, r9
    * verdict ask #3), a keyed join from hashed slot indices back to node
    * ids, and one keyed anti-join against the canonical (min, max) edge
    * form.
    *
    * Output: `(node, slot, neg)` ordered.
    */
  /** The seeded multipliers [[negativeSample]] uses, for oracle mirrors. */
  private[graft] def negSampleConsts(seed: Long): (Long, Long) = {
    val P = 2147483647L
    val rnd = new scala.util.Random(seed)
    (1L + (rnd.nextLong().abs % (P - 1)), 1L + (rnd.nextLong().abs % (P - 1)))
  }

  def negativeSample(edges: DataFrame, src: String, dst: String,
      perNode: Int, seed: Long = 42L): DataFrame = {
    require(perNode >= 1, s"perNode must be >= 1, got $perNode")
    val P = 2147483647L
    val (a1, a2) = negSampleConsts(seed)
    // the input edge plan is referenced from several branches below (node
    // universe, rank table twice, anti-join) — persist the ONE canonical
    // projection so the upstream edge computation (often a kNN sweep) runs
    // once, not once per branch (the pageRank lesson; persist is lazy, so
    // plan construction still triggers no job)
    val canon = edges.select(
      least(col(src).cast("long"), col(dst).cast("long")).as("__e1"),
      greatest(col(src).cast("long"), col(dst).cast("long")).as("__e2"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // both persists are read by the returned LAZY plan, so they release at
    // the harness's phase boundary, not here (rowNumberRanged's contract)
    TimeSeries.registerCallScopedPersist(canon)
    val nodes = canon.select(explode(array(col("__e1"), col("__e2"))).as("__n"))
      .distinct()
    val nParts = edges.sparkSession.sessionState.conf.numShufflePartitions
    // rowNumberRanged persists its range-parted frame internally (boundary
    // consistency); this outer persist memoizes the joined rank for the
    // three consumers below (cand, partner, cnt)
    val ranked = TimeSeries.rowNumberRanged(nodes, "__r", nParts, col("__n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    TimeSeries.registerCallScopedPersist(ranked)
    val cnt = ranked.agg(max(col("__r")).as("__cnt")) // 1 row
    val x = conv(substring(md5(col("__n").cast("string")), 1, 8), 16, 10)
      .cast("long")
    val cand = ranked.select(col("__n"))
      .withColumn("__slot", explode(sequence(lit(0), lit(perNode - 1))))
      .crossJoin(broadcast(cnt))
      .withColumn("__idx",
        pmod(lit(a1) * x + lit(a2) * (col("__slot") + 1L), lit(P)) %
          col("__cnt") + 1L)
    val partner = ranked.select(col("__r").as("__idx"), col("__n").as("__p"))
    cand.join(partner, Seq("__idx"))
      .where(col("__p") =!= col("__n"))
      .join(canon,
        least(col("__n"), col("__p")) === col("__e1") &&
          greatest(col("__n"), col("__p")) === col("__e2"), "left_anti")
      .select(col("__n").as("node"), col("__slot").cast("long").as("slot"),
        col("__p").as("neg"))
      .orderBy(col("node"), col("slot"))
  }

  /** k-core decomposition membership (the densest-backbone filter): peel
    * nodes with degree < k repeatedly until the survivor set is stable —
    * what remains is the k-core, the standard noise-robust "community
    * skeleton" (a node in the 3-core has 3 neighbors that each have 3
    * neighbors ... inside the core). Driver steers the peel loop (edge
    * frame iterates, never the corpus), each round ONE degree count + one
    * semi-join; `maxPeels` bounds the rounds and the operator THROWS if
    * the fixpoint isn't reached — an unconverged peel must not masquerade
    * as a core (the [[Dedup.connectedComponents]] convergence contract,
    * and what keeps the fixed-unroll oracle faithful).
    *
    * Output: `(node, degree)` for k-core members, ordered; degree is the
    * WITHIN-CORE degree.
    *
    * Size-gated two-path routing (the [[Dedup.connectedComponents]]
    * pattern): a near-dup/kNN backbone's edge list is control-plane sized,
    * and the round-based distributed peel pays ~4 scheduler round-trips per
    * round on a frame of a few thousand rows — pure job-floor overhead
    * (measured 7× the whole oracle at sf0.1). Under `maxDriverEdges` the
    * peel runs as the classic O(E) queue algorithm on collected arrays;
    * the distributed loop remains the unbounded-graph path. The k-core is
    * a unique fixpoint, so peel order cannot change the result — both
    * paths produce identical rows (spec-pinned).
    */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
      maxPeels: Int = 30, maxDriverEdges: Long = 2000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxPeels >= 1, s"maxPeels must be >= 1, got $maxPeels")
    val spark0 = edges.sparkSession
    import spark0.implicits._
    val canon = edges.select(
      least(col(src).cast("long"), col(dst).cast("long")).as("__a"),
      greatest(col(src).cast("long"), col(dst).cast("long")).as("__b"))
      .where(col("__a") =!= col("__b")).distinct()
      .persist()
    try {
      // stats-first gate ([[graft.operators.SizeGates]] convention): an
      // edge frame statistics already prove too big for the driver CSR
      // build routes to the distributed peel with NO count job; 64 B/row
      // over-estimates a (long, long) row in any Catalyst estimate
      val nEdges =
        if (SizeGates.definitelyExceeds(canon, maxDriverEdges, 64L))
          Long.MaxValue
        else canon.count()
      // the CSR arrays are int-indexed (2 entries per edge) — a caller-
      // raised gate beyond that routes to the distributed peel instead
      if (nEdges <= maxDriverEdges && nEdges <= (Int.MaxValue / 2 - 8).toLong) {
        // O(E) queue peel over PRIMITIVE CSR arrays (maxPeels does not
        // apply here — the exact peel needs no round bound). Footprint at
        // the 2M-edge gate: two long edge arrays (32 MB, streamed in via
        // toLocalIterator — no Array[Row] spike), sorted node ids + CSR
        // offsets/adjacency ints (≤64 MB) — ~5× under the boxed
        // HashMap[Long, HashSet[Long]] this replaces (r7 ADVICE: that
        // adjacency risked driver OOM at the gate).
        val m = nEdges.toInt
        val (ea, eb, nodes) = collectGraph(canon, m)
        val nn = nodes.length
        def idx(v: Long): Int = java.util.Arrays.binarySearch(nodes, v)
        // CSR adjacency: degree count, prefix offsets, fill
        val deg = new Array[Int](nn)
        var i = 0
        while (i < m) { deg(idx(ea(i))) += 1; deg(idx(eb(i))) += 1; i += 1 }
        val off = new Array[Int](nn + 1)
        i = 0; while (i < nn) { off(i + 1) = off(i) + deg(i); i += 1 }
        val adj = new Array[Int](2 * m)
        val fill = java.util.Arrays.copyOf(off, nn)
        i = 0
        while (i < m) {
          val a = idx(ea(i)); val b = idx(eb(i))
          adj(fill(a)) = b; fill(a) += 1
          adj(fill(b)) = a; fill(b) += 1
          i += 1
        }
        // peel: remove below-k nodes; a neighbor crossing k-1 enqueues once
        val removed = new Array[Boolean](nn)
        val queue = new Array[Int](nn)
        var qh = 0; var qt = 0
        i = 0; while (i < nn) { if (deg(i) < k) { queue(qt) = i; qt += 1; removed(i) = true }; i += 1 }
        while (qh < qt) {
          val n = queue(qh); qh += 1
          var j = off(n)
          while (j < off(n + 1)) {
            val nb = adj(j)
            if (!removed(nb)) {
              deg(nb) -= 1
              if (deg(nb) < k) { removed(nb) = true; queue(qt) = nb; qt += 1 }
            }
            j += 1
          }
        }
        // survivors' deg = original minus removed neighbors = in-core degree
        val out = Seq.newBuilder[(Long, Long)]
        i = 0; while (i < nn) { if (!removed(i)) out += ((nodes(i), deg(i).toLong)); i += 1 }
        return out.result().toDF("node", "degree") // already node-ascending
      }
      // rows-derived width for the peel's seed checkpoint (r14, the
      // pageRank coalesce-view note); when the stats gate skipped the
      // count (nEdges sentinel) the native width stands — it is the
      // huge-frame case the width was made for
      kCoreDistributed(
        if (nEdges == Long.MaxValue) canon
        else canon.coalesce(SizeGates.loopPartitions(nEdges)), k, maxPeels)
    } finally canon.unpersist(blocking = false)
  }

  /** The unbounded-graph path of [[kCore]]: round-based distributed peel.
    * localCheckpoint TRUNCATES lineage — an uncut logical plan referencing
    * the previous edge frame multiple times grows exponentially and OOMs
    * the driver during analysis long before any data moves (the
    * connectedComponents lesson). The cut is LAZY: the frame is
    * LogicalRDD-rooted either way, and the round's convergence count is
    * the one action that materializes it.
    *
    * Round shape, restructured on the r11 ProbeProfile evidence (the r10
    * two-semi-join shape paid 88 jobs / ~6.8 per round at sf0.1, all job
    * floor — 5 exchanges + 2 eager-checkpoint counts): each (distinct,
    * __a < __b) edge EXPLODES into two (endpoint, edge) rows; the degree
    * aggregate is a map-side-combinable groupBy over that, the below-k
    * endpoints are dropped with ONE semi-join, and edges survive when
    * BOTH exploded rows survive (group back by edge, count == 2). That is
    * 3 exchanges/round — degree partials, exploded rows by endpoint (AQE
    * skew-join splits a hub node's partition; a per-node window would
    * sort the hub's whole adjacency in one task), and the group-back by
    * edge — with the keep side arriving already partitioned by node from
    * the aggregate (broadcast at toy scale, AQE's call).
    */
  private def kCoreDistributed(canon: DataFrame, k: Int, maxPeels: Int): DataFrame = {
    val trace = Seq.newBuilder[RoundTrace]
    var e = canon.localCheckpoint()
    // carry the edge count forward — the previous round's `after` IS this
    // round's `before`, so each round pays ONE count job, not two
    var before = e.count()
    var converged = false
    var round = 0
    while (!converged && round < maxPeels) {
      val t0 = System.nanoTime()
      val ex = e.select(explode(array(col("__a"), col("__b"))).as("__n"),
        col("__a"), col("__b"))
      val keep = ex.groupBy(col("__n")).agg(count(lit(1)).as("__d"))
        .where(col("__d") >= k).select(col("__n"))
      val e2 = ex.join(keep, Seq("__n"), "left_semi")
        .groupBy(col("__a"), col("__b")).agg(count(lit(1)).as("__c"))
        .where(col("__c") === 2).select(col("__a"), col("__b"))
        .localCheckpoint(false)
      val after = e2.count()
      e = e2
      converged = after == before
      before = after
      round += 1
      trace += RoundTrace(round, (System.nanoTime() - t0) / 1000000L, after)
    }
    Telemetry.note(canon.sparkSession, KCoreRounds, trace.result())
    require(converged, s"k-core peel did not converge within $maxPeels rounds")
    e.select(explode(array(col("__a"), col("__b"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
      .where(col("degree") >= k) // empty-core safety; holds by construction
      .orderBy(col("node"))
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of degrees
    * across edge endpoints — positive = hubs link hubs (social-style),
    * negative = hubs link leaves (infrastructure-style); near 0 for a
    * mutual-kNN graph whose degree is capped by construction. Every edge
    * contributes both orientations (the standard undirected form), so all
    * five Pearson sums are sums of exact INTEGER degree products — fully
    * engine-deterministic; the single final division is the only float.
    *
    * One degree count + two keyed joins + one aggregate; edge-frame sized.
    * Output: one row `(n_edges, r)` — `r` null for a degree-regular graph.
    */
  def assortativity(edges: DataFrame, src: String, dst: String): DataFrame = {
    // the edge plan feeds the degree count AND both endpoint joins —
    // persist the canonical frame once so an expensive upstream (kNN
    // sweep) materializes once, not per branch (the negativeSample lesson)
    val e = edges.select(
      least(col(src).cast("long"), col(dst).cast("long")).as("__a"),
      greatest(col(src).cast("long"), col(dst).cast("long")).as("__b"))
      .where(col("__a") =!= col("__b")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = e.select(explode(array(col("__a"), col("__b"))).as("__n"))
      .groupBy(col("__n")).agg(count(lit(1)).as("__d"))
    val both = e
      .join(deg.select(col("__n").as("__a"), col("__d").as("__da")), Seq("__a"))
      .join(deg.select(col("__n").as("__b"), col("__d").as("__db")), Seq("__b"))
      .select(col("__da").as("x"), col("__db").as("y"))
    val sym = both.select(col("x"), col("y"))
      .unionAll(both.select(col("y").as("x"), col("x").as("y")))
    sym.agg(
      count(lit(1)).as("__m"), sum(col("x")).as("__sx"), sum(col("y")).as("__sy"),
      sum(col("x") * col("x")).as("__sxx"), sum(col("y") * col("y")).as("__syy"),
      sum(col("x") * col("y")).as("__sxy"))
      .select((col("__m") / 2).cast("long").as("n_edges"),
        when((col("__m") * col("__sxx") - col("__sx") * col("__sx")) > 0L &&
            (col("__m") * col("__syy") - col("__sy") * col("__sy")) > 0L,
          round((col("__m") * col("__sxy") - col("__sx") * col("__sy")) /
            sqrt(((col("__m") * col("__sxx") - col("__sx") * col("__sx")) *
              (col("__m") * col("__syy") - col("__sy") * col("__sy")))
              .cast("double")), 6)).as("r"))
  }
}
