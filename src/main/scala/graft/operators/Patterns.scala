package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Frequent-pattern mining over basket-shaped data.
  *
  * The archiver never needed market-basket analysis, but a training-data
  * curation pipeline does: "which source/domain/tag combinations co-occur
  * in the same document above threshold" drives mixture design, leakage
  * review and dedup blocking keys the same way `{beer, diapers}` drove
  * shelf layout. The algorithm is level-wise Apriori — the shape that
  * scales, because the ANTI-MONOTONE support bound (a set's support ≤ its
  * subsets') lets each level prune the next level's candidates BEFORE the
  * expensive per-basket count.
  */
object Patterns {

  /** Per-level trace of the most recent TRACED [[frequentItemsets]] mine on
    * this JVM (the graph-loop RoundTrace convention, r11 verdict ask #4):
    * level 0 = the basket-array build, 1..3 = each Apriori level, `rows` =
    * the level's surviving row count. The level counts are paid by the
    * mine itself now (they size the kernel/checkpoint widths); tracing
    * only records them, plus one extra cached count of the final
    * checkpoint (level 100 + maxSize). Opt-in (`traced = true`); Bench
    * opts in so the trace rides BENCH_FULL's `probe_trace`. Diagnostics
    * only; single-threaded harness contract as with Graph's traces. */
  @volatile var lastMineTrace: Seq[Graph.RoundTrace] = Nil

  /** Code width for packed itemset keys: frequent items are coded by their
    * 1-based position in the sorted frequent vocabulary, and a pair/triple
    * is ONE BIGINT (`c1·2^16 + c2`, `((c1·2^16)+c2)·2^16 + c3`) — shuffle
    * keys and Apriori-prune membership tests are integer ops instead of
    * string tuples (measured ~40% off the combo stages). Caps the frequent
    * vocabulary at 65535 (guarded loudly) — far above any broadcastable
    * frequent set. */
  private val W = 65536L

  /** Open-addressing long→long counter for the combo kernels — a bounded
    * per-partition PARTIAL aggregation. The r14 probe put ~20 s of the
    * mine's executor CPU in the L2/L3 stages, and the per-stage metrics
    * attribute it to the Dataset ROW BOUNDARY, not the arithmetic: emitting
    * one row per generated combination pushes ~30M rows/level through
    * encoder + hash-aggregate machinery to count keys whose DISTINCT
    * cardinality is vocabulary-bounded (C(|f1|,2) pairs, C(|f1|,3)
    * triples — hundreds, not millions). Counting inside the kernel and
    * emitting `(key, partial_count)` cuts the emitted rows by ~10⁵; the
    * downstream `groupBy(key).sum` makes the partial flush (at [[add]]'s
    * caller-chosen cap, bounding task memory) semantically free. Primitive
    * linear-probing arrays — a java.util.HashMap here would box every one
    * of the ~30M key updates. Keys must be > 0 (packed codes are ≥ W+1);
    * slot 0 marks empty. */
  private final class LongCounter(initialCap: Int) {
    private var cap = math.max(16, Integer.highestOneBit(initialCap - 1) << 1)
    private var keys = new Array[Long](cap)
    private var vals = new Array[Long](cap)
    private var n = 0
    def size: Int = n
    def add(k: Long): Unit = {
      var i = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
      var live = true
      while (live) {
        val kk = keys(i)
        if (kk == k) { vals(i) += 1; live = false }
        else if (kk == 0L) {
          keys(i) = k; vals(i) = 1L; n += 1
          if (n.toLong * 4 > cap.toLong * 3) grow()
          live = false
        } else i = (i + 1) & (cap - 1)
      }
    }
    private def grow(): Unit = {
      val (ok, ov, oc) = (keys, vals, cap)
      cap = oc << 1
      keys = new Array[Long](cap); vals = new Array[Long](cap)
      var i = 0
      while (i < oc) {
        val k = ok(i)
        if (k != 0L) {
          var j = (scala.util.hashing.byteswap64(k) & (cap - 1)).toInt
          while (keys(j) != 0L) j = (j + 1) & (cap - 1)
          keys(j) = k; vals(j) = ov(i)
        }
        i += 1
      }
    }
    /** Snapshot-iterate the current entries and reset to empty — safe to
      * interleave with further [[add]]s (the iterator walks the OLD
      * arrays). */
    def drainAndReset(): Iterator[(Long, Long)] = {
      val (ks, vs, c) = (keys, vals, cap)
      keys = new Array[Long](cap); vals = new Array[Long](cap); n = 0
      (0 until c).iterator.filter(i => ks(i) != 0L).map(i => (ks(i), vs(i)))
    }
  }

  /** Distinct-key cap per partition before a partial flush: 2²⁰ keys ≈
    * 32 MB of counter arrays per task — far above any real frequent-set
    * square, so flushes only ever fire on pathological vocabularies. */
  private val PartialFlushKeys = 1 << 20

  /** Frequent itemsets up to size `maxSize` (≤ 3) at relative support
    * `minSupportPpm` parts-per-million of the basket count — relative, not
    * absolute, so the same call is meaningful at any scale factor.
    * `minSup = ceil(nBaskets · ppm / 1e6)`, floored at 1; the THRESHOLD
    * rides a 1-row broadcast frame, NOT a driver scalar. The mine does pay
    * a few exact counts (input rows map-only, then L1/L2 on persisted
    * frames) — they price the rows-derived exchange/kernel and checkpoint
    * widths (guide §2.2) at one job-floor each; an empty input still
    * yields an empty result instead of an error.
    *
    * Level-wise Apriori on a VERTICAL layout (the join formulation pays a
    * basket-keyed self-join per level; this one never joins on the basket):
    *  - `tx` = per-basket SORTED DISTINCT item array — presence, not
    *    multiplicity (standard market-basket semantics) — built by ONE
    *    corpus shuffle, persisted small (arrays, not rows);
    *  - L1 = one explode+count over the cached arrays (each array IS the
    *    basket's distinct item set) — the corpus producer runs exactly
    *    once, for the array build;
    *  - transaction TRIMMING + CODING in one map-side pass: the frequent
    *    vocabulary broadcasts back as a 1-row sorted array, every basket
    *    array becomes the INT positions of its frequent members (infrequent
    *    items — the Zipf tail, most of the vocabulary — vanish before any
    *    combo is generated);
    *  - L2 = per-basket pair combinations as packed BIGINT keys (codegen'd
    *    array math, no join) into one count;
    *  - L3 = triple combinations, each kept only when ALL THREE sub-pair
    *    keys (recovered arithmetically from the packed key) are in the
    *    broadcast frequent-pair array — the Apriori prune, evaluated
    *    per-row BEFORE anything shuffles — then one count.
    *
    * Scale shape: one corpus shuffle for the arrays plus one for L1, then
    * one count per level; combos are generated inside the scan and bounded
    * by basket width (a `B` items/basket corpus explodes ≤ B·(B−1)/2 pair
    * rows per basket). The broadcast frequent sets are the standard
    * Apriori assumption: L1 is frequent-vocabulary-sized, L2
    * threshold-bounded — for a corpus whose frequent-pair set outgrows a
    * broadcast, raise the threshold or lower `maxSize`. Counts are exact
    * BIGINTs, codes are positions in the SORTED vocabulary (so packed-key
    * order = item lexicographic order), and `support_ppm = support · 1e6
    * div nBaskets` is integer division — bit-identical on any engine.
    *
    * Output: `(items, size, support, support_ppm)` — `items` is the
    * '|'-joined item list in ascending item order (each set once), `size`
    * in 0..maxSize. Size 0 is the EMPTY itemset (`items = ''`): it occurs
    * in every basket, so its support IS the basket count — emitted so a
    * result frame is self-describing (downstream consumers like
    * [[associationRulesFrom]] read the universe size from the frame
    * instead of re-scanning the corpus). An empty input yields an EMPTY
    * frame — no size-0 row with support 0.
    */
  def frequentItemsets(df: DataFrame, basket: String, item: String,
      minSupportPpm: Long = 4000L, maxSize: Int = 3,
      traced: Boolean = false): DataFrame = {
    require(minSupportPpm >= 1 && minSupportPpm <= 1000000L,
      s"minSupportPpm in [1, 1e6], got $minSupportPpm")
    require(maxSize >= 1 && maxSize <= 3, s"maxSize in [1,3], got $maxSize")
    if (traced) lastMineTrace = Nil // a throwing run must not leave a stale trace
    val trace = Seq.newBuilder[Graph.RoundTrace]
    // every persist registers here; a throw anywhere after the first
    // persist unpersists the lot (r13 ADVICE — a leaked mine cache
    // competes for executor memory with the rest of the session). Success
    // paths release explicitly before returning, as before.
    val persisted = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def releaseAll(): Unit = persisted.foreach(_.unpersist(blocking = false))
    try {
    var tLevel = System.nanoTime()
    // traced mode: record (level, wall, surviving rows); `n` is the exact
    // count the caller has ALREADY paid on the persisted frame — tracing
    // adds no job of its own anymore
    def mark(level: Int, n: Long): Unit = if (traced) {
      trace += Graph.RoundTrace(level, (System.nanoTime() - tLevel) / 1000000L, n)
      tLevel = System.nanoTime()
    }
    val rows = df
      .where(col(basket).isNotNull && col(item).isNotNull)
      .select(col(basket).as("b"), col(item).cast("string").as("i"))
    // The mine's ONE corpus exchange keeps the r14 shape — an explicit-
    // width repartition on the agg key that both satisfies the groupBy's
    // distribution (no second exchange) and pins the cache width for the
    // combinatorial kernels downstream — but the WIDTH is now rows-derived
    // instead of `spark.sql.shuffle.partitions` (guide §2.2; r14 driver
    // evidence: at the 32-core session constant the mine anti-scaled,
    // 22.1 s vs 5.8 s at 8 cores, c8/c32 ratio 0.26, with the collect_set
    // agg's executor time width-proportional — wide tiny tasks contend on
    // allocation/GC, r15 probe: the same agg read run=4.9 s at width 32 vs
    // 0.8 s at width 9). The count is one map-only pass over the input
    // (no shuffle — the cached scan at bench position); ~64k (basket,
    // item) rows per partition keeps each kernel task fed while capping
    // the per-task overhead waves, and scales to the 4096 cap.
    val nRows = rows.count()
    val mineW = SizeGates.loopPartitions(nRows, 65536L)
    val tx = rows.repartition(mineW, col("b"))
      .groupBy(col("b"))
      .agg(sort_array(collect_set(col("i"))).as("__items"))
      .persist() // the threshold frame, L1, the coder, L2 and L3 all read it
    persisted += tx
    if (traced) mark(0, tx.count())
    // 1-row broadcast threshold frame off the cached arrays (tx row count
    // IS the distinct basket count): __n baskets, __ms = ceil-ppm support
    val nb = tx.agg(count(lit(1)).as("__n"))
      .select(col("__n"), greatest(
        expr(s"(__n * ${minSupportPpm}L + 999999L) DIV 1000000L"),
        lit(1L)).as("__ms"))
    val ppm = expr("CAST(support * 1000000L DIV __n AS BIGINT)")
    // L1 reads the CACHED basket arrays, not the input rows: each array is
    // already the basket's distinct item set, so exploding it and counting
    // is the per-item basket support with ONE pass over the compact cache —
    // the old `rows.groupBy(i).agg(countDistinct(b))` re-ran the whole
    // corpus producer (for brand baskets, a 600k-row join) a second time
    // and paid countDistinct's two-shuffle expansion (r12 probe: 1.8 s of
    // the 6.3 s mine)
    val l1 = tx.select(explode(col("__items")).as("i"))
      .groupBy(col("i")).agg(count(lit(1)).as("support"))
      .join(broadcast(nb))
      .where(col("support") >= col("__ms"))
      .persist() // frequent-vocabulary-sized; feeds the output AND the coder
    persisted += l1
    // exact L1 count: cheap on the persisted frame, and it prices the
    // result-assembly checkpoint width below (ADVICE r14: a hard
    // coalesce(1) assumed "hundreds of rows", but a low threshold over a
    // large vocabulary can push the frequent-set union into millions)
    val nL1 = l1.count()
    mark(1, nL1)
    // checkpoint width for the threshold-bounded result union, derived
    // from the SUMMED level counts: 1 partition for the usual hundreds of
    // rows, more only when the counts say so
    def outW(levels: Long): Int = SizeGates.loopPartitions(1L + levels)
    // an EMPTY corpus yields an empty result (not a support=0 row whose
    // support_ppm would read 100% and feed associationRulesFrom a universe
    // of 0 — r8 ADVICE); the filter rides the existing 1-row frame
    val out0 = nb.where(col("__n") > 0)
      .select(lit("").as("items"), lit(0L).as("size"),
        col("__n").as("support"), lit(1000000L).as("support_ppm"))
    val out1 = out0.unionByName(
      l1.select(col("i").as("items"), lit(1L).as("size"),
        col("support"), ppm.as("support_ppm")))
    if (maxSize == 1) {
      val r = out1.coalesce(outW(nL1)).localCheckpoint()
      if (traced) mark(1 + 100, r.count()) // final assembly, level tag 101
      if (traced) lastMineTrace = trace.result()
      releaseAll()
      return r
    }
    // trim + code in ONE COMPILED pass. SQL higher-order lambdas
    // (transform/filter/sequence) evaluate INTERPRETED per row — the r13
    // probe put ~30 s of the mine's executor CPU in the coding and combo
    // stages' lambda machinery, dwarfing the arithmetic inside. The typed
    // kernels below are the same per-basket loops compiled: codes stay
    // 1-based positions in the SQL-sorted vocabulary (a per-partition
    // HashMap replaces array_position — comparator-free, so no UTF8-vs-
    // UTF16 ordering hazard), a basket's code array is ascending because
    // its item array is sorted, and the width guard throws from the first
    // kernel row. The broadcast vocabulary arrives as a 1-row broadcast
    // join (never a driver action), decoded once per partition.
    val spark0 = df.sparkSession
    import spark0.implicits._
    val freq1 = l1.agg(sort_array(collect_list(col("i"))).as("__f1"))
    val coded = tx.join(broadcast(freq1))
      .select(col("__items"), col("__f1"))
      .as[(Array[String], Array[String])]
      .mapPartitions { it =>
        var idx: java.util.HashMap[String, Int] = null // same 1-row broadcast each row
        it.map { case (items, f1) =>
          if (idx == null) {
            require(f1.length < W.toInt,
              s"frequentItemsets: frequent vocabulary exceeds ${W - 1} - " +
                "raise minSupportPpm")
            idx = new java.util.HashMap[String, Int](f1.length * 2)
            var i = 0
            f1.foreach { x => i += 1; idx.put(x, i) } // 1-based SQL position
          }
          val out = new Array[Int](items.length)
          var n0 = 0
          items.foreach { x =>
            val c = idx.getOrDefault(x, 0)
            if (c > 0) { out(n0) = c; n0 += 1 }
          }
          java.util.Arrays.copyOf(out, n0)
        }
      }
      .toDF("cs")
      // persisted: L2 and L3 both read the coded arrays; the cache is a
      // baskets-sized int-array frame (~2 MB at sf0.1) inheriting tx's
      // rows-derived mineW map-side (no further shuffle, no AQE coalesce)
      .persist()
    persisted += coded
    // packed pair keys: codes are sorted positions, so i < j already
    // yields c_i < c_j — ascending item order by construction. Counted
    // IN-KERNEL ([[LongCounter]]): the kernel emits (pk, partial_count)
    // per partition — vocabulary-bounded — instead of one row per
    // generated pair (~30M rows of encoder + agg machinery, the r14
    // probe's 9.6 s stage).
    val l2 = coded.as[Array[Int]]
      .mapPartitions { it =>
        val m = new LongCounter(1 << 12)
        it.flatMap { a =>
          val n0 = a.length
          var i = 0
          while (i < n0 - 1) {
            val ci = a(i).toLong * W
            var j = i + 1
            while (j < n0) { m.add(ci + a(j)); j += 1 }
            i += 1
          }
          if (m.size >= PartialFlushKeys) m.drainAndReset() else Iterator.empty
        } ++ m.drainAndReset()
      }
      .toDF("pk", "c")
      .groupBy(col("pk")).agg(sum(col("c")).as("support"))
      .join(broadcast(nb))
      .where(col("support") >= col("__ms"))
      .persist() // threshold-bounded; feeds the output AND the Apriori prune
    persisted += l2
    val nL2 = l2.count() // exact; prices the assembly width with nL1
    mark(2, nL2)
    val out2 = l2.join(broadcast(freq1)).select(
      concat_ws("|",
        element_at(col("__f1"), expr(s"CAST(pk DIV $W AS INT)")),
        element_at(col("__f1"), expr(s"CAST(pk % $W AS INT)"))).as("items"),
      lit(2L).as("size"), col("support"), ppm.as("support_ppm"))
    val out12 = out1.unionByName(out2)
    if (maxSize == 2) {
      val r = out12.coalesce(outW(nL1 + nL2)).localCheckpoint()
      if (traced) mark(2 + 100, r.count()) // final assembly, level tag 102
      if (traced) lastMineTrace = trace.result()
      releaseAll()
      return r
    }

    // Classic Apriori join-and-prune, basket-locally (r12 verdict: the
    // all-triples explode was the mine's 2 s level): ONE C(B,2) sweep
    // intersects the basket's pairs with the broadcast frequent-pair set,
    // then triples are generated only as EXTENSIONS of a surviving pair
    // (i,j) by an in-basket code k > j — each sorted triple exactly once —
    // and the two remaining sub-pair tests run against the BASKET-LOCAL
    // survivor array `ps` (tiny), not the global vocabulary-sized `__f2`.
    // Old cost: C(B,3) candidates × 3 linear scans of |f2|. New cost:
    // C(B,2) scans of |f2| + |ps|·B extensions × 2 scans of |ps|.
    val freq2 = l2.agg(sort_array(collect_list(col("pk"))).as("__f2"))
    val l3 = coded.where(size(col("cs")) >= 3)
      .join(broadcast(freq2))
      .select(col("cs"), col("__f2"))
      .as[(Array[Int], Array[Long])]
      .mapPartitions { it =>
        var f2: Array[Long] = null // sort_array'd — binary-searchable
        val m = new LongCounter(1 << 12) // in-kernel partial counts (see L2)
        it.flatMap { case (a, f2arr) =>
          if (f2 == null) f2 = f2arr
          val n0 = a.length
          // basket-local frequent-pair survivors, ascending by
          // construction (i asc, then j asc ⇒ packed keys ascend)
          val ps = new Array[Long](n0 * (n0 - 1) / 2)
          var np = 0; var i = 0
          while (i < n0 - 1) {
            val ci = a(i).toLong * W
            var j = i + 1
            while (j < n0) {
              val p = ci + a(j)
              if (java.util.Arrays.binarySearch(f2, p) >= 0) { ps(np) = p; np += 1 }
              j += 1
            }
            i += 1
          }
          if (np < 3) Iterator.empty // a frequent triple needs 3 sub-pairs
          else {
            val psa = java.util.Arrays.copyOf(ps, np)
            var x = 0
            while (x < np) {
              val p = psa(x)
              val pi = p / W; val pj = p % W
              var k0 = 0
              while (k0 < n0) {
                val k = a(k0)
                // extend (i,j) by k > j; triple frequent iff (i,k),(j,k)
                // also survived — the same tests as the SQL form, compiled
                if (k > pj &&
                    java.util.Arrays.binarySearch(psa, pi * W + k) >= 0 &&
                    java.util.Arrays.binarySearch(psa, pj * W + k) >= 0)
                  m.add(p * W + k)
                k0 += 1
              }
              x += 1
            }
            if (m.size >= PartialFlushKeys) m.drainAndReset() else Iterator.empty
          }
        } ++ m.drainAndReset()
      }
      .toDF("tk", "c")
      .groupBy(col("tk")).agg(sum(col("c")).as("support"))
      .join(broadcast(nb))
      .where(col("support") >= col("__ms"))
      .persist() // threshold-bounded; counted, then read by the output
    persisted += l3
    val nL3 = l3.count() // a dense corpus can have far more triples than pairs
    mark(3, nL3)
    val out3 = l3.join(broadcast(freq1)).select(
      concat_ws("|",
        element_at(col("__f1"), expr(s"CAST(tk DIV ${W * W} AS INT)")),
        element_at(col("__f1"), expr(s"CAST((tk DIV $W) % $W AS INT)")),
        element_at(col("__f1"), expr(s"CAST(tk % $W AS INT)"))).as("items"),
      lit(3L).as("size"), col("support"), ppm.as("support_ppm"))
    // Width from the measured level counts (outW): the result is
    // threshold-bounded, so this is 1 for the usual hundreds of rows —
    // the union of the three level caches otherwise checkpoints at the
    // SUM of their widths (66 tasks for ~330 rows in the r14 probe,
    // ~0.3 s of pure stage overhead) — but a low-threshold large-
    // vocabulary mine, or a dense one whose triples outnumber its pairs,
    // does not serialize into one task
    val r = out12.unionByName(out3).coalesce(outW(nL1 + nL2 + nL3)).localCheckpoint()
    if (traced) mark(3 + 100, r.count()) // final assembly, level tag 103
    if (traced) lastMineTrace = trace.result()
    releaseAll()
    r
    } catch { case t: Throwable => releaseAll(); throw t }
  }

  /** Association rules from the frequent PAIRS of a [[frequentItemsets]]
    * result (mined with `maxSize >= 2`; the universe size is read from the
    * frame's size-0 row, so one mine feeds both surfaces with no extra
    * corpus pass): for each frequent ordered pair `(a → b)`, integer-exact
    * `confidence_ppm = sup(ab) · 1e6 div sup(a)` and
    * `lift_ppm = sup(ab) · nBaskets · 1e6 div (sup(a) · sup(b))` — lift
    * > 1e6 means co-occurrence above independence. Both orientations are
    * emitted (confidence is directional). The rule frame is
    * vocabulary²-bounded, never basket-bounded. Bound (guarded loudly, the
    * [[FixedPoint]] convention): the lift numerator `sup(ab) · nBaskets ·
    * 1e6` must stay under 2^63 — pre-aggregate baskets (e.g. count in
    * thousands) past ~3e6 of them.
    *
    * Output: `(antecedent, consequent, support, confidence_ppm, lift_ppm)`.
    */
  def associationRulesFrom(sets: DataFrame): DataFrame = {
    // the universe size rides the frame as the size-0 (empty) itemset
    val nb = sets.where(col("size") === 0)
      .select(col("support").as("__n"))
    val l1 = sets.where(col("size") === 1)
      .select(col("items").as("i"), col("support").as("sup1"))
    val pairs = sets.where(col("size") === 2)
      .select(split(col("items"), "\\|").getItem(0).as("a"),
        split(col("items"), "\\|").getItem(1).as("c"),
        col("support"))
    val both = pairs.unionByName(
      pairs.select(col("c").as("a"), col("a").as("c"), col("support")))
    both
      .join(broadcast(l1.withColumnRenamed("i", "a").withColumnRenamed("sup1", "supA")), Seq("a"))
      .join(broadcast(l1.withColumnRenamed("i", "c").withColumnRenamed("sup1", "supC")), Seq("c"))
      .join(broadcast(nb))
      .select(col("a").as("antecedent"), col("c").as("consequent"),
        col("support"),
        expr("CAST(support * 1000000L DIV supA AS BIGINT)").as("confidence_ppm"),
        when(assert_true(
          col("support").cast("double") * col("__n").cast("double") * 1e6 < lit(4.6e18),
          lit("associationRules overflow: support * nBaskets * 1e6 exceeds " +
            "BIGINT - pre-aggregate baskets before mining")).isNull,
          expr("CAST(support * __n * 1000000L DIV (supA * supC) AS BIGINT)"))
          .as("lift_ppm"))
  }

  /** [[associationRulesFrom]] with its own pair mine — the standalone form. */
  def associationRules(df: DataFrame, basket: String, item: String,
      minSupportPpm: Long = 4000L): DataFrame =
    associationRulesFrom(
      frequentItemsets(df, basket, item, minSupportPpm, maxSize = 2))
}
