package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Telemetry

/** Deduplication operators for training-data pipelines: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash.
  *
  * Scale shapes:
  *  - exact: one hash-groupBy (map-side combinable) — the canonical 100 TB
  *    dedup pass.
  *  - ngram-Jaccard: inverted-index join on shingles (explode → join on
  *    shingle → pair-count). Never a full cross join; hot shingles can be
  *    dropped by document frequency (`maxDf`) exactly like stop-shingle
  *    filtering in MinHash pipelines.
  *  - MinHash/LSH: signature per doc (map-only), banded bucket join, verify
  *    candidates with exact Jaccard. Candidate set is the only quadratic
  *    term and is bounded by band collisions.
  *  - SimHash: 64-bit signature per doc (map-only), near-dup = small Hamming
  *    distance within bucket prefix.
  */
object Dedup {

  /** Exact dedup: group identical texts, keep the lowest id as representative.
    */
  def exact(df: DataFrame, id: String, text: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(text)).as("fp"))
      .agg(min(col(id)).as("rep_id"), count(lit(1)).as("n_dups"))

  /** Cross-corpus (incremental) exact dedup: the rows of `newDocs` whose
    * text does not already appear in `existing` — the shard-vs-corpus
    * question every append-only training pipeline asks on each new crawl
    * drop. A fingerprint anti-join: both sides shuffle only their
    * (fp, id) projections, never the text.
    */
  def incrementalExact(newDocs: DataFrame, existing: DataFrame,
      id: String, text: String): DataFrame =
    newDocs
      .select(col(id), TextAnalysis.fingerprint(col(text)).as("fp"))
      .join(
        existing.select(TextAnalysis.fingerprint(col(text)).as("fp")).distinct(),
        Seq("fp"), "left_anti")
      .select(col(id), col("fp"))

  /** Bloom-prefiltered twin of [[incrementalExact]] — IDENTICAL output.
    * A Bloom filter over the existing fingerprints (one distributed
    * aggregation, merged on the driver, broadcast) splits the new shard
    * map-side: a negative is *definitely* novel and passes through with no
    * shuffle at all; only the ~fpp fraction of positives pays the exact
    * anti-join. At 100 TB the anti-join's shuffle shrinks from the whole
    * shard to (true duplicates + fpp·novel) — the right way to re-dedup a
    * petabyte corpus against a daily drop. Null fingerprints (null text)
    * are bloom-negatives and anti-join non-matches alike: kept.
    */
  def incrementalExactBloom(newDocs: DataFrame, existing: DataFrame,
      id: String, text: String, expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    val exFp = existing.select(TextAnalysis.fingerprint(col(text)).as("fp"))
    val bloom = exFp.stat.bloomFilter("fp", math.max(expectedItems, 1L), fpp)
    val bc = newDocs.sparkSession.sparkContext.broadcast(bloom)
    val mightContain = udf { (fp: String) => fp != null && bc.value.mightContainString(fp) }
    val withFp = newDocs.select(col(id), TextAnalysis.fingerprint(col(text)).as("fp"))
    val definitelyNovel = withFp.where(!mightContain(col("fp")))
    val verified = withFp.where(mightContain(col("fp")))
      .join(exFp.distinct(), Seq("fp"), "left_anti")
      .select(col(id), col("fp"))
    definitelyNovel.unionByName(verified)
  }

  /** The ONE shingling loop every Jaccard variant derives from — the
    * string-set and hash-set UDFs below must stay byte-identical on the
    * shingle text, or the cross-variant "identical output" guarantee
    * silently breaks.
    */
  private[operators] def shingleWindows(s: String, n: Int): Array[String] = {
    val toks = s.split(" ", -1)
    val m = math.max(toks.length - n, 0)
    val out = new Array[String](m + 1)
    var i = 0
    while (i <= m) {
      out(i) = toks.slice(i, math.min(i + n, toks.length)).mkString(" ")
      i += 1
    }
    out
  }

  /** Distinct word n-grams as a JIT pass — output identical to
    * `array_distinct(TextAnalysis.shingles(_, n))`, but Catalyst's
    * `transform`/`slice` lambdas evaluate interpreted per element, which
    * dominates the shingling stage on large corpora.
    */
  private val shingleUdf = udf { (s: String, n: Int) =>
    if (s == null) Array.empty[String] else shingleWindows(s, n).distinct
  }

  /** Distinct (docId, shingle) pairs — the inverted-index input.
    *
    * Deliberately NO [[SizeGates.spreadSmall]] here: every minhash/verify
    * consumer RE-DERIVES this frame 2–6 times per query, and a spread
    * inside the helper pays a fresh round-robin exchange plus
    * wide-tiny-task overhead on each derivation (with a spread here:
    * q_edit_verify 1.89→4.51 s, q_clean_eval_split 0.31×,
    * q_dedup_agreement 0.57×). Parallelism for the
    * shingle kernel comes from the input's own width (the scan's splits at
    * scale); spreads stay only at single-derivation call sites (spanPairs,
    * cdcChunks, the hashed-set builders ahead of their groupBy barrier).
    */
  def docShingles(df: DataFrame, id: String, text: String, n: Int): DataFrame =
    df.select(col(id).as("doc"), explode(shingleUdf(col(text), lit(n))).as("shingle"))

  /** Asymmetric n-gram containment: directed pairs (src, dst) with
    * |S(src) ∩ S(dst)| / |S(src)| ≥ threshold — "src is mostly contained in
    * dst". Catches quotes, partial copies, and superset documents that
    * symmetric Jaccard misses when the container is much longer than the
    * contained doc (a long page quoting a short one has low Jaccard but
    * containment ≈ 1).
    *
    * This default is the block-partitioned sweep (the
    * [[ngramJaccardBlocked]] strategy: sorted 128-bit shingle-hash sets,
    * block-pair tasks, early-exit merge-intersection emitting BOTH
    * directions from one pass) — the right plan for dense corpora, where an
    * inverted index degenerates to Σ df² pair rows. On Zipfian corpora with
    * rare shingles, [[ngramContainmentIndex]] trades the O(n²) sweep for
    * index joins.
    */
  def ngramContainment(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, blocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Similarity.requireIntegralId(df, id)
    // corpus-size floor: a block is one collect_list row in one task —
    // ~64 MB of input text a block (statistics-sized, no job at
    // construction; shingle sets weigh about what the text does)
    val nb = if (blocks > 0) blocks else Similarity.autoBlocksSized(df)
    val sets = SizeGates.spreadSmall(df) // per-row-heavy hashing; no-op at scale
      .select(col(id).cast("long").as("doc"), shingleHashSetUdf(col(text), lit(n)).as("hs"))
      .groupBy(col("doc"))
      .agg(collect_list(col("hs")).as("hss"))
      .select(
        pmod(col("doc"), lit(nb)).cast("int").as("b"),
        struct(col("doc").as("_1"), mergeHashSetsUdf(col("hss")).as("_2")).as("ds"))
    val grouped = sets.groupBy(col("b")).agg(collect_list(col("ds")).as("docs"))
    val lhs = grouped.select(col("b").as("b1"), col("docs").as("d1s"))
    val rhs = grouped.select(col("b").as("b2"), col("docs").as("d2s"))
    lhs.join(rhs, col("b1") <= col("b2"))
      .select(col("b1"), col("b2"), col("d1s"), col("d2s"))
      // pair-key repartition before the sweep — without it AQE coalesces
      // the tiny-row-count join output to ~1 partition and the whole
      // quadratic sweep runs on one core; count pinned = not AQE-coalescible
      // (see cosinePairsBlocked)
      .repartition(lhs.sparkSession.sessionState.conf.numShufflePartitions,
        col("b1"), col("b2"))
      .as[(Int, Int, Array[(Long, Array[Long])], Array[(Long, Array[Long])])]
      .mapPartitions { it =>
        it.flatMap { case (bi, bj, as, bs) =>
          val same = bi == bj
          as.iterator.flatMap { case (id1, a) =>
            val partner = if (same) bs.iterator.filter(_._1 > id1) else bs.iterator
            partner.flatMap { case (id2, b) =>
              containmentPairHashed(id1, a, id2, b, threshold)
            }
          }
        }
      }
      .toDF("src", "dst", "containment")
  }

  /** One early-exit merge-intersection, both containment directions out.
    * The abort bound uses the EASIER direction (t·min sizes): if the
    * intersection cannot reach it, neither direction can pass. The bound
    * carries the HALF_UP-rounding slack ([[roundSlack]]) so a pair whose
    * ratio rounds UP to the threshold is never aborted — the final
    * round-then-compare is the single source of truth, as in the index
    * variant and the SQL oracle.
    */
  private[operators] def containmentPairHashed(id1: Long, a: Array[Long],
      id2: Long, b: Array[Long], threshold: Double): Iterator[(Long, Long, Double)] = {
    val la = a.length / 2; val lb = b.length / 2
    if (la == 0 || lb == 0) return Iterator.empty
    val needed = math.ceil(roundSlack(threshold) * math.min(la, lb) - 1e-9).toInt
    var ai = 0; var bi = 0; var inter = 0
    var live = true
    while (live && ai < la && bi < lb) {
      val c1 = java.lang.Long.compare(a(2 * ai), b(2 * bi))
      val c = if (c1 != 0) c1 else java.lang.Long.compare(a(2 * ai + 1), b(2 * bi + 1))
      if (c == 0) { inter += 1; ai += 1; bi += 1 }
      else if (c < 0) ai += 1
      else bi += 1
      if (inter + math.min(la - ai, lb - bi) < needed) live = false
    }
    if (!live || inter == 0) Iterator.empty
    else {
      val cab = Sweep.round6(inter.toDouble / la)
      val cba = Sweep.round6(inter.toDouble / lb)
      (if (cab >= threshold) Iterator.single((id1, id2, cab)) else Iterator.empty) ++
        (if (cba >= threshold) Iterator.single((id2, id1, cba)) else Iterator.empty)
    }
  }

  /** Inverted-index form of [[ngramContainment]] — identical output, the
    * Zipfian-corpus plan: intersection counts from [[Pairs.coOccurrence]]
    * over per-shingle doc lists (array-lambda pair expansion, no
    * self-join). `maxShingleDf` drops shingles shared by more than that
    * many docs (boilerplate) from the INTERSECTIONS — denominators stay
    * full — an explicit approximation knob; None keeps exact semantics.
    * On dense small-vocabulary corpora this degenerates to Σ df² pair
    * rows; use the blocked sweep there.
    */
  def ngramContainmentIndex(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, maxShingleDf: Option[Int] = None): DataFrame = {
    // distinct: rows sharing an id merge into ONE shingle set, matching the
    // blocked sweep's mergeHashSetsUdf (and sizes count the union set)
    val s0 = docShingles(df, id, text, n).distinct()
    val s = maxShingleDf match {
      case Some(cap) =>
        // the documented DROP, not coOccurrence's list truncation (which
        // would keep the cap lowest doc ids and id-bias every score)
        val keep = s0.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .where(col("__df") <= cap).select("shingle")
        s0.join(keep, Seq("shingle"))
      case None => s0
    }
    val sz = s0.groupBy(col("doc")).agg(count(lit(1)).as("__sz"))
    val inter = Pairs.coOccurrence(s, "shingle", "doc", None)
    val directed = inter
      .select(col("m1").as("src"), col("m2").as("dst"), col("score"))
      .unionByName(inter.select(col("m2").as("src"), col("m1").as("dst"), col("score")))
    directed.join(sz, col("src") === col("doc"))
      .withColumn("containment", round(col("score").cast("double") / col("__sz"), 6))
      .where(col("containment") >= threshold)
      .select(col("src"), col("dst"), col("containment"))
  }

  /** n-gram Jaccard near-dup pairs, scored |A∩B| / (|A|+|B|−|A∩B|) and kept
    * at or above `threshold`.
    *
    * Plan: a **prefix-filtered** similarity join (the PPJoin family —
    * Chaudhuri et al. ICDE'06, Bayardo et al. WWW'07, Xiao et al. WWW'08):
    * order each document's shingles by ascending global document frequency
    * and index only the first `|d| − ⌈t·|d|⌉ + 1` (the "prefix"). Two sets
    * with Jaccard ≥ t MUST collide inside their prefixes, so joining
    * prefixes is lossless — and the hot shingles that make a naive
    * inverted-index self-join quadratic (Σ df² pair rows) sit at the END of
    * the frequency order, outside every prefix. Candidates are then verified
    * with an exact intersection count. Output is identical to the naive
    * join; only the plan changes.
    *
    * `maxDf` additionally drops shingles more frequent than the cap from
    * indexing AND sizing (an explicit approximation knob for skewed corpora;
    * None keeps exact semantics).
    */
  def ngramJaccard(
      df: DataFrame,
      id: String,
      text: String,
      n: Int,
      threshold: Double,
      maxDf: Option[Int] = None): DataFrame = {
    // NOT cached despite the multiple self-references below: the operator
    // must stay a pure lazy plan (no executor-memory lease the caller can't
    // release), recompute of the map-only shingle pass is cheap relative to
    // the joins, and AQE + parquet re-scan beat materializing an exploded
    // (doc, shingle) frame that is ~10× the input size.
    val base = docShingles(df, id, text, n)
    val ds = maxDf match {
      case Some(cap) =>
        val keep = base.groupBy(col("shingle")).agg(count(lit(1)).as("__df"))
          .where(col("__df") <= cap).select("shingle")
        base.join(keep, Seq("shingle"))
      case None => base
    }
    val sizes = ds.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val dfreq = ds.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc")).orderBy(col("df"), col("shingle"))
    // prefix length |d| − ⌈t·|d|⌉ + 1; the epsilon keeps FP noise in t·|d|
    // from rounding the ceiling UP (which would shorten the prefix and
    // silently drop true pairs), and t carries the same HALF_UP rounding
    // slack as the sweeps' early-exit bounds — a pair whose Jaccard rounds
    // up to t must still collide inside the prefixes
    val prefix = ds
      .join(dfreq, Seq("shingle"))
      .withColumn("pos", row_number().over(w))
      .join(sizes, Seq("doc"))
      .where(col("pos") <=
        col("sz") - ceil(lit(roundSlack(threshold)) * col("sz") - lit(1e-9)) + 1)
      .select(col("doc"), col("shingle"))
    val cands = prefix.select(col("doc").as("d1"), col("shingle"))
      .join(prefix.select(col("doc").as("d2"), col("shingle")), Seq("shingle"))
      .where(col("d1") < col("d2"))
      .select(col("d1"), col("d2"))
      .distinct()
    val inter = cands
      .join(ds.select(col("doc").as("d1"), col("shingle")), Seq("d1"))
      .join(ds.select(col("doc").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col("doc").as("d2"), col("sz").as("sz2")), Seq("d2"))
      .withColumn("jaccard", round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** A threshold loosened by the half-ulp of `round(_, 6)`'s HALF_UP step:
    * early-exit bounds must use THIS, not the raw threshold — a ratio as
    * low as t − 5e-7 still rounds up to t and passes the final
    * round-then-compare, so an abort bound at raw t would drop boundary
    * pairs the naive forms (and the SQL oracles) keep.
    */
  private def roundSlack(threshold: Double): Double = threshold - 5e-7

  /** Broadcast all-pairs form of [[ngramJaccard]] — identical output,
    * different physical strategy: collect each doc's sorted distinct
    * shingle-HASH set ([[shingleHashSetUdf]]'s flat 128-bit layout — the
    * same representation as the blocked sweep, and the same vanishing
    * MD5-collision argument for result identity), broadcast, and sweep
    * the (i, j) upper triangle with [[jaccardPairHashed]]'s early-exit
    * merge-intersection and size-ratio filter. A profile put ~21 s of
    * executor CPU per bench run in the old STRING merge (one
    * `String.compareTo` per merge step, each a char-by-char walk of a
    * ~12-char shingle); comparing two longs instead cut the sweep's CPU
    * several-fold with the per-pair arithmetic otherwise unchanged.
    *
    * The `id` column must have an integral type (byte, short, int or
    * long); any other type — string, decimal, double — now throws an
    * `IllegalArgumentException` up front, even when every value is
    * integral. This is a behaviour change: such callers used to get
    * coincidentally correct results, or silently merged shingle sets when
    * the long cast collapsed distinct ids (7.2 and 7.9 → 7).
    *
    * Use when the shingle-set index fits in executor memory (it is ~16
    * bytes per distinct shingle). Prefix filtering ([[ngramJaccard]]) wins
    * on Zipfian corpora where rare shingles exist; on dense
    * small-vocabulary corpora every shingle is frequent, prefixes prune
    * nothing, and this sweep is an order of magnitude faster.
    */
  def ngramJaccardBroadcast(
      df: DataFrame,
      id: String,
      text: String,
      n: Int,
      threshold: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // same guard as the blocked/containment forms: the long cast below
    // would silently merge distinct non-integral ids (7.2 and 7.9 → 7)
    // into one shingle set, changing results instead of erroring
    Similarity.requireIntegralId(df, id)
    // per-doc union BEFORE the collect, mirroring the blocked sweep: rows
    // sharing an id merge into one set (collect_set semantics); a doc
    // whose set is empty stays harmless — every pair against it fails the
    // size filter exactly like the exploded string form that dropped it
    val sets = SizeGates.spreadSmall(df) // per-row-heavy hashing; no-op at scale
      .select(col(id).cast("long").as("doc"), shingleHashSetUdf(col(text), lit(n)).as("hs"))
      .groupBy(col("doc"))
      .agg(collect_list(col("hs")).as("hss"))
      .select(col("doc"), mergeHashSetsUdf(col("hss")).as("hs"))
      .as[(Long, Array[Long])].collect().sortBy(_._1)
    Sweep.broadcastRows(spark, sets.length, sets) { (data, i) =>
      val (d1, a) = data(i)
      (i + 1 until data.length).iterator.flatMap { j =>
        val (d2, b) = data(j)
        val jac = jaccardPairHashed(a, b, threshold)
        if (jac.isNaN) Iterator.empty else Iterator.single((d1, d2, jac))
      }
    }.toDF("d1", "d2", "jaccard")
  }

  /** A document's distinct shingles as a SORTED flat array of 128-bit MD5
    * hashes (pairs of longs at indices 2i, 2i+1) — one JIT map pass per
    * doc, no explode. The merge-intersection downstream compares 16-byte
    * hashes instead of strings; a count-changing collision needs two
    * distinct shingles with equal MD5 (P ≈ m²/2¹²⁹ — vanishing), so
    * results are identical to the string-set forms.
    */
  private def packSortedHashes(seen: scala.collection.mutable.TreeSet[(Long, Long)]): Array[Long] = {
    val out = new Array[Long](seen.size * 2)
    var j = 0
    seen.foreach { case (h1, h2) => out(j) = h1; out(j + 1) = h2; j += 2 }
    out
  }

  private val shingleHashSetUdf = udf { (s: String, n: Int) =>
    if (s == null) Array.empty[Long]
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val seen = new scala.collection.mutable.TreeSet[(Long, Long)]()
      shingleWindows(s, n).foreach { sh =>
        val d = md.digest(sh.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val bb = java.nio.ByteBuffer.wrap(d)
        seen += ((bb.getLong(0), bb.getLong(8)))
      }
      packSortedHashes(seen)
    }
  }

  /** Union of per-row hash sets — rows sharing a doc id must merge into ONE
    * set, exactly like the string variants' `collect_set` over exploded
    * shingles (a doc split across rows, or an accidental duplicate id).
    */
  private val mergeHashSetsUdf = udf { (sets: Seq[Seq[Long]]) =>
    if (sets.length == 1) sets.head.toArray
    else {
      val seen = new scala.collection.mutable.TreeSet[(Long, Long)]()
      sets.foreach { hs =>
        var i = 0
        while (i + 1 < hs.length) { seen += ((hs(i), hs(i + 1))); i += 2 }
      }
      packSortedHashes(seen)
    }
  }

  /** Exact Jaccard on two sorted flat 128-bit hash arrays ([[shingleHashSetUdf]]
    * layout): size-ratio filter first (the max possible Jaccard of two sets
    * of these sizes), then an early-exit merge-intersection whose abort
    * bound carries the HALF_UP rounding slack — the hash-compare successor
    * of the removed sorted-STRING merge kernel.
    */
  private[operators] def jaccardPairHashed(a: Array[Long], b: Array[Long], threshold: Double): Double = {
    val la = a.length / 2; val lb = b.length / 2
    val maxInter = math.min(la, lb)
    if (Sweep.round6(maxInter.toDouble / (la + lb - maxInter)) < threshold) return Double.NaN
    val t = roundSlack(threshold)
    val needed = math.ceil(t * (la + lb) / (1.0 + t) - 1e-9).toInt
    var ai = 0; var bi = 0; var inter = 0
    var live = true
    while (live && ai < la && bi < lb) {
      val c1 = java.lang.Long.compare(a(2 * ai), b(2 * bi))
      val c = if (c1 != 0) c1 else java.lang.Long.compare(a(2 * ai + 1), b(2 * bi + 1))
      if (c == 0) { inter += 1; ai += 1; bi += 1 }
      else if (c < 0) ai += 1
      else bi += 1
      if (inter + math.min(la - ai, lb - bi) < needed) live = false
    }
    val jac = Sweep.round6(inter.toDouble / (la + lb - inter))
    if (live && jac >= threshold) jac else Double.NaN
  }

  /** Block-partitioned exact all-pairs form of [[ngramJaccard]] — identical
    * output, NO driver collect and NO full broadcast: each doc becomes a
    * sorted 128-bit shingle-hash set in ONE map pass (no explode, no
    * per-shingle shuffle), docs hash into `blocks` groups, each group
    * travels once per partner block (a shuffle of ~hashes×blocks bytes),
    * and every unordered block pair `(b1 ≤ b2)` is one task running the
    * early-exit merge-intersection sweep on primitive long arrays.
    *
    * This is the 100 TB plan for DENSE corpora, where prefix filtering
    * ([[ngramJaccard]]) degenerates to all-pairs anyway but pays three
    * extra shuffles and a candidate-dedup to discover that: compute is the
    * unavoidable O(n²/2) verify, communication is O(n·blocks), parallelism
    * is blocks·(blocks+1)/2 independent tasks, and per-task memory is two
    * blocks — tune `blocks` so a block fits comfortably in one task's heap.
    */
  def ngramJaccardBlocked(
      df: DataFrame,
      id: String,
      text: String,
      n: Int,
      threshold: Double,
      blocks: Int = 0): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    Similarity.requireIntegralId(df, id)
    // corpus-size floor — see ngramContainment's sizing note
    val nb = if (blocks > 0) blocks else Similarity.autoBlocksSized(df)
    // per-doc union BEFORE blocking: rows sharing an id merge into one set
    // (matching the string variants' collect_set semantics); the shuffled
    // payload is the compact 16-bytes-per-shingle hash arrays, still no
    // per-shingle explode
    val sets = SizeGates.spreadSmall(df) // per-row-heavy hashing; no-op at scale
      .select(col(id).cast("long").as("doc"), shingleHashSetUdf(col(text), lit(n)).as("hs"))
      .groupBy(col("doc"))
      .agg(collect_list(col("hs")).as("hss"))
      .select(
        pmod(col("doc"), lit(nb)).cast("int").as("b"),
        struct(col("doc").as("_1"), mergeHashSetsUdf(col("hss")).as("_2")).as("ds"))
    val grouped = sets.groupBy(col("b")).agg(collect_list(col("ds")).as("docs"))
    val lhs = grouped.select(col("b").as("b1"), col("docs").as("d1s"))
    val rhs = grouped.select(col("b").as("b2"), col("docs").as("d2s"))
    lhs.join(rhs, col("b1") <= col("b2"))
      .select(col("b1"), col("b2"), col("d1s"), col("d2s"))
      // pair-key repartition before the sweep — without it AQE coalesces
      // the tiny-row-count join output to ~1 partition and the whole
      // quadratic sweep runs on one core; count pinned = not AQE-coalescible
      // (see cosinePairsBlocked)
      .repartition(lhs.sparkSession.sessionState.conf.numShufflePartitions,
        col("b1"), col("b2"))
      .as[(Int, Int, Array[(Long, Array[Long])], Array[(Long, Array[Long])])]
      .mapPartitions { it =>
        it.flatMap { case (bi, bj, as, bs) =>
          val same = bi == bj
          as.iterator.flatMap { case (id1, a) =>
            // same-block halving by ID (collect_list order is not
            // deterministic across the two join sides, so index-based
            // halving would double/miss pairs)
            val partner = if (same) bs.iterator.filter(_._1 > id1) else bs.iterator
            partner.flatMap { case (id2, b) =>
              val jac = jaccardPairHashed(a, b, threshold)
              if (jac.isNaN) Iterator.empty
              else Iterator.single((math.min(id1, id2), math.max(id1, id2), jac))
            }
          }
        }
      }
      .toDF("d1", "d2", "jaccard")
  }

  /** [[graft.Telemetry.note]] key of the plan each [[ngramJaccardAuto]]
    * call took ("ppjoin" | "blocked") — routing evidence for specs and the
    * scale drill. Diagnostic only. */
  final val JaccardRoute = "dedup.jaccard.route"

  /** Corpus-shape-routed exact n-gram Jaccard: ONE
    * entry point that picks between the two identical-output plans —
    * [[ngramJaccard]] (PPJoin prefix filter: right when rare shingles
    * exist, so prefixes prune the candidate join) and
    * [[ngramJaccardBlocked]] (the O(n²/b) block sweep: right on dense
    * small-vocabulary corpora where every shingle is frequent, prefixes
    * prune nothing, and PPJoin degenerates to a SLOWER all-pairs that
    * pays three extra shuffles plus a candidate-dedup to discover it).
    *
    * The gate estimates the PPJoin candidate volume from the shingle
    * df DISTRIBUTION: each doc's prefix keeps its `(1−t)·|d|+1` RAREST
    * shingles (ascending-df prefix order), globally approximated by the
    * lowest-df `(1−t)` fraction of postings; the candidate volume is
    * Σ C(df, 2) over that tail. Routing flips to PPJoin only when that
    * estimate is under `C(n, 2) / 8` — PPJoin's per-candidate cost (a
    * shuffled join row, a distinct, two verify joins) is roughly an order
    * of magnitude above the sweep's per-pair in-memory merge step, so
    * comparable volumes favor the sweep. The decision reads a
    * (df → shingle count) HISTOGRAM — bounded by the distinct df VALUES,
    * not the vocabulary — collected ascending; a histogram past
    * `maxHistogram` rows falls back to the sweep (the plan with the
    * guaranteed envelope). Admission cost: one map-side-combinable
    * shingle pass for the stats (two small jobs), the
    * [[Similarity.knnGraph]] count-for-admission convention. The taken
    * route is noted under [[JaccardRoute]]; both plans are spec-pinned to
    * identical output, so the gate changes the physical plan only.
    */
  def ngramJaccardAuto(df: DataFrame, id: String, text: String, n: Int,
      threshold: Double, blocks: Int = 0,
      maxHistogram: Int = 100000): DataFrame = {
    Similarity.requireIntegralId(df, id)
    val base = docShingles(df.where(col(text).isNotNull), id, text, n)
    val s0 = base.agg(countDistinct(col("doc")).as("n"), count(lit(1)).as("p"))
      .collect()(0)
    val nDocs = s0.getLong(0)
    val postings = s0.getLong(1)
    val hist = base.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .groupBy(col("df")).agg(count(lit(1)).as("nsh"))
      .orderBy(col("df"))
      .limit(maxHistogram + 1)
      .collect()
    val vPairs = nDocs.toDouble * (nDocs - 1) / 2
    val route: String =
      if (hist.length > maxHistogram) "blocked"
      else {
        // ascending-df walk: budget = the (1−t) fraction of postings that
        // land in prefixes (+1 per doc), volumes in doubles (heuristic)
        var budget = (1.0 - roundSlack(threshold)) * postings + nDocs
        var vPrefix = 0.0
        var i = 0
        while (i < hist.length && budget > 0) {
          val dfv = hist(i).getLong(0).toDouble
          val nsh = hist(i).getLong(1).toDouble
          val take = math.min(nsh, budget / dfv) // fractional last bucket
          vPrefix += take * dfv * (dfv - 1) / 2
          budget -= take * dfv
          i += 1
        }
        if (vPrefix * 8 < vPairs) "ppjoin" else "blocked"
      }
    Telemetry.note(df.sparkSession, JaccardRoute, route)
    if (route == "ppjoin")
      ngramJaccard(df, id, text, n, threshold)
        .select(col("d1").cast("long"), col("d2").cast("long"), col("jaccard"))
    else ngramJaccardBlocked(df, id, text, n, threshold, blocks)
  }

  /** Portable token/shingle hash: first 8 hex chars of md5 as a long
    * (< 2^32). Engine-neutral (md5 is identical everywhere), unlike
    * murmur/xxhash which differ between engines — this keeps MinHash
    * signatures reproducible by any SQL oracle. 32 bits also keeps the
    * universal-hash arithmetic below overflow-free in 64-bit signed math.
    */
  def shingleHash(shingle: Column): Column =
    conv(substring(md5(shingle), 1, 8), 16, 10).cast("long")

  private val MersennePrime = 2305843009213693951L // 2^61 - 1

  /** Universal-hash family h_i(x) = (a_i * x + b_i) mod p, fixed seeds so
    * signatures are deterministic across runs and engines. a < 2^30 and
    * x < 2^32 keep a*x + b < 2^63 (no signed overflow, also no overflow in a
    * BIGINT-strict oracle engine).
    */
  def perm(i: Int): (Long, Long) = {
    val rng = new scala.util.Random(42L + i)
    (math.abs(rng.nextLong()) % ((1L << 30) - 1) + 1, math.abs(rng.nextLong()) % MersennePrime)
  }

  /** The [[minhashSignature]] columns computed PER ROW with array lambdas —
    * no explode, no shuffle, so the signature composes onto a streaming
    * frame (duplicate shingles can't change a min, so the non-distinct
    * [[TextAnalysis.shingles]] windows give the identical signature to the
    * exploded aggregation form). A row whose text yields no shingles (null
    * text) carries null `mh*` columns.
    */
  def minhashSignatureCols(text: Column, n: Int, numPerm: Int): Seq[Column] = {
    val sh = TextAnalysis.shingles(text, n)
    (0 until numPerm).map { i =>
      val (a, b) = perm(i)
      array_min(transform(sh, s => pmod(shingleHash(s) * lit(a) + lit(b), lit(MersennePrime))))
        .as(s"mh$i")
    }
  }

  /** MinHash signatures: for each of `numPerm` hash functions, the minimum
    * permuted shingle hash of the document. Map-only per document.
    */
  def minhashSignature(df: DataFrame, id: String, text: String, n: Int, numPerm: Int): DataFrame = {
    val ds = docShingles(df, id, text, n).withColumn("h", shingleHash(col("shingle")))
    val mins = (0 until numPerm).map { i =>
      val (a, b) = perm(i)
      // (a*h + b) mod p in unsigned 64-bit arithmetic stays exact because
      // h < 2^60 and we reduce via BigDecimal-free pmod on the long ring
      min(pmod(col("h") * lit(a) + lit(b), lit(MersennePrime))).as(s"mh$i")
    }
    ds.groupBy(col("doc")).agg(mins.head, mins.tail: _*)
  }

  /** Band-exploded LSH bucket keys of a [[minhashSignature]] frame: one row
    * per (doc, band) with the band's literal signature values as the bucket
    * key (engine-portable, no false candidates from hash collisions). One
    * explode pass — a union of per-band selects would recompute the
    * signature aggregation once per band.
    */
  private[graft] def bandExplode(sig: DataFrame, numPerm: Int, bands: Int, side: String): DataFrame = {
    val rows = numPerm / bands
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh$i"))
      struct(lit(b).as("band"), concat_ws("_", cols: _*).as("bucket"))
    }
    sig.select(col("doc").as(side), explode(array(bandStructs: _*)).as("__b"))
      .select(col(side), col("__b.band").as("band"), col("__b.bucket").as("bucket"))
  }

  /** MinHash estimation-error audit over the LSH candidate pairs: for every
    * band-colliding pair, the signature-agreement estimate
    * `n_match / numPerm` next to the EXACT shingle Jaccard and their
    * absolute gap — the calibration report that says whether
    * `numPerm`/`bands` are tuned right BEFORE a 100 TB dedup run trusts the
    * sketch. With `numPerm` a power of two the estimate is an exactly
    * representable binary fraction, so both engines emit identical doubles.
    *
    * Plan shape: the banded candidate join of [[minhashDedup]] plus ONE
    * signature join per pair side (pair-frame-sized) and the shared
    * exact-verify join — nothing touches the corpus beyond the signature
    * and shingle frames the dedup already builds.
    */
  def minhashEstimateAudit(df: DataFrame, id: String, text: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 8): DataFrame = {
    // the signature frame is SMALL at any scale (numPerm longs per doc) and
    // read FOUR times here (both band-join sides + both per-pair signature
    // joins) — persist it so the corpus-wide signature aggregation runs
    // once (r15; guide §5 — cache the lightweight proxy, recompute nothing
    // heavy). Candidates persist and the exact-verify inputs shrink to
    // candidate docs by a left-semi prefilter, exactly as in
    // [[minhashDedup]]; the lazy plan reads the persists at evaluation
    // time, so they release via the call-scoped registry, not here.
    val sig = minhashSignature(df, id, text, n, numPerm).persist()
    TimeSeries.registerCallScopedPersist(sig)
    val banded = bandExplode(sig, numPerm, bands, "doc")
    val cands = banded
      .join(banded.select(col("doc").as("d2"), col("band"), col("bucket")), Seq("band", "bucket"))
      .where(col("doc") < col("d2"))
      .select(col("doc").as("d1"), col("d2"))
      .distinct()
      .persist()
    TimeSeries.registerCallScopedPersist(cands)
    val sigA = sig.select(col("doc").as("d1") +: (0 until numPerm).map(i => col(s"mh$i").as(s"a$i")): _*)
    val sigB = sig.select(col("doc").as("d2") +: (0 until numPerm).map(i => col(s"mh$i").as(s"b$i")): _*)
    val nMatch = (0 until numPerm)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val est = cands.join(sigA, Seq("d1")).join(sigB, Seq("d2"))
      .select(col("d1"), col("d2"), nMatch.as("n_match"))
    val candDocs = cands.select(col("d1").as("doc"))
      .unionByName(cands.select(col("d2").as("doc"))).distinct()
    val ds = docShingles(df, id, text, n)
      .join(candDocs, Seq("doc"), "left_semi")
      .distinct()
      .persist() // candidate-docs-only shingles; sizes + both join sides
    TimeSeries.registerCallScopedPersist(ds)
    val sizes = ds.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = est.select(col("d1"), col("d2"))
      .join(ds.select(col("doc").as("d1"), col("shingle")), Seq("d1"))
      .join(ds.select(col("doc").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    val i0 = coalesce(col("inter"), lit(0L))
    val exact = round(i0.cast("double") / (col("sz1") + col("sz2") - i0), 6)
    val estJ = col("n_match").cast("double") / numPerm
    est
      .join(inter, Seq("d1", "d2"), "left_outer")
      .join(sizes.select(col("doc").as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col("doc").as("d2"), col("sz").as("sz2")), Seq("d2"))
      .select(col("d1"), col("d2"), col("n_match"),
        round(estJ, 6).as("est_jaccard"),
        exact.as("jaccard"),
        round(abs(estJ - exact), 6).as("abs_err"))
  }

  /** Lexical-vs-semantic near-dup agreement: full-outer join of a MinHash
    * pair frame (`d1, d2, jaccard`) and an embedding-cosine pair frame
    * (`d1, d2, sim`), each pair tagged `both` / `lexical_only` /
    * `semantic_only`. The disagreement rows are the interesting ones: a
    * paraphrase cluster only the embeddings see, or boilerplate only the
    * shingles see — the audit that decides which dedup pass a corpus
    * actually needs. Work is pair-frame-sized on both sides.
    */
  def pairAgreement(lexical: DataFrame, semantic: DataFrame): DataFrame =
    lexical.select(col("d1"), col("d2"), col("jaccard"))
      .join(semantic.select(col("d1"), col("d2"), col("sim")), Seq("d1", "d2"), "full_outer")
      .select(col("d1"), col("d2"), col("jaccard"), col("sim"),
        when(col("jaccard").isNotNull && col("sim").isNotNull, lit("both"))
          .when(col("jaccard").isNotNull, lit("lexical_only"))
          .otherwise(lit("semantic_only")).as("verdict"))

  /** The banded LSH candidate-pair set alone (pre-verify): docs colliding
    * on any full band, normalized `d1 < d2`, distinct. This is the shape
    * the streaming twin ([[graft.streaming.DocStream.lshCandidatePairs]])
    * reproduces incrementally; [[minhashDedup]] composes it with the exact
    * Jaccard verify.
    */
  def lshCandidates(df: DataFrame, id: String, text: String,
      n: Int, numPerm: Int, bands: Int): DataFrame = {
    val sig = minhashSignature(df, id, text, n, numPerm)
    val banded = bandExplode(sig, numPerm, bands, "doc")
    banded
      .join(banded.select(col("doc").as("d2"), col("band"), col("bucket")), Seq("band", "bucket"))
      .where(col("doc") < col("d2"))
      .select(col("doc").as("d1"), col("d2"))
      .distinct()
  }

  /** MinHash LSH candidate pairs: split the signature into `bands` bands of
    * `rows` hashes; docs colliding on any full band are candidates; verify
    * with exact shingle Jaccard and keep pairs ≥ threshold.
    */
  def minhashDedup(
      df: DataFrame,
      id: String,
      text: String,
      n: Int = 3,
      numPerm: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    // The candidate list is this operator's "small rows" (guide §8): it is
    // collision-bounded while the exploded (doc, shingle) frame is
    // corpus-sized — so the candidates persist (read by the doc-id filter
    // and the intersection join) and every verify input is first shrunk to
    // CANDIDATE DOCS by a left-semi join on the candidate ids (r15; guide
    // §3.2 — pre-filter the big side before it shuffles). The old shape
    // derived the full exploded frame three times (sizes + both join
    // sides) and shuffled it twice, corpus-wide, to verify a
    // candidate-bounded pair list. Results are identical: every inter/size
    // row that survives the final candidate join had both docs in the
    // candidate set. The returned plan stays LAZY and still reads the two
    // persists at evaluation time, so they release via the call-scoped
    // registry ([[TimeSeries.registerCallScopedPersist]] — the
    // rowNumberRanged convention), not inside this call.
    val cands = lshCandidates(df, id, text, n, numPerm, bands).persist()
    TimeSeries.registerCallScopedPersist(cands)
    val candDocs = cands.select(col("d1").as("doc"))
      .unionByName(cands.select(col("d2").as("doc"))).distinct()
    // distinct ACROSS rows, not just within one: duplicate-id doc rows
    // must merge into one shingle set or the set sizes double and skew
    // the verdict (the invariant every dedup variant shares); the
    // semi-join lands BELOW it so the distinct's exchange carries only
    // candidate docs
    val ds = docShingles(df, id, text, n)
      .join(candDocs, Seq("doc"), "left_semi")
      .distinct()
      .persist() // candidate-docs-only shingles; three readers below
    TimeSeries.registerCallScopedPersist(ds)
    val sizes = ds.groupBy(col("doc")).agg(count(lit(1)).as("sz"))
    val inter = cands
      .join(ds.select(col("doc").as("d1"), col("shingle")), Seq("d1"))
      .join(ds.select(col("doc").as("d2"), col("shingle")), Seq("d2", "shingle"))
      .groupBy(col("d1"), col("d2"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc").as("d1"), col("sz").as("sz1")), Seq("d1"))
      .join(sizes.select(col("doc").as("d2"), col("sz").as("sz2")), Seq("d2"))
      .withColumn("jaccard", round(col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("d1"), col("d2"), col("jaccard"))
  }

  /** Cross-corpus NEAR-dup incremental dedup — the fuzzy sibling of
    * [[incrementalExact]] and the shape a daily crawl drop actually needs:
    * dedupe the NEW shard against the EXISTING corpus without ever pairing
    * existing docs with each other. A new doc is dropped when it band-
    * collides with an existing doc (MinHash LSH, same banding as
    * [[minhashDedup]]) AND the exact shingle Jaccard verifies at or above
    * `threshold`; everything else — including null-text docs, which have no
    * shingles — survives.
    *
    * Scale shape: both sides reduce to banded signatures before any join,
    * the candidate join is bucket-keyed (never all-pairs), verification
    * touches only colliding pairs, and the final survivor filter is a
    * left-anti join on the new shard's ids. The existing corpus is read for
    * signatures + shingles of colliding docs only, never shuffled whole
    * against itself.
    */
  def incrementalMinhash(newDocs: DataFrame, existing: DataFrame,
      id: String, text: String, n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      threshold: Double = 0.5): DataFrame = {
    def banded(df: DataFrame, side: String): DataFrame =
      bandExplode(minhashSignature(df, id, text, n, numPerm), numPerm, bands, side)
    // candidates persist (read by the two doc-id filters and the
    // intersection join), and each side's exploded shingle frame is shrunk
    // to ITS candidate docs with a left-semi prefilter before the distinct
    // and the verify joins (r15; guide §3.2/§8 — the old shape derived
    // each corpus-sized frame twice and shuffled it whole to verify a
    // collision-bounded pair list). The lazy plan reads the persists at
    // evaluation time; they release via the call-scoped registry. Rows
    // unchanged.
    val cands = banded(newDocs, "dn")
      .join(banded(existing, "dx"), Seq("band", "bucket"))
      .select(col("dn"), col("dx")).distinct()
      .persist()
    TimeSeries.registerCallScopedPersist(cands)
    // distinct across rows: duplicate-id doc rows merge into ONE shingle
    // set (shared dedup-variant invariant), or inter/sz double and the
    // Jaccard verdict drops docs it shouldn't
    val dsN = docShingles(newDocs, id, text, n)
      .join(cands.select(col("dn").as("doc")).distinct(), Seq("doc"), "left_semi")
      .distinct().persist()
    TimeSeries.registerCallScopedPersist(dsN)
    val dsX = docShingles(existing, id, text, n)
      .join(cands.select(col("dx").as("doc")).distinct(), Seq("doc"), "left_semi")
      .distinct().persist()
    TimeSeries.registerCallScopedPersist(dsX)
    val inter = cands
      .join(dsN.select(col("doc").as("dn"), col("shingle")), Seq("dn"))
      .join(dsX.select(col("doc").as("dx"), col("shingle")), Seq("dx", "shingle"))
      .groupBy(col("dn"), col("dx"))
      .agg(count(lit(1)).as("inter"))
    val dups = inter
      .join(dsN.groupBy(col("doc")).agg(count(lit(1)).as("szn"))
        .select(col("doc").as("dn"), col("szn")), Seq("dn"))
      .join(dsX.groupBy(col("doc")).agg(count(lit(1)).as("szx"))
        .select(col("doc").as("dx"), col("szx")), Seq("dx"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("szn") + col("szx") - col("inter")), 6))
      .where(col("jaccard") >= threshold)
      .select(col("dn")).distinct()
    newDocs.select(col(id)).join(dups, col(id) === col("dn"), "left_anti")
  }

  /** SimHash: 64-bit signature where bit k is the sign of the sum over tokens
    * of ±1 according to bit k of the token hash. Near-dups share most bits.
    * Uses the portable md5-derived token hash; map-only per document.
    */
  def simhash(df: DataFrame, id: String, text: String): DataFrame = {
    val tok = df.select(col(id).as("doc"), explode(TextAnalysis.tokens(col(text))).as("t"))
      // 60-bit portable hash (15 hex chars of md5) — wider than shingleHash
      // because every signature bit needs an independent hash bit
      .withColumn("h", conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long"))
    val bits = 60
    val votes = (0 until bits).map { k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"v$k")
    }
    val agg = tok.groupBy(col("doc")).agg(votes.head, votes.tail: _*)
    val sigExpr = (0 until bits)
      .map(k => when(col(s"v$k") > 0, shiftleft(lit(1L), k)).otherwise(lit(0L)))
      .reduce((a, b) => a.bitwiseOR(b))
    agg.select(col("doc"), sigExpr.as("simhash"))
  }

  /** SimHash near-dup pairs: docs whose signatures agree on the top
    * `prefixBits` (the LSH bucketing) and differ in at most `maxHamming`
    * bits overall.
    */
  def simhashDedup(df: DataFrame, id: String, text: String, prefixBits: Int = 16, maxHamming: Int = 8): DataFrame = {
    val sig = simhash(df, id, text)
    val bucketed = sig.withColumn("bucket", shiftright(col("simhash"), 60 - prefixBits))
    val pairs = bucketed
      .join(bucketed.select(col("doc").as("d2"), col("simhash").as("s2"), col("bucket")), Seq("bucket"))
      .where(col("doc") < col("d2"))
    pairs
      .withColumn("hamming", bit_count(col("simhash").bitwiseXOR(col("s2"))))
      .where(col("hamming") <= maxHamming)
      .select(col("doc").as("d1"), col("d2"), col("hamming"))
  }

  /** Generic Hamming-LSH pair join over ANY 64-bit signature column — the
    * machinery of [[simhashDedup]] factored out so non-text signatures
    * (perceptual image dHash from [[Multimodal.dhash]], audio fingerprints)
    * get the same never-all-pairs near-dup path. Rows whose signatures
    * agree on the LOW `prefixBits` bits (a mask, not a shift — sign-safe
    * when bit 63 is populated, which dHash does and the 60-bit simhash
    * never did) land in one bucket; only within-bucket pairs pay the
    * `bit_count(xor)` Hamming check. A true near-dup pair differing in
    * none of the masked bits is found; the miss probability decays
    * geometrically in `maxHamming/64` per masked bit, exactly the banding
    * trade [[minhashDedup]] makes — tune `prefixBits` down (more
    * candidates) for higher recall.
    *
    * Output: `(d1, d2, hamming)` with `d1 < d2`, each unordered pair once
    * (one bucket per row ⇒ no dedup pass needed).
    */
  def hammingPairs(sig: DataFrame, id: String, sigCol: String,
      prefixBits: Int = 16, maxHamming: Int = 8): DataFrame = {
    require(prefixBits >= 1 && prefixBits <= 62, s"prefixBits in [1,62], got $prefixBits")
    val mask = (1L << prefixBits) - 1L
    val b = sig.select(col(id).as("d1"), col(sigCol).as("s1"),
      col(sigCol).bitwiseAND(lit(mask)).as("bucket"))
    b.join(b.select(col("d1").as("d2"), col("s1").as("s2"), col("bucket")), Seq("bucket"))
      .where(col("d1") < col("d2"))
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))).cast("long"))
      .where(col("hamming") <= maxHamming)
      .select(col("d1"), col("d2"), col("hamming"))
  }

  /** Connected components over a near-duplicate pair list: every doc that
    * appears in a pair gets labeled with the MINIMUM doc id transitively
    * reachable from it — the canonical cluster representative. This is the
    * step that turns pairwise near-dup output (`ngramJaccard*`,
    * `minhashDedup`, `simhashDedup`, `cosinePairs*`) into dedup decisions:
    * pairs (1,2) and (2,3) are ONE cluster {1,2,3} with rep 1, not two
    * independent drops.
    *
    * Hash-min label propagation: each round every node adopts the smallest
    * label among itself and its neighbors (one join + one partial-agg min —
    * two shuffles per round), converging in O(cluster diameter) rounds.
    * Near-dup clusters are short-diameter in practice (members all overlap
    * the same content), so rounds stay single-digit at any corpus size; the
    * pair list is the SMALL output of the near-dup stage, not the corpus.
    *
    * The driver loop is control flow only (one convergence count per
    * round); all data movement stays in distributed joins. Each round's
    * labels are `localCheckpoint`ed to TRUNCATE lineage — without it the
    * logical plan nests the previous round's plan on both sides of the join
    * and grows exponentially (round ~12 of a chain graph OOMs the driver
    * just stringifying the plan). NOT a lazy plan — call it at
    * pipeline-action time.
    */
  def connectedComponents(pairs: DataFrame, a: String, b: String,
      maxIters: Int = 50, maxDriverPairs: Long = 2000000L): DataFrame = {
    // Fast path: near-dup pair lists are usually MUCH smaller than the
    // corpus (thresholding sees to that). When the edge list fits a
    // documented driver bound, one collect + union-find replaces
    // O(diameter) distributed rounds whose cost here is almost entirely
    // fixed job overhead. Identical output (min reachable id per node);
    // the label-propagation loop below remains the unbounded-graph path.
    // The (expensive) pair plan is persisted so the size gate and the
    // chosen path both read the one materialization.
    val spark0 = pairs.sparkSession
    import spark0.implicits._
    // a null endpoint carries no connectivity information; dropping it here
    // keeps the two physical paths identical (the driver path's non-null
    // encoder would crash on it, the distributed path would emit a
    // nonsense (null, null) label row)
    val edges0 = pairs.select(col(a).cast("long").as(a), col(b).cast("long").as(b))
      .where(col(a).isNotNull && col(b).isNotNull)
      .persist()
    try {
      // stats-first gate ([[SizeGates]] convention): a pair list Catalyst
      // statistics already prove too big for the driver union-find routes
      // to label propagation with NO count job (64 B/row over-estimates a
      // two-long row); otherwise the exact count confirms driver admission
      if (!SizeGates.definitelyExceeds(edges0, maxDriverPairs, 64L) &&
          edges0.count() <= maxDriverPairs) {
        val es = edges0.as[(Long, Long)].collect()
        val parent = new scala.collection.mutable.HashMap[Long, Long]()
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
          var c = x // path compression
          while (parent.getOrElse(c, c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
          r
        }
        es.foreach { case (x, y) =>
          parent.getOrElseUpdate(x, x); parent.getOrElseUpdate(y, y)
          val rx = find(x); val ry = find(y)
          // union by MIN root: a component's root is always its least id,
          // so labels match the hash-min propagation exactly
          if (rx != ry) { if (rx < ry) parent(ry) = rx else parent(rx) = ry }
        }
        parent.keys.toSeq.sorted.map(n => (n, find(n))).toDF("doc", "component")
      } else connectedComponentsDistributed(edges0, a, b, maxIters, releaseInput = true)
    } finally edges0.unpersist(blocking = false)
  }

  /** The unbounded-graph path of [[connectedComponents]]: distributed
    * hash-min label propagation with localCheckpoint lineage truncation
    * and a convergence guard that refuses wrong labels.
    *
    * `releaseInput = true` unpersists `pairs` as soon as the symmetrized
    * edge table is materialized (it is read exactly once). The wrapper
    * passes true for the persist it owns; direct callers keep their own
    * cache unless they opt in.
    */
  def connectedComponentsDistributed(pairs: DataFrame, a: String, b: String,
      maxIters: Int = 50, releaseInput: Boolean = false): DataFrame = {
    // the materialized RDD behind a localCheckpoint-ed frame (its analyzed
    // plan is a LogicalRDD), so each superseded round's blocks are freed
    // the moment the next round materializes, instead of lingering until
    // the ContextCleaner notices. Safe: the new round's checkpoint is
    // self-contained, nothing reads the old blocks again.
    def ckptRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.analyzed match {
        case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
        case _ => None
      }
    val edges = pairs.select(col(a).cast("long").as("src"), col(b).cast("long").as("dst"))
    val sym = edges
      .unionByName(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist()
    // materialize sym now: the input (often a cached edge list from the
    // size gate) is read exactly once and can be released before the
    // O(diameter) rounds instead of occupying storage through all of them
    val nSym = sym.count()
    if (releaseInput) pairs.unpersist(blocking = false)
    // rows-derived width for every per-round read of the cached edge
    // table (SizeGates.loopPartitions + coalesce view, r14 — see the
    // Graph.pageRank note): the count is already paid above
    val symL = sym.coalesce(SizeGates.loopPartitions(nSym))
    var labels = symL.select(col("src").as("node")).distinct()
      .withColumn("comp", col("node")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIters) {
      val nbrMin = symL.join(labels, col("dst") === col("node"))
        .groupBy(col("src")).agg(min(col("comp")).as("__nbr"))
      val step = labels.join(nbrMin, col("node") === col("src"), "left_outer")
        .select(col("node"), col("comp"),
          least(col("comp"), coalesce(col("__nbr"), col("comp"))).as("__next"))
        .persist()
      changed = step.where(col("__next") < col("comp")).count()
      val prev = labels
      labels = step.select(col("node"), col("__next").as("comp")).localCheckpoint(true)
      step.unpersist()
      ckptRdd(prev).foreach(_.unpersist(blocking = false))
      i += 1
    }
    sym.unpersist()
    if (changed > 0) { // unconverged labels are silently WRONG — refuse
      ckptRdd(labels).foreach(_.unpersist(blocking = false))
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds " +
          s"($changed labels still moving) — raise maxIters for long-chain graphs")
    }
    // the RESULT keeps its one materialized label table; the ContextCleaner
    // frees it once the frame is unreferenced
    labels.select(col("node").as("doc"), col("comp").as("component"))
  }

  /** Dedup survivors under a clustering: drop every doc whose cluster
    * representative (minimum id) is a DIFFERENT doc; docs in no pair always
    * survive. Plain left-anti join — the drop list is O(duplicated docs),
    * which on a heavily duplicated corpus is NOT broadcast-sized, so the
    * join strategy is left to the planner/AQE (it broadcasts small drop
    * lists on its own). The drop side is aliased so a docs frame that
    * itself has a "doc" column can't make the condition ambiguous.
    */
  /** Quality-aware representative selection: per near-dup component, keep
    * the member with the HIGHEST score (ties to the smaller id) instead of
    * [[clusterSurvivors]]'s min-id convention — what a production pipeline
    * actually wants: of five copies of a page, keep the cleanest one, not
    * the one that happened to be crawled first.
    *
    * One id-keyed join (components are near-dup-sized) and ONE map-side-
    * combinable aggregation: the argmax rides a `max(struct(score, -id))`
    * — lexicographic struct ordering gives score-desc/id-asc without a
    * window, so there is no per-component sort and no skew sensitivity.
    */
  def clusterBestSurvivors(components: DataFrame, scored: DataFrame,
      id: String, score: String): DataFrame =
    components
      .join(scored.select(col(id).cast("long").as("doc"), col(score).as("__s")), Seq("doc"))
      .groupBy(col("component"))
      .agg(
        max(struct(col("__s").as("__s"), (-col("doc")).as("__nd"))).as("__best"),
        count(lit(1)).as("n_members"))
      .select(
        col("component"),
        (-col("__best.__nd")).cast("long").as("rep_id"),
        col("__best.__s").as("best_score"),
        col("n_members"))

  def clusterSurvivors(docs: DataFrame, id: String, components: DataFrame): DataFrame =
    docs.join(
      components.where(col("doc") =!= col("component")).select(col("doc").as("__drop")),
      docs(id) === col("__drop"), "left_anti")

  /** Repeated-span (exact substring) duplication profile — the
    * Spark-native re-expression of suffix-array span dedup ("Deduplicating
    * Training Data Makes Language Models Better"): for every document,
    * how much of it is covered by k-token spans that also occur verbatim
    * in at least `minDocs` distinct documents. Where whole-doc dedup
    * ([[exact]]/[[minhashDedup]]) asks "is this document a copy?", this
    * asks "which PARTS of it are boilerplate?" — licence headers,
    * navigation chrome, quoted templates.
    *
    * Plan shape (the 100 TB path):
    *   1. map-only rolling windows: every k-token span at stride 1, hashed
    *      (md5) so only 32-byte keys shuffle, never span text;
    *   2. span-hash frequency: ONE hash-groupBy with map-side combine —
    *      the same shape as [[exact]] — keeping hashes seen in >= minDocs
    *      distinct docs (count_distinct(doc) partial-aggregates);
    *   3. join spans against the duplicated-hash set ON THE HASH — the
    *      dup set is O(boilerplate), typically broadcastable, and the
    *      planner/AQE picks that up on its own;
    *   4. union token coverage per doc: duplicated spans overlap, so
    *      positions are exploded (bounded k-fold blowup of the DUP spans
    *      only, not the corpus) and count_distinct'd per doc.
    * No windows, no driver collect, no all-pairs term anywhere; the only
    * quadratic-looking step (3) is linear in span occurrences.
    *
    * Output: one row per non-null-text doc —
    * (id, n_tokens, n_spans, n_dup_spans, dup_tokens, dup_frac) with
    * dup_frac rounded to 6 places (cross-engine double hygiene). Docs
    * shorter than k tokens have zero spans and dup_frac 0.
    */
  def repeatedSpans(df: DataFrame, id: String, text: String, k: Int,
      minDocs: Int = 2): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    val base = df.filter(col(text).isNotNull)
      .select(col(id).as("__doc"), split(col(text), " ").as("__toks"))
      .select(col("__doc"), col("__toks"), size(col("__toks")).as("__n"))
    // (doc, pos, h): every k-token window, stride 1, hashed map-side
    val spans = base.filter(col("__n") >= k)
      .select(col("__doc"),
        explode(expr(
          s"""transform(sequence(0, size(__toks) - $k),
             |  i -> struct(i AS pos,
             |    md5(array_join(slice(__toks, i + 1, $k), ' ')) AS h))"""
            .stripMargin)).as("__sp"))
      .select(col("__doc"), col("__sp.pos").as("__pos"), col("__sp.h").as("__h"))
    val dupHashes = spans.groupBy(col("__h"))
      .agg(count_distinct(col("__doc")).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col("__h"))
    val dupCover = spans.join(dupHashes, Seq("__h"))
      .select(col("__doc"), col("__pos"),
        explode(expr(s"sequence(__pos, __pos + ${k - 1})")).as("__ti"))
      .groupBy(col("__doc"))
      .agg(
        count_distinct(col("__pos")).as("__ndup"),
        count_distinct(col("__ti")).as("__cov"))
    base.join(dupCover, Seq("__doc"), "left_outer")
      .select(
        col("__doc").as(id),
        col("__n").cast("long").as("n_tokens"),
        greatest(col("__n") - (k - 1), lit(0)).cast("long").as("n_spans"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup_spans"),
        coalesce(col("__cov"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("__cov"), lit(0L)) / col("__n"), 6).as("dup_frac"))
  }

  /** Cross-document shared-span pairs — the plagiarism/quotation matrix:
    * which document PAIRS share at least `minShared` distinct `k`-token
    * spans, and how much of the smaller document those shared spans cover.
    * [[repeatedSpans]] answers "how duplicated is each doc"; this answers
    * "against WHOM" — the report that separates two docs quoting the same
    * boilerplate from one doc lifting another's body.
    *
    * Skew control: spans present in more than `maxDocsPerSpan` documents
    * are boilerplate (licenses, navigation) and are excluded from pair
    * generation — they would otherwise contribute O(docs²) pairs per span.
    * They still count in the containment denominator, so a boilerplate-only
    * pair can't sneak above the threshold by shrinking its own base.
    *
    * Plan shape: ONE `collect_set(doc)` aggregation per span hash replaces
    * the earlier distinct() + degree-count + span self-join (three shuffles
    * of the exploded frame → one): the set dedups `(span, doc)` repeats
    * map-side, its size IS the degree, the sorted set explodes directly
    * into `d1 < d2` pairs (bounded by `maxDocsPerSpan²` per span), and the
    * containment denominators come from a distinct-agg on the same
    * map-only exploded frame. Agg state per span is its distinct-doc
    * degree — for a corpus whose worst boilerplate degree exceeds executor
    * memory, reinstate a combinable degree-count pre-pass to drop those
    * spans before the set agg; every retained state here is ≤ the corpus'
    * max span degree.
    *
    * Output: `(d1, d2, n_shared, overlap)` with `overlap = n_shared /
    * min(total spans of either doc)` rounded to 6 places.
    */
  def spanPairs(df: DataFrame, id: String, text: String, k: Int,
      maxDocsPerSpan: Int = 10, minShared: Int = 2): DataFrame = {
    require(k >= 2, s"span width must be >= 2 tokens, got $k")
    require(maxDocsPerSpan >= 2, s"maxDocsPerSpan must be >= 2, got $maxDocsPerSpan")
    // per-token md5 spans are per-row-heavy — spread a small input across
    // the cluster (three ~1 s single-task stages in the r14 probe
    // otherwise); no-op at scale
    val spans = SizeGates.spreadSmall(df.filter(col(text).isNotNull))
      .select(col(id).as("__doc"), split(col(text), " ").as("__toks"))
      .filter(size(col("__toks")) >= k)
      .select(col("__doc"), explode(expr(
        s"transform(sequence(0, size(__toks) - $k), i -> md5(array_join(slice(__toks, i + 1, $k), ' ')))"))
        .as("__h"))
    // both branches hang off the MAP-ONLY exploded frame (no shuffle to
    // recompute): sizes as a distinct-agg per doc, pair mint as the one
    // collect_set agg per span — no persist, no checkpoint needed
    val sizes = spans.groupBy(col("__doc"))
      .agg(count_distinct(col("__h")).as("__sz"))
    spans.groupBy(col("__h"))
      .agg(array_sort(collect_set(col("__doc"))).as("__docs"))
      .where(size(col("__docs")).between(2, maxDocsPerSpan))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(__docs) - 2), i ->
          |  transform(sequence(i + 1, size(__docs) - 1), j ->
          |    struct(element_at(__docs, i + 1) AS d1,
          |           element_at(__docs, j + 1) AS d2))))""".stripMargin)).as("__p"))
      .select(col("__p.d1").as("__doc"), col("__p.d2").as("__d2"))
      .groupBy(col("__doc"), col("__d2"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(sizes.select(col("__doc"), col("__sz").as("__sz1")), Seq("__doc"))
      .join(sizes.select(col("__doc").as("__d2"), col("__sz").as("__sz2")), Seq("__d2"))
      .select(col("__doc").as("d1"), col("__d2").as("d2"), col("n_shared"),
        round(col("n_shared").cast("double") / least(col("__sz1"), col("__sz2")), 6).as("overlap"))
  }

  /** Chunk-level ("paragraph") deduplication with document reassembly — the
    * sub-document dedup every C4/Dolma-style curation pipeline runs: split
    * each document into consecutive `chunkTokens`-token chunks (the
    * structural stand-in for paragraphs in unstructured text; swap the
    * chunker for a newline split when documents carry real paragraph
    * boundaries), keep only the globally-FIRST occurrence of each distinct
    * chunk (first = smallest `(doc, chunk_index)`, the deterministic
    * "earliest in corpus order" rule), and re-join each document's surviving
    * chunks in order. Where [[repeatedSpans]] *measures* boilerplate, this
    * *removes* it.
    *
    * Plan shape (the 100 TB path):
    *   1. map-only chunking — `transform(sequence(...))` + `posexplode`,
    *      no shuffle, chunk count = tokens / chunkTokens (no stride-1
    *      blowup);
    *   2. first-occurrence election: ONE hash-groupBy on the chunk with a
    *      `min(struct(doc, idx))` — map-side combinable, so a chunk
    *      duplicated a million times still partial-aggregates to one row
    *      per map task (no window over a skewed chunk partition);
    *   3. join the election result back on the chunk key (shuffle keyed by
    *      chunk, AQE handles residual skew);
    *   4. per-doc reassembly: `collect_list` of surviving
    *      `(idx, chunk)` structs, `array_sort` (index order restores the
    *      original chunk sequence), `array_join` — state bounded by one
    *      document's chunks.
    *
    * Output: one row per non-null-text doc —
    * `(id, n_chunks, n_kept, text_dedup)`; a fully-duplicated document
    * survives with `n_kept = 0` and an empty `text_dedup` (callers filter
    * or quarantine those).
    */
  def chunkDedup(df: DataFrame, id: String, text: String, chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val chunks = df.filter(col(text).isNotNull)
      .select(col(id).cast("long").as("__doc"), split(col(text), " ").as("__toks"))
      .select(col("__doc"),
        posexplode(expr(
          s"""transform(sequence(0, (size(__toks) - 1) DIV $chunkTokens),
             |  i -> array_join(slice(__toks, i * $chunkTokens + 1, $chunkTokens), ' '))"""
            .stripMargin)).as(Seq("__cidx", "__chunk")))
    val firsts = chunks.groupBy(col("__chunk"))
      .agg(min(struct(col("__doc"), col("__cidx"))).as("__first"))
    chunks.join(firsts, Seq("__chunk"))
      .withColumn("__keep",
        col("__doc") === col("__first.__doc") && col("__cidx") === col("__first.__cidx"))
      .groupBy(col("__doc"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN __keep THEN struct(__cidx, __chunk) END)), x -> x.__chunk)"),
          " ").as("text_dedup"))
      .select(col("__doc").as(id), col("n_chunks"), col("n_kept"), col("text_dedup"))
  }

  /** Crawl page-stitch candidates: document pairs where one doc's LAST `k`
    * tokens equal another's FIRST `k` — the pagination artifact
    * ("…continued on page 2") that doc-level dedup can't see because the
    * bodies differ. Reassembling or dropping continuations is a standard
    * crawl-cleaning pass; this finds the seams.
    *
    * Map-only head/tail projections + ONE equi-join on the k-token seam
    * string; per-seam degree is naturally small, and a `maxPerSeam` cap
    * guards against a boilerplate opener exploding the join (same rationale
    * as [[spanPairs]]' degree cap).
    *
    * Output: `(prev_id, next_id, seam)` — `prev` ends where `next` begins.
    */
  def stitchCandidates(df: DataFrame, id: String, text: String, k: Int = 8,
      maxPerSeam: Int = 10): DataFrame = {
    require(k >= 2, s"seam width must be >= 2 tokens, got $k")
    val base = df.filter(col(text).isNotNull)
      .select(col(id).cast("long").as("__doc"), split(col(text), " ").as("__toks"))
      .filter(size(col("__toks")) >= k)
    val heads = base.select(col("__doc").as("next_id"),
      array_join(slice(col("__toks"), 1, k), " ").as("seam"))
    val tails = base.select(col("__doc").as("prev_id"),
      array_join(slice(col("__toks"), -k, k), " ").as("seam"))
    val headDeg = heads.groupBy(col("seam")).agg(count(lit(1)).as("__dh"))
      .filter(col("__dh") <= maxPerSeam).select(col("seam"))
    val tailDeg = tails.groupBy(col("seam")).agg(count(lit(1)).as("__dt"))
      .filter(col("__dt") <= maxPerSeam).select(col("seam"))
    tails.join(tailDeg, Seq("seam"))
      .join(heads.join(headDeg, Seq("seam")), Seq("seam"))
      .where(col("prev_id") =!= col("next_id"))
      .select(col("prev_id"), col("next_id"), col("seam"))
  }

  /** LSH recall audit: the banded-MinHash pair set measured against the
    * EXACT thresholded pair set (the blocked all-pairs sweep). Because
    * [[minhashDedup]] verifies candidates with exact Jaccard, it can only
    * MISS pairs (band collisions are probabilistic), never invent them — so
    * the audit reduces to the miss count and recall, the number that
    * decides whether `numPerm`/`bands` are safe to trust at corpus scale.
    *
    * Output: one row `(n_exact, n_lsh, n_missed, recall)`.
    */
  def lshRecallAudit(df: DataFrame, id: String, text: String, n: Int,
      numPerm: Int, bands: Int, threshold: Double,
      exactPairs: Option[DataFrame] = None): DataFrame = {
    // `exactPairs`: a precomputed [[ngramJaccardBlocked]] frame (same df/n/
    // threshold — caller's contract) so a whole-surface pass that already
    // built the exact sweep doesn't pay the block join twice
    val exact = exactPairs.getOrElse(ngramJaccardBlocked(df, id, text, n, threshold))
      .select(col("d1"), col("d2"))
    val lsh = minhashDedup(df, id, text, n, numPerm, bands, threshold)
      .select(col("d1"), col("d2"), lit(1).as("__hit"))
    exact.join(lsh, Seq("d1", "d2"), "left_outer")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(col("__hit").isNotNull, 1L).otherwise(0L)).as("n_lsh"))
      .select(col("n_exact"), col("n_lsh"),
        (col("n_exact") - col("n_lsh")).as("n_missed"),
        when(col("n_exact") === 0, lit(null))
          .otherwise(round(col("n_lsh") / col("n_exact"), 6)).as("recall"))
  }

  /** Per-cluster provenance rollup over [[connectedComponents]] labels:
    * which sources fed each near-dup cluster, how big it is, and its
    * representative — the survivorship record a curation audit keeps when
    * duplicates are REMOVED (deleting a doc must not silently delete the
    * knowledge that source X also carried it). ONE combinable aggregate
    * over the cluster-member frame joined to the metadata columns.
    *
    * Output: `(component, n_members, rep_id, n_sources, sources,
    * total_chars)` with `sources` a sorted-distinct comma join.
    */
  def clusterProvenance(components: DataFrame, meta: DataFrame, id: String,
      group: String, sizeCol: String): DataFrame =
    components
      .join(meta.select(col(id).cast("long").as("doc"), col(group).as("__g"),
        col(sizeCol).cast("long").as("__sz")), Seq("doc"))
      .groupBy(col("component"))
      .agg(
        count(lit(1)).as("n_members"),
        min(col("doc")).as("rep_id"),
        count_distinct(col("__g")).as("n_sources"),
        array_join(array_sort(collect_set(col("__g"))), ",").as("sources"),
        sum(col("__sz")).as("total_chars"))

  /** Sorted-neighborhood near-dup candidates (the sort-merge record-linkage
    * classic): sort the corpus by a normalized blocking key, compare each
    * doc only with the `windowSize − 1` docs that FOLLOW it in sort order,
    * verify with exact distinct-token Jaccard. Complements LSH: no
    * signatures, one sort, and candidate count is exactly `(w−1)·n`
    * regardless of skew — the right plan when near-dups share prefixes
    * (titles, URLs, names) rather than shingle statistics.
    *
    * Scale shape: the global rank is a chunked row number over an ordinal
    * first-character chunk (per-chunk windows plus each chunk's offset, the
    * running count of earlier chunks, from a broadcast control-plane
    * frame — no single-partition sort); the neighbor "join" is each row
    * EXPLODED into its `w−1` following rank slots and equi-joined — never a
    * range join, never all-pairs.
    *
    * Output: `(d1, d2, jaccard)` for pairs at or above `threshold`,
    * `d1 < d2`.
    */
  def sortedNeighborhood(df: DataFrame, id: String, text: String,
      windowSize: Int = 6, threshold: Double = 0.5, keyLen: Int = 20): DataFrame = {
    require(windowSize >= 2, s"windowSize must be >= 2, got $windowSize")
    val key = substring(regexp_replace(lower(col(text)), "[^a-z0-9]", ""), 1, keyLen)
    val base = df.filter(col(text).isNotNull)
      .select(col(id).cast("long").as("__doc"), col(text).as("__text"), key.as("__key"))
    // ordinal chunk = the key's first character: chunks are contiguous key
    // ranges, so per-chunk row_number + prefix offsets IS the global rank
    val withChunk = base.withColumn("__chunk", coalesce(ascii(substring(col("__key"), 1, 1)), lit(-1)))
    val counts = withChunk.groupBy(col("__chunk")).agg(count(lit(1)).as("__cnt"))
    val wOff = Window.orderBy(col("__chunk")).rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts // one row per chunk — control-plane sized
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .select(col("__chunk").as("__ochunk"), col("__off"))
    val wIn = Window.partitionBy(col("__chunk")).orderBy(col("__key"), col("__doc"))
    val toks = array_distinct(filter(split(col("__text"), " "), t => t =!= ""))
    val ranked = withChunk
      .join(broadcast(offsets), col("__chunk") === col("__ochunk"))
      .withColumn("__rank", row_number().over(wIn).cast("long") + col("__off"))
      .select(col("__doc"), toks.as("__toks"), col("__rank"))
    val probes = ranked.select(col("__doc").as("__da"), col("__toks").as("__ta"),
      explode(expr(s"transform(sequence(1, ${windowSize - 1}), j -> __rank + j)")).as("__rank"))
    val inter = size(array_intersect(col("__ta"), col("__toks")))
    val uni = size(col("__ta")) + size(col("__toks")) - inter
    probes.join(ranked, Seq("__rank"))
      .where(uni > 0)
      .select(least(col("__da"), col("__doc")).as("d1"),
        greatest(col("__da"), col("__doc")).as("d2"),
        round(inter.cast("double") / uni, 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Content-defined chunking: chunk boundaries fall where the rolling
    * `window`-token hash divides `divisor` (expected chunk length ≈
    * `divisor` tokens), so an insertion or deletion only moves the
    * boundaries NEAR the edit — downstream chunks re-align and still
    * dedupe. Fixed-width chunking ([[chunkDedup]]) loses every chunk after
    * a one-token insertion; this is the storage-dedup trick (LBFS/restic/
    * borg) applied to token streams.
    *
    * Plan shape: one map-only explode for the cut positions (window hashes
    * inside an array transform — no shuffle), one token explode, one keyed
    * left join + per-doc cumulative-sum window (the sessionize shape), one
    * ordered reassembly agg. Output: `(id, cidx, n_tokens, chunk)`.
    */
  def cdcChunks(df: DataFrame, id: String, text: String,
      window: Int = 4, divisor: Int = 8): DataFrame =
    cdcChunksInternal(df, id, text, window, divisor)
      .select(col("__doc").as(id), col("__cidx").cast("long").as("cidx"),
        col("n_tokens"), col("__chunk").as("chunk"))

  private def cdcChunksInternal(df: DataFrame, id: String, text: String,
      window: Int, divisor: Int): DataFrame = {
    require(window >= 2, s"window must be >= 2 tokens, got $window")
    require(divisor >= 2, s"divisor must be >= 2, got $divisor")
    // per-token rolling md5 windows make this a per-row-heavy kernel: a
    // small corpus must not ride its 1-partition cached-scan width (r14
    // probe: two ~1 s single-task stages), and the exchange dedups across
    // the two consumers (starts + toks) via shuffle reuse —
    // SizeGates.spreadSmall no-ops on large scans
    val base = SizeGates.spreadSmall(df.filter(col(text).isNotNull)
      .select(col(id).cast("long").as("__doc"), split(col(text), " ").as("__toks")))
      .select(col("__doc"), col("__toks"), size(col("__toks")).as("__n"))
    // cut AFTER window-end token i when the window hash divides; the cut
    // starts a chunk at i + 1. Guard __n >= window + 1: Spark's sequence()
    // runs DESCENDING when start > stop, which would mint phantom cuts.
    val starts = base.filter(col("__n") >= window + 1)
      .select(col("__doc"),
        explode(expr(
          s"""filter(transform(sequence($window - 1, __n - 2),
             |  i -> struct(i + 1 AS sp,
             |    CAST(conv(substring(md5(array_join(slice(__toks, i - $window + 2, $window), ' ')), 1, 8), 16, 10) AS BIGINT) AS h)),
             |  s -> s.h % $divisor = 0)""".stripMargin)).as("__s"))
      .select(col("__doc"), col("__s.sp").as("__pos"), lit(1).as("__f"))
    val toks = base.select(col("__doc"), posexplode(col("__toks")).as(Seq("__pos", "__tok")))
    val w = Window.partitionBy(col("__doc")).orderBy(col("__pos"))
    toks.join(starts, Seq("__doc", "__pos"), "left_outer")
      .withColumn("__cidx", sum(coalesce(col("__f"), lit(0))).over(w))
      .groupBy(col("__doc"), col("__cidx"))
      .agg(
        count(lit(1)).as("n_tokens"),
        array_join(
          expr("transform(array_sort(collect_list(struct(__pos, __tok))), x -> x.__tok)"),
          " ").as("__chunk"))
  }

  /** Sub-document dedup over [[cdcChunks]] — [[chunkDedup]]'s election and
    * reassembly on content-defined boundaries, so shifted duplicates still
    * collapse. Output: `(id, n_chunks, n_kept, text_dedup)`.
    */
  def cdcDedup(df: DataFrame, id: String, text: String,
      window: Int = 4, divisor: Int = 8): DataFrame = {
    val chunks = cdcChunksInternal(df, id, text, window, divisor)
    val firsts = chunks.groupBy(col("__chunk"))
      .agg(min(struct(col("__doc"), col("__cidx"))).as("__first"))
    chunks.join(firsts, Seq("__chunk"))
      .withColumn("__keep",
        col("__doc") === col("__first.__doc") && col("__cidx") === col("__first.__cidx"))
      .groupBy(col("__doc"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("__keep"), lit(1L)).otherwise(lit(0L))).as("n_kept"),
        array_join(
          expr("transform(array_sort(collect_list(CASE WHEN __keep THEN struct(__cidx, __chunk) END)), x -> x.__chunk)"),
          " ").as("text_dedup"))
      .select(col("__doc").as(id), col("n_chunks"), col("n_kept"), col("text_dedup"))
  }

  /** Edit-distance confirmation of MinHash near-duplicate candidates — the
    * final character-level verify stage a production near-dup pipeline runs
    * before destructive removal (shingle Jaccard is token-order-insensitive;
    * Levenshtein is not, so it catches "same bag of words, different
    * document" false positives). Candidates come from [[minhashDedup]]'s
    * banded LSH + exact-Jaccard verify (already bucketed, never all-pairs);
    * each surviving pair is then scored
    * `edit_sim = 1 - levenshtein(a, b) / max(len(a), len(b))`.
    *
    * The Levenshtein DP is O(len_a * len_b) per pair — affordable precisely
    * because LSH has already shrunk the pair set to near-duplicates; at
    * scale, cap the cost with Spark's thresholded
    * `levenshtein(l, r, threshold)` (early-exits the DP once the distance
    * bound is exceeded) when only a pass/fail at `minSim` is needed.
    *
    * Output: `(d1, d2, jaccard, edit_dist, edit_sim)` for candidate pairs
    * with `edit_sim >= minSim` — integer `edit_dist` makes the scores
    * engine-exact; `edit_sim` is floor-quantized to 6 places (not rounded:
    * a ratio of two ints can land exactly on a decimal half-point, where
    * engines' round() disagree — floor of bit-identical doubles cannot).
    */
  def editVerify(df: DataFrame, id: String, text: String,
      n: Int = 3, numPerm: Int = 32, bands: Int = 8,
      jaccardThreshold: Double = 0.5, minSim: Double = 0.0): DataFrame = {
    val pairs = minhashDedup(df, id, text, n, numPerm, bands, jaccardThreshold)
      .select(col("d1"), col("d2"), col("jaccard"))
    val t1 = df.select(col(id).cast("long").as("d1"), col(text).as("__t1"))
    val t2 = df.select(col(id).cast("long").as("d2"), col(text).as("__t2"))
    pairs.join(t1, Seq("d1")).join(t2, Seq("d2"))
      .withColumn("edit_dist", levenshtein(col("__t1"), col("__t2")).cast("long"))
      .withColumn("edit_sim",
        floor((lit(1.0) - col("edit_dist") / greatest(length(col("__t1")), length(col("__t2"))))
          * 1000000.0) / 1000000.0)
      .where(col("edit_sim") >= minSim)
      .select(col("d1"), col("d2"), col("jaccard"), col("edit_dist"), col("edit_sim"))
  }

  /** Dataset snapshot diff — the versioning primitive behind reproducible
    * training sets: given two corpus snapshots, classify every document id
    * as `added`, `removed`, or `changed` (same id, different content
    * fingerprint). Unchanged documents are filtered out, so the output is
    * churn-bounded — on a 100 TB corpus whose daily delta is 0.1%, the
    * result is 0.1%-sized while the comparison itself is one id-keyed
    * full-outer join of two fingerprint projections (map-side md5, no
    * text shuffled — only the 16-byte fingerprints move).
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, id: String, text: String): DataFrame = {
    val o = oldDf.select(col(id).as("__id"), md5(col(text)).as("__ofp"))
    val n = newDf.select(col(id).as("__id"), md5(col(text)).as("__nfp"))
    o.join(n, Seq("__id"), "full_outer")
      .withColumn("status",
        when(col("__ofp").isNull, lit("added"))
          .when(col("__nfp").isNull, lit("removed"))
          .when(col("__ofp") =!= col("__nfp"), lit("changed"))
          .otherwise(lit("unchanged")))
      .where(col("status") =!= "unchanged")
      .select(col("__id").as(id), col("status"))
  }

  /** Cross-source duplication (leakage) matrix: roll any near-duplicate
    * pair frame `(d1, d2, ...)` up to the group level — how much of source
    * A is recycled in source B. The report that decides which overlapping
    * crawl/dump to drop before near-dedup wastes cluster time re-finding
    * the same pairs, and the contamination view when `group` is a
    * train/eval split column.
    *
    * The pair frame is near-dup-sized (its producer already paid the
    * corpus); the two dimension joins are id-keyed; the matrix is bounded
    * by group cardinality squared. Pair orientation is normalized
    * (least/greatest) so (A,B) and (B,A) accumulate together.
    */
  def leakageMatrix(pairs: DataFrame, docs: DataFrame, id: String, group: String): DataFrame = {
    val g = docs.select(col(id), col(group))
    pairs
      .join(g.select(col(id).as("d1"), col(group).as("__g1")), Seq("d1"))
      .join(g.select(col(id).as("d2"), col(group).as("__g2")), Seq("d2"))
      .select(least(col("__g1"), col("__g2")).as("g1"),
        greatest(col("__g1"), col("__g2")).as("g2"))
      .groupBy(col("g1"), col("g2"))
      .agg(count(lit(1)).as("n_pairs"))
  }
}
