package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Empirical scale drill (r11 verdict ask #1): measures the headline + the
  * slowest suite entries at 1× and ~`factor`× of `SPARK_GRAFT_SF_DIR` and
  * emits per-query (input rows, wall seconds) pairs with a fitted scaling
  * exponent — converting every "linear at 100× by construction" claim in
  * STATUS.md into a measured slope.
  *
  * Inflation is a DETERMINISTIC row multiplication of the driver's own
  * testdata (no new fixtures, no RNG): each source row is replicated
  * `factor` times with its primary key remapped `id·factor + k` (unique,
  * order-preserving) and, for events, the timestamp stepped `+k` MICROseconds
  * so replicas stay inside every query window but never collapse onto one
  * `ts_us` key. Baskets (lineitem) remap the ORDER key only, so each basket
  * is copied whole and relative ppm supports are scale-invariant; documents
  * replicate per-doc work verbatim.
  *
  * The iterative graph probes scale their EDGE input (the loop's corpus):
  * `factor` disjoint copies of the same kNN graph, node ids offset per copy.
  * This isolates the LOOP's scaling — the claim under test (edge cache
  * pinned to the join key, constant-depth lazy-cut plans) — from the kNN
  * sweep that builds the graph, which is separately measured and honestly
  * O(n²) (`_dist_knn_graph`). A disjoint-copy graph gives the loops an
  * exactly-linear reference: pageRank/HITS/k-core over `f` copies is `f`×
  * the work of one copy, so any super-linear wall growth is plan overhead,
  * not algorithmic necessity.
  *
  * Runtime knobs: `SPARK_GRAFT_SF_DIR` (base, default sf0.1),
  * `SPARK_GRAFT_SCALE_FACTOR` (default 10), `SPARK_GRAFT_SCALE_RUNS`
  * (median-of, default 3, dir-based queries only — the multi-second graph
  * loops and builds run once), `SPARK_GRAFT_SCALE_OUT` (default
  * SCALE_r12.json).
  */
object Scale {

  private def s3(v: Double): String = Engine.fmt3(v)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val runs = sys.env.getOrElse("SPARK_GRAFT_SCALE_RUNS", "3").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "SCALE_r13.json")
    require(factor >= 2, s"factor must be >= 2, got $factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // sort-based shuffle writer (see Engine.bypassMergeThreshold)
      .config("spark.shuffle.sort.bypassMergeThreshold", Engine.bypassMergeThreshold)
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Engine.tune(spark)
    val work = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_scale_${factor}x").getAbsolutePath
    inflate(spark, base, work, factor)

    // results: name -> (rows1, t1, rowsN, tN)
    val results = scala.collection.mutable.LinkedHashMap[String, (Long, Double, Long, Double)]()
    // per-entry failure isolation (the Bench convention): one throwing
    // query must not lose every other measurement of a multi-minute drill —
    // the failure is flagged in the artifact instead
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def guarded(tag: String, name: String)(body: => Unit): Unit =
      try body catch { case t: Throwable =>
        failed += s"$tag:$name"
        System.err.println(s"[scale] FAILED $tag $name: ${t.getMessage}")
      }

    // ---- dir-based queries: the BASELINE.md headline surface + the RAKE
    // window query (slowest non-probe suite entry) + the Apriori mine
    val headlineFixed = Seq("q_get_data", "q_locf_align", "q_decimate",
      "q_latest_per_key", "q_windowed_counts", "q_downsample",
      "q_downsample_stateful", "q_keyphrases")
    // ---- STANDING SELECTION RULE (r12 verdict ask #8): every round the
    // drill runs the fixed headline set above PLUS the queries whose bench
    // entry REGRESSED >1.5× between the previous round's committed
    // BENCH_FULL and this round's (paths via SPARK_GRAFT_SCALE_PREV_BENCH /
    // SPARK_GRAFT_SCALE_CUR_BENCH; rule inert when either is absent).
    // Normalization is by each artifact's SUITE MEDIAN, not the sentinel —
    // a sentinel swing rescales every normalized entry together (the first
    // r13 pass read 80 "movers" from a 1.7× sentinel shift alone), while
    // the suite median moves with the same box factor as the queries.
    // Slowdowns only (an improvement needs no scale drill), capped at the
    // 8 largest, each drilled ONCE per scale point (quadratic pair
    // operators land here by nature, and median-of-3 at 10× rows is
    // unaffordable for them — slope noise of a single run is ±0.2 in the
    // exponent, small against the 0.9 flag line for the claims under
    // test). Entries whose fitted exponent exceeds 0.9 are auto-flagged
    // in the artifact's `flagged` list — a review cue, not a failure:
    // all-pairs operators legitimately fit ~2 and are judged against the
    // O(n²/b) model in `pair_sweeps` instead. STATUS.md quotes the rule
    // per round.
    def rawQueries(path: String): Map[String, Double] = try {
      val s = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val body = """"queries":\{([^}]*)\}""".r
        .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
      """"([^"]+)":([0-9.eE+\-]+)""".r.findAllMatchIn(body)
        .map(x => x.group(1) -> x.group(2).toDouble).toMap
    } catch { case _: Throwable => Map.empty }
    def med(m: Map[String, Double]): Double = {
      val v = m.values.toSeq.sorted
      if (v.isEmpty) 0.0 else v(v.length / 2)
    }
    val prevQ = sys.env.get("SPARK_GRAFT_SCALE_PREV_BENCH").map(rawQueries).getOrElse(Map.empty)
    val curQ = sys.env.get("SPARK_GRAFT_SCALE_CUR_BENCH").map(rawQueries).getOrElse(Map.empty)
    val (mPrev, mCur) = (med(prevQ), med(curQ))
    val movers = (for {
      (name, cur) <- curQ.toSeq
      prev <- prevQ.get(name)
      if prev > 0 && cur > 0 && mPrev > 0 && mCur > 0
      ratio = (cur / mCur) / (prev / mPrev)
      if ratio > 1.5
      if SparkEntry.queries.contains(name) && !headlineFixed.contains(name)
    } yield (name, ratio)).sortBy(-_._2).take(8).map(_._1)
    if (movers.nonEmpty)
      System.err.println(s"[scale] selection rule adds movers: ${movers.mkString(", ")}")
    // SPARK_GRAFT_SCALE_EXTRA: explicitly-requested registered queries,
    // drilled once per scale point like movers — the per-round hook for
    // "commit a drill row for THIS fix" asks (r13 #1: the post-salt
    // q_tfidf_pairs_inv row) without widening the standing selection rule
    val extras = sys.env.get("SPARK_GRAFT_SCALE_EXTRA")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
      .filter(n => SparkEntry.queries.contains(n) && !headlineFixed.contains(n) &&
        !movers.contains(n))
    if (extras.nonEmpty)
      System.err.println(s"[scale] extras requested: ${extras.mkString(", ")}")
    // rows denominator for the exponent: every FACT table inflates by the
    // same factor, so a mover attributed to the default (events) still
    // gets the right row RATIO even if its absolute rows are another
    // fact table's
    val inputTable = Map(
      "q_keyphrases" -> "documents", "_shared_itemsets" -> "lineitem",
      "q_tfidf_pairs_inv" -> "documents", "q_tfidf_auto" -> "documents",
      "q_jaccard_auto" -> "documents"
    ).withDefaultValue("events")

    def medianTimed(fn: => Unit, n: Int): Double = {
      val ts = (0 until math.max(n, 1)).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn
        (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(ts.length / 2)
    }

    val dirs = Seq(("1x", base), (s"${factor}x", work))
    val tableRows = scala.collection.mutable.Map[(String, String), Long]()
    for ((tag, dir) <- dirs) {
      // Bench convention: base tables cached so queries measure operator
      // cost, not parquet decode
      val cached = Seq("events", "documents", "lineitem", "part").map { t =>
        val df = sources.Tables(spark, dir, t).cache()
        tableRows((tag, t)) = df.count()
        df
      }
      for (name <- headlineFixed) guarded(tag, name) {
        val fn = SparkEntry.queries(name)
        fn(spark, dir).count() // warm-up
        operators.TimeSeries.releaseCallScopedPersists()
        val t = medianTimed({
          fn(spark, dir).count()
          operators.TimeSeries.releaseCallScopedPersists()
        }, runs)
        record(results, name, tag, tableRows((tag, inputTable(name))), t)
        System.err.println(f"[scale] $tag $name ${t}%.2fs")
      }
      // movers + extras: one timed run, no warm-up (selection-rule entries
      // include quadratic pair operators whose 10× point is minutes)
      for (name <- movers ++ extras) guarded(tag, name) {
        val fn = SparkEntry.queries(name)
        val t = medianTimed({
          fn(spark, dir).count()
          operators.TimeSeries.releaseCallScopedPersists()
        }, 1)
        record(results, name, tag, tableRows((tag, inputTable(name))), t)
        System.err.println(f"[scale] $tag $name ${t}%.2fs")
      }
      // the Apriori mine: timed once (build semantics, the Bench convention)
      guarded(tag, "_shared_itemsets") {
        SparkEntry.clearSharedFrames()
        val tMine = medianTimed(
          SparkEntry.sharedFrameBuilders("_shared_itemsets")(spark, dir).count(), 1)
        record(results, "_shared_itemsets", tag, tableRows((tag, "lineitem")), tMine)
        System.err.println(f"[scale] $tag _shared_itemsets ${tMine}%.2fs")
      }
      SparkEntry.clearSharedFrames()
      cached.foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }

    // ---- iterative graph loops over 1× and factor× EDGE corpora; the
    // shared input builds ride the same guard so a kNN-build failure flags
    // the loop entries instead of aborting the drill with results unsaved
    try {
    val g1 = SparkEntry.sharedFrameBuilders("_shared_knn_graph")(spark, base)
      .select(col("query_id").cast("long"), col("neighbor_id").cast("long"))
      .localCheckpoint()
    val m1 = SparkEntry.sharedFrameBuilders("_shared_mutual_knn")(spark, base)
      .select(col("d1").cast("long"), col("d2").cast("long"))
      .localCheckpoint()
    def copies(df: DataFrame, a: String, b: String): DataFrame = df
      .withColumn("__k", explode(sequence(lit(0), lit(factor - 1))))
      .select((col(a) * factor + col("__k")).as(a),
        (col(b) * factor + col("__k")).as(b))
      .localCheckpoint() // materialized input, like the memoized 1× frames
    val gN = copies(g1, "query_id", "neighbor_id")
    val mN = copies(m1, "d1", "d2")
    val eg1 = g1.count(); val egN = gN.count()
    val em1 = m1.count(); val emN = mN.count()
    val loops: Seq[(String, DataFrame => Long)] = Seq(
      "_dist_pagerank" -> ((e: DataFrame) =>
        operators.Graph.pageRank(e, "query_id", "neighbor_id",
          iters = 10, maxDriverEdges = 0L).count()),
      "_dist_hits" -> ((e: DataFrame) =>
        operators.Graph.hits(e, "query_id", "neighbor_id",
          iters = 5, maxDriverEdges = 0L).count()))
    for ((name, fn) <- loops; (tag, e, rows) <- Seq(("1x", g1, eg1), (s"${factor}x", gN, egN)))
      guarded(tag, name) {
        System.gc()
        val t0 = System.nanoTime()
        fn(e)
        val t = (System.nanoTime() - t0) / 1e9
        record(results, name, tag, rows, t)
        System.err.println(f"[scale] $tag $name ${t}%.2fs")
      }
    for ((tag, e, rows) <- Seq(("1x", m1, em1), (s"${factor}x", mN, emN)))
      guarded(tag, "_dist_kcore") {
        System.gc()
        val t0 = System.nanoTime()
        operators.Graph.kCore(e, "d1", "d2", k = 3, maxDriverEdges = 0L).count()
        val t = (System.nanoTime() - t0) / 1e9
        record(results, "_dist_kcore", tag, rows, t)
        System.err.println(f"[scale] $tag _dist_kcore ${t}%.2fs")
      }
    } catch { case t: Throwable =>
      failed += s"input:knn_edges"
      System.err.println(s"[scale] FAILED graph-loop input build: ${t.getMessage}")
    }

    // ---- blocked all-pairs tier (r12 verdict ask #2): the O(n²/b) sweeps
    // the headline drill never touched — cosinePairsBlocked over the
    // embeddings corpus at full factor, the two n-gram sweeps over a
    // pairsFactor-replica document subset (quadratic work makes factor×
    // docs factor²× pair verifies; 3× ≈ 9× work keeps the drill bounded).
    // The block grid is FIXED across scales (blocks=16) so the measured
    // exponent tests the quadratic model itself (expected →2 in rows once
    // past the job floor, per t = a + b·n²); the run's slowest stage —
    // the sweep, at scale — has its task count recorded and asserted
    // against the pinned repartition width: tasks = 1 would mean AQE
    // re-serialized the sweep (the r11 q_embed_dedup_dist defect).
    val pairsFactor = math.min(
      sys.env.getOrElse("SPARK_GRAFT_SCALE_PAIRS_FACTOR", "3").toInt, factor)
    val sweepBlocks = 16
    val nShuffle = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sweepTasks = scala.collection.mutable.LinkedHashMap[(String, String), (Long, Int)]()
    // The sweep stage's task count is the serialization guard (1 task =
    // the r11 AQE-coalesce bug). The SWEEP stage is identified by max
    // executor CPU, not max wall — at a small scale point a parquet scan
    // or agg stage can legitimately be the wall-slowest, and a wall pick
    // would then compute tasks_pass from the wrong stage (r13 ADVICE); the
    // pair sweep dominates CPU at every scale point by construction (it IS
    // the combinatorial work the drill exists to time). The Telemetry
    // scope drains the listener bus before it returns, so the sweep stage
    // (the longest, last to complete) is never still in flight when read.
    def timedSweep(tag: String, name: String, rows: Long)(body: => Unit): Unit =
      guarded(tag, name) {
        System.gc()
        val (t, rec) = Telemetry.scoped(spark) {
          val t0 = System.nanoTime()
          body
          (System.nanoTime() - t0) / 1e9
        }
        // record the sweep stage's WALL ms so the artifact keeps the old
        // column meaning
        val sweep = rec.stages.sortBy(-_.cpuNs).headOption
          .map(st => (st.wallMs, st.tasks)).getOrElse((-1L, -1))
        sweepTasks((name, tag)) = sweep
        record(results, name, tag, rows, t)
        System.err.println(f"[scale] $tag $name ${t}%.2fs sweep_stage=${sweep._1}ms tasks=${sweep._2}")
      }
    guarded("pairs", "inputs") {
      val emb1 = sources.Tables.embeddings(spark, base)
      val embN = sources.Tables.embeddings(spark, work)
      val doc1 = sources.Tables.documents(spark, base)
      // pairsFactor replicas per original doc out of the factor-inflated
      // table: doc_id was remapped id·factor + k, so `% factor` recovers k
      val docN = sources.Tables.documents(spark, work)
        .where(col("doc_id") % factor < pairsFactor)
      val re1 = emb1.count(); val reN = embN.count()
      val rd1 = doc1.count(); val rdN = docN.count()
      for ((tag, emb, rows) <- Seq(("1x", emb1, re1), (s"${factor}x", embN, reN)))
        timedSweep(tag, "_pairs_cosine_blocked", rows)(
          operators.Similarity.cosinePairsBlocked(emb, "vec_id", "embedding",
            threshold = 0.45, blocks = sweepBlocks).count())
      for ((tag, doc, rows) <- Seq(("1x", doc1, rd1), (s"${pairsFactor}x", docN, rdN))) {
        timedSweep(tag, "_pairs_ngram_jaccard", rows)(
          operators.Dedup.ngramJaccardBlocked(doc, "doc_id", "text",
            n = 2, threshold = 0.5, blocks = sweepBlocks).count())
        timedSweep(tag, "_pairs_ngram_containment", rows)(
          operators.Dedup.ngramContainment(doc, "doc_id", "text",
            n = 2, threshold = 0.8, blocks = sweepBlocks).count())
        // the ROUTED Jaccard entry (r13 ask #4) over the Zipfian derived
        // corpus (the q_jaccard_ppjoin fixture): the df-histogram gate
        // should flip to PPJoin here, and the routed exponent should sit
        // UNDER the blocked sweep's O(n²/b) slope. NOT a sweepTasks entry:
        // tasks_pass asserts the pinned-repartition width of the block
        // sweeps, which doesn't apply to the PPJoin plan (AQE legitimately
        // coalesces its bytes-proportional candidate-join stages).
        guarded(tag, "_pairs_ngram_routed") {
          System.gc()
          val zipf = doc.where(col("text").isNotNull)
            .select(col("doc_id"),
              expr(queries.DedupQueries.zipfFixtureSql("DIV", "STRING")).as("text"))
          val (t, rec) = Telemetry.scoped(spark) {
            val t0 = System.nanoTime()
            operators.Dedup.ngramJaccardAuto(zipf, "doc_id", "text",
              n = 2, threshold = 0.5, blocks = sweepBlocks).count()
            (System.nanoTime() - t0) / 1e9
          }
          record(results, "_pairs_ngram_routed", tag, rows, t)
          System.err.println(f"[scale] $tag _pairs_ngram_routed ${t}%.2fs " +
            s"route=${rec.noted[String](operators.Dedup.JaccardRoute).mkString(",")}")
        }
      }
    }

    // ---- emit
    val qJson = results.map { case (name, (r1, t1, rN, tN)) =>
      val exp =
        if (r1 > 0 && rN > r1 && t1 > 0 && tN > 0)
          math.log(tN / t1) / math.log(rN.toDouble / r1)
        else Double.NaN
      val expS = if (exp.isNaN) "null" else s3(exp)
      s""""$name":{"rows_1x":$r1,"secs_1x":${s3(t1)},"rows_${factor}x":$rN,""" +
        s""""secs_${factor}x":${s3(tN)},"t_ratio":${s3(tN / t1)},"exponent":$expS}"""
    }.mkString("{", ",", "}")
    val failedJson = failed.toSeq.map("\"" + _ + "\"").mkString("[", ",", "]")
    // auto-flag (standing rule): any entry whose fitted exponent exceeds
    // 0.9 — super-linear or near-linear growth that the sublinear claims
    // in STATUS.md cannot cover — is named in the artifact
    val flagged = results.collect { case (name, (r1, t1, rN, tN))
      if r1 > 0 && rN > r1 && t1 > 0 && tN > 0 &&
        math.log(tN / t1) / math.log(rN.toDouble / r1) > 0.9 => name }.toSeq
    val flaggedJson = flagged.map("\"" + _ + "\"").mkString("[", ",", "]")
    val moversJson = movers.map("\"" + _ + "\"").mkString("[", ",", "]")
    // per-sweep slowest-stage task counts + the serialization verdict:
    // tasks must reach the pinned repartition width at the scaled point
    val sweepJson = sweepTasks.groupBy(_._1._1).toSeq.sortBy(_._1).map {
      case (name, entries) =>
        val cols = entries.toSeq.map { case ((_, tag), (ms, tasks)) =>
          s""""tasks_$tag":$tasks,"slowest_stage_ms_$tag":$ms"""
        }.mkString(",")
        val scaledTasks = entries.collect {
          case ((_, tag), (_, tasks)) if tag != "1x" => tasks }
        val pass = scaledTasks.nonEmpty && scaledTasks.forall(_ >= nShuffle)
        s""""$name":{$cols,"tasks_pass":$pass}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"factor":$factor,"base":"$base","inflated":"$work","runs":$runs,""" +
        s""""failed":$failedJson,"flagged":$flaggedJson,"movers":$moversJson,""" +
        s""""pairs_factor":$pairsFactor,"pair_sweeps":$sweepJson,"queries":$qJson,""" +
        """"notes":"exponent = ln(tN/t1)/ln(rowsN/rows1); ~1 linear, <1 """ +
        """sublinear (fixed job floor amortizing), >1 super-linear. """ +
        """Dir queries scale the input TABLE (deterministic row """ +
        """multiplication, keys remapped id*factor+k, event ts stepped +k """ +
        """us); graph loops scale the EDGE corpus (factor disjoint copies """ +
        """of the kNN graph) so the loop slope is isolated from the """ +
        """O(n^2) kNN build measured separately as _dist_knn_graph. """ +
        """_pairs_* entries drill the blocked all-pairs sweeps at a FIXED """ +
        """16-block grid (expected exponent ~2 = the O(n^2/b) model; """ +
        """the n-gram pair is drilled at pairs_factor, so its rows_Nx """ +
        """column holds pairs_factor-times rows); tasks_pass asserts the """ +
        """scaled sweep stage kept >= shuffle.partitions tasks (1 task = """ +
        """the r11 AQE re-serialization defect)."}"""
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (line + "\n").getBytes("UTF-8"))
    println(line)
    spark.stop()
  }

  private def record(
      m: scala.collection.mutable.LinkedHashMap[String, (Long, Double, Long, Double)],
      name: String, tag: String, rows: Long, t: Double): Unit = {
    val cur = m.getOrElse(name, (0L, 0.0, 0L, 0.0))
    m(name) =
      if (tag == "1x") (rows, t, cur._3, cur._4) else (cur._1, cur._2, rows, t)
  }

  /** Writes the inflated twin of `base` into `work` (idempotent: a marker
    * file carrying base+factor skips the rebuild). Key-remapped tables:
    * events (event_id, ts), documents (doc_id), lineitem (l_orderkey),
    * orders (o_orderkey — kept consistent with lineitem), embeddings
    * (vec_id). Every other
    * table is copied through unchanged (dimension tables stay 1×, like
    * real dims under fact growth). */
  private def inflate(spark: SparkSession, base: String, work: String,
      factor: Int): Unit = {
    val marker = java.nio.file.Paths.get(work, s"_GRAFT_SCALE_DONE")
    val stamp = s"$base|$factor|v2" // v2: embeddings vec_id remapped
    if (java.nio.file.Files.exists(marker) &&
        new String(java.nio.file.Files.readAllBytes(marker), "UTF-8") == stamp)
      return
    System.err.println(s"[scale] inflating $base x$factor -> $work")
    val k = explode(sequence(lit(0), lit(factor - 1)))
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$work/$name.parquet")
    for (t <- sources.Tables.all) {
      val df = spark.read.parquet(s"$base/$t.parquet")
      t match {
        case "events" =>
          val stepped = df.withColumn("__k", k)
            .withColumn("event_id", col("event_id") * factor + col("__k"))
          // ts arrives as LONG nanos (TIMESTAMP(NANOS) under nanosAsLong)
          // or as a real timestamp (MICROS) — step +k MICROseconds either
          // way so replicas never collapse onto one ts_us key
          val ts = if (df.schema("ts").dataType == LongType)
            col("ts") + col("__k").cast("long") * 1000L
          else expr("timestampadd(MICROSECOND, __k, ts)")
          write(stepped.withColumn("ts", ts).drop("__k"), t)
        case "documents" =>
          write(df.withColumn("__k", k)
            .withColumn("doc_id", col("doc_id") * factor + col("__k"))
            .drop("__k"), t)
        case "embeddings" =>
          // remapped ids keep the block sweeps' id-based same-block halving
          // honest on the inflated corpus (duplicate ids would silently
          // drop replica pairs before the dot product)
          write(df.withColumn("__k", k)
            .withColumn("vec_id", col("vec_id") * factor + col("__k"))
            .drop("__k"), t)
        case "lineitem" =>
          write(df.withColumn("__k", k)
            .withColumn("l_orderkey", col("l_orderkey") * factor + col("__k"))
            .drop("__k"), t)
        case "orders" =>
          write(df.withColumn("__k", k)
            .withColumn("o_orderkey", col("o_orderkey") * factor + col("__k"))
            .drop("__k"), t)
        case _ => write(df, t)
      }
    }
    java.nio.file.Files.write(marker, stamp.getBytes("UTF-8"))
  }
}
