package graft.plans

import graft.SparkSpec

/** Whole-surface plan lint: every registered query's physical plan is
  * linted; findings must match the reviewed allowlist EXACTLY. The
  * allowlisted shapes are each benign by construction —
  * `nested-loop-join` entries are 1-row/bounded broadcast frames
  * (totals, min/max bounds, percentile fences, trained constants) cross-
  * joined onto data; `global-window` entries run over control-plane-sized
  * frames (chunk seeds/offsets, k-series matrices, steps frames) or
  * documented keys-sized report frames (gini);
  * `driver-materialized-input` entries are the iterative graph loops whose
  * localCheckpoint() intentionally truncates lineage into an RDD scan.
  * A NEW finding (or a vanished one) fails this spec: plan-shape changes
  * must be reviewed, not discovered in production at 1000× the data. A
  * query that throws fails it by name, and the sweep goes on. A query
  * whose reference fixture is not readable is not run (`info` names it),
  * and only its allowlist entries are left out of the vanished check.
  */
class PlanLintSurfaceSpec extends SparkSpec {

  private val allowed: Map[(String, String), Int] = Map(
    ("q_ab_test", "nested-loop-join") -> 1,   // variant-pair frame: ≤ variants² rows
    ("q_simpson", "nested-loop-join") -> 1,   // 1-row pooled-slope broadcast
    ("q_int8_recall", "nested-loop-join") -> 2, // two broadcast-query brute sweeps (q_knn_brute shape)
    // q_neg_sample / q_assortativity: the kNN edge sweep sits behind ONE
    // persisted canonical frame (audited once — cacheBuilder dedupe);
    // BNLJs carry 1-row counts. r10: the nodes-frame rank moved to
    // rowNumberRanged — its global-window entry is GONE (allowlist shrank)
    ("q_neg_sample", "driver-materialized-input") -> 1,
    ("q_neg_sample", "nested-loop-join") -> 1,
    ("q_assortativity", "driver-materialized-input") -> 1,
    // r8 shared _shared_knn_graph memo: mutual-edge consumers dropped from
    // two RDD scans (graph + mutual checkpoints) to one; hubness now reads
    // the shared graph checkpoint directly
    ("q_hubness", "driver-materialized-input") -> 1,
    ("q_hll_overlap", "nested-loop-join") -> 2, // register→pair attach + pair build: sketch-sized
    ("q_bm25", "nested-loop-join") -> 1,
    ("q_boilerplate", "nested-loop-join") -> 1,
    ("q_containment", "nested-loop-join") -> 1,
    ("q_cooccur_lift", "nested-loop-join") -> 1,
    ("q_conformal", "nested-loop-join") -> 1,  // 1-row tau/corrected-level broadcast
    ("q_curriculum", "nested-loop-join") -> 1, // 1-row percentile-thresholds broadcast
    ("q_dataset_card", "nested-loop-join") -> 2,
    ("q_dq_checks", "nested-loop-join") -> 1,
    ("q_dtw", "nested-loop-join") -> 1,
    ("q_embed_dedup_dist", "nested-loop-join") -> 1,
    ("q_funnel", "global-window") -> 1,
    ("q_hard_negatives", "nested-loop-join") -> 1,
    ("q_hdr_quantiles", "nested-loop-join") -> 2,
    ("q_hybrid_rrf", "global-window") -> 1,
    ("q_hybrid_rrf", "nested-loop-join") -> 2,
    ("q_jaccard_dist", "nested-loop-join") -> 1,
    ("q_join_stats", "nested-loop-join") -> 1,
    ("q_knn_brute", "nested-loop-join") -> 1,
    ("q_knn_recall", "nested-loop-join") -> 1,
    // q_kcore: the size-gated driver peel returns a localRelation — no
    // checkpoint in-plan; the distributed path (beyond maxDriverEdges)
    // keeps the CC-contract localCheckpoints but isn't registered
    // shared blocked-Jaccard frame: the block-pair seed BNLJ (the
    // q_jaccard_dist shape) is audited inside every plan that embeds the
    // cached frame
    ("q_source_leakage", "nested-loop-join") -> 1,
    // q_pagerank / q_label_prop: the size-gated driver integer loops
    // return LocalRelations — the distributed rounds' localCheckpoint RDD
    // scans left the registered plans with the r8 gates (allowlist SHRANK)
    ("q_link_predict", "driver-materialized-input") -> 1,
    ("q_lm_xent", "nested-loop-join") -> 1,
    // q_export_multi rides the q_locf_align plan (same reviewed bounded
    // plot-window global ordering) into the aligned-line projection
    ("q_export_multi", "global-window") -> 1,
    ("q_locf_align", "global-window") -> 1,
    ("q_lsh_recall", "nested-loop-join") -> 1,
    ("q_mixture_weights", "nested-loop-join") -> 1,
    ("q_mmr_rerank", "nested-loop-join") -> 1,
    ("q_pv_corr", "global-window") -> 1,
    ("q_quality_buckets", "nested-loop-join") -> 3,
    ("q_rank_agreement", "nested-loop-join") -> 3,
    ("q_rank_metrics", "nested-loop-join") -> 1,
    // q_rfm r10: the three users-sized rank windows moved to
    // rowNumberRanged (allowlist shrank); only the 1-row n broadcast stays
    ("q_rfm", "nested-loop-join") -> 1,
    ("q_rocchio", "nested-loop-join") -> 2,
    ("q_run_registry", "nested-loop-join") -> 1,
    ("q_search_diverse", "global-window") -> 1,
    ("q_search_diverse", "nested-loop-join") -> 1,
    ("q_skew_gini", "global-window") -> 1,
    ("q_snm_dedup", "global-window") -> 2,
    ("q_spearman", "global-window") -> 4,
    // template render: the section carry-forward is one last(ignoreNulls)
    // window over line order — a human-written control-plane file
    // (hundreds of lines), never a corpus (PvListFile.render scaladoc)
    ("q_template_parse", "global-window") -> 1,
    ("q_tfidf_pairs_inv", "nested-loop-join") -> 4,
    ("q_trending", "nested-loop-join") -> 1,
    ("q_triangles", "driver-materialized-input") -> 1,
    // single melted sweep: every truncation width scores inside one
    // broadcast-query cross product, planned twice (truth + approx branch;
    // was 6 — one per width per pipeline)
    ("q_trunc_recall", "nested-loop-join") -> 2,
    // q_unimax_budget: packed-row array math — no windows, no totals join
    ("q_vocab_shift", "nested-loop-join") -> 1,
    ("q_weighted_sample", "nested-loop-join") -> 1,
    ("q_zorder", "nested-loop-join") -> 1,
    // r8 additions (reviewed):
    // q_keywords: 1-row corpus-size (N) broadcast into the tf-idf weights
    ("q_keywords", "nested-loop-join") -> 1,
    // q_keyphrases: the k-row top-phrase localCheckpoint (the operator
    // persists the phrase frame for its three consumers and materializes
    // the k-row result so the persist can release)
    ("q_keyphrases", "driver-materialized-input") -> 1,
    // q_itemsets / q_assoc_rules: both read the _shared_itemsets memo —
    // an itemset-count-sized localCheckpoint (the knnGraph5 pattern);
    // rules scan it five times (L1 twice, both pair orientations, the
    // size-0 universe row) and broadcast the 1-row universe into lift
    ("q_itemsets", "driver-materialized-input") -> 1,
    ("q_assoc_rules", "driver-materialized-input") -> 5,
    ("q_assoc_rules", "nested-loop-join") -> 1,
    // q_kmeans: the corpus-sized final-assignment localCheckpoint — the
    // iterative-loop convention (centroids are literals in the assignment
    // expression, so the registered plan has no joins at all)
    ("q_kmeans", "driver-materialized-input") -> 1,
    // q_dbscan: the corpus-sized role/cluster localCheckpoint (the same
    // convention; the component loop's union-find gate sits inside it)
    ("q_dbscan", "driver-materialized-input") -> 1,
    // q_cpd: one splits-per-level localCheckpoint per binary-segmentation
    // level (depth 2) — each is ≤ 2^level rows per key, and the next
    // level's segment frame reads it
    ("q_cpd", "driver-materialized-input") -> 2,
    // r14 (reviewed): q_iforest's codegen-sizing fence — the 25-tree
    // scorer is chunked across a row-based createDataFrame(rdd, schema)
    // bridge so each codegen span stays under janino's 64 KB method limit
    // (AnomalyForest.anomalies scaladoc). The RDD scan the lint sees is a
    // LINEAGE boundary, not a driver materialization: data never leaves
    // the executors and nothing is cached. One fence = two chunks at the
    // registered 25-tree forest.
    ("q_iforest", "driver-materialized-input") -> 1,
    // r14 (reviewed): q_jaccard_auto routed to the block sweep on this
    // dense corpus — the BNLJ is the q_jaccard_dist block-pair seed
    // (b1 <= b2 over blocks-sized 1-row-per-block frames), same reviewed
    // shape as q_jaccard_dist/q_embed_dedup_dist
    ("q_jaccard_auto", "nested-loop-join") -> 1,
    // r9 (reviewed): q_ind_audit's fused single-agg rewrite assembles the
    // labels²-sized result on the driver (LocalRelation — allowlist
    // SHRANK); q_drift_panel's fused one-pass PSI+KS materializes the
    // keys-sized panel so the (key, bin) counts cache can release
    // (q_textrank's size-gated driver twin returns a LocalRelation, so
    // the registered plan lints clean; the distributed loop's eager
    // per-round cuts sit beyond the gate)
    ("q_drift_panel", "driver-materialized-input") -> 1)

  test("every registered query lints clean modulo the reviewed allowlist") {
    val dir = "/root/testdata/sf0.001"
    val got = scala.collection.mutable.Map[(String, String), Int]()
    val notRun = unreadableReferenceInputs.keySet
    val failures = runnableQueries().flatMap { case (name, fn) =>
      try {
        PlanLint.lint(fn(spark, dir)).foreach { f =>
          val k = (name, f.rule)
          got(k) = got.getOrElse(k, 0) + 1
        }
        None
      } catch {
        case e: Throwable =>
          Some(s"$name: ${e.getClass.getSimpleName} ${String.valueOf(e.getMessage).take(160)}")
      }
    }
    val unexpected = got.filter { case (k, n) => allowed.get(k) != Some(n) }
    val missing = allowed.filter { case (k @ (q, _), n) =>
      !notRun.contains(q) && got.get(k) != Some(n)
    }
    assert(unexpected.isEmpty && missing.isEmpty && failures.isEmpty,
      s"lint drift:\n  new/changed: ${unexpected.toSeq.sortBy(_._1).mkString(", ")}" +
        s"\n  vanished/changed: ${missing.toSeq.sortBy(_._1).mkString(", ")}" +
        s"\n  failed: ${failures.mkString(", ")}")
  }
}
