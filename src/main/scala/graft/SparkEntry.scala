package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.queries._
import graft.queries.Shared._
import graft.sources.Tables

/** Driver contract (SURVEY.md §7).
  *
  * Every implemented operator from SURVEY.md §2 (and the beyond-reference
  * LLM-pipeline pack) is exposed as a named query over the driver's
  * testdata, with a DuckDB-equivalent oracle. A query's plan and its oracle
  * sit together in one [[graft.queries.Q]] record, in one file per family
  * under `graft.queries`; the maps here are derived from those records.
  * Column names and row ordering match the oracle exactly (the driver
  * hash-compares).
  *
  * Time convention: `events.ts` is parquet TIMESTAMP(NANOS); both engines
  * truncate to epoch **micros** (`ts_us`) — see [[graft.sources.Tables]].
  */
object SparkEntry {

  /** Every registered query, family by family. */
  lazy val registry: Seq[Q] = Q.registry(Seq(
    RelationalQueries.all, TimeSeriesQueries.all, DedupQueries.all,
    TextAnalysisQueries.all, PvFunctionsQueries.all, ArchiveQueries.all,
    SamplingQueries.all, RetrievalQueries.all, ExportQueries.all,
    PairsQueries.all, SimilarityQueries.all, StreamingQueries.all,
    InstrumentsQueries.all, StoreQueries.all, MultimodalQueries.all,
    SourcesQueries.all, EventAnalyticsQueries.all, DataQualityQueries.all,
    SkewQueries.all, GraphQueries.all, PatternsQueries.all, WebQueries.all,
    SketchesQueries.all, AnomalyForestQueries.all, LinkageQueries.all).flatten)

  /** Each registered query's plan, by name.
    *
    * Every result passes through [[graft.operators.FixedPoint.canonEmit]]
    * — the signed-zero emission contract (see its scaladoc): no query may
    * emit a -0.0, because the driver's hash compares raw IEEE values and
    * engines disagree on the sign of a zero produced by rounding a
    * negative quantity. The wrapper is a pure per-row Project; ordering and
    * plans are untouched. The oracle side mirrors `+ 0.0` wherever DuckDB
    * can produce a negative zero. The surface sweep in QuerySurfaceSpec
    * asserts the engine half across the whole surface.
    */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { q =>
      q.name -> ((s: SparkSession, dir: String) => operators.FixedPoint.canonEmit(q.plan(s, dir)))
    }.toMap

  /** The oracles whose SQL does not read the data, by query name. */
  lazy val oracleSql: Map[String, String] =
    registry.collect { case Q(name, _, _, o: Q.StaticSql) => name -> o.sql }.toMap

  /** The oracles whose SQL embeds values trained on `dir` (centroids,
    * codebooks, merges) with the engine's own deterministic code, by query
    * name. */
  def dataDependentOracles(spark: SparkSession, dir: String): Map[String, String] =
    registry.collect {
      case q if !q.oracle.isInstanceOf[Q.StaticSql] => q.name -> q.oracle(spark, dir)
    }.toMap

  /** The reference checkout's own files that three queries read (the
    * production cache dump, a PV-list file and a status-page template;
    * FIXTURES.md §1), by query name. The repo does not hold them; the
    * whole-surface specs leave out a query whose file is not readable.
    */
  val referenceInputs: Map[String, String] = SourcesQueries.referenceInputs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q_get_data")(spark, "/root/testdata/sf0.001")

  /** Drop memoized cross-query frames (the surface sweep calls this before
    * each run so a cached result can't mask an order-dependent
    * computation). */
  def clearSharedFrames(): Unit = {
    dropSharedFrame("_shared_jaccard_pairs")
    dropSharedFrame("_shared_knn_graph")
    dropSharedFrame("_shared_mutual_knn")
    dropSharedFrame("_shared_itemsets")
  }

  /** Bench accounting hooks. A warm-up pass that materialized the shared
    * frames untimed would leave their consumer queries timing cache reads.
    * Bench clears the memos after warm-up and times each builder ONCE as a
    * '_'-prefixed pseudo-entry — leading '_' sorts before every 'q_*', so
    * the frames are rebuilt inside the timed window before their first
    * consumer runs. */
  def sharedFrameBuilders: Map[String, (SparkSession, String) => DataFrame] = Map(
    "_shared_jaccard_pairs" -> ((s, d) => exactJaccardPairs(s, d)),
    "_shared_knn_graph" -> ((s, d) => knnGraph5(s, d)),
    "_shared_mutual_knn" -> ((s, d) => mutualKnnEdges5(s, d)),
    "_shared_itemsets" -> ((s, d) => brandItemsets(s, d)))

  /** Last alphabetical consumer of each shared frame → Bench drops the
    * frame the moment nothing later in a sorted pass will read it, so a
    * persisted frame never competes for executor memory with the ~100
    * queries that follow (measured: q_jaccard took 6.6 s inside the suite
    * and 2.1 s alone). */
  def sharedFrameDropAfter: Map[String, String] = Map(
    "q_source_leakage" -> "_shared_jaccard_pairs",
    "q_pagerank" -> "_shared_knn_graph", // consumers: hits, hubness, label_prop, pagerank (+_shared_mutual_knn)
    "q_triangles" -> "_shared_mutual_knn",
    "q_itemsets" -> "_shared_itemsets") // consumers: assoc_rules, itemsets

  /** Forced-DISTRIBUTED twins of the size-gated operators: the sf0.1 bench
    * runs only the driver-loop paths below the gates, so a wall-time
    * regression in the plans that actually run at 100× would be invisible.
    * Bench times each ONCE per full pass as a `_dist_*` entry —
    * correctness is already spec-pinned bit-identical by the gate specs
    * (and q_hubness_blocked / q_jaccard_dist carry oracle rows), these keep
    * the 100×-scale plans performance-visible. Inputs are the same memoized
    * frames the gated queries read (rebuilt untimed by Bench if dropped),
    * so each entry times the distributed OPERATOR, not an input rebuild. */
  def distTwinQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "_dist_pagerank" -> ((s, dir) =>
      operators.Graph.pageRank(knnGraph5(s, dir), "query_id", "neighbor_id",
        iters = 10, maxDriverEdges = 0L)),
    "_dist_hits" -> ((s, dir) =>
      operators.Graph.hits(knnGraph5(s, dir), "query_id", "neighbor_id",
        iters = 5, maxDriverEdges = 0L)),
    "_dist_label_prop" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val g = knnGraph5(s, dir)
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"))
      val sym = g.unionByName(g.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      val seeds = emb.where(col("vec_id") % 10 === 0).select(col("vec_id"), col("label"))
      operators.Graph.labelPropagation(sym, "src", "dst", seeds, "vec_id", "label",
        iters = 5, maxDriverEdges = 0L)
    }),
    "_dist_harmonic" -> ((s, dir) => {
      val m = mutualKnnEdges5(s, dir)
      val und = m.select(col("d1").as("src"), col("d2").as("dst"))
        .unionByName(m.select(col("d2").as("src"), col("d1").as("dst")))
      operators.Graph.harmonicCentrality(und, "src", "dst", seedMod = 5L,
        maxHops = 4, maxDriverEdges = 0L)
    }),
    "_dist_kcore" -> ((s, dir) =>
      operators.Graph.kCore(mutualKnnEdges5(s, dir), "d1", "d2", k = 3,
        maxDriverEdges = 0L)),
    "_dist_components" -> ((s, dir) =>
      operators.Dedup.connectedComponents(exactJaccardPairs(s, dir), "d1", "d2",
        maxDriverPairs = 0L)),
    "_dist_kmeans" -> ((s, dir) =>
      operators.Similarity.kmeans(Tables.embeddings(s, dir), "vec_id", "embedding",
        k = 8, iters = 5, maxDriverRows = 0L)),
    "_dist_bpe_learn" -> ((s, dir) => {
      import s.implicits._
      operators.TextAnalysis.bpeLearn(Tables.documents(s, dir), "text",
        nMerges = 20, maxDriverVocab = 0L).toDF("a", "b")
    }),
    // knnGraph's beyond-broadcast 2-D block sweep at the 4-block pin the
    // oracled q_hubness_blocked uses — timed standalone here
    "_dist_knn_graph" -> ((s, dir) =>
      operators.Similarity.knnGraphBlocked(Tables.embeddings(s, dir),
        "vec_id", "embedding", 5, 4)),
    "_dist_textrank" -> ((s, dir) =>
      operators.TextAnalysis.textRank(Tables.documents(s, dir), "doc_id",
        "text", chunkTokens = 64, overlap = 16, iters = 5, topK = 3,
        maxDriverEdges = 0L)))

  /** Release one memoized frame by pseudo-entry name. */
  def dropSharedFrame(name: String): Unit = name match {
    case "_shared_jaccard_pairs" =>
      exactPairCache.forEach((_, df) => df.unpersist(blocking = false))
      exactPairCache.clear()
    case "_shared_knn_graph" =>
      knnGraphCache.clear() // localCheckpoint blocks free once unreferenced
    case "_shared_mutual_knn" =>
      mutualEdgesCache.clear()
    case "_shared_itemsets" =>
      itemsetsCache.clear() // localCheckpoint blocks free once unreferenced
    case other => throw new IllegalArgumentException(s"unknown shared frame: $other")
  }
}
