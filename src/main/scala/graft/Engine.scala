package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's standard tuning.
  *
  * Local mode is a stand-in for a multi-executor cluster: every knob here is
  * chosen to behave identically on `local[32]` and on a 1000-executor
  * deployment (AQE on, modest shuffle parallelism locally, broadcast joins for
  * dimension tables).
  */
object Engine {

  /** 3-decimal HALF_UP formatter for artifact JSON — the one copy
    * (Bench/Scale both emit with it, so the artifacts can never drift on
    * rounding). Non-finite doubles render as JSON null: BigDecimal throws
    * on NaN/Infinity, and a crashed artifact writer is worse than a null
    * cell. */
  private[graft] def fmt3(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString

  /** A JSON string literal — the one escaper for artifact JSON: backslash,
    * quote and every control character below 0x20 (a tab or CR left raw
    * makes a strict reader such as Python's `json.load` fail). */
  private[graft] def jsonString(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Confs every session needs, applicable to an existing session too (all are
    * runtime SQL confs). `nanosAsLong` lets Spark read the parquet
    * TIMESTAMP(NANOS) columns the reference-style event feeds carry; we expose
    * them as epoch-nanos longs and derive epoch-micros (see [[Tables]]).
    */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    // NOTE (r14, measured and REJECTED): flipping
    // spark.sql.optimizer.canChangeCachedPlanOutputPartitioning=true (AQE
    // coalescing for cached plans) was probed as the engine-wide cure for
    // over-wide tiny cached frames — it regressed every probed entry
    // (itemsets 5.4→7.6 s, snm_dedup 1.25→2.33 s): blanket coalescing also
    // serializes the cached frames whose DOWNSTREAM work is compute-heavy.
    // Width is therefore sized per site where a row count is in hand
    // (SizeGates.loopPartitions), not globally.
    // engine extensions, idempotently (a cluster deployment would instead
    // set spark.sql.extensions=graft.plans.GraftExtensions)
    Seq(graft.plans.BucketPruneRule, graft.plans.DivRangePushdown).foreach { r =>
      if (!spark.experimental.extraOptimizations.contains(r))
        spark.experimental.extraOptimizations = spark.experimental.extraOptimizations :+ r
    }
    registerFunctions(spark)
    spark
  }

  /** Just the native-function registrations — for library code that needs
    * `graft_hformat`/`graft_hashname` to resolve but must NOT rewrite the
    * caller's session config the way [[tune]] does (timezone, AQE,
    * nanosAsLong are session-wide side effects an embedding application
    * owns).
    */
  def registerFunctions(spark: SparkSession): SparkSession = {
    graft.plans.GraftExtensions.functions.foreach { case (ident, info, builder) =>
      if (!spark.sessionState.functionRegistry.functionExists(ident))
        spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    spark
  }

  /** Shuffle-writer selection (r14, measured): with ≤200 reduce partitions
    * and no map-side combine Spark picks the bypass-merge writer, which
    * opens ONE FILE PER REDUCER PER MAP TASK — at 32×32 that is 1024 file
    * opens per tiny exchange, and the r14 A/B probe read it as a
    * consistent 0.1–0.5 s/query tax on exchange-dense entries (pagerank
    * 2.82→2.29 s, knn_graph 0.93→0.63 s) with no loss on the heavy
    * shuffles probed. 0 forces the sort-based writer (a single spill file
    * per map task) — which is also the only path that exists above 200
    * reduce partitions, i.e. the at-scale default.
    */
  private[graft] val bypassMergeThreshold: String = "0"

  def session(master: String = "local[32]", appName: String = "graft"): SparkSession =
    build(SparkSession.builder().master(master).appName(appName)
      .config("spark.sql.shuffle.partitions", "32"))

  /** The session the harness mains (Bench, Scale, ProbeProfile, Verify) run
    * on: `local[cpus]` with one shuffle partition per core. The
    * AppStatusListener tracks jobs, stages and tasks even with the UI off,
    * and keeps 1000 jobs and 1000 stages by default: a full bench launches
    * thousands of jobs, so with the defaults every further job pays
    * listener-side eviction churn. Tight caps keep the listener
    * O(recent) and change nothing about execution. */
  def harness(cpus: Int): SparkSession =
    build(SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "5000")
      .config("spark.sql.ui.retainedExecutions", "50"))

  private def build(b: SparkSession.Builder): SparkSession = {
    val s = b
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.shuffle.sort.bypassMergeThreshold", bypassMergeThreshold)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    tune(s)
  }
}
