package graft.operators

import org.apache.spark.sql.DataFrame

/** Stats-first routing for the driver/distributed size gates — ONE
  * convention (r12 verdict #3):
  *
  *  - a gate that only picks a PHYSICAL PLAN may read Catalyst statistics
  *    (`optimizedPlan.stats`, no driver job);
  *  - a gate that admits a frame to DRIVER MEMORY (a collect, a CSR build,
  *    a union-find table) must confirm with an EXACT count — statistics
  *    are estimates, and an underestimate would OOM the driver;
  *  - loop CONVERGENCE counts are semantic and always stay exact.
  *
  * The composition of the first two is [[definitelyExceeds]]: statistics
  * may send a frame to the distributed path EARLY (the only direction that
  * is conservative for driver memory — both paths are spec-pinned to
  * identical output, so routing is a physical choice only); anything under
  * the bytes bound still pays the exact count it was already paying. The
  * payoff is at scale: the expensive case IS the huge frame, which now
  * routes to the distributed plan without first running a corpus-sized
  * count job just to learn it is huge.
  */
object SizeGates {

  /** True when `df` is, per Catalyst statistics alone, definitely larger
    * than a `maxRows`-row driver bound: `sizeInBytes >= maxRows ·
    * maxRowBytes`. `maxRowBytes` is a deliberate OVER-estimate of row
    * width — overshooting it only routes fat-but-few-row frames to the
    * distributed path, which is the right call anyway (the driver bound
    * protects BYTES, rows are its proxy). Falls back to `false` (the exact
    * count) when the estimate cannot be trusted:
    *  - implausible statistics (absent stats surface as
    *    defaultSizeInBytes ≈ 2⁶³);
    *  - any Join upstream — size-only estimation MULTIPLIES the sides for
    *    non-equi joins (the blocked sweeps' `b1 <= b2` pair join made a
    *    toy-scale pair list read as gigabytes and silently flipped three
    *    cluster queries onto the distributed component loop), and
    *    equi-join fanout estimates are unreliable in both directions.
    * Reading `optimizedPlan.stats` launches no job.
    */
  def definitelyExceeds(df: DataFrame, maxRows: Long,
      maxRowBytes: Long = 1024L): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    // a persisted-but-unmaterialized gate frame optimizes to an
    // InMemoryRelation LEAF whose stats still carry the child estimate —
    // the join must be hunted inside the cached physical plan too
    def physJoin(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p.exists {
      case _: org.apache.spark.sql.execution.joins.BaseJoinExec => true
      // AQE wraps the real plan as a constructor arg, not a child — unwrap
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        physJoin(a.inputPlan)
      // a cache built over another cache: the join may sit arbitrarily
      // deep behind nested InMemoryTableScans (q_cluster_best's memoized
      // pair frame) — recurse through each cached build plan
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        physJoin(s.relation.cachedPlan)
      case _ => false
    }
    val joined = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case imr: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        physJoin(imr.cachedPlan)
      case _ => false
    }
    val bytes = plan.stats.sizeInBytes
    !joined && bytes > 0 && bytes < BigInt(1L << 53) &&
      bytes >= BigInt(maxRows) * maxRowBytes
  }

  /** Scale-adaptive partition count for an iterative loop's PINNED frames
    * (the pageRank `ed` / hits `eBySrc` convention: a cached frame
    * `repartition(col)`-ed once so every round's join reads it bare).
    *
    * The old pin inherited `spark.sql.shuffle.partitions` — a constant
    * tuned for neither the data nor the cluster. Guide §2.2/§2.4: fewer,
    * larger partitions; derive the count from input size. An exact row
    * count is ALREADY in hand at every call site (the driver-gate count),
    * so the rule is rows-based and deterministic: one partition per
    * `rowsPerPartition` rows, capped at 4096 (the autoBlocksSized cap).
    * At 2M rows/partition a (long, long) edge row lands ~64 MB a
    * partition — the guide's shuffle-partition sweet spot. NO core-count
    * floor, deliberately: a 15k-edge loop state on a 1000-core cluster
    * should be 1 partition, not 1000 — the r14 probe measured the
    * 32-wide pin burning ~190 ms of executor time PER TASK on ~3 kB task
    * slices (scheduler + shuffle-registry overhead and memory-manager
    * contention), 40× the same stage's cost at width 4; per-round
    * parallelism at real scale comes from the rows term.
    */
  def loopPartitions(rows: Long, rowsPerPartition: Long = 2000000L,
      rowBytesHint: Long = 32L): Int = {
    require(rowsPerPartition > 0, "rowsPerPartition must be positive")
    // the rows rule assumes a declared row width (default: the ~32 B
    // narrow edge/centroid rows every current call site pins) — a wide-row
    // caller must pass its real width or a smaller rowsPerPartition, or a
    // text-bearing frame would silently adopt GBs-per-partition widths and
    // spill (r14 verdict ask #7); 512 MB is the guide §2.2 upper band
    require(rowsPerPartition <= (512L << 20) / math.max(rowBytesHint, 1L),
      s"loopPartitions: $rowsPerPartition rows/partition at $rowBytesHint " +
        "B/row exceeds 512 MB a partition - pass the real row width")
    if (rows <= 0) 1
    else math.min(4096L, (rows - 1) / rowsPerPartition + 1).toInt
  }

  /** Spread a SMALL input across the cluster before a compute-heavy
    * map kernel (per-row cost ≫ per-byte cost: an iforest CASE cascade, a
    * per-token rolling-hash chunker, a Levenshtein verify). Bytes-based
    * planning under-parallelizes exactly these stages: a 2 MB cached scan
    * arrives as ONE partition and the whole kernel runs on one core (the
    * r14 probe: q_iforest spent 1.9 s of its 2.7 s wall in a single
    * 1-task stage over 2.4 MB). The rule is stats-only (no job): when the
    * frame is, per Catalyst statistics, under `defaultParallelism ×
    * 128 MB` (the maxPartitionBytes default — i.e. a scan of it could
    * not fill the cluster anyway), round-robin it across
    * `defaultParallelism`; bigger frames pass through untouched, so at
    * 100 TB this is a no-op and the scan's own width rules. The exchange
    * moves only the small frame's bytes — cheap against the kernel time
    * it parallelizes. Row-identical either way (keyless round-robin).
    */
  def spreadSmall(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    // a frame whose plan already contains a shuffle-introducing operator
    // (its width is the configured shuffle parallelism, not a narrow scan)
    // gains nothing from another exchange — skip it: a frame just under the
    // bytes bound on a 1000-core cluster would pay a full round-robin that
    // buys no parallelism. A width-reducing `coalesce()` (a Repartition
    // without shuffle) is not such an operator: a frame narrowed to one
    // partition is exactly the case the spread exists for. A cached frame
    // is a LEAF here, deliberately: its stored width may have been
    // AQE-coalesced to ~1, the same case.
    val shuffled = plan.exists {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Aggregate => true
      case _: org.apache.spark.sql.catalyst.plans.logical.Window => true
      case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r.shuffle
      case _: org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation => true
      case _ => false
    }
    val bytes = plan.stats.sizeInBytes
    if (!shuffled && bytes > 0 && bytes < BigInt(cores) * (128L << 20))
      df.repartition(cores)
    else df
  }

  /** The row count the [[definitelyExceeds]] statistics imply:
    * `sizeInBytes / maxRowBytes` — the SAME row-width over-estimate the
    * exceed test used, so a caller that sizes downstream work (e.g. a
    * block count) off this value is consistent with the admission decision
    * it just made. Only meaningful right after `definitelyExceeds`
    * returned true (the stats are then known join-untainted and
    * plausible); returns 0 otherwise-shaped stats defensively. */
  def statsRowEstimate(df: DataFrame, maxRowBytes: Long = 1024L): Long = {
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (bytes <= 0 || bytes >= BigInt(1L << 53)) 0L
    else (bytes / maxRowBytes).toLong
  }
}
