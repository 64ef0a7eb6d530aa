package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main — one JSON line with per-query seconds over
  * SPARK_GRAFT_SF_DIR (driver contract; BASELINE.md targets).
  *
  * Measurement hygiene (JIT warm-up and run ordering alone can swing a
  * per-query number 5×):
  *  - base tables are cached once up front, so queries measure operator
  *    cost, not repeated parquet decode of the same ~100 MB inputs;
  *  - queries run in a FIXED order (sorted by name);
  *  - one untimed warm-up pass executes every query first (fills the code
  *    cache, JITs the hot loops, settles AQE statistics);
  *  - each query is then timed `RUNS` times and the MEDIAN is reported, so
  *    one GC pause or compilation stall cannot move a per-query number.
  *
  * Shared-frame convention: the two
  * memoized cross-query frames are cleared after warm-up and rebuilt inside
  * the timed window as `_shared_jaccard_pairs` / `_shared_mutual_knn`
  * pseudo-entries — timed ONCE each (a median over re-runs would time the
  * memo), sorted ahead of every consumer, counted in `n_queries` and the
  * total. Consumer queries therefore honestly time cache READS; the build
  * cost is its own line. Each frame is dropped right after its last
  * alphabetical consumer so it never competes for memory with later
  * queries.
  *
  * INGEST RUNS FIRST, ON ITS OWN SparkContext (a clearCache() before
  * ingest was fragile against the memory debris of the query phase: p10
  * once collapsed from 35.4k to 4.9k rows/s on identical code). Running the
  * streaming measurement before any table is cached or query executed
  * removes the query→ingest neighbor effect by CONSTRUCTION — and
  * STOPPING that context before the query session starts kills the
  * reverse direction too: the 13 streaming runs leave an async
  * ContextCleaner backlog plus state-store maintenance threads that
  * otherwise drain INTO the timed query phase (a +0.5–2.5 s bulge across
  * the alphabetically-mid queries that decayed as the backlog emptied).
  * The full per-run series is emitted as
  * `ingest_runs` so any residual spread is in the artifact, not
  * reconstructed from stderr.
  *
  * Forced-distributed twins (`_dist_*`): after the query phase, each
  * size-gated operator's DISTRIBUTED path is timed ONCE over the same
  * memoized inputs (rebuilt untimed first — the builds are already timed
  * as `_shared_*` entries). They keep the 100×-scale plans visible in
  * BENCH round over round; excluded in restricted runs.
  *
  * `SPARK_GRAFT_BENCH_RUNS` overrides the run count (default 3);
  * `SPARK_GRAFT_BENCH_ONLY` (comma-separated names) restricts the query set
  * for local iteration; `SPARK_GRAFT_BENCH_INGEST=0` skips the streaming
  * throughput measurement (`_RUNS` sets its timed repeats, `_TMPDIR` its
  * scratch root). The reported total is the sum of per-query medians over
  * the timed queries and dist twins ONLY; `ingest_rows_per_sec` (p50, with
  * interior-rank p10/p90) rides along, plus `ingest_diag` (per-run
  * GC/provider//tmp/writeback columns) and a dedicated `sentinels` field —
  * q_latest_per_key re-timed once right after ingest teardown
  * (`_sentinel_post_ingest`) and once again right before the dist-twin
  * phase (`_sentinel_pre_dist`), so driver-box
  * contention is attributable per phase. Sentinels are kept OUT of
  * `total`/`n_queries`/`queries`: they re-time a query that already carries
  * its own median entry.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def newSession(): SparkSession = Engine.harness(cpus.toInt)

    // ---- ingest phase FIRST, on a THROWAWAY context: no cached tables,
    // no query debris in the measurement — and stopping the context takes
    // its cleaner backlog and state-store threads with it, so the query
    // phase starts quiet too (see scaladoc)
    // INGEST=0 skips; INGEST=<anything else> forces; unset → full runs only
    val runIngest = sys.env.get("SPARK_GRAFT_BENCH_INGEST") match {
      case Some("0") => false
      case Some(_) => true
      case None => only.isEmpty
    }
    val (ingestRuns: Seq[Double], ingestRunsRaw: Seq[Double], ingestRetries: Int,
        ingestDiag: Seq[String], ingestScale: Seq[String]) =
      if (!runIngest)
        (Seq.empty[Double], Seq.empty[Double], 0, Seq.empty[String], Seq.empty[String])
      else {
        val ingestSpark = newSession()
        try benchIngest(ingestSpark) finally {
          ingestSpark.stop()
          SparkSession.clearActiveSession()
          SparkSession.clearDefaultSession()
          System.gc()
        }
      }

    val spark = newSession()
    // ---- per-query executor CPU seconds (r13 verdict ask #2): three
    // rounds of keyphrases/itemsets bench arguments came down to "wall
    // says X, the box was busy, trust the probe" — so the artifact now
    // carries CPU next to wall. Each timed window is one Telemetry scope,
    // which sums executorCpuTime over the entry's own completed stages
    // (listener bus drained before it returns, so the sum is exact).
    // cpu_sec = executor CPU per timed run (the scope spans all `runs`
    // runs, ÷ runs), so a CPU-saturating query is judged on work, with
    // wall kept for the gate. The scope also carries the operators' notes,
    // so each entry's probe_trace comes from its own run.
    val records = scala.collection.mutable.Map[String, Telemetry.Record]()
    val cpuSec = scala.collection.mutable.Map[String, Double]()
    def scoped[T](name: String, runs: Int = 1)(body: => T): T = {
      val (r, rec) = Telemetry.scoped(spark)(body)
      records(name) = rec
      cpuSec(name) = rec.cpuSec / runs
      r
    }
    // cache THROUGH Tables so the cached plan carries the same scan
    // widening the queries build (a raw read.parquet cache would no longer
    // match and every query would silently re-scan parquet)
    sources.Tables.all.foreach { t =>
      try sources.Tables(spark, sfDir, t).cache().count()
      catch { case _: Throwable => () }
    }

    // ingest-teardown interference probe (r9 verdict ask #4): time one
    // fixed sentinel query right after the ingest phase + table caching
    // (one untimed pass first, so JIT/codegen cost doesn't masquerade as
    // interference), and compare against the same query's in-suite median
    // later in the artifact — a >1.5× divergence means the throwaway
    // ingest context's teardown is NOT clean and whatever it leaves behind
    // (cleaner backlog, page-cache writeback) taxes the query phase
    def timeSentinel(name: String): Seq[(String, Double)] =
      SparkEntry.queries.get("q_latest_per_key").map { fn =>
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        val t0 = System.nanoTime()
        try fn(spark, sfDir).count() catch { case _: Throwable => () }
        name -> (System.nanoTime() - t0) / 1e9
      }.toSeq
    val sentinelPost: Seq[(String, Double)] =
      if (runIngest) timeSentinel("_sentinel_post_ingest") else Seq.empty

    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)

    // untimed warm-up: run everything once
    ordered.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
    }
    // warm-up accumulated one call-scoped persist per rank-based query
    graft.operators.TimeSeries.releaseCallScopedPersists()
    // the warm-up just materialized the memoized cross-query frames — drop
    // them so their build cost lands INSIDE the timed window (as the
    // '_shared_*' pseudo-entries below) instead of being laundered into
    // warm-up while eleven consumer queries time cache reads (r7 verdict)
    SparkEntry.clearSharedFrames()

    // a query that throws must NOT read as a fast success (the round-5
    // schema drift hid 53 broken queries behind instant "timings"):
    // failures are tracked by name and reported in the output line
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    def time(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getClass.getName}: ${e.getMessage}")
        failed += name
      }
      (System.nanoTime() - t0) / 1e9
    }

    // shared-frame builds are timed ONCE each (a median over re-runs would
    // time the memo, not the build) as '_'-prefixed entries that sort ahead
    // of every consumer; a restricted iteration run skips them unless a
    // selected query consumes one (its first timed run then rebuilds — the
    // honest cost lands on the consumer instead)
    val sharedTimed =
      if (only.isEmpty)
        SparkEntry.sharedFrameBuilders.toSeq.sortBy(_._1).map { case (name, fn) =>
          System.gc()
          name -> scoped(name)(time(name, fn))
        }
      else Seq.empty
    val queryTimed = sharedTimed ++ ordered.map { case (name, fn) =>
      // untimed: start each query's runs from a settled heap — in a full
      // 76-query pass the accumulated shuffle/broadcast debris of earlier
      // heavy queries otherwise shows up as multi-second spikes in later
      // light ones (BENCH_r04 q_join_chain read 5.3 s vs its real ~0.9 s)
      System.gc()
      val n = math.max(runs, 1)
      val ts = scoped(name, n)((0 until n).map(_ => time(name, fn)).sorted)
      // a persisted shared frame is dead weight once its last alphabetical
      // consumer has run — release it before the ~100 queries that follow
      // (r7: q_jaccard paid 4.5 s of GC/eviction for frames it never read)
      SparkEntry.sharedFrameDropAfter.get(name).foreach(SparkEntry.dropSharedFrame)
      // call-scoped operator persists (rowNumberRanged's range-parted
      // frame, negativeSample's memos) are dead once the query's runs are
      // over — each run built fresh ones; releasing here keeps the suite
      // from pinning one users-sized frame per rank call (r10 verdict #4)
      graft.operators.TimeSeries.releaseCallScopedPersists()
      name -> ts(ts.length / 2)
    }
    // ---- forced-distributed twins, timed ONCE each (r8 verdict ask #5):
    // rebuild the memoized input frames untimed first — their builds are
    // already timed as `_shared_*` entries, and a twin must time the
    // distributed OPERATOR, not an input rebuild
    // phase-boundary sentinel #2 (r10 verdict ask #4): the same fixed query
    // timed once BEFORE the dist-twin phase, so driver-environment
    // contention is attributable per phase — a divergence between
    // `_sentinel_pre_dist` and the in-suite q_latest_per_key median brackets
    // whether dist-probe slowdowns (r10: q_triangles 3×, q_uncertainty 3.5×
    // driver-only) arrive with the query phase's debris or are born in the
    // dist phase itself
    val sentinelPre: Seq[(String, Double)] =
      if (only.isEmpty) timeSentinel("_sentinel_pre_dist") else Seq.empty
    val distTimed =
      if (only.isEmpty) {
        SparkEntry.sharedFrameBuilders.toSeq.sortBy(_._1).foreach { case (n, fn) =>
          // a failed REBUILD must not re-flag the `_shared_*` name — that
          // name already carries a successful timed entry from the query
          // phase; tag the rebuild distinctly so the artifact can't report
          // one name as both timed-ok and failed (r9 ADVICE)
          try fn(spark, sfDir).count()
          catch { case _: Throwable => failed += s"_rebuild$n" }
        }
        SparkEntry.distTwinQueries.toSeq.sortBy(_._1).map { case (name, fn) =>
          System.gc()
          val t = scoped(name)(time(name, fn))
          graft.operators.TimeSeries.releaseCallScopedPersists()
          name -> t
        }
      } else Seq.empty
    if (only.isEmpty) SparkEntry.clearSharedFrames()
    // sentinels are DIAGNOSTICS: they re-time a query that already carries
    // its own median entry, so they ride in a dedicated `sentinels` field —
    // summing them into `total`/`n_queries` would double-count
    // q_latest_per_key and make the headline depend on whether the ingest
    // phase ran (r10 ADVICE)
    val sentinels = sentinelPost ++ sentinelPre
    val results = queryTimed ++ distTimed
    val ingest = {
      val rs = ingestRuns.sorted
      def rank(p: Double) = if (rs.isEmpty) 0.0 else rs(math.min(rs.length - 1,
        math.max(0, math.ceil(p * rs.length).toInt - 1)))
      (rank(0.1), rank(0.5), rank(0.9))
    }
    // Driver visibility constraints (BENCH_r{1..5} all show "parsed": null):
    // the driver keeps only the last ~2000 chars of stdout, and sbt appends
    // a "[success] Total time" line after ours. At 119 queries the full
    // per-query map is >2.4k chars, so ANY single line carrying it arrives
    // truncated and unparseable. So: write the FULL per-query map to
    // BENCH_FULL.json in the repo (the driver commits the working tree at
    // round end), and print a compact line — headline totals plus only the
    // slowest queries, budgeted to fit the tail window with room for the
    // sbt suffix — as the LAST thing on stdout.
    def s3(v: Double): String = Engine.fmt3(v)
    val total = results.map(_._2).sum
    val fullQs = results.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    val failedJson = failed.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    // ingest_rows_per_sec stays the round-comparable p50 scalar; the p10/p90
    // band AND the full per-run series ride along (r8 verdict ask #1: the
    // distribution itself belongs in the artifact, not in lost stderr)
    val ingestRunsJson = ingestRuns.map(s3).mkString("[", ",", "]")
    // THE INGEST BAR (written policy, r12 verdict ask #3): the gate is
    // p10 ≥ 30 000 rows/s — an INTERIOR order statistic (rank 2 of 12)
    // that a single environment-vetoed run (external GC thrash, writeback
    // stall — see ingest_diag) cannot move, unlike the min, which has
    // dipped on box noise in three separate rounds on identical code. The
    // min stays REPORTED alongside (first element of sorted ingest_runs,
    // plus the full series) so a genuine degradation trend is still
    // visible; it is no longer the gate. Under it sits the bounded re-run
    // rule (see benchIngest): one retry per sub-bar run, retry value gated,
    // first attempts preserved as `ingest_runs_raw`, retry count in the
    // bar object. The artifact self-reports the verdict as `ingest_bar` —
    // no prose mitigation required or allowed.
    val ingestBarJson = if (ingestRuns.nonEmpty) {
      val pass = ingest._1 >= 30000.0
      // `retried` counts actual retry INVOCATIONS (benchIngest returns the
      // count), not gated-vs-raw value inequality — a retry landing on the
      // same double would silently uncount the disclosure (r13 ADVICE)
      s""""ingest_bar":{"stat":"p10","threshold":30000,"value":${s3(ingest._1)},""" +
        s""""min":${s3(ingestRuns.min)},"pass":$pass,""" +
        s""""retried":$ingestRetries},""" +
        s""""ingest_runs_raw":${ingestRunsRaw.map(s3).mkString("[", ",", "]")},"""
    } else ""
    val ingestJson = ingestBarJson + s""""ingest_rows_per_sec":${s3(ingest._2)},""" +
      s""""ingest_rows_per_sec_p10":${s3(ingest._1)},"ingest_rows_per_sec_p90":${s3(ingest._3)},""" +
      s""""ingest_runs":$ingestRunsJson"""
    // per-run environment columns (full artifact only — 12 objects would
    // blow the compact line's tail-window budget)
    val ingestDiagJson = ingestDiag.mkString("[", ",", "]")
    val ingestScaleJson = ingestScale.mkString("[", ",", "]")
    val sentinelsJson = sentinels.map { case (k, v) => "\"" + k + "\":" + s3(v) }
      .mkString("{", ",", "}")
    // per-round decomposition of the iterative probes (r10 verdict ask
    // #1): rounds × per-round wall × surviving rows, noted by the loops
    // themselves inside each entry's own scope — a probe regression in a
    // future round reads as "more rounds", "fatter rounds", or "neither →
    // environment" directly from the artifact (full artifact only; compact
    // line budget)
    def traceJson(entry: String, key: String): String =
      records.get(entry).flatMap(_.noted[Seq[graft.operators.Graph.RoundTrace]](key).lastOption)
        .getOrElse(Nil)
        .map(r => s"""{"round":${r.round},"wall_ms":${r.wallMs},"rows":${r.rows}}""")
        .mkString("[", ",", "]")
    val probeTraceJson = {
      import graft.operators.{Graph, Patterns}
      // pageRank rows are -1 by design: its rounds run zero driver actions,
      // so the trace is wall-only (see Graph.RoundTrace); the itemsets
      // trace is the timed shared build's (level 0 = basket arrays, 1..3 =
      // mine levels; at the registered maxSize=3 the final
      // union/checkpoint rides inside level 3)
      Seq("_dist_kcore" -> Graph.KCoreRounds, "_dist_hits" -> Graph.HitsRounds,
        "_dist_pagerank" -> Graph.PageRankRounds, "_shared_itemsets" -> Patterns.MineLevels)
        .map { case (e, k) => "\"" + e + "\":" + traceJson(e, k) }.mkString("{", ",", "}")
    }
    // sentinel-normalized view (r11 verdict ask #5): each entry ÷ its
    // phase's sentinel seconds expresses every timing in box-load-free
    // "sentinel units" — two artifacts of the same code compare normalized
    // values directly, and driver-box contention divides out (the sentinel
    // and the queries around it breathe with the load together). Phases:
    // `_dist_*` → `_sentinel_pre_dist`; everything else →
    // `_sentinel_post_ingest` (pre_dist when the ingest phase was skipped).
    // `jitter_factor` = sentinel ÷ the in-suite q_latest_per_key median —
    // the intra-run contention signal at each phase boundary (≈1 on a
    // quiet box; r11's driver run read 2× at post_ingest).
    val latestMed = queryTimed.collectFirst { case ("q_latest_per_key", v) => v }
    val sentMap = sentinels.toMap
    val postS = sentMap.get("_sentinel_post_ingest")
    val preS = sentMap.get("_sentinel_pre_dist")
    val jitterJson = Seq(
      (postS, "post_ingest"), (preS, "pre_dist")).flatMap { case (o, tag) =>
        (o, latestMed) match {
          case (Some(s), Some(m)) if m > 0 => Some(s""""$tag":${s3(s / m)}""")
          case _ => None
        }
      }.mkString("{", ",", "}")
    val normJson = results.flatMap { case (k, v) =>
      val s = if (k.startsWith("_dist_")) preS.orElse(postS) else postS.orElse(preS)
      s.filter(_ > 0).map(sv => "\"" + k + "\":" + s3(v / sv))
    }.mkString("{", ",", "}")
    // per-query executor CPU seconds, same slowest-wall-first order as
    // `queries` (full artifact only — the compact line has a budget)
    val cpuJson = results.sortBy(-_._2).flatMap { case (k, _) =>
      cpuSec.get(k).map(v => "\"" + k + "\":" + s3(v)) }
      .mkString("{", ",", "}")
    val fullLine = s"""{"metric":"total","value":${s3(total)},"unit":"sec","n_queries":${results.size},""" +
      s""""n_failed":${failed.size},"failed":$failedJson,""" +
      s""""queries":$fullQs,"cpu_sec":$cpuJson,"sentinels":$sentinelsJson,"jitter_factor":$jitterJson,""" +
      s""""queries_normalized":$normJson,"probe_trace":$probeTraceJson,$ingestJson,"ingest_diag":$ingestDiagJson,""" +
      s""""ingest_scale":$ingestScaleJson,""" +
      s""""sf":"$sfDir","total_sec":${s3(total)}}"""
    // only a FULL pass may overwrite the committed full map — a restricted
    // SPARK_GRAFT_BENCH_ONLY iteration run would otherwise clobber it with
    // a 2-query fragment. The map is ALSO written cpu-count-suffixed, so a
    // bench at two core counts keeps both full maps.
    val fullSuffixed = s"BENCH_FULL_c$cpus.json"
    def writeFull(path: String): Boolean =
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path), (fullLine + "\n").getBytes("UTF-8"))
        true
      } catch { case _: Throwable => false }
    // the compact line names the suffixed file only when THIS run wrote it
    val wroteSuffixed = only.isEmpty && {
      val envFull = sys.env.get("SPARK_GRAFT_BENCH_FULL")
      writeFull(envFull.getOrElse("BENCH_FULL.json")) && envFull.isEmpty && writeFull(fullSuffixed)
    }
    // compact line: slowest-first, cut to a query budget that keeps the
    // whole line under the driver's parse window. The r14 line (~2.3k
    // chars) parsed; the r13 full line (>15k) did not. Budget raised by
    // exactly what the two per-run ingest arrays freed up (they stay in
    // the full artifact), plus a `full` pointer naming the committed file
    // that carries all entries.
    val budget = 1850
    val slowFirst = results.sortBy(-_._2).map { case (k, v) => "\"" + k + "\":" + s3(v) }
    val kept = new scala.collection.mutable.ArrayBuffer[String]
    var used = 0
    slowFirst.foreach { s => if (used + s.length + 1 <= budget) { kept += s; used += s.length + 1 } }
    val compactQs = kept.mkString("{", ",", "}")
    val compactIngest = ingestBarJson.replaceAll(""""ingest_runs_raw":\[[^\]]*\],""", "") +
      s""""ingest_rows_per_sec":${s3(ingest._2)},""" +
      s""""ingest_rows_per_sec_p10":${s3(ingest._1)},"ingest_rows_per_sec_p90":${s3(ingest._3)}"""
    println(fullLine)
    println(s"""{"metric":"total","value":${s3(total)},"unit":"sec","n_queries":${results.size},""" +
      s""""n_failed":${failed.size},""" + (if (wroteSuffixed) s""""full":"$fullSuffixed",""" else "") +
      s""""queries":$compactQs,"sentinels":$sentinelsJson,$compactIngest,"sf":"$sfDir","total_sec":${s3(total)}}""")
    spark.stop()
  }

  /** T2 streaming ingest throughput with the REAL sink: MemoryStream →
    * stateful downsampler (flatMapGroupsWithState) → sample-store append
    * with checkpoint, one sorted delta per run per batch published by a
    * commit-log rename (compacted into the run's buckets at rotation) — the full
    * [[graft.streaming.Ingest.archiveTo]] topology, not a noop sink. The
    * input is pre-queued so the number measures processing, not feed
    * cadence; a smaller untimed run warms the streaming codepaths first.
    * Returns the full per-run rows/s series (in run order) — the caller
    * derives p10/p50/p90 and emits the series itself as `ingest_runs` —
    * plus one pre-rendered JSON diagnostic object per run (`ingest_diag`):
    * GC-ms delta, state-store provider count after stop, scratch free
    * space and /proc/meminfo dirty/writeback at run start. These columns
    * make the artifact NAME an environmental bound (heap churn vs provider
    * leak vs disk fill vs writeback stall) instead of leaving it to
    * reconstruction. The third element is the `ingest_scale`
    * key-cardinality sweep: one run each at 500/5k/50k PVs, same total rows,
    * each carrying rows/s + state rows/memory + the batch-duration curve.
    */
  private def totalGcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(b.getCollectionTime, 0L)).sum
  }

  /** Loaded state-store provider count via the same reflective door as
    * unloadAll (−1 when unreadable). */
  private def providerCount(): Int = try {
    val m = Class.forName(
      "org.apache.spark.sql.execution.streaming.state.StateStore$")
    val mod = m.getField("MODULE$").get(null)
    val f = mod.getClass.getDeclaredField("loadedProviders")
    f.setAccessible(true)
    f.get(mod) match {
      case mm: scala.collection.Map[_, _] => mm.size
      case mm: java.util.Map[_, _] => mm.size
      case _ => -1
    }
  } catch { case _: Throwable => -1 }

  private def meminfoKb(key: String): Long = try {
    val src = scala.io.Source.fromFile("/proc/meminfo")
    try src.getLines().collectFirst {
      case l if l.startsWith(key + ":") => l.trim.split("\\s+")(1).toLong
    }.getOrElse(-1L)
    finally src.close()
  } catch { case _: Throwable => -1L }

  private def benchIngest(
      spark: SparkSession): (Seq[Double], Seq[Double], Int, Seq[String], Seq[String]) = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Downsampler.RawSample
    import spark.implicits._
    implicit val sql: org.apache.spark.sql.SQLContext = spark.sqlContext
    // 10 s spacing per PV > the 5 s default deadtime, values step > the
    // deadband: every input row emits, so the store append cost is real
    def mkEvents(n: Int, nPvs: Int): Seq[RawSample] = (0 until n).map { i =>
      val v = s"${i % 997}.25"
      RawSample(s"B:pv${i % nPvs}.VAL", (i / nPvs).toLong * 10000000L, v, v)
    }
    def deleteRecursively(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      if (java.nio.file.Files.exists(p)) {
        // Files.walk holds directory handles open until the stream closes
        val s = java.nio.file.Files.walk(p)
        try s.iterator().asScala.toSeq.reverse
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
        finally s.close()
      }
    }
    // scratch root for store + checkpoint: java.io.tmpdir by default;
    // SPARK_GRAFT_BENCH_TMPDIR=/dev/shm isolates durable-write (fsync) cost
    // from compute when bisecting throughput variance
    val scratch = sys.env.get("SPARK_GRAFT_BENCH_TMPDIR")
      .map(java.nio.file.Paths.get(_)).getOrElse(
        java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    val diag = scala.collection.mutable.ArrayBuffer[String]()
    var lastGcMs = totalGcMs()
    // per-run streaming-progress capture for the state-scale sweep: batch
    // durations + final state-operator rows/memory from recentProgress
    var lastProgressJson = ""
    def run(n: Int, tag: String, nPvs: Int = 500,
        events0: Seq[RawSample] = null): Double = {
      // identical input every run: reusing one prebuilt sequence removes
      // 200k case-object allocations per run — churn that fed the very GC
      // episodes the bar exists to see past
      val events = if (events0 != null) events0 else mkEvents(n, nPvs)
      // environment the run FACES (pre-conditions), sampled before timing
      val dirtyKb = meminfoKb("Dirty")
      val writebackKb = meminfoKb("Writeback")
      val tmpFreeMb = scratch.toFile.getUsableSpace / (1024L * 1024L)
      val dir = java.nio.file.Files.createTempDirectory(scratch, "graft_bench_store")
      val ckpt = java.nio.file.Files.createTempDirectory(scratch, "graft_bench_ckpt")
      val input = MemoryStream[RawSample]
      events.grouped(50000).foreach(c => input.addData(c))
      val t0 = System.nanoTime()
      // limboTimeoutMs = 0 → NoTimeout: a registered processing-time
      // timeout busy-loops no-data batches under processAllAvailable (see
      // Downsampler.streaming scaladoc); the 10 s event spacing never
      // parks a limbo here, so the flush path is moot for this workload
      val q = graft.streaming.Ingest.archiveTo(input.toDS(), dir.toString,
        runWidthUs = 30L * 86400000000L, checkpoint = Some(ckpt.toString),
        triggerMs = 100L, limboTimeoutMs = 0L)
      try {
        q.processAllAvailable()
        val prog = q.recentProgress
        lastProgressJson = if (prog.isEmpty) "" else {
          val durs = prog.map(_.batchDuration)
          val so = prog.last.stateOperators
          val (sRows, sMem) =
            if (so.nonEmpty) (so(0).numRowsTotal, so(0).memoryUsedBytes)
            else (-1L, -1L)
          s""""batches":${durs.length},"batch_ms_mean":${durs.sum / math.max(1, durs.length)},""" +
            s""""batch_ms_max":${durs.max},"state_rows":$sRows,"state_mem_kb":${sMem / 1024}"""
        }
      } finally q.stop()
      val secs = (System.nanoTime() - t0) / 1e9
      // per-run diagnostic (stderr; the driver parses stdout only): the
      // r5→r7 throughput band was 8k-60k rows/s on identical work and a
      // single median can't say which runs were slow or why
      System.err.println(f"[bench-ingest] $tag: $n rows in $secs%.2f s " +
        f"(${n / secs}%.0f rows/s) scratch=$scratch")
      // provider accumulation signal: sampled after stop, BEFORE unloadAll
      val providers = providerCount()
      Seq(dir, ckpt).foreach(deleteRecursively) // don't leak 250k-row stores per run
      // inter-run hygiene, OUTSIDE the timed window — without it the runs
      // degrade PROGRESSIVELY (the r9 tmpfs probe: 50-60k for nine runs,
      // then 40k/28k/8k), because each stopped query leaves its
      // HDFSBackedStateStoreProvider maps registered in the JVM-global
      // StateStore registry (the provider unload path is coordinator-
      // driven and never fires for these short-lived queries) and 200k
      // queued MemoryStream rows awaiting GC. unloadAll() is private[sql]
      // in source but public in bytecode — reflection keeps this
      // bench-only hygiene out of the engine's compile surface.
      try {
        val m = Class.forName(
          "org.apache.spark.sql.execution.streaming.state.StateStore$")
        val mod = m.getField("MODULE$").get(null)
        mod.getClass.getMethod("unloadAll").invoke(mod)
      } catch {
        // a silent no-op here would bring back the progressive ingest
        // degradation with no signal anywhere (r9 ADVICE): if Spark ever
        // renames the method, the artifact anomaly must be traceable
        case t: Throwable => System.err.println(
          s"[bench-ingest] WARN StateStore.unloadAll reflection failed: $t")
      }
      // flush dirty pages OUTSIDE the timed window: each run writes a
      // ~200k-row parquet store + checkpoint; accumulated writeback
      // otherwise stalls later runs' fsyncs (one candidate for the
      // driver-environment tail decay BENCH_r09 ingest_runs showed)
      try Runtime.getRuntime.exec(Array("sync")).waitFor()
      catch { case _: Throwable => () }
      System.gc()
      val gcNow = totalGcMs()
      def s3(v: Double) = Engine.fmt3(v)
      diag += s"""{"tag":"$tag","rows_per_sec":${s3(n / secs)},"secs":${s3(secs)},""" +
        s""""gc_ms":${gcNow - lastGcMs},"providers_after_stop":$providers,""" +
        s""""tmp_free_mb_pre":$tmpFreeMb,"dirty_kb_pre":$dirtyKb,""" +
        s""""writeback_kb_pre":$writebackKb}"""
      lastGcMs = gcNow
      n / secs
    }
    run(50000, "warmup") // warm-up: JIT the stateful path + first parquet commit
    // timed runs reported as a (p10, p50, p90) nearest-rank triplet: the
    // full-durability topology has an admitted wide noise band (BENCH_r05
    // 31.2k vs r06 12.2k — a 2.6× swing one median can't explain), and the
    // spread separates a real ingest regression from one badly-timed GC.
    // Twelve runs make the nearest-rank p10/p90 INTERIOR order statistics
    // (ranks 2 and 11) — with the r7 five-run sample they were exactly
    // min/max, mislabeled (ADVICE r7); n=10 would still pin p10 to the min
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_INGEST_RUNS", "12").toInt
    val runEvents = mkEvents(200000, 500) // one allocation for all 12 runs
    // BOUNDED RE-RUN RULE (r12 ask #3 option b, layered under the p10 bar):
    // a run that lands under the 30k bar gets EXACTLY ONE retry — a GC
    // episode that happens to span several runs (r13 first pass: 4
    // consecutive dips, gc_ms 1.1–1.3 s vs ~0.5 s healthy) would otherwise
    // veto even the interior p10 — and BOTH numbers stay in the artifact:
    // the gated series uses the retry value (dipped or not — one retry,
    // never more), the raw first attempts ride as `ingest_runs_raw`, and
    // per-attempt environment rows remain in ingest_diag. A real
    // regression dips run AND retry twelve times over and still fails.
    val attempts = (1 to nRuns).map { i =>
      val first = run(200000, s"run $i/$nRuns", events0 = runEvents)
      // the third element marks an actual retry INVOCATION — the artifact's
      // `retried` count must not be inferred from value inequality (a retry
      // that lands on the same double would go uncounted; r13 ADVICE)
      if (first < 30000.0)
        (first, run(200000, s"run $i/$nRuns retry", events0 = runEvents), 1)
      else (first, first, 0)
    }
    val rawSeries = attempts.map(_._1)
    val series = attempts.map(_._2)
    val retries = attempts.map(_._3).sum
    // T2 state-scale sweep (r12 verdict ask #7): the 12-run series fixes
    // key cardinality at 500 PVs, but a 100 TB archiver holds 10⁵–10⁶ PVs
    // of flatMapGroupsWithState state — the axis the bench never measured.
    // One run each at 1×/10×/100× keys, SAME total rows, reporting rows/s
    // plus the state-store row count, memory and batch-duration curve from
    // StreamingQueryProgress. Super-linear batch-duration growth here means
    // per-key state overhead dominates and would bound a real deployment.
    val scale = scala.collection.mutable.ArrayBuffer[String]()
    // 500k closes the claimed 10⁵–10⁶-PV envelope (r13 verdict ask #6).
    // Row count is max(200k, keys): at 500k keys a 200k-row feed would
    // touch only 200k distinct PVs — the artifact would claim a state
    // cardinality the run never built. rows_per_sec stays the volume-
    // normalized comparable; the per-row `rows` field keeps it honest.
    for (keys <- Seq(500, 5000, 50000, 500000)) {
      val rows = math.max(200000, keys)
      val rps = run(rows, s"scale keys=$keys", nPvs = keys)
      val prog = if (lastProgressJson.isEmpty) "" else "," + lastProgressJson
      scale += s"""{"keys":$keys,"rows":$rows,"rows_per_sec":${Engine.fmt3(rps)}$prog}"""
    }
    (series, rawSeries, retries, diag.toSeq, scale.toSeq)
  }
}
