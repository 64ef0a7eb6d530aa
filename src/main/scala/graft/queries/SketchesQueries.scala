package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Sketches`, each beside its DuckDB oracle. */
object SketchesQueries {
  val all: Seq[Q] = Seq(
    // ---- Bloom runtime-filter audit: prune the fact scan pre-shuffle -----
    Q("q_bloom_join", "Sketches", (s, dir) => {
      Sketches.bloomAudit(Tables.lineitem(s, dir),
        Tables.orders(s, dir).where(col("o_totalprice") > 150000.0),
        "l_orderkey", "o_orderkey", mBits = 1 << 20, kHashes = 3)
    }, sql(bloomJoinSql)),

    // ---- HyperLogLog distinct-user audit per event type ------------------
    Q("q_hll", "Sketches", (s, dir) => {
      Sketches.hllAudit(events(s, dir), "event_type", "user_id", p = 8)
        .orderBy(col("event_type"))
    }, sql(hllSql)),

    // ---- sliding 7-day distinct users via daily HLL register merge -------
    Q("q_hll_sliding", "Sketches", (s, dir) => {
      Sketches.hllSlidingDistinct(events(s, dir), "ts_us", "user_id",
        windowDays = 7)
        .orderBy(col("day"))
    }, sql(
      // sliding HLL: daily registers, 7-way coverage explode, max-merge,
      // then the identical estimate expression as q_hll
      """WITH b AS (SELECT user_id AS k, epoch_us(ts) // 86400000000 AS day,
        |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS x
        |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        |r AS (SELECT day, x // 16777216 AS bk,
        |        CASE WHEN x % 16777216 = 0 THEN 25
        |             ELSE 25 - length(bin(x % 16777216)) END AS rk
        |      FROM b),
        |daily AS (SELECT day, bk, max(rk) AS m FROM r GROUP BY 1, 2),
        |cov AS (SELECT u.w AS w, bk, m
        |        FROM daily, unnest(generate_series(day, day + 6)) AS u(w)),
        |merged AS (SELECT w, bk, max(m) AS m FROM cov GROUP BY 1, 2),
        |pg AS (SELECT w, CAST(sum(1::BIGINT << CAST(25 - m AS INTEGER)) AS BIGINT) AS s,
        |         CAST(count(*) AS BIGINT) AS nb
        |       FROM merged GROUP BY 1),
        |exd AS (SELECT DISTINCT k, day FROM b),
        |exc AS (SELECT u.w AS w, CAST(count(DISTINCT k) AS BIGINT) AS n_exact
        |        FROM exd, unnest(generate_series(day, day + 6)) AS u(w) GROUP BY 1),
        |est AS (SELECT w,
        |    0.7213 / (1.0 + 1.079 / 256) * 256.0 * 256.0 * 33554432.0 /
        |      CAST(s + (256 - nb) * 33554432 AS DOUBLE) AS raw,
        |    256 - nb AS zeros
        |  FROM pg),
        |e2 AS (SELECT w, CASE WHEN raw <= 640.0 AND zeros > 0
        |                      THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
        |                      ELSE raw END AS est
        |       FROM est)
        |SELECT w AS day, n_exact, round(est, 4) AS n_est,
        |  round(abs(est - n_exact) / n_exact, 4) AS rel_err
        |FROM e2 JOIN exc USING (w) ORDER BY day""".stripMargin)),

    // ---- audience overlap via HLL register merge (inclusion-exclusion) ---
    Q("q_hll_overlap", "Sketches", (s, dir) => {
      Sketches.hllOverlap(events(s, dir), "event_type", "user_id", p = 8)
    }, sql(hllOverlapSql)),

    // ---- log2-bucket (HDR-style) quantile estimates vs exact ranks -------
    Q("q_hdr_quantiles", "Sketches", (s, dir) => {
      Sketches.hdrQuantiles(events(s, dir), "event_type", "value",
        Seq(0.5, 0.9, 0.99))
        .orderBy(col("event_type"), col("q"))
    }, sql(hdrQuantilesSql)))

  /** DuckDB mirror of [[Sketches.bloomAudit]] (2²⁰ bits, 3 hashes, seed 42,
    * orders over 150k against lineitem): bit membership restated as set
    * membership over the distinct bit POSITIONS — a key passes iff all 3 of
    * its hash rows find their position in the build side's position set,
    * which is exactly the word-array bit test.
    */
  private lazy val bloomJoinSql: String = {
    val (as, bs) = Sketches.hashConsts(3, 42L)
    val structs = (0 until 3).map(i =>
      s"{'r': $i, 'a': ${as(i)}, 'b': ${bs(i)}}").mkString(", ")
    val m = 1 << 20
    val hash = "CAST('0x' || substr(md5(CAST(k AS VARCHAR)), 1, 8) AS BIGINT)"
    s"""WITH bk AS (SELECT DISTINCT o_orderkey AS k FROM orders
       |            WHERE o_orderkey IS NOT NULL AND o_totalprice > 150000.0),
       |bh AS (SELECT $hash AS x, unnest([$structs]) AS u FROM bk),
       |bpos AS (SELECT DISTINCT ((u.a * x + u.b) % 2147483647) % $m AS pos FROM bh),
       |pk AS (SELECT DISTINCT l_orderkey AS k FROM lineitem
       |       WHERE l_orderkey IS NOT NULL),
       |ph AS (SELECT k, $hash AS x, unnest([$structs]) AS u FROM pk),
       |ppos AS (SELECT k, u.r AS r, ((u.a * x + u.b) % 2147483647) % $m AS pos FROM ph),
       |pass AS (SELECT k FROM ppos JOIN bpos USING (pos)
       |         GROUP BY k HAVING count(DISTINCT r) = 3),
       |pr AS (SELECT l_orderkey AS k FROM lineitem WHERE l_orderkey IS NOT NULL),
       |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_probe,
       |          CAST(count(*) FILTER (WHERE k IN (SELECT k FROM pass)) AS BIGINT) AS n_pass,
       |          CAST(count(*) FILTER (WHERE k IN (SELECT k FROM bk)) AS BIGINT) AS n_match
       |        FROM pr)
       |SELECT n_probe, n_pass, n_match, n_pass - n_match AS n_false_pos,
       |  CASE WHEN n_probe = n_match THEN 0.0
       |       ELSE round((n_pass - n_match) / CAST(n_probe - n_match AS DOUBLE), 6)
       |  END AS fp_rate
       |FROM agg""".stripMargin
  }

  /** DuckDB mirror of [[Sketches.hllAudit]] (p = 8 over
    * `events.user_id` by event_type): identical md5-prefix hash, bucket/rank
    * split via the engines' shared `length(bin(x))` msb, the EXACT
    * 2^(24−M)-scaled BIGINT harmonic sum, and the same one-expression
    * bias-corrected estimate with linear-counting fallback.
    */
  private lazy val hllSql: String = {
    s"""WITH b AS (SELECT event_type AS g, user_id AS k,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS x
       |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
       |r AS (SELECT g, x // 16777216 AS bk,
       |        CASE WHEN x % 16777216 = 0 THEN 25
       |             ELSE 25 - length(bin(x % 16777216)) END AS rk
       |      FROM b),
       |regs AS (SELECT g, bk, max(rk) AS m FROM r GROUP BY 1, 2),
       |pg AS (SELECT g, CAST(sum(1::BIGINT << CAST(25 - m AS INTEGER)) AS BIGINT) AS s,
       |         CAST(count(*) AS BIGINT) AS nb
       |       FROM regs GROUP BY 1),
       |ex AS (SELECT g, CAST(count(DISTINCT k) AS BIGINT) AS n_exact FROM b GROUP BY 1),
       |est AS (SELECT g,
       |    0.7213 / (1.0 + 1.079 / 256) * 256.0 * 256.0 * 33554432.0 /
       |      CAST(s + (256 - nb) * 33554432 AS DOUBLE) AS raw,
       |    256 - nb AS zeros
       |  FROM pg),
       |e2 AS (SELECT g, CASE WHEN raw <= 640.0 AND zeros > 0
       |                      THEN 256.0 * ln(256.0 / CAST(zeros AS DOUBLE))
       |                      ELSE raw END AS est
       |       FROM est)
       |SELECT g AS event_type, n_exact, round(est, 4) AS n_est,
       |  round(abs(est - n_exact) / n_exact, 4) AS rel_err
       |FROM e2 JOIN ex USING (g) ORDER BY event_type""".stripMargin
  }

  /** The shared DuckDB HLL estimate expression over a scaled harmonic sum
    * column `s` and present-register count `nb` (p = 8) — mirrors
    * `Sketches.hllEstimate` term for term. */
  private def hllEstSql(s: String, nb: String): String =
    s"""(CASE WHEN (0.7213 / (1.0 + 1.079 / 256) * 256.0 * 256.0 * 33554432.0 /
       |         CAST($s + (256 - $nb) * 33554432 AS DOUBLE)) <= 640.0
       |        AND (256 - $nb) > 0
       |  THEN 256.0 * ln(256.0 / CAST(256 - $nb AS DOUBLE))
       |  ELSE 0.7213 / (1.0 + 1.079 / 256) * 256.0 * 256.0 * 33554432.0 /
       |       CAST($s + (256 - $nb) * 33554432 AS DOUBLE) END)""".stripMargin

  /** DuckDB mirror of [[Sketches.hllOverlap]] over
    * `events.(event_type, user_id)`: identical registers, pair-attached
    * bucket-max union merge, the same estimate expression three ways, and
    * the exact intersection from the raw distinct self-join.
    */
  private lazy val hllOverlapSql: String = {
    s"""WITH b AS (SELECT event_type AS g, user_id AS k,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS x
       |  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
       |r AS (SELECT g, x // 16777216 AS bk,
       |        CASE WHEN x % 16777216 = 0 THEN 25
       |             ELSE 25 - length(bin(x % 16777216)) END AS rk
       |      FROM b),
       |regs AS (SELECT g, bk, max(rk) AS m FROM r GROUP BY 1, 2),
       |gs AS (SELECT DISTINCT g FROM regs),
       |pr AS (SELECT a.g AS ga, b2.g AS gb FROM gs a JOIN gs b2 ON a.g < b2.g),
       |ur AS (SELECT ga, gb, bk, max(m) AS m
       |       FROM regs JOIN pr ON regs.g = pr.ga OR regs.g = pr.gb
       |       GROUP BY 1, 2, 3),
       |hu AS (SELECT ga, gb,
       |         CAST(sum(1::BIGINT << CAST(25 - m AS INTEGER)) AS BIGINT) AS s,
       |         CAST(count(*) AS BIGINT) AS nb
       |       FROM ur GROUP BY 1, 2),
       |hg AS (SELECT g,
       |         CAST(sum(1::BIGINT << CAST(25 - m AS INTEGER)) AS BIGINT) AS s,
       |         CAST(count(*) AS BIGINT) AS nb
       |       FROM regs GROUP BY 1),
       |eu AS (SELECT ga, gb, ${hllEstSql("s", "nb")} AS e FROM hu),
       |eg AS (SELECT g, ${hllEstSql("s", "nb")} AS e FROM hg),
       |dk AS (SELECT DISTINCT g, k FROM b),
       |ex AS (SELECT a.g AS ga, b2.g AS gb,
       |         CAST(count(DISTINCT a.k) AS BIGINT) AS n_exact
       |       FROM dk a JOIN dk b2 ON a.k = b2.k AND a.g < b2.g
       |       GROUP BY 1, 2)
       |SELECT eu.ga AS group_a, eu.gb AS group_b,
       |  coalesce(ex.n_exact, 0) AS n_exact,
       |  round(ea.e + eb.e - eu.e, 4) AS n_est
       |FROM eu
       |JOIN eg ea ON ea.g = eu.ga
       |JOIN eg eb ON eb.g = eu.gb
       |LEFT JOIN ex ON ex.ga = eu.ga AND ex.gb = eu.gb
       |ORDER BY group_a, group_b""".stripMargin
  }

  /** DuckDB mirror of [[Sketches.hdrQuantiles]] (q ∈ {0.5, 0.9, 0.99} over
    * `events.value` by event_type): same log₂ buckets via `length(bin(v))`,
    * same cumulative-count bucket election, same ⌈q·n⌉ rank statistic.
    * Quantiles are DOUBLE on both sides (a DuckDB DECIMAL literal would do
    * exact `q·n` arithmetic where Spark does IEEE).
    */
  private lazy val hdrQuantilesSql: String = {
    s"""WITH b AS (SELECT event_type AS g, CAST(floor(value) AS BIGINT) AS v
       |  FROM events
       |  WHERE event_type IS NOT NULL AND value IS NOT NULL AND value > 0),
       |b2 AS (SELECT g, v FROM b WHERE v > 0),
       |h AS (SELECT g, CAST(length(bin(v)) AS BIGINT) AS bk,
       |        CAST(count(*) AS BIGINT) AS c
       |      FROM b2 GROUP BY 1, 2),
       |qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
       |cum AS (SELECT g, bk, sum(c) OVER (PARTITION BY g ORDER BY bk) AS cm,
       |          sum(c) OVER (PARTITION BY g) AS n
       |        FROM h),
       |est AS (SELECT g, q, CAST(n AS BIGINT) AS n,
       |          (1::BIGINT << CAST(min(bk) AS INTEGER)) - 1 AS est_hi
       |        FROM cum JOIN qs ON cm >= ceil(q * n) GROUP BY g, q, n),
       |rk AS (SELECT g, v, row_number() OVER (PARTITION BY g ORDER BY v) AS rn
       |       FROM b2),
       |np AS (SELECT g, CAST(count(*) AS BIGINT) AS nn FROM b2 GROUP BY 1),
       |want AS (SELECT g, q, CAST(ceil(q * nn) AS INTEGER) AS rn FROM np, qs),
       |exq AS (SELECT g, q, v AS exact FROM rk JOIN want USING (g, rn))
       |SELECT g AS event_type, q, n, est_hi, exact
       |FROM est JOIN exq USING (g, q) ORDER BY event_type, q""".stripMargin
  }
}
