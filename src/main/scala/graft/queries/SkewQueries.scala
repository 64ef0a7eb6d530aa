package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `Skew`, each beside its DuckDB oracle. */
object SkewQueries {
  val all: Seq[Q] = Seq(
    // ---- salted exact count-distinct: same oracle as q_distinct_users,
    // skew-proof two-phase plan (salt derived from the dedup column) -------
    Q("q_distinct_users_salted", "Skew", (s, dir) => {
      Skew.saltedDistinct(events(s, dir), "event_type", "user_id", salts = 16)
        .select(col("event_type"), col("n_distinct").as("n_users"), col("n"))
        .orderBy(col("event_type"))
    }, sql(
      // identical result, produced by the salted two-phase plan
      distinctUsersSql)),

    // ---- Count-Min sketch accuracy audit over the event user stream ------
    Q("q_cm_sketch", "Skew", (s, dir) => {
      Skew.countMinAudit(events(s, dir), "user_id", width = 64, depth = 4, topN = 20)
    }, sql(
      // Count-Min audit: seeded (a,b) rows interpolated as literals; the
      // md5-prefix key hash, counter build, and min-of-depth estimate are
      // BIGINT end to end
      cmSketchSql)),

    // ---- salted fact-dimension join (skew spread; result == plain join) --
    Q("q_salted_join", "Skew", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("okey"), col("l_extendedprice"))
      val os = Tables.orders(s, dir)
        .select(col("o_orderkey").as("okey"), col("o_orderstatus"))
      Skew.saltedJoin(li, os, "okey", salts = 8, tieBreak = "l_extendedprice")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          operators.FixedPoint.sum(col("l_extendedprice"), 100.0, 2).as("revenue"))
        .orderBy(col("o_orderstatus"))
    }, sql(
      // salted join: the oracle is the PLAIN join — salting must be invisible
      // in the result
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) / 100.0, 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- key-skew Gini report (pre-flight salting decision) --------------
    Q("q_skew_gini", "Skew", (s, dir) => {
      Skew.giniReport(events(s, dir), "user_id")
    }, sql(
      // gini: keyed count, rank window over the KEYS-sized frame, exact
      // integer sums, one mirrored double expression
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c FROM events
        |           WHERE user_id IS NOT NULL GROUP BY 1),
        |r AS (SELECT c, row_number() OVER (ORDER BY c, CAST(user_id AS VARCHAR)) AS rk FROM c),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS nk, CAST(sum(c) AS BIGINT) AS nr,
        |        CAST(max(c) AS BIGINT) AS mx, CAST(sum(rk * c) AS BIGINT) AS rc FROM r)
        |SELECT nk AS n_keys, nr AS n_rows, mx AS max_count,
        |  round(CAST(mx AS DOUBLE) / nr, 6) AS top_share,
        |  CASE WHEN nk <= 1 THEN 0.0 ELSE
        |    round(CAST(2 * rc AS DOUBLE) / CAST(nk * nr AS DOUBLE)
        |      - CAST(nk + 1 AS DOUBLE) / CAST(nk AS DOUBLE), 6) END AS gini
        |FROM a""".stripMargin)))

  /** DuckDB mirror of [[Skew.countMinAudit]] (width 64, depth 4, top 20
    * over `events.user_id`): the engine's seeded hash rows interpolated as
    * struct literals so both engines run identical integer arithmetic.
    */
  private lazy val cmSketchSql: String = {
    val (as, bs) = Skew.cmHashes(4)
    val structs = (0 until 4).map(i =>
      s"{'r': $i, 'a': ${as(i)}, 'b': ${bs(i)}}").mkString(", ")
    s"""WITH r AS (SELECT user_id,
       |    CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS x
       |  FROM events WHERE user_id IS NOT NULL),
       |h AS (SELECT x, unnest([$structs]) AS u FROM r),
       |hc AS (SELECT u.r AS rw, ((u.a * x + u.b) % 2147483647) % 64 AS cell FROM h),
       |counters AS (SELECT rw, cell, CAST(count(*) AS BIGINT) AS cnt
       |             FROM hc GROUP BY 1, 2),
       |heavy AS (SELECT user_id, x, CAST(count(*) AS BIGINT) AS exact
       |          FROM r GROUP BY 1, 2 ORDER BY exact DESC, user_id LIMIT 20),
       |hp AS (SELECT user_id, exact, x, unnest([$structs]) AS u FROM heavy),
       |pp AS (SELECT user_id, exact, u.r AS rw,
       |         ((u.a * x + u.b) % 2147483647) % 64 AS cell FROM hp),
       |est AS (SELECT user_id, exact, min(cnt) AS estimate
       |        FROM pp JOIN counters USING (rw, cell) GROUP BY 1, 2)
       |SELECT user_id, exact, estimate, estimate - exact AS overcount
       |FROM est ORDER BY exact DESC, user_id""".stripMargin
  }
}
