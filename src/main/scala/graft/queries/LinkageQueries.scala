package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql

/** Queries whose headline call is in `Linkage`, each beside its DuckDB oracle. */
object LinkageQueries {
  val all: Seq[Q] = Seq(
    // ---- blocked fuzzy entity resolution: re-link deterministically
    // corrupted customer records (one substituted name char at position
    // custkey % len; a segment suffix on odd keys). Three "blocking by
    // omission" passes — each key drops a different third of the name's
    // digit section — so a single-char corruption can never break every
    // pass at once; candidate work stays block-bounded, never |L|×|R| ----
    Q("q_entity_resolution", "Linkage", (s, dir) => {
      val c = Tables.customer(s, dir)
      def blockKeys(name: Column) = Seq(
        concat(col("c_nationkey").cast("string"), lit(":"),
          name.substr(lit(13), lit(6))).as("bk_a"),
        concat(col("c_nationkey").cast("string"), lit(":"),
          name.substr(lit(10), lit(3)), name.substr(lit(16), lit(3))).as("bk_b"),
        concat(col("c_nationkey").cast("string"), lit(":"),
          name.substr(lit(10), lit(6))).as("bk_c"))
      val left = c.select(col("c_custkey").as("cid") +: col("c_name").as("name") +:
        col("c_mktsegment").as("segment") +: blockKeys(col("c_name")): _*)
      val pos = (col("c_custkey") % length(col("c_name"))).cast("int")
      val corrupted = concat(
        col("c_name").substr(lit(1), pos), lit("x"),
        col("c_name").substr(pos + lit(2), length(col("c_name"))))
      val segNoise = when(col("c_custkey") % 2 === 1,
        concat(col("c_mktsegment"), lit("x"))).otherwise(col("c_mktsegment"))
      val right = c
        .select(col("c_custkey").as("rid"), col("c_nationkey"),
          corrupted.as("name"), segNoise.as("segment"))
        .select(col("rid") +: col("name") +: col("segment") +:
          blockKeys(col("name")): _*)
      Linkage.bestMatches(left, right, "cid", "rid",
        Seq("bk_a", "bk_b", "bk_c"), Seq("name", "segment"), minScore = 0.9)
        .orderBy(col("left_id"))
    }, sql(
      // three blocking-by-omission passes (UNION dedupes candidate pairs),
      // normalized-Levenshtein field sims, best match per left record
      """WITH l AS (
        |  SELECT c_custkey AS left_id, c_name AS lname, c_mktsegment AS lseg,
        |    CAST(c_nationkey AS VARCHAR) || ':' || substr(c_name, 13, 6) AS bk_a,
        |    CAST(c_nationkey AS VARCHAR) || ':' || substr(c_name, 10, 3) || substr(c_name, 16, 3) AS bk_b,
        |    CAST(c_nationkey AS VARCHAR) || ':' || substr(c_name, 10, 6) AS bk_c
        |  FROM customer),
        |r0 AS (
        |  SELECT c_custkey AS right_id, c_nationkey,
        |    substr(c_name, 1, c_custkey % length(c_name)) || 'x' ||
        |      substr(c_name, c_custkey % length(c_name) + 2, length(c_name)) AS rname,
        |    CASE WHEN c_custkey % 2 = 1 THEN c_mktsegment || 'x'
        |         ELSE c_mktsegment END AS rseg
        |  FROM customer),
        |r AS (
        |  SELECT right_id, rname, rseg,
        |    CAST(c_nationkey AS VARCHAR) || ':' || substr(rname, 13, 6) AS bk_a,
        |    CAST(c_nationkey AS VARCHAR) || ':' || substr(rname, 10, 3) || substr(rname, 16, 3) AS bk_b,
        |    CAST(c_nationkey AS VARCHAR) || ':' || substr(rname, 10, 6) AS bk_c
        |  FROM r0),
        |cand AS (
        |  SELECT l.left_id, r.right_id, l.lname, l.lseg, r.rname, r.rseg
        |  FROM l JOIN r ON l.bk_a = r.bk_a
        |  UNION
        |  SELECT l.left_id, r.right_id, l.lname, l.lseg, r.rname, r.rseg
        |  FROM l JOIN r ON l.bk_b = r.bk_b
        |  UNION
        |  SELECT l.left_id, r.right_id, l.lname, l.lseg, r.rname, r.rseg
        |  FROM l JOIN r ON l.bk_c = r.bk_c),
        |scored AS (
        |  SELECT left_id, right_id,
        |    round(1.0 - CAST(levenshtein(lname, rname) AS DOUBLE) /
        |      greatest(length(lname), length(rname), 1), 6) AS sim_name,
        |    round(1.0 - CAST(levenshtein(lseg, rseg) AS DOUBLE) /
        |      greatest(length(lseg), length(rseg), 1), 6) AS sim_segment
        |  FROM cand),
        |s2 AS (SELECT left_id, right_id, sim_name, sim_segment,
        |    round((sim_name + sim_segment) / 2, 6) AS score FROM scored),
        |best AS (SELECT *, row_number() OVER (
        |    PARTITION BY left_id ORDER BY score DESC, right_id) AS rn
        |  FROM s2 WHERE score >= 0.9)
        |SELECT left_id, right_id, sim_name, sim_segment, score
        |FROM best WHERE rn = 1 ORDER BY left_id""".stripMargin)))
}
