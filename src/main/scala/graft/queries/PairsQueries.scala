package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql

/** Queries whose headline call is in `Pairs`, each beside its DuckDB oracle. */
object PairsQueries {
  val all: Seq[Q] = Seq(
    // ---- J3 co-occurrence pair graph (parts sharing an order) --------------
    Q("q_pairs_cooccur", "Pairs", (s, dir) => {
      Pairs.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey")
        .orderBy(col("m1"), col("m2"))
    }, sql(
      """SELECT a.l_partkey AS m1, b.l_partkey AS m2, count(*) AS score
        |FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
        |JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- J3 with the skew guard engaged: groups capped to their first 4
    // (sorted) members, bounding per-group pair expansion to k²/2 ≤ 6 — the
    // viral-group protection a real 100 TB corpus needs ---------------------
    Q("q_pairs_cooccur_capped", "Pairs", (s, dir) => {
      Pairs.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_partkey",
        maxGroupSize = Some(4))
        .orderBy(col("m1"), col("m2"))
    }, sql(
      // capped variant: each group contributes only its first 4 members in
      // ascending order (mirrors sort_array(collect_set) + slice(.., 1, 4))
      """WITH m AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |r AS (SELECT l_orderkey, l_partkey,
        |        row_number() OVER (PARTITION BY l_orderkey ORDER BY l_partkey) AS rn
        |      FROM m),
        |c AS (SELECT l_orderkey, l_partkey FROM r WHERE rn <= 4)
        |SELECT a.l_partkey AS m1, b.l_partkey AS m2, count(*) AS score
        |FROM c a JOIN c b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- J4/O2 top-k related nodes (suppliers sharing orders) --------------
    Q("q_pairs_related", "Pairs", (s, dir) => {
      val edges = Pairs.coOccurrence(Tables.lineitem(s, dir), "l_orderkey", "l_suppkey")
      Pairs.related(edges, "m1", "m2", "score", lit(1L), k = 5)
    }, sql(relatedOracleSql)),

    // ---- J4 as a point query: same result WITHOUT building the pair graph
    // (broadcast semi-join on the node's groups — the ad-hoc 100 TB path) --
    Q("q_related_direct", "Pairs", (s, dir) => {
      Pairs.relatedDirect(Tables.lineitem(s, dir), "l_orderkey", "l_suppkey", 1L, k = 5)
    }, sql(
      // identical result, computed by the graph-free point-query plan
      relatedOracleSql)),

    // ---- A4 canonical max-merge of duplicate/reversed edges ----------------
    Q("q_pairs_merge", "Pairs", (s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_partkey").as("m1"), col("l_suppkey").as("m2"), col("l_quantity").as("score"))
      Pairs.mergeScores(edges, "m1", "m2", "score").orderBy(col("m1"), col("m2"))
    }, sql(
      """SELECT least(l_partkey, l_suppkey) AS m1, greatest(l_partkey, l_suppkey) AS m2,
        |  max(l_quantity) AS score
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)))

  /** Shared by q_pairs_related (graph then point lookup) and
    * q_related_direct (graph-free semi-join): both plans must produce THIS
    * result.
    */
  private lazy val relatedOracleSql: String =
    """WITH edges AS (
      |  SELECT a.l_suppkey AS m1, b.l_suppkey AS m2, count(*) AS score
      |  FROM (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) a
      |  JOIN (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem) b
      |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
      |  GROUP BY 1, 2)
      |SELECT other, score FROM (
      |  SELECT m2 AS other, score FROM edges WHERE m1 = 1
      |  UNION ALL
      |  SELECT m1 AS other, score FROM edges WHERE m2 = 1)
      |ORDER BY score DESC, other LIMIT 5""".stripMargin
}
