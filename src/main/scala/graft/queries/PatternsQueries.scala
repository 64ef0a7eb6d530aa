package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Q.sql
import Shared._

/** Queries whose headline call is in `Patterns`, each beside its DuckDB oracle. */
object PatternsQueries {
  val all: Seq[Q] = Seq(
    // ---- level-wise Apriori over order baskets at brand granularity:
    // relative support, transaction trimming, frequent-pair-pruned triples --
    Q("q_itemsets", "Patterns", (s, dir) => {
      brandItemsets(s, dir).orderBy(col("size"), col("items"))
    }, sql(
      // level-wise Apriori over order×brand baskets (0.4% relative support):
      // trimmed transactions, frequent-pair-pruned triples, ppm integers
      itemsetsSql(minSupPpm = 4000L))),

    // ---- association rules from the frequent pairs: directional
    // confidence + lift vs independence, all ppm-integer ------------------
    Q("q_assoc_rules", "Patterns", (s, dir) => {
      Patterns.associationRulesFrom(brandItemsets(s, dir))
        .orderBy(col("antecedent"), col("consequent"))
    }, sql(assocRulesSql(minSupPpm = 4000L))))

  /** Shared CTE chain for the pattern-mining oracles, ending in
    * `nb(n, m)` (basket count + ceil-ppm threshold), `l1(i, support)` and
    * `l2(i1, i2, support)` — the level-wise Apriori pipeline of
    * [[operators.Patterns.frequentItemsets]] over order×brand baskets. */
  private def itemsetCtes(minSupPpm: Long): String =
    s"""tx AS MATERIALIZED (SELECT DISTINCT l.l_orderkey AS b, p.p_brand AS i
       |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
       |  WHERE l.l_orderkey IS NOT NULL AND p.p_brand IS NOT NULL),
       |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS n,
       |  CAST(greatest((count(DISTINCT b) * $minSupPpm + 999999) // 1000000, 1) AS BIGINT) AS m
       |  FROM tx),
       |l1 AS MATERIALIZED (SELECT i, CAST(count(*) AS BIGINT) AS support
       |  FROM tx GROUP BY 1 HAVING count(*) >= (SELECT m FROM nb)),
       |tx1 AS MATERIALIZED (SELECT tx.b, tx.i FROM tx JOIN l1 USING (i)),
       |l2 AS MATERIALIZED (SELECT a.i AS i1, c.i AS i2, CAST(count(*) AS BIGINT) AS support
       |  FROM tx1 a JOIN tx1 c ON a.b = c.b AND a.i < c.i GROUP BY 1, 2
       |  HAVING count(*) >= (SELECT m FROM nb))""".stripMargin

  private def itemsetsSql(minSupPpm: Long): String =
    s"""WITH ${itemsetCtes(minSupPpm)},
       |p2 AS (SELECT a.b, a.i AS i1, c.i AS i2 FROM tx1 a
       |  JOIN tx1 c ON a.b = c.b AND a.i < c.i
       |  JOIN l2 ON l2.i1 = a.i AND l2.i2 = c.i),
       |l3 AS (SELECT p2.i1, p2.i2, t.i AS i3, CAST(count(*) AS BIGINT) AS support
       |  FROM p2 JOIN tx1 t ON t.b = p2.b AND t.i > p2.i2
       |  JOIN l2 x ON x.i1 = p2.i2 AND x.i2 = t.i
       |  JOIN l2 y ON y.i1 = p2.i1 AND y.i2 = t.i
       |  GROUP BY 1, 2, 3 HAVING count(*) >= (SELECT m FROM nb)),
       |u AS (SELECT '' AS items, CAST(0 AS BIGINT) AS size, (SELECT n FROM nb) AS support
       |  UNION ALL SELECT i, CAST(1 AS BIGINT), support FROM l1
       |  UNION ALL SELECT i1 || '|' || i2, CAST(2 AS BIGINT), support FROM l2
       |  UNION ALL SELECT i1 || '|' || i2 || '|' || i3, CAST(3 AS BIGINT), support FROM l3)
       |SELECT items, size, support,
       |  CAST(support * 1000000 // (SELECT n FROM nb) AS BIGINT) AS support_ppm
       |FROM u ORDER BY size, items""".stripMargin

  private def assocRulesSql(minSupPpm: Long): String =
    s"""WITH ${itemsetCtes(minSupPpm)},
       |b2 AS (SELECT i1 AS a, i2 AS c, support FROM l2
       |  UNION ALL SELECT i2, i1, support FROM l2)
       |SELECT b2.a AS antecedent, b2.c AS consequent, b2.support AS support,
       |  CAST(b2.support * 1000000 // la.support AS BIGINT) AS confidence_ppm,
       |  CAST(b2.support * (SELECT n FROM nb) * 1000000 // (la.support * lc.support) AS BIGINT) AS lift_ppm
       |FROM b2 JOIN l1 la ON la.i = b2.a JOIN l1 lc ON lc.i = b2.c
       |ORDER BY antecedent, consequent""".stripMargin
}
