package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Q.sql
import Shared._

/** Queries whose headline call is in `DataQuality`, each beside its DuckDB oracle. */
object DataQualityQueries {
  val all: Seq[Q] = Seq(
    // ---- declarative data-quality expectations: one scan per table, a
    // keyed anti-join for referential integrity, three-valued-logic
    // violation semantics -----------------------------------------------------
    Q("q_dq_checks", "DataQuality", (s, dir) => {
      import DataQuality.Rule
      val ev = DataQuality.check(events(s, dir), Seq(
        Rule("events.user_id_present", col("user_id").isNotNull),
        Rule("events.value_in_range", col("value").between(0, 400)),
        Rule("events.value_present", col("value").isNotNull)))
      val li = DataQuality.check(Tables.lineitem(s, dir), Seq(
        Rule("lineitem.discount_le_8pct", col("l_discount") <= 0.08),
        Rule("lineitem.quantity_1_50", col("l_quantity").between(1, 50))))
      val docs = DataQuality.check(Tables.documents(s, dir), Seq(
        Rule("documents.lang_allowed", col("lang").isin("en", "zh", "fr", "es", "de")),
        Rule("documents.min_chars_100", col("n_chars") >= 100),
        Rule("documents.nchars_consistent", col("n_chars") === length(col("text")))))
      val ref = DataQuality.refIntegrity("orders.custkey_resolves",
        Tables.orders(s, dir), "o_custkey", Tables.customer(s, dir), "c_custkey")
      ev.unionByName(li).unionByName(docs).unionByName(ref)
        .orderBy(col("rule"))
    }, sql(
      // data-quality expectations: NOT coalesce(pred, false) = the engine's
      // three-valued violation rule; referential integrity via NOT EXISTS
      """WITH ev AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN NOT coalesce(user_id IS NOT NULL, false) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN NOT coalesce(value BETWEEN 0 AND 400, false) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN NOT coalesce(value IS NOT NULL, false) THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |  FROM events),
        |li AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN NOT coalesce(l_discount <= 0.08, false) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN NOT coalesce(l_quantity BETWEEN 1 AND 50, false) THEN 1 ELSE 0 END) AS BIGINT) AS v2
        |  FROM lineitem),
        |dc AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN NOT coalesce(lang IN ('en','zh','fr','es','de'), false) THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        |    CAST(sum(CASE WHEN NOT coalesce(n_chars >= 100, false) THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        |    CAST(sum(CASE WHEN NOT coalesce(n_chars = length(text), false) THEN 1 ELSE 0 END) AS BIGINT) AS v3
        |  FROM documents),
        |u AS (          SELECT 'events.user_id_present' AS rule, n, v1 AS nv FROM ev
        |      UNION ALL SELECT 'events.value_in_range', n, v2 FROM ev
        |      UNION ALL SELECT 'events.value_present', n, v3 FROM ev
        |      UNION ALL SELECT 'lineitem.discount_le_8pct', n, v1 FROM li
        |      UNION ALL SELECT 'lineitem.quantity_1_50', n, v2 FROM li
        |      UNION ALL SELECT 'documents.lang_allowed', n, v1 FROM dc
        |      UNION ALL SELECT 'documents.min_chars_100', n, v2 FROM dc
        |      UNION ALL SELECT 'documents.nchars_consistent', n, v3 FROM dc
        |      UNION ALL SELECT 'orders.custkey_resolves',
        |        (SELECT CAST(count(*) AS BIGINT) FROM orders),
        |        (SELECT CAST(count(*) AS BIGINT) FROM orders o
        |         WHERE o.o_custkey IS NULL OR NOT EXISTS
        |           (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |SELECT rule, n AS n_rows, nv AS n_violations,
        |  CASE WHEN n = 0 THEN CAST(0 AS DOUBLE)
        |       ELSE floor((CAST(nv AS DOUBLE) / n) * 1000000.0) / 1000000.0 END AS violation_rate
        |FROM u ORDER BY rule""".stripMargin)),

    // ---- unique-column-combination discovery (candidate keys) over the
    // orders profile columns: the third Metanome-trio primitive ----------
    Q("q_ucc_audit", "DataQuality", (s, dir) => {
      DataQuality.uniqueCombinations(Tables.orders(s, dir),
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("size"), col("columns"))
    }, sql(
      uccSql("orders",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")))),

    // ---- order-dependency discovery over the events time profile: does
    // sorting by one column sort the other (lexicographic OD)? hour ~> day
    // and day ~> hour hold (nested time grids); every value pair doesn't —
    // completes the Metanome profiling quartet (FD/IND/UCC/OD) ------------
    Q("q_od_audit", "DataQuality", (s, dir) => {
      val ev = events(s, dir).select(
        expr("ts_us DIV 3600000000L").as("hour_b"),
        expr("ts_us DIV 86400000000L").as("day_b"),
        col("value"))
      DataQuality.orderDependencies(ev, Seq("hour_b", "day_b", "value"))
        .orderBy(col("lhs"), col("rhs"))
    }, sql(
      // order dependencies over the events time profile (the OD melt)
      odSql(Seq("hour_b", "day_b", "value")))),

    // ---- inclusion-dependency discovery across the star schema's key
    // columns: foreign-key inference (from ⊆ to iff violations = 0) -------
    Q("q_ind_audit", "DataQuality", (s, dir) => {
      DataQuality.inclusionDependencies(Seq(
        ("o_custkey", Tables.orders(s, dir), "o_custkey"),
        ("c_custkey", Tables.customer(s, dir), "c_custkey"),
        ("c_nationkey", Tables.customer(s, dir), "c_nationkey"),
        ("n_nationkey", Tables.nation(s, dir), "n_nationkey"),
        ("n_regionkey", Tables.nation(s, dir), "n_regionkey"),
        ("r_regionkey", Tables.region(s, dir), "r_regionkey")))
        .orderBy(col("from_col"), col("to_col"))
    }, sql(
      indSql(Seq(
      ("o_custkey", "orders", "o_custkey"),
      ("c_custkey", "customer", "c_custkey"),
      ("c_nationkey", "customer", "c_nationkey"),
      ("n_nationkey", "nation", "n_nationkey"),
      ("n_regionkey", "nation", "n_regionkey"),
      ("r_regionkey", "region", "r_regionkey"))))),

    // ---- functional-dependency discovery over the customer geography
    // profile: minimal-repair violation counts per ordered attribute pair -
    Q("q_fd_audit", "DataQuality", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .select(col("c_mktsegment"), col("c_nationkey"))
      val nat = Tables.nation(s, dir)
        .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      val reg = Tables.region(s, dir).select(col("r_regionkey"), col("r_name"))
      val j = cust
        .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      DataQuality.functionalDependencies(j,
        Seq("c_mktsegment", "c_nationkey", "n_name", "n_regionkey", "r_name"))
        .orderBy(col("determinant"), col("dependent"))
    }, sql(
      fdSql(
      Seq("c_mktsegment", "c_nationkey", "n_name", "n_regionkey", "r_name")))),

    // ---- k-anonymity audit over customer quasi-identifiers ---------------
    Q("q_k_anonymity", "DataQuality", (s, dir) => {
      DataQuality.kAnonymity(Tables.customer(s, dir),
        Seq("c_nationkey", "c_mktsegment"), k = 5)
    }, sql(
      """WITH g AS (SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS c
        |           FROM customer GROUP BY 1, 2)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |  CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(min(c) AS BIGINT) AS min_group_size
        |FROM g""".stripMargin)),

    // ---- l-diversity over the same release-gate shape: is the sensitive
    // attribute (length bucket) actually varied inside each QI cell? ------
    Q("q_l_diversity", "DataQuality", (s, dir) => {
      DataQuality.lDiversity(
        Tables.documents(s, dir).select(col("lang"), col("source"),
          (col("n_chars") / 200L).cast("long").as("len_bucket")),
        Seq("lang", "source"), "len_bucket", l = 3)
    }, sql(
      // l-diversity: distinct sensitive (length-bucket) count per QI cell;
      // the bucket is the truncated-toward-zero double division the engine
      // computes (positive values: identical to floor division)
      """WITH g AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS c,
        |    CAST(count(DISTINCT CAST(floor(CAST(n_chars AS DOUBLE) / 200.0) AS BIGINT)) AS BIGINT) AS d
        |  FROM documents GROUP BY 1, 2)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows, CAST(count(*) AS BIGINT) AS n_groups,
        |  CAST(sum(CASE WHEN d < 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_violating_groups,
        |  CAST(sum(CASE WHEN d < 3 THEN c ELSE 0 END) AS BIGINT) AS n_rows_at_risk,
        |  CAST(min(d) AS BIGINT) AS min_diversity
        |FROM g""".stripMargin)),

    // ---- Benford first-digit forensic audit over the pricing column ------
    Q("q_benford", "DataQuality", (s, dir) => {
      DataQuality.benford(Tables.lineitem(s, dir), "l_returnflag", "l_extendedprice")
        .orderBy(col("l_returnflag"), col("digit"))
    }, sql(
      // Benford audit: literal-interpolated expected shares, string-head
      // digit extraction (exact integer-to-string in both engines)
      benfordSql)),

    // ---- DP-style noised count release (seeded Laplace, eps = 0.5) -------
    Q("q_dp_release", "DataQuality", (s, dir) => {
      DataQuality.dpNoisedCounts(events(s, dir), "event_type", epsilon = 0.5)
    }, sql(
      // DP release: identical md5-uniform + inverse-CDF Laplace arithmetic
      """WITH g AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_exact
        |           FROM events WHERE event_type IS NOT NULL GROUP BY 1),
        |u AS (SELECT event_type, n_exact,
        |        (CAST('0x' || substr(md5(event_type || ':42'), 1, 8) AS BIGINT) + 0.5)
        |          / 4294967296.0 AS uu
        |      FROM g),
        |z AS (SELECT event_type, n_exact,
        |        (-1.0 / 0.5) * sign(uu - 0.5) * ln(1.0 - 2.0 * abs(uu - 0.5)) AS noise
        |      FROM u)
        |SELECT event_type, n_exact, round(n_exact + noise, 4) AS n_noised,
        |  round(abs(noise), 4) AS abs_noise
        |FROM z ORDER BY event_type""".stripMargin)),

    // ---- Simpson's-paradox audit: per-segment vs pooled value~hour slope -
    Q("q_simpson", "DataQuality", (s, dir) => {
      DataQuality.simpsonAudit(
        events(s, dir).select(col("event_type"),
          expr("CAST((ts_us DIV 3600000000L) % 24 AS DOUBLE)").as("hour"),
          col("value")),
        "event_type", "hour", "value")
    }, sql(
      """WITH b AS (SELECT event_type AS g,
        |    CAST((epoch_us(ts) // 3600000000) % 24 AS DOUBLE) AS x,
        |    CAST(value AS DOUBLE) AS y
        |  FROM events WHERE event_type IS NOT NULL AND ts IS NOT NULL
        |    AND value IS NOT NULL),
        |per AS (SELECT g, CAST(count(*) AS BIGINT) AS n, sum(x) AS sx,
        |          sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
        |        FROM b GROUP BY 1),
        |pl AS (SELECT CAST(sum(n) AS BIGINT) AS pn, sum(sx) AS psx,
        |         sum(sy) AS psy, sum(sxx) AS psxx, sum(sxy) AS psxy
        |       FROM per),
        |j AS (SELECT g, n,
        |        CASE WHEN n * sxx - sx * sx > 0.0
        |             THEN round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
        |        END AS slope,
        |        CASE WHEN pn * psxx - psx * psx > 0.0
        |             THEN round((pn * psxy - psx * psy) / (pn * psxx - psx * psx), 6)
        |        END AS pooled_slope
        |      FROM per, pl)
        |SELECT g AS event_type, n, slope, pooled_slope,
        |  CASE WHEN slope IS NOT NULL AND pooled_slope IS NOT NULL
        |       THEN sign(slope) <> sign(pooled_slope)
        |            AND slope <> 0.0 AND pooled_slope <> 0.0
        |       ELSE false END AS sign_flip
        |FROM j ORDER BY event_type""".stripMargin)),

    // ---- per-column statistics profile (table-stats collector) -----------
    Q("q_column_profile", "DataQuality", (s, dir) => {
      DataQuality.profile(Tables.orders(s, dir),
        Seq("o_orderstatus", "o_orderpriority", "o_custkey"))
        .orderBy(col("col_name"))
    }, sql(
      // column profile: per-column value-counts rollup; top value via a
      // scalar (count DESC, value) subquery — the engine's min_by tie-break
      columnProfileSql("orders",
      Seq("o_orderstatus", "o_orderpriority", "o_custkey")))),

    // ---- parent/child join-cardinality statistics ------------------------
    Q("q_join_stats", "DataQuality", (s, dir) => {
      DataQuality.joinStats(Tables.orders(s, dir), "o_custkey",
        Tables.customer(s, dir), "c_custkey")
    }, sql(
      // join stats: two keyed aggregates + a 1-row stitch
      """WITH ck AS (SELECT o_custkey AS k FROM orders),
        |pk AS (SELECT DISTINCT c_custkey AS k FROM customer),
        |pp AS (SELECT coalesce(cc.c, 0) AS c FROM pk
        |       LEFT JOIN (SELECT k, count(*) AS c FROM ck WHERE k IS NOT NULL GROUP BY 1) cc
        |       USING (k)),
        |cs AS (SELECT CAST(count(*) AS BIGINT) AS n_children,
        |         CAST(sum(CASE WHEN p.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
        |       FROM ck LEFT JOIN pk p ON ck.k = p.k),
        |ps AS (SELECT CAST(count(*) AS BIGINT) AS n_parents,
        |         CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_childless,
        |         CAST(min(c) AS BIGINT) AS min_fanout, CAST(max(c) AS BIGINT) AS max_fanout,
        |         CAST(sum(c) AS BIGINT) AS tot FROM pp)
        |SELECT n_children, n_matched, n_children - n_matched AS n_orphans,
        |  floor((CAST(n_matched AS DOUBLE) / n_children) * 1000000.0) / 1000000.0 AS match_rate,
        |  n_parents, n_childless, min_fanout, max_fanout,
        |  round(CAST(tot AS DOUBLE) / n_parents, 6) AS avg_fanout
        |FROM cs CROSS JOIN ps""".stripMargin)),

    // ---- split-conformal filter calibration: tau at the alpha-quantile of
    // a 20% hash-bucket calibration slice; per-source eval coverage -------
    Q("q_conformal", "DataQuality", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val q = TextAnalysis.qualityScore(docs, "doc_id", "text")
        .select(col("doc_id"), col("quality"))
        .join(docs.select(col("doc_id"), col("source")), "doc_id")
      DataQuality.conformalAudit(q, "doc_id", "source", col("quality"),
        alpha = 0.1, calPct = 20)
    }, sql(
      // tau at the 0.1-quantile of the 20% hash-bucket calibration slice,
      // rounded to the 6-dp grid before the cut; per-source eval coverage
      """WITH q AS (SELECT doc_id, source,
        |    round(ln(1.0 + len(string_split(text, ' '))) *
        |          (1.0 - CAST(len(list_filter(string_split(text, ' '),
        |                t -> t IN ('the','a','an','and','or','of','to','in','is','it'))) AS DOUBLE)
        |               / len(string_split(text, ' '))), 6) AS s,
        |    CAST('0x' || substr(md5('conformal' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 < 20 AS is_cal
        |  FROM documents WHERE text IS NOT NULL),
        |t AS (SELECT round(quantile_cont(s, 0.1), 6) AS tau,
        |    CAST(count(*) AS BIGINT) AS n_cal FROM q WHERE is_cal),
        |t2 AS (SELECT tau, n_cal,
        |    round(ceil(0.1 * (n_cal + 1)) / n_cal, 6) AS corrected_level FROM t)
        |SELECT source, n_cal, CAST(count(*) AS BIGINT) AS n_eval,
        |  CAST(sum(CASE WHEN s >= tau THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN s >= tau THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS coverage,
        |  tau, corrected_level
        |FROM q CROSS JOIN t2 WHERE NOT is_cal
        |GROUP BY source, n_cal, tau, corrected_level
        |ORDER BY source""".stripMargin)))

  /** DuckDB mirror of [[DataQuality.profile]]: one value-counts CTE per
    * column, the same BIGINT Simpson arithmetic, and the top value as a
    * `(count DESC, value)` scalar subquery.
    */
  private def columnProfileSql(table: String, cols: Seq[String]): String =
    cols.map { c =>
      s"""SELECT * FROM (
         |  WITH vc AS (SELECT CAST($c AS VARCHAR) AS v, count(*) AS cnt FROM $table GROUP BY 1),
         |  s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
         |          CAST(sum(CASE WHEN v IS NULL THEN cnt ELSE 0 END) AS BIGINT) AS nn,
         |          CAST(count(CASE WHEN v IS NOT NULL THEN 1 END) AS BIGINT) AS ndv,
         |          CAST(sum(CASE WHEN v IS NOT NULL THEN cnt * cnt ELSE 0 END) AS BIGINT) AS sq,
         |          CAST(max(CASE WHEN v IS NOT NULL THEN cnt END) AS BIGINT) AS topc
         |        FROM vc)
         |  SELECT '$c' AS col_name, n AS n_rows, nn AS n_nulls, ndv,
         |    CASE WHEN sq IS NULL OR sq = 0 THEN NULL
         |         ELSE round(CAST((n - nn) * (n - nn) AS DOUBLE) / sq, 6) END AS eff_card,
         |    (SELECT v FROM vc WHERE v IS NOT NULL ORDER BY cnt DESC, v LIMIT 1) AS top_value,
         |    topc AS top_count
         |  FROM s)""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY col_name"

  /** DuckDB mirror of [[DataQuality.benford]]: the Benford probabilities
    * are interpolated as Scala-computed shortest-roundtrip double literals
    * (NOT recomputed via the oracle's `log10`, whose last ULP is
    * libm-dependent), so both engines run the identical constants through
    * the identical chi-square expression.
    */
  private lazy val benfordSql: String = {
    val pCase = (1 to 9).map(d =>
      s"WHEN $d THEN CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE)")
      .mkString("CASE digit ", " ", " END")
    s"""WITH d AS (SELECT l_returnflag,
       |    CAST(substr(CAST(CAST(floor(abs(CAST(l_extendedprice AS DOUBLE))) AS BIGINT) AS VARCHAR), 1, 1) AS INTEGER) AS digit
       |  FROM lineitem
       |  WHERE l_extendedprice IS NOT NULL AND abs(CAST(l_extendedprice AS DOUBLE)) >= 1.0),
       |c AS (SELECT l_returnflag, digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
       |t AS (SELECT l_returnflag, sum(n) AS t FROM c GROUP BY 1),
       |p AS (SELECT c.l_returnflag, digit, n, t, $pCase AS ep
       |      FROM c JOIN t USING (l_returnflag))
       |SELECT l_returnflag, digit, n,
       |  floor((CAST(n AS DOUBLE) / t) * 1000000.0) / 1000000.0 AS obs_p,
       |  round(ep, 6) AS benford_p,
       |  round((n - ep * t) * (n - ep * t) / (ep * t), 6) AS chi2_term
       |FROM p ORDER BY l_returnflag, digit""".stripMargin
  }

  /** DuckDB mirror of [[operators.DataQuality.functionalDependencies]]
    * over the customer⋈nation⋈region profile frame: one per-pair minimal-
    * repair aggregate per ordered attribute pair, unioned. */
  private def fdSql(cols: Seq[String]): String = {
    val pairs = (for (a <- cols; b <- cols if a != b) yield
      s"""SELECT '$a' AS determinant, '$b' AS dependent,
         |  CAST(sum(nv) AS BIGINT) AS n_rows,
         |  CAST(sum(nv) - sum(mx) AS BIGINT) AS violations,
         |  (sum(nv) = sum(mx)) AS holds
         |FROM (SELECT dv, sum(cnt) AS nv, max(cnt) AS mx FROM
         |  (SELECT $a AS dv, $b AS bv, count(*) AS cnt FROM j
         |   WHERE $a IS NOT NULL AND $b IS NOT NULL GROUP BY 1, 2)
         |  GROUP BY 1)""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH j AS MATERIALIZED (SELECT
       |    c.c_mktsegment::VARCHAR AS c_mktsegment,
       |    c.c_nationkey::VARCHAR AS c_nationkey,
       |    n.n_name::VARCHAR AS n_name,
       |    n.n_regionkey::VARCHAR AS n_regionkey,
       |    r.r_name::VARCHAR AS r_name
       |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
       |  JOIN region r ON n.n_regionkey = r.r_regionkey)
       |SELECT * FROM ($pairs)
       |ORDER BY determinant, dependent""".stripMargin
  }

  /** DuckDB mirror of [[operators.DataQuality.inclusionDependencies]]:
    * one MATERIALIZED distinct-value set per labeled column, then a
    * subset/overlap aggregate per ordered pair. */
  private def indSql(cols: Seq[(String, String, String)]): String = {
    val sets = cols.map { case (label, table, c) =>
      s"""d_$label AS MATERIALIZED (SELECT DISTINCT $c::VARCHAR AS v
         |  FROM $table WHERE $c IS NOT NULL)""".stripMargin
    }.mkString(",\n")
    val pairs = (for ((a, _, _) <- cols; (b, _, _) <- cols if a != b) yield
      s"""SELECT '$a' AS from_col, '$b' AS to_col,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d_$a) AS n_distinct,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d_$a WHERE v IN (SELECT v FROM d_$b)) AS matched,
         |  (SELECT CAST(count(*) AS BIGINT) FROM d_$a WHERE v NOT IN (SELECT v FROM d_$b)) AS violations,
         |  (SELECT count(*) FROM d_$a WHERE v NOT IN (SELECT v FROM d_$b)) = 0 AS holds""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH $sets
       |SELECT * FROM ($pairs)
       |ORDER BY from_col, to_col""".stripMargin
  }

  /** DuckDB mirror of [[operators.DataQuality.orderDependencies]] over the
    * events time-profile frame: the same melt → distinct-(pair, a, b)
    * counts → running max over strictly smaller lhs (ROWS ... 1 PRECEDING
    * over one row per distinct value) → row-weighted violation sum. */
  private def odSql(cols: Seq[String]): String = {
    val melt = (for (a <- cols; b <- cols if a != b) yield
      s"""SELECT '$a' AS lhs, '$b' AS rhs, $a::DOUBLE AS a, $b::DOUBLE AS b
         |  FROM t WHERE $a IS NOT NULL AND $b IS NOT NULL""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH t AS (SELECT epoch_us(ts) // 3600000000 AS hour_b,
       |    epoch_us(ts) // 86400000000 AS day_b, value
       |  FROM events),
       |m AS ($melt),
       |c AS (SELECT lhs, rhs, a, b, CAST(count(*) AS BIGINT) AS n
       |  FROM m GROUP BY 1, 2, 3, 4),
       |g AS (SELECT lhs, rhs, a, max(b) AS mxb FROM c GROUP BY 1, 2, 3),
       |w AS (SELECT lhs, rhs, a, max(mxb) OVER (PARTITION BY lhs, rhs
       |    ORDER BY a ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS M
       |  FROM g)
       |SELECT c.lhs, c.rhs, CAST(sum(n) AS BIGINT) AS n_rows,
       |  CAST(sum(CASE WHEN w.M IS NOT NULL AND c.b < w.M THEN n ELSE 0 END) AS BIGINT) AS violations,
       |  sum(CASE WHEN w.M IS NOT NULL AND c.b < w.M THEN n ELSE 0 END) = 0 AS holds
       |FROM c JOIN w USING (lhs, rhs, a)
       |GROUP BY 1, 2 ORDER BY lhs, rhs""".stripMargin
  }

  /** DuckDB mirror of [[operators.DataQuality.uniqueCombinations]] over
    * the orders profile columns: per combination one pass counting rows
    * (members non-null) and distinct member tuples. */
  private def uccSql(table: String, cols: Seq[String]): String = {
    val combos: Seq[Seq[String]] =
      cols.map(Seq(_)) ++
        (for (i <- cols.indices; j <- i + 1 until cols.size)
          yield Seq(cols(i), cols(j)))
    val parts = combos.map { m =>
      val nn = m.map(c => s"$c IS NOT NULL").mkString(" AND ")
      val tup = if (m.size == 1) m.head else s"(${m.mkString(", ")})"
      s"""SELECT '${m.mkString("|")}' AS columns, CAST(${m.size} AS BIGINT) AS size,
         |  CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(count(DISTINCT $tup) AS BIGINT) AS n_distinct,
         |  CAST(count(*) - count(DISTINCT $tup) AS BIGINT) AS duplicates,
         |  count(*) = count(DISTINCT $tup) AS is_key
         |FROM $table WHERE $nn""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""SELECT * FROM ($parts)
       |ORDER BY size, columns""".stripMargin
  }
}
