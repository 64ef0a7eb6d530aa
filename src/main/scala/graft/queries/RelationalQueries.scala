package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

import Q.sql
import Shared._

/** Queries built from plain Spark SQL operators (joins, aggregates, JSON and
  * date functions) with no engine operator at their head, each beside its
  * DuckDB oracle. */
object RelationalQueries {
  val all: Seq[Q] = Seq(
    // ---- anchor aggregation (A-category; classic pricing summary) ----------
    Q("q_agg_pricing", "Relational", (s, dir) => {
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"), // integral-valued: exact
          // prices/discounts sit on the cent grid, but cents aren't
          // binary-exact doubles — fixed-point sums make the 2-dp/6-dp
          // roundings scheduling-independent (FixedPoint scaladoc)
          operators.FixedPoint.sum(col("l_extendedprice"), 100.0, 2).as("sum_base_price"),
          operators.FixedPoint.mean(col("l_discount"), 100.0, 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }, sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT)) AS BIGINT) / 100.0, 2) AS sum_base_price,
        |  round(CAST(sum(CAST(round(l_discount * 100.0) AS BIGINT)) AS BIGINT) / (count(CAST(round(l_discount * 100.0) AS BIGINT)) * 100.0), 6) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- J1 broadcast dimension join (samples × pv metadata shape) ---------
    Q("q_dim_join", "Relational", (s, dir) => {
      Tables.lineitem(s, dir)
        .join(broadcast(Tables.part(s, dir)), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity")).as("sum_qty"),
          // cents × (100 − discount-cents): both factors exact BIGINTs, so
          // the 1e-4-grid revenue sum is order-independent
          round(sum(operators.FixedPoint.q(col("l_extendedprice"), 100.0) *
            (lit(100L) - operators.FixedPoint.q(col("l_discount"), 100.0))) / 10000.0, 2)
            .as("revenue"))
        .orderBy(col("p_brand"))
    }, sql(
      """SELECT p_brand, count(*) AS n, sum(l_quantity) AS sum_qty,
        |  round(CAST(sum(CAST(round(l_extendedprice * 100.0) AS BIGINT) *
        |    (100 - CAST(round(l_discount * 100.0) AS BIGINT))) AS BIGINT) / 10000.0, 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- multi-hop join chain: lineitem→orders→customer→nation→region ------
    Q("q_join_chain", "Relational", (s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("r_name"))
    }, sql(
      """SELECT r_name, count(*) AS n, sum(l_quantity) AS sum_qty
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- JSON props extraction (pvextra-style metadata) --------------------
    Q("q_props_json", "Relational", (s, dir) => {
      events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("n"))
        .orderBy(col("k"))
    }, sql(
      """SELECT CAST(json_extract(props, '$.k') AS BIGINT) AS k, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- distinct-cardinality per series ------------------------------------
    Q("q_distinct_users", "Relational", (s, dir) => {
      events(s, dir)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))
        .orderBy(col("event_type"))
    }, sql(distinctUsersSql)),

    // ---- top-k by aggregate (order by score desc, deterministic tie-break) --
    Q("q_topk_users", "Relational", (s, dir) => {
      events(s, dir)
        .groupBy(col("user_id"))
        .agg(operators.FixedPoint.sum(col("value"), 1e6, 3).as("total"),
          count(lit(1)).as("n"))
        .orderBy(col("total").desc, col("user_id"))
        .limit(10)
    }, sql(
      """SELECT user_id,
        |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0, 3) AS total,
        |  count(*) AS n
        |FROM events GROUP BY 1 ORDER BY total DESC, user_id LIMIT 10""".stripMargin)),

    // ---- tumbling-window counts (streaming-ready windowed aggregation) -----
    Q("q_windowed_counts", "Relational", (s, dir) => {
      events(s, dir)
        .groupBy(
          window(timestamp_micros(col("ts_us")), "1 day").as("w"),
          col("event_type"))
        .agg(count(lit(1)).as("n"),
          operators.FixedPoint.sum(col("value"), 1e6, 3).as("sum_value"))
        .select(
          expr("unix_micros(w.start)").as("day_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("day_us"), col("event_type"))
    }, sql(
      """SELECT epoch_us(date_trunc('day', ts)) AS day_us, event_type,
        |  count(*) AS n,
        |  round(CAST(sum(CAST(round(value * 1000000.0) AS BIGINT)) AS BIGINT) / 1000000.0, 3) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- S10 export projection (time formatting pack) ----------------------
    Q("q_export_rows", "Relational", (s, dir) => {
      events(s, dir)
        .where(col("event_type") === "signup" && col("ts_us") >= T0 && col("ts_us") < T1)
        .select(
          col("event_id"),
          col("ts_us"),
          date_format(timestamp_micros(col("ts_us")), "yyyyMMdd HHmmss").as("datestr"),
          date_format(timestamp_micros(col("ts_us")), "yyyy-MM-dd HH:mm:ss.SSS").as("iso"),
          col("value"))
        .orderBy(col("ts_us"), col("event_id"))
    }, sql(
      s"""SELECT event_id, epoch_us(ts) AS ts_us,
         |  strftime(make_timestamp(epoch_us(ts)), '%Y%m%d %H%M%S') AS datestr,
         |  strftime(make_timestamp(epoch_us(ts)), '%Y-%m-%d %H:%M:%S.%g') AS iso,
         |  value
         |FROM events
         |WHERE event_type = 'signup' AND epoch_us(ts) >= $T0 AND epoch_us(ts) < $T1
         |ORDER BY ts_us, event_id""".stripMargin)),

    // ---- per-source length profile: exact interpolated percentiles ------
    Q("q_source_profile", "Relational", (s, dir) => {
      Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(
          count(lit(1)).as("n_docs"),
          round(avg(col("n_chars")), 6).as("avg_chars"),
          round(expr("percentile(n_chars, 0.5D)"), 6).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9D)"), 6).as("p90_chars"))
        .orderBy(col("source"))
    }, sql(
      """SELECT source, count(*) AS n_docs,
        |  round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), CAST(0.5 AS DOUBLE)), 6) AS p50_chars,
        |  round(quantile_cont(CAST(n_chars AS DOUBLE), CAST(0.9 AS DOUBLE)), 6) AS p90_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin)))
}
