package graft
package queries

import org.apache.spark.sql.functions._

import graft.sources.Tables

import Q.sql
import Shared._

/** Queries over the archiver API (`graft.Archive`, `graft.Generic`), each
  * beside its DuckDB oracle. */
object ArchiveQueries {
  val all: Seq[Q] = Seq(
    // ---- P1/Q6 cache read surface: the latest-value view filtered to rows
    // newer than a poll horizon (webapp.py:52-76), via the Archive facade ----
    Q("q_cache_delta", "Archive", (s, dir) => {
      // string pvnames, per Archive's column convention (same u<id> mapping
      // as the other Archive-shaped entries)
      val samples = events(s, dir).select(
        concat(lit("u"), col("user_id")).as("pvname"),
        col("ts_us").as("tsUs"), col("value"))
      new graft.Archive(samples).refreshDelta(nowUs = T1, ageUs = T1 - TMID)
        .select(col("pvname"), col("tsUs").as("ts_us"), col("value"))
        .orderBy(col("pvname"))
    }, sql(
      // latest row per key (value tie-break, like the engine's cacheView
      // argmax), kept when newer than the poll horizon
      s"""SELECT pvname, ts_us, value FROM (
         |  SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname,
         |    epoch_us(ts) AS ts_us, value,
         |    row_number() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts) DESC, value DESC) AS rn
         |  FROM events)
         |WHERE rn = 1 AND ts_us > $TMID ORDER BY pvname""".stripMargin)),

    // ---- P2/P3/P4 generic select surface: where-map conjunction + ordering
    // (util.py:157-240) over a real table -----------------------------------
    Q("q_generic_select", "Archive", (s, dir) => {
      graft.Generic.getRows(
        Tables.part(s, dir),
        Map("p_size" -> 2),
        orderBy = Some(("p_partkey", true)))
        .select(col("p_partkey"), col("p_name"), col("p_brand"), col("p_size"))
    }, sql(
      """SELECT p_partkey, p_name, p_brand, p_size FROM part
        |WHERE p_size = 2
        |ORDER BY p_partkey""".stripMargin)),

    // ---- P2 key lookup: the primary-key where-overload + limitOne with a
    // descending order (util.py:157-240's remaining branches) ----------------
    Q("q_generic_lookup", "Archive", (s, dir) => {
      val part = Tables.part(s, dir).withColumnRenamed("p_partkey", "id")
      part.where(graft.Generic.handleWhere(42L))
        .unionByName(graft.Generic.getRows(part, Map("p_brand" -> "Brand#2"),
          orderBy = Some(("id", false)), limitOne = true))
        .select(col("id"), col("p_name"), col("p_brand"))
        .orderBy(col("id"))
    }, sql(
      """SELECT id, p_name, p_brand FROM (
        |  SELECT p_partkey AS id, p_name, p_brand FROM part WHERE p_partkey = 42
        |  UNION ALL
        |  (SELECT p_partkey AS id, p_name, p_brand FROM part
        |   WHERE p_brand = 'Brand#2' ORDER BY p_partkey DESC LIMIT 1))
        |ORDER BY id""".stripMargin)),

    // ---- liveness/activity check (pvarch.py:184-192): per-PV trailing-
    // window update counts + the reference's alive verdict; the click-only
    // sample stream vs the all-events dimension leaves some PVs silent ------
    Q("q_activity", "Archive", (s, dir) => {
      val ev = events(s, dir)
      val samples = ev.where(col("event_type") === "click").select(
        concat(lit("u"), col("user_id")).as("pvname"), col("ts_us").as("tsUs"),
        col("value"))
      val dim = ev.select(concat(lit("u"), col("user_id")).as("pvname"))
      new graft.Archive(samples)
        .activity(tUs = TMID, windowUs = 6L * 3600L * 1000000L, minUpdates = 2L,
          pvDim = Some(dim))
        .orderBy(col("pvname"))
    }, sql(
      // trailing-window activity counts; silent dimension PVs surface as 0
      s"""WITH s AS (SELECT 'u' || CAST(user_id AS VARCHAR) AS pvname, epoch_us(ts) AS ts_us
         |  FROM events WHERE event_type = 'click'),
         |dim AS (SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS pvname FROM events),
         |r AS (SELECT pvname, CAST(count(*) AS BIGINT) AS n_recent FROM s
         |      WHERE ts_us > $TMID - ${6L * 3600L * 1000000L} AND ts_us <= $TMID
         |      GROUP BY 1)
         |SELECT dim.pvname, coalesce(r.n_recent, 0) AS n_recent,
         |  coalesce(r.n_recent, 0) >= 2 AS alive
         |FROM dim LEFT JOIN r ON dim.pvname = r.pvname
         |ORDER BY dim.pvname""".stripMargin)))
}
