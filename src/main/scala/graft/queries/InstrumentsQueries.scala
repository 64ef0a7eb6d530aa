package graft
package queries

import org.apache.spark.sql.functions._

import graft.operators._

import Q.sql
import Shared._

/** Queries whose headline call is in `Instruments`, each beside its DuckDB oracle. */
object InstrumentsQueries {
  val all: Seq[Q] = Seq(
    // ---- instrument snapshot: named PV-set catalog + point-in-time values
    // (WebInstruments.py) — broadcast membership join + map-side argmax ------
    Q("q_instrument_snapshot", "Instruments", (s, dir) => {
      import s.implicits._
      val samples = events(s, dir).select(col("event_type").as("pvname"),
        col("ts_us").as("tsUs"), col("event_id"), col("value"))
      Instruments.snapshot(samples, instrumentSets.toDF("set_name", "pvname"), TMID,
        ts = "tsUs", tieBreak = "event_id")
        .select(col("set_name"), col("pvname"), col("tsUs").as("ts_us"),
          col("event_id"), col("value"))
        .orderBy(col("set_name"), col("pvname"))
    }, sql(instrumentSnapshotSql(TMID))))

  /** Mirrors [[Instruments.snapshot]] over the q_instrument_snapshot
    * derivation: membership VALUES from the same [[instrumentSets]], as-of
    * row per (set, pv) via row_number with the (ts, event_id) tie-break.
    */
  private def instrumentSnapshotSql(tUs: Long): String = {
    val values = instrumentSets.map { case (sn, pv) => s"('$sn', '$pv')" }.mkString(", ")
    s"""WITH sets(set_name, pvname) AS (VALUES $values),
       |e AS (SELECT event_type AS pvname, epoch_us(ts) AS ts_us, event_id, value
       |      FROM events WHERE epoch_us(ts) <= $tUs),
       |r AS (SELECT s.set_name AS set_name, e.pvname AS pvname, e.ts_us, e.event_id, e.value,
       |        row_number() OVER (PARTITION BY s.set_name, e.pvname
       |                           ORDER BY e.ts_us DESC, e.event_id DESC) AS rn
       |      FROM e JOIN sets s USING (pvname))
       |SELECT set_name, pvname, ts_us, event_id, value FROM r WHERE rn = 1
       |ORDER BY set_name, pvname""".stripMargin
  }

  /** Named PV sets for q_instrument_snapshot (WebInstruments.py catalog):
    * event_type plays the PV; "click" is a member of TWO sets to exercise
    * the membership fan-out.
    */
  private[graft] val instrumentSets: Seq[(String, String)] = Seq(
    ("webstats", "click"), ("webstats", "view"),
    ("commerce", "purchase"), ("commerce", "signup"),
    ("ops", "error"), ("ops", "click"))
}
