package graft
package queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators._
import graft.sources.Tables

import Shared._

/** Queries whose headline call is in `AnomalyForest`, each beside its DuckDB oracle. */
object AnomalyForestQueries {
  val all: Seq[Q] = Seq(
    // ---- isolation-forest anomaly ranking (driver-trained, codegen apply)
    Q("q_iforest", "AnomalyForest", (s, dir) => {
      AnomalyForest.anomalies(events(s, dir), "event_id", iforestFeatures,
        nTrees = 25, sampleSize = 256, maxDepth = 6, topN = 50)
    }, (spark, dir) => {
      // re-train the identical forest (deterministic sample + seeded PRNG)
      // and emit it as a pure CASE-expression scorer — no libm anywhere
      val forest = AnomalyForest.train(Tables.events(spark, dir), "event_id",
        iforestFeatures, nTrees = 25, sampleSize = 256, maxDepth = 6)
      val sqlFeats = Seq(
        "CAST(value AS DOUBLE)",
        "CAST((epoch_us(ts) // 3600000000) % 24 AS DOUBLE)",
        "CAST((epoch_us(ts) // 86400000000) % 7 AS DOUBLE)")
      s"""SELECT event_id, ${AnomalyForest.scoreSql(forest, sqlFeats)} AS score
         |FROM events
         |WHERE event_id IS NOT NULL AND value IS NOT NULL AND ts IS NOT NULL
         |ORDER BY score, event_id LIMIT 50""".stripMargin
    }))

  /** q_iforest feature columns over the derived-`ts_us` events frame:
    * value, hour-of-day, day-of-week — mirrored verbatim as DuckDB
    * expressions in [[dataDependentOracles]]. */
  private def iforestFeatures: Seq[Column] = Seq(
    col("value"),
    expr("CAST((ts_us DIV 3600000000L) % 24 AS DOUBLE)"),
    expr("CAST((ts_us DIV 86400000000L) % 7 AS DOUBLE)"))
}
