package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: its plan and its DuckDB oracle, which are one decision.
  *
  * `family` is the operator object the plan's headline call lives in (one
  * file per family under `graft.queries`). `oracle` gives the oracle SQL
  * for an sf dir: most oracles do not read the data ([[Q.sql]]); a
  * data-dependent one trains the engine's own seeded code on the data first
  * and embeds the result as SQL literals.
  */
final case class Q(
    name: String,
    family: String,
    plan: (SparkSession, String) => DataFrame,
    oracle: (SparkSession, String) => String)

object Q {

  /** An oracle whose SQL does not depend on the data, built on first use. */
  final class StaticSql(text: => String) extends ((SparkSession, String) => String) {
    lazy val sql: String = text
    def apply(spark: SparkSession, dir: String): String = sql
  }

  def sql(text: => String): StaticSql = new StaticSql(text)

  /** `qs` as a registry: throws on a duplicate name or an empty family, so
    * a record added to the wrong file cannot silently replace another. */
  def registry(qs: Seq[Q]): Seq[Q] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
    val unfiled = qs.filter(_.family.trim.isEmpty).map(_.name)
    require(unfiled.isEmpty, s"queries with an empty family: ${unfiled.mkString(", ")}")
    qs
  }
}
