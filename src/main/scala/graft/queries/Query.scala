package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query, declared once in its family: its name, its
  * builder, and its DuckDB oracle. The oracle is either the query's
  * own SQL or, for a query whose rows must equal another's (a
  * persisted twin, an absorb == rebuild gate), the name of the query
  * whose oracle it shares verbatim. The SQL is held unevaluated, so
  * building the query table runs no oracle code.
  */
final class Query private (
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    val sharesOracleOf: Option[String],
    ownSql: () => String) {

  /** This query's own oracle SQL. A sharing query has none: resolve
    * [[sharesOracleOf]] instead ([[graft.SparkEntry.oracleSql]] does).
    */
  def sql: String = ownSql()
}

object Query {

  def apply(name: String, build: (SparkSession, String) => DataFrame)(sql: => String): Query =
    new Query(name, build, None, () => sql)

  def sharing(name: String, build: (SparkSession, String) => DataFrame, oracleOf: String): Query =
    new Query(name, build, Some(oracleOf),
      () => throw new IllegalStateException(s"$name shares the oracle of $oracleOf"))
}
