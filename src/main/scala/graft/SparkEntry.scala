package graft

import graft.queries._
import graft.queries.Relational.pricingSummary
import graft.sources.Tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: named batch queries over the testdata tables, each
  * paired (where ANSI-SQL-expressible) with a DuckDB oracle in
  * [[SparkEntry.oracleSql]]. Every operator family from SURVEY.md §2 and
  * the training-data extension operators appear here. Each query is
  * declared once, in its family object under `graft.queries`: its
  * name, its builder, and its oracle ([[graft.queries.Query]]).
  *
  * Conventions for oracle parity:
  *   - identical column aliases on both sides (driver sorts columns by
  *     name before hashing);
  *   - doubles rounded at the output boundary (parallel summation differs
  *     from DuckDB's at the ulp level);
  *   - counts / integer sums cast to BIGINT on both sides (DuckDB widens
  *     integer sums to HUGEINT);
  *   - deterministic ORDER BY with a unique tie-break on both sides;
  *   - raw event timestamps are never returned (testdata carries
  *     nanosecond precision; Spark truncates to microseconds).
  */
object SparkEntry {

  /** Temp directory for staged and persisted-store gated queries (and
    * the test suite's temp dirs), registered for recursive deletion at
    * JVM exit so repeated (session, dir) runs don't leak parquet trees.
    * One shutdown hook, installed by the first call, deletes every
    * registered dir.
    */
  private[graft] def scratchDir(prefix: String): String = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix).toString
    scratchDirs.add(p)
    p
  }

  private lazy val scratchDirs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm); f.delete(); ()
      }
      scratchDirs.forEach(p => rm(new java.io.File(p)))
    }))

  /** The dirs registered for deletion at exit, for tests. */
  private[graft] def registeredScratchDirs: Set[String] = {
    import scala.jdk.CollectionConverters._
    scratchDirs.asScala.toSet
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    pricingSummary(spark, "/root/testdata/sf0.001")

  /** Every declared query, family by family. */
  private[graft] lazy val declared: Seq[Query] = Seq(
    Relational.queries,
    Cdc.queries,
    Dedup.queries,
    Corpus.queries,
    Text.queries,
    LanguageModels.queries,
    Search.queries,
    Vectors.queries,
    Sketches.queries,
    Layout.queries,
    Media.queries,
    Graph.queries,
    Events.queries,
    Mixtures.queries
  ).flatten

  /** One entry per implemented operator from SURVEY.md §2 + extensions. */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.build).toMap

  /** DuckDB-runnable oracle SQL per query (same tables, same aliases,
    * same ordering). See class doc for the parity conventions.
    * A query that shares another's oracle gets that query's SQL
    * verbatim: persisted-store round trips share their live twin's
    * oracle (persistence must be invisible to results; what the round
    * trip adds, directory-pruned probing of the on-disk layout, is
    * asserted in StorePersistenceSpec), and absorb == rebuild gates
    * share the full-rebuild query's.
    */
  def oracleSql: Map[String, String] = {
    val own = declared.filter(_.sharesOracleOf.isEmpty).map(q => q.name -> q.sql).toMap
    declared.map(q => q.name -> own(q.sharesOracleOf.getOrElse(q.name))).toMap
  }

  /** Documents wrapped in deterministic boilerplate chrome — a
    * per-source header line and one of two footer variants — giving
    * the line-level dedup pass guaranteed frequent lines at every
    * scale factor (same fixture philosophy as `docsWithNearDups` in
    * [[graft.queries.Dedup]]: the raw corpus has no newlines, so the
    * operator's work is synthesized in-plan and the oracle replays the
    * synthesis).
    */
  private[graft] def docsWithBoilerplate(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents").select(
      col("doc_id"),
      concat_ws("\n",
        concat(lit("=== "), col("source"), lit(" header ===")),
        col("text"),
        when(col("doc_id") % 3 === 0, lit("subscribe to our newsletter"))
          .otherwise(concat(lit("contact us at "), col("source"), lit(".example"))))
        .as("text"))
}
