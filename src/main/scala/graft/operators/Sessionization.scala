package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization: assign inactivity-gap session ids with two
  * window passes over (key, ts) — lag to flag session starts, then a
  * running sum to number them. One shuffle on the key; both windows
  * share the same sort.
  */
object Sessionization {

  /** Adds a `session_id` column (0-based per key, in time order). */
  private def assignSessions(
      df: DataFrame,
      keyCols: Seq[String],
      tsSeconds: Column,
      gapSeconds: Long): DataFrame = {
    val byTime = Window.partitionBy(keyCols.map(col): _*).orderBy(tsSeconds.asc)
    val newSession = when(
      tsSeconds - lag(tsSeconds, 1).over(byTime) > gapSeconds, 1L
    ).otherwise(0L) // first row per key: lag is null -> comparison null -> 0
    df.withColumn(
      "session_id",
      sum(newSession).over(byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Per-session aggregates: event count, duration, bounds. */
  def sessionStats(
      df: DataFrame,
      keyCols: Seq[String],
      tsSeconds: Column,
      gapSeconds: Long): DataFrame =
    assignSessions(df, keyCols, tsSeconds, gapSeconds)
      .withColumn("__ts_s", tsSeconds)
      .groupBy((keyCols.map(col) :+ col("session_id")): _*)
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("__ts_s")) - min(col("__ts_s"))).as("duration_s"),
        min(col("__ts_s")).as("start_s"))

  /** Top-k within-session event-type trigram paths — the product-
    * analytics "what do users actually do" report (the n-gram
    * machinery of the text stack pointed at behavior sequences).
    *
    * Sessions are assigned over a FULLY ORDERED window (time, then
    * `tieCol`) so boundary decisions at tied timestamps are
    * deterministic and engine-replayable — [[assignSessions]]'s
    * time-only order is fine for stats (membership ties cancel in
    * aggregates) but not for sequences, where tie order changes the
    * path string.
    *
    * Scale shape: one per-key ordered window pass, one per-session
    * aggregation whose value is the session's own (bounded) event
    * sequence, a stateless shingle explode, and a count + ORDER+LIMIT.
    *
    * @return (path, n) — top k by count desc, path asc
    */
  def pathTrigrams(
      df: DataFrame,
      keyCols: Seq[String],
      tsSeconds: Column,
      tieCol: Column,
      typeCol: Column,
      gapSeconds: Long,
      k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val byTime = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(tsSeconds.asc, tieCol.asc)
    val newSession = when(
      tsSeconds - lag(tsSeconds, 1).over(byTime) > gapSeconds, 1L
    ).otherwise(0L)
    val sessions = df
      .withColumn("__ts_s", tsSeconds)
      .withColumn("__tie", tieCol)
      .withColumn("__ty", typeCol)
      .withColumn("session_id",
        sum(newSession).over(
          byTime.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val seqs = sessions
      .groupBy((keyCols.map(col) :+ col("session_id")): _*)
      .agg(transform(
        array_sort(collect_list(struct(col("__ts_s"), col("__tie"), col("__ty")))),
        e => e.getField("__ty")).as("__types"))
    seqs
      .select(explode(
        graft.functions.TextFunctions.ngramsFromTokens(col("__types"), 3)).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(k)
  }
}
