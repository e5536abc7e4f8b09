package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sessionization over the `events` table shape (q24). */
object EventStreams {

  /** Sessionization: assign session ids by inactivity gap per user —
    * the batch gaps-and-islands formulation (lag + cumulative sum of
    * gap-breaks), equivalent to streaming `session_window`.
    * One shuffle on user_id; the two windows share the same
    * partitioning so Catalyst plans a single exchange.
    */
  def sessionize(events: DataFrame, gap: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val gapExpr = expr(s"INTERVAL $gap")
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull || col("ts") > col("prev_ts") + gapExpr, 1L).otherwise(0L))
      .withColumn("session_seq", sum(col("new_session")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .drop("prev_ts", "new_session")
  }

  /** Per-user session stats built on [[sessionize]]. */
  def sessionStats(events: DataFrame, gap: String): DataFrame =
    sessionize(events, gap)
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
}
