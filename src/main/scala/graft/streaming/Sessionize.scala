package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Session assembly over an event table — gap-based session windows:
  * a lag/running-sum window (one shuffle by user, one sort), the
  * oracle-checkable form.
  *
  * Output: one row per (user, session): start, end, n_events,
  * total_value (exact decimal sum surfaced as double).
  */
object Sessionize {

  /** Batch sessionization: new session when the gap to the previous
    * event of the same user exceeds `gapMinutes`.
    */
  def batch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      // exact integer microseconds — second-granularity casts round
      // differently across engines on fractional boundaries
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapMinutes * 60_000_000L, 1L)
          .otherwise(0L))
      .withColumn("session_idx",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(38,2)")).cast("double").as("total_value"))
      .drop("session_idx")
  }
}
