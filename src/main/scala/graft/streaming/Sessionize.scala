package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Gap-based sessionization (SURVEY.md §2.11 extension; the
  * reference's append-only query log, backend/app.py:42-71, is the
  * shape it sessionizes), behind the declared query s2.
  *
  * Events for a user belong to one session while the gap between
  * consecutive events is below `gapSeconds`. A session starts where
  * the previous event is further than the gap; session id = running
  * count of starts. Scales as two partitioned windows on (user_id),
  * no custom state.
  */
object Sessionize {

  /** Two windows over (user_id, ts). */
  def sessionsBatch(events: DataFrame, gapSeconds: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("is_start",
        (col("prev_ts").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev_ts")) > gapSeconds * 1000000L)
          .cast("int"))
      .withColumn("session_seq",
        sum(col("is_start")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .drop("session_seq")
  }
}
