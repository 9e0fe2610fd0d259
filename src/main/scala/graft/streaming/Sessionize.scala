package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Gap-based sessionization — the custom-state streaming operator
  * (SURVEY.md §2.11 extension; the reference's append-only query log,
  * backend/app.py:42-71, is the batch ancestor of this shape).
  *
  * Events for a user belong to one session while the gap between
  * consecutive events is below `gapSeconds`. Implemented twice:
  *
  *  - [[sessionsBatch]]: declarative window form — a session starts
  *    where the previous event is further than the gap; session id =
  *    running count of starts. Scales as two partitioned windows on
  *    (user_id), no custom state.
  *  - [[sessionsStream]]: `flatMapGroupsWithState` with event-time
  *    timeout — bounded state per user, emits a session when the
  *    watermark passes its gap. The 100 TB/day shape: state is one
  *    (start, end, count, sum) tuple per live user.
  */
object Sessionize {

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class Session(user_id: Long, session_start: Timestamp,
                     session_end: Timestamp, n_events: Long, sum_value: Double)

  /** Per-user live-session state (public: codegen'd encoders access it). */
  case class SessState(start: Long, end: Long, n: Long, total: Double)

  /** Batch twin: two windows over (user_id, ts). */
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

  /** Streaming form with explicit state + event-time timeout. */
  def sessionsStream(events: Dataset[Event], gapSeconds: Long,
                     watermark: String = "10 minutes"): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(Session(userId, new Timestamp(s.start),
              new Timestamp(s.end), s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var cur = state.getOption
            val out = Seq.newBuilder[Session]
            val gapMs = gapSeconds * 1000
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(s) if t - s.end <= gapMs && t >= s.start - gapMs =>
                  // within one gap of the live session (either side):
                  // merge; late events can extend the start backwards.
                  cur = Some(SessState(math.min(s.start, t), math.max(s.end, t),
                    s.n + 1, s.total + e.value))
                case Some(s) if t < s.start - gapMs =>
                  // a late event more than one gap BEFORE the live
                  // session is its own (historical) session — merging
                  // it would stretch the session across a gap larger
                  // than gapSeconds, which the batch twin never does.
                  out += Session(userId, new Timestamp(t), new Timestamp(t), 1, e.value)
                case Some(s) =>
                  out += Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
                  cur = Some(SessState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              // Close the session once the watermark passes end + gap.
              // flatMapGroupsWithState does NOT drop late rows itself:
              // a late event merged into an old session can put
              // end + gap at or below the current watermark, and
              // setTimeoutTimestamp(≤ watermark) throws and kills the
              // query — clamp to strictly-after-watermark.
              val wm = state.getCurrentWatermarkMs()
              state.setTimeoutTimestamp(math.max(s.end + gapSeconds * 1000, wm + 1))
            }
            out.result().iterator
          }
      }
  }
}
