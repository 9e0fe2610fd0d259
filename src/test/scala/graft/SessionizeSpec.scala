package graft

import graft.streaming.Sessionize
import java.sql.Timestamp

class SessionizeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val events = Seq(
    // user 1: two sessions separated by a 2h gap
    (1L, ts("2024-01-01 10:00:00"), 1L, "click", 1.0),
    (2L, ts("2024-01-01 10:10:00"), 1L, "view", 2.0),
    (3L, ts("2024-01-01 12:30:00"), 1L, "click", 3.0),
    // user 2: one session
    (4L, ts("2024-01-01 09:00:00"), 2L, "click", 4.0))

  test("batch sessionization: gap splits sessions, aggregates are exact") {
    val out = Sessionize.sessionsBatch(
        events.toDF("event_id", "ts", "user_id", "event_type", "value"),
        gapSeconds = 1800)
      .orderBy("user_id", "session_start").collect()
    assert(out.length == 3)
    val first = out(0)
    assert(first.getAs[Long]("user_id") == 1L)
    assert(first.getAs[Long]("n_events") == 2L)
    assert(first.getAs[Double]("sum_value") == 3.0)
    assert(out(1).getAs[Long]("n_events") == 1L)
    assert(out(2).getAs[Long]("user_id") == 2L)
  }
}
