package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-time operators over the events table (SURVEY.md §2.11),
  * written once for batch and streaming inputs.
  *
  * The reference has no streaming engine: its pipeline is batch with
  * resumable checkpoints. Each operator here runs on a batch frame,
  * which is how the declared queries s3, s6, s7, s8 and s9 call it,
  * and on a streaming frame, where a watermark bounds its state.
  * StreamingSpec drains the streamed form against the batch one.
  */
object EventStream {

  /** Schema of the events fixture after timestamp normalization. */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Streaming EXACT DEDUP — the streaming twin of the batch d1
    * operator: drop every re-delivery of an event id while keeping
    * dedup state bounded by the watermark
    * (`dropDuplicatesWithinWatermark`): an id is remembered only
    * until the watermark passes its event time, so state is
    * O(events per watermark horizon), not O(stream history) — the
    * only shape that survives an unbounded at-least-once feed.
    * Batch inputs fall back to plain dropDuplicates (same contract
    * for a finite input).
    */
  def dedupedEvents(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark("event_id")
    else
      events.dropDuplicates("event_id")

  /** STREAM-STREAM INTERVAL JOIN — purchase events joined to the
    * same user's view events from the preceding hour. Both sides
    * carry watermarks and the join condition bounds the event-time
    * range, so each side's buffered state is evictable once the
    * watermark passes `purchase.ts - 1h` — the only join shape that
    * runs indefinitely on two unbounded streams. Works identically
    * on batch inputs (no watermark needed) — the batch twin used for
    * parity testing.
    */
  def purchaseViewJoin(events: DataFrame, watermark: String = "10 minutes"): DataFrame = {
    val wm = (df: DataFrame, tsCol: String) =>
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val purchases = wm(events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts")), "ts")
    val views = wm(events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts")), "v_ts")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("ts"))
      .select(col("p_id"), col("user_id"), col("ts"), col("v_id"), col("v_ts"))
  }

  /** LEFT-OUTER stream-stream interval join — every purchase emits:
    * matched to the user's prior-hour views when they exist, with
    * null view columns otherwise. The OUTER side is what makes this
    * semantically distinct in streaming: an unmatched purchase is
    * held in state and its null row emitted ONLY once the watermark
    * passes the join window's end — the engine must prove no future
    * view can still match before it commits to the null (the classic
    * "late outer emission" of Structured Streaming). State eviction
    * bounds are identical to [[purchaseViewJoin]]'s inner form; on
    * batch inputs the LEFT JOIN decides immediately — the parity
    * twin StreamingSpec drains against. Operational pitfall (proved
    * in the spec): the global watermark is the MIN across BOTH
    * sides' watermark nodes, and each side sees only its own event
    * type — a feed whose view side goes quiet stalls the purchase
    * side's null emissions (and vice versa) by the watermark delay,
    * so production feeds need heartbeat events on every side. */
  def purchaseViewOuterJoin(events: DataFrame,
                            watermark: String = "10 minutes"): DataFrame = {
    val wm = (df: DataFrame, tsCol: String) =>
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val purchases = wm(events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts")), "ts")
    val views = wm(events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts")), "v_ts")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("ts"),
      "left_outer")
      .select(col("p_id"), col("user_id"), col("ts"), col("v_id"), col("v_ts"))
  }

  /** FULL-OUTER stream-stream interval join (s9 — s8's missing
    * direction): every purchase AND every view emits exactly once —
    * matched pairs within the hour window, an unmatched purchase
    * with null view columns (s8's side), and an unmatched VIEW (no
    * purchase by its user within the hour AFTER it) with null
    * purchase columns. Both null directions are watermark-gated:
    * a null row emits only once the watermark proves no future row
    * on the OTHER side can still match — the purchase side's nulls
    * wait for view-time to pass ts, the view side's nulls wait for
    * purchase-time to pass v_ts + 1h; state eviction bounds are the
    * inner join's on both sides. The output keeps BOTH user columns
    * (either may be null, depending on which side is unmatched).
    *
    * The s8 heartbeat pitfall applies DOUBLY here: the global
    * watermark is the MIN across both sides' watermark nodes and
    * each side sees only its own event type, so a quiet side now
    * stalls BOTH directions' null emissions (a view-quiet feed holds
    * unmatched purchases AND every pending unmatched view) — feeds
    * need heartbeat events on every side. Batch inputs
    * decide the FULL JOIN immediately — the parity twin the s9
    * oracle hashes and StreamingSpec drains against. */
  def purchaseViewFullOuterJoin(events: DataFrame,
                                watermark: String = "10 minutes"): DataFrame = {
    val wm = (df: DataFrame, tsCol: String) =>
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    val purchases = wm(events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts")), "ts")
    val views = wm(events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts")), "v_ts")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("ts"),
      "full_outer")
      .select(col("p_id"), col("user_id"), col("ts"),
        col("v_id"), col("v_user"), col("v_ts"))
  }

  /** Stream-static ENRICHMENT join — the most common production
    * streaming shape after windowed aggregation: an unbounded event
    * stream joined to a bounded dimension (user profile, device
    * table, feature snapshot). The static side carries no watermark
    * and holds NO state: Spark re-plans it per micro-batch, and a
    * dimension that fits the broadcast threshold joins map-side —
    * no shuffle of the stream, no state store at all (unlike the
    * stream-stream join above). Works identically on a batch events
    * frame — the parity-test twin. At 100 TB of stream the dimension
    * is the thing to keep bounded; a corpus-scaled "dimension" would
    * need the stream-stream path instead.
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame,
                    key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")
}
