package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._
import org.apache.spark.sql.Row

/** Structured Streaming over the events table (SURVEY.md §2.11, §7.2
  * scale extension).
  *
  * The reference has no streaming engine — its closest analogues are
  * the append-only metrics log (backend/app.py:42-71) and stage
  * checkpointing. This module is the Spark-native upgrade path: the
  * same tumbling-window aggregation as the batch query
  * `s1_event_window` (TextQ), expressed over a stream with a
  * watermark so state is bounded and late events beyond the watermark
  * are dropped — the property that makes it runnable indefinitely on
  * an unbounded 100 TB/day feed.
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

  /** Windowed aggregation shared by the batch and streaming paths:
    * 5-minute tumbling windows per event_type, decimal-exact sums.
    */
  def windowedCounts(events: DataFrame,
                     windowLength: String = "5 minutes",
                     watermark: String = "10 minutes"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src
      .groupBy(window(col("ts"), windowLength).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"),
        col("sum_value"))
  }

  /** Read a directory of event parquet files as a stream. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

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

  /** [[purchaseViewOuterJoin]] with PER-SIDE WATERMARK HEARTBEATS —
    * the shipped mitigation for the quiet-side stall the outer
    * join's scaladoc documents (and StreamingSpec proves): the
    * global watermark is the MIN across both sides' watermark nodes,
    * and each side sees only its own event type, so a feed whose
    * view side goes quiet holds every unmatched purchase's null row
    * forever. Here each side's watermark node additionally sees
    * EVERY event of the feed as a sentinel row with an impossible
    * key (user -1 on the purchase side, -2 on the view side — they
    * never match real rows and never cross-match each other), so
    * each side's watermark follows overall FEED time instead of its
    * own type's arrivals: a view-quiet feed still drains null rows
    * on the feed's schedule. Sentinel purchases would emit null
    * rows of their own (they ride the outer side) — the output
    * filters them; sentinel views sit on the inner side and never
    * emit. Join state additionally buffers the sentinels, bounded by
    * the same watermark horizon as real rows. Batch inputs take the
    * identical path (sentinels add nothing to the output), keeping
    * the one-definition parity the spec drains against. */
  def purchaseViewOuterJoinHeartbeat(events: DataFrame,
                                     watermark: String = "10 minutes"): DataFrame = {
    val wm = (df: DataFrame, tsCol: String) =>
      if (df.isStreaming) df.withWatermark(tsCol, watermark) else df
    def heartbeat(idCol: String, user: Long, userCol: String, tsCol: String) =
      events.select(lit(-1L).as(idCol), lit(user).as(userCol),
        col("ts").as(tsCol))
    val purchases = wm(events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts"))
      .unionByName(heartbeat("p_id", -1L, "user_id", "ts")), "ts")
    val views = wm(events.filter(col("event_type") === "view")
      .select(col("event_id").as("v_id"), col("user_id").as("v_user"),
        col("ts").as("v_ts"))
      .unionByName(heartbeat("v_id", -2L, "v_user", "v_ts")), "v_ts")
    purchases.join(views,
      col("user_id") === col("v_user") &&
        col("v_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("v_ts") <= col("ts"),
      "left_outer")
      .filter(col("user_id") =!= -1L) // the purchase-side sentinels
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
    * need per-side heartbeats exactly as
    * [[purchaseViewOuterJoinHeartbeat]] ships them. Batch inputs
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

  /** IDEMPOTENT micro-batch file sink via foreachBatch: every batch
    * writes to an epoch-keyed partition directory with overwrite
    * mode, so a replayed batch (failure recovery re-executes the
    * last uncommitted epoch) overwrites its own previous output
    * instead of appending duplicates — the exactly-once file-sink
    * pattern for sinks without transactional commit.
    */
  def idempotentParquetSink(df: DataFrame, outDir: String,
                            checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** STREAMING WRITE-AUDIT-PUBLISH onto a BRANCH (x96's refs as the
    * continuous-ingest quality gate): each micro-batch lands as an
    * epoch-tagged STAGED append on the ingest branch
    * ([[graft.sources.Branches.commitTo]] — durable, version-
    * numbered, invisible to every `latest` reader), replay-safe via
    * the ref-chain epoch test (an at-least-once redelivery folds
    * nothing; a lost-CAS ghost never joined the chain so it can
    * never suppress the retry). Production readers see the stream
    * only in AUDITED increments: an audit reads the branch head by
    * name, and fast-forward publishes the whole accumulated chain as
    * metadata flips — the streaming generalization of x32's
    * one-version WAP. Returns the staged version, or None on a
    * replay skip. */
  def branchFold(batch: DataFrame, dir: String, branch: String,
                 epochId: Long): Option[Int] = {
    import graft.sources.{Branches, Snapshots}
    if (Branches.epochLanded(batch.sparkSession, dir, branch, epochId)) None
    else {
      // x102 gates the streaming branch path like every other write:
      // a constrained table's CHECK refuses the batch before it even
      // stages (fail-fast; fastForward re-checks the whole chain at
      // merge time for constraints registered after staging)
      Snapshots.enforceConstraints(batch.sparkSession, dir, batch)
      Some(Branches.commitTo(batch, dir, branch, epoch = Some(epochId)))
    }
  }

  def branchSink(stream: DataFrame, dir: String, branch: String,
                 checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        branchFold(batch, dir, branch, epochId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Schema of the lineitem slice the streaming IVM maintains its
    * join-view state over (x35's fact-side columns). */
  val lineitemSliceSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_extendedprice", DoubleType)))

  /** Read a directory of (l_orderkey, l_extendedprice) parquet files
    * as a stream — the arriving fact-table delta feed. */
  def readLineitemStream(spark: SparkSession, dir: String,
                         maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(lineitemSliceSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** STREAMING IVM — x35's join-view maintenance run per micro-batch,
    * the production shape of the batch query's one split: each
    * arriving lineitem batch joins the static orders dimension
    * (ΔL⋈O, Δ-sized on the stream side), aggregates to x12's monoid
    * state, and folds into the persistent per-customer state with
    * IncrementalAgg.merge. Each folded state lands as a NEW
    * Snapshots version — a log-visible commit, never an in-place
    * overwrite of a table the merge is concurrently reading — so a
    * crash mid-fold leaves the previous state version intact.
    * Drained-state == one-shot batch aggregate is pinned by
    * StreamingSpec; per-batch cost is O(|Δ| · join fanout) + a
    * key-cardinality merge, never a history rescan. (The state table
    * grows one version per batch — x29's vacuum retention is the
    * companion operator that prunes old state versions.)
    */
  def ivmSink(lineitems: DataFrame, orders: DataFrame,
              stateDir: String, checkpoint: String): DataStreamWriter[Row] =
    lineitems.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ivmFold(batch, orders, stateDir, epochId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** One mergeable ANALYZE state row (x41's shape): exact counters
    * plus a DataSketches HLL sketch for NDV — every field merges, so
    * catalog maintenance under an unbounded feed costs O(|Δ|) per
    * batch, never a history rescan. */
  def statsState(df: DataFrame, valueCol: String, keyCol: String): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      (count(lit(1)) - count(col(valueCol))).as("n_nulls"),
      min(col(valueCol)).cast("double").as("min_num"),
      max(col(valueCol)).cast("double").as("max_num"),
      hll_sketch_agg(col(keyCol), lit(12)).as("key_sketch"))

  /** Merge two one-row stats states: counts add, bounds combine,
    * sketches union (register-wise max). */
  def mergeStatsStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b).agg(
      sum(col("n_rows")).as("n_rows"),
      sum(col("n_nulls")).as("n_nulls"),
      min(col("min_num")).as("min_num"),
      max(col("max_num")).as("max_num"),
      hll_union_agg(col("key_sketch"), lit(false)).as("key_sketch"))

  /** STREAMING INCREMENTAL ANALYZE — x41's maintenance loop run per
    * micro-batch: each arriving batch's stats state folds into the
    * Snapshots-committed catalog state, epoch-tagged like [[ivmFold]]
    * so an at-least-once replay merges nothing. Drained state equals
    * the one-shot profile of everything (StreamingSpec pins the exact
    * fields and the sketch's 3σ envelope) — how a 100 TB/day feed
    * keeps its stats catalog fresh. */
  def statsFold(batch: DataFrame, valueCol: String, keyCol: String,
                stateDir: String, epochId: Long): Option[Int] = {
    import graft.sources.Snapshots
    val s = batch.sparkSession
    val delta = statsState(batch, valueCol, keyCol)
    val merged =
      if (Snapshots.versions(s, stateDir).isEmpty) delta
      else mergeStatsStates(Snapshots.read(s, stateDir), delta)
    Snapshots.commitEpoch(merged, stateDir, epochId)
  }

  def statsSink(stream: DataFrame, valueCol: String, keyCol: String,
                stateDir: String, checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        statsFold(batch, valueCol, keyCol, stateDir, epochId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** One micro-batch's CDC-MERGE fold — the streaming twin of x51's
    * general MERGE INTO: the batch is a changeset (pre-reduced
    * latest-wins on `seqCol` per key, mergeInto's at-most-one-row
    * contract), merged into the stored snapshot with the same
    * [[graft.ops.Merge.mergeInto]] arms the batch operator uses, and
    * committed EPOCH-TAGGED ([[graft.sources.Snapshots.commitEpoch]])
    * — a replayed micro-batch finds its tag in the log and merges
    * nothing (the merge plan is lazy; the skip costs no compute), so
    * at-least-once delivery yields exactly-once state. The per-batch
    * folds COMPOSE to the one-shot merge of the global latest-wins
    * changeset provided the arms are seq-consistent (a delete signal
    * must not insert: pass a `notMatchedInsert` that rejects it —
    * StreamingSpec pins the equivalence). Returns the committed
    * version, or None for a replay skip. */
  def mergeFold(batch: DataFrame, stateDir: String, key: String,
                seqCol: String,
                matchedDelete: (Column, Column) => Column,
                notMatchedInsert: Column => Column,
                epochId: Long): Option[Int] = {
    import graft.sources.Snapshots
    import org.apache.spark.sql.expressions.Window
    val s = batch.sparkSession
    val w = Window.partitionBy(col(key)).orderBy(col(seqCol).desc)
    val latest = batch.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn", seqCol)
    val target =
      if (Snapshots.versions(s, stateDir).isEmpty) latest.limit(0)
      else Snapshots.read(s, stateDir)
    // checkUniqueSource = false: the row_number reduce above already
    // guarantees at-most-one row per key, and the eager uniqueness
    // groupBy would add a blocking source-sized job to EVERY
    // micro-batch epoch for no safety gain — exactly the
    // pre-deduplicated hot path the check's opt-out exists for.
    val merged = graft.ops.Merge.mergeInto(target, latest, key,
      matchedDelete = matchedDelete, notMatchedInsert = notMatchedInsert,
      checkUniqueSource = false)
    Snapshots.commitEpoch(merged, stateDir, epochId)
  }

  /** EXACTLY-ONCE MULTI-TABLE STREAMING SINK — x45's transaction run
    * per micro-batch: each epoch appends the batch's documents AND
    * folds their stats into the catalog table ATOMICALLY (one
    * decision marker), so no reader ever observes documents from an
    * epoch whose stats have not landed, or vice versa — the
    * docs+stats consistency x45 guarantees batch-side, held under an
    * unbounded feed. Idempotence: a replayed epoch finds a VISIBLE
    * version carrying its tag ([[graft.sources.Snapshots
    * .epochCommitted]]) and stages nothing; a crashed attempt's
    * staged ghosts are undecided (attempt-unique txn ids), invisible
    * forever, and never suppress the retry that must land the epoch
    * — vacuum ages them out. Returns false on a replay skip. */
  def txnFold(batch: DataFrame, docsDir: String, statsDir: String,
              txnDir: String, epochId: Long): Boolean = {
    import graft.sources.{Snapshots, TxnDecidedException}
    val s = batch.sparkSession
    if (Snapshots.epochCommitted(s, docsDir, epochId)) return false
    val txnId = s"epoch-$epochId-" +
      java.util.UUID.randomUUID().toString.take(8)
    val delta = statsState(batch, "n_chars", "doc_id")
    val mergedStats =
      if (Snapshots.versions(s, statsDir).isEmpty) delta
      else mergeStatsStates(Snapshots.read(s, statsDir), delta)
    Snapshots.txnStageEpoch(batch, docsDir, txnDir, txnId, epochId)
    Snapshots.txnStageEpoch(mergedStats, statsDir, txnDir, txnId, epochId)
    try { Snapshots.txnCommit(s, txnDir, txnId, Seq(docsDir, statsDir)); true }
    catch { case _: TxnDecidedException => false }
  }

  def txnSink(stream: DataFrame, docsDir: String, statsDir: String,
              txnDir: String, checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        txnFold(batch, docsDir, statsDir, txnDir, epochId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** STREAMING INDEX MAINTENANCE — v26's twin, the index fleet's
    * real deployment: the drift monitor's verdict fires from the
    * INGEST path, not a nightly job. Per micro-batch of vectors
    * (vec_id, embedding):
    *
    *  1. admit by v20's append — assignment at the CURRENT committed
    *     centroids, a narrow map against the model-sized broadcast
    *     (zero stored-side IO);
    *  2. read v25's verdict from assignment METADATA only (batch
    *     cluster shares vs stored shares, exact integer 256ths —
    *     [[graft.ops.Ivf.shareDrift]]);
    *  3. a quiet verdict lands the appended assignment state
    *     EPOCH-TAGGED ([[graft.sources.Snapshots.commitEpoch]] —
    *     replays fold nothing); a fired verdict retrains EXACTLY
    *     over stored ∪ batch and lands gen-(n+1) centroids +
    *     assignments in ONE x45 transaction (v24's torn-index
    *     discipline), the epoch tag riding the txn stage so a
    *     replayed rebuild epoch also folds nothing.
    *
    * Returns (rebuildFired, landed); (false, false) on a replay
    * skip. Folds COMPOSE to v26's one-shot loop: when the final
    * drifted epoch fires, the committed generation is the exact
    * retrain over the whole corpus — bit-equal to the batch query's
    * gen-2 (StreamingSpec pins the parity). */
  def indexFold(batch: DataFrame, centDir: String, asgDir: String,
                txnDir: String, k: Int, passes: Int, driftMax256: Int,
                epochId: Long): (Boolean, Boolean) = {
    import graft.sources.{Snapshots, TxnDecidedException}
    val s = batch.sparkSession
    if (Snapshots.epochCommitted(s, asgDir, epochId)) return (false, false)
    val cents = Snapshots.read(s, centDir)
    val stored = Snapshots.read(s, asgDir)
      .select(col("vec_id"), col("_vec"), col("cluster_id"))
    val batchAsg = graft.ops.Ivf.append(
      graft.ops.Ivf.Index(cents, stored.limit(0), "vec_id"),
      batch, "embedding").assigned
    val tagged = stored.withColumn("_hist", lit(true))
      .unionByName(batchAsg.withColumn("_hist", lit(false)))
    val rebuild = graft.ops.Ivf.shareDrift(tagged, col("_hist"), driftMax256)
      .select(col("rebuild")).limit(1).collect().head.getBoolean(0)
    if (!rebuild) {
      (false, Snapshots.commitEpoch(
        stored.unionByName(batchAsg), asgDir, epochId).isDefined)
    } else {
      val corpus = stored.select(col("vec_id"), col("_vec").as("embedding"))
        .unionByName(batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding")))
      val gen2 = graft.ops.Ivf.buildExact(corpus, "vec_id", "embedding",
        k = k, assignPasses = passes)
      val txnId = s"epoch-$epochId-" +
        java.util.UUID.randomUUID().toString.take(8)
      Snapshots.txnStageEpoch(gen2.centroids, centDir, txnDir, txnId, epochId)
      Snapshots.txnStageEpoch(gen2.assigned, asgDir, txnDir, txnId, epochId)
      try {
        Snapshots.txnCommit(s, txnDir, txnId, Seq(centDir, asgDir))
        (true, true)
      } catch { case _: TxnDecidedException => (true, false) }
    }
  }

  def indexSink(stream: DataFrame, centDir: String, asgDir: String,
                txnDir: String, k: Int, passes: Int, driftMax256: Int,
                checkpoint: String): DataStreamWriter[Row] =
    stream.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        indexFold(batch, centDir, asgDir, txnDir, k, passes,
          driftMax256, epochId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  val vectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType))))

  def readVectorStream(spark: SparkSession, dir: String,
                       maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(vectorSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** One micro-batch's fold of [[ivmSink]], exposed so the replay
    * contract is directly testable: the delta-join state merges into
    * the stored state and commits EPOCH-TAGGED
    * ([[graft.sources.Snapshots.commitEpoch]]). foreachBatch is
    * at-least-once — a crash after the state commit but before the
    * checkpoint offset commit re-executes the same epoch — and a
    * replayed epoch finds its tag already in the version log and
    * folds NOTHING (the merge plan is lazy, so the skip costs no
    * compute), preserving drained-state == one-shot identity under
    * recovery instead of silently double-counting the delta. Returns
    * the committed version, or None for a replay skip. */
  def ivmFold(batch: DataFrame, orders: DataFrame,
              stateDir: String, epochId: Long): Option[Int] = {
    import graft.ops.IncrementalAgg
    import graft.sources.Snapshots
    val s = batch.sparkSession
    val delta = IncrementalAgg.state(
      batch.join(orders, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey"), col("l_extendedprice")),
      "o_custkey", "l_extendedprice")
    val merged =
      if (Snapshots.versions(s, stateDir).isEmpty) delta
      else IncrementalAgg.merge(
        Snapshots.read(s, stateDir), delta, "o_custkey")
    Snapshots.commitEpoch(merged, stateDir, epochId)
  }

  /** Schema of the documents fixture — the quality-gate stream's
    * input (TESTDATA.md). */
  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Read a directory of document parquet files as a stream.
    * `maxFilesPerTrigger` forces multi-micro-batch processing — the
    * parity spec uses it to prove the gates hold ACROSS batch
    * boundaries, not just on a single-batch drain. */
  def readDocStream(spark: SparkSession, dir: String,
                    maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n))
      .parquet(dir)
  }

  /** Streaming QUALITY GATE — documents scored ON ARRIVAL with a
    * batch-pinned keep-flag battery (t20's Gopher rules, t25's
    * repetition rules): the production ingest shape, where a
    * document's keep/drop verdict lands with the document instead of
    * in a nightly sweep. The battery runs INSIDE foreachBatch via
    * the idempotent epoch-keyed sink (same exactly-once pattern as
    * [[idempotentParquetSink]]), and because every battery
    * aggregation is keyed by doc_id — no cross-document state — the
    * drained stream output over any micro-batch split equals the
    * batch battery over the whole input. The battery argument IS the
    * batch function (TextQ), one definition for both paths, so the
    * streaming twin can never drift from the oracle-checked batch
    * semantics (StreamingSpec pins the parity).
    */
  def scoreDocs(docs: DataFrame, battery: DataFrame => DataFrame,
                outDir: String, checkpoint: String): DataStreamWriter[Row] =
    docs.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        battery(batch).write.mode("overwrite").parquet(s"$outDir/epoch=$epochId")
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** EXACTLY-ONCE streaming sink into a Snapshots table: every
    * micro-batch commits as an epoch-tagged version via
    * [[graft.sources.Snapshots.commitEpoch]], so a replayed epoch
    * (failure recovery re-executes the last uncommitted micro-batch)
    * finds its tag in the version log and commits NOTHING — the log
    * is the transactional sink commit, and downstream readers see
    * each batch exactly once through the published version chain.
    * The lakehouse upgrade of [[idempotentParquetSink]]: same
    * idempotence, plus time travel / vacuum / the whole Snapshots
    * contract over the sunk stream.
    */
  def snapshotSink(df: DataFrame, dir: String,
                   checkpoint: String): DataStreamWriter[Row] =
    df.writeStream
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        graft.sources.Snapshots.commitEpoch(batch, dir, epochId); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())

  /** Synchronous local run into an in-memory table (test/dev path):
    * processes everything currently in `dir`, returns the query. In
    * append mode only windows older than the watermark emit — the
    * caller decides whether to inspect partial state via `Complete`.
    */
  def runToMemory(spark: SparkSession, dir: String, queryName: String,
                  mode: OutputMode = OutputMode.Complete): StreamingQuery = {
    val q = windowedCounts(readStream(spark, dir))
      .writeStream.outputMode(mode)
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q
  }
}
