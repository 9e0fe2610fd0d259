package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.EventStream

/** Streaming/batch parity: each EventStream operator, run over a
  * stream, must produce exactly its batch result once the stream is
  * drained (SURVEY.md §2.11); plus the change-feed subscriptions'
  * cursor and restart contracts.
  */
class StreamingSpec extends SparkSpec {

  test("streaming dedup drops re-delivered event ids, state bounded by watermark") {
    val dir = java.nio.file.Files.createTempDirectory("dedupstream").toString
    import spark.implicits._
    val t = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // duplicate deliveries of event 1 within the watermark horizon
    Seq((1L, t, 1L, "click", 1.0, "{}"),
        (1L, t, 1L, "click", 1.0, "{}"),
        (2L, t, 1L, "view", 2.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir)
    val q = EventStream.dedupedEvents(
        spark.readStream.schema(EventStream.eventSchema).parquet(dir))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val out = spark.table("dedup_out").select("event_id").as[Long].collect().sorted
      assert(out.toSeq == Seq(1L, 2L))
    } finally q.stop()
    // batch fallback: same contract on a finite input
    val batch = EventStream.dedupedEvents(spark.read.parquet(dir))
    assert(batch.count() == 2)
  }

  test("s7 at-least-once feed streamed across micro-batches equals the batch dedup") {
    // the s7 feed (each hash-chosen event delivered twice), written as
    // 4 files and streamed one file per trigger, so re-deliveries can
    // straddle micro-batch boundaries; the watermark horizon covers
    // the fixture's whole time span, so no row is ever late and the
    // drained output must equal the batch dropDuplicates exactly
    val dir = java.nio.file.Files.createTempDirectory("s7feed").toString
    val ev = Tables.load(spark, Sf0001, "events")
    val re = ev.filter(
      graft.ops.TextFns.hash60(concat(lit("redeliver|"),
        col("event_id").cast("string"))) % 10 === 0)
    assert(re.count() > 0, "the redelivery subset must be non-empty")
    ev.unionByName(re).repartition(4).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(EventStream.eventSchema)
      .option("maxFilesPerTrigger", 1).parquet(dir)
    val q = EventStream.dedupedEvents(stream, watermark = "100 days")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("s7_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("s7_out")
      assert(got.count() == ev.count(),
        "every event id must survive exactly once after the drain")
      val g = got.groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().toSeq
      val b = EventStream.dedupedEvents(ev.unionByName(re))
        .groupBy("event_type").agg(count(lit(1)).as("n"))
        .orderBy("event_type").collect().toSeq
      assert(g == b, "per-type counts must match the batch twin")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join once drained") {
    val dir = java.nio.file.Files.createTempDirectory("ssjoin").toString
    Tables.load(spark, Sf0001, "events").write.mode("overwrite").parquet(dir)
    val streamed = EventStream.purchaseViewJoin(
      spark.readStream.schema(EventStream.eventSchema).parquet(dir))
    val q = streamed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("ssjoin_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("ssjoin_out")
        .orderBy("p_id", "v_id").collect()
      val batch = EventStream.purchaseViewJoin(spark.read.parquet(dir))
        .orderBy("p_id", "v_id").collect()
      assert(got.length == batch.length && got.length > 0)
      assert(got.sameElements(batch))
    } finally q.stop()
  }

  test("LEFT-OUTER interval join emits its null rows only after the watermark proves them") {
    // the streaming-hard part of s8: an unmatched purchase's null row
    // may only emit once the watermark passes its join window — on a
    // finite source that takes a watermark-advancing flush event
    // (matching nothing: a view for an impossible user), after which
    // the drained output must equal the batch LEFT JOIN exactly
    val dir = java.nio.file.Files.createTempDirectory("osjoin").toString
    val events = Tables.load(spark, Sf0001, "events")
    events.write.mode("overwrite").parquet(dir)
    val streamed = EventStream.purchaseViewOuterJoin(
      spark.readStream.schema(EventStream.eventSchema).parquet(dir))
    val q = streamed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("osjoin_out").start()
    try {
      q.processAllAvailable()
      val beforeFlush = spark.table("osjoin_out").count()
      val maxTs = events.agg(org.apache.spark.sql.functions.max(col("ts")))
        .collect().head.getTimestamp(0)
      // two flush batches, each carrying BOTH event types: the global
      // watermark is the MIN across the two sides' watermark nodes,
      // and each side only sees its own type — a view-only flush
      // leaves the purchase side's watermark 10 minutes behind max
      // ts, permanently holding the newest purchase's null row (found
      // the hard way: event 999). The second batch gives the state
      // store a trigger against the already-advanced watermark.
      for (h <- Seq(3L, 4L); et <- Seq("view", "purchase")) {
        events.limit(1)
          .withColumn("ts", org.apache.spark.sql.functions.lit(
            new java.sql.Timestamp(maxTs.getTime + h * 3600 * 1000)))
          .withColumn("event_type", org.apache.spark.sql.functions.lit(et))
          .withColumn("user_id", org.apache.spark.sql.functions.lit(-1L))
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val got = spark.table("osjoin_out")
        .filter(col("user_id") =!= -1L) // drop the flush rows' own output
        .orderBy("p_id", "v_id").collect()
      val batch = EventStream.purchaseViewOuterJoin(
          spark.read.parquet(dir).filter(col("user_id") =!= -1L))
        .orderBy("p_id", "v_id").collect()
      assert(got.length == batch.length && got.length > 0)
      assert(got.length > beforeFlush.toInt,
        "the flush must have released watermark-held null rows")
      assert(got.exists(_.isNullAt(3)), "unmatched purchases must carry null views")
      assert(got.sameElements(batch))
    } finally q.stop()
  }

  test("FULL-OUTER interval join drains both null directions to batch parity") {
    // s9: an unmatched purchase's null-view row AND an unmatched
    // view's null-purchase row both emit only after the watermark
    // proves no future match — the flush batches carry BOTH event
    // types because the global watermark is the MIN across the two
    // sides' watermark nodes (s8's pitfall, applying DOUBLY here: a
    // quiet side would hold BOTH directions' nulls)
    val dir = java.nio.file.Files.createTempDirectory("fojoin").toString
    val events = Tables.load(spark, Sf0001, "events")
    events.write.mode("overwrite").parquet(dir)
    val streamed = EventStream.purchaseViewFullOuterJoin(
      spark.readStream.schema(EventStream.eventSchema).parquet(dir))
    val q = streamed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("fojoin_out").start()
    try {
      q.processAllAvailable()
      val beforeFlush = spark.table("fojoin_out").count()
      val maxTs = events.agg(org.apache.spark.sql.functions.max(col("ts")))
        .collect().head.getTimestamp(0)
      for (h <- Seq(3L, 4L); et <- Seq("view", "purchase")) {
        events.limit(1)
          .withColumn("ts", org.apache.spark.sql.functions.lit(
            new java.sql.Timestamp(maxTs.getTime + h * 3600 * 1000)))
          .withColumn("event_type", org.apache.spark.sql.functions.lit(et))
          .withColumn("user_id", org.apache.spark.sql.functions.lit(-1L))
          .write.mode("append").parquet(dir)
        q.processAllAvailable()
      }
      val got = spark.table("fojoin_out")
        .filter(coalesce(col("user_id"), lit(0L)) =!= -1L &&
          coalesce(col("v_user"), lit(0L)) =!= -1L)
        .orderBy("p_id", "v_id").collect()
      val batch = EventStream.purchaseViewFullOuterJoin(
          spark.read.parquet(dir).filter(col("user_id") =!= -1L))
        .orderBy("p_id", "v_id").collect()
      assert(got.length == batch.length && got.length > 0)
      assert(got.length > beforeFlush.toInt,
        "the flush must have released watermark-held null rows")
      assert(got.exists(_.isNullAt(3)),
        "unmatched purchases must carry null view columns")
      assert(got.exists(_.isNullAt(0)),
        "unmatched views must carry null purchase columns — the s9 direction")
      assert(got.sameElements(batch))
    } finally q.stop()
  }

  test("stream-static enrichment join equals batch twin and keeps no state") {
    val dir = java.nio.file.Files.createTempDirectory("enrich").toString
    Tables.load(spark, Sf0001, "events").write.mode("overwrite").parquet(dir)
    import spark.implicits._
    // bounded dimension: a segment per user id bucket; user 0 is
    // deliberately absent so the left join's null path is exercised
    val dim = spark.range(1, 40)
      .select(col("id").as("user_id"),
        concat(lit("seg_"), col("id") % 4).as("segment"))
    val streamed = EventStream.enrichWithDim(
      spark.readStream.schema(EventStream.eventSchema).parquet(dir), dim)
      .select("event_id", "user_id", "segment")
    val q = streamed.writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val got = spark.table("enrich_out").orderBy("event_id").collect()
      val batch = EventStream.enrichWithDim(spark.read.parquet(dir), dim)
        .select("event_id", "user_id", "segment")
        .orderBy("event_id").collect()
      assert(got.length == batch.length && got.length > 0)
      assert(got.sameElements(batch))
      // left join: users outside the dimension survive with null segment
      assert(spark.table("enrich_out").filter(col("segment").isNull).count() > 0)
      // the static side holds NO streaming state (unlike stream-stream)
      val st = q.lastProgress.stateOperators
      assert(st == null || st.isEmpty,
        s"stream-static join must not create a state store: $st")
    } finally q.stop()
  }

  test("x103 change-feed subscription: restart resumes at the cursor; drained ≡ batch replay") {
    import spark.implicits._
    import graft.sources.{ChangeFeed, Snapshots}
    val base = java.nio.file.Files.createTempDirectory("cdf").toString
    val (dir, cursorDir, sinkDir) = (s"$base/t", s"$base/cursor", s"$base/sink")
    Snapshots.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dir)
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), dir, base = 1)
    Snapshots.commitDeletes(Seq(Tuple1(2L)).toDF("id"), dir, base = 2)
    def sink(v: Int, changes: org.apache.spark.sql.DataFrame): Unit = {
      Snapshots.commitEpoch(changes.select(lit(v).as("to_version"),
        col("op"), col("id")), sinkDir, v.toLong); ()
    }
    val sub1 = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    assert(sub1.position() == 0)
    val (v1, b1) = sub1.poll().get
    assert(v1 == 1)
    sink(v1, b1); sub1.commitCursor(v1)
    // crash between sink and cursor commit → redelivery on restart
    val (v2, b2) = sub1.poll().get
    sink(v2, b2)
    val sub2 = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    assert(sub2.position() == 1, "restart resumes at the persisted cursor")
    assert(sub2.drain(sink) == 2, "redelivered v2 + fresh v3")
    assert(Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
      .drain(sink) == 0, "a drained subscription stays drained")
    // late subscription picks up ONLY the new commit (O(Δ) catch-up)
    Snapshots.commitAppend(Seq((9L, "z")).toDF("id", "v"), dir, base = 3)
    assert(sub2.drain(sink) == 1)
    // drained sink ≡ batch table_changes replay, row for row
    val sunk = Snapshots.versions(spark, sinkDir)
      .map(v => Snapshots.read(spark, sinkDir, Some(v)))
      .reduce(_ unionByName _)
    val replay = ChangeFeed.changesSince(spark, dir, Seq("id"))
    assert(sunk.exceptAll(replay).isEmpty && replay.exceptAll(sunk).isEmpty)
    assert(replay.count() == 3 + 1 + 1 + 1)
  }

  test("x112: range poll folds versions into one epoch; restart mid-range redelivers the span") {
    import spark.implicits._
    import graft.sources.Snapshots
    val base = java.nio.file.Files.createTempDirectory("cdfrange").toString
    val (dir, cursorDir) = (s"$base/t", s"$base/cursor")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commitAppend(Seq((2L, "b")).toDF("id", "v"), dir, base = 1)
    Snapshots.commitAppend(Seq((3L, "c")).toDF("id", "v"), dir, base = 2)
    Snapshots.commitAppend(Seq((4L, "d")).toDF("id", "v"), dir, base = 3)
    Snapshots.commitAppend(Seq((5L, "e")).toDF("id", "v"), dir, base = 4)
    val sub = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    // 5 versions at maxVersions=2 → spans [1,2] [3,4] [5]
    val (lo1, hi1, b1) = sub.pollRange(2).get
    assert((lo1, hi1) == (1, 2))
    assert(b1.select("to_version").distinct().collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(1, 2),
      "the folded batch carries both versions' rows, tagged")
    // crash before the cursor commit: a fresh instance redelivers
    // the SAME range, not a shifted one
    val sub2 = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    val (lo2, hi2, _) = sub2.pollRange(2).get
    assert((lo2, hi2) == (1, 2), "restart mid-range replays the span")
    sub2.commitCursor(hi2)
    var spans = Seq.empty[(Int, Int)]
    assert(sub2.drainRange(2)((lo, hi, _) => spans :+= (lo, hi)) == 2)
    assert(spans == Seq((3, 4), (5, 5)))
    assert(sub2.pollRange(2).isEmpty, "drained stays drained")
    // and the single-version poll still works off the same cursor
    Snapshots.commitAppend(Seq((6L, "f")).toDF("id", "v"), dir, base = 5)
    assert(sub2.poll().get._1 == 6)
  }

  test("x120: page poll splits a giant version; restart mid-page redelivers; exact multiples end clean") {
    import spark.implicits._
    import graft.sources.Snapshots
    val base = java.nio.file.Files.createTempDirectory("cdfpage").toString
    val (dir, cursorDir) = (s"$base/t", s"$base/cursor")
    // v1: 10 rows (→ pages of 4,4,2 at maxRows=4); v2: 8 rows (4,4 —
    // an EXACT multiple, the trailing-empty-poll edge)
    Snapshots.commit((1L to 10L).map(i => (i, "a")).toDF("id", "v"), dir)
    Snapshots.commitAppend((11L to 18L).map(i => (i, "b")).toDF("id", "v"),
      dir, base = 1)
    val sub = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    val (v1, off1, p1) = sub.pollPage(4).get
    assert((v1, off1) == (1, 0) && p1.count() == 4)
    // crash before commitPage: a fresh instance redelivers the SAME page
    val sub2 = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    val (v2, off2, p2) = sub2.pollPage(4).get
    assert((v2, off2) == (1, 0))
    assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty,
      "the deterministic total order makes the redelivered page identical")
    sub2.commitPage(v2, off2, p2.count(), 4)
    // page cursor advanced within v1; the full cursor has not moved
    assert(sub2.position() == 0 && sub2.pageOffset(1) == 4)
    // drain the rest: v1 pages (4,2) then v2 pages (4,4 exact multiple)
    var pages = Seq.empty[(Int, Int, Long)]
    val n = sub2.drainPages(4)((v, off, page) =>
      pages :+= ((v, off, page.count())))
    assert(pages == Seq((1, 4, 4L), (1, 8, 2L), (2, 0, 4L), (2, 4, 4L)),
      s"got $pages")
    assert(n == 4 && sub2.pollPage(4).isEmpty, "drained stays drained")
    // the union of all delivered pages equals the whole feed
    assert(sub2.position() == 2, "the exact-multiple version completed")
    // page cursors are superseded and cleaned by the full cursor
    assert(sub2.pageOffset(1) == 0 && sub2.pageOffset(2) == 0)
    // interop: the version-axis polls keep working off the same cursor
    Snapshots.commitAppend(Seq((99L, "z")).toDF("id", "v"), dir, base = 2)
    assert(sub2.poll().get._1 == 3)
  }

  test("x120: page plan is a rank-range read of a once-numbered sidecar — no unpartitioned Window, no per-page re-sort") {
    import spark.implicits._
    import graft.sources.Snapshots
    val base = java.nio.file.Files.createTempDirectory("cdfpageplan").toString
    val (dir, cursorDir) = (s"$base/t", s"$base/cursor")
    Snapshots.commit((1L to 10L).map(i => (i, "a")).toDF("id", "v"), dir)
    val sub = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    val (_, _, p1) = sub.pollPage(4).get
    // the served page must NOT carry the single-reducer numbering the
    // old implementation used (ops/GlobalIndex.scala names it as the
    // anti-pattern): the sort ran once, inside the sidecar commit
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = p1.queryExecution.optimizedPlan.collect {
      case w: LWindow => w
    }
    assert(windows.isEmpty, "pollPage must serve pages without any Window")
    // the numbering was materialized exactly once, as a snapshot
    // sidecar the next polls reuse
    assert(Snapshots.versions(spark, s"$cursorDir/_feed_v1") == Seq(1))
    val feedFiles = {
      val p = new org.apache.hadoop.fs.Path(s"$cursorDir/_feed_v1")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).toSet
    }
    val (_, _, p2) = sub.pollPage(4).get // re-poll: same sidecar, no rewrite
    assert(p1.exceptAll(p2).isEmpty && p2.exceptAll(p1).isEmpty)
    val feedFiles2 = {
      val p = new org.apache.hadoop.fs.Path(s"$cursorDir/_feed_v1")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(p).map(_.getPath.getName).toSet
    }
    assert(feedFiles == feedFiles2, "re-polls must reuse the sidecar, not rewrite it")
    // draining the version supersedes and cleans its sidecar
    sub.drainPages(4)((_, _, _) => ())
    val fs = new org.apache.hadoop.fs.Path(cursorDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$cursorDir/_feed_v1")),
      "the completed version's numbered-feed sidecar must be cleaned")
  }

  test("x103: retention truncating a lagging subscriber's feed raises instead of skipping") {
    import spark.implicits._
    import graft.sources.Snapshots
    val base = java.nio.file.Files.createTempDirectory("cdfgap").toString
    val (dir, cursorDir) = (s"$base/t", s"$base/cursor")
    Snapshots.commit(Seq((1L, "a")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((2L, "b")).toDF("id", "v"), dir)
    Snapshots.commit(Seq((3L, "c")).toDF("id", "v"), dir)
    val sub = Snapshots.readChangeStream(spark, dir, Seq("id"), cursorDir)
    val (v1, _) = sub.poll().get
    sub.commitCursor(v1)
    // the subscriber lags; a vacuum physically removes v2 (v3 is a
    // full commit, so no chain closure pins it)
    assert(Snapshots.vacuum(spark, dir, keepLast = 1) == Seq(1, 2))
    val e = intercept[IllegalStateException] { sub.poll() }
    assert(e.getMessage.contains("truncated") && e.getMessage.contains("2"),
      s"the gap must be named: ${e.getMessage}")
    // a STAGED ghost's skipped number is NOT a gap (WAP shadowing):
    // the cursor steps past it without raising
    Snapshots.commitStaged(Seq((8L, "ghost")).toDF("id", "v"), dir) // v4
    Snapshots.commit(Seq((9L, "z")).toDF("id", "v"), dir)           // v5
    val sub2 = Snapshots.readChangeStream(spark, dir, Seq("id"),
      s"$base/cursor2")
    val (w1, _) = sub2.poll().get
    assert(w1 == 3)
    sub2.commitCursor(w1)
    val (w2, _) = sub2.poll().get
    assert(w2 == 5, "the staged v4 is shadow-skipped, not a truncation")
  }
}
