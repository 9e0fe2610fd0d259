package graft

import org.apache.spark.sql.functions._
import graft.ops.Analyze

/** ANALYZE legs (x34/x36) and the stats→planner loop (x37): the
  * statistics must be right, and the planning decision must actually
  * follow them — in both directions, with the byte-cap guard. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  test("numLeg/strLeg profile counts, NDV, bounds and width") {
    val df = Seq((1L, "aa"), (2L, "aa"), (3L, null)).toDF("k", "s")
    val num = Analyze.numLeg(df, "k", col("k")).collect().head
    assert(num.getString(0) == "k" && num.getLong(1) == 3 &&
      num.getLong(2) == 0 && num.getLong(3) == 3)
    assert(num.getDouble(4) == 1.0 && num.getDouble(5) == 3.0)
    val str = Analyze.strLeg(df, "s").collect().head
    assert(str.getLong(1) == 3 && str.getLong(2) == 1 && str.getLong(3) == 1)
    assert(str.getString(6) == "aa" && str.getString(7) == "aa" &&
      str.getDouble(8) == 2.0)
  }

  test("estBytes combines row count with per-column widths") {
    val df = Seq((1L, "abcd"), (2L, "ab")).toDF("k", "s")
    val stats = Analyze.numLeg(df, "k", col("k"))
      .unionByName(Analyze.strLeg(df, "s")).collect()
    // 2 rows × (8 numeric + (3.0 avg + 4) string) = 30
    assert(Analyze.estBytes(stats) == 30L)
  }

  test("statsChosenJoin follows the stats in both directions and respects the byte cap") {
    val big = spark.range(1000).select(col("id").as("k"), col("id").as("v"))
    val small = spark.range(10).select(col("id").as("k"), col("id").as("w"))
    def statsOf(df: org.apache.spark.sql.DataFrame) =
      Analyze.numLeg(df, "k", col("k")).collect()
    val (bs, ss) = (statsOf(big), statsOf(small))
    // the static threshold is disabled, so ONLY the stats-driven hint
    // can produce a broadcast join
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      def physical(df: org.apache.spark.sql.DataFrame) =
        df.queryExecution.executedPlan.toString
      val (j1, side1) = Analyze.statsChosenJoin(
        big, bs, small, ss, big("k") === small("k"))
      assert(side1 == "right")
      assert(physical(j1).contains("BroadcastHashJoin") &&
        physical(j1).contains("BuildRight"),
        "the fewer-rows right side must be the broadcast build side")
      assert(j1.count() == 10)
      // reversed inputs: the decision flips with the stats
      val (j2, side2) = Analyze.statsChosenJoin(
        small, ss, big, bs, small("k") === big("k"))
      assert(side2 == "left")
      assert(physical(j2).contains("BroadcastHashJoin") &&
        physical(j2).contains("BuildLeft"))
      // lying stats flip the decision too — proof the plan follows the
      // STATS, not the data: tell it the big side is the small one
      val (j3, side3) = Analyze.statsChosenJoin(
        big, ss, small, bs, big("k") === small("k"))
      assert(side3 == "left" && physical(j3).contains("BuildLeft"))
      // neither side under the cap -> no hint, shuffle join
      val (j4, side4) = Analyze.statsChosenJoin(
        big, bs, small, ss, big("k") === small("k"), maxBroadcastBytes = 10)
      assert(side4 == "none" && !physical(j4).contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("skewChosenJoin flips between salted and shuffle on the stats; results identical") {
    // 60% of the probe rows share one key — the salted branch must
    // carry the (key, _salt) exchange, the shuffle branch must not,
    // and both must produce the same rows (the rewrite is
    // semantics-preserving; only the distribution changes)
    val probe = spark.range(1000).select(col("id"),
      when(col("id") < 600, lit("hot")).otherwise(concat(lit("k"), col("id")))
        .as("k"))
    val build = probe.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val (j1, c1) = Analyze.skewChosenJoin(probe, build, "k",
        top1Share = 0.6, shards = 4, tieBreak = "id")
      assert(c1 == "salted" &&
        j1.queryExecution.executedPlan.toString.contains("_salt"),
        "a hot key above threshold must take the salted rewrite")
      val (j2, c2) = Analyze.skewChosenJoin(probe, build, "k",
        top1Share = 0.01, shards = 4, tieBreak = "id")
      assert(c2 == "shuffle" &&
        !j2.queryExecution.executedPlan.toString.contains("_salt"),
        "a uniform key must keep the plain shuffle join")
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select(col("id"), col("k"), col("n")).collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
      assert(rows(j1) == rows(j2), "both branches must agree on the result")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x114: the runtime probe overrides a lying catalog; shares track the true distribution") {
    // the catalog claims uniform (share 0.0 → static says shuffle),
    // but 60% of the probe rows share one key: the runtime probe
    // must measure the hot partition and take the salted rewrite
    val probe = spark.range(1000).select(col("id"),
      when(col("id") < 600, lit("hot")).otherwise(concat(lit("k"), col("id")))
        .as("k"))
    val build = probe.groupBy(col("k")).agg(count(lit(1)).as("n"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // static path with the lying stats: plain shuffle
      val (_, staticChoice) = Analyze.skewChosenJoin(probe, build, "k",
        top1Share = 0.0, shards = 4, tieBreak = "id")
      assert(staticChoice == "shuffle", "the lie steers the static path wrong")
      // runtime path measures and overrides
      val (j, runtimeChoice, share) = Analyze.runtimeSkewJoin(
        probe, build, "k", shards = 4, tieBreak = "id")
      assert(share >= Analyze.RuntimeSkewThreshold256 && share <= 256,
        s"the hot partition must dominate the measured weights: $share/256")
      assert(runtimeChoice == "salted" &&
        j.queryExecution.executedPlan.toString.contains("_salt"),
        "the runtime verdict must take the salted rewrite despite the catalog")
      // a uniform key measures low and keeps the plain join
      val uni = spark.range(1000).select(col("id"),
        concat(lit("k"), col("id")).as("k"))
      val ub = uni.groupBy(col("k")).agg(count(lit(1)).as("n"))
      val (j2, c2, s2) = Analyze.runtimeSkewJoin(uni, ub, "k",
        shards = 4, tieBreak = "id")
      assert(c2 == "shuffle" && s2 < Analyze.RuntimeSkewThreshold256,
        s"uniform keys must measure low: $s2/256")
      assert(!j2.queryExecution.executedPlan.toString.contains("_salt"))
      // and the salted result equals the plain join's rows
      val plain = probe.join(build, Seq("k"))
      assert(j.exceptAll(plain).isEmpty && plain.exceptAll(j).isEmpty)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("StatsCatalog serves exact profiles + heavy-hitter shares, memoized after one ANALYZE") {
    import graft.ops.StatsCatalog
    StatsCatalog.invalidate()
    val st = StatsCatalog.stats(spark, Sf0001, "lineitem")
    val li = Tables.load(spark, Sf0001, "lineitem")
    val n = li.count()
    assert(st("l_orderkey").nRows == n && st("l_quantity").nRows == n)
    assert(st("l_orderkey").nDistinct ==
      li.select(countDistinct(col("l_orderkey"))).collect().head.getLong(0))
    // the skew signal: l_returnflag's top value share is EXACT (3
    // values, all inside the MG candidate budget) and far above the
    // decision threshold; l_orderkey's is far below it
    val exactTop = li.groupBy(col("l_returnflag")).count()
      .agg(max(col("count"))).collect().head.getLong(0).toDouble / n
    assert(st("l_returnflag").top1Share.contains(exactTop))
    assert(exactTop >= Analyze.SkewShareThreshold)
    assert(st("l_orderkey").top1Share.exists(_ < Analyze.SkewShareThreshold))
    // second read: memoized, and stable
    assert(StatsCatalog.stats(spark, Sf0001, "lineitem") == st)
  }

  test("ANALYZE is schema-derived: a table in no map profiles, with the declared HH rule") {
    import graft.ops.StatsCatalog
    val dir = java.nio.file.Files.createTempDirectory("anyTable").toString
    spark.range(200).selectExpr(
        "id AS w_id", "CAST(id % 7 AS DOUBLE) AS w_price",
        "concat('tag_', id % 3) AS w_tag",
        "repeat('lorem ipsum ', 20) AS w_payload")
      .write.mode("overwrite").parquet(s"$dir/widgets.parquet")
    val st = StatsCatalog.stats(spark, dir, "widgets")
    assert(st.keySet == Set("w_id", "w_price", "w_tag", "w_payload"))
    assert(st("w_id").nRows == 200 && st("w_id").nDistinct == 200)
    assert(st("w_price").minNum.contains(0.0) && st("w_price").maxNum.contains(6.0))
    // histograms on numerics only; exact equi-depth over w_price
    assert(st("w_id").histogram.exists(_.size == 15) &&
      st("w_tag").histogram.isEmpty)
    // HH candidates: integral + SHORT strings; the payload column is
    // excluded by the declared width rule (never ship document-sized
    // recount literals into a plan)
    assert(st("w_tag").top1Share.exists(s => math.abs(s - 67.0 / 200) < 1e-12))
    assert(st("w_id").top1Share.isDefined && st("w_payload").top1Share.isEmpty)
    assert(st("w_price").top1Share.isEmpty, "a double measure is not a key")
  }

  test("histogram boundaries are the exact ceil(i·n/16) order statistics") {
    import graft.ops.StatsCatalog
    val st = StatsCatalog.stats(spark, Sf0001, "lineitem")
    val hist = st("l_quantity").histogram.get
    val sorted = Tables.load(spark, Sf0001, "lineitem")
      .select(col("l_quantity").cast("double")).collect().map(_.getDouble(0)).sorted
    val n = sorted.length.toLong
    val want = (1 until StatsCatalog.HistBuckets)
      .map(i => sorted(((i * n + StatsCatalog.HistBuckets - 1) /
        StatsCatalog.HistBuckets - 1).toInt))
    assert(hist == want, s"boundaries must be exact order statistics: $hist vs $want")
    assert(hist == hist.sorted && hist.head >= st("l_quantity").minNum.get &&
      hist.last <= st("l_quantity").maxNum.get)
  }

  test("x57's histogram partitioner balances within the equi-depth guarantee, no range exchange") {
    val out = SparkEntry.queries("x57_hist_range_partition")(spark, Sf0001)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(out.map(_._1) == (0 until 16), "all 16 shards populated, in order")
    val counts = out.map(_._2)
    // exact order-statistic boundaries ⇒ shard sizes are n/16 ±1 up
    // to boundary-duplicate ties (o_totalprice is near-unique)
    assert(counts.max - counts.min <= 2,
      s"equi-depth balance violated: $counts")
    // the WRITE path (assignment + colocation) must be a narrow HOF
    // probe + one hash exchange — no sampled range exchange
    val bounds = graft.ops.StatsCatalog
      .stats(spark, Sf0001, "orders")("o_totalprice").histogram.get
    val laid = Tables.load(spark, Sf0001, "orders")
      .filter(col("o_totalprice").isNotNull)
      .select(col("o_orderkey"), col("o_totalprice"))
      .withColumn("shard", size(filter(array(bounds.map(lit): _*),
        b => col("o_totalprice") >= b)).cast("int"))
      .repartition(col("shard"))
    val p = laid.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(!p.contains("rangepartitioning") && p.contains("hashpartitioning"),
      s"catalog boundaries must replace the sampled range exchange:\n$p")
  }

  test("regenerated data is re-ANALYZEd within one JVM (memoized hit re-checks the fingerprint)") {
    import graft.ops.StatsCatalog
    val dir = java.nio.file.Files.createTempDirectory("regen").toString
    spark.range(10).selectExpr("id AS k").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(StatsCatalog.stats(spark, dir, "t")("k").nRows == 10)
    spark.range(25).selectExpr("id AS k").write.mode("overwrite")
      .parquet(s"$dir/t.parquet")
    assert(StatsCatalog.stats(spark, dir, "t")("k").nRows == 25,
      "a memoized hit must never serve stats for data that changed")
  }

  test("histSelectivity16 + histChosenJoin: the strategy follows the histogram, results identical") {
    // a uniform 16-boundary histogram over [0, 160)
    val hist = (1 to 15).map(i => i * 10.0)
    assert(Analyze.histSelectivity16(hist, 0.0, 25.0) == 2)
    assert(Analyze.histSelectivity16(hist, 20.0, 110.0) == 10) // {10..110} minus {10}
    assert(Analyze.histSelectivity16(hist, 10.0, 10.0) == 1, "closed on both ends")
    val fact = spark.range(160).select(col("id").as("k"), (col("id") * 2).as("m"))
    val dim = spark.range(160).select(col("id").as("fk"))
    def run(est: Int) = Analyze.histChosenJoin(
      fact, dim.filter(col("fk") < 25), col("k") === col("fk"), est, 4)
    val (jB, sB) = run(2)
    val (jS, sS) = run(9)
    assert(sB == "broadcast" && sS == "shuffle")
    assert(jB.count() == jS.count(), "the strategy must never change the result")
  }

  test("x41's merged stats equal the one-shot recompute; sketch envelope holds") {
    val rows = SparkEntry.queries("x41_incremental_analyze")(spark, Sf0001)
      .collect()
    val n = Tables.load(spark, Sf0001, "lineitem").count()
    assert(rows.length == 2 && rows.forall(_.getAs[Long]("n_rows") == n),
      "base+delta row counts must merge to the full-table count")
    assert(rows.forall(_.getAs[Boolean]("ndv_ok")),
      "the merged HLL estimate must sit inside the 3-sigma envelope")
  }

  test("x42 prunes the disjoint probe from the catalog and answers the in-range one") {
    val rows = SparkEntry.queries("x42_catalog_prune")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(rows == Map("disjoint" -> true, "in_range" -> false),
      s"catalog bounds must prune exactly the disjoint probe: $rows")
  }

  test("statsOrderedJoin nests by the STATS, not the data: lying stats flip the order") {
    import graft.ops.StatsCatalog.ColStats
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    def st(n: Long) = Map("k" -> ColStats(n, 0, n, None, None, None, None))
    val fact = spark.range(100).select(col("id").as("ka"), col("id").as("kb"))
    val dimA = spark.range(50).select(col("id").as("a_k"), lit("A").as("av"))
    val dimB = spark.range(5).select(col("id").as("b_k"), lit("B").as("bv"))
    def joinOrder(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.optimizedPlan.collect {
        case j: LJoin => j.condition.map(_.sql).getOrElse("")
      }
    val (j1, o1) = Analyze.statsOrderedJoin(fact, Seq(
      ("a", dimA, st(50), col("ka") === col("a_k")),
      ("b", dimB, st(5), col("kb") === col("b_k"))))
    assert(o1 == "b,a" && joinOrder(j1).head.contains("a_k"),
      s"the fewer-rows dim must join innermost: $o1 / ${joinOrder(j1)}")
    // lying stats: tell it dimA is the small one — the nesting flips
    val (j2, o2) = Analyze.statsOrderedJoin(fact, Seq(
      ("a", dimA, st(5), col("ka") === col("a_k")),
      ("b", dimB, st(50), col("kb") === col("b_k"))))
    assert(o2 == "a,b" && joinOrder(j2).head.contains("b_k"),
      s"the order must follow the stats, not the data: $o2 / ${joinOrder(j2)}")
    assert(j1.count() == j2.count(), "reordering must be semantics-free")
  }

  test("x36's sketch envelope holds on the fixture (every ndv_ok true)") {
    val rows = SparkEntry.queries("x36_table_stats_hll")(spark, Sf0001).collect()
    assert(rows.length == 4 && rows.forall(_.getBoolean(4)),
      "HLL estimates must sit inside the 3-sigma envelope")
  }

  private def autoFixture(tag: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"auto$tag").toString + "/t"
    graft.ops.AutoAnalyze.dropState(spark, dir)
    dir
  }

  test("x79: a hooked commit leaves stats FRESH and x37's decision correct, no manual ANALYZE") {
    import graft.ops.{Analyze, AutoAnalyze}
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("a")
    AutoAnalyze.enable(dir)
    Snapshots.commit(
      Seq((1L, "x", 2.0), (2L, "y", 4.0), (3L, null.asInstanceOf[String], 6.0))
        .toDF("k", "s", "v"), dir)
    val st = AutoAnalyze.stats(dir).get
    assert(AutoAnalyze.isFresh(spark, dir), "hooked commit must leave stats fresh")
    assert(st.cols("k").nRows == 3 && st.cols("s").nNulls == 1)
    assert(st.cols("v").minNum.contains(2.0) && st.cols("v").maxNum.contains(6.0))
    assert(st.cols("s").avgLen.contains(1.0))
    // the broadcast decision from auto stats alone: 3 rows → right
    val big = (1L to 1000L).map(i => (i, i)).toDF("bk", "bv")
    val bigStats = big.columns.toSeq.map(c =>
      c -> graft.ops.StatsCatalog.ColStats(1000, 0, 1000, Some(1), Some(1000), None, None)).toMap
    val (joined, side) = Analyze.statsChosenJoin(
      big, bigStats, Snapshots.readResolved(spark, dir), st.cols,
      col("bk") === col("k"), maxBroadcastBytes = 10L << 20)
    assert(side == "right", "3-row auto-profiled side must broadcast")
    assert(joined.count() == 3)
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: an append FOLDS at O(Δ) — the base version's files are never re-read") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("b")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir)
    // erase the base version's DATA files from disk: a fold that
    // re-scanned history would now fail; the O(Δ) fold must not care
    val root = java.nio.file.Paths.get(dir)
    val v1 = java.nio.file.Files.list(root).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .find(_.getFileName.toString.startsWith("v1-")).get
    java.nio.file.Files.list(v1).toArray
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .foreach(java.nio.file.Files.delete)
    Snapshots.commitAppend(Seq((3L, 30.0)).toDF("k", "v"), dir, base = 1)
    val st = AutoAnalyze.stats(dir).get
    assert(st.version == 2 && AutoAnalyze.isFresh(spark, dir))
    assert(st.cols("k").nRows == 3, "fold must be base-state + delta, not a rescan")
    assert(st.cols("v").minNum.contains(10.0) && st.cols("v").maxNum.contains(30.0))
    assert(st.cols("k").nDistinct == 3)
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: unfoldable verbs flip the staleness verdict; layout-only appends re-stamp it") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("c")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir)
    // a deletes commit cannot fold (sketches don't subtract) → stale
    Snapshots.commitDeletes(Seq(Tuple1(1L)).toDF("k"), dir, base = 1)
    assert(!AutoAnalyze.isFresh(spark, dir),
      "a delete must flip the verdict stale — detected, never silently served")
    assert(AutoAnalyze.stats(dir).get.version == 1,
      "the stored state must still be the last sound profile")
    AutoAnalyze.dropState(spark, dir)
    // dataChange=false (OPTIMIZE re-land): same logical rows — the
    // summary re-stamps to the new version WITHOUT double-counting
    val dir2 = autoFixture("c2")
    AutoAnalyze.enable(dir2)
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir2)
    Snapshots.commitAppend(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir2,
      base = 1, dataChange = false)
    val st2 = AutoAnalyze.stats(dir2).get
    assert(st2.version == 2 && AutoAnalyze.isFresh(spark, dir2))
    assert(st2.cols("k").nRows == 2, "a layout re-land must not double-count")
    AutoAnalyze.dropState(spark, dir2)
  }

  test("x79: a staged version folds nothing until PUBLISH makes it servable") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("e")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0)).toDF("k", "v"), dir)
    val v1 = AutoAnalyze.stats(dir).get
    val staged = Snapshots.commitStaged(Seq((2L, 20.0), (3L, 30.0)).toDF("k", "v"), dir)
    assert(AutoAnalyze.stats(dir).get == v1,
      "a reader-invisible staged write must not move the served stats")
    assert(AutoAnalyze.isFresh(spark, dir),
      "staged versions are invisible to latest — the verdict stays fresh")
    Snapshots.publish(spark, dir, staged)
    val st = AutoAnalyze.stats(dir).get
    assert(st.version == staged && AutoAnalyze.isFresh(spark, dir))
    assert(st.cols("k").nRows == 2, "publish must profile the published state")
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: a purge re-profiles in place — version freshness alone cannot see it") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("p")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0), (7L, 70.0)).toDF("k", "v"), dir)
    Snapshots.purgeKeys(spark, dir, Seq(Tuple1(7L)).toDF("k"))
    val st = AutoAnalyze.stats(dir).get
    assert(AutoAnalyze.isFresh(spark, dir))
    assert(st.cols("k").nRows == 2 && st.cols("v").maxNum.contains(20.0),
      "post-purge stats must describe the purged state, not the pre-purge one")
    // erasure reaches the catalog's own history: prior versions held
    // min/max order statistics of the purged rows
    val catDir = AutoAnalyze.catalogDirFor(dir)
    assert(Snapshots.versions(spark, catDir).size == 1,
      "pre-purge catalog versions must be vacuumed, not merely superseded")
    assert(graft.ops.Purge.exposureCount(spark, catDir,
      Seq(Tuple1(7L)).toDF("k"), Seq("min_num", "max_num")) == 0L)
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: a SECOND append on the same base falls back to the resolved state") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("r")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0)).toDF("k", "v"), dir)
    Snapshots.commitAppend(Seq((2L, 20.0)).toDF("k", "v"), dir, base = 1)
    // a sibling append chains v1 again: latest resolves to v1 ∪ THIS
    // delta only — folding onto v2's state would be wrong, so the
    // base mismatch must trigger the honest full re-profile
    Snapshots.commitAppend(Seq((3L, 30.0)).toDF("k", "v"), dir, base = 1)
    val st = AutoAnalyze.stats(dir).get
    assert(st.version == 3 && AutoAnalyze.isFresh(spark, dir))
    assert(st.cols("k").nRows == 2 && st.cols("v").maxNum.contains(30.0),
      "the sibling chain's stats are v1 ∪ delta2 — never a three-way fold")
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: schema-evolved appends fold right — new columns owe nulls for old rows, " +
    "dropped columns keep growing n_rows") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("se")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), dir)
    // the evolved nightly batch: column v dropped, column w added
    Snapshots.commitAppend(
      Seq((3L, "x"), (4L, "y"), (5L, "z")).toDF("k", "w"), dir, base = 1)
    val st = AutoAnalyze.stats(dir).get
    assert(st.cols.keySet == Set("k", "v", "w"))
    assert(st.cols.values.forall(_.nRows == 5),
      "n_rows is table-wide for every column, evolved or not")
    assert(st.cols("v").nNulls == 3 && st.cols("v").maxNum.contains(20.0),
      "the delta's rows read NULL for the dropped column")
    assert(st.cols("w").nNulls == 2 && st.cols("w").avgLen.contains(1.0),
      "the base's rows read NULL for the new column")
    assert(st.cols("k").nNulls == 0 && st.cols("k").nDistinct == 5)
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: enabling mid-history falls back to ONE full profile, then folds") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("d")
    Snapshots.commit(Seq((1L, 10.0)).toDF("k", "v"), dir) // unhooked
    AutoAnalyze.enable(dir)
    assert(AutoAnalyze.stats(dir).isEmpty, "no state before the first hooked commit")
    Snapshots.commitAppend(Seq((2L, 20.0)).toDF("k", "v"), dir, base = 1)
    val st = AutoAnalyze.stats(dir).get
    assert(st.version == 2 && st.cols("k").nRows == 2,
      "mid-history enable must profile the resolved state once")
    Snapshots.commitAppend(Seq((3L, 30.0)).toDF("k", "v"), dir, base = 2)
    assert(AutoAnalyze.stats(dir).get.cols("k").nRows == 3)
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: a failing stats hook never fails the landed commit — stale, not thrown") {
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("e")
    AutoAnalyze.enable(dir)
    // no numeric or string column → stateFrame's require raises
    // inside the hook; the commit ITSELF must still succeed (the
    // version has durably landed before the hook runs — a thrown
    // hook would make a retrying caller land a duplicate version)
    val v = Snapshots.commit(
      Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("payload"), dir)
    assert(v == 1, "the data commit must land despite the hook failure")
    assert(Snapshots.versions(spark, dir) == Seq(1))
    assert(AutoAnalyze.stats(dir).isEmpty,
      "a failed hook leaves no stats — detected (stale), never served")
    assert(!AutoAnalyze.isFresh(spark, dir))
    // a later profilable commit recovers: the hook is self-healing
    Snapshots.commit(Seq((1L, 10.0)).toDF("k", "v"), dir)
    assert(AutoAnalyze.isFresh(spark, dir))
    AutoAnalyze.dropState(spark, dir)
  }

  test("x79: two distinct source dirs never share a catalog; torn summary serves None") {
    import graft.ops.AutoAnalyze
    // catalog keying: distinct paths → distinct catalogs, even when a
    // weak hash would collide (the fold state would silently merge)
    val a = AutoAnalyze.catalogDirFor("target/x_tbl/a")
    val b = AutoAnalyze.catalogDirFor("target/x_tbl/b")
    assert(a != b)
    assert(AutoAnalyze.catalogDirFor("target/x_tbl/a") == a, "deterministic")
    // a damaged summary file must serve None, not crash the planner
    import graft.sources.Snapshots
    import spark.implicits._
    val dir = autoFixture("f")
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 10.0)).toDF("k", "v"), dir)
    assert(AutoAnalyze.stats(dir).isDefined)
    val p = java.nio.file.Paths.get(
      AutoAnalyze.catalogDirFor(dir), "_auto_summary.json")
    java.nio.file.Files.writeString(p, "{\"fmt\":1,\"dir\":\"x") // torn
    assert(AutoAnalyze.stats(dir).isEmpty,
      "an unparseable summary is 'no stats', never an exception")
    AutoAnalyze.dropState(spark, dir)
  }
}
