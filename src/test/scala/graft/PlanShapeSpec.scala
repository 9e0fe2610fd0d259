package graft

/** Regression tests on PHYSICAL PLAN SHAPES — the properties that
  * make these queries scale, pinned so a refactor can't silently
  * reintroduce a single-reducer window, a cartesian product, or a
  * lost broadcast. These assert on `explain("formatted")` output of
  * the actual SparkEntry queries at sf0.001.
  */
class PlanShapeSpec extends SparkSpec {

  private def plan(q: String): String = {
    val df = SparkEntry.queries(q)(spark, Sf0001)
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("no unpartitioned window anywhere in the declared queries") {
    // A Window with an empty PARTITION BY is a single-reducer
    // bottleneck. k1/k8 (global chunk_index) formerly had one; the
    // GlobalIndex two-pass scheme must keep every declared query free
    // of them.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for ((q, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if q != "d6_dedup_clusters") { // d6 runs jobs eagerly; its loop is window-free by construction
      val global = fn(spark, Sf0001).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      assert(global.isEmpty, s"$q plans an unpartitioned (single-reducer) Window")
    }
  }

  test("global chunk index is the custom Tungsten operator, no RDD re-entry (k1/k8)") {
    // the numbering must come from GlobalIndexExec (InternalRow,
    // planner-inserted range exchange), not a df.rdd.zipWithIndex hop
    // re-entering the plan as Scan ExistingRDD
    for (q <- Seq("k1_chunks", "k8_chunks_v")) {
      val p = plan(q)
      assert(p.contains("GlobalIndex"), s"$q should plan GlobalIndexExec")
      assert(!p.contains("ExistingRDD"), s"$q must not re-enter via Scan ExistingRDD")
    }
  }

  test("x16's global shuffle rank is GlobalIndexExec, not a window or RDD hop") {
    val p = plan("x16_global_shuffle")
    assert(p.contains("GlobalIndex"), "x16 should plan GlobalIndexExec")
    assert(!p.contains("ExistingRDD"), "x16 must not re-enter via Scan ExistingRDD")
    assert(!p.contains("Window"), "x16 must not use a window for the global rank")
  }

  test("t14's five funnel stages come from ONE corpus scan") {
    val scans = SparkEntry.queries("t14_filter_funnel")(spark, Sf0001)
      .queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }
    assert(scans.size == 1,
      "t14 must compute all stage counts in a single pass over documents")
  }

  test("t15's classifier inference is a narrow map: no explode, no shuffle but the final sort") {
    val p = plan("t15_quality_score")
    assert(!p.contains("Generate"), "t15 must not explode tokens")
    assert(!p.contains("hashpartitioning"), "t15 must not shuffle for scoring")
    assert(!p.contains("Join"), "t15 must not join a weights table")
  }

  test("dimension joins broadcast; no cartesian or nested-loop joins") {
    for (q <- Seq("q3_shipping_priority", "q5_local_supplier_volume", "k6_graph_2hop")) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast its dimension side")
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian product")
    }
    // dedup candidate generation must never fall back to cartesian
    for (q <- Seq("d2_dedup_jaccard", "d3_dedup_minhash", "d5_dedup_embedding")) {
      assert(!plan(q).contains("CartesianProduct"), s"$q must not plan a cartesian product")
    }
  }

  test("q5's broadcast hints cover only the bounded dims (nation/region)") {
    // customer and supplier grow with the corpus: a hint there is the
    // q3-orders scale hazard. AQE may still broadcast them while they
    // measure small — that's correct; the HINT must stay gone.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = SparkEntry.queries("q5_local_supplier_volume")(spark, Sf0001)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "q5 should still broadcast-hint nation/region")
    for (h <- hints) {
      val cols = h.child.output.map(_.name)
      assert(cols.forall(c => c.startsWith("n_") || c.startsWith("r_")),
        s"broadcast hint must cover only nation/region, got ${cols.mkString(",")}")
    }
  }

  test("q3 never force-broadcasts the orders fact table") {
    // orders filtered at ~64% selectivity is a fact table: a broadcast
    // HINT there is a multi-GB build side at scale (the one named
    // scale-killer in round 3). At sf0.001 AQE may still broadcast by
    // measured size — that's fine and correct; what must stay gone is
    // the user hint forcing it at any scale. Assert every explicit
    // broadcast hint in the plan covers only the customer dimension.
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val df = SparkEntry.queries("q3_shipping_priority")(spark, Sf0001)
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "q3 should still broadcast-hint the customer dim")
    for (h <- hints) {
      val cols = h.child.output.map(_.name)
      assert(cols.exists(_.startsWith("c_")) && !cols.exists(_.startsWith("o_")),
        s"broadcast hint must cover only the customer dim, got ${cols.mkString(",")}")
    }
  }

  test("k13/d12/t16/v14 joins are shuffle equi joins — no cartesian") {
    // wedge generation and closure must both key on node ids; a lost
    // equi condition degrades to the all-pairs nested loop. d12's
    // gram-df join and t16's segment-df join share the property.
    for (q <- Seq("k13_clustering_coeff", "d12_span_dedup", "t16_boilerplate",
        "v14_semdedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q must not plan a cartesian product")
      // v14's k-means assignment is crossJoin(broadcast(k centroids)) —
      // a bounded-model broadcast, the accepted pattern — so only the
      // content-keyed joins are held to the equi-join bar.
      if (q != "v14_semdedup")
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$q must not plan a nested-loop join")
    }
  }

  test("range join buckets to an equi join — no nested-loop or cartesian (x9)") {
    // the BETWEEN predicate alone would plan BroadcastNestedLoopJoin;
    // the time-bucket expansion must turn it into a hash equi-join
    val p = plan("x9_range_join")
    assert(!p.contains("CartesianProduct"), "x9 must not plan a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "x9 must not fall back to a nested-loop join — the bucket key should drive a hash join")
  }

  test("simhash near-dup pairs form only inside byte-band buckets (d8)") {
    val p = plan("d8_dedup_hamming")
    assert(!p.contains("CartesianProduct"), "d8 must not plan a cartesian product")
    assert(!p.contains("BroadcastNestedLoopJoin"), "d8 band join must be an equi join")
  }

  test("decontamination probes the Bloom sketch before any exchange (d9)") {
    // the narrow graft_bloom_contains prune must sit in the plan (the
    // corpus n-gram stream is filtered inside codegen, not shuffled
    // wholesale into the semi-join)
    val p = plan("d9_decontaminate")
    assert(p.contains("graft_bloom_contains"),
      "d9 should keep the Bloom prefilter in the physical plan")
    assert(!p.contains("CartesianProduct"), "d9 must not plan a cartesian product")
  }

  test("x38's runtime filter prunes the fact below the join (Bloom probe in codegen)") {
    // the general-join form of d9's prune: the fact scan must carry
    // the narrow graft_bloom_contains filter so pruning happens
    // before any exchange, and the join stays an equi join
    val p = plan("x38_bloom_join")
    assert(p.contains("graft_bloom_contains"),
      "x38 should keep the Bloom runtime filter in the physical plan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"))
    // the prune is real: survivors are a strict subset of the fact
    val q = SparkEntry.queries("x38_bloom_join")(spark, Sf0001)
    val total = Tables.load(spark, Sf0001, "orders").count()
    val dimKeys = Tables.load(spark, Sf0001, "customer")
      .filter(org.apache.spark.sql.functions.col("c_mktsegment") === "BUILDING")
      .count()
    assert(q.count() <= dimKeys && dimKeys < total,
      "the Bloom-pruned join must reduce to the dim's match set")
  }

  test("x94's runtime dim keys prune the hidden-partitioned fact's listing") {
    import graft.plans.HiddenPartitioning
    // the declared query runs on sf0.001; re-derive its fact frame
    // and pin the listing witness: the 2 runtime keys must list fewer
    // directories than the layout holds (months × 2 buckets max)
    val dir = graft.queries.ExtQ.x69Layout(spark, Sf0001, "a")
    val t = HiddenPartitioning.table(spark, dir)
    val dim = Tables.load(spark, Sf0001, "customer")
      .orderBy(org.apache.spark.sql.functions.col("c_acctbal").desc,
        org.apache.spark.sql.functions.col("c_custkey"))
      .limit(2).select("c_custkey")
    val fact = HiddenPartitioning.pruneByDim(t, "o_custkey", dim)
    val scanned = HiddenPartitioning.partitionsScanned(fact)
    val total = HiddenPartitioning.partitionsScanned(t)
    assert(scanned < total && scanned <= 24,
      s"x94 runtime pruning must bound the listing: $scanned of $total")
    assert(!plan("x94_dynamic_partition_pruning").contains("CartesianProduct"))
  }

  test("k12's skew caps are in the plan: partitioned cap window, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("k12_kg_edges_capped")(spark, Sf0001)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "k12 should plan the per-chunk cap window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "the cap window must stay partitioned by chunk (never a global window)")
    assert(!plan("k12_kg_edges_capped").contains("CartesianProduct"))
  }

  test("top-k queries plan TakeOrderedAndProject, not a global sort+limit") {
    for (q <- Seq("q19_topk_orders", "v1_cosine_topk", "k7_search_chunks"))
      assert(plan(q).contains("TakeOrderedAndProject"), q)
  }

  test("filters reach the parquet scan (pushdown visible)") {
    val p = plan("q6_revenue_forecast")
    assert(p.contains("PushedFilters: ["), "expected PushedFilters on the lineitem scan")
    assert(!p.replaceAll("(?s).*PushedFilters: (\\[[^\\]]*\\]).*", "$1").equals("[]"),
      "q6 range predicates should push into the scan")
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan("q1_pricing_summary")
    // two HashAggregate nodes (partial + final) around one Exchange
    assert("HashAggregate".r.findAllIn(p).size >= 2, "expected partial+final HashAggregate")
  }

  test("t23's weighted sample selects via the bounded TopKPerKey heap") {
    val p = plan("t23_weighted_sample")
    assert(p.contains("TopKPerKey"),
      "t23 must plan the bounded per-key heap, not rank the corpus")
    // the row_number window only ever sees the ≤ N·|langs| survivors:
    // it must sit ABOVE TopKPerKey in the plan (appear before it in
    // the formatted top-down dump)
    assert(p.indexOf("Window") < p.indexOf("TopKPerKey"),
      "the rank window must run on the TopKPerKey output, not the corpus")
  }

  test("x19's z-order report is scan → partial+final aggregate, no join or window") {
    val p = plan("x19_zorder_layout")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "zone-map stats must combine map-side")
    assert(!p.contains("Join"), "x19 needs no join")
    assert(!p.contains("Window"), "x19 needs no window")
    assert(p.contains("struct<ts:bigint,user_id:bigint>") ||
      p.contains("ReadSchema: struct<ts"),
      "the scan must read only ts and user_id")
  }

  test("d13's containment candidates form only on the shingle equi key") {
    // the only nested-loop allowed is the 1-row df-cap scalar
    // broadcast (shared with d2); the doc-pair join itself must be a
    // shuffled equi join keyed by the shingle
    val p = plan("d13_containment")
    assert(!p.contains("CartesianProduct"),
      "containment must stay an inverted-index equi join, never all-pairs")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"),
      "expected the shingle-keyed candidate equi join in the plan")
  }

  test("k18's BFS rounds are shuffle equi joins with partial min-aggregates") {
    val p = plan("k18_shortest_paths")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "BFS relaxation must join frontier⋈edges on the node key")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "the per-node min must combine map-side")
  }

  test("x20's compaction windows stay partitioned by the directory key") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("x20_compaction_plan")(spark, Sf0001)
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      "the cumulative fill must run per partition dir, never globally")
  }

  test("v18's distributed stage is the candidate top-M scan (TakeOrdered + broadcast)") {
    // the greedy operates on localCheckpointed model-sized frames, so
    // only the candidate selection shows the corpus-shaped plan: the
    // broadcast query vector + TakeOrderedAndProject top-M. Checked on
    // the candidate sub-plan (the final plan sees only checkpointed
    // leaves).
    import org.apache.spark.sql.functions._
    val e = Tables.load(spark, Sf0001, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qe"))
    val cand = e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("rel", col("vec_id").cast("double"))
      .orderBy(col("rel").desc, col("vec_id"))
      .limit(queries.VectorQ.MmrM)
    val p = cand.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("TakeOrderedAndProject"),
      "top-M candidate selection must be TakeOrdered, not sort+limit")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
      "the single query vector must broadcast")
  }

  test("x21's manifest prune actually skips files (and the residual filter stays)") {
    import org.apache.spark.sql.functions._
    val dir = "target/x21_planshape"
    graft.sources.Sources.writeShards(
      Tables.load(spark, Sf0001, "documents")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars")),
      dir, "doc_id", numShards = 8)
    val (df, filesRead, filesTotal) = graft.sources.Sources.readShardRange(
      spark, dir, queries.ExtQ.ShardRangeLo, queries.ExtQ.ShardRangeHi)
    // 8 range shards over 500 ids, range spans 150 ids → at most 4
    // files can overlap; the point is the ratio, not the constant
    assert(filesTotal == 8 && filesRead < filesTotal && filesRead <= 4,
      s"expected a real skip ratio, got $filesRead/$filesTotal")
    // pruning is a superset selection — the BETWEEN must still be in
    // the plan (and pushed to the scan) for correctness
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(doc_id"),
      "residual range filter must reach the parquet scan")
  }

  test("x52's zone maps skip committed z-order files; the residual box filter reaches the scan") {
    import org.apache.spark.sql.functions._
    val (df, filesRead, filesTotal, oneFile) = queries.ExtQ.x52Frame(spark, Sf0001)
    // the bit-aligned box is 16 of 256 z values; equal-row rank
    // slices put it in a handful of CONSECUTIVE files — the point is
    // the ratio, not the constant
    assert(filesTotal == queries.ExtQ.ZExecFiles
        && filesRead < filesTotal && filesRead <= 4,
      s"expected a real skip ratio, got $filesRead/$filesTotal")
    assert(oneFile, "the committed layout must land one data file per rank slice")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    // superset selection needs the exact box residual ON the scan
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(ub"),
      "residual box filter must be pushed to the parquet scan")
    // the zfile probe must prune at LISTING time (partition filter),
    // not as a post-scan residual
    assert(p.contains("PartitionFilters") && p.replaceAll(
        "(?s).*PartitionFilters: (\\[[^\\]]*\\]).*", "$1").contains("zfile"),
      "zfile membership must be a partition filter")
    // execution-level witness: every result row comes from a scanned file
    val touched = df.select(input_file_name()).distinct().count()
    assert(touched <= filesRead, s"read $touched files for $filesRead scanned")
  }

  test("x55's incremental OPTIMIZE shrinks the box scan set without touching the base") {
    val (df, preScan, postScan, filesTotal) = queries.ExtQ.x55Frame(spark, Sf0001)
    // pre-optimize the unsorted delta bucket is ALWAYS in the scan
    // set; post-optimize the box reads a few slices of each family
    assert(filesTotal == 2 * queries.ExtQ.ZExecFiles,
      s"expected both file families zone-mapped, got $filesTotal")
    assert(postScan < filesTotal && postScan <= 8,
      s"expected a real skip ratio after OPTIMIZE, got $postScan/$filesTotal")
    // the pre-optimize scan set is base slices + the whole delta; the
    // post-optimize one replaces the whole-delta bucket with slices
    assert(preScan <= queries.ExtQ.ZExecFiles + 1,
      s"pre-optimize scan should be base slices + 1 bucket, got $preScan")
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("PushedFilters") && p.contains("GreaterThanOrEqual(ub"),
      "residual box filter must be pushed to the parquet scans")
    assert(p.contains("PartitionFilters") && p.replaceAll(
        "(?s).*PartitionFilters: (\\[[^\\]]*\\]).*", "$1").contains("zfile"),
      "zfile membership must prune at listing time on both legs")
  }

  test("v19's radius search is a broadcast + narrow filter scan (no corpus sort before the filter)") {
    val p = plan("v19_radius_search")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
      "single-row query vector must broadcast")
    // the threshold filter prunes before the (small-result) sort: the
    // corpus itself must never hash-exchange ahead of the filter
    val sortIdx = p.indexOf("Sort")
    val preSort = if (sortIdx >= 0) p.substring(0, sortIdx) else p
    assert(!preSort.contains("Exchange hashpartitioning"),
      "corpus must not shuffle before the radius filter")
  }

  test("t24's normalization is a single narrow scan (no shuffle except the final sort)") {
    val p = plan("t24_nfc_normalize")
    assert(!p.contains("Exchange hashpartitioning"),
      "graft_nfc is a scalar map — no hash exchange belongs in this plan")
  }

  test("x22's join reads bucketed scans (no hash exchange of either fact table)") {
    val p = plan("x22_bucketed_join")
    assert(p.contains("Bucketed: true"),
      "both sides must scan the bucketed catalog tables")
    // the only hash exchange allowed is the post-join year aggregation
    val joinIdx = p.indexOf("Join")
    assert(joinIdx > 0 && !p.substring(joinIdx).contains("Exchange hashpartitioning(l_orderkey"),
      "bucketed layout must satisfy the join's distribution — no orderkey exchange")
  }

  test("d14/m3 candidate generation is banded equi-joins, never a cross join") {
    // the multimodal dedup pair — band-bucket (d14) and frame-hash
    // (m3) inverted indexes — must plan as hash equi-joins on the
    // bucket key; a CartesianProduct or BroadcastNestedLoop here is
    // the all-pairs blowup the banding exists to prevent
    for (q <- Seq("d14_phash_dedup", "m3_frame_dedup")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"),
        s"$q must not plan a cartesian candidate join")
      assert(!p.contains("BroadcastNestedLoop"),
        s"$q must not plan a nested-loop candidate join")
    }
  }

  test("v20's append admits the batch without rescanning the stored corpus") {
    // count source relations on the OPTIMIZED plan, where the
    // persisted index is an InMemoryRelation LEAF (formatted explain
    // would also print the cached relations' build plans and
    // double-count their scans)
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    val opt = SparkEntry.queries("v20_ivf_append")(spark, Sf0001)
      .queryExecution.optimizedPlan
    // stored index buckets + centroids must come from the persisted
    // (Derived) relations, not be re-derived from the source table
    assert(opt.collect { case r: InMemoryRelation => r }.nonEmpty,
      "stored index must be served from the persisted relations")
    // the only source reads allowed are the new batch and the query
    // vectors — a third scan would mean the append path re-read the
    // stored corpus from source
    val scans = opt.collect { case r: LogicalRelation => r }
    assert(scans.size <= 2,
      s"append must scan only batch + query rows, found ${scans.size} source scans")
  }

  test("x25's composed pipeline admits the batch without rescanning the stored vector corpus") {
    // the composed post-batch state (x14 admission + v20 append):
    // the stored index must still be served from the persisted
    // relations, and the embeddings source may be scanned at most
    // once — the batch split. A second embeddings scan would mean
    // composition broke v20's no-rescan property.
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val opt = graft.queries.ExtQ.x25State(spark, Sf0001, postBatch = true)
      .queryExecution.optimizedPlan
    assert(opt.collect { case r: InMemoryRelation => r }.nonEmpty,
      "stored index must be served from the persisted relations")
    val embScans = opt.collect {
      case l: LogicalRelation if (l.relation match {
        case h: HadoopFsRelation =>
          h.location.rootPaths.exists(_.toString.contains("embeddings"))
        case _ => false
      }) => l
    }
    assert(embScans.size <= 1,
      s"composed append must scan embeddings once (the batch), found ${embScans.size}")
  }

  test("s6's dimension joins map-side (BroadcastHashJoin, no stream-side shuffle)") {
    val p = plan("s6_enrich_events")
    assert(p.contains("BroadcastHashJoin"),
      "bounded dimension must broadcast — a shuffle join here shuffles the whole stream")
    val joinSection = p.substring(0, p.indexOf("BroadcastHashJoin"))
    assert(!joinSection.contains("Exchange hashpartitioning"),
      "events side must not hash-exchange before the broadcast join")
  }

  test("x27's deletion vector merges on read as a broadcast anti-join") {
    // run the declared query once so the snapshot dirs exist, then pin
    // the resolved read's plan: the key-sized DV must broadcast —
    // at 100 TB a shuffled anti-join would re-shuffle the corpus to
    // serve a churn-sized delete
    SparkEntry.queries("x27_deletion_vectors")(spark, Sf0001).collect()
    val dir = s"target/x27_snap_${math.abs(Sf0001.hashCode)}"
    val resolved = graft.sources.Snapshots.readResolved(spark, dir, Some(2))
    val p = resolved.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV resolution must be a broadcast anti-join, got:\n$p")
    assert(!p.contains("Exchange hashpartitioning"),
      "neither side of the DV anti-join should hash-exchange")
  }

  test("q33's correlated subqueries rewrite to semi/anti joins (no per-row execution)") {
    val p = plan("q33_correlated_exists")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as an anti join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "neither leg may degrade to a nested-loop/cartesian plan")
  }

  test("x33's DV change step reads only the deletion vector (one file scan, no base)") {
    // run the declared query once so the snapshot chain exists, then
    // pin the log-native feed's core property: a deletes version's
    // change rows come from the key-sized DV file alone — CDC cost
    // follows churn, never table size
    SparkEntry.queries("x33_log_changes")(spark, Sf0001).collect()
    val dir = s"target/x33_snap_${math.abs(Sf0001.hashCode)}"
    val step = graft.sources.Snapshots.stepChanges(spark, dir, 2, Seq("doc_id"))
    val scans = step.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LeafNode => l
    }
    assert(scans.size == 1,
      s"the DV step must scan exactly the deletion vector, found ${scans.size} scans")
    import org.apache.spark.sql.functions.col
    assert(step.filter(col("op") =!= "D").isEmpty, "a DV step emits only deletes")
  }

  test("x30's CDC apply anti-joins the delete keys via broadcast") {
    val p = plan("x30_cdc_apply")
    val anti = p.indexOf("LeftAnti")
    assert(anti >= 0, "the apply must anti-join out the D/U keys")
    assert(p.contains("BroadcastHashJoin"),
      "the churn-sized delete-key side must broadcast, not shuffle the replica")
  }

  test("d14's band-mode switch is lazy: building the DataFrame runs zero driver jobs") {
    // the corpus-size statistic that picks wide vs narrow bands rides
    // INSIDE the query as a broadcast gate AQE prunes at runtime — a
    // driver-side count() at plan time would add one job per run and
    // make DataFrame construction eagerly execute
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet()
        seen.add(j.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("d14_phash_dedup")(spark, Sf0001)
      // canary action: listener delivery is FIFO, so once the
      // canary's job-start has landed, any job the construction above
      // had run would already be counted
      spark.range(1).count()
      val deadline = System.currentTimeMillis + 30000
      while (counter.get() < 1 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(counter.get() >= 1, "canary job never arrived")
      // parquet footer/listing reads (Tables.load) and the canary are
      // metadata-or-test noise every construction pays; a COMPUTE
      // action at plan time (the removed eager count) would surface
      // as a job whose stages point into the query's own code
      val compute = seen.toArray(Array.empty[String])
        .filter(s => s.contains("DedupQ") || s.contains("Multimodal"))
      assert(compute.isEmpty,
        s"plan construction must run zero compute jobs, saw: ${compute.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("x79's served stats are pure metadata: stats/isFresh/frame run zero Spark jobs") {
    import spark.implicits._
    import graft.ops.AutoAnalyze
    import graft.sources.Snapshots
    val dir = java.nio.file.Files.createTempDirectory("psauto").toString + "/t"
    AutoAnalyze.enable(dir)
    Snapshots.commit(Seq((1L, 2.0), (2L, 4.0)).toDF("k", "v"), dir) // hook jobs here
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet()
        seen.add(j.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val st = AutoAnalyze.stats(dir).get // summary file read
      assert(st.cols("k").nRows == 2)
      assert(AutoAnalyze.isFresh(spark, dir)) // local log read
      AutoAnalyze.frame(spark, dir) // driver rows — no action taken
      spark.range(1).count() // canary: FIFO listener delivery
      val deadline = System.currentTimeMillis + 30000
      while (counter.get() < 1 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(counter.get() >= 1, "canary job never arrived")
      val compute = seen.toArray(Array.empty[String])
        .filter(s => s.contains("AutoAnalyze") || s.contains("StatsCatalog"))
      assert(compute.isEmpty,
        s"the planner read path must run zero compute jobs, saw: ${compute.mkString("; ")}")
    } finally {
      spark.sparkContext.removeSparkListener(l)
      AutoAnalyze.dropState(spark, dir)
    }
  }

  test("x59's shuffle sizing is pure metadata: no compute job, decisions applied and exact") {
    // warm the catalog first — the one-time ANALYZE is x59's declared
    // dependency, not part of its own cost
    graft.ops.StatsCatalog.stats(spark, Sf0001, "lineitem")
    graft.ops.StatsCatalog.stats(spark, Sf0001, "orders")
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet()
        seen.add(j.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    val df =
      try {
        val df0 = SparkEntry.queries("x59_stats_shuffle_plan")(spark, Sf0001)
        spark.range(1).count() // canary (see d14's test)
        val deadline = System.currentTimeMillis + 30000
        while (counter.get() < 1 && System.currentTimeMillis < deadline)
          Thread.sleep(50)
        assert(counter.get() >= 1, "canary job never arrived")
        // parquet footer/listing jobs (Tables.load schema reads) are
        // the metadata noise every construction pays (d14's test);
        // a COMPUTE job would point into the query's own code
        val compute = seen.toArray(Array.empty[String])
          .filter(s => s.contains("ExtQ") || s.contains("StatsCatalog"))
        assert(compute.isEmpty,
          s"the sizing must read only the catalog summary, saw: ${compute.mkString("; ")}")
        df0
      } finally spark.sparkContext.removeSparkListener(l)
    val rows = df.collect()
    assert(rows.length == 2 && rows.forall(_.getBoolean(5)),
      "the chosen count must be a real plan property of the keyed exchange")
    rows.foreach { r =>
      assert(r.getLong(3) == r.getLong(1) * r.getLong(2), "est = rows × width")
      assert(r.getInt(4) >= 1 && r.getInt(4) <= queries.ExtQ.X59MaxParts)
    }
  }

  test("x37's broadcast comes from the committed stats, not the static threshold") {
    // with Spark's file-size threshold disabled, only the
    // stats-driven hint can produce a broadcast — and it must build
    // on the right (nation, the fewer-rows side per the ANALYZE
    // output the query itself committed)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("x37_stats_planned_join")(spark, Sf0001)
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("BroadcastHashJoin") && p.contains("BuildRight"),
        "the stats-chosen side must broadcast even with the static threshold off")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x53's strategies follow the histogram: narrow probe broadcasts, wide shuffles (threshold off)") {
    // with the static file-size threshold disabled, only the
    // histogram-driven hint can broadcast — the narrow probe's
    // filtered orders side must build a BroadcastHashJoin, and the
    // wide probe must stay a shuffle join in the SAME unioned plan
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("x53_hist_planned_join")(spark, Sf0001)
      val p = df.queryExecution.executedPlan.toString
      assert("BroadcastHashJoin".r.findAllIn(p).size == 1,
        s"exactly the narrow probe must broadcast:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"the wide probe must remain a shuffle join:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("x36's production mode is ONE scan, sketch-only: no exact-NDV legs, no Expand") {
    // audit mode (the declared query) carries exact countDistinct
    // legs so the oracle can hash-pin the 3σ envelope; the production
    // plan a 100 TB wide-table ANALYZE actually runs must be the
    // sketch pass alone — C fixed-size HLL buffers off a single
    // corpus scan
    val p = graft.queries.ExtQ.x36SketchOnly(spark, Sf0001)
      .queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1,
      s"production mode must read the corpus exactly once, saw $scans scans:\n$p")
    assert(p.contains("approx_count_distinct"),
      "the sketch aggregate must be in the plan")
    assert(!p.contains("Expand") && !p.contains("count(distinct"),
      "no exact-NDV machinery may survive in production mode")
  }

  test("x38's Bloom sizing reads the stats catalog: construction runs only the sketch build, no sizing count") {
    // round-8's form ran dim.count() per plan construction just to
    // size the sketch — a second full dim scan. The capacity now
    // comes from the committed catalog summary (zero jobs), so the
    // only compute job building the DataFrame may run is the
    // bloomFilter aggregate itself (the legitimate d9-pattern
    // driver-side sketch build).
    graft.ops.StatsCatalog.stats(spark, Sf0001, "customer") // catalog warm: write once, read many
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        counter.incrementAndGet()
        seen.add(j.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      SparkEntry.queries("x38_bloom_join")(spark, Sf0001)
      spark.range(1).count() // canary: FIFO listener delivery
      val deadline = System.currentTimeMillis + 30000
      while (counter.get() < 1 && System.currentTimeMillis < deadline)
        Thread.sleep(50)
      assert(counter.get() >= 1, "canary job never arrived")
      val stages = seen.toArray(Array.empty[String])
      assert(!stages.exists(_.contains("count at ExtQ")),
        s"the sizing count() must be gone, saw: ${stages.mkString("; ")}")
      val compute = stages.filter(_.contains("ExtQ"))
      assert(compute.size <= 1,
        s"construction may run only the bloomFilter build, saw: ${compute.mkString("; ")}")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("x42's disjoint probe is catalog-pruned: one FileScan serves both probes") {
    // the pruned leg must be a literal empty result — a second scan
    // in the plan means the catalog's min/max were never consulted
    graft.ops.StatsCatalog.stats(spark, Sf0001, "orders") // warm
    // executedPlan toString (FormattedMode renders scans differently)
    val p = SparkEntry.queries("x42_catalog_prune")(spark, Sf0001)
      .queryExecution.executedPlan.toString
    val scans = "FileScan".r.findAllIn(p).size
    assert(scans == 1,
      s"two probes, one scan: the disjoint range must not touch the table ($scans scans):\n$p")
  }

  test("x43's star joins nest smallest-dim-first (supplier innermost, per the catalog)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin}
    graft.ops.StatsCatalog.stats(spark, Sf0001, "part")
    graft.ops.StatsCatalog.stats(spark, Sf0001, "supplier") // warm
    val joins = SparkEntry.queries("x43_stats_join_order")(spark, Sf0001)
      .queryExecution.optimizedPlan.collect {
        case j: LJoin => j.condition.map(_.sql).getOrElse("")
      }
    assert(joins.size == 2, s"expected a two-dim star, got $joins")
    // pre-order collect: the OUTER join prints first — part must be
    // outer, supplier (fewer catalog rows) innermost
    assert(joins.head.contains("p_partkey") && joins(1).contains("s_suppkey"),
      s"supplier must join first (innermost), got order: $joins")
  }

  test("v23's legs are distributed top-L heaps, never a global corpus sort") {
    // hybrid RRF must rank each leg via TakeOrderedAndProject (the
    // lexical top-L, the vector top-L, and the fused top-10) — a
    // corpus-wide Sort-then-limit or an unpartitioned rank window
    // would be the single-reducer shape the operator exists to avoid
    val p = plan("v23_hybrid_rrf")
    val heaps = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(heaps >= 3, s"expected the two leg heaps + fused heap, got $heaps:\n$p")
    assert(!p.contains("Window"), "v23 must not plan any window")
  }

  test("x48's evolved layout prunes on the new partition key") {
    // after evolution, a lang filter on the v2 layout must land in
    // PartitionFilters (directory pruning), not as a row-level filter
    // over a full scan — the entire point of re-partitioning
    SparkEntry.queries("x48_partition_evolution")(spark, Sf0001).collect()
    val dir = s"target/x48_${math.abs(Sf0001.hashCode)}"
    val p = graft.sources.Snapshots.read(spark, dir, Some(2))
      .filter(org.apache.spark.sql.functions.col("lang") === "en")
      .queryExecution.executedPlan.toString
    val pf = p.linesIterator.find(_.contains("PartitionFilters: ["))
    assert(pf.exists(l => l.contains("lang") && l.contains("= en")),
      s"lang filter must prune partitions on the evolved layout:\n$p")
  }

  test("x72's dim-side orphan checks broadcast; its fact-fact leg may shuffle") {
    // an FK audit against a bounded dimension must be map-side: a
    // shuffle there shuffles the whole fact per relationship audited
    val p = plan("x72_fk_audit")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "dim-side orphan detection must be a broadcast left-anti join")
    // the customer legs must NOT sort-merge (only lineitem->orders,
    // a fact-fact key match, is allowed a shuffle)
    assert(p.linesIterator.count(l =>
      l.contains("SortMergeJoin") && l.contains("LeftAnti")) <= 1,
      "only the fact-fact leg may shuffle-anti")
  }

  test("x69's hidden-partition query scans only translated directories") {
    import graft.plans.HiddenPartitioning
    val df = SparkEntry.queries("x69_hidden_partitioning")(spark, Sf0001)
    df.collect() // the pruned flag is computed inside; re-derive here
    val dir = s"target/x69_hidden_a_${math.abs(Sf0001.hashCode)}"
    val t = HiddenPartitioning.table(spark, dir)
    val q = t.filter(
      org.apache.spark.sql.functions.col("o_orderdate") >=
        org.apache.spark.sql.functions.lit("1996-01-01").cast("timestamp"))
    val scanned = HiddenPartitioning.partitionsScanned(q)
    val total = HiddenPartitioning.partitionsScanned(t)
    assert(scanned == total, "a full-year bound covers every month dir")
    val q2 = t.filter(org.apache.spark.sql.functions.col("o_orderdate") ===
      org.apache.spark.sql.functions.lit("1996-03-15").cast("timestamp"))
    assert(HiddenPartitioning.partitionsScanned(q2) <= 8,
      "a point date must scan at most one month's buckets")
  }

  test("x34's per-column stat legs each scan exactly one column (ReadSchema pruned)") {
    // ANALYZE over columnar files must cost one column per leg: if a
    // leg's scan reads the full row, stats collection pays table
    // width × row count instead of one column's bytes
    val p = plan("x34_table_stats")
    for (want <- Seq("struct<l_orderkey:bigint>", "struct<l_quantity:double>",
        "struct<l_returnflag:string>", "struct<l_shipdate:timestamp_ntz>"))
      assert(p.contains(want), s"a stats leg should prune its scan to $want")
  }
}
