package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorAgg
import graft.ops.VectorOps

/** Coverage-completing + scale-extension queries:
  *  - j5: zip-join of parallel arrays (SURVEY.md §2.3 J5,
  *    reference data/ingestion.py:195)
  *  - p6: error-row skip via PERMISSIVE JSON parsing (§2.2 P6,
  *    reference agent.py:107-119 try/except-continue)
  *  - x1: approx_count_distinct — the §7.2 scale path for A2 (no
  *    oracle: approximation algorithms differ across engines; the
  *    driver records a rows-only check)
  *  - v6: IVF k-NN with single-pass VectorSumAgg centroids (no
  *    oracle: float-sum centroids are partition-order dependent;
  *    correctness vs the exact v5 path is covered by VectorAggSpec)
  */
object ExtQ {

  /** x9 range join: attribution-window length (seconds; also the
    * time-bucket width, so every interval spans ≤ 2 buckets) and the
    * purchase-value floor that opens a window. */
  val RangeWindowSec = 900
  val RangeValueMin = 100.0

  /** x11 exact k-means: cluster count and assignment passes (updates
    * run between passes; see KMeans.fitExact). */
  val KmK = 4
  val KmPasses = 3

  /** v14 SemDeDup cosine threshold (same family as DedupQ.CosineMin). */
  val SemTau = 0.35

  /** x36 sketch-mode ANALYZE: HyperLogLog++ relative standard
    * deviation; the hash-pinned envelope allows 3·rsd (3σ). */
  val X36Rsd = 0.02

  /** Columns x36 profiles (both modes). */
  val X36Cols = Seq("l_orderkey", "l_quantity", "l_returnflag", "l_shipdate")

  /** x36's PRODUCTION mode — the plan the operator exists for at
    * 100 TB: EVERY column's NDV sketch from ONE corpus scan (C
    * fixed-size HLL buffers updated side by side, merged map-side, C
    * rows out) and NOTHING else — no exact-NDV envelope legs, which
    * each pay x34's per-column value-cardinality shuffle and exist
    * only so the declared audit-mode query can hash-pin the 3σ bound.
    * Audit mode (`x36_table_stats_hll` in [[queries]]) = this sketch
    * pass joined to the exact legs with the envelope verdict;
    * production mode = this DataFrame alone. PlanShapeSpec pins the
    * production plan at exactly one scan with no Expand/exact
    * distinct; [[graft.Bench]] times it as `x36_prod_only_sec` so the
    * mode split is a measurement, not prose. */
  def x36SketchOnly(s: SparkSession, d: String): DataFrame = {
    val li = Tables.load(s, d, "lineitem")
    li.agg(
        approx_count_distinct(col(X36Cols.head), X36Rsd).as(X36Cols.head),
        X36Cols.tail.map(c => approx_count_distinct(col(c), X36Rsd).as(c)): _*)
      .select(explode(map(X36Cols.flatMap(c => Seq(lit(c), col(c))): _*))
        .as(Seq("col_name", "ndv_est")))
  }

  /** x39: minimum equivalence-class size for k-anonymity. */
  val KAnonK = 10L

  /** x41 incremental ANALYZE: DataSketches-HLL log2(registers) and
    * the matching relative standard deviation (1.04/√2^lgK); the
    * hash-pinned envelope allows 3·rsd with a small absolute floor
    * (sketches are exact at tiny cardinalities, the floor only
    * guards the envelope arithmetic itself). */
  val X41LgK = 12
  val X41Rsd = 1.04 / math.sqrt(1 << X41LgK)

  /** x42 catalog-pruned probes: one range inside the profiled
    * o_totalprice domain, one provably above it at every SF. */
  val X42InLo = 1000.0
  val X42InHi = 2000.0
  val X42OutLo = 9000000.0
  val X42OutHi = 9900000.0

  /** x53 probes on the o_totalprice domain (near-uniform on
    * [1e3, 5e5] at every SF): the narrow slice holds ~4% of orders
    * (histogram estimate 0/16), the wide one ~56% (~9/16) — both
    * sit > 2 equi-depth buckets from [[X53MaxSixteenths]], so the
    * ±1-bucket-per-end histogram envelope cannot flip either
    * decision (Analyze.histSelectivity16's soundness line). */
  val X53NarrowLo = 1000.0
  val X53NarrowHi = 20000.0
  val X53WideLo = 20000.0
  val X53WideHi = 300000.0
  val X53MaxSixteenths = 4

  /** x59 shuffle sizing: bytes per target shuffle partition at
    * fixture scale (stands in for the production ~128 MiB) and the
    * partition-count ceiling (task-overhead guard). */
  val X59TargetBytes = 1L << 20
  val X59MaxParts = 64

  /** x60 admission constraint: a restated balance above this is a
    * suspicious restatement — quarantined for audit, never merged.
    * Sits inside the o_totalprice domain so real violations exist at
    * every SF (the domain tops out near 555k). */
  val X60MaxBal = 400000.0

  /** x51 merge arms: the account-closure line (a restated balance
    * below it deletes the row; it also gates the insert arm so the
    * insert CONDITION is exercised, not just the arm) and the key
    * shift that makes branch-account rows provably unmatched
    * (custkeys stay far below it at every SF — x30's maxKey move). */
  val X51CloseBelow = 30000.0
  val X51KeyShift = 1000000L

  /** v21 kNN self-join: neighbors kept per vector. */
  val KnnJoinK = 3

  /** v21's blocking-cluster sizing: target rows per k-means cluster.
    * The cluster count is DERIVED from the corpus size
    * ([[knnJoinClusters]]) so within-cluster candidate pairs stay
    * ~n·[[KnnBlockRows]] — linear — instead of the n²/k a fixed k
    * degenerates to (d14's count-based-switch precedent applied to
    * kNN-join blocking; the r7 smoke measured 50.07M pairs at 10×
    * under fixed k vs 5.06M with k scaled). */
  val KnnBlockRows = 125L

  /** x47's CHECK constraints: the length floor a real corpus gate
    * enforces (~30% of the fixture quarantines) and the known-language
    * allowlist (all-passing on the fixture — a gate that never fires
    * must still hash-replay). */
  val X47MinChars = 200L
  val X47Langs = Seq("en", "fr", "de", "es", "zh")

  /** Scale-aware cluster count for [[queries]]' v21: `max(KmK,
    * n / KnnBlockRows)` — KmK floors small fixtures (sf0.01 keeps the
    * original k = 4 blocking), integer division matches the oracle's
    * DuckDB `//`. */
  def knnJoinClusters(nVectors: Long): Int =
    math.max(KmK.toLong, nVectors / KnnBlockRows).toInt

  /** v6's showcased plan ALONE — single-pass [[VectorAgg.vectorSum]]
    * centroids (one shuffle of d-length buffers, never an n×d gram
    * explode), broadcast-assigned probe, heap top-k. The declared
    * `v6_knn_ivf_fast` wraps this in the agrees-exact envelope (which
    * runs v5's decimal-exact twin INSIDE the query), so the sweep time
    * of the declared query is dominated by the twin; [[Bench]] times
    * this method separately and reports it as `v6_fast_only_sec`, the
    * number the fast path actually earns. */
  def v6FastPath(s: SparkSession, d: String): DataFrame = {
    val e = Tables.load(s, d, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
    val cvecs = e.groupBy(col("label"))
      .agg(VectorAgg.vectorSum(col("embedding")).as("vs"), count(lit(1)).as("n"))
      .select(col("label").as("clabel"),
        transform(col("vs"), x => x / col("n")).as("cvec"))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val wAssign = Window.partitionBy(col("qid")).orderBy(col("craw").desc, col("clabel"))
    val assigned = q.crossJoin(broadcast(cvecs))
      .withColumn("craw", VectorOps.dot(col("qe").cast("array<double>"), col("cvec")))
      .withColumn("crn", row_number().over(wAssign))
      .filter(col("crn") === 1)
      .select(col("qid"), col("qe"), col("clabel"))
    // heap-select the 3 best neighbors per query (graft.plans.TopK,
    // no per-query sort), then rank the ≤3 survivors with a window.
    val probed = assigned.join(e,
        col("label") === col("clabel") && col("vec_id") =!= col("qid"))
      .withColumn("raw", VectorOps.dot(col("qe"), col("embedding")))
    val top = graft.plans.TopK.perKey(probed, Seq("qid"),
      Seq(col("raw").desc, col("vec_id")), 3)
    val wRank = Window.partitionBy(col("qid")).orderBy(col("raw").desc, col("vec_id"))
    top.withColumn("nb_rank", row_number().over(wRank))
      .select(col("qid"), col("clabel").as("probe_label"), col("vec_id").as("nb_id"),
        col("nb_rank"), round(col("raw"), 4).as("score"))
  }

  /** x5 envelope: the float trainer's final inertia must sit within
    * this relative tolerance of the decimal-exact objective (x11's
    * path). Measured drift ≤ 0.0024 across all three fixture SFs. */
  val InertiaRelTol = 0.01

  /** x4 envelope half-width: 4 × (1/accuracy) with accuracy = 1000 —
    * the SINGLE source for both the Spark bounds and the oracle's
    * quantile_cont probe points (interpolated below), so the two
    * sides can never drift apart. */
  val QuantEps = 0.004

  /** x10 heavy hitters: report terms with frequency > n/[[HhDen]]
    * (exact), found via a Misra–Gries sketch of capacity [[HhK]].
    * The guarantee needs HhK ≥ HhDen (summary error ≤ n/(HhK+1) <
    * threshold n/HhDen, so no true heavy hitter can be evicted). */
  /** x16 training-shard count — tiny at fixture scale; at 100 TB the
    * same round-robin over the global rank yields any shard count
    * without replanning. */
  val ShufShards = 8

  val HhK = 400
  val HhDen = 200

  val defs: Map[String, Q] = Map(
    // j5 — arrays_zip + posexplode: pair parallel arrays positionally.
    "j5_zip_arrays" -> ((s, d) => {
      Tables.load(s, d, "documents")
        .withColumn("words", graft.ops.TextFns.tokens(col("text")))
        .withColumn("lens", transform(col("words"), w => length(w)))
        .select(col("doc_id"),
          posexplode(arrays_zip(col("words"), col("lens"))).as(Seq("pos", "z")))
        .select(col("doc_id"), (col("pos") + 1).as("ord"),
          col("z.words").as("word"), col("z.lens").as("wlen"))
        .orderBy(col("doc_id"), col("ord"))
    }),


    // p6 — PERMISSIVE parse: malformed rows yield null and are
    // skipped, valid rows aggregate (the reference's per-row
    // try/except continue made declarative).
    "p6_error_skip" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .withColumn("j",
          when(col("event_id") % 7 === 0, substring(col("props"), 2, 1000))
            .otherwise(col("props")))
        .withColumn("parsed", from_json(col("j"), "map<string,int>",
          Map.empty[String, String]))
      ev.agg(
        sum(when(col("parsed").isNull, 1).otherwise(0)).cast("long").as("n_bad"),
        sum(when(col("parsed").isNotNull, 1).otherwise(0)).cast("long").as("n_ok"),
        sum(col("parsed").getItem("k")).cast("long").as("sum_k"))
    }),


    // x1 — HLL++ distinct estimate next to the exact count (scale
    // path for A2: one pass, constant memory, mergeable sketches).
    // DuckDB can't replay the sketch, so the estimate itself never
    // reaches the compared output; instead `approx_ok` pins that it
    // landed inside 3×rsd of the exact count — which IS
    // oracle-computable (the oracle emits literal true). Measured
    // error at sf0.01/sf0.1 is <1.5%, so the 6% envelope has margin
    // while still failing on any real sketch regression.
    "x1_approx_distinct" -> ((s, d) => {
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"), col("exact_parts"), col("n_rows"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            col("exact_parts") * 0.06).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    }),


    // x13 — SALTED two-phase aggregation (ops.Skew.saltedCount) on a
    // deliberately hot key: l_returnflag has 3 values over the whole
    // fact table, so a plain groupBy funnels a third of the corpus
    // into each of 3 reducers. The salt (deterministic hash of the
    // tie-break column, never random — retries stay reproducible)
    // spreads each hot key over `shards` partial aggregations; the
    // final combine touches keys × shards rows. The oracle is the
    // plain COUNT the two-phase plan must reproduce exactly.
    "x13_salted_count" -> ((s, d) => {
      graft.ops.Skew.saltedCount(
          Tables.load(s, d, "lineitem"), "l_returnflag",
          shards = 32, tieBreak = "l_orderkey")
        .orderBy(col("l_returnflag"))
    }),


    // x4 — approximate quantiles: the mergeable-sketch scale path for
    // q21's exact percentiles (same trade as x1's HLL for exact
    // distinct): one pass, bounded memory per group, partials merge
    // associatively. DuckDB can't replay the GK sketch, so the
    // estimates never reach the compared output; instead the query
    // emits the sketch's DEFINED rank-error envelope — exact
    // interpolated percentiles at p ± 4/accuracy (conservative cover
    // of the ±1/accuracy rank guarantee; quantile_cont parity with
    // DuckDB is already proven by q21) — and booleans pinning the
    // estimates inside it. Tighter per-value behavior is pinned by
    // ApproxQuantileSpec.
    "x4_approx_quantiles" -> ((s, d) => {
      val eps = QuantEps // 4 × (1/accuracy); accuracy = 1000 below
      Tables.load(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          approx_percentile(col("l_quantity"), lit(0.5), lit(1000)).as("am"),
          approx_percentile(col("l_quantity"), lit(0.9), lit(1000)).as("a90"),
          percentile(col("l_quantity"), lit(0.5 - eps)).as("median_lo"),
          percentile(col("l_quantity"), lit(0.5 + eps)).as("median_hi"),
          percentile(col("l_quantity"), lit(0.9 - eps)).as("p90_lo"),
          percentile(col("l_quantity"), lit(0.9 + eps)).as("p90_hi"),
          count(lit(1)).as("n_rows"))
        .select(col("l_returnflag"),
          col("median_lo"), col("median_hi"),
          col("am").between(col("median_lo"), col("median_hi")).as("median_ok"),
          col("p90_lo"), col("p90_hi"),
          col("a90").between(col("p90_lo"), col("p90_hi")).as("p90_ok"),
          col("n_rows"))
        .orderBy(col("l_returnflag"))
    }),


    // x5 — k-means clustering of the embedding corpus (ops.KMeans:
    // deterministic Lloyd's, k-smallest-ids seeding, TopK-heap
    // assignment, VectorSumAgg centroid updates). Float centroid
    // iterations aren't cross-engine reproducible, so the trained
    // assignment never reaches the compared output; instead the query
    // emits the BOUND-CHECKING envelope (x1/x4 pattern): the exact
    // Lloyd's objective from the decimal-exact twin (x11's path —
    // fully oracle-computable as a decimal sum of rounded per-point
    // distances) plus `inertia_ok`, pinning the float trainer's final
    // inertia within [[InertiaRelTol]] of the exact objective.
    // Measured |ratio−1| ≤ 0.0024 across sf0.001/0.01/0.1; the 1%
    // envelope has 4× margin yet fails on any real trainer regression
    // (lost pass, wrong assignment, buffer merge bug — each moves
    // inertia by percents). Per-assignment optimality/determinism
    // stays pinned by KMeansSpec. Runs training jobs at DataFrame
    // construction (iterative), like d6.
    "x5_kmeans" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val (_, assign) = graft.ops.KMeans.fit(vecs, "vec_id", "embedding",
        k = KmK, maxIters = KmPasses)
      val fastAgg = assign.agg(
        sum(col("sq_dist")).as("fast_inertia"))
      val exactAgg = graft.ops.KMeans.fitExact(vecs, "vec_id", "embedding",
          k = KmK, assignPasses = KmPasses)
        .agg(count(lit(1)).as("n_points"),
          sum(round(col("sq_dist"), 4).cast("decimal(28,4)"))
            .cast("double").as("exact_inertia"))
      exactAgg.crossJoin(broadcast(fastAgg))
        .select(lit(KmK).as("k"), col("n_points"), col("exact_inertia"),
          (abs(col("fast_inertia") / col("exact_inertia") - 1) <=
            lit(InertiaRelTol)).as("inertia_ok"))
    }),


    // x12 — INCREMENTAL AGGREGATE MAINTENANCE: fold the "new" batch
    // (1997+) into aggregate state built from history (pre-1997) and
    // read the merged state — proving merge(state(A), state(B)) ==
    // state(A ∪ B), which the oracle states as the plain one-shot
    // aggregate over everything. At scale the nightly cost is
    // O(batch) + a key-cardinality combine, never a history rescan.
    // avg derives from sum÷count at read time (single division, both
    // engines), sums in decimal so the merge order can't matter.
    "x12_incremental_agg" -> ((s, d) => {
      import graft.ops.IncrementalAgg
      val orders = Tables.load(s, d, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      val hist = IncrementalAgg.state(
        orders.filter(col("o_orderdate") < cut), "o_custkey", "o_totalprice")
      val batch = IncrementalAgg.state(
        orders.filter(col("o_orderdate") >= cut), "o_custkey", "o_totalprice")
      IncrementalAgg.merge(hist, batch, "o_custkey")
        // avg stays the RAW double quotient: the decimal sum and the
        // count are engine-identical, so the single IEEE division is
        // bit-exact — while round(…,4) would sit on a half-way edge
        // whenever an exact 2-decimal sum divides to a 5th-decimal 5
        // (Spark rounds the shortest decimal repr, DuckDB the binary
        // value, and they disagree there).
        .select(col("o_custkey"), col("n"),
          col("sum_v").cast("double").as("sum_spend"),
          (col("sum_v").cast("double") / col("n")).as("avg_spend"),
          col("min_v").as("min_spend"), col("max_v").as("max_spend"))
        .orderBy(col("o_custkey"))
    }),


    // x11 — ORACLE-EXACT k-means: the same Lloyd's loop as x5, but
    // with decimal-explode centroid means (bit-identical on any
    // engine/partitioning), so the flagship ML operator carries a
    // full hash-checked oracle — the DuckDB side unrolls the 3
    // assignment passes as a CTE chain, k11-style. x5 remains the
    // d-length-buffer scale path. Runs training jobs at construction.
    "x11_kmeans_exact" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      graft.ops.KMeans.fitExact(vecs, "vec_id", "embedding",
          k = KmK, assignPasses = KmPasses)
        .select(col("vec_id"), col("cluster_id"),
          round(col("sq_dist"), 4).as("sq_dist"))
        .orderBy(col("vec_id"))
    }),


    // s2 — gap-based sessionization (graft.streaming.Sessionize).
    "s2_sessionize" -> ((s, d) => {
      graft.streaming.Sessionize.sessionsBatch(
        Tables.load(s, d, "events"), gapSeconds = 900)
        .orderBy(col("user_id"), col("session_start"))
    }),


    // s3 — the stream-stream INTERVAL JOIN's batch twin, oracle-
    // checked: purchases joined to the same user's views from the
    // preceding hour. The exact operator streaming runs with
    // watermark-evictable state (StreamingSpec parity) — here the
    // driver's hash gate pins its semantics. Keyed by user, so the
    // join is a plain shuffle-partitionable equi join with a time
    // band, no binning needed (contrast keyless x9).
    "s3_interval_join" -> ((s, d) => {
      graft.streaming.EventStream.purchaseViewJoin(Tables.load(s, d, "events"))
        .orderBy(col("p_id"), col("v_id"))
    }),


    // s8 — the LEFT-OUTER stream-stream interval join's batch twin:
    // every purchase emits, null view columns for purchases with no
    // prior-hour view. The outer semantics are the streaming-hard
    // part (null rows may only emit once the watermark proves no
    // future match — EventStream.purchaseViewOuterJoin, parity in
    // StreamingSpec); the batch twin is what the driver's hash gate
    // can pin. Same user-keyed shuffle-partitionable shape as s3.
    "s8_outer_interval_join" -> ((s, d) => {
      graft.streaming.EventStream.purchaseViewOuterJoin(
          Tables.load(s, d, "events"))
        .orderBy(col("p_id"), col("v_id"))
    }),


    // s9 — the FULL-OUTER stream-stream interval join's batch twin:
    // s8 emits every purchase (null views for the unmatched); this
    // ALSO emits every unmatched view (no purchase by its user in
    // the following hour) with null purchase columns — the other
    // production question ("which exposures never converted?") from
    // the SAME state. Streaming, both null directions are
    // watermark-gated and the s8 quiet-side pitfall applies doubly
    // (StreamingSpec proves both); the batch FULL JOIN is what the
    // hash gate pins. Same user-keyed shuffle-partitionable shape.
    "s9_full_outer_interval_join" -> ((s, d) => {
      graft.streaming.EventStream.purchaseViewFullOuterJoin(
          Tables.load(s, d, "events"))
        .orderBy(col("p_id"), col("v_id"))
    }),


    // q21 — exact interpolated percentiles per group (sort-based, so
    // engine-order independent; matches DuckDB quantile_cont) behind
    // the BOUNDED-MEMORY switchover (ops.Percentiles): a count-only
    // pre-pass sizes the largest group, exact percentiles run only
    // while that fits one aggregation buffer, and past the bound the
    // query degrades to the x4 mergeable sketch instead of OOMing an
    // executor. The mode is the visible `exact` column — the oracle
    // pins that the exact path was taken at this SF.
    "q21_percentiles" -> ((s, d) => {
      graft.ops.Percentiles.grouped(
          Tables.load(s, d, "lineitem"), "l_returnflag", "l_quantity",
          Seq("median_qty" -> 0.5, "p90_qty" -> 0.9))
        .orderBy(col("l_returnflag"))
    }),


    // q22 — ROLLUP hierarchy totals (absent from the reference;
    // SURVEY.md §2.4 lists grouping sets as an engine extension).
    "q22_rollup" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .rollup(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy(coalesce(col("o_year"), lit(9999)),
          coalesce(col("o_orderpriority"), lit("~")))
    }),


    // q25 — CUBE: all grouping-set combinations over (year, priority)
    // with grouping_id disambiguating total rows from genuine nulls.
    // Same partial-agg + single-shuffle shape as a plain groupBy; the
    // 2^k set expansion happens map-side.
    "q25_cube" -> ((s, d) => {
      Tables.load(s, d, "orders")
        .cube(year(col("o_orderdate")).as("o_year"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          dsum2(col("o_totalprice")).as("sum_price"),
          grouping_id().cast("int").as("gid"))
        .orderBy(col("gid"), coalesce(col("o_year"), lit(9999)),
          coalesce(col("o_orderpriority"), lit("~")))
    }),


    // q23 — scalar subquery: decimal-exact global average as the
    // broadcast threshold.
    "q23_scalar_subquery" -> ((s, d) => {
      val o = Tables.load(s, d, "orders")
      val t = o.agg((sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("avgp"))
      o.crossJoin(broadcast(t))
        .filter(col("o_totalprice") > col("avgp") * 1.5)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    }),


    // q24 — correlated EXISTS over a date window (TPC-H Q4 shape):
    // order-priority distribution of orders with any line shipped
    // after the order date. Left-semi join, dims grouped after.
    "q24_order_priority_check" -> ((s, d) => {
      val ord = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-07-01").cast("timestamp"))
      val late = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_shipdate"))
      ord.join(late,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    }),


    // x3 — top-k per key via the CUSTOM OPERATOR (graft.plans.TopK:
    // LogicalPlan + Strategy + SparkPlan with bounded per-key heaps,
    // O(n log k) and k-row state instead of the window form's full
    // per-group sort). Oracle = the row_number window definition.
    "x3_topk_per_key" -> ((s, d) => {
      graft.plans.TopK.perKey(
          Tables.load(s, d, "events")
            .select(col("event_id"), col("user_id"), col("value")),
          Seq("user_id"), Seq(col("value").desc, col("event_id")), 3)
        .orderBy(col("user_id"), col("value").desc, col("event_id"))
    }),


    // x2 — backward AS-OF join (graft.ops.AsofJoin): attribute every
    // purchase event to the user's most recent view event at or
    // before it — the classic time-series attribution join. Views are
    // pre-deduped per (user, ts) with max_by so "latest" is unique
    // (the same determinism contract DuckDB's ASOF has). One shuffle
    // per side + one window sweep; no range-join blowup.
    "x2_asof_attrib" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id").as("v_user"), col("ts").as("v_ts"))
        .agg(max(col("event_id")).as("v_event_id"),
          max_by(col("value"), col("event_id")).as("v_value"))
      graft.ops.AsofJoin.backward(purchases, views,
          "user_id", "v_user", "ts", "v_ts",
          Seq("v_event_id", "v_ts", "v_value"), "m")
        .select(col("event_id"), col("user_id"), col("ts"),
          col("m.v_event_id").as("view_event_id"),
          col("m.v_ts").as("view_ts"),
          col("m.v_value").as("view_value"),
          (unix_micros(col("ts")) - unix_micros(col("m.v_ts"))).as("lag_us"))
        .orderBy(col("event_id"))
    }),


    // x6 — the training-data CLEANING PIPELINE as ONE declarative
    // plan: quality gate (token count + max word length) → exact
    // dedup (first-wins per md5) → deterministic train/val/test split
    // (t6's salted hash buckets) → per-(split, lang) corpus summary.
    // This is the composition story: each stage is an operator the
    // suite already checks in isolation (t2/d1/t6); composed, Catalyst
    // still plans it as scans + two shuffles (dedup key, summary key)
    // with every filter pushed below the joins — no materialization
    // between stages, which at 100 TB is the difference between one
    // pass and four.
    "x6_clean_pipeline" -> ((s, d) => {
      import graft.ops.TextFns
      val toks = TextFns.tokens(col("text"))
      val filtered = Tables.load(s, d, "documents")
        .withColumn("n_words", size(toks))
        .withColumn("max_wlen", array_max(transform(toks, t => length(t))))
        .filter(col("n_words").between(30, 5000) && col("max_wlen") <= 50)
        .withColumn("k", md5(col("text")))
      // keepers = the min doc_id of every md5 group; a doc survives
      // dedup iff its own id is a keeper id (ids are unique), so the
      // semi join needs only doc_id — no ambiguous self-join on k.
      val keepers = filtered.groupBy(col("k"))
        .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
      val deduped = filtered.join(keepers, Seq("doc_id"), "left_semi")
      val bucket = TextFns.hash60(concat(lit("split|"), col("doc_id").cast("string"))) % 100
      deduped
        .withColumn("split",
          when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_words")).cast("long").as("total_tokens"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("split"), col("lang"))
    }),


    // x7 — sequence PACKING: assign documents to fixed token-budget
    // packs (the batch-assembly step before pretraining). Docs are
    // concatenated in deterministic order and a doc belongs to the
    // pack where its first token lands. Packing runs within
    // (lang, shard) where shard is a salted hash of doc_id — real
    // pipelines pack per shard precisely so that NO global (or even
    // per-language) ordered cumsum exists: every window partition is
    // bounded by corpus_size / n_shards, and n_shards scales with the
    // data (8 here; ~1 shard per executor-sized slice at 100 TB).
    // Output is still a pure function of the data, independent of
    // cluster partitioning.
    "x7_pack_sequences" -> ((s, d) => {
      import graft.ops.TextFns
      val budget = 2048
      val shard = (TextFns.hash60(concat(lit("pack|"), col("doc_id").cast("string"))) % 8)
        .cast("int")
      val w = Window.partitionBy(col("lang"), col("shard")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.load(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          TextFns.wordCount(col("text")).as("n_tokens"), shard.as("shard"))
        .withColumn("cum", sum(col("n_tokens")).over(w))
        .withColumn("pack_id",
          floor((col("cum") - col("n_tokens")) / budget).cast("int"))
        .groupBy(col("lang"), col("shard"), col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("pack_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("lang"), col("shard"), col("pack_id"))
    }),


    // x8 — SCD-1 MERGE (ops.Merge): apply a latest-wins changeset to
    // the customer snapshot in one shuffle (union + max_by per key —
    // no window over the 100 TB side, no sort). The changeset is
    // CDC-shaped from orders: each customer's latest 1997+ order
    // updates their balance; cheap latest orders (< 30k) are account
    // closures (deletes).
    "x8_merge_upsert" -> ((s, d) => {
      import graft.ops.Merge
      val snapshot = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      val wl = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      val changes = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .withColumn("rn", row_number().over(wl))
        .filter(col("rn") === 1)
        .join(snapshot.select(col("c_custkey"), col("c_name")),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"),
          col("o_totalprice").as("c_acctbal"),
          when(col("o_totalprice") < 30000, "D").otherwise("U").as("op"))
      Merge.upsert(snapshot, changes, "c_custkey")
        .select(col("c_custkey"), col("c_name"),
          round(col("c_acctbal"), 2).as("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),


    // x9 — POINT-IN-INTERVAL RANGE JOIN (no equi key): attribute
    // click events to the 15-minute windows opened by high-value
    // purchases. The naive plan is a cross join with a BETWEEN
    // filter — O(n·m) and a BroadcastNestedLoopJoin at any scale.
    // Bucketizing time into window-length buckets turns it into an
    // EQUI join: each interval covers at most 2 buckets (exploded),
    // each event has exactly 1, so candidates are only co-bucketed
    // pairs and the exact BETWEEN cut runs on those. Pair volume is
    // O(events_per_bucket · windows_per_bucket) per bucket — the
    // standard range-join binning that survives 100 TB, with the
    // bucket width tied to the interval length so the expansion
    // factor stays ≤ 2.
    "x9_range_join" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val iv = ev.filter(col("event_type") === "purchase" &&
          col("value") >= RangeValueMin)
        .select(col("event_id").as("window_id"), col("ts").as("w_start"),
          (col("ts") + expr(s"INTERVAL $RangeWindowSec SECONDS")).as("w_end"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      graft.ops.RangeJoin.pointInInterval(clicks, iv,
          "ts", "w_start", "w_end", RangeWindowSec)
        .select(col("window_id"), col("event_id"), col("user_id"))
        .orderBy(col("window_id"), col("event_id"))
    }),


    // x10 — EXACT heavy hitters via the two-pass sketch plan: pass 1
    // collapses the term stream into one k-counter Misra–Gries
    // summary per partition (constant memory, map-side combine,
    // k-sized shuffle rows — functions/HeavyHittersAgg); pass 2
    // recounts ONLY the ≤ k candidates (broadcast semi-join keeps the
    // filter narrow; the groupBy then aggregates a few dozen terms,
    // not the raw stream) and thresholds on the exact count. The
    // sketch's no-false-negative guarantee (freq > n/(k+1) ⇒ in
    // summary) makes the final answer exact — unlike x1/x4 this
    // sketch query carries a full DuckDB oracle.
    "x10_heavy_hitters" -> ((s, d) => {
      val toks = Tables.load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(explode(graft.ops.TextFns.tokens(col("text"))).as("tok"))
        .select(lower(col("tok")).as("term"))
      // ONE sketch pass carries both the MG summary and the stream
      // length; Derived-persisted (it's a single row) so the candidate
      // explode and the threshold read it without recomputing — the
      // raw term stream is scanned exactly twice: sketch + recount.
      val sketch = Derived.of(s, d, "hh_sketch") {
        toks.agg(
          graft.functions.HeavyHittersAgg.heavyHitters(col("term"), HhK).as("cands"),
          count(lit(1)).as("n_toks"))
      }
      val cand = sketch.select(explode(col("cands")).as("term"))
      val tot = sketch.select(col("n_toks"))
      toks.join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .filter(col("cnt") * HhDen > col("n_toks"))
        .select(col("term"), col("cnt"))
        .orderBy(col("cnt").desc, col("term"))
    }),


    // x15 — heavy hitters PER GROUP: the same Misra–Gries
    // TypedImperativeAggregate running under groupBy(lang) — one
    // k-counter buffer per (group × partition), merged per group —
    // proving the sketch is a first-class grouped aggregate, not a
    // global-only pass (the per-language frequent-terms shape every
    // corpus report needs). Same two-pass exactness: per-group
    // candidates recounted exactly, thresholded on the group's own
    // stream length.
    "x15_heavy_hitters_grouped" -> ((s, d) => {
      val toks = Tables.load(s, d, "documents")
        .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
        .select(col("lang"),
          explode(graft.ops.TextFns.tokens(col("text"))).as("tok"))
        .select(col("lang"), lower(col("tok")).as("term"))
      val sketch = Derived.of(s, d, "hh_sketch_grouped") {
        toks.groupBy(col("lang")).agg(
          graft.functions.HeavyHittersAgg.heavyHitters(col("term"), HhK).as("cands"),
          count(lit(1)).as("n_toks"))
      }
      val cand = sketch.select(col("lang"), explode(col("cands")).as("term"))
      toks.join(broadcast(cand), Seq("lang", "term"), "left_semi")
        .groupBy(col("lang"), col("term")).agg(count(lit(1)).as("cnt"))
        .join(broadcast(sketch.select(col("lang"), col("n_toks"))), Seq("lang"))
        .filter(col("cnt") * HhDen > col("n_toks"))
        .select(col("lang"), col("term"), col("cnt"))
        .orderBy(col("lang"), col("cnt").desc, col("term"))
    }),


    // x16 — DETERMINISTIC GLOBAL SHUFFLE + SHARD ASSIGNMENT: the
    // "shuffle before training" step. Every doc gets a pseudorandom
    // but reproducible position (rank of hash60("shuf|"+id) in the
    // total order), then round-robin sharding gives N balanced shards
    // whose contents are independent of input partitioning. The
    // global rank comes from GlobalIndexExec (range exchange +
    // Tungsten-row numbering) — NOT a row_number over an
    // unpartitioned window, which would funnel 100 TB through one
    // reducer. The hash is md5-reconstructible, so the oracle
    // replays the exact permutation in SQL.
    "x16_global_shuffle" -> ((s, d) => {
      val docs = Tables.load(s, d, "documents")
        .select(col("doc_id"))
        .withColumn("shuffle_key",
          graft.ops.TextFns.hash60(concat(lit("shuf|"), col("doc_id").cast("string"))))
      graft.ops.GlobalIndex
        .withGlobalIndex(docs, Seq(col("shuffle_key"), col("doc_id")), "pos")
        .select(col("doc_id"), col("shuffle_key"),
          (col("pos") % ShufShards).cast("int").as("shard"),
          expr(s"pos div $ShufShards").as("pos_in_shard"))
        .orderBy(col("shard"), col("pos_in_shard"))
    }),


    // q29 — the S8 SQL SURFACE end to end: fixture tables registered
    // as views, a multi-statement SQL script (comment line, temp-view
    // statement, final select) run through SqlRunner, and the
    // custom codegen'd graft_dot expression invoked from PURE SQL
    // text — proving the extension functions exist on the SQL
    // surface, not just the Column API. Decimal-exact energy sum
    // (order-independent, see dsum2's rationale).
    "q29_sql_script" -> ((s, d) => {
      graft.GraftExtensions.install(s)
      graft.Tables.registerAll(s, d)
      val script =
        """-- S8: statements split on ';', '--' comment lines stripped,
          |-- one DataFrame per statement, last result returned.
          |CREATE OR REPLACE TEMPORARY VIEW q29_energy AS
          |SELECT label,
          |  count(*) AS n_vectors,
          |  CAST(sum(CAST(round(graft_dot(embedding, reverse(embedding)), 4)
          |    AS DECIMAL(18,4))) AS DOUBLE) AS energy
          |FROM embeddings
          |GROUP BY label;
          |SELECT label, n_vectors, energy
          |FROM q29_energy
          |ORDER BY label""".stripMargin
      graft.util.SqlRunner.runScript(s, script).last
    }),


    // v6 — IVF with single-pass centroid aggregation: one shuffle of
    // d-length buffers instead of exploding n×d rows (v5's
    // oracle-exact path). Same probe/rank shape as v5.
    //
    // BOUND-CHECKING ORACLE (the x1/x4 envelope pattern): the float-
    // summed centroids can't be replayed in SQL, so the fast path's
    // rows never reach the compared output. Instead the query emits
    // v5's decimal-exact result (fully oracle-computable) plus
    // `agrees_exact` — per-query equality of the fast path's
    // (probe_label, ranked neighbors, rounded scores) against v5's.
    // The identity is not luck: centroid argmax margins measured at
    // sf0.001/0.01/0.1 are ≥ 4e-4 while float-vs-decimal centroid
    // error is ~1e-12 (n·ulp), so the fast path picks the same
    // bucket — and within a bucket both paths score with the SAME
    // exact dot products. A real divergence (agg bug, tie-break
    // drift) flips the boolean → hash mismatch. VectorAggSpec keeps
    // the stronger full-row identity at both fixture scales.
    //
    // BENCH NARRATIVE: since the envelope runs v5's decimal-exact
    // path INSIDE this query, v6's sweep time is dominated by the
    // exact twin + comparison join, not the d-length-buffer fast
    // path it showcases — the fast path's own cost is timed
    // separately by Bench ([[v6FastPath]]) and reported as
    // `v6_fast_only_sec` in the bench JSON.
    "v6_knn_ivf_fast" -> ((s, d) => {
      val fast = v6FastPath(s, d)
      val exact = graft.queries.VectorQ.defs("v5_knn_ivf")(s, d)
      def sig(df: org.apache.spark.sql.DataFrame, label: String, nbs: String) =
        df.groupBy(col("qid")).agg(
          max(col("probe_label")).as(label),
          sort_array(collect_list(struct(col("nb_rank"), col("nb_id"),
            col("score")))).as(nbs))
      val agree = sig(fast, "f_label", "f_nbs")
        .join(sig(exact, "e_label", "e_nbs"), Seq("qid"))
        .select(col("qid"),
          (col("f_label") === col("e_label") &&
            col("f_nbs") === col("e_nbs")).as("agrees_exact"))
      exact.join(agree, Seq("qid"))
        .select(col("qid"), col("probe_label"), col("nb_id"), col("nb_rank"),
          col("score"), col("agrees_exact"))
        .orderBy(col("qid"), col("nb_rank"))
    }),


    // v14 — SEMANTIC DEDUPLICATION (SemDeDup, Abbas et al. 2023):
    // cluster the embedding space with k-means, then search for
    // near-duplicate pairs ONLY inside each cluster — the learned-
    // partition twin of d5's label blocking (no pre-existing label
    // needed) and the semantic complement of the lexical d2/d3.
    // Training uses KMeans.fitExact (decimal-explode means), so the
    // cluster assignment — and with it the whole result — replays
    // bit-exactly in the oracle's unrolled CTE chain. At 100 TB:
    // the model is a k×d broadcast, assignment a narrow map, and the
    // pair join is blocked by cluster_id (candidate pairs are
    // Σ cluster², never n²) — cluster count is the knob that keeps
    // blocks bounded, exactly as in the paper.
    "v14_semdedup" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val asg = graft.ops.KMeans.fitExact(vecs, "vec_id", "embedding",
          k = KmK, assignPasses = KmPasses)
        .select(col("vec_id"), col("cluster_id"))
      val ev = vecs.join(asg, Seq("vec_id"))
      val a = ev.select(col("cluster_id"), col("vec_id").as("keep_id"),
        col("embedding").as("ea"))
      val b = ev.select(col("cluster_id").as("cb"), col("vec_id").as("drop_id"),
        col("embedding").as("eb"))
      a.join(b, col("cluster_id") === col("cb") && col("keep_id") < col("drop_id"))
        .withColumn("raw", VectorOps.dot(col("ea"), col("eb")) /
          (VectorOps.l2norm(col("ea")) * VectorOps.l2norm(col("eb"))))
        .filter(col("raw") >= SemTau)
        .select(col("cluster_id"), col("keep_id"), col("drop_id"),
          round(col("raw"), 4).as("cosine"))
        .orderBy(col("keep_id"), col("drop_id"))
    }),


    // v21 — k-NN SELF-JOIN (batch all-pairs top-k, cluster-blocked):
    // every vector finds its K best neighbors in one pass — the
    // corpus-wide companion of the per-query ANN family (v4–v12 serve
    // "neighbors of THIS query"; v21 materializes "neighbors of
    // EVERYONE", the input to SemDeDup-style pruning, kNN-graph
    // construction, and NN-descent seeding). Candidates are blocked
    // by the SAME exact-k-means partition as v14 (declared semantics:
    // neighbors within the assigned cluster — the scale contract, and
    // the oracle replays the identical blocking), then a bounded
    // TopKPerKey heap keeps K per vector — no per-vector sort, no
    // n² join. The cluster count is SCALE-AWARE in the declared plan
    // (knnJoinClusters: max(KmK, n/KnnBlockRows), replayed by the
    // oracle's training CTE from the same count): a fixed k makes the
    // blocked join n²/k — quadratic — while k ∝ n pins candidate
    // pairs to ~n·KnnBlockRows, the linear regime the r7 smoke
    // measured (50.07M pairs at 10× fixed-k vs 5.06M scaled). The
    // sizing count is a plan-time statistic over parquet metadata
    // (k-means training is driver-iterative anyway). At 100 TB:
    // candidate pairs are Σ cluster² ≈ n·KnnBlockRows, and the heap
    // bounds both memory and the shuffle to K rows per vector.
    "v21_knn_join" -> ((s, d) => {
      val vecs = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"))
      val asg = graft.ops.KMeans.fitExact(vecs, "vec_id", "embedding",
          k = knnJoinClusters(vecs.count()), assignPasses = KmPasses)
        .select(col("vec_id"), col("cluster_id"))
      val ev = vecs.join(asg, Seq("vec_id"))
      val a = ev.select(col("cluster_id"), col("vec_id"), col("embedding").as("ea"))
      val b = ev.select(col("cluster_id").as("cb"), col("vec_id").as("nb_id"),
        col("embedding").as("eb"))
      val pairs = a.join(b,
          col("cluster_id") === col("cb") && col("vec_id") =!= col("nb_id"))
        .withColumn("raw", VectorOps.dot(col("ea"), col("eb")) /
          (VectorOps.l2norm(col("ea")) * VectorOps.l2norm(col("eb"))))
      val top = graft.plans.TopK.perKey(pairs, Seq("vec_id"),
        Seq(col("raw").desc, col("nb_id")), KnnJoinK)
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("raw").desc, col("nb_id"))
      top.withColumn("nb_rank", row_number().over(w))
        .select(col("vec_id"), col("cluster_id"), col("nb_id"),
          col("nb_rank"), round(col("raw"), 4).as("cosine"))
        .orderBy(col("vec_id"), col("nb_rank"))
    }),


    // s4 — ORDERED FUNNEL (sequential event-pattern match): how many
    // users progressed view → click → purchase, where each step must
    // occur STRICTLY AFTER the user's earliest previous step — the
    // conversion query every event warehouse runs, and a shape none
    // of s1–s3 cover (those window/join on time, not on order).
    // Per step: earliest qualifying timestamp per user, then the next
    // step filters on it. At 100 TB each stage is one groupBy(user) +
    // one equi join on user — all shuffles on the same key, so a
    // co-partitioned exchange reuse; the step tables shrink
    // monotonically, and nothing is ever globally sorted or windowed.
    "s4_funnel" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
        .select(col("user_id"), col("event_type"), col("ts"))
      def earliest(step: String, after: Option[DataFrame]): DataFrame = {
        val base = ev.filter(col("event_type") === step)
        val gated = after match {
          case Some(prev) => base.join(prev, Seq("user_id"))
            .filter(col("ts") > col("t_prev"))
          case None => base
        }
        gated.groupBy(col("user_id")).agg(min(col("ts")).as("t_prev"))
      }
      val s1 = earliest("view", None)
      val s2 = earliest("click", Some(s1))
      val s3 = earliest("purchase", Some(s2))
      val counts = Seq(("1_view", s1), ("2_click", s2), ("3_purchase", s3))
        .map { case (name, df) =>
          df.agg(count(lit(1)).as("n_users"))
            .select(lit(name).as("step"), col("n_users"))
        }
        .reduce(_.unionAll(_))
      // pct-of-first via a broadcast 1-row scalar — lazy, no action
      val first = counts.filter(col("step") === "1_view")
        .select(col("n_users").as("n_first"))
      counts.crossJoin(broadcast(first))
        .select(col("step"), col("n_users"),
          round(col("n_users") / col("n_first"), 4).as("pct_of_first"))
        .orderBy(col("step"))
    }),


    // s5 — COHORT RETENTION (the companion report to s4's funnel):
    // users grouped by first-active day (cohort), counted on every
    // later day they return, reported as a fraction of the cohort's
    // day-0 size — the canonical growth-analytics matrix. (Day grain
    // rather than week: the events fixture spans one month, so weeks
    // would collapse to a single cohort; the plan is grain-agnostic.)
    // Plan: one distinct over (user, day) [the only event-sized
    // shuffle], a per-user min, a user-keyed join back, then a
    // cohort-sized aggregate — no window anywhere, and the day-0 base
    // joins back on cohort_day (cohort-count-sized, broadcast). At
    // 100 TB every shuffle is keyed by user or by (cohort, offset);
    // nothing is ever globally sorted.
    "s5_retention" -> ((s, d) => {
      val wk = Tables.load(s, d, "events")
        .select(col("user_id"), col("ts").cast("date").as("day"))
        .distinct()
      val coh = wk.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
      val act = wk.join(coh, Seq("user_id"))
        .select(col("cohort_day"),
          datediff(col("day"), col("cohort_day")).as("day_offset"),
          col("user_id"))
      val m = act.groupBy(col("cohort_day"), col("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      val base = m.filter(col("day_offset") === 0)
        .select(col("cohort_day"), col("n_users").as("n_cohort"))
      m.join(broadcast(base), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("n_users"),
          round(col("n_users") / col("n_cohort"), 4).as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),


    // x81 — MAINTENANCE VERBS ON THE SQL SURFACE (RESTORE + VACUUM
    // as statements — the retention lifecycle x61/x29 serve from
    // Scala, reachable from pure SQL text like Delta's): `RESTORE
    // TABLE '<dir>' TO VERSION 1` lands the metadata-only rollback
    // (v3, zero data files), `VACUUM '<dir>' KEEP 1` then physically
    // drops v2 while the chain closure PROTECTS v1 (the restored
    // head's base — retention can never break what latest serves).
    // The read-back script pins all of it: v1's balances served via
    // the restore, the surviving version count, and the head's kind.
    // Statements run in their own script because table references
    // bind BEFORE statements execute (the x78 two-script pattern).
    "x81_sql_maintenance" -> ((s, d) => {
      val dir = s"target/x81_bal_${math.abs(d.hashCode)}"
      commitBalanceVersions(s, d, dir) // v1 pre-1997, v2 refresh
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""RESTORE TABLE '$dir' TO VERSION 1;
           |VACUUM '$dir' KEEP 1""".stripMargin)
      graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT b.o_custkey, b.balance, b.n_orders,
           |  (SELECT CAST(COUNT(*) AS INT) FROM table_history('$dir'))
           |    AS n_versions,
           |  (SELECT kind FROM table_history('$dir') WHERE version = 3)
           |    AS latest_kind
           |FROM snapshot_at('$dir', 3) b
           |ORDER BY o_custkey""".stripMargin).last
    }),


    // x72 — REFERENTIAL-INTEGRITY AUDIT (the FK half of x47's CHECK
    // constraints — a training-data pipeline's join keys are only as
    // good as this report): per relationship, orphans = ONE left-anti
    // join — BROADCAST against bounded dims (customer: map-side, the
    // fact never shuffles) and a key shuffle only for fact↔fact
    // (lineitem→orders). Three legs: two clean fixtures (0 orphans,
    // hash-pinned — "no violations" is a claim, not an absence) and
    // a staging batch whose every-97th custkey was corrupted
    // upstream, so both arms of the report carry real numbers. ppm
    // in integer math; min/max offender keys bound the blast radius
    // without shipping row samples.
    "x72_fk_audit" -> ((s, d) => {
      val cust = Tables.load(s, d, "customer").select(col("c_custkey"))
      val orders = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
      val lineitem = Tables.load(s, d, "lineitem").select(col("l_orderkey"))
      val staging = orders.select(col("o_orderkey"),
        when(col("o_orderkey") % 97 === 0, col("o_custkey") + 10000000L)
          .otherwise(col("o_custkey")).as("o_custkey"))
      def leg(rel: String, fact: DataFrame, fkey: String,
              dim: DataFrame, dkey: String, bcast: Boolean): DataFrame = {
        val dimSide = if (bcast) broadcast(dim) else dim
        fact.join(dimSide, fact(fkey) === dimSide(dkey), "left_anti")
          .agg(count(lit(1)).as("n_orphans"),
            min(col(fkey)).as("min_bad"), max(col(fkey)).as("max_bad"))
          .crossJoin(fact.agg(count(lit(1)).as("n_rows")))
          .select(lit(rel).as("rel"), col("n_rows"), col("n_orphans"),
            expr("n_orphans * 1000000 div n_rows").as("orphan_ppm"),
            col("min_bad"), col("max_bad"),
            (col("n_orphans") === 0).as("ok"))
      }
      leg("lineitem->orders", lineitem, "l_orderkey",
          orders.select(col("o_orderkey")), "o_orderkey", bcast = false)
        .unionByName(leg("orders->customer", orders, "o_custkey",
          cust, "c_custkey", bcast = true))
        .unionByName(leg("staging->customer", staging, "o_custkey",
          cust, "c_custkey", bcast = true))
        .orderBy(col("rel"))
    }),


    // x35 — INCREMENTAL VIEW MAINTENANCE of a JOIN view (delta-join):
    // the materialized view V = orders ⋈ lineitem aggregated per
    // customer, maintained under simultaneous inserts to BOTH fact
    // tables with the classic three delta terms
    // ΔV = ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL — the stored state's O⋈L join is
    // never re-run. Each delta term is Δ-sized on one side, so at
    // 100 TB the nightly cost is O(|Δ| · join fanout) probes plus a
    // key-cardinality merge (IncrementalAgg.merge — x12's monoid
    // state, sums in decimal so merge order can't matter), not a
    // history×history join. The fixture's quadrants are all
    // non-empty (old orders receive new lineitems and vice versa —
    // lineitem splits on l_shipdate, orders on o_orderdate), so every
    // delta term carries rows. The oracle is the one-shot
    // join-aggregate over everything: the hash proves
    // merge(state(O⋈L), state(ΔV)) == state((O∪ΔO)⋈(L∪ΔL)), the IVM
    // correctness identity, extended from x12's single-table case to
    // a two-sided join view.
    "x35_ivm_join" -> ((s, d) => {
      import graft.ops.IncrementalAgg
      val cut = lit("1997-01-01").cast("timestamp")
      val o = Tables.load(s, d, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val l = Tables.load(s, d, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_shipdate"))
      val oOld = o.filter(col("o_orderdate") < cut)
      val oNew = o.filter(col("o_orderdate") >= cut)
      val lOld = l.filter(col("l_shipdate") < cut)
      val lNew = l.filter(col("l_shipdate") >= cut)
      def joined(a: DataFrame, b: DataFrame) =
        a.join(b, col("o_orderkey") === col("l_orderkey"))
          .select(col("o_custkey"), col("l_extendedprice"))
      val state = IncrementalAgg.state(
        joined(oOld, lOld), "o_custkey", "l_extendedprice")
      val delta = IncrementalAgg.state(
        joined(oNew, lOld).unionByName(joined(oOld, lNew))
          .unionByName(joined(oNew, lNew)),
        "o_custkey", "l_extendedprice")
      IncrementalAgg.merge(state, delta, "o_custkey")
        .select(col("o_custkey"), col("n").as("n_items"),
          col("sum_v").cast("double").as("revenue"),
          col("min_v").as("min_price"), col("max_v").as("max_price"))
        .orderBy(col("o_custkey"))
    }),


    // q33 — CORRELATED EXISTS / NOT EXISTS: customers with at least
    // one urgent order but no blockbuster order — the classic
    // correlated-subquery pair, declared in SQL so Catalyst's
    // RewritePredicateSubquery turns it into one LeftSemi + one
    // LeftAnti join (never a per-row subquery execution — the only
    // shape that scales; the oracle runs the identical SQL text).
    "q33_correlated_exists" -> ((s, d) => {
      graft.Tables.registerAll(s, d)
      s.sql(
        s"""SELECT c_custkey, c_mktsegment FROM customer c
           |WHERE EXISTS (SELECT 1 FROM orders o
           |              WHERE o.o_custkey = c.c_custkey
           |                AND o.o_orderpriority = '1-URGENT')
           |  AND NOT EXISTS (SELECT 1 FROM orders o
           |                  WHERE o.o_custkey = c.c_custkey
           |                    AND o.o_totalprice > $Q33PriceCut)
           |ORDER BY c_custkey""".stripMargin)
    }),


    // x22 — BUCKETED CO-LOCATED JOIN (Sources.writeBucketed end to
    // end): both fact tables written bucketed+sorted on the join key
    // into the catalog, then joined — the pre-partitioning pattern
    // that makes a REPEATED big-big join shuffle-free: each side's
    // bucket layout satisfies the join's distribution requirement,
    // so no Exchange on either side (pinned by SourcesSpec with
    // broadcast off; at fixture scale AQE may still elect a
    // broadcast — either way, no hash exchange of the fact tables).
    // At 100 TB this converts the every-query shuffle of the hottest
    // join into a one-time bucketed write. Bucketed writes happen at
    // DataFrame-construction time (like x5/x21's eager stages).
    "x22_bucketed_join" -> ((s, d) => {
      graft.sources.Sources.writeBucketed(
        Tables.load(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice")),
        "graft_x22_orders", "o_orderkey", 8)
      graft.sources.Sources.writeBucketed(
        Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice")),
        "graft_x22_lineitem", "l_orderkey", 8)
      s.table("graft_x22_lineitem")
        .join(s.table("graft_x22_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(count(lit(1)).as("n_items"),
          dsum2(col("l_extendedprice")).as("sum_price"))
        .orderBy(col("o_year"))
    }),


    // x39 — K-ANONYMITY AUDIT (privacy governance for training
    // data): generalize the quasi-identifiers (nation, market
    // segment, account-balance band — the binning step every
    // k-anonymity pipeline applies before judging), then report each
    // equivalence class's size, whether it clears k = KAnonK, and
    // the corpus-level re-identification exposure (rows in
    // sub-threshold classes). A record in a class smaller than k is
    // re-identifiable by its quasi-identifiers alone — the audit
    // that must pass before a tabular corpus ships to training. One
    // keyed aggregate + a 1-row totals scalar broadcast back onto
    // the report; risk_rate is a raw double quotient of exact
    // integers (engine-identical). At 100 TB: class cardinality is
    // the generalized-key space (bounded by design — that is what
    // generalization is FOR), and the totals row is aggregate-sized.
    "x39_k_anonymity" -> ((s, d) => {
      val classes = Tables.load(s, d, "customer")
        .select(col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"))
        .groupBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
        .agg(count(lit(1)).as("class_size"))
      val totals = classes.agg(
        sum(col("class_size")).as("n_total"),
        sum(when(col("class_size") < KAnonK, col("class_size"))
          .otherwise(lit(0L))).as("n_at_risk"))
      classes.crossJoin(broadcast(totals)) // 1-row totals scalar
        .select(col("c_nationkey"), col("c_mktsegment"), col("bal_band"),
          col("class_size"),
          (col("class_size") >= KAnonK).as("anonymous"),
          col("n_at_risk"),
          (col("n_at_risk").cast("double") / col("n_total")).as("risk_rate"))
        .orderBy(col("c_nationkey"), col("c_mktsegment"), col("bal_band"))
    }),


    // x23 — SALTED SHUFFLE JOIN (ops.Skew.saltedJoin): the skew
    // remedy for a probe side hot on few key values when the build
    // side can't broadcast. l_returnflag is the engine's maximal-skew
    // key (3 values across the whole fact table — a plain shuffle
    // join funnels a third of the corpus per reducer); the salted
    // rewrite joins on (key, salt) so each hot key spreads over 8
    // reducers, build side replicated 8× (3 rows → 24). The final
    // per-flag aggregate proves multiplicity is unchanged: n_rows
    // must equal the plain group count the oracle states. SkewSpec
    // pins the (key, salt) exchange in the plan.
    "x23_salted_join" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val dim = li.groupBy(col("l_returnflag"))
        .agg(dsum2(col("l_extendedprice")).as("flag_total"))
      graft.ops.Skew.saltedJoin(
          li.select(col("l_orderkey"), col("l_returnflag")),
          dim, "l_returnflag", shards = 8, tieBreak = "l_orderkey")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          max(col("flag_total")).as("flag_total"))
        .orderBy(col("l_returnflag"))
    }),


    "s6_enrich_events" -> ((s, d) => {
      val dim = Tables.load(s, d, "customer")
        .select(col("c_custkey").as("user_id"),
          col("c_mktsegment").as("segment"))
      graft.streaming.EventStream.enrichWithDim(
          Tables.load(s, d, "events"), dim)
        .select(col("event_id"), col("user_id"), col("segment"))
        .orderBy(col("event_id"))
    }),


    // s7 — AT-LEAST-ONCE DELIVERY DEDUP: the ingest-side twin of the
    // d1 batch operator. Real feeds re-deliver (producer retries,
    // consumer-group rebalances), so the query synthesizes the
    // at-least-once shape — a hash-chosen ~10% of events arrives
    // TWICE — and pushes the feed through EventStream.dedupedEvents,
    // the SAME function the streaming path runs per micro-batch
    // (dropDuplicatesWithinWatermark there, dropDuplicates here —
    // StreamingSpec pins the parity across micro-batch splits). The
    // summary proves exactly-once state from at-least-once input:
    // n_delivered counts the duplicated feed, n_unique/sum_value the
    // deduped survivors — re-deliveries are row-identical, so the
    // dedup pick is deterministic set semantics, no arbitrary-row
    // hazard. At 100 TB/day: state is bounded by the watermark
    // horizon (ids are forgotten once the watermark passes), which is
    // the only dedup shape that runs forever on an unbounded feed.
    "s7_at_least_once_dedup" -> ((s, d) => {
      val ev = Tables.load(s, d, "events")
      val redelivered = ev.filter(
        graft.ops.TextFns.hash60(concat(lit("redeliver|"),
          col("event_id").cast("string"))) % 10 === 0)
      val feed = ev.unionByName(redelivered)
      val deduped = graft.streaming.EventStream.dedupedEvents(feed)
      val delivered = feed.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_delivered"))
      val unique = deduped.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_unique"),
          sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      delivered.join(unique, Seq("event_type"))
        .select(col("event_type"), col("n_delivered"), col("n_unique"),
          col("sum_value"))
        .orderBy(col("event_type"))
    })
  )

  /** x28: the overwritten partition (a mid-range source so the query
    * exercises base partitions on both sides of it). */
  val X28Pval = "src3"

  /** q33: the blockbuster-order threshold (sits inside every SF's
    * o_totalprice range, so both EXISTS legs filter non-trivially). */
  val Q33PriceCut = 300000

  /** x32: the audit's minimum-length gate (roughly a quarter of every
    * fixture's docs fall below it, so the staged refresh differs
    * non-trivially from v1). */
  val X32MinChars = 200

  /** x25's store state at one point in time, as (store, bucket, id)
    * rows: the document corpus (bucket −1, id = doc_id) and the
    * vector store (bucket = cluster_id, id = vec_id). Pre-batch =
    * the x14 "existing" doc split + the stored history index
    * assignment; post-batch adds the x14-admitted unique batch docs
    * and swaps in the v20-appended index — whose stored side comes
    * from the SAME persisted relations, so the composed plan admits
    * the batch without rescanning either stored corpus
    * (PlanShapeSpec pins it). */
  private[graft] def x25State(s: SparkSession, d: String,
                              postBatch: Boolean): DataFrame = {
    val isNew = (graft.ops.TextFns.hash60(concat(lit("inc|"),
      col("doc_id").cast("string"))) % 10).cast("int") >= 8
    val existing = Tables.load(s, d, "documents")
      .filter(!isNew)
      .select(lit("docs").as("store"), lit(-1).cast("int").as("bucket"),
        col("doc_id").cast("long").as("id"))
    val docsState =
      if (!postBatch) existing
      else existing.unionByName(
        DedupQ.defs("x14_incremental_dedup")(s, d)
          .filter(col("verdict") === "unique")
          .select(lit("docs").as("store"), lit(-1).cast("int").as("bucket"),
            col("doc_id").cast("long").as("id")))
    val index =
      if (!postBatch) VectorQ.x25HistoryIndex(s, d)
      else VectorQ.x25AppendedIndex(s, d)
    val vecsState = index.assigned
      .select(lit("vecs").as("store"), col("cluster_id").cast("int").as("bucket"),
        col("vec_id").cast("long").as("id"))
    docsState.unionByName(vecsState)
  }

  /** x21: the queried key range. Constant across SFs (doc_id starts
    * at 0 in every fixture), sized so 8 shards always leave some
    * non-overlapping — the `pruned` flag must be true at every SF. */
  val ShardRangeLo = 100L
  val ShardRangeHi = 249L

  /** x19: bit-interleaved z-value of the 4-bit buckets `ub`/`tb`,
    * written with integer div/mod only so the identical expression
    * (modulo the division operator) runs on Spark (`div`) and DuckDB
    * (`//`). ub bits land on odd positions, tb on even. */
  def zInterleave(intDiv: String): String =
    (0 until 4).map { i =>
      s"((ub $intDiv ${1 << i}) % 2) * ${1 << (2 * i + 1)}" +
        s" + ((tb $intDiv ${1 << i}) % 2) * ${1 << (2 * i)}"
    }.mkString(" + ")

  /** x19 layout constants: z-values per file (16 files × span 16
    * covers the 8-bit z space) and the query box [lo, hi] on both
    * dimensions. */
  val ZFileSpan = 16
  val ZBoxLo = 4
  val ZBoxHi = 7

  /** x52: the executed layout's file count (matches x19's 16-file
    * report granularity — but files here are equal-ROW rank slices
    * of the z order, the shape an OPTIMIZE job actually writes, not
    * x19's equal-z-span simulation). */
  val ZExecFiles = 16

  /** x52: [[zInterleave]]'s bit math in plain Scala, for turning the
    * bit-aligned query box into its ONE contiguous z interval on the
    * driver. A box aligned to a power-of-two grid maps to a single z
    * range ([zOf(lo,lo), zOf(hi,hi)]); a general box decomposes into
    * a short list of such aligned sub-boxes (the BIGMIN/LITMAX
    * range-splitting of the z-order-curve literature) probed the
    * same way — the interval count is a planner constant either way,
    * never data-sized. */
  def zOf(ub: Int, tb: Int): Int =
    (0 until 4).map(i => ((ub >> i) & 1) * (1 << (2 * i + 1)) +
      ((tb >> i) & 1) * (1 << (2 * i))).sum

  /** x24/x54 shared oracle: both versions of the balance table stated
    * straight from orders. x54 shares the STRING deliberately — the
    * SQL-surface run must hash-match the Scala API's pinned reads. */
  val X63OracleSql: String =
    """WITH v1 AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS balance,
      |    COUNT(*) AS n_orders
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1),
      |v2 AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS balance,
      |    COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT 'at_v1' AS as_of, o_custkey, balance, n_orders,
      |  CAST(1 AS INT) AS resolved_version FROM v1
      |UNION ALL
      |SELECT 'between', o_custkey, balance, n_orders, CAST(1 AS INT) FROM v1
      |UNION ALL
      |SELECT 'after_v2', o_custkey, balance, n_orders, CAST(2 AS INT) FROM v2
      |ORDER BY as_of, o_custkey""".stripMargin

  /** x69/x71 shared oracle: rows restated straight from orders (the
    * layout must be invisible to the answer); pruned = TRUE is the
    * listing witness — a translation that dropped a matching
    * partition would drop rows, one that failed to fire would flip
    * the flag. */
  val X69OracleSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS price,
      |  TRUE AS pruned
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate <= TIMESTAMP '1996-06-30 23:59:59'
      |  AND o_custkey IN (0, 2, 3, 4, 5, 6)
      |ORDER BY o_orderkey""".stripMargin

  val X24OracleSql: String =
    """WITH v1 AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bal_v1,
      |    COUNT(*) AS n_orders_v1
      |  FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      |  GROUP BY 1),
      |latest AS (
      |  SELECT o_custkey,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS bal_latest,
      |    COUNT(*) AS n_orders_latest
      |  FROM orders GROUP BY 1)
      |SELECT l.o_custkey, v.bal_v1, v.n_orders_v1,
      |  l.bal_latest, l.n_orders_latest, CAST(2 AS INT) AS n_versions
      |FROM latest l LEFT JOIN v1 v USING (o_custkey)
      |ORDER BY o_custkey""".stripMargin

  /** x51/x58/x60 shared oracle CTE: the four merge arms stated as
    * three UNION legs over the replayed changeset — matched rows
    * surviving the closure line take the source payload, unmatched
    * targets keep unless negative, unmatched source keys insert
    * above the line. x58 shares the STRING deliberately
    * (merge-on-read must reproduce copy-on-write row for row); x60
    * narrows the changeset with its constraint via `srcCond` —
    * `src0` is the raw changeset, `src` what the merge admits. */
  def x51MergedCte(srcCond: String): String =
    s"""latest AS (
       |  SELECT o_custkey, o_totalprice,
       |    row_number() OVER (PARTITION BY o_custkey
       |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
       |  FROM orders
       |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
       |restated AS (
       |  SELECT c.c_custkey, c.c_name, l.o_totalprice AS c_acctbal
       |  FROM latest l JOIN customer c ON l.o_custkey = c.c_custkey
       |  WHERE l.rn = 1),
       |src0 AS (
       |  SELECT c_custkey, c_name, c_acctbal FROM restated
       |  UNION ALL
       |  SELECT c_custkey + $X51KeyShift, 'branch of ' || c_name, c_acctbal
       |  FROM restated WHERE c_custkey % 31 = 0),
       |src AS (SELECT * FROM src0 WHERE $srcCond),
       |merged AS (
       |  SELECT s.c_custkey, s.c_name, s.c_acctbal
       |  FROM src s JOIN customer t ON s.c_custkey = t.c_custkey
       |  WHERE s.c_acctbal >= $X51CloseBelow
       |  UNION ALL
       |  SELECT t.c_custkey, t.c_name, t.c_acctbal
       |  FROM customer t LEFT JOIN src s ON s.c_custkey = t.c_custkey
       |  WHERE s.c_custkey IS NULL AND t.c_acctbal >= 0
       |  UNION ALL
       |  SELECT s.c_custkey, s.c_name, s.c_acctbal
       |  FROM src s LEFT JOIN customer t ON s.c_custkey = t.c_custkey
       |  WHERE t.c_custkey IS NULL AND s.c_acctbal >= $X51CloseBelow)""".stripMargin

  /** x51/x58 shared target: the customer balance table. */
  private[queries] def x51Target(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "customer")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))

  /** x51/x58 shared changeset: each customer's latest 1997+ order
    * restates their balance (one row per key — mergeInto's
    * contract), and key % 31 customers also open a branch account
    * under a shifted, provably-unmatched key. */
  private[queries] def x51Changeset(s: SparkSession, d: String,
                           target: DataFrame): DataFrame = {
    val wl = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    val restated = Tables.load(s, d, "orders")
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .withColumn("rn", row_number().over(wl))
      .filter(col("rn") === 1)
      .join(target.select(col("c_custkey"), col("c_name")),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("o_totalprice").as("c_acctbal"))
    restated.unionByName(
      restated.filter(col("c_custkey") % 31 === 0)
        .select((col("c_custkey") + X51KeyShift).as("c_custkey"),
          concat(lit("branch of "), col("c_name")).as("c_name"),
          col("c_acctbal")))
  }

  /** x53/x57 shared oracle CTE: the 15 equi-depth boundaries of
    * o_totalprice recomputed from exact ROW_NUMBER ranks — the same
    * ceil(i·n/16) order statistics StatsCatalog.equiDepth commits, so
    * a consumer's replay can never drift from the catalog. */
  val HistBoundsCte: String =
    """n AS (SELECT COUNT(o_totalprice) AS c FROM orders),
      |ranked AS (SELECT CAST(o_totalprice AS DOUBLE) AS v,
      |    ROW_NUMBER() OVER (ORDER BY o_totalprice) AS r
      |  FROM orders WHERE o_totalprice IS NOT NULL),
      |bounds AS (SELECT i,
      |    (SELECT v FROM ranked, n WHERE r = (i * c + 15) // 16) AS b
      |  FROM range(1, 16) t(i))""".stripMargin

  /** x33/x56 shared oracle: all three per-version feeds stated from
    * source (insert flood, DV keys, replace-partition diff). x56
    * shares the STRING deliberately — the SQL-surface feed must
    * hash-match the Scala API's. */
  val X33OracleSql: String =
    s"""WITH del AS (
       |  SELECT doc_id FROM documents
       |  WHERE CAST(('0x' || substr(md5('gdpr|' || doc_id::VARCHAR), 1, 15))
       |    AS BIGINT) % 20 = 0),
       |s3 AS (
       |  SELECT doc_id, n_chars FROM documents d
       |  WHERE source = '$X28Pval'
       |    AND NOT EXISTS (SELECT 1 FROM del WHERE del.doc_id = d.doc_id)),
       |allc AS (
       |  SELECT CAST(1 AS INT) AS to_version, 'I' AS op, doc_id
       |  FROM documents
       |  UNION ALL
       |  SELECT CAST(2 AS INT), 'D', doc_id FROM del
       |  UNION ALL
       |  SELECT CAST(3 AS INT),
       |    CASE WHEN n_chars < $X32MinChars THEN 'D' ELSE 'U' END, doc_id
       |  FROM s3)
       |SELECT to_version, op, COUNT(*) AS n,
       |  CAST(SUM(doc_id) AS BIGINT) AS keysum
       |FROM allc GROUP BY to_version, op
       |ORDER BY to_version, op""".stripMargin

  /** x33/x56 shared frame: (re)commit the three-kind change history —
    * v1 data (full corpus), v2 deletion vector (GDPR takedown keys),
    * v3 partition replace (one source rescored) — under `dir`. */
  private[queries] def x33CommitHistory(s: SparkSession, d: String, dir: String): Unit = {
    import graft.sources.Snapshots
    Snapshots.drop(s, dir) // deterministic version numbers per run
    val docs = Tables.load(s, d, "documents")
      .select(col("doc_id"), col("source"), col("n_chars"))
    Snapshots.commit(docs, dir)
    val takedown = docs.filter(
        graft.ops.TextFns.hash60(concat(lit("gdpr|"),
          col("doc_id").cast("string"))) % 20 === 0)
      .select(col("doc_id"))
    Snapshots.commitDeletes(takedown, dir, base = 1)
    val rescored = Snapshots.readResolved(s, dir, Some(2))
      .filter(col("source") === X28Pval && col("n_chars") >= X32MinChars)
      .withColumn("n_chars", col("n_chars") * 2)
    Snapshots.commitReplace(rescored, dir, base = 2,
      pcol = "source", pval = X28Pval)
  }

  /** x24/x54 shared frame: (re)commit the customer balance table as
    * exactly two versions under `dir` — v1 over pre-1997 orders, v2
    * over all — so both queries pin reads against a known log. */
  /** x66/x67/x68 fact frame: the governed orders table the MV is
    * declared over — v1 is the pre-1997 slice, v2 (x68's outdating
    * commit) everything. */
  private[queries] def x66Fact(s: SparkSession, d: String, allRows: Boolean): DataFrame = {
    val o = Tables.load(s, d, "orders").select(
      col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
      col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
    if (allRows) o
    else o.filter(col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
  }

  /** x66/x67/x68 shared setup: commit the fact (v1), build + commit
    * the (status, priority) MV over it, register it for MvRewrite
    * with freshness = "the fact's published log is still exactly
    * what the view was built from". Per-query dirs (`tag`) keep the
    * three declared queries order-independent. */
  private[queries] def x66Setup(s: SparkSession, d: String, tag: String): (String, String) = {
    import graft.sources.Snapshots
    val factDir = s"target/x66_fact_${tag}_${math.abs(d.hashCode)}"
    val mvDir = s"target/x66_mv_${tag}_${math.abs(d.hashCode)}"
    Snapshots.drop(s, factDir)
    Snapshots.commit(x66Fact(s, d, allRows = false), factDir)
    val fact = Snapshots.read(s, factDir)
    val v0 = Snapshots.versions(s, factDir)
    graft.plans.MatView.create(s, s"x66_$tag", fact, mvDir,
      groupCols = Seq("o_orderstatus", "o_orderpriority"),
      sumCols = Seq("price" -> col("o_totalprice").cast("decimal(18,2)")),
      minMaxCols = Seq("price" -> col("o_totalprice")),
      isFresh = () => Snapshots.versions(s, factDir) == v0)
    (factDir, mvDir)
  }

  /** Root paths of every file scan in the optimized plan — the one
    * collector behind every MV plan-decision pin (x66UsedMv, x75's
    * served_by); one definition so the pins can't drift. */
  private[queries] def scanRoots(q: DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    q.queryExecution.optimizedPlan.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten
  }

  /** The hashed plan-decision flag: true iff the optimized plan
    * scans the MV and NOT the fact — a declined (or half-applied)
    * rewrite can't fake it. */
  /** The MV family's shared consumer mechanics: bind the fact read
    * as a view, run the aggregate text, pin the plan decision
    * (used_mv) and the total order. */
  private[queries] def x66Consume(s: SparkSession, fact: DataFrame, view: String,
                         sql: String, mvDir: String, factDir: String,
                         order: String*): DataFrame = {
    fact.createOrReplaceTempView(view)
    val q = s.sql(sql)
    q.withColumn("used_mv", lit(x66UsedMv(q, mvDir, factDir)))
      .orderBy(order.map(col): _*)
  }

  private[queries] def x66UsedMv(q: DataFrame, mvDir: String, factDir: String): Boolean = {
    val paths = scanRoots(q)
    paths.exists(_.contains(mvDir)) && !paths.exists(_.contains(factDir))
  }

  /** x69/x71 shared layout: one retention year of orders landed
    * month(o_orderdate) × bucket8(o_custkey) — 12 × 8 = 96
    * directories, enough layout to make the prune witness real
    * without x26-class per-directory committer overhead drowning the
    * measurement (the commit is one co-located shuffle + one file
    * per directory either way; dirs, not rows, set its cost).
    * Per-query dirs (`tag`) keep the declared queries
    * order-independent. */
  private[graft] def x69Layout(s: SparkSession, d: String, tag: String,
                        buckets: Int = 8): String = {
    import graft.plans.HiddenPartitioning
    // read-only layout fixture: built once, reused across sweeps (on
    // reuse HiddenPartitioning.table() recovers the spec from the
    // layout's own `_hidden_spec.json` sidecar)
    Fixtures.ensureAt(s, s"target/x69_hidden_${tag}_${math.abs(d.hashCode)}",
        Fixtures.fp(d, s"orders 1996 month x bucket$buckets")) { fdir =>
      HiddenPartitioning.write(s,
        Tables.load(s, d, "orders")
          .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
            col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
          .select(col("o_orderkey"),
            col("o_custkey"), col("o_orderdate"), col("o_totalprice")),
        fdir,
        Seq(HiddenPartitioning.Month("o_orderdate"),
          HiddenPartitioning.Bucket("o_custkey", buckets)))
      ()
    }
  }

  private[queries] def commitBalanceVersions(s: SparkSession, d: String, dir: String,
                                    ts: Option[(Long, Long)] = None): Unit = {
    import graft.sources.Snapshots
    // v1/v2 are deterministic per (d, ts): build once, reuse across
    // sweeps. Callers that add versions on top (x61/x74 restore) get
    // them truncated at reuse; x81's vacuum removes v1 in place,
    // which fails the reuse check and rebuilds — correct either way.
    Fixtures.ensureAt(s, dir,
        Fixtures.fp(d, s"balances v1<1997 v2=all ts=${ts.getOrElse("none")}")) { fdir =>
      val orders = Tables.load(s, d, "orders")
      val cut = lit("1997-01-01").cast("timestamp")
      def balances(o: DataFrame) = o.groupBy(col("o_custkey"))
        .agg(dsum2(col("o_totalprice")).as("balance"),
          count(lit(1)).as("n_orders"))
      val v1 = balances(orders.filter(col("o_orderdate") < cut))
      val v2 = balances(orders)
      ts match {
        case Some((t1, t2)) =>
          Snapshots.commitAt(v1, fdir, t1); Snapshots.commitAt(v2, fdir, t2)
        case None =>
          Snapshots.commit(v1, fdir); Snapshots.commit(v2, fdir)
      }
    }
    ()
  }

  /** x52/x55: the events with their 4-bit query buckets and z-value
    * (x19's exact integer interleave). */
  private[queries] def zEvents(s: SparkSession, d: String): DataFrame =
    Tables.load(s, d, "events")
      .withColumn("ub", (col("user_id") % 16).cast("int"))
      .withColumn("tb",
        expr("cast((hour(ts) * 60 + minute(ts)) div 90 as int)"))
      .withColumn("z", expr(zInterleave("div")).cast("int"))
      .select(col("event_id"), col("ub"), col("tb"), col("z"))

  /** x52/x55: dense global rank in z order (GlobalIndexExec — range
    * shuffle + local sorts, no single reducer) cut into
    * [[ZExecFiles]] equal-row slices numbered from `firstFile`.
    * `nEst` may be an estimate (catalog-derived): the `least` cap
    * keeps slice ids in range; a slightly uneven last slice costs
    * nothing — zone maps, not slice equality, drive the pruning. */
  private[queries] def zRankSlices(df: DataFrame, nEst: Long, firstFile: Int): DataFrame =
    graft.ops.GlobalIndex.withGlobalIndex(
        df, Seq(col("z"), col("event_id")), "_zrank")
      .withColumn("zfile",
        least(lit(firstFile) + expr(s"(_zrank * $ZExecFiles) div $nEst"),
          lit(firstFile + ZExecFiles - 1)).cast("int"))
      .drop("_zrank")

  /** x52 shared frame (declared query + PlanShapeSpec): execute the
    * z-order layout end to end — z-rank the events through
    * GlobalIndexExec, commit the 16-file layout as a snapshot
    * version, zone-map it, and answer the 2-D box query scanning
    * only the overlapping files. Returns (result, files scanned,
    * files total, one-file-per-dir) so the spec can pin the skip
    * ratio the query's `pruned` flag summarizes. */
  def x52Frame(s: SparkSession, d: String): (DataFrame, Int, Int, Boolean) = {
    import graft.sources.Snapshots
    val dir = freshSnapDir(s, d, "x52_snap")
    // file sizing reads the committed stats catalog — no plan-time
    // count job (the x38 rule)
    val n = graft.ops.StatsCatalog.nRows(
      graft.ops.StatsCatalog.stats(s, d, "events"))
    val laid = zRankSlices(zEvents(s, d), n, firstFile = 0)
    Snapshots.commit(laid.repartition(col("zfile")), dir,
      partitionBy = Seq("zfile"))
    val oneFile = Snapshots.filesPerDir(s, dir, 1).values.forall(_ == 1)
    // the OPTIMIZE job's stats pass: per-file zone maps on z —
    // manifest-sized (ZExecFiles rows), computed once off the
    // committed layout (at 100 TB they land in the write's manifest,
    // the x21 pattern)
    val zones = Snapshots.read(s, dir, Some(1))
      .groupBy(col("zfile"))
      .agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      .collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val (zLo, zHi) = (zOf(ZBoxLo, ZBoxLo), zOf(ZBoxHi, ZBoxHi))
    val scan = zones.collect {
      case (f, zmin, zmax) if zmax >= zLo && zmin <= zHi => f
    }.toIndexedSeq
    val res = Snapshots.read(s, dir, Some(1))
      .filter(col("zfile").isin(scan: _*)) // partition pruning: unscanned dirs never listed
      .filter(col("ub").between(ZBoxLo, ZBoxHi)
        && col("tb").between(ZBoxLo, ZBoxHi)) // residual → pushed to the parquet scan
      .select(col("event_id"), col("ub"), col("tb"), col("z"),
        lit(scan.length < zones.length).as("pruned"),
        lit(oneFile).as("one_file_per_dir"))
      .orderBy(col("event_id"))
    (res, scan.length, zones.length, oneFile)
  }

  /** x55 shared frame (declared query + PlanShapeSpec): the
    * incremental-OPTIMIZE life cycle. Returns (result, pre-optimize
    * scan set size, post-optimize scan set size, total files) so the
    * spec can pin that optimizing the delta shrank the box query's
    * scan set without touching the base. */
  def x55Frame(s: SparkSession, d: String): (DataFrame, Int, Int, Int) = {
    import graft.sources.Snapshots
    val n = graft.ops.StatsCatalog.nRows(
      graft.ops.StatsCatalog.stats(s, d, "events"))
    val ev = zEvents(s, d)
    val base = ev.filter(col("event_id") % 8 =!= 0)
    val delta = ev.filter(col("event_id") % 8 === 0)
    // slice sizing from the catalog row count — estimates are fine
    // (zRankSlices caps), no plan-time count jobs
    val nDeltaEst = math.max(1L, (n + 7L) / 8L)
    val nBaseEst = math.max(1L, n - nDeltaEst)
    // v1 (the z-ordered base, x52's layout, files 0..15) is the
    // expensive prologue and a pure function of (d, n): build once,
    // reuse across sweeps; the appends below (v2 batch, v3
    // incremental OPTIMIZE — the operations under test) re-land
    // against the reused v1 after reuse-time truncation
    val dir = Fixtures.ensure(s, d, "x55_snap",
        s"z-ordered v1 base=id%8!=0 files0..15 n=$n") { fdir =>
      Snapshots.commit(
        zRankSlices(base, nBaseEst, firstFile = 0).repartition(col("zfile")),
        fdir, partitionBy = Seq("zfile"))
    }
    val sig1 = Snapshots.fileSignature(s, dir, 1)
    // v2: tonight's batch lands as an APPEND — one unsorted bucket
    // (zfile = -1), no base file touched, read, or rewritten
    Snapshots.commitAppend(
      delta.withColumn("zfile", lit(-1)).repartition(col("zfile")),
      dir, base = 1, partitionBy = Seq("zfile"))
    def zones(v: Int) = Snapshots.readResolved(s, dir, Some(v))
      .groupBy(col("zfile"))
      .agg(min(col("z")).as("zmin"), max(col("z")).as("zmax"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2)))
    val (zLo, zHi) = (zOf(ZBoxLo, ZBoxLo), zOf(ZBoxHi, ZBoxHi))
    def scanSet(zs: Array[(Int, Int, Int)]) =
      zs.collect { case (f, lo, hi) if hi >= zLo && lo <= zHi => f }.toIndexedSeq
    // pre-optimize: the unsorted bucket's zone map spans ~the whole z
    // domain, so EVERY box query rescans the entire delta
    val preScan = scanSet(zones(2))
    val deltaRescanBefore = preScan.contains(-1)
    // v3: incremental OPTIMIZE — re-land ONLY the delta z-ranked
    // (files 16..31) as a dataChange=false append against the SAME
    // base; state is v2's, the change feed skips it, the base rides
    // by reference
    Snapshots.commitAppend(
      zRankSlices(delta, nDeltaEst, firstFile = ZExecFiles)
        .repartition(col("zfile")),
      dir, base = 1, partitionBy = Seq("zfile"), dataChange = false)
    val baseUntouched = Snapshots.fileSignature(s, dir, 1) == sig1
    val zs3 = zones(3)
    val scan3 = scanSet(zs3)
    val deltaPrunedAfter = scan3.count(_ >= ZExecFiles) < ZExecFiles
    val res = Snapshots.readResolved(s, dir, Some(3))
      .filter(col("zfile").isin(scan3: _*))
      .filter(col("ub").between(ZBoxLo, ZBoxHi)
        && col("tb").between(ZBoxLo, ZBoxHi))
      .select(col("event_id"), col("ub"), col("tb"), col("z"),
        lit(scan3.length < zs3.length).as("pruned"),
        lit(baseUntouched).as("base_files_untouched"),
        lit(deltaRescanBefore).as("delta_rescanned_before"),
        lit(deltaPrunedAfter).as("delta_pruned_after"))
      .orderBy(col("event_id"))
    (res, preScan.length, scan3.length, zs3.length)
  }

  /** x20: compaction target size (chars stand in for bytes at
    * fixture scale) and the micro-file granularity — BASE values for
    * the smallest fixtures; [[compactKnobs]] scales both with the
    * corpus. */
  val CompactTarget = 2000L
  val CompactGroup = 20

  /** SCALE-AWARE compaction knobs (the d14 band-width lesson applied
    * to layout simulation): the micro-file width grows with the
    * corpus so the SIMULATED file count stays manifest-sized
    * (~25/source), and the bin target scales in the same ratio so
    * each bin still packs ~3 files. Without this, x26's fragmented
    * v1 commit wrote one hive directory PER DOC-GROUP — 5,000
    * one-row directories at sf0.1 (135 s of pure file creation,
    * caught by the r7 bench sweep) and unboundedly more beyond. Both
    * knobs are integer functions of max(doc_id), replayed by the
    * oracle in a scalar CTE, so plan and oracle can never disagree.
    * At the base fixtures (max id < 500·[[CompactGroup]]÷20) the
    * knobs equal the base constants — sf0.001/0.01 outputs are
    * unchanged. */
  private[graft] def compactKnobs(s: SparkSession, d: String): (Long, Long) = {
    val maxId = Tables.load(s, d, "documents")
      .agg(max(col("doc_id"))).head.getLong(0)
    val gw = math.max(CompactGroup.toLong, (maxId + 1) / 25)
    (gw, CompactTarget * gw / CompactGroup)
  }

  /** The oracle twin of [[compactKnobs]] as a one-row CTE. */
  private[queries] def compactKnobsCte: String =
    s"""knobs AS (SELECT greatest($CompactGroup, (max(doc_id) + 1) // 25) AS gw,
       |  ($CompactTarget * greatest($CompactGroup, (max(doc_id) + 1) // 25))
       |    // $CompactGroup AS tgt
       |  FROM documents)""".stripMargin

  /** The x11 oracle: KmPasses assignment passes unrolled as a CTE
    * chain (k11's pattern — standard SQL cannot iterate with
    * aggregates in the recursive term). Seeding, tie-breaks, the
    * squared-distance expression (self + cent − 2·cross, left-to-
    * right double folds), and the decimal-explode centroid mean all
    * mirror KMeans.fitExact term for term, so the comparison is a
    * bit-exact hash match, not an approximation. */
  private[queries] def kmeansExactOracle: String =
    s"""$kmeansCteChain
       |SELECT vec_id, cluster_id, round(sq, 4) AS sq_dist
       |FROM asg$KmPasses
       |ORDER BY vec_id""".stripMargin

  /** The shared WITH-chain: seeds → dims → cent0 → (asg_i, cent_i)*
    * → asg[[KmPasses]], reused by x11's assignment dump and v14's
    * within-cluster pair search. Fixed k = [[KmK]]; v21 instead
    * passes its corpus-derived cluster count through
    * [[kmeansCteChainFor]]. */
  private[queries] def kmeansCteChain: String = kmeansCteChainFor(KmK.toString)

  /** [[kmeansCteChain]] with the seed count `kSql` as an arbitrary
    * SQL expression (a literal, or v21's count-derived scalar
    * subquery — replaying the engine's scale-aware k from the same
    * corpus count, so the blocking stays part of the verified
    * semantics). */
  private[queries] def kmeansCteChainFor(kSql: String): String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH seeds AS (
         |  SELECT CAST(rn - 1 AS INT) AS cluster_id,
         |         embedding::DOUBLE[] AS cvec
         |  FROM (SELECT vec_id, embedding,
         |          row_number() OVER (ORDER BY vec_id) AS rn
         |        FROM embeddings) s
         |  WHERE rn <= $kSql),
         |dims AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
         |         unnest(embedding)::DOUBLE AS x
         |  FROM embeddings),
         |cent0 AS (SELECT cluster_id, cvec FROM seeds)""".stripMargin)
    def asgSql(i: Int): String =
      s""",
         |asg$i AS (
         |  SELECT vec_id, cluster_id, sq FROM (
         |    SELECT e.vec_id, c.cluster_id,
         |      list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         |        + list_dot_product(c.cvec, c.cvec)
         |        - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec) AS sq,
         |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |        list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
         |          + list_dot_product(c.cvec, c.cvec)
         |          - 2 * list_dot_product(e.embedding::DOUBLE[], c.cvec),
         |        c.cluster_id) AS rn
         |    FROM embeddings e CROSS JOIN cent${i - 1} c) t
         |  WHERE rn = 1)""".stripMargin
    for (i <- 1 to KmPasses) {
      sb.append(asgSql(i))
      if (i < KmPasses) sb.append(
        s""",
           |cent$i AS (
           |  SELECT cluster_id, array_agg(cv ORDER BY dim) AS cvec FROM (
           |    SELECT a.cluster_id, d.dim,
           |      CAST(SUM(CAST(d.x AS DECIMAL(25,10))) AS DOUBLE) / COUNT(*) AS cv
           |    FROM asg$i a JOIN dims d USING (vec_id)
           |    GROUP BY a.cluster_id, d.dim) u
           |  GROUP BY cluster_id)""".stripMargin)
    }
    sb.toString
  }

  /** The v14 oracle: the same exact-k-means chain, then the d5-style
    * pair join blocked by cluster_id. */
  private[queries] def semdedupOracle: String =
    s"""$kmeansCteChain,
       |ev AS (
       |  SELECT e.vec_id, a.cluster_id, e.embedding
       |  FROM embeddings e JOIN asg$KmPasses a USING (vec_id))
       |SELECT a.cluster_id, a.vec_id AS keep_id, b.vec_id AS drop_id,
       |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4)
       |    AS cosine
       |FROM ev a JOIN ev b
       |  ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
       |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
       |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
       |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= $SemTau
       |ORDER BY keep_id, drop_id""".stripMargin

  /** The MV family's shared consumer aggregate restated from orders:
    * (status, priority) group, revenue/n_orders (+ min/max), an
    * optional WHERE cut, and pinned extras (probe/used_mv flags). */
  private[queries] def mvConsumerSql(where: String, extras: String,
                            minMax: Boolean = true): String = {
    val mm =
      if (minMax) ",\n  MIN(o_totalprice) AS min_price,\n  MAX(o_totalprice) AS max_price"
      else ""
    s"""SELECT o_orderstatus, o_orderpriority,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
  COUNT(*) AS n_orders$mm$extras
FROM orders $where
GROUP BY 1, 2"""
  }

  val oracles: Map[String, String] = Map(
    "x11_kmeans_exact" -> kmeansExactOracle,


    // v6's envelope: the compared rows are v5's decimal-exact result
    // (that oracle replays centroid training in SQL); agrees_exact is
    // the literal-true verdict the Spark side computed against the
    // float-agg fast path. A fast-path divergence flips it → red.
    "v6_knn_ivf_fast" -> {
      val v5 = graft.queries.VectorQ.oracles("v5_knn_ivf")
      s"""SELECT qid, probe_label, nb_id, nb_rank, score,
         |  true AS agrees_exact
         |FROM ($v5) t
         |ORDER BY qid, nb_rank""".stripMargin
    },


    // x5's envelope: exact objective from the unrolled x11 CTE chain
    // (decimal sum of rounded per-point squared distances — engine-
    // exact), plus the literal-true inertia verdict.
    "x5_kmeans" ->
      s"""$kmeansCteChain
         |SELECT CAST($KmK AS INT) AS k, COUNT(*) AS n_points,
         |  CAST(SUM(CAST(round(sq, 4) AS DECIMAL(28,4))) AS DOUBLE)
         |    AS exact_inertia,
         |  true AS inertia_ok
         |FROM asg$KmPasses""".stripMargin,

    "v14_semdedup" -> semdedupOracle,


    // v21: the same exact-k-means chain + cluster-blocked pair join as
    // v14 — but trained at the engine's SCALE-AWARE cluster count,
    // replayed here as a scalar subquery over the same corpus count
    // (greatest(KmK, n // KnnBlockRows) — DuckDB // matches the
    // engine's Long division) — then a row_number window with the
    // engine's (raw desc, nb_id) total order keeps K per vector
    "v21_knn_join" ->
      s"""${kmeansCteChainFor(
           s"(SELECT greatest($KmK, count(*) // $KnnBlockRows) FROM embeddings)")},
         |ev AS (
         |  SELECT e.vec_id, a.cluster_id, e.embedding
         |  FROM embeddings e JOIN asg$KmPasses a USING (vec_id)),
         |pairs AS (
         |  SELECT a.vec_id, a.cluster_id, b.vec_id AS nb_id,
         |    list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
         |      (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
         |       sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) AS raw
         |  FROM ev a JOIN ev b
         |    ON a.cluster_id = b.cluster_id AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, cluster_id, nb_id, raw,
         |    CAST(row_number() OVER (PARTITION BY vec_id
         |      ORDER BY raw DESC, nb_id) AS INT) AS nb_rank
         |  FROM pairs)
         |SELECT vec_id, cluster_id, nb_id, nb_rank, round(raw, 4) AS cosine
         |FROM ranked WHERE nb_rank <= $KnnJoinK
         |ORDER BY vec_id, nb_rank""".stripMargin,


    // the two-phase salted plan must reproduce the plain count
    "x13_salted_count" ->
      """SELECT l_returnflag, COUNT(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,


    // merge(state(A), state(B)) == state(A ∪ B): the oracle is the
    // one-shot aggregate the incremental plan must reproduce exactly.
    "x12_incremental_agg" ->
      """SELECT o_custkey, COUNT(*) AS n,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS sum_spend,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) / COUNT(*)
        |    AS avg_spend,
        |  min(o_totalprice) AS min_spend, max(o_totalprice) AS max_spend
        |FROM orders
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,

    "j5_zip_arrays" ->
      """SELECT doc_id,
        |  CAST(generate_subscripts(w, 1) AS INT) AS ord,
        |  unnest(w) AS word,
        |  unnest(list_transform(w, x -> CAST(length(x) AS INT))) AS wlen
        |FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
        |      FROM documents) t
        |ORDER BY doc_id, ord""".stripMargin,


    "p6_error_skip" ->
      """SELECT
        |  CAST(SUM(CASE WHEN json_valid(j) THEN 0 ELSE 1 END) AS BIGINT) AS n_bad,
        |  CAST(SUM(CASE WHEN json_valid(j) THEN 1 ELSE 0 END) AS BIGINT) AS n_ok,
        |  CAST(SUM(CASE WHEN json_valid(j)
        |       THEN CAST(json_extract_string(j, '$.k') AS INT) END) AS BIGINT) AS sum_k
        |FROM (SELECT CASE WHEN event_id % 7 = 0 THEN substr(props, 2, 1000)
        |                  ELSE props END AS j
        |      FROM events) t""".stripMargin,


    "s2_sessionize" ->
      """WITH marked AS (
        |  SELECT user_id, ts, event_id, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 900000000
        |         THEN 1 ELSE 0 END AS is_start
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, SUM(is_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
        |  FROM marked)
        |SELECT user_id,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  COUNT(*) AS n_events,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM numbered
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin,


    "x3_topk_per_key" ->
      """SELECT event_id, user_id, value FROM (
        |  SELECT event_id, user_id, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY value DESC, event_id) AS rn
        |  FROM events) t
        |WHERE rn <= 3
        |ORDER BY user_id, value DESC, event_id""".stripMargin,


    "x2_asof_attrib" ->
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
        |views AS (
        |  SELECT user_id AS v_user, ts AS v_ts, max(event_id) AS v_event_id,
        |    arg_max(value, event_id) AS v_value
        |  FROM events WHERE event_type = 'view'
        |  GROUP BY 1, 2)
        |SELECT p.event_id, p.user_id, p.ts,
        |  v.v_event_id AS view_event_id, v.v_ts AS view_ts,
        |  v.v_value AS view_value,
        |  epoch_us(p.ts) - epoch_us(v.v_ts) AS lag_us
        |FROM purchases p ASOF LEFT JOIN views v
        |  ON p.user_id = v.v_user AND v.v_ts <= p.ts
        |ORDER BY p.event_id""".stripMargin,


    "q24_order_priority_check" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1996-07-01'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |    WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority""".stripMargin,


    // `true AS exact` pins that the bounded-memory switchover chose
    // the exact path at this SF (the sketch branch would hash-differ).
    "q21_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_quantity, 0.5) AS median_qty,
        |  quantile_cont(l_quantity, 0.9) AS p90_qty,
        |  COUNT(*) AS n_rows,
        |  true AS exact
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,


    "q22_rollup" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderpriority)
        |ORDER BY coalesce(o_year, 9999), coalesce(o_orderpriority, '~')""".stripMargin,


    "q25_cube" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  CAST(GROUPING(CAST(year(o_orderdate) AS INT)) * 2
        |     + GROUPING(o_orderpriority) AS INT) AS gid
        |FROM orders
        |GROUP BY CUBE (CAST(year(o_orderdate) AS INT), o_orderpriority)
        |ORDER BY gid, coalesce(o_year, 9999), coalesce(o_orderpriority, '~')""".stripMargin,


    "q23_scalar_subquery" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_totalprice > 1.5 * (
        |  SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
        |  FROM orders)
        |ORDER BY o_orderkey""".stripMargin,


    "x6_clean_pipeline" ->
      """WITH toks AS (
        |  SELECT doc_id, text, lang, source,
        |    len(string_split_regex(trim(text), '\s+')) AS n_words,
        |    list_max(list_transform(string_split_regex(trim(text), '\s+'),
        |      t -> CAST(length(t) AS INT))) AS max_wlen
        |  FROM documents),
        |filtered AS (
        |  SELECT * FROM toks
        |  WHERE n_words BETWEEN 30 AND 5000 AND max_wlen <= 50),
        |deduped AS (
        |  SELECT * FROM filtered f
        |  WHERE doc_id = (SELECT min(doc_id) FROM filtered g
        |                  WHERE md5(g.text) = md5(f.text))),
        |labeled AS (
        |  SELECT *,
        |    CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      % 100 AS b
        |  FROM deduped)
        |SELECT CASE WHEN b < 80 THEN 'train'
        |            WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
        |  lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS total_tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |FROM labeled
        |GROUP BY 1, 2
        |ORDER BY split, lang""".stripMargin,


    "x7_pack_sequences" ->
      """WITH t AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
        |    CAST(CAST(('0x' || substr(md5('pack|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      % 8 AS INT) AS shard
        |  FROM documents),
        |c AS (
        |  SELECT *, SUM(n_tokens) OVER (PARTITION BY lang, shard ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT lang, shard,
        |  CAST(floor((cum - n_tokens) / 2048) AS INT) AS pack_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c
        |GROUP BY 1, 2, 3
        |ORDER BY lang, shard, pack_id""".stripMargin,


    "s3_interval_join" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts,
        |  v.event_id AS v_id, v.ts AS v_ts
        |FROM events p JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_id, v_id""".stripMargin,


    // s8: the same interval condition as a LEFT JOIN — the view-side
    // type predicate must live in the ON clause (in the WHERE it
    // would silently turn the join back into an inner one)
    "s8_outer_interval_join" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts,
        |  v.event_id AS v_id, v.ts AS v_ts
        |FROM events p LEFT JOIN events v
        |  ON v.user_id = p.user_id AND v.event_type = 'view'
        | AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |ORDER BY p_id, v_id""".stripMargin,


    // s9: the same interval condition as a FULL JOIN — BOTH type
    // predicates must live inside the sides (in the WHERE either one
    // would silently drop the other side's unmatched rows), so each
    // side is its own filtered derived table
    "s9_full_outer_interval_join" ->
      """SELECT p.p_id, p.user_id, p.ts, v.v_id, v.v_user, v.v_ts
        |FROM (SELECT event_id AS p_id, user_id, ts FROM events
        |      WHERE event_type = 'purchase') p
        |FULL JOIN (SELECT event_id AS v_id, user_id AS v_user,
        |             ts AS v_ts FROM events
        |           WHERE event_type = 'view') v
        |  ON v.v_user = p.user_id
        | AND v.v_ts >= p.ts - INTERVAL 1 HOUR AND v.v_ts <= p.ts
        |ORDER BY p_id, v_id""".stripMargin,


    // The HLL estimate itself can't be replayed by DuckDB; the oracle
    // states the exact side (distinct count, row count) and literal
    // true for the envelope check the Spark side computed — a hash
    // mismatch therefore means either an exact-stat divergence or the
    // sketch breaking its pinned 3×rsd error bound.
    "x1_approx_distinct" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS exact_parts,
        |  COUNT(*) AS n_rows,
        |  true AS approx_ok
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,


    // Same pattern for the GK quantile sketch: the envelope bounds are
    // exact interpolated percentiles (quantile_cont parity proven by
    // q21), and the _ok booleans pin the sketch inside its rank-error
    // guarantee. Probe points p ± QuantEps are interpolated from the
    // SAME constant the Spark side uses, so a one-sided eps change
    // can't silently break hash parity.
    "x4_approx_quantiles" ->
      s"""SELECT l_returnflag,
         |  quantile_cont(l_quantity, ${0.5 - QuantEps}) AS median_lo,
         |  quantile_cont(l_quantity, ${0.5 + QuantEps}) AS median_hi,
         |  true AS median_ok,
         |  quantile_cont(l_quantity, ${0.9 - QuantEps}) AS p90_lo,
         |  quantile_cont(l_quantity, ${0.9 + QuantEps}) AS p90_hi,
         |  true AS p90_ok,
         |  COUNT(*) AS n_rows
         |FROM lineitem
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin,


    // The sketch pass is an admissible candidate generator (no false
    // negatives above the threshold), so the oracle states the exact
    // semantics: plain GROUP BY + HAVING on integer math.
    "x10_heavy_hitters" ->
      s"""WITH toks AS (
         |  SELECT lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term
         |  FROM documents),
         |tot AS (SELECT COUNT(*) AS n_toks FROM toks)
         |SELECT term, COUNT(*) AS cnt
         |FROM toks GROUP BY term
         |HAVING COUNT(*) * $HhDen > (SELECT n_toks FROM tot)
         |ORDER BY cnt DESC, term""".stripMargin,


    // the grouped two-pass plan must reproduce the exact per-language
    // frequent-terms answer
    "x15_heavy_hitters_grouped" ->
      s"""WITH toks AS (
         |  SELECT lang, lower(unnest(string_split_regex(trim(text), '\\s+'))) AS term
         |  FROM documents),
         |tot AS (SELECT lang, COUNT(*) AS n_toks FROM toks GROUP BY lang)
         |SELECT t.lang, t.term, COUNT(*) AS cnt
         |FROM toks t
         |GROUP BY t.lang, t.term
         |HAVING COUNT(*) * $HhDen > (SELECT n_toks FROM tot WHERE tot.lang = t.lang)
         |ORDER BY lang, cnt DESC, term""".stripMargin,


    // the GlobalIndexExec rank must equal the plain window rank over
    // the reconstructed md5 permutation
    "x16_global_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
         |  CAST(('0x' || substr(md5('shuf|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
         |    AS shuffle_key
         |  FROM documents),
         |r AS (SELECT doc_id, shuffle_key,
         |  row_number() OVER (ORDER BY shuffle_key, doc_id) - 1 AS pos FROM h)
         |SELECT doc_id, shuffle_key,
         |  CAST(pos % $ShufShards AS INT) AS shard,
         |  pos // $ShufShards AS pos_in_shard
         |FROM r ORDER BY shard, pos_in_shard""".stripMargin,


    // The time-bucket expansion is an admissible candidate generator
    // (co-bucketing is implied by containment), so the oracle states
    // the plain BETWEEN-join semantics.
    "x9_range_join" ->
      s"""WITH iv AS (
         |  SELECT event_id AS window_id, ts AS w_start,
         |    ts + INTERVAL $RangeWindowSec SECOND AS w_end
         |  FROM events
         |  WHERE event_type = 'purchase' AND value >= $RangeValueMin),
         |c AS (
         |  SELECT event_id, user_id, ts FROM events
         |  WHERE event_type = 'click')
         |SELECT iv.window_id, c.event_id, c.user_id
         |FROM iv JOIN c ON c.ts >= iv.w_start AND c.ts <= iv.w_end
         |ORDER BY window_id, event_id""".stripMargin,


    "x8_merge_upsert" ->
      """WITH latest AS (
        |  SELECT o_custkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders
        |  WHERE o_orderdate >= TIMESTAMP '1997-01-01'),
        |chg AS (
        |  SELECT o_custkey AS c_custkey, o_totalprice,
        |    CASE WHEN o_totalprice < 30000 THEN 'D' ELSE 'U' END AS op
        |  FROM latest WHERE rn = 1)
        |SELECT c.c_custkey, c.c_name,
        |  round(COALESCE(g.o_totalprice, c.c_acctbal), 2) AS c_acctbal
        |FROM customer c LEFT JOIN chg g USING (c_custkey)
        |WHERE g.op IS NULL OR g.op <> 'D'
        |ORDER BY c_custkey""".stripMargin,


    "q29_sql_script" ->
      """SELECT label, COUNT(*) AS n_vectors,
        |  CAST(SUM(CAST(round(list_dot_product(embedding::DOUBLE[], list_reverse(embedding)::DOUBLE[]), 4)
        |    AS DECIMAL(18,4))) AS DOUBLE) AS energy
        |FROM embeddings
        |GROUP BY label
        |ORDER BY label""".stripMargin,


    // same step-gated earliest-timestamp chain; DuckDB replays the
    // strictly-after semantics with correlated min-filters
    "s4_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, MIN(ts) AS t1 FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |s2 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t2 FROM events e
        |  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |s3 AS (
        |  SELECT e.user_id, MIN(e.ts) AS t3 FROM events e
        |  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id),
        |c AS (
        |  SELECT '1_view' AS step, COUNT(*) AS n_users FROM s1
        |  UNION ALL SELECT '2_click', COUNT(*) FROM s2
        |  UNION ALL SELECT '3_purchase', COUNT(*) FROM s3)
        |SELECT step, n_users,
        |  round(n_users * 1.0 / (SELECT n_users FROM c WHERE step = '1_view'), 4)
        |    AS pct_of_first
        |FROM c ORDER BY step""".stripMargin,


    // same day-grain math; INT cast mirrors Spark's int datediff
    "s5_retention" ->
      """WITH wk AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |coh AS (
        |  SELECT user_id, MIN(day) AS cohort_day FROM wk GROUP BY user_id),
        |act AS (
        |  SELECT c.cohort_day,
        |    CAST(datediff('day', c.cohort_day, w.day) AS INT) AS day_offset,
        |    w.user_id
        |  FROM wk w JOIN coh c USING (user_id)),
        |m AS (
        |  SELECT cohort_day, day_offset, COUNT(DISTINCT user_id) AS n_users
        |  FROM act GROUP BY 1, 2),
        |b AS (SELECT cohort_day, n_users AS n_cohort FROM m
        |      WHERE day_offset = 0)
        |SELECT m.cohort_day, m.day_offset, m.n_users,
        |  round(m.n_users * 1.0 / b.n_cohort, 4) AS retention
        |FROM m JOIN b USING (cohort_day)
        |ORDER BY cohort_day, day_offset""".stripMargin,


    // x81: v1's balances restated from orders; n_versions = 2 pins
    // that VACUUM dropped exactly the unprotected v2 (chain closure
    // kept v1 under the restored head), latest_kind pins the verb.
    "x81_sql_maintenance" ->
      """SELECT o_custkey,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS balance,
        |  COUNT(*) AS n_orders,
        |  CAST(2 AS INT) AS n_versions,
        |  'restore' AS latest_kind
        |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY o_custkey""".stripMargin,


    // x72: each leg restated as NOT EXISTS; clean legs hash their
    // zeros, the staging leg its exact corruption arithmetic.
    "x72_fk_audit" ->
      """WITH staging AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 97 = 0 THEN o_custkey + 10000000
        |         ELSE o_custkey END AS o_custkey
        |  FROM orders),
        |leg1 AS (
        |  SELECT 'lineitem->orders' AS rel,
        |    (SELECT COUNT(*) FROM lineitem) AS n_rows,
        |    COUNT(*) AS n_orphans,
        |    MIN(l_orderkey) AS min_bad, MAX(l_orderkey) AS max_bad
        |  FROM lineitem l
        |  WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                    WHERE o.o_orderkey = l.l_orderkey)),
        |leg2 AS (
        |  SELECT 'orders->customer' AS rel,
        |    (SELECT COUNT(*) FROM orders) AS n_rows,
        |    COUNT(*) AS n_orphans,
        |    MIN(o_custkey) AS min_bad, MAX(o_custkey) AS max_bad
        |  FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = o.o_custkey)),
        |leg3 AS (
        |  SELECT 'staging->customer' AS rel,
        |    (SELECT COUNT(*) FROM staging) AS n_rows,
        |    COUNT(*) AS n_orphans,
        |    MIN(o_custkey) AS min_bad, MAX(o_custkey) AS max_bad
        |  FROM staging st
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = st.o_custkey))
        |SELECT rel, n_rows, n_orphans,
        |  n_orphans * 1000000 // n_rows AS orphan_ppm,
        |  min_bad, max_bad, n_orphans = 0 AS ok
        |FROM (SELECT * FROM leg1 UNION ALL SELECT * FROM leg2
        |      UNION ALL SELECT * FROM leg3)
        |ORDER BY rel""".stripMargin,


    // The IVM identity: the incremental plan must reproduce the
    // one-shot join-aggregate over everything, exactly.
    "x35_ivm_join" ->
      """SELECT o_custkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(28,2))) AS DOUBLE) AS revenue,
        |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_custkey
        |ORDER BY o_custkey""".stripMargin,


    // q33: the identical correlated-subquery SQL text
    "q33_correlated_exists" ->
      s"""SELECT c_custkey, c_mktsegment FROM customer c
         |WHERE EXISTS (SELECT 1 FROM orders o
         |              WHERE o.o_custkey = c.c_custkey
         |                AND o.o_orderpriority = '1-URGENT')
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |                  WHERE o.o_custkey = c.c_custkey
         |                    AND o.o_totalprice > $Q33PriceCut)
         |ORDER BY c_custkey""".stripMargin,


    // the salted rewrite must reproduce the plain join exactly —
    // per-flag row counts unchanged (multiplicity preserved)
    // x39: the classes, the k verdict, and the exposure totals all
    // stated from source; risk_rate an unrounded integer quotient
    "x39_k_anonymity" ->
      s"""WITH classes AS (
         |  SELECT c_nationkey, c_mktsegment,
         |    CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bal_band,
         |    COUNT(*) AS class_size
         |  FROM customer
         |  GROUP BY 1, 2, 3),
         |totals AS (
         |  SELECT CAST(SUM(class_size) AS BIGINT) AS n_total,
         |    CAST(SUM(CASE WHEN class_size < $KAnonK THEN class_size ELSE 0 END)
         |      AS BIGINT) AS n_at_risk
         |  FROM classes)
         |SELECT c_nationkey, c_mktsegment, bal_band, class_size,
         |  class_size >= $KAnonK AS anonymous, n_at_risk,
         |  CAST(n_at_risk AS DOUBLE) / n_total AS risk_rate
         |FROM classes CROSS JOIN totals
         |ORDER BY c_nationkey, c_mktsegment, bal_band""".stripMargin,


    "x23_salted_join" ->
      """WITH dim AS (SELECT l_returnflag,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS flag_total
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_returnflag, COUNT(*) AS n_rows, MAX(d.flag_total) AS flag_total
        |FROM lineitem l JOIN dim d USING (l_returnflag)
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,


    // the bucketed-layout join must reproduce the plain join+agg
    "x22_bucketed_join" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |  COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,


    // broadcast left join to a unique-keyed dimension — no row
    // multiplication, absent users keep null segments
    "s6_enrich_events" ->
      """SELECT e.event_id, e.user_id, c.c_mktsegment AS segment
        |FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,


    // s7: the duplicated feed replayed with the same redelivery hash;
    // the deduped side is the original table (re-deliveries are
    // row-identical copies, so dedup = distinct event_id = source)
    "s7_at_least_once_dedup" ->
      """WITH re AS (
        |  SELECT * FROM events
        |  WHERE CAST(('0x' || substr(md5('redeliver|' || event_id::VARCHAR), 1, 15))
        |    AS BIGINT) % 10 = 0),
        |feed AS (SELECT * FROM events UNION ALL SELECT * FROM re),
        |a AS (SELECT event_type, COUNT(*) AS n_delivered
        |      FROM feed GROUP BY event_type),
        |b AS (SELECT event_type, COUNT(*) AS n_unique,
        |        CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |      FROM events GROUP BY event_type)
        |SELECT event_type, n_delivered, n_unique, sum_value
        |FROM a JOIN b USING (event_type)
        |ORDER BY event_type""".stripMargin
  )
}
