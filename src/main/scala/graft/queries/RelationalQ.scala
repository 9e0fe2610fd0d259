package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Relational operator inventory (SURVEY.md §2.1–2.8): scans,
  * predicates, joins, aggregations, windows, top-k, set ops, scalar
  * functions — each as a named query with a DuckDB oracle twin.
  *
  * Conventions:
  *  - every output has a deterministic total ORDER BY;
  *  - money sums go through decimal (see [[graft.queries.dsum2]]);
  *  - aliases match the oracle SQL exactly (driver hashes by
  *    column-name-sorted values).
  */
object RelationalQ {

  private def t(s: SparkSession, d: String, n: String) = Tables.load(s, d, n)

  val defs: Map[String, Q] = Map(
    // q1 — A1/A3/A7: grouped aggregation over the fact table (TPC-H
    // Q1 shape). Partial (map-side) agg + one shuffle on the tiny
    // group key; scales linearly with input.
    "q1_pricing_summary" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          dsum2(col("l_extendedprice")).as("sum_base_price"),
          dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          avg(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    }),

    // q2 — P2: parameterized point lookup (reference tools.py:116-124).
    "q2_point_lookup" -> ((s, d) => {
      t(s, d, "orders")
        .filter(col("o_orderkey") === 500)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
    }),

    // q3 — J1+T1: dimension-filtered join + grouped revenue + top-k.
    // customer is the genuinely small side → broadcast. orders is a
    // FACT table (the date filter keeps ~64% of it), so lineitem⋈orders
    // must stay a shuffle join — AQE picks SMJ/shuffled-hash; a forced
    // broadcast there is a multi-GB build side at scale (executor OOM).
    // Top-k plans to TakeOrderedAndProject (no global sort).
    "q3_shipping_priority" -> ((s, d) => {
      val cust = t(s, d, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") < lit("1999-03-15").cast("timestamp"))
      val li = t(s, d, "lineitem")
        .filter(col("l_shipdate") > lit("1999-03-15").cast("timestamp"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),

    // q4 — P3: IN-list predicate via broadcast join on the dim table
    // (reference tools.py:185-191).
    "q4_in_list" -> ((s, d) => {
      val nat = t(s, d, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_5", "NATION_12"))
      t(s, d, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          dsum2(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("n_name"))
    }),

    // q5 — J1×5: star-schema multi-join (TPC-H Q5 shape). Only the
    // BOUNDED dims (nation: 25 rows, region: 5 rows at ANY scale
    // factor) carry broadcast hints. customer and supplier GROW with
    // the corpus — hinting them is the q3-orders class of scale
    // hazard — so those joins are left to AQE: broadcast while they
    // measure small, shuffle join at scale.
    "q5_local_supplier_volume" -> ((s, d) => {
      val region = t(s, d, "region").filter(col("r_name") === "ASIA")
      val nation = t(s, d, "nation")
      val cust = t(s, d, "customer")
      val supp = t(s, d, "supplier")
      val ord = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val li = t(s, d, "lineitem")
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .join(supp, col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(region), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(dsum6(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
        .orderBy(col("n_name"))
    }),

    // q6 — P4-style range predicates + scalar aggregate (TPC-H Q6
    // shape); all predicates push to the parquet scan.
    "q6_revenue_forecast" -> ((s, d) => {
      t(s, d, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(dsum6(col("l_extendedprice") * col("l_discount")).as("revenue"),
          count(lit(1)).as("n_rows"))
    }),

    // q7 — J4: left-semi join (EXISTS).
    "q7_semi_join" -> ((s, d) => {
      val ord96 = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      t(s, d, "customer")
        .join(ord96, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // q8 — anti join (NOT EXISTS): customers with no 1996 order — the
    // exact complement of q7's semi join, so the result is non-empty
    // and the oracle check is meaningful (an unconstrained NOT EXISTS
    // matches nobody in this fixture: every customer has some order).
    "q8_anti_join" -> ((s, d) => {
      val ord96 = t(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      t(s, d, "customer")
        .join(ord96, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // q9 — outer join preserving zero-order customers + null-safe count.
    "q9_outer_join_agg" -> ((s, d) => {
      t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy(col("c_custkey"))
    }),

    // q10 — §2.5 window: latest order per customer via row_number.
    "q10_window_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
      t(s, d, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_custkey"))
    }),

    // q11 — §2.5 window: per-user running sum over event time. Frame
    // order is total (ts, event_id) so the double accumulation is
    // sequential and engine-identical.
    "q11_running_total" -> ((s, d) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("running_value",
          sum(col("value").cast("decimal(18,2)")).over(w).cast("double"))
        .select(col("event_id"), col("user_id"), col("running_value"))
        .orderBy(col("user_id"), col("event_id"))
    }),

    // q12 — A2: exact distinct count per group.
    "q12_distinct_agg" -> ((s, d) => {
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_parts"),
          countDistinct(col("l_suppkey")).as("n_supps"),
          count(lit(1)).as("n_rows"))
        .orderBy(col("l_returnflag"))
    }),

    // q13 — HAVING: groups filtered post-aggregation.
    "q13_having" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .filter(col("n_orders") >= 5)
        .orderBy(col("o_custkey"))
    }),

    // q14 — conditional aggregation (CASE WHEN inside agg).
    "q14_case_agg" -> ((s, d) => {
      t(s, d, "events")
        .agg(
          dsum2(when(col("event_type") === "purchase", col("value"))).as("purchase_value"),
          sum(when(col("event_type") === "error", 1).otherwise(0)).as("n_errors"),
          count(lit(1)).as("n_events"))
    }),

    // q15 — F4/F11-style scalar string functions over part.
    "q15_scalar_funcs" -> ((s, d) => {
      t(s, d, "part")
        .select(
          col("p_partkey"),
          graft.ops.TextFns.slug(col("p_name")).as("name_slug"),
          upper(col("p_brand")).as("brand_upper"),
          substring(col("p_type"), 1, 4).as("type_prefix"),
          length(col("p_name")).as("name_len"),
          concat_ws("/", col("p_brand"), col("p_type")).as("brand_type"))
        .orderBy(col("p_partkey"))
    }),

    // q16 — F9-adjacent: JSON field extraction from the events props.
    "q16_json_extract" -> ((s, d) => {
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .filter(col("k") > 50)
        .select(col("event_id"), col("event_type"), col("k"))
        .orderBy(col("event_id"))
    }),

    // q17 — F13-adjacent: calendar truncation + grouped agg.
    "q17_date_agg" -> ((s, d) => {
      t(s, d, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          dsum2(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_year"), col("o_month"))
    }),

    // q18 — U1: UNION ALL of two filtered subsets (reference
    // tools.py:196 merges outgoing/incoming edge sets the same way).
    "q18_union_all" -> ((s, d) => {
      val ev = t(s, d, "events")
      val a = ev.filter(col("event_type") === "error")
        .select(col("event_id"), col("user_id"), lit("err").as("tag"))
      val b = ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("event_id"), col("user_id"), lit("buy").as("tag"))
      a.union(b).orderBy(col("event_id"), col("tag"))
    }),

    // q26 — U2: INTERSECT — nations that have BOTH customers with
    // open orders AND suppliers with in-stock parts. Plans to a
    // distinct + left-semi join pair (no row explosion).
    "q26_intersect" -> ((s, d) => {
      val custNations = t(s, d, "customer")
        .join(t(s, d, "orders"), col("c_custkey") === col("o_custkey"))
        .select(col("c_nationkey").as("nationkey"))
      val suppNations = t(s, d, "supplier")
        .select(col("s_nationkey").as("nationkey"))
      custNations.intersect(suppNations)
        .join(broadcast(t(s, d, "nation")), col("nationkey") === col("n_nationkey"))
        .select(col("nationkey"), col("n_name"))
        .orderBy(col("nationkey"))
    }),

    // q27 — U3: EXCEPT — customers who placed orders but never
    // emitted an event. Plans to a distinct + left-anti join.
    "q27_except" -> ((s, d) => {
      val ordered = t(s, d, "orders").select(col("o_custkey").as("custkey"))
      val active = t(s, d, "events").select(col("user_id").as("custkey"))
      ordered.except(active)
        .orderBy(col("custkey"))
    }),

    // q19 — T1: global top-k with unique tiebreak →
    // TakeOrderedAndProject (per-partition partial top-k).
    "q19_topk_orders" -> ((s, d) => {
      t(s, d, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .limit(10)
    }),

    // q20 — S9/A1: per-table row-count verification report.
    "q20_row_counts" -> ((s, d) => {
      import s.implicits._
      Seq("customer", "lineitem", "nation", "orders", "region")
        .map(n => (n, t(s, d, n).count()))
        .toDF("table_name", "row_count")
        .orderBy(col("table_name"))
    }),

    // q30 — §2.5 window completion: lag (previous-order delta),
    // lead (next order date), ntile spend-quartile per customer, and
    // first_value over an explicit rows frame — all on ONE window
    // partitioning (o_custkey), so the plan is a single shuffle +
    // one sort feeding every function.
    "q30_lead_lag" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "orders")
        .filter(col("o_custkey") % 100 === 0)
        .withColumn("prev_delta",
          round(col("o_totalprice") - lag(col("o_totalprice"), 1).over(w), 2))
        .withColumn("next_date", lead(col("o_orderdate"), 1).over(w))
        .withColumn("spend_quartile", ntile(4).over(
          Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_totalprice"), col("o_orderkey"))).cast("long"))
        .withColumn("first_price", first(col("o_totalprice")).over(wf))
        .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          col("prev_delta"), col("next_date"), col("spend_quartile"),
          col("first_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // q32 — §2.5 window completion (distribution ranks): dense_rank /
    // percent_rank / cume_dist of each order's price WITHIN its
    // customer. All three are VALUE-based (ties share a value, so the
    // result is deterministic with no tie-break column — unlike
    // row_number/ntile in q10/q30). One window partitioning
    // (o_custkey) feeds all three functions: a single shuffle + sort.
    // Scale: partition count is customer cardinality and each
    // window's buffer is one customer's orders (~10 rows) — the
    // per-entity window shape that survives 100 TB, never a global or
    // low-cardinality sort (t22's value-level rework exists for THAT
    // case).
    "q32_cume_dist" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      t(s, d, "orders")
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
        .withColumn("rnk_dense", dense_rank().over(w).cast("long"))
        .withColumn("pct_rank", round(percent_rank().over(w), 4))
        .withColumn("cume", round(cume_dist().over(w), 4))
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("total"),
          col("rnk_dense"), col("pct_rank"), col("cume"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // q34 — §2.5 RANGE-frame window (value-based sliding interval):
    // the trailing-7-day revenue per priority tier — a frame defined
    // by VALUE distance (RANGE BETWEEN 6 PRECEDING on an integer day
    // key), not row count: days with no orders still shrink the
    // window, which a ROWS frame gets wrong. Pre-aggregating to one
    // row per (priority, day) first means the window walks ~2.4k
    // distinct days per tier instead of every order — the daily
    // rollup absorbs the volume, the window cost is calendar-sized
    // (the 100 TB shape: window buffers bounded by the date domain,
    // not the fact count). Day sums ride decimal through the frame
    // sum, so the trailing total is exact before the final double.
    "q34_range_window" -> ((s, d) => {
      val daily = t(s, d, "orders")
        .groupBy(col("o_orderpriority"),
          datediff(col("o_orderdate").cast("date"),
            lit("1970-01-01").cast("date")).cast("long").as("day_int"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(28,2)")).as("_sd"))
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("day_int")).rangeBetween(-6, 0)
      daily
        .withColumn("n_7d", sum(col("n_orders")).over(w).cast("long"))
        .withColumn("sum_7d", sum(col("_sd")).over(w).cast("double"))
        .select(col("o_orderpriority"), col("day_int"), col("n_orders"),
          col("n_7d"), col("sum_7d"))
        .orderBy(col("o_orderpriority"), col("day_int"))
    }),

    // q35 — ROLLUP with GROUPING indicators: the three aggregation
    // levels (status×priority, status, grand total) from ONE scan.
    // Spark plans this as Expand (3 rows per input) feeding a single
    // hash aggregate with map-side partials — one shuffle for all
    // levels, vs three scans + a union by hand. GROUPING() disambi-
    // guates a real NULL key from a rollup subtotal — the classic
    // rollup-reading bug, pinned in the hash. At 100 TB the expand
    // triples the mapper-side rows but the exchange still carries
    // only per-level group cardinalities.
    "q35_rollup" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_q35")
      s.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
          |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders
          |FROM orders_q35
          |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
          |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin)
    }),

    // q36 — PIVOT (long → wide): per-status order counts and revenue
    // as COLUMNS keyed by the declared priority list. Declared pivot
    // values make the output schema static — the 100 TB rule: never
    // let a distinct-scan decide the column set (Spark's pivot
    // without values does exactly that scan). Planned as one
    // hash aggregate over (status) with conditional partials — no
    // per-value scans.
    "q36_pivot" -> ((s, d) => {
      val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      t(s, d, "orders")
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", pr)
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("rev"))
        .toDF(Seq("o_orderstatus") ++ pr.flatMap(p =>
          Seq(s"n_${p.take(1)}", s"rev_${p.take(1)}")): _*)
        // empty cells: COUNT semantics say 0, not the null pivot fills
        .na.fill(0L, pr.map(p => s"n_${p.take(1)}"))
        .orderBy(col("o_orderstatus"))
    }),

    // q37 — UNPIVOT (wide → long): the q36 frame melted back to
    // (status, priority, measure) rows via stack() — a Generate, one
    // pass, no shuffle beyond q36's own. Round-tripping through the
    // oracle's plain GROUP BY pins that pivot ∘ unpivot loses
    // nothing.
    "q37_unpivot" -> ((s, d) => {
      val pr = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
      val wide = defs("q36_pivot")(s, d)
      val stackArgs = pr.map(p =>
        s"'$p', n_${p.take(1)}, rev_${p.take(1)}").mkString(", ")
      wide.select(col("o_orderstatus"),
          expr(s"stack(${pr.length}, $stackArgs) AS (o_orderpriority, n_orders, revenue)"))
        // q36 zero-fills empty count cells, so emptiness is n=0 (not
        // null) — this is what restores GROUP BY's no-empty-groups
        .filter(col("n_orders") > 0)
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),

    // q38 — CORRELATED SUBQUERIES, all three SQL-surface shapes in
    // one text: EXISTS in WHERE (→ left-semi join), EXISTS in SELECT
    // (→ existence join), correlated scalar aggregate (→ grouped
    // aggregate + left-outer join). The point is Catalyst's
    // DECORRELATION: every shape plans as ONE join over ONE grouped
    // pass of orders — never a per-customer re-execution, which is
    // the difference between O(|orders|) and O(|cust|·|orders|) at
    // 100 TB. n>0 customers only, so the scalar's null arm is
    // unreachable by construction (kept NOT-coalesced to pin that).
    "q38_subqueries" -> ((s, d) => {
      t(s, d, "customer").createOrReplaceTempView("customer_q38")
      t(s, d, "orders").createOrReplaceTempView("orders_q38")
      s.sql(
        """SELECT c.c_custkey, c.c_mktsegment,
          |  (SELECT CAST(MAX(o.o_totalprice) AS DOUBLE)
          |   FROM orders_q38 o
          |   WHERE o.o_custkey = c.c_custkey) AS max_price,
          |  EXISTS(SELECT 1 FROM orders_q38 o
          |         WHERE o.o_custkey = c.c_custkey
          |           AND o.o_orderdate >= TIMESTAMP '1998-01-01') AS active_98
          |FROM customer_q38 c
          |WHERE EXISTS (SELECT 1 FROM orders_q38 o
          |              WHERE o.o_custkey = c.c_custkey)
          |ORDER BY c.c_custkey""".stripMargin)
    }),

    // q39 — positional window functions: NTILE quartiles plus
    // FIRST/LAST/NTH_VALUE over one key-partitioned, totally-ordered
    // window (the tiebreak makes every position — and the hash —
    // deterministic). LAST/NTH ride the full frame explicitly; the
    // default RANGE..CURRENT frame silently returns the CURRENT row
    // for LAST_VALUE, the classic positional-window bug this pins.
    // One window spec → one shuffle + one sort, never per-function.
    "q39_positional_window" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_q39")
      s.sql(
        """SELECT o_custkey, o_orderkey,
          |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
          |  FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
          |  LAST_VALUE(o_orderkey) OVER wf AS priciest_key,
          |  COALESCE(NTH_VALUE(o_orderkey, 2) OVER wf, -1) AS second_key
          |FROM orders_q39
          |WINDOW
          |  w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
          |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
          |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
    }),

    // q40 — NULL semantics pinned cross-engine: nulls enter via
    // NULLIF, then (a) a GROUP BY key carrying a null group, (b) a
    // null-safe join (IS NOT DISTINCT FROM) against the DISTINCT
    // probe set — null meets null, each fact row matches exactly one
    // probe, so the join is LINEAR with a broadcast-sized build
    // side, (c) COUNT(col) vs COUNT(*) divergence under nulls.
    // DuckDB replays the same text, so the hash proves the two
    // engines agree on every null rule at once.
    "q40_null_semantics" -> ((s, d) => {
      t(s, d, "orders").createOrReplaceTempView("orders_q40")
      s.sql(
        """WITH t AS (
          |  SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st,
          |    o_totalprice
          |  FROM orders_q40 WHERE o_orderkey % 50 = 0),
          |probes AS (SELECT DISTINCT st FROM t)
          |SELECT p.st AS st, COUNT(*) AS n_matched,
          |  COUNT(a.st) AS n_nonnull,
          |  CAST(SUM(CAST(a.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_matched
          |FROM t a JOIN probes p ON a.st IS NOT DISTINCT FROM p.st
          |GROUP BY p.st
          |ORDER BY st NULLS FIRST""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    "q26_intersect" ->
      """SELECT nationkey, n_name
        |FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  JOIN orders ON o_custkey = c_custkey
        |  INTERSECT
        |  SELECT s_nationkey AS nationkey FROM supplier) t
        |JOIN nation ON n_nationkey = nationkey
        |ORDER BY nationkey""".stripMargin,

    "q27_except" ->
      """SELECT o_custkey AS custkey FROM orders
        |EXCEPT
        |SELECT user_id AS custkey FROM events
        |ORDER BY custkey""".stripMargin,

    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS sum_disc_price,
        |  AVG(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q2_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey = 500""".stripMargin,

    "q3_shipping_priority" ->
      """SELECT l_orderkey, o_orderdate, o_orderpriority,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1999-03-15'
        |  AND l_shipdate > TIMESTAMP '1999-03-15'
        |GROUP BY l_orderkey, o_orderdate, o_orderpriority
        |ORDER BY revenue DESC, l_orderkey
        |LIMIT 10""".stripMargin,

    "q4_in_list" ->
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_bal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE n_name IN ('NATION_1', 'NATION_5', 'NATION_12')
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q5_local_supplier_volume" ->
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(24,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,

    "q6_revenue_forecast" ->
      """SELECT
        |  CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(24,6))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    "q7_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q8_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '1996-01-01'
        |    AND o_orderdate < TIMESTAMP '1997-01-01')
        |ORDER BY c_custkey""".stripMargin,

    "q9_outer_join_agg" ->
      """SELECT c_custkey, COUNT(o_orderkey) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey
        |ORDER BY c_custkey""".stripMargin,

    "q10_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        |  FROM orders) x
        |WHERE rn = 1
        |ORDER BY o_custkey""".stripMargin,

    "q11_running_total" ->
      """SELECT event_id, user_id,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
        |FROM events
        |ORDER BY user_id, event_id""".stripMargin,

    "q12_distinct_agg" ->
      """SELECT l_returnflag,
        |  COUNT(DISTINCT l_partkey) AS n_parts,
        |  COUNT(DISTINCT l_suppkey) AS n_supps,
        |  COUNT(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q13_having" ->
      """SELECT o_custkey, COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY o_custkey
        |HAVING COUNT(*) >= 5
        |ORDER BY o_custkey""".stripMargin,

    "q14_case_agg" ->
      """SELECT
        |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value END AS DECIMAL(18,2))) AS DOUBLE) AS purchase_value,
        |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
        |  COUNT(*) AS n_events
        |FROM events""".stripMargin,

    "q15_scalar_funcs" ->
      """SELECT p_partkey,
        |  regexp_replace(lower(p_name), '[^a-z0-9]', '_', 'g') AS name_slug,
        |  upper(p_brand) AS brand_upper,
        |  substr(p_type, 1, 4) AS type_prefix,
        |  CAST(length(p_name) AS INT) AS name_len,
        |  concat_ws('/', p_brand, p_type) AS brand_type
        |FROM part
        |ORDER BY p_partkey""".stripMargin,

    "q16_json_extract" ->
      """SELECT event_id, event_type,
        |  CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events
        |WHERE CAST(json_extract_string(props, '$.k') AS INT) > 50
        |ORDER BY event_id""".stripMargin,

    "q17_date_agg" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year, CAST(month(o_orderdate) AS INT) AS o_month,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1, 2
        |ORDER BY o_year, o_month""".stripMargin,

    "q18_union_all" ->
      """SELECT * FROM (
        |  SELECT event_id, user_id, 'err' AS tag FROM events WHERE event_type = 'error'
        |  UNION ALL
        |  SELECT event_id, user_id, 'buy' AS tag FROM events
        |  WHERE event_type = 'purchase' AND value > 150) x
        |ORDER BY event_id, tag""".stripMargin,

    "q19_topk_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q20_row_counts" ->
      """SELECT * FROM (
        |  SELECT 'customer' AS table_name, COUNT(*) AS row_count FROM customer
        |  UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
        |  UNION ALL SELECT 'nation', COUNT(*) FROM nation
        |  UNION ALL SELECT 'orders', COUNT(*) FROM orders
        |  UNION ALL SELECT 'region', COUNT(*) FROM region) x
        |ORDER BY table_name""".stripMargin,

    "q30_lead_lag" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  round(o_totalprice - lag(o_totalprice, 1) OVER w, 2) AS prev_delta,
        |  lead(o_orderdate, 1) OVER w AS next_date,
        |  ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) AS spend_quartile,
        |  first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_price
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q32_cume_dist" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS total,
        |  dense_rank() OVER w AS rnk_dense,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cume
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // q34: the same daily rollup then a value-based RANGE frame over
    // the integer day key; the frame sum stays decimal until the
    // final double cast, so the trailing totals agree bit-for-bit
    "q34_range_window" ->
      """WITH daily AS (
        |  SELECT o_orderpriority,
        |    CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
        |      AS day_int,
        |    COUNT(*) AS n_orders,
        |    SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS sd
        |  FROM orders GROUP BY 1, 2)
        |SELECT o_orderpriority, day_int, n_orders,
        |  CAST(SUM(n_orders) OVER w AS BIGINT) AS n_7d,
        |  CAST(SUM(sd) OVER w AS DOUBLE) AS sum_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_int
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, day_int""".stripMargin,

    // q35: DuckDB speaks ROLLUP + GROUPING natively — the subtotal
    // rows' null keys and the GROUPING disambiguation bits must both
    // hash-match.
    "q35_rollup" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
        |  CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY g_status, g_prio, o_orderstatus, o_orderpriority""".stripMargin,

    // q36: the pivot restated as conditional aggregation — COUNT
    // FILTER is 0 (not null) for empty cells, matching the engine's
    // explicit zero-fill of count cells (sums stay null).
    "q36_pivot" ->
      ("""SELECT o_orderstatus, """ +
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW").map(p =>
          s"""COUNT(*) FILTER (WHERE o_orderpriority = '$p') AS n_${p.take(1)},
             |CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
             |  FILTER (WHERE o_orderpriority = '$p') AS DOUBLE) AS rev_${p.take(1)}""".stripMargin)
          .mkString(", ") +
        """ FROM orders GROUP BY 1 ORDER BY 1"""),

    // q37: pivot ∘ unpivot must land back on the plain GROUP BY —
    // groups with no rows are dropped on both sides.
    "q37_unpivot" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q38: the same three subquery shapes verbatim — DuckDB
    // decorrelates them the same way, so the hash pins semantics,
    // not plans.
    "q38_subqueries" ->
      """SELECT c.c_custkey, c.c_mktsegment,
        |  (SELECT CAST(MAX(o.o_totalprice) AS DOUBLE)
        |   FROM orders o WHERE o.o_custkey = c.c_custkey) AS max_price,
        |  EXISTS(SELECT 1 FROM orders o
        |         WHERE o.o_custkey = c.c_custkey
        |           AND o.o_orderdate >= TIMESTAMP '1998-01-01') AS active_98
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey)
        |ORDER BY c.c_custkey""".stripMargin,

    // q39: same text — the total order (price, key tiebreak) makes
    // NTILE boundaries and every positional value deterministic.
    "q39_positional_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(NTILE(4) OVER w AS BIGINT) AS quartile,
        |  FIRST_VALUE(o_orderkey) OVER w AS cheapest_key,
        |  LAST_VALUE(o_orderkey) OVER wf AS priciest_key,
        |  COALESCE(NTH_VALUE(o_orderkey, 2) OVER wf, -1) AS second_key
        |FROM orders
        |WINDOW
        |  w AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey),
        |  wf AS (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    // q40: same text — null group, null-safe join, COUNT divergence.
    "q40_null_semantics" ->
      """WITH t AS (
        |  SELECT o_orderkey, NULLIF(o_orderstatus, 'O') AS st,
        |    o_totalprice
        |  FROM orders WHERE o_orderkey % 50 = 0),
        |probes AS (SELECT DISTINCT st FROM t)
        |SELECT p.st AS st, COUNT(*) AS n_matched,
        |  COUNT(a.st) AS n_nonnull,
        |  CAST(SUM(CAST(a.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_matched
        |FROM t a JOIN probes p ON a.st IS NOT DISTINCT FROM p.st
        |GROUP BY p.st
        |ORDER BY st NULLS FIRST""".stripMargin
  )
}
