package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.Tables
import graft.util.Parity.multisetEqual
import graft.queries.ExtQ._

/** MATERIALIZED-VIEW FAMILY (x66–x78, split from ExtQ round 13):
  * registration + injected-rule rewrite, rollup containment,
  * staleness, incremental refresh, filtered views, cost-ordered
  * choice, and the SQL DDL lifecycle. Shared helpers/constants stay
  * in [[ExtQ]] (package-private) so the split carries ZERO behavior
  * change — same entries, same oracles, same hashes. */
object MvQ {

  val defs: Map[String, Q] = Map(

    // x66 — AUTOMATIC MV QUERY REWRITE (the read half x12/x35/x41's
    // maintenance story was missing): a registered materialized view
    // answers plain SQL that only names the FACT table. MatView
    // commits the per-(status,priority) partials of the snapshot-
    // committed fact, MvRewrite (an injected optimizer rule) matches
    // the Aggregate-over-fact shape and re-aggregates the MV instead
    // — exact containment only (grouping ⊆ keys, every aggregate
    // derivable from the stored partials, freshness gate), refusal
    // otherwise. The `used_mv` flag is read off the OPTIMIZED plan
    // (MV scanned, fact not) and hashed, so the oracle pins both the
    // values AND the plan decision: a silently-declined rewrite
    // flips the flag; a semantically wrong one breaks the aggregate
    // columns. At 100 TB the fact-sized scan+shuffle becomes an
    // MV-sized one; the decision is a driver-side registry probe
    // plus one manifest-sized log read.
    "x66_mv_rewrite" -> ((s, d) => {
      val (factDir, mvDir) = x66Setup(s, d, "a")
      x66Consume(s, graft.sources.Snapshots.read(s, factDir), "orders_x66",
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders,
          |  MIN(o_totalprice) AS min_price,
          |  MAX(o_totalprice) AS max_price
          |FROM orders_x66
          |GROUP BY o_orderstatus, o_orderpriority""".stripMargin,
        mvDir, factDir, "o_orderstatus", "o_orderpriority")
    }),


    // x67 — MV GROUP ROLLUP (algebraic containment, not equality):
    // the SAME (status,priority) view serves a status-only rollup —
    // SUM/COUNT re-sum, MIN re-mins, and AVG arrives as the repo-
    // standard SUM/COUNT division so each AggregateExpression maps
    // independently and the Divide stays put (no decimal-average
    // scale drift to reconcile). Same plan-decision pin as x66.
    "x67_mv_rollup" -> ((s, d) => {
      val (factDir, mvDir) = x66Setup(s, d, "b")
      x66Consume(s, graft.sources.Snapshots.read(s, factDir), "orders_x67",
        """SELECT o_orderstatus,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
          |  MIN(o_totalprice) AS min_price
          |FROM orders_x67
          |GROUP BY o_orderstatus""".stripMargin,
        mvDir, factDir, "o_orderstatus")
    }),


    // x68 — MV STALENESS FALLBACK (the gate that makes x66 safe to
    // trust): after the MV is built on v1, the fact advances to v2;
    // the SAME SQL text must now REFUSE the rewrite and answer from
    // the live fact scan. The hashed output pins both halves — the
    // aggregates carry v2's numbers (a stale-served MV would still
    // show v1's) and `used_mv` pins the declined plan. This is the
    // x46 result-cache discipline applied to the rewrite path:
    // version-fingerprinted reads, never trust-by-recency.
    "x68_mv_staleness" -> ((s, d) => {
      import graft.sources.Snapshots
      val (factDir, mvDir) = x66Setup(s, d, "c")
      // the input commit that outdates the view: v2 = ALL orders
      Snapshots.commit(x66Fact(s, d, allRows = true), factDir)
      x66Consume(s, Snapshots.read(s, factDir), "orders_x68",
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders
          |FROM orders_x68
          |GROUP BY o_orderstatus, o_orderpriority""".stripMargin,
        mvDir, factDir, "o_orderstatus", "o_orderpriority")
    }),


    // x70 — INCREMENTAL MV REFRESH (closing the x66/x68 loop): the
    // nightly append lands as a delta-only fact commit (v2 = v1 ∪ Δ,
    // base files untouched), MatView.refresh folds ONLY the delta's
    // partials into the stored view (full-outer monoid merge on the
    // group keys — O(|Δ|) + O(|MV|), the fact's history never
    // re-read) and commits MV v2, re-registering freshness. The SAME
    // SQL text that x68 showed declining now rewrites again — onto a
    // view no full rebuild ever touched. The oracle restates the
    // aggregate over v1 ∪ Δ from orders, so the hash proves the IVM
    // identity merge(MV(v1), partials(Δ)) == MV(v1 ∪ Δ) group for
    // group, AND used_mv pins that the refreshed view actually
    // serves.
    "x70_mv_refresh" -> ((s, d) => {
      import graft.sources.Snapshots
      val (factDir, mvDir) = x66Setup(s, d, "r")
      // the nightly batch: H1-1997 orders, appended delta-only
      val delta = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      Snapshots.commitAppend(delta, factDir, base = 1)
      val v2 = Snapshots.versions(s, factDir)
      graft.plans.MatView.refresh(s, "x66_r",
        Snapshots.read(s, factDir, Some(2)), // the append's OWN rows
        isFresh = () => Snapshots.versions(s, factDir) == v2)
      x66Consume(s, Snapshots.readResolved(s, factDir), "orders_x70",
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders,
          |  MIN(o_totalprice) AS min_price,
          |  MAX(o_totalprice) AS max_price
          |FROM orders_x70
          |GROUP BY o_orderstatus, o_orderpriority""".stripMargin,
        mvDir, factDir, "o_orderstatus", "o_orderpriority")
    }),


    // x97 — LOG-DRIVEN MV MAINTENANCE WITH RETRACTION (the CDC loop
    // closed WITHOUT a caller-supplied delta): x70's refresh needs
    // someone to hand it the delta frame; a production MV maintains
    // ITSELF from the commit log. MatView.maintainFromLog plans each
    // unsynced fact version from log metadata alone — the nightly
    // append folds +partials of its own files (O(|Δ|)), the RTBF
    // deletion vector folds −partials of its PRE-IMAGES (the
    // key-sized DV semi-joins the base state; sums/counts form a
    // GROUP, so retraction is the signed fold — min/max views refuse
    // loudly, Materialize's rule), layout commits fold nothing, and
    // groups retracted to zero rows are REMOVED. The witness is the
    // IVM identity itself: the maintained view must equal the
    // post-delete fact state RECOMPUTED from scratch, group for
    // group (two exceptAll counts — x30's roundtrip discipline),
    // and the oracle replays that state from source so the hash
    // pins the folds' arithmetic exactly. At 100 TB: maintenance
    // cost follows the CHURN the log records — never the fact,
    // never its history, and no diff job anywhere.
    "x97_mv_log_maintenance" -> ((s, d) => {
      import graft.sources.Snapshots
      val factDir = freshSnapDir(s, d, "x97_fact")
      val mvDir = freshSnapDir(s, d, "x97_mv")
      Snapshots.commit(x66Fact(s, d, allRows = false), factDir) // v1
      graft.plans.MatView.create(s, "x97", Snapshots.read(s, factDir), mvDir,
        groupCols = Seq("o_orderstatus", "o_orderpriority"),
        sumCols = Seq("price" -> col("o_totalprice").cast("decimal(18,2)")),
        isFresh = () => false) // disarmed until maintenance re-arms
      // v2: the nightly append (1997+ orders, delta-only files)
      Snapshots.commitAppend(
        x66Fact(s, d, allRows = true)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")),
        factDir, base = 1)
      // v3: an RTBF-class deletion vector over the resolved state
      Snapshots.commitDeletes(
        Snapshots.readResolved(s, factDir)
          .filter(col("o_orderkey") % 997 === 0)
          .select(col("o_orderkey")), factDir, base = 2)
      val head = Snapshots.versions(s, factDir)
      val (_, synced) = graft.plans.MatView.maintainFromLog(s, "x97",
        factDir, sinceVersion = 1,
        isFresh = () => Snapshots.versions(s, factDir) == head)
      // the IVM identity, checked: maintained view == recompute over
      // the post-delete resolved state, group for group
      def shape(df: DataFrame) = df.select(
        col("o_orderstatus"), col("o_orderpriority"),
        col("sum_price").cast("decimal(28,2)").as("p"), col("n_rows"))
      val mv = shape(Snapshots.read(s, mvDir)).cache()
      val recomputed = shape(Snapshots.readResolved(s, factDir)
        .groupBy(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"),
          count(lit(1)).as("n_rows")))
      val exact = multisetEqual(mv, recomputed)
      mv.select(col("o_orderstatus"), col("o_orderpriority"),
          col("p").cast("double").as("revenue"),
          col("n_rows").as("n_orders"),
          lit(exact).as("retraction_exact"),
          lit(synced).cast("int").as("synced_version"))
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))
    }),


    // x75 — COST-BASED VIEW CHOICE (the planner step that makes an
    // MV CATALOG, not just an MV, useful): two views over the same
    // fact both contain a priority-only rollup — the wide
    // (status,priority) view and the narrow (priority) view. The
    // matcher cost-orders candidates by the commit log's stored
    // bytes (driver-side manifest read, the x37–x43 catalog
    // discipline) and the NARROW view must serve. `served_by` reads
    // which MV directory the optimized plan actually scans and rides
    // the hash — values alone couldn't tell the two apart (both are
    // correct), which is exactly why the choice needs its own pin.
    "x75_mv_choice" -> ((s, d) => {
      import graft.sources.Snapshots
      val factDir = s"target/x66_fact_w_${math.abs(d.hashCode)}"
      val mvWide = s"target/x75_mv_wide_${math.abs(d.hashCode)}"
      val mvNarrow = s"target/x75_mv_narrow_${math.abs(d.hashCode)}"
      Snapshots.drop(s, factDir)
      Snapshots.commit(x66Fact(s, d, allRows = false), factDir)
      val fact = Snapshots.read(s, factDir)
      val v0 = Snapshots.versions(s, factDir)
      val fresh = () => Snapshots.versions(s, factDir) == v0
      graft.plans.MatView.create(s, "x75_wide", fact, mvWide,
        groupCols = Seq("o_orderstatus", "o_orderpriority"),
        sumCols = Seq("price" -> col("o_totalprice").cast("decimal(18,2)")),
        isFresh = fresh)
      graft.plans.MatView.create(s, "x75_narrow", fact, mvNarrow,
        groupCols = Seq("o_orderpriority"),
        sumCols = Seq("price" -> col("o_totalprice").cast("decimal(18,2)")),
        isFresh = fresh)
      Snapshots.read(s, factDir).createOrReplaceTempView("orders_x75")
      val q = s.sql(
        """SELECT o_orderpriority,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders
          |FROM orders_x75
          |GROUP BY o_orderpriority""".stripMargin)
      val paths = scanRoots(q)
      val servedBy =
        if (paths.exists(_.contains(mvNarrow))) "narrow"
        else if (paths.exists(_.contains(mvWide))) "wide"
        else "fact"
      q.withColumn("served_by", lit(servedBy))
        .orderBy(col("o_orderpriority"))
    }),


    // x73 — FILTERED-MV CONTAINMENT (the predicate half of x66's
    // algebra): the view is DEFINED over a filtered fact (pre-1997
    // orders of the RAW parquet table — no lakehouse required), and
    // the matcher now demands the query's filter BE the defining
    // filter, conjunct for conjunct (optimizer-inferred IsNotNulls
    // stripped when implied; structural compare, so the SQL text's
    // TIMESTAMP literal meets the DF-API's folded cast). Two probes,
    // one hashed output: the defining filter rewrites (MV-sized
    // read), a WIDER cut must refuse — serving it the filtered view
    // would silently drop 1997's orders, the classic filtered-MV
    // wrong-answer. Both decisions ride the hash.
    "x73_filtered_mv" -> ((s, d) => {
      val mvDir = s"target/x73_mv_${math.abs(d.hashCode)}"
      val factFile = s"$d/orders.parquet"
      def fp(): String = {
        val p = java.nio.file.Paths.get(factFile)
        s"${java.nio.file.Files.size(p)}_${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      }
      val orders = Tables.load(s, d, "orders")
      val defining = orders.filter(
        col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      val f0 = fp()
      graft.plans.MatView.create(s, "x73", defining, mvDir,
        groupCols = Seq("o_orderpriority"),
        sumCols = Seq("price" -> col("o_totalprice").cast("decimal(18,2)")),
        isFresh = () => fp() == f0)
      orders.createOrReplaceTempView("orders_x73")
      def probe(label: String, cut: String) = {
        val q = s.sql(
          s"""SELECT o_orderpriority,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_orders
             |FROM orders_x73
             |WHERE o_orderdate < TIMESTAMP '$cut'
             |GROUP BY o_orderpriority""".stripMargin)
        q.withColumn("probe", lit(label))
          .withColumn("used_mv", lit(x66UsedMv(q, mvDir, factFile)))
      }
      probe("defining", "1997-01-01")
        .unionByName(probe("wider", "1998-01-01"))
        .orderBy(col("probe"), col("o_orderpriority"))
    }),


    // x77 — MV FILTER CONTAINMENT (serving the STRICTER query —
    // x73's complement): x73 pinned that a WIDER filter refuses;
    // here the query carries the view's defining filter (none) PLUS
    // an extra conjunct. When that conjunct references GROUPING KEYS
    // alone (o_orderstatus — a key the query doesn't even group by),
    // the rewrite serves the MV with the conjunct applied as a
    // residual above the MV scan: each fact row maps to exactly one
    // group carrying its own key values, so filtering the
    // group-cardinality partials is identical to filtering the fact
    // — an MV-sized read where the old multiset-equality matcher
    // paid a fact scan. When the extra conjunct touches a VALUE
    // column (o_totalprice — already aggregated into the partials),
    // no residual can unmix it and the rewrite refuses. Both
    // decisions ride the hash next to values replayed from exact
    // SQL.
    "x77_mv_containment" -> ((s, d) => {
      val mvDir = s"target/x77_mv_${math.abs(d.hashCode)}"
      val factFile = s"$d/orders.parquet"
      def fp(): String = {
        val p = java.nio.file.Paths.get(factFile)
        s"${java.nio.file.Files.size(p)}_${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      }
      val orders = Tables.load(s, d, "orders")
      val f0 = fp()
      graft.plans.MatView.create(s, "x77", orders, mvDir,
        groupCols = Seq("o_orderpriority", "o_orderstatus"),
        sumCols = Seq("price" -> col("o_totalprice").cast("decimal(18,2)")),
        isFresh = () => fp() == f0)
      orders.createOrReplaceTempView("orders_x77")
      def probe(label: String, where: String) = {
        val q = s.sql(
          s"""SELECT o_orderpriority,
             |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
             |  COUNT(*) AS n_orders
             |FROM orders_x77
             |WHERE $where
             |GROUP BY o_orderpriority""".stripMargin)
        q.withColumn("probe", lit(label))
          .withColumn("used_mv", lit(x66UsedMv(q, mvDir, factFile)))
      }
      val out = probe("group_key", "o_orderstatus = 'F'")
        .unionByName(probe("value_col", "o_totalprice > 50000"))
        .orderBy(col("probe"), col("o_orderpriority"))
      graft.plans.MvCatalog.remove("x77")
      out
    }),


    // x78 — MV DDL ON THE SQL SURFACE (the x54/x56/x65/x71/x74
    // symmetry rule applied to x66/x70: every engine verb reachable
    // from pure SQL text): `CREATE MATERIALIZED VIEW <name> AT
    // '<dir>' AS <select>` analyzes the defining statement and
    // decomposes its Aggregate into the frame-based MatView.create
    // (group keys, SUM/COUNT/MIN/MAX partials, default source-
    // fingerprint freshness), `REFRESH MATERIALIZED VIEW <name> AS
    // <delta select>` folds the delta through the x70 monoid merge —
    // so a script declares the view, a LATER script's plain GROUP BY
    // gets rewritten, and after the nightly append a pure-SQL
    // refresh re-arms it, Scala never in sight. Both consumers'
    // used_mv decisions ride the hash next to x66/x70's aggregate
    // values replayed from orders.
    "x78_sql_mv_ddl" -> ((s, d) => {
      import graft.sources.Snapshots
      val factDir = freshSnapDir(s, d, "x78_fact")
      val mvDir = freshSnapDir(s, d, "x78_mv")
      graft.plans.MvCatalog.remove("x78_mv")
      Snapshots.commit(x66Fact(s, d, allRows = false), factDir)
      val consumer =
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
          |  COUNT(*) AS n_orders,
          |  MIN(o_totalprice) AS min_price,
          |  MAX(o_totalprice) AS max_price""".stripMargin
      val scriptA =
        s"""-- pure-SQL MV DDL: declare the view, then consume it via
           |-- the rewrite — the consumer only ever names the fact
           |CREATE MATERIALIZED VIEW x78_mv AT '$mvDir' AS
           |SELECT o_orderstatus, o_orderpriority,
           |  SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS price,
           |  MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
           |FROM snapshot_at('$factDir', 1)
           |GROUP BY o_orderstatus, o_orderpriority;
           |$consumer
           |FROM snapshot_at('$factDir', 1)
           |GROUP BY o_orderstatus, o_orderpriority""".stripMargin
      val q1 = graft.util.SqlRunner.runScriptWithSnapshots(s, scriptA).last
      val served1 = x66UsedMv(q1, mvDir, factDir)
      // the nightly append (x70's H1-1997 batch), delta-only commit
      val delta = Tables.load(s, d, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-07-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_orderpriority"), col("o_totalprice"), col("o_orderdate"))
      Snapshots.commitAppend(delta, factDir, base = 1)
      val scriptB =
        s"""-- pure-SQL refresh folds the append's own rows, then the
           |-- resolved read (base UNION ALL delta) is served again
           |REFRESH MATERIALIZED VIEW x78_mv AS
           |SELECT * FROM snapshot_at('$factDir', 2);
           |$consumer
           |FROM (SELECT * FROM snapshot_at('$factDir', 1)
           |      UNION ALL SELECT * FROM snapshot_at('$factDir', 2)) u
           |GROUP BY o_orderstatus, o_orderpriority""".stripMargin
      val q2 = graft.util.SqlRunner.runScriptWithSnapshots(s, scriptB).last
      val served2 = x66UsedMv(q2, mvDir, factDir)
      // DDL lifecycle's third verb: DROP de-registers and removes the
      // stored partials, so the SAME consumer re-runs against the fact
      // (used_mv must flip FALSE, values identical — refusal is merely
      // slower, never wrong)
      val scriptC =
        s"""DROP MATERIALIZED VIEW x78_mv;
           |$consumer
           |FROM (SELECT * FROM snapshot_at('$factDir', 1)
           |      UNION ALL SELECT * FROM snapshot_at('$factDir', 2)) u
           |GROUP BY o_orderstatus, o_orderpriority""".stripMargin
      val q3 = graft.util.SqlRunner.runScriptWithSnapshots(s, scriptC).last
      val served3 = x66UsedMv(q3, mvDir, factDir)
      val out = q1
        .withColumn("probe", lit("created")).withColumn("used_mv", lit(served1))
        .unionByName(q2
          .withColumn("probe", lit("refreshed")).withColumn("used_mv", lit(served2)))
        .unionByName(q3
          .withColumn("probe", lit("dropped")).withColumn("used_mv", lit(served3)))
        .orderBy(col("probe"), col("o_orderstatus"), col("o_orderpriority"))
      graft.plans.MvCatalog.remove("x78_mv")
      out
    })
  )

  val oracles: Map[String, String] = Map(

    // x66/x67: the aggregate restated straight from orders (the MV's
    // defining query composed with the user query — containment made
    // executable); used_mv = TRUE is the plan decision the flag pins.
    // x68: v2's numbers (ALL orders) with used_mv = FALSE — a stale-
    // served MV would hash v1's rows instead.
    "x66_mv_rewrite" ->
      (mvConsumerSql("WHERE o_orderdate < TIMESTAMP '1997-01-01'",
        ",\n  TRUE AS used_mv") + "\nORDER BY 1, 2"),


    "x67_mv_rollup" ->
      """SELECT o_orderstatus,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price,
        |  MIN(o_totalprice) AS min_price,
        |  TRUE AS used_mv
        |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    "x68_mv_staleness" ->
      (mvConsumerSql("", ",\n  FALSE AS used_mv", minMax = false) +
        "\nORDER BY 1, 2"),


    // x70: the aggregate over v1 ∪ Δ restated from orders — the hash
    // proves merge(MV(v1), partials(Δ)) == MV(v1 ∪ Δ) group for
    // group, and used_mv=TRUE pins that the refreshed view serves.
    "x70_mv_refresh" ->
      (mvConsumerSql("WHERE o_orderdate < TIMESTAMP '1997-07-01'",
        ",\n  TRUE AS used_mv") + "\nORDER BY 1, 2"),

    // x97: append ∪ base minus the DV set, restated from source;
    // literal true pins the checked IVM identity (maintained view ==
    // recompute, both exceptAll counts zero), CAST(3) the synced
    // head.
    "x97_mv_log_maintenance" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  true AS retraction_exact, CAST(3 AS INT) AS synced_version
        |FROM orders
        |WHERE o_orderkey % 997 <> 0
        |GROUP BY o_orderstatus, o_orderpriority
        |ORDER BY 1, 2""".stripMargin,


    // x75: the rollup restated from orders; served_by='narrow' pins
    // the cost-ordered choice (both views would hash identical
    // values — only the plan decision separates them).
    "x75_mv_choice" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  'narrow' AS served_by
        |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1 ORDER BY 1""".stripMargin,


    // x73: both probes restated straight from orders; used_mv TRUE
    // only for the defining cut — a matcher that served the wider
    // probe would also break its aggregate columns (1997 missing).
    "x73_filtered_mv" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  'defining' AS probe, TRUE AS used_mv
        |FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |  COUNT(*), 'wider', FALSE
        |FROM orders WHERE o_orderdate < TIMESTAMP '1998-01-01'
        |GROUP BY 1
        |ORDER BY probe, o_orderpriority""".stripMargin,


    // x78: x66's aggregate for the created probe (<1997) and x70's
    // for the refreshed one (v1 ∪ Δ = <1997-07-01), both used_mv
    // TRUE — a DDL binding that failed to register, a consumer the
    // rewrite declined, or a refresh that didn't re-arm flips a
    // flag; wrong partials break the values. The 'dropped' probe
    // repeats the refreshed aggregate AFTER DROP MATERIALIZED VIEW:
    // same values straight from the fact, used_mv FALSE.
    "x78_sql_mv_ddl" ->
      (Seq(("created", "1997-01-01", "TRUE"),
          ("refreshed", "1997-07-01", "TRUE"),
          ("dropped", "1997-07-01", "FALSE"))
        .map { case (probe, cut, used) =>
          mvConsumerSql(s"WHERE o_orderdate < TIMESTAMP '$cut'",
            s",\n  '$probe' AS probe, $used AS used_mv") }
        .mkString("", "\nUNION ALL\n",
          "\nORDER BY probe, o_orderstatus, o_orderpriority")),


    // x77: both probes restated straight from orders; used_mv TRUE
    // only for the grouping-key conjunct — a matcher that served the
    // value-column probe could not produce its numbers (the partials
    // cannot be re-filtered by o_totalprice), and one that refused
    // the group-key probe flips its flag.
    "x77_mv_containment" ->
      """SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  COUNT(*) AS n_orders,
        |  'group_key' AS probe, TRUE AS used_mv
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1
        |UNION ALL
        |SELECT o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE),
        |  COUNT(*), 'value_col', FALSE
        |FROM orders WHERE o_totalprice > 50000
        |GROUP BY 1
        |ORDER BY probe, o_orderpriority""".stripMargin
  )
}
