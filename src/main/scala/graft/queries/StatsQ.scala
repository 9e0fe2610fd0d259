package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.ExtQ._

/** STATS→PLANNER FAMILY (x34–x62 statistics consumers + x79/x80
  * auto-stats, split from ExtQ round 13): ANALYZE depth, sketch NDV,
  * stats/histogram/skew-planned joins, Bloom pruning, catalog
  * pruning, shuffle sizing, range partitioning, and the commit-hook
  * auto-stats surface. Shared helpers/constants stay in [[ExtQ]]
  * (package-private) — zero behavior change. */
object StatsQ {

  val defs: Map[String, Q] = Map(

    // x34 — TABLE STATISTICS (ANALYZE): per-column null count / exact
    // NDV / min / max / string-length profile — the inputs a cost-based
    // optimizer and a zone-map writer both need. One aggregate per
    // column, unioned: over COLUMNAR files each leg's scan is pruned
    // to exactly its one column (ReadSchema shows a single field), so
    // C per-column stats cost the same bytes as one C-column scan and
    // the legs parallelize across the cluster; each NDV is an exact
    // distinct on a single column (map-side partial dedup, then a
    // value-cardinality shuffle). Timestamps profile as epoch micros
    // (exact in double to 2^53) so every min/max stays engine-typed —
    // never a string-formatting parity bet. The oracle states each
    // column's stats directly; the hash pins NDV semantics (exact,
    // null-excluding) and the length profile's integer-sum division.
    "x34_table_stats" -> ((s, d) => {
      import graft.ops.Analyze
      val li = Tables.load(s, d, "lineitem")
      Analyze.numLeg(li, "l_orderkey", col("l_orderkey"))
        .unionByName(Analyze.numLeg(li, "l_quantity", col("l_quantity")))
        .unionByName(Analyze.strLeg(li, "l_returnflag"))
        // parquet timestamps load as NTZ; the UTC session makes the
        // cast a wall-clock identity, so epoch micros match DuckDB's
        // epoch_us on the same naive values
        .unionByName(Analyze.numLeg(li, "l_shipdate",
          unix_micros(col("l_shipdate").cast("timestamp"))))
        .orderBy(col("col_name"))
    }),


    // x36 — ANALYZE, SKETCH MODE (the wide-table twin of x34): NDV
    // per column via HyperLogLog++ instead of an exact distinct —
    // the mode a 100 TB ANALYZE actually runs, where x34's exact
    // value-cardinality shuffle PER COLUMN is the one knob that
    // doesn't scale (a 500-column table would pay 500 corpus-keyed
    // exchanges; the sketch pays 500 fixed-size buffers merged
    // map-side). x1's envelope pattern keeps it oracle-checkable:
    // the estimate never reaches the compared output — each leg
    // emits the exact NDV plus a literal-checked bound verdict
    // (|hll − exact| ≤ 3·rsd·exact, the standard-error band at 3σ),
    // so a sketch drifting out of its guarantee flips a hash-pinned
    // boolean instead of hiding in an approximate column.
    // This is the AUDIT mode; the production (sketch-only, one-scan)
    // mode is [[x36SketchOnly]] — same sketch pass, no exact legs.
    "x36_table_stats_hll" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val cols = X36Cols
      // EVERY column's sketch from ONE corpus scan — the wide-table
      // win itself: C fixed-size HLL buffers updated side by side
      // (never mixed into the exact legs' expand — the r8 smoke
      // measured the fused form 10× slower), merged map-side, C rows
      // out. The exact legs below exist only for the envelope check.
      val hll = x36SketchOnly(s, d).withColumnRenamed("ndv_est", "hll")
      def exact(c: String) = li.agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"))
      cols.map(exact).reduce(_ unionByName _)
        .join(broadcast(hll), Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("n_distinct"),
          (abs(col("hll") - col("n_distinct")) <=
            col("n_distinct") * lit(3 * X36Rsd)).as("ndv_ok"))
        .orderBy(col("col_name"))
    }),


    // x41 — INCREMENTAL ANALYZE (stats maintenance under append):
    // the catalog-freshness operator. A 100 TB table's stats cannot
    // be recomputed over history per ingest batch — every component
    // of the stored state must be MERGEABLE, so maintenance costs
    // O(|Δ|): counts and null counts add, min/max combine, and NDV
    // carries as a DataSketches HLL sketch whose union is the
    // register-wise max (Agarwal et al., "Mergeable Summaries" —
    // the x1/x36 family's missing update path). The query splits
    // lineitem at a date cut, profiles base and delta SEPARATELY,
    // merges the two states, and hash-checks the merge against the
    // full table: exact fields (n_rows/n_nulls/min/max) must equal
    // the one-shot recompute BY VALUE — the stats-merge identity,
    // x12's monoid argument applied to ANALYZE — while the merged
    // sketch's estimate stays behind a 3σ envelope verdict (x1's
    // pattern; the estimate itself never reaches the hash). The
    // exact-NDV leg exists only for the envelope, as in x36's audit
    // mode.
    "x41_incremental_analyze" -> ((s, d) => {
      val li = Tables.load(s, d, "lineitem")
      val cut = lit("1997-01-01").cast("timestamp")
      val base = li.filter(col("l_shipdate") < cut)
      val delta = li.filter(col("l_shipdate") >= cut || col("l_shipdate").isNull)
      // one mergeable state row per (partition, column)
      def state(df: DataFrame, c: String, asNum: Option[Column]) = df.agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_nulls"),
          asNum.map(a => min(a).cast("double")).getOrElse(lit(null).cast("double"))
            .as("min_num"),
          asNum.map(a => max(a).cast("double")).getOrElse(lit(null).cast("double"))
            .as("max_num"),
          hll_sketch_agg(col(c), lit(X41LgK)).as("sk"))
        .select(lit(c).as("col_name"), col("n_rows"), col("n_nulls"),
          col("min_num"), col("max_num"), col("sk"))
      def merge(c: String, asNum: Option[Column]) =
        state(base, c, asNum).unionByName(state(delta, c, asNum))
          .groupBy(col("col_name"))
          .agg(sum(col("n_rows")).as("n_rows"), sum(col("n_nulls")).as("n_nulls"),
            min(col("min_num")).as("min_num"), max(col("max_num")).as("max_num"),
            hll_union_agg(col("sk"), lit(false)).as("sk"))
      def exact(c: String) = li.agg(countDistinct(col(c)).as("n_distinct"))
        .select(lit(c).as("col_name"), col("n_distinct"))
      val cols = Seq("l_orderkey" -> Some(col("l_orderkey")),
        "l_returnflag" -> None)
      cols.map { case (c, a) => merge(c, a) }.reduce(_ unionByName _)
        .join(broadcast(cols.map(c => exact(c._1)).reduce(_ unionByName _)),
          Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_nulls"),
          col("min_num"), col("max_num"), col("n_distinct"),
          (abs(hll_sketch_estimate(col("sk")) - col("n_distinct")) <=
            greatest(col("n_distinct") * lit(3 * X41Rsd), lit(8.0))).as("ndv_ok"))
        .orderBy(col("col_name"))
    }),


    // x79 — AUTO-ANALYZE ON COMMIT (the stats catalog's write loop
    // closed; x41's merge identity productionized as a Snapshots
    // commit hook): enable(dir) opts the table in, a full commit
    // profiles the landed version, an APPEND folds the delta's
    // mergeable state at O(|Δ|) — counts add, min/max combine, NDV
    // unions register-wise — and every maintenance re-lands a
    // catalog version plus a zero-job planner summary. The declared
    // probes: exact merged fields per column (BY VALUE against the
    // oracle's one-shot recompute — the stats-merge identity), the
    // NDV estimate behind x41's 3σ envelope, FRESH after the hooked
    // commits with no manual ANALYZE anywhere, x37's broadcast
    // decision taken from the auto-maintained stats, and a deletes
    // commit (not foldable — sketches cannot subtract) flipping the
    // staleness verdict: detected, never silently served.
    "x79_auto_analyze" -> ((s, d) => {
      import graft.sources.Snapshots
      import graft.ops.{Analyze, AutoAnalyze, StatsCatalog}
      val factDir = s"target/x79_fact_${math.abs(d.hashCode)}"
      AutoAnalyze.dropState(s, factDir)
      Snapshots.drop(s, factDir)
      AutoAnalyze.enable(factDir)
      val orders = Tables.load(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderpriority"), col("o_orderdate"))
      val cut0 = lit("1997-01-01").cast("timestamp")
      val cut1 = lit("1997-07-01").cast("timestamp")
      Snapshots.commit(
        orders.filter(col("o_orderdate") < cut0).drop("o_orderdate"), factDir)
      Snapshots.commitAppend(
        orders.filter(col("o_orderdate") >= cut0 && col("o_orderdate") < cut1)
          .drop("o_orderdate"), factDir, base = 1)
      val served = AutoAnalyze.stats(factDir).getOrElse(
        throw new IllegalStateException("hooked commits must leave stats"))
      val fresh = AutoAnalyze.isFresh(s, factDir)
      // x37's decision over the auto-maintained stats — zero manual
      // ANALYZE of the fact anywhere in this query
      val li = Tables.load(s, d, "lineitem").select(col("l_orderkey"))
      val (_, strategy) = Analyze.statsChosenJoin(
        li, StatsCatalog.stats(s, d, "lineitem"),
        Snapshots.readResolved(s, factDir), served.cols,
        col("l_orderkey") === col("o_orderkey"), maxBroadcastBytes = 10L << 20)
      // deletes are not foldable: the staleness verdict must flip
      Snapshots.commitDeletes(
        Snapshots.read(s, factDir).select(col("o_orderkey")).limit(1),
        factDir, base = 2)
      val staleDetected = !AutoAnalyze.isFresh(s, factDir)
      AutoAnalyze.disable(factDir)
      // exact NDV legs for the envelope only (x41/x36's audit shape)
      val profiled = served.cols.keys.toSeq.sorted
      val fact = Snapshots.readResolved(s, factDir, asOf = Some(2))
      val exact = fact.select(
        profiled.map(c => countDistinct(col(c)).as(s"nd_$c")): _*).collect().head
      val rows = profiled.map { c =>
        val st = served.cols(c)
        val nd = exact.getAs[Long](s"nd_$c")
        val ndvOk = math.abs(st.nDistinct.toDouble - nd) <=
          math.max(3 * AutoAnalyze.Rsd * nd, 8.0)
        (c, st.nRows, st.nNulls, st.minNum, st.maxNum, st.avgLen,
          ndvOk, fresh, strategy, staleDetected)
      }
      import s.implicits._
      rows.toDF("col_name", "n_rows", "n_nulls", "min_num", "max_num",
          "avg_len", "ndv_ok", "fresh", "strategy", "stale_detected")
        .orderBy(col("col_name"))
    }),


    // x80 — AUTO-STATS ON THE SQL SURFACE (the x54/x71/x74/x78
    // symmetry rule applied to x79: every engine artifact reachable
    // from pure SQL text): `auto_stats('<dir>')` binds the commit
    // hook's served summary — profiled fields + the freshness
    // verdict — so a pure-SQL audit (or an external planner) reads
    // what the hook maintains, zero data-sized jobs at bind time.
    // The script runs after a hooked base commit + delta fold; exact
    // fields replay from orders and fresh=TRUE pins the re-stamp.
    "x80_sql_auto_stats" -> ((s, d) => {
      import graft.sources.Snapshots
      import graft.ops.AutoAnalyze
      val factDir = s"target/x80_fact_${math.abs(d.hashCode)}"
      AutoAnalyze.dropState(s, factDir); Snapshots.drop(s, factDir)
      AutoAnalyze.enable(factDir)
      val orders = Tables.load(s, d, "orders").select(
        col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate"))
      val cut0 = lit("1997-01-01").cast("timestamp")
      val cut1 = lit("1997-07-01").cast("timestamp")
      Snapshots.commit(
        orders.filter(col("o_orderdate") < cut0).drop("o_orderdate"), factDir)
      Snapshots.commitAppend(
        orders.filter(col("o_orderdate") >= cut0 && col("o_orderdate") < cut1)
          .drop("o_orderdate"), factDir, base = 1)
      val out = graft.util.SqlRunner.runScriptWithSnapshots(s,
        s"""SELECT col_name, n_rows, n_nulls, min_num, max_num, fresh
           |FROM auto_stats('$factDir') ORDER BY col_name""".stripMargin).last
      AutoAnalyze.disable(factDir)
      out
    }),


    // x53 — HISTOGRAM-PLANNED FILTER JOIN: the stats→planner loop's
    // FOURTH decision, and the catalog's first HISTOGRAM consumer.
    // x42 answers probes DISJOINT with the committed [min,max]; the
    // real planning question is the overlapping ones — how much of
    // the fact does a BETWEEN keep, and is the filtered slice worth
    // broadcasting into the fact⋈fact join? Spark's static threshold
    // sizes files, so it cannot see a 4%-selective predicate; the
    // committed 16-bucket equi-depth histogram of o_totalprice
    // (exact order statistics — see StatsCatalog.equiDepth) answers
    // in integer SIXTEENTHS with zero plan-time jobs. The narrow
    // probe (est 0/16) broadcasts the filtered orders side under
    // lineitem's join; the wide one (est ~9/16) stays a shuffle
    // join. Both estimates AND both decisions are hash-pinned, the
    // oracle recomputes boundaries/estimates/verdicts from exact
    // SQL (ROW_NUMBER ranks → the same ceil(i·n/16) order
    // statistics), and the ±1-bucket equi-depth envelope plus the
    // > 2-bucket probe margins make the replay sound, not lucky —
    // x40's MG argument, histogram edition. PlanShapeSpec pins the
    // two plan shapes with the static threshold disabled.
    "x53_hist_planned_join" -> ((s, d) => {
      import graft.ops.{Analyze, StatsCatalog}
      val hist = StatsCatalog.stats(s, d, "orders")("o_totalprice")
        .histogram.get
      val probes = Seq(("narrow", X53NarrowLo, X53NarrowHi),
        ("wide", X53WideLo, X53WideHi))
      probes.map { case (label, lo, hi) =>
        val est16 = Analyze.histSelectivity16(hist, lo, hi)
        val li = Tables.load(s, d, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"))
        val fo = Tables.load(s, d, "orders")
          .filter(col("o_totalprice").between(lo, hi))
          .select(col("o_orderkey"))
        val (joined, strategy) = Analyze.histChosenJoin(
          li, fo, col("l_orderkey") === col("o_orderkey"),
          est16, X53MaxSixteenths)
        joined.agg(count(lit(1)).as("n_items"),
            dsum2(col("l_extendedprice")).as("sum_price"))
          .select(lit(label).as("probe"),
            lit(est16).as("est_sixteenths"), lit(strategy).as("strategy"),
            col("n_items"), col("sum_price"))
      }.reduce(_ unionByName _).orderBy(col("probe"))
    }),


    // x59 — CATALOG-DRIVEN SHUFFLE SIZING (the planner loop's sixth
    // decision, and the most operational knob it owns): choosing
    // spark.sql.shuffle.partitions is the first thing every Spark
    // job tunes by hand — too few partitions spill/OOM, too many
    // drown in task overhead, and AQE can coalesce or split-skew but
    // only from whatever initial count the plan asked for. The
    // catalog answers it with ZERO scans: est_bytes = rows × an
    // integer row width (8 per non-string column, floor(avg_len)+4
    // per string — x37's estBytes rule, integer-pinned so the oracle
    // replays it exactly), n_parts = clamp(ceil(est/target), 1,
    // [[X59MaxParts]]). The whole declared query is METADATA — the
    // driver-side summary plus the schema; `parts_applied` then
    // pins that a keyed exchange built with the decision really has
    // that partition count (a plan property, no job). Target is
    // [[X59TargetBytes]] at fixture scale standing in for the
    // production ~128 MiB. At 100 TB this is the difference between
    // one global partitions knob for every query and a per-exchange
    // size derived from what ANALYZE measured.
    "x59_stats_shuffle_plan" -> ((s, d) => {
      import org.apache.spark.sql.types.StringType
      Seq("lineitem", "orders").map { t =>
        val st = graft.ops.StatsCatalog.stats(s, d, t)
        val nRows = graft.ops.StatsCatalog.nRows(st)
        val schema = Tables.load(s, d, t).schema
        val width = schema.fields.map { f =>
          if (f.dataType == StringType)
            math.floor(st(f.name).avgLen.get).toLong + 4L
          else 8L
        }.sum
        val est = nRows * width
        val nParts = math.min(X59MaxParts.toLong, math.max(1L,
          (est + X59TargetBytes - 1) / X59TargetBytes)).toInt
        val applied = Tables.load(s, d, t)
          .repartition(nParts, col(schema.fields.head.name))
          .rdd.getNumPartitions == nParts
        s.range(1).select(lit(t).as("table_name"),
          lit(nRows).as("n_rows"), lit(width).as("width_bytes"),
          lit(est).as("est_bytes"), lit(nParts).as("n_parts"),
          lit(applied).as("parts_applied"))
      }.reduce(_ unionByName _).orderBy(col("table_name"))
    }),


    // x62 — PER-FILE BLOOM DATA-SKIPPING INDEX (Delta's bloom filter
    // index / Parquet column-bloom shape): the skipping case zone
    // maps CANNOT serve. The fact table is laid out by time
    // (month-partitioned orders — the universal 100 TB fact layout),
    // and the lookup column o_custkey is SCATTERED: every file's
    // [min,max] spans the whole key domain, so x19/x52-style zone
    // maps prune nothing. The index: ONE aggregate pass groups by
    // file and folds each file's keys into a Bloom filter — a
    // TypedImperativeAggregate, so map tasks emit bloom-sized
    // partial states, never keys; the landed index is n_files ×
    // filter bytes = MANIFEST-sized at any corpus size (at 100 TB it
    // rides in the write's manifest, the x21 pattern). A point
    // lookup probes the collected index on the DRIVER (zero jobs
    // over data), lists the surviving months, and reads ONLY those
    // partitions — partition pruning skips unlisted dirs, the exact
    // key filter is pushed to the surviving scans. False positives
    // cost extra files, never wrong rows (no false negatives), so
    // the aggregate is exact and the oracle is the plain filtered
    // SQL; n_true_files (months genuinely holding the key) rides in
    // the output to show per-key locality, and the hash match IS the
    // no-false-negative proof. Filter sizing follows the x38 rule:
    // capacity = the committed catalog's exact NDV of o_custkey (an
    // upper bound on any one file's key set; over-capacity only
    // lowers fpp), 16 bits/key ≈ 0.5% fpp — zero plan-time jobs.
    "x62_bloom_skip" -> ((s, d) => {
      import graft.sources.Snapshots
      import graft.functions.BloomContains
      // the ~80-dir month-partitioned layout is the committer-bound
      // prologue; the index build + probes below are the operator
      val dir = Fixtures.ensure(s, d, "x62_bloom",
          "orders month-partitioned v1") { fdir =>
        val orders = Tables.load(s, d, "orders")
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        Snapshots.commit(orders.repartition(col("o_month")), fdir,
          partitionBy = Seq("o_month"))
      }
      val cap = math.max(1000L,
        graft.ops.StatsCatalog.stats(s, d, "orders")("o_custkey").nDistinct)
      val idx = Snapshots.read(s, dir, Some(1))
        .groupBy(col("o_month"))
        .agg(BloomContains.bloomAgg(
          col("o_custkey").cast("long"), cap, cap * 16).as("bloom"))
        .collect() // manifest-sized: n_files × filter bytes
        .map(r => (r.getString(0), BloomContains.deserialize(r.getAs[Array[Byte]](1))))
      val nFiles = idx.length
      val keys = Seq(7L, 88L, 133L) // present at every fixture SF
      keys.map { k =>
        val hit = idx.collect { case (m, bf) if bf.mightContainLong(k) => m }.toIndexedSeq
        Snapshots.read(s, dir, Some(1))
          .filter(col("o_month").isin(hit: _*)) // partition pruning: skipped files never listed
          .filter(col("o_custkey") === k) // exact residual, pushed to the surviving scans
          .groupBy(col("o_custkey"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(28,2)")).cast("double").as("spend"),
            countDistinct(col("o_month")).as("n_true_files"))
          .withColumn("n_files", lit(nFiles.toLong))
          .withColumn("files_pruned", lit(hit.length < nFiles))
      }.reduce(_ unionByName _).orderBy(col("o_custkey"))
    }),


    // x57 — CATALOG-DRIVEN DETERMINISTIC RANGE PARTITIONER (the
    // histogram's SECOND consumer — x53 planned a join with it; x57
    // WRITES with it): Spark's repartitionByRange samples the data,
    // so its boundaries are neither bit-stable across runs nor free
    // (a sampling pass per write — writeShards documents the
    // consumers-must-reread-the-manifest consequence). The committed
    // 16-bucket equi-depth histogram IS a range partitioner: its
    // boundaries are exact order statistics, so shard = #boundaries
    // ≤ value is a zero-job, sample-free, run-stable assignment
    // (a codegen'd 15-element HOF probe per row — no range exchange,
    // no global sort, embarrassingly parallel) with balance
    // GUARANTEED by the equi-depth construction instead of hoped-for
    // from a sample. The layout commits one file per shard
    // (listing-checked) and the per-shard counts/bounds/keysums are
    // hash-pinned — the oracle recomputes the same boundaries from
    // ROW_NUMBER ranks, so a catalog drift breaks the hash. At
    // 100 TB this turns every delivery write into a deterministic,
    // repeatable layout whose balance came from ANALYZE, written
    // once, not re-sampled per job.
    "x57_hist_range_partition" -> ((s, d) => {
      import graft.sources.Snapshots
      val dir = freshSnapDir(s, d, "x57_snap")
      val bounds = graft.ops.StatsCatalog.stats(s, d, "orders")("o_totalprice")
        .histogram.get
      val laid = Tables.load(s, d, "orders")
        .filter(col("o_totalprice").isNotNull)
        .select(col("o_orderkey"), col("o_totalprice"))
        .withColumn("shard", size(filter(array(bounds.map(lit): _*),
          b => col("o_totalprice") >= b)).cast("int"))
      Snapshots.commit(laid.repartition(col("shard")), dir,
        partitionBy = Seq("shard"))
      val oneFile = Snapshots.filesPerDir(s, dir, 1).values.forall(_ == 1)
      Snapshots.read(s, dir, Some(1))
        .groupBy(col("shard").cast("int").as("shard"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_totalprice")).as("min_v"),
          max(col("o_totalprice")).as("max_v"),
          sum(col("o_orderkey")).as("keysum"))
        .withColumn("one_file_per_shard", lit(oneFile))
        .orderBy(col("shard"))
    }),


    // x42 — CATALOG-PRUNED SCAN (segment elimination at table
    // granularity): before planning a range probe, consult the
    // shared stats catalog's committed [min, max] for the column —
    // a probe DISJOINT with the domain compiles to a literal empty
    // result with NO scan in the plan (PlanShapeSpec pins exactly
    // one FileScan for the two probes together), the x21 zone-map
    // move lifted from shard manifests to the catalog, decided with
    // zero plan-time jobs. The pruned verdict is hash-pinned AND
    // cross-checked: the engine derives it from the CATALOG, the
    // oracle recomputes it from SOURCE min/max — a catalog serving
    // stale bounds flips the column. At 100 TB this is the
    // difference between touching a corpus to learn a predicate is
    // vacuous and answering from metadata.
    "x42_catalog_prune" -> ((s, d) => {
      val st = graft.ops.StatsCatalog.stats(s, d, "orders")("o_totalprice")
      val probes = Seq(("disjoint", X42OutLo, X42OutHi),
        ("in_range", X42InLo, X42InHi))
      probes.map { case (label, lo, hi) =>
        val overlaps = st.minNum.exists(_ <= hi) && st.maxNum.exists(_ >= lo)
        if (!overlaps)
          s.range(1).select(lit(label).as("probe"), lit(true).as("pruned"),
            lit(0L).as("n_rows"), lit(null).cast("double").as("sum_price"))
        else
          Tables.load(s, d, "orders")
            .filter(col("o_totalprice").between(lo, hi))
            .agg(count(lit(1)).as("n_rows"),
              dsum2(col("o_totalprice")).as("sum_price"))
            .select(lit(label).as("probe"), lit(false).as("pruned"),
              col("n_rows"), col("sum_price"))
      }.reduce(_ unionByName _).orderBy(col("probe"))
    }),


    // x43 — STATS-ORDERED STAR JOIN: the catalog's third planning
    // decision (x37 chose a broadcast side, x40 a skew strategy —
    // this one chooses JOIN ORDER). The lineitem fact joins its two
    // dimensions smallest-estimated-first (supplier before part, per
    // the catalog's row counts — the greedy CBO heuristic: the most
    // selective dim shrinks the intermediate before wider rows ride
    // through it), each dim broadcast under the x37 byte rule, with
    // ZERO plan-time jobs. The chosen order is hash-pinned in the
    // output and the oracle replays it from source counts; the plan
    // nesting itself (supplier innermost) is pinned by
    // PlanShapeSpec, and AnalyzeSpec proves the nesting follows the
    // STATS by feeding statsOrderedJoin lying stats.
    "x43_stats_join_order" -> ((s, d) => {
      import graft.ops.{Analyze, StatsCatalog}
      val li = Tables.load(s, d, "lineitem")
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"))
      val part = Tables.load(s, d, "part")
        .select(col("p_partkey"), col("p_brand"))
      val supp = Tables.load(s, d, "supplier")
        .select(col("s_suppkey"), col("s_nationkey"))
      val (joined, order) = Analyze.statsOrderedJoin(li, Seq(
        ("part", part, StatsCatalog.stats(s, d, "part"),
          col("l_partkey") === col("p_partkey")),
        ("supplier", supp, StatsCatalog.stats(s, d, "supplier"),
          col("l_suppkey") === col("s_suppkey"))))
      joined.groupBy(col("p_brand"), col("s_nationkey"))
        .agg(count(lit(1)).as("n_items"),
          dsum2(col("l_extendedprice")).as("sum_price"))
        .select(col("p_brand"), col("s_nationkey"), col("n_items"),
          col("sum_price"), lit(order).as("join_order"))
        .orderBy(col("p_brand"), col("s_nationkey"))
    }),


    // x37 — the ANALYZE→PLANNER loop closed: the first planning
    // decision the engine makes FROM its own committed statistics.
    // Both join inputs' stats come from the SHARED catalog
    // (ops.StatsCatalog: ANALYZE profiles each fixture table ONCE,
    // commits the rows as a Snapshots version under one canonical
    // dir, and serves planners from the driver-side summary — write
    // once, read many; x38's sketch sizing and x40's skew verdict
    // read the same catalog, so no consumer re-profiles per query).
    // The broadcast side of the declared customer⋈nation join is
    // chosen from the catalog row counts + widths
    // (ops.Analyze.statsChosenJoin), not Spark's static file-size
    // threshold — PlanShapeSpec pins that the hint alone produces
    // the BroadcastHashJoin even with the static threshold disabled.
    // The chosen side is PART OF THE OUTPUT, and the oracle replays
    // the row-count comparison from source, so the planning decision
    // itself is hash-checked. At 100 TB file size routinely
    // mis-sizes a narrow projection of a wide table; stats size the
    // join input.
    "x37_stats_planned_join" -> ((s, d) => {
      import graft.ops.{Analyze, StatsCatalog}
      val cust = Tables.load(s, d, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_name"),
          col("c_acctbal"))
      val nat = Tables.load(s, d, "nation")
        .select(col("n_nationkey"), col("n_name"))
      val (joined, chosen) = Analyze.statsChosenJoin(
        cust, StatsCatalog.stats(s, d, "customer"),
        nat, StatsCatalog.stats(s, d, "nation"),
        col("c_nationkey") === col("n_nationkey"),
        maxBroadcastBytes = 10L << 20)
      joined.groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
          sum(col("c_acctbal").cast("decimal(28,2)")).cast("double")
            .as("sum_bal"))
        .select(col("n_name"), col("n_cust"), col("sum_bal"),
          lit(chosen).as("broadcast_side"))
        .orderBy(col("n_name"))
    }),


    // x38 — RUNTIME-FILTER JOIN (Bloom-pruned fact⋈dim): the general-
    // join form of d9's membership-prune pattern. The filtered dim
    // (one customer segment) collapses its join keys into a
    // model-sized Bloom sketch built once on the driver; the orders
    // FACT is pruned by a codegen'd graft_bloom_contains probe
    // NARROWLY — inside the scan's WholeStageCodegen, BEFORE the join
    // exchange (PlanShapeSpec pins the probe under the shuffle) — so
    // only ~selectivity × |fact| rows are ever hashed/shuffled. Bloom
    // false positives survive the prune but not the exact equi join
    // that follows, so the result is exact and the oracle is the
    // plain join-aggregate. At 100 TB this is the difference between
    // shuffling the full fact table and shuffling the dimension's
    // actual match set: the sketch is bounded by the DIM cardinality
    // (model-sized, fpp a build knob), rides to every task as a plan
    // constant, and the prune costs one hash probe per row in codegen
    // — the DPP/runtime-row-filter pattern declared as an operator.
    // Sketch SIZING comes from the committed stats catalog (the
    // second consumer of x37's ANALYZE loop): capacity = the
    // catalog's exact NDV of c_custkey — an upper bound on the keys
    // any filtered dim slice can hold, read from the driver-side
    // summary with ZERO pre-jobs. The round-8 form ran dim.count()
    // per plan construction (a second full dim scan) just to size
    // the sketch; over-capacity only LOWERS the false-positive rate,
    // and FPs never reach the output (the exact join removes them),
    // so the hash is unchanged by construction.
    "x38_bloom_join" -> ((s, d) => {
      val dim = Tables.load(s, d, "customer")
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      val nDim = graft.ops.StatsCatalog.stats(s, d, "customer")("c_custkey").nDistinct
      val bf = dim.stat.bloomFilter("c_custkey", math.max(1000L, nDim), 0.01)
      val fact = Tables.load(s, d, "orders")
        .select(col("o_custkey"), col("o_totalprice"))
        .filter(graft.functions.BloomContains.contains(col("o_custkey"), bf))
      fact.join(dim, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(28,2)")).cast("double")
            .as("spend"))
        .orderBy(col("c_custkey"))
    }),


    // x40 — SKEW-PLANNED JOIN: the stats→planner loop's SECOND (and
    // harder) decision. x37 chose a broadcast side from catalog row
    // counts; here the planner reads the catalog's HEAVY-HITTER
    // share of the probe-side join key (Misra–Gries candidates +
    // exact recount, landed by ANALYZE — x10/x15's machinery in the
    // stats table) and chooses between the plain shuffle join and
    // x23's salted rewrite (Analyze.skewChosenJoin) with ZERO
    // data-scanning jobs at plan time. l_returnflag is the engine's
    // maximal-skew key (top value ≈ half the fact — a plain shuffle
    // join funnels it through one reducer) → "salted";  the same
    // verdict for l_orderkey (top share ~1e-4) → "shuffle" rides in
    // the output, so ONE hashed result shows the strategy flipping
    // on the stats. The oracle replays both verdicts from exact SQL
    // — sound because the decision threshold exceeds MG's 1/(k+1)
    // guarantee line (see Analyze.SkewShareThreshold's contract).
    // SkewSpec/AnalyzeSpec pin the two plan shapes; at 100 TB this
    // is the call AQE cannot make for non-SMJ shapes and static
    // Spark cannot make at all.
    "x40_skew_planned_join" -> ((s, d) => {
      import graft.ops.{Analyze, StatsCatalog}
      val liStats = StatsCatalog.stats(s, d, "lineitem")
      def share(c: String) = liStats(c).top1Share.getOrElse(0.0)
      val li = Tables.load(s, d, "lineitem")
      val dim = li.groupBy(col("l_returnflag"))
        .agg(dsum2(col("l_extendedprice")).as("flag_total"))
      val (joined, flagChoice) = Analyze.skewChosenJoin(
        li.select(col("l_orderkey"), col("l_returnflag")), dim,
        "l_returnflag", share("l_returnflag"),
        shards = 8, tieBreak = "l_orderkey")
      val orderkeyChoice =
        if (share("l_orderkey") >= Analyze.SkewShareThreshold) "salted"
        else "shuffle"
      joined.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), max(col("flag_total")).as("flag_total"))
        .select(col("l_returnflag"), col("n_rows"), col("flag_total"),
          lit(flagChoice).as("flag_choice"),
          lit(orderkeyChoice).as("orderkey_choice"))
        .orderBy(col("l_returnflag"))
    }),

    // x114 — RUNTIME (AQE-CLASS) SKEW HANDLING: x40 decides from the
    // CATALOG's heavy-hitter share, which is only as good as the last
    // ANALYZE — a stale profile (or a table never profiled) sends the
    // hot key through one reducer with a clear conscience. Production
    // engines also read the shuffle's RUNTIME map-output statistics;
    // this query states that path declaratively: a deliberately
    // LYING catalog claims l_returnflag is uniform (share 0.0 — the
    // static rule says plain shuffle), the runtime probe measures the
    // planned shuffle's per-partition weights from the key column
    // alone (one pruned pass folding to 32 rows — the
    // mapOutputStatistics stand-in, hashed with the engine's
    // reproducible hash so the verdict replays in SQL) and OVERRIDES:
    // the hot flag partition carries ≥ 51/256 of the rows → salted.
    // The same probe on l_orderkey measures ~8/256 (uniform) → plain
    // shuffle, so one hashed result shows the runtime verdict
    // flipping on measured weight, with both shares data-derived and
    // oracle-replayed (never pinned literals). At 100 TB this is the
    // re-plan AQE performs for sort-merge joins, available to every
    // shape the engine plans — and it costs one metadata-sized read
    // where the real shuffle's statistics already exist.
    "x114_runtime_skew_join" -> ((s, d) => {
      import graft.ops.Analyze
      val li = Tables.load(s, d, "lineitem")
      val dim = li.groupBy(col("l_returnflag"))
        .agg(dsum2(col("l_extendedprice")).as("flag_total"))
      // the stale catalog's claim: uniform key → static says shuffle
      val staleShare = 0.0
      val staticChoice =
        if (staleShare >= Analyze.SkewShareThreshold) "salted" else "shuffle"
      val (joined, runtimeChoice, flagShare256) = Analyze.runtimeSkewJoin(
        li.select(col("l_orderkey"), col("l_returnflag")), dim,
        "l_returnflag", shards = 8, tieBreak = "l_orderkey")
      val okShare256 = Analyze.shuffleSkewProbe256(
        li.select(col("l_orderkey")), "l_orderkey")
      val okChoice =
        if (okShare256 >= Analyze.RuntimeSkewThreshold256) "salted"
        else "shuffle"
      joined.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"), max(col("flag_total")).as("flag_total"))
        .select(col("l_returnflag"), col("n_rows"), col("flag_total"),
          lit(flagShare256).as("flag_share256"),
          lit(runtimeChoice).as("flag_choice"),
          lit(staticChoice).as("stale_catalog_choice"),
          lit(runtimeChoice == "salted" && staticChoice == "shuffle")
            .as("runtime_overrode"),
          lit(okShare256).as("orderkey_share256"),
          lit(okChoice).as("orderkey_choice"))
        .orderBy(col("l_returnflag"))
    })
  )

  val oracles: Map[String, String] = Map(

    // Each column's stats stated directly, one SELECT per column —
    // the same union-of-legs shape as the Spark plan, so the hash
    // pins exact NDV, null accounting, and the length division.
    "x34_table_stats" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(l_orderkey) AS n_nulls,
        |    COUNT(DISTINCT l_orderkey) AS n_distinct,
        |    CAST(MIN(l_orderkey) AS DOUBLE) AS min_num,
        |    CAST(MAX(l_orderkey) AS DOUBLE) AS max_num,
        |    CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str,
        |    CAST(NULL AS DOUBLE) AS avg_len
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
        |    COUNT(DISTINCT l_quantity),
        |    MIN(l_quantity), MAX(l_quantity), NULL, NULL, NULL
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
        |    COUNT(DISTINCT l_returnflag), NULL, NULL,
        |    MIN(l_returnflag), MAX(l_returnflag),
        |    CAST(SUM(length(l_returnflag)) AS DOUBLE) / COUNT(l_returnflag)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
        |    COUNT(DISTINCT l_shipdate),
        |    CAST(epoch_us(MIN(l_shipdate)) AS DOUBLE),
        |    CAST(epoch_us(MAX(l_shipdate)) AS DOUBLE), NULL, NULL, NULL
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin,


    // x36: exact counts/NDV stated from source; the sketch never
    // reaches the compared output — its 3σ bound verdict does, as a
    // literal-true column (x1's envelope pattern)
    "x36_table_stats_hll" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(l_orderkey) AS n_nulls,
        |    COUNT(DISTINCT l_orderkey) AS n_distinct, true AS ndv_ok
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
        |    COUNT(DISTINCT l_quantity), true
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
        |    COUNT(DISTINCT l_returnflag), true
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_shipdate', COUNT(*), COUNT(*) - COUNT(l_shipdate),
        |    COUNT(DISTINCT l_shipdate), true
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin,


    // x37: the join-aggregate stated plainly, PLUS the planning
    // decision replayed from source — the fewer-rows side is the
    // broadcast side ("right" = nation), so a planner that stopped
    // consulting the stats (or a stats pipeline feeding it garbage)
    // flips a hash-pinned column
    "x37_stats_planned_join" ->
      """SELECT n_name, COUNT(*) AS n_cust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,2))) AS DOUBLE) AS sum_bal,
        |  CASE WHEN (SELECT COUNT(*) FROM nation) <=
        |            (SELECT COUNT(*) FROM customer)
        |       THEN 'right' ELSE 'left' END AS broadcast_side
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,


    // x43: the star-join aggregate stated plainly; the join order
    // replayed from source row counts (smallest dim first) — a
    // planner that stops consulting the catalog, or a catalog
    // mis-counting a dimension, flips a hash-pinned column
    "x43_stats_join_order" ->
      """SELECT p_brand, s_nationkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
        |    AS sum_price,
        |  CASE WHEN (SELECT COUNT(*) FROM supplier) <=
        |            (SELECT COUNT(*) FROM part)
        |       THEN 'supplier,part' ELSE 'part,supplier' END AS join_order
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_nationkey
        |ORDER BY p_brand, s_nationkey""".stripMargin,


    // x41: the merged stats' exact fields stated as the one-shot
    // recompute over the full table (the stats-merge identity); the
    // sketch estimate stays behind its literal-true envelope verdict
    "x41_incremental_analyze" ->
      """SELECT * FROM (
        |  SELECT 'l_orderkey' AS col_name, COUNT(*) AS n_rows,
        |    COUNT(*) - COUNT(l_orderkey) AS n_nulls,
        |    CAST(MIN(l_orderkey) AS DOUBLE) AS min_num,
        |    CAST(MAX(l_orderkey) AS DOUBLE) AS max_num,
        |    COUNT(DISTINCT l_orderkey) AS n_distinct, true AS ndv_ok
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
        |    CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
        |    COUNT(DISTINCT l_returnflag), true
        |  FROM lineitem)
        |ORDER BY col_name""".stripMargin,


    // x79: the auto-maintained stats' exact fields restated as a
    // one-shot recompute over the fact's resolved rows (base ∪ Δ =
    // < 1997-07-01) — the stats-merge identity BY VALUE; ndv_ok /
    // fresh / strategy / stale_detected are the contract verdicts
    // (an unfired hook, a wrong fold, a mis-sized broadcast, or a
    // silently-served post-delete state each flips one).
    "x79_auto_analyze" -> {
      val arms = Seq("o_custkey" -> true, "o_orderkey" -> true,
          "o_orderpriority" -> false, "o_totalprice" -> true)
        .map { case (c, numeric) =>
          val mn = if (numeric) s"CAST(MIN($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val mx = if (numeric) s"CAST(MAX($c) AS DOUBLE)" else "CAST(NULL AS DOUBLE)"
          val al = if (numeric) "CAST(NULL AS DOUBLE)"
            else s"CAST(SUM(strlen($c)) AS DOUBLE) / COUNT($c)"
          s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
    COUNT(*) - COUNT($c) AS n_nulls, $mn AS min_num, $mx AS max_num,
    $al AS avg_len, TRUE AS ndv_ok, TRUE AS fresh,
    'right' AS strategy, TRUE AS stale_detected
  FROM f""" }
        .mkString("\n  UNION ALL\n  ")
      s"""WITH f AS (SELECT * FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-07-01')
SELECT * FROM (
  $arms)
ORDER BY col_name"""
    },


    // x80: x79's exact-field replay, read back through the pure-SQL
    // auto_stats binding — a binding serving stale or wrong fields
    // breaks the values; an un-re-stamped fold flips fresh.
    "x80_sql_auto_stats" -> {
      val arms = Seq("o_custkey", "o_orderkey", "o_totalprice").map { c =>
        s"""SELECT '$c' AS col_name, COUNT(*) AS n_rows,
    COUNT(*) - COUNT($c) AS n_nulls,
    CAST(MIN($c) AS DOUBLE) AS min_num, CAST(MAX($c) AS DOUBLE) AS max_num,
    TRUE AS fresh
  FROM f""" }.mkString("\n  UNION ALL\n  ")
      s"""WITH f AS (SELECT * FROM orders
           WHERE o_orderdate < TIMESTAMP '1997-07-01')
SELECT * FROM (
  $arms)
ORDER BY col_name"""
    },


    // x42: the surviving probe's aggregate stated plainly; BOTH
    // pruned verdicts recomputed from source min/max (the engine
    // derives them from the catalog — the hash cross-checks the
    // catalog's bounds against the data)
    "x42_catalog_prune" ->
      s"""WITH pr AS (SELECT MIN(o_totalprice) AS mn, MAX(o_totalprice) AS mx
         |            FROM orders)
         |SELECT 'disjoint' AS probe,
         |  NOT (mn <= $X42OutHi AND mx >= $X42OutLo) AS pruned,
         |  CAST(0 AS BIGINT) AS n_rows, CAST(NULL AS DOUBLE) AS sum_price
         |FROM pr
         |UNION ALL
         |SELECT 'in_range',
         |  NOT (mn <= $X42InHi AND mx >= $X42InLo),
         |  (SELECT COUNT(*) FROM orders
         |   WHERE o_totalprice BETWEEN $X42InLo AND $X42InHi),
         |  (SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
         |   FROM orders WHERE o_totalprice BETWEEN $X42InLo AND $X42InHi)
         |FROM pr
         |ORDER BY probe""".stripMargin,


    // x53: the filter-join aggregates stated plainly, PLUS the
    // equi-depth boundaries / selectivity estimates / strategy
    // verdicts recomputed from exact SQL — boundary i is the value
    // at ROW_NUMBER rank ceil(i·n/16) in o_totalprice order, the
    // identical order statistic the catalog's GlobalIndex pass
    // takes, and the estimate is the same integer boundary count.
    // A catalog serving a stale or wrong histogram flips the
    // hash-pinned est/strategy columns.
    "x53_hist_planned_join" ->
      s"""WITH $HistBoundsCte,
         |probes(probe, lo, hi) AS (VALUES
         |  ('narrow', $X53NarrowLo, $X53NarrowHi),
         |  ('wide', $X53WideLo, $X53WideHi)),
         |est AS (SELECT p.probe, p.lo, p.hi,
         |    CAST((SELECT COUNT(*) FROM bounds WHERE b <= p.hi) -
         |         (SELECT COUNT(*) FROM bounds WHERE b < p.lo) AS INT)
         |      AS est_sixteenths
         |  FROM probes p),
         |agg AS (SELECT e.probe, COUNT(*) AS n_items,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |      AS sum_price
         |  FROM est e
         |  JOIN orders o ON o.o_totalprice BETWEEN e.lo AND e.hi
         |  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
         |  GROUP BY e.probe)
         |SELECT e.probe, e.est_sixteenths,
         |  CASE WHEN e.est_sixteenths <= $X53MaxSixteenths
         |       THEN 'broadcast' ELSE 'shuffle' END AS strategy,
         |  a.n_items, a.sum_price
         |FROM est e JOIN agg a USING (probe)
         |ORDER BY probe""".stripMargin,


    // x59: rows/width/est/parts restated from the data with the same
    // integer arithmetic (FLOOR over the identical IEEE division for
    // avg_len; 1 MiB ceil-div; LEAST/GREATEST clamp); literal true
    // pins the plan-property check.
    "x59_stats_shuffle_plan" ->
      s"""WITH li AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(72 + 4 + FLOOR(SUM(LENGTH(l_returnflag)) * 1.0
         |                        / COUNT(l_returnflag))
         |            + 4 + FLOOR(SUM(LENGTH(l_linestatus)) * 1.0
         |                        / COUNT(l_linestatus)) AS BIGINT)
         |      AS width_bytes
         |  FROM lineitem),
         |ord AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(32 + 4 + FLOOR(SUM(LENGTH(o_orderstatus)) * 1.0
         |                        / COUNT(o_orderstatus))
         |            + 4 + FLOOR(SUM(LENGTH(o_orderpriority)) * 1.0
         |                        / COUNT(o_orderpriority)) AS BIGINT)
         |      AS width_bytes
         |  FROM orders),
         |t AS (SELECT 'lineitem' AS table_name, n_rows, width_bytes FROM li
         |      UNION ALL SELECT 'orders', n_rows, width_bytes FROM ord)
         |SELECT table_name, n_rows, width_bytes,
         |  n_rows * width_bytes AS est_bytes,
         |  CAST(LEAST($X59MaxParts, GREATEST(1,
         |    (n_rows * width_bytes + ${X59TargetBytes - 1}) // $X59TargetBytes))
         |    AS INT) AS n_parts,
         |  true AS parts_applied
         |FROM t ORDER BY table_name""".stripMargin,


    // x62: the plain filtered aggregate — a Bloom false NEGATIVE
    // would drop orders and break this hash, so the match is the
    // index-soundness proof; n_true_files restates per-key month
    // locality, n_files the total file count, and the TRUE literal
    // pins that the index skipped at least one file per key.
    "x62_bloom_skip" ->
      """WITH f AS (
        |  SELECT COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_files
        |  FROM orders)
        |SELECT o_custkey,
        |  COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS spend,
        |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_true_files,
        |  (SELECT n_files FROM f) AS n_files,
        |  TRUE AS files_pruned
        |FROM orders WHERE o_custkey IN (7, 88, 133)
        |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,


    // x57: the shard assignment replayed from the recomputed exact
    // boundaries (count of b <= value); literal true pins the
    // one-file-per-shard layout the Spark side listing-checks.
    "x57_hist_range_partition" ->
      s"""WITH $HistBoundsCte,
         |sh AS (SELECT o_orderkey, o_totalprice,
         |    CAST((SELECT COUNT(*) FROM bounds
         |          WHERE b <= o.o_totalprice) AS INT) AS shard
         |  FROM orders o WHERE o_totalprice IS NOT NULL)
         |SELECT shard, COUNT(*) AS n_rows,
         |  MIN(o_totalprice) AS min_v, MAX(o_totalprice) AS max_v,
         |  CAST(SUM(o_orderkey) AS BIGINT) AS keysum,
         |  true AS one_file_per_shard
         |FROM sh GROUP BY shard ORDER BY shard""".stripMargin,


    // x40: the join-aggregate stated plainly, PLUS both skew
    // verdicts replayed from EXACT top-1 shares — sound because the
    // threshold sits above MG's 1/(k+1) line, so the catalog's
    // sketch-then-recount share makes the same call exact SQL does
    // (above threshold: MG provably holds the true top value; below:
    // an under-report cannot cross the line). A planner that stops
    // consulting the stats, or a stats pipeline feeding it garbage,
    // flips a hash-pinned column.
    "x40_skew_planned_join" ->
      s"""WITH flag AS (
         |  SELECT l_returnflag, COUNT(*) AS n_rows,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |      AS flag_total
         |  FROM lineitem GROUP BY l_returnflag),
         |s1 AS (SELECT CAST(MAX(n_rows) AS DOUBLE) / SUM(n_rows) AS share
         |       FROM flag),
         |s2 AS (SELECT CAST(MAX(c) AS DOUBLE) / SUM(c) AS share
         |       FROM (SELECT COUNT(*) AS c FROM lineitem GROUP BY l_orderkey)),
         |thr AS (SELECT ${graft.ops.Analyze.SkewShareThreshold} AS t)
         |SELECT f.l_returnflag, f.n_rows, f.flag_total,
         |  CASE WHEN s1.share >= thr.t THEN 'salted' ELSE 'shuffle' END
         |    AS flag_choice,
         |  CASE WHEN s2.share >= thr.t THEN 'salted' ELSE 'shuffle' END
         |    AS orderkey_choice
         |FROM flag f, s1, s2, thr
         |ORDER BY f.l_returnflag""".stripMargin,


    // x114: both runtime shares replayed from the SAME reproducible
    // hash partitioning (md5-hash60 mod 32, integer parts-per-256);
    // the choices and the override derive from the replayed shares —
    // nothing about the verdict is a pinned literal except the lying
    // catalog's own claim
    "x114_runtime_skew_join" ->
      s"""WITH fp AS (
         |  SELECT CAST(('0x' || substr(md5('skw|' || l_returnflag), 1, 15))
         |    AS BIGINT) % 32 AS p
         |  FROM lineitem),
         |fs AS (SELECT CAST(MAX(n) * 256 // SUM(n) AS INT) AS s
         |       FROM (SELECT COUNT(*) AS n FROM fp GROUP BY p) t),
         |op AS (
         |  SELECT CAST(('0x' || substr(md5('skw|' || l_orderkey::VARCHAR), 1, 15))
         |    AS BIGINT) % 32 AS p
         |  FROM lineitem),
         |os AS (SELECT CAST(MAX(n) * 256 // SUM(n) AS INT) AS s
         |       FROM (SELECT COUNT(*) AS n FROM op GROUP BY p) t),
         |flag AS (
         |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         |      AS flag_total
         |  FROM lineitem GROUP BY l_returnflag)
         |SELECT f.l_returnflag, f.n_rows, f.flag_total,
         |  fs.s AS flag_share256,
         |  CASE WHEN fs.s >= ${graft.ops.Analyze.RuntimeSkewThreshold256}
         |       THEN 'salted' ELSE 'shuffle' END AS flag_choice,
         |  'shuffle' AS stale_catalog_choice,
         |  fs.s >= ${graft.ops.Analyze.RuntimeSkewThreshold256}
         |    AS runtime_overrode,
         |  os.s AS orderkey_share256,
         |  CASE WHEN os.s >= ${graft.ops.Analyze.RuntimeSkewThreshold256}
         |       THEN 'salted' ELSE 'shuffle' END AS orderkey_choice
         |FROM flag f, fs, os
         |ORDER BY f.l_returnflag""".stripMargin,

    // the Bloom prune is exact after the equi join: plain aggregate
    "x38_bloom_join" ->
      """SELECT c_custkey, c_name, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(28,2))) AS DOUBLE) AS spend
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY c_custkey, c_name
        |ORDER BY c_custkey""".stripMargin
  )
}
