package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scale smoke for the dedup/ANN families: synthesize a factor-F
  * corpus from a fixture dir (duplicate + perturb — the fixtures
  * themselves are never touched), run the bucketed-join queries at 1×
  * and F×, and report wall-times next to CANDIDATE-PAIR counts.
  *
  * The claim under test (SCALE.md): candidate generation is
  * O(collisions), bounded by bucket density — so when the corpus
  * grows F×, candidates and runtime grow ~F×, not F². Perturbation
  * suffixes every word with the copy number, so copies share no
  * shingles / token hashes / n-grams across copy spaces — corpus
  * structure replicates (near-dup DENSITY constant), the clean
  * near-linear-growth null hypothesis. Embeddings get one dimension
  * nudged per copy (distinct vectors, same geometry).
  *
  * Usage: runMain graft.ScaleSmoke [baseDir] [factor] [outDir]
  * Emits one JSON line per measured dir:
  *   {"dir":…,"times":{q:sec,…},"dedup":{…counts},"ann":{…counts}}
  */
object ScaleSmoke {

  private val Queries = Seq(
    "d1_dedup_exact", "d2_dedup_jaccard", "d3_dedup_minhash",
    "d8_dedup_hamming", "d9_decontaminate", "d11_decontaminate_fuzzy",
    "v7_knn_ivf_learned", "v8_knn_ivf_probe2", "v10_knn_lsh",
    "v11_knn_sq8", "v12_knn_ivfpq", "t13_stratified_sample",
    "x15_heavy_hitters_grouped", "x16_global_shuffle",
    "t16_boilerplate", "t17_perplexity", "d12_span_dedup",
    "v14_semdedup", "t19_dsir_weights", "t20_gopher_rules",
    "t21_profile", "t22_ccnet_buckets", "t23_weighted_sample",
    // t27 runs t20's gate pass over the F×-scaled corpus (one scan,
    // narrow maps) and the heap shuffle carries survivors only
    "t27_gated_sample",
    "x19_zorder_layout", "v18_mmr_rerank", "d13_containment",
    "t24_nfc_normalize", "v19_radius_search", "s6_enrich_events",
    "d14_phash_dedup", "v20_ivf_append", "m3_frame_dedup",
    // v26 pays ONE exact retrain over the F×-scaled post-drift
    // corpus (the verdict-gated rebuild price — the loop's whole
    // point is paying it only when drift demands), the two-table txn
    // commit, and the nprobe/k-bounded probe; the verdict itself is
    // metadata-sized at any F (v25's counts)
    "v26_retrain_loop",
    "t25_repetition", "x25_pipeline_snapshot", "x26_compaction_exec",
    "x27_deletion_vectors", "x28_partition_overwrite", "x29_vacuum",
    "s7_at_least_once_dedup", "v21_knn_join", "t26_strip_invisible",
    "x31_schema_evolution",
    "x32_write_audit_publish", "x33_log_changes",
    // x34/x36 read only lineitem (scaled F×: rows and l_orderkey NDV
    // both grow F× under id-offset copies); x35 joins scaled
    // orders⋈lineitem with F× key cardinality in the merge state
    "x34_table_stats", "x35_ivm_join", "x36_table_stats_hll",
    // x38's fact (orders) scales F×; customer rides verbatim — the
    // dim-bounded sketch vs growing-fact contract under test
    "x38_bloom_join",
    // x40 reads only lineitem (fact F×, 3-row dim derived from it);
    // the catalog ANALYZE of the scaled dir is part of its first-run
    // cost — the honest write-once price
    "x40_skew_planned_join",
    // x41 merges two F×-scaled partition states (sketch union is
    // register-wise max — state size constant while rows grow F×);
    // x42 reads scaled orders, probes the same totalprice domain
    // (copies don't change o_totalprice, so the disjoint probe stays
    // catalog-pruned at any F); x43 is exempt like x37 — it reads
    // part/supplier dims the generator does not carry
    "x41_incremental_analyze", "x42_catalog_prune",
    // x79 pays the F×-scaled base commit + delta append (the write
    // price other rows share) PLUS exactly two hook profiles: one
    // full scan of the landed base, one O(Δ) scan of the delta —
    // the fold itself is a columns-sized sketch merge at any F
    "x79_auto_analyze",
    // v22's candidate set is the label-filtered corpus (~F×/10 rows
    // per label under verbatim labels) against a fixed query set
    "v22_filtered_topk",
    // v23's legs both scan the F×-scaled corpus (BM25 postings over
    // documents, cosine over embeddings); fusion stays O(L) at any F
    "v23_hybrid_rrf",
    // x44 commits the F×-scaled docs twice (the write cost scales);
    // the clone itself is one metadata entry at any F
    "x44_zero_copy_clone",
    // x45 stages the F×-scaled corpus three times (half + dead-writer
    // + refresh — the write cost scales); the atomic commit point is
    // ONE marker create and repair is two entry rewrites at any F
    "x45_multi_table_txn",
    // x46 commits the F×-scaled corpus twice and aggregates it on the
    // two misses; the replay hit is a metadata listing + a
    // result-sized read at any F
    "x46_result_cache",
    // v24 commits the F×-scaled assignments table (the write scales)
    // plus the model-sized centroids; the probe scans nprobe/k of the
    // committed corpus, same curve as v8
    "v24_index_persist",
    // x47 splits + commits the F×-scaled corpus (predicate scan +
    // write scale; the ~30% quarantine share is F-invariant under
    // verbatim n_chars)
    "x47_constrained_commit",
    // q34's daily rollup absorbs the F× order volume; the window then
    // walks the calendar-sized daily frame (constant in F)
    "q34_range_window",
    // q35's Expand triples the F×-scaled mapper rows before ONE hash
    // aggregate (map-side partials) — the exchange still carries only
    // per-level group cardinalities; q36 is one conditional aggregate
    // over the same scan (3-row output at any F). q37 is deliberately
    // absent: its data-sized work IS q36's (the unpivot is a Generate
    // over q36's 3 rows)
    "q35_rollup", "q36_pivot",
    // q38's three decorrelated subqueries are joins over ONE grouped
    // pass of the F×-scaled orders against the verbatim customer dim
    // — the curve must follow the fact scan, never cust×fact
    "q38_subqueries",
    // q39's one window spec = one key shuffle + per-key sorts over
    // the F×-scaled orders; q40's null-safe join probes the F×/50
    // slice against a 4-row broadcast probe set (linear by design)
    "q39_positional_window", "q40_null_semantics",
    // x49 commits the F×-scaled corpus three times (write scales);
    // checkpoint + prune are entry-count-sized metadata at any F
    "x49_log_checkpoint",
    // k21's per-seed BFS state is (seeds × reached) pairs over the
    // F×-scaled date-windowed graph with a FIXED-K seed sample
    // (HcSeedK hash-ranked nodes — |seeds| is 32 at any F), so state
    // grows K·n linearly — the r9 `% 3` rule grew it quadratically
    "k21_harmonic_closeness",
    // k24 runs min-label clustering over the F×-scaled one-week
    // windowed bipartite graph (k15's frame — O(log diameter) rounds,
    // per-round bounded shuffle); the histogram output is bounded by
    // distinct component sizes at any F
    "k24_component_sizes",
    // x50 rewrites the F×-scaled 3-version history — cost is
    // history-sized BY DESIGN (the honest GDPR price the operator
    // exists to state); the purge set stays fixed
    "x50_purge_history",
    // x76 pays x50's history rewrite on the source PLUS each derived
    // artifact's own size: group-cardinality MV partials, one
    // result-sized cache entry, the data-sized assignment rewrite
    // (one row per source row — the honest propagation price), and a
    // catalog-sized stats re-land; the exposure scans re-read every
    // version once
    "x76_purge_propagation",
    // s8's outer join scans the F×-scaled events on both sides;
    // user-keyed shuffle, time-banded state — s3's curve plus the
    // unmatched-purchase null rows
    "s8_outer_interval_join",
    // x48 commits the F×-scaled corpus under both layouts (the write
    // scales); layout metadata and pruning are directory-count-sized
    "x48_partition_evolution",
    // x51's changeset derives from the F×-scaled orders (window +
    // join scale); the merge's full-outer join is fact-vs-dim —
    // customer rides verbatim, so the copy-on-write output is
    // dim-bounded at any F (x38's fact-grows/dim-doesn't contract)
    "x51_merge_into",
    // x52 z-ranks the F×-scaled events (range exchange scales; the
    // first run pays the scaled dir's ANALYZE, x40's honest
    // write-once price); zone maps stay 16 rows and the box read
    // scans ~p·files of the scaled layout at any F
    "x52_zorder_exec",
    // x54 commits the F×-scaled balance table twice (the write
    // scales); the snapshot_at binding is per-reference metadata and
    // the pinned reads scan what x24 would
    "x54_sql_time_travel",
    // x55 commits the F×-scaled base once and the delta twice
    // (unsorted append + OPTIMIZE re-land — the writes scale with
    // the CHURN); zone maps stay 32 rows and the box reads scan
    // ~p·files at any F
    "x55_incremental_zorder",
    // x85 pays the F×-scaled fragmented commit + ONE round-robin
    // exchange into the target file count (the whole-table rewrite
    // price — linear by construction); the change-feed probe is an
    // empty-by-metadata read
    "x85_sql_optimize",
    // x86 is x52's curve behind the statement surface: one stats
    // aggregate (min/max+count in one row) + one global z-rank range
    // exchange + the 16-slice colocated commit over F× rows
    "x86_sql_zorder",
    // x90 is deliberately absent: its data-sized work IS x45's (two
    // staged table writes + marker decide, measured there); the
    // statement route adds only driver-side parsing
    // x89 is deliberately absent: its data-sized work IS x50's purge
    // physics (history-sized rewrite, measured under the governance
    // family); the statement route adds driver-side parsing and the
    // checkout is a file copy, zero Spark jobs
    // x88 is deliberately absent: its data-sized work IS x85's (the
    // same fragmented fixture commit + one grouped scan, measured
    // above); the table_files binding itself is a manifest-sized
    // listing — zero data jobs at any F
    // x87 pays one F×-scaled projection commit (CTAS v1) + one
    // F×-scaled append (the O(Δ) insert — delta-sized write, base
    // untouched) + the resolved-union aggregate
    "x87_sql_ctas_insert",
    // x57 probes each F×-scaled order against the 15 committed
    // boundaries (narrow codegen HOF — no range exchange, no
    // sampling pass) + one hash colocation shuffle for the write;
    // first run pays the scaled dir's orders ANALYZE
    "x57_hist_range_partition",
    // x58's arm evaluation scans the F×-scaled changeset against the
    // verbatim dim (x51's curve), but the WRITES are delta-sized —
    // a key DV + new images — instead of x51's copy-on-write output
    "x58_merge_on_read",
    // x60 adds one predicate pass + a churn-sized quarantine write +
    // one txn marker on top of x51's merge — the gate's marginal
    // cost over the same F× changeset
    "x60_gated_merge",
    // x61 commits the F×-scaled balance table twice (x54's write
    // curve); the restore itself is ONE metadata entry at any F and
    // the feed diff is a full-outer join of the two key-sized states
    "x61_restore",
    // x62 commits the F×-scaled month-partitioned orders (the write
    // dominates) + one bloom-sized index aggregate; the probe is a
    // driver pass over a CONSTANT file count (months don't grow with
    // F) and the three point reads scan only surviving partitions
    "x62_bloom_skip",
    // x64 is ONE scan of the F×-scaled orders folding two theta
    // sketches (sketch-sized exchange, never keys); the set algebra
    // after it is scalar — time must follow the scan, nothing else
    "x64_sketch_set_algebra",
    // x66 commits the F×-scaled fact + builds the MV (both scale —
    // the write-once price); the REWRITTEN query is MV-sized at any
    // F, which is the operator's whole claim. x68 pays a second
    // fact commit and its declined query re-scans the F×-scaled
    // fact — the honest staleness price. x67 is deliberately
    // absent: its data-sized work IS x66's (same fact commit + MV
    // build; the rollup re-aggregates the group-cardinality MV)
    "x66_mv_rewrite", "x68_mv_staleness",
    // x69 commits the F×-scaled orders under the month×bucket layout
    // (the write scales; directory count does NOT — months are
    // calendar-fixed and buckets declared); the pruned read lists
    // the same ≤36 directories at any F and scans only their files.
    // x71 is deliberately absent: its data-sized work IS x69's (the
    // same layout commit); the hidden_table binding is per-reference
    // metadata resolved at bind time
    "x69_hidden_partitioning",
    // x72's three anti-join legs: two broadcast (map-side over the
    // F×-scaled facts, dims verbatim) and one fact↔fact key shuffle
    // — the curve follows the fact scans
    "x72_fk_audit",
    // x70 pays x66's fact commit + MV build, then an F×-scaled DELTA
    // append + the refresh fold (delta scan + MV-sized full-outer
    // merge — the fact's history is never re-read); the served query
    // is MV-sized at any F
    "x70_mv_refresh",
    // x73 builds the filtered MV over the F×-scaled orders (one
    // filtered aggregate — the write-once price); the defining probe
    // is MV-sized, the refused wider probe honestly re-scans F×.
    // x74 is deliberately absent: metadata-only BY CONSTRUCTION (its
    // data-sized work IS x61/x63's balance commits, measured above;
    // the history binding reads the manifest-sized log, zero data
    // files at any F)
    "x73_filtered_mv",
    // x77 builds the unfiltered (priority,status) MV over the
    // F×-scaled orders (one aggregate pass — the write-once price);
    // the served probe filters the group-cardinality partials
    // (constant-size at any F, the containment payoff) and the
    // refused value-column probe honestly re-scans F×
    "x77_mv_containment",
    // x78 pays x70's lifecycle THROUGH THE SQL SURFACE (fact commit,
    // DDL-built MV = one aggregate pass, F×-scaled delta append,
    // refresh fold) PLUS the post-DROP consumer's honest F×-scaled
    // fact re-scan — the drop probe's price is exactly x68's
    // staleness-fallback curve
    "x78_sql_mv_ddl",
    // x75 pays x66's fact commit + TWO MV builds (both one-pass
    // aggregates over the F×-scaled fact); the cost-ordered choice
    // is a driver-side manifest read and the served query re-
    // aggregates the 5-row narrow view at any F
    "x75_mv_choice",
    // x63/x65 are deliberately absent: their data-sized work IS
    // x61's (the same two balance commits, measured above);
    // TIMESTAMP AS OF resolution — Scala or SQL-bound — is a driver
    // pass over the manifest-sized log
    // x59 is deliberately absent: it is metadata-only BY CONSTRUCTION
    // (PlanShapeSpec pins zero compute jobs) — there is nothing
    // data-sized to measure beyond the one-time ANALYZE other rows pay
    // v25 is deliberately absent: its data-sized work IS v20's
    // append assignment (measured above, shared Derived index);
    // the drift math after it is two model-sized aggregates
    // v29 is deliberately absent: its data-sized work is k probes of
    // v8's shape over the same session-shared index (each nprobe/k of
    // the corpus, measured above via v7/v8) against a validation-
    // sized truth set — run once per retrain generation, never per query
    // v28 is deliberately absent: its data-sized work IS v12's
    // (same two trained indexes + ADC scan, measured above); the
    // refine stage joins R=10 rows per query against the corpus by
    // id — lookup-sized at any F
    // v30 is deliberately absent from the TIMED rows: its data-sized
    // work is the blocked build pair join, measured as DIAGNOSTICS
    // instead (annCandidateDiagnostics: v30_pairs_k_fixed vs
    // v30_pairs_k_scaled — the same linear-vs-quadratic contrast as
    // v14/v21's columns; at 100 TB the build blocks at the
    // knnJoinClusters scale rule, blocks ∝ n) plus v30_walk_touched
    // (the beam walk's whole candidate set — beam·m·rounds per query,
    // corpus-independent by construction, NswSpec pins the bound)
    // v27 is deliberately absent: its data-sized work IS v8's
    // (same learned index, measured above); the eligibility join is
    // assignment-partitioned and the probe scans nprobe/k of the
    // FILTERED corpus — strictly less than v8's scan at any F
    // x80 is deliberately absent: its data-sized work IS x79's (the
    // same hooked commit + fold, measured above); the auto_stats
    // binding reads the driver-side summary — zero jobs at any F
    // x81 is deliberately absent: its data-sized work IS x61's (the
    // same two balance commits); restore is one metadata entry,
    // vacuum a log-sized delete decision, both zero data jobs at any F
    // x82 is deliberately absent: its data-sized work IS x51's (the
    // same changeset derivation + four-arm merge + OCC commit,
    // measured above via x51); the MERGE statement route adds only
    // driver-side parsing and the snapshot_at read-back
    // x83 is deliberately absent: its data-sized work IS x27's (the
    // same corpus commit + churn-sized DV write + anti-join resolved
    // reads); the DELETE statement route adds only driver-side
    // parsing — the predicate runs inside the same one-pass filter
    // x84 is deliberately absent: it reads the verbatim customer
    // dimension this generator keeps unscaled (the x30/x37/x39
    // contract — a 10× row would measure nothing); its physics are
    // x58's staged-DV + append pair over churn-sized images
    // x56 is deliberately absent: its data-sized work IS x33's
    // (measured above) — the table_changes binding adds only a
    // per-reference metadata rewrite, so a second row would time the
    // same commits twice and claim nothing new
    // x30, q33 and x37 are deliberately absent: all read dimensions
    // (customer/nation) this generator keeps verbatim (see the
    // customer note in generate()) — a 10× row would measure nothing
    // (SCALE.md r7) — and q33's registerAll additionally needs the
    // full fixture catalog, which the scaled dir does not carry
    // graph family over the scaled orders⋈lineitem co-purchase graph
    // (copies are id-offset ⇒ F disjoint subgraphs: density constant,
    // rounds constant, per-round shuffle rows must grow ~F)
    "k11_pagerank", "k14_label_prop", "k15_components", "k16_kcore",
    "k17_node_similarity", "k18_shortest_paths", "x23_salted_join",
    "k19_personalized_pagerank",
    // k4 owns the chunk-blocked pair join that materializes the
    // shared Derived edge intermediate; k20 runs AFTER it in the
    // same dir pass, so its timing is the operator's true MARGINAL
    // cost over the shared edges (one further groupBy + marginals) —
    // the session shape, where k4/k12/k20 amortize one pair join.
    // Copy-suffixed words give each copy a disjoint vocabulary, so
    // the pair rows (chunks × c² — the linear quantity) replicate
    // F×; x39 reads the verbatim customer dimension — exempt like
    // x30/x37
    "k4_kg_edges", "k20_edge_lift",
    // r19 (VERDICT item 8): the graph-ANN walk family at 10× — the
    // r18 lineage cuts materialize beam·queries rows per round
    // (corpus-independent), so the walk's DRIVER cost must stay flat
    // while build/scoring task time grows ~F. v30 rides with its
    // build; v38/v39 share the layered descent (Derived), so v39's
    // row is the marginal persisted-serve cost.
    "v30_graph_ann", "v38_hnsw_descent", "v39_hnsw_persisted",
    // k23 runs AFTER k4 in the same dir pass: its timing is the
    // marginal cost over the shared Derived edges — one union-all
    // degree groupBy + one degree-cardinality-sized histogram groupBy
    "k23_degree_histogram",
    // k22 runs AFTER k21 in the same dir pass: its timing is the
    // marginal cost over the shared Derived BFS distances (the
    // k4/k20 amortization shape) — a hop-table aggregate + two
    // broadcast scalars
    "k22_effective_diameter")

  def main(args: Array[String]): Unit = {
    val base = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val out = if (args.length > 2) args(2) else "target/scale_smoke"
    val spark = Session.local()

    val scaled = s"$out/x$factor"
    generate(spark, base, scaled, factor)

    // factor > 10 breaks the verbatim-customer key-range invariant
    // (see generate()): s6's join hit-rate would silently change, so
    // the customer-joining query is excluded rather than measured wrong
    val all =
      if (factor > 10) Queries.filterNot(_ == "s6_enrich_events") else Queries
    // Dev-iteration subset (SPARK_GRAFT_ONLY, see Session.only):
    // measure just the selected queries; corpus-level candidate
    // diagnostics are skipped too — they are unrelated to a
    // named-query timing run
    val smokeOnly = Session.only()
    val measured = smokeOnly.fold(all)(all.filter)
    // Subset runs lack the full sweep's amortized warm-up, so their
    // FIRST timing would charge JVM/codegen bring-up to the base dir
    // (measured: 10.4 s cold vs <1 s warm for the same query) — run
    // each subset query once untimed before the measured passes
    if (smokeOnly.isDefined)
      measured.foreach { q =>
        try SparkEntry.queries(q)(spark, base)
          .write.mode("overwrite").format("noop").save()
        catch { case _: Throwable => () }
      }
    for (dir <- Seq(base, scaled)) {
      queries.Derived.invalidate(spark)
      spark.catalog.clearCache()
      val times = measured.map { q =>
        val t0 = System.nanoTime()
        val err = try {
          SparkEntry.queries(q)(spark, dir)
            .write.mode("overwrite").format("noop").save(); None
        } catch { case e: Throwable => Some(obs.Failure.describe(e)) }
        (q, (System.nanoTime() - t0) / 1e9, err)
      }
      // a diagnostics failure must not discard the wall-times already
      // measured for this dir — degrade to an error marker instead
      def diag(f: => Map[String, Long]): Either[String, Map[String, Long]] =
        try Right(f) catch { case e: Throwable => Left(obs.Failure.describe(e)) }
      def unlessOnly(f: => Map[String, Long]): Map[String, Long] =
        if (smokeOnly.isEmpty) f else Map.empty
      val dedup = diag(unlessOnly(queries.DedupQ.candidateDiagnostics(spark, dir)))
      val ann = diag(unlessOnly(queries.VectorQ.annCandidateDiagnostics(spark, dir)))
      val graph = diag(unlessOnly(queries.KgQ.graphDiagnostics(spark, dir)))
      def jmap(m: Seq[(String, Any)]): String =
        m.map { case (k, v) => s"\"" + k + "\":" + v }.mkString("{", ",", "}")
      def jdiag(d: Either[String, Map[String, Long]]): String = d match {
        case Right(m) => jmap(m.toSeq.sortBy(_._1))
        case Left(e) => s"""{"error":${util.Jsons.quote(e)}}"""
      }
      println(
        s"""{"dir":"$dir","times":${jmap(times.map(t => t._1 -> t._2))},""" +
          s""""errors":${jmap(times.collect { case (q, _, Some(e)) => q -> util.Jsons.quote(e) })},""" +
          s""""dedup":${jdiag(dedup)},"ann":${jdiag(ann)},"graph":${jdiag(graph)}}""")
    }
    spark.stop()
  }

  /** Write factor-F copies of documents + embeddings under `out`
    * (skipped only if the SAME base+factor were already generated —
    * a marker from a different base would silently measure the wrong
    * corpus). Copy 0 is verbatim; copy i > 0 offsets ids by i·n and
    * makes the content copy-distinct. */
  def generate(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    // the verbatim customer table only covers the copied events'
    // user_id range for factor ≤ 10 (see the comment at the customer
    // write below); past that, copied rows silently miss the
    // dimension and change s6's join hit-rate — make the bound
    // executable, not a comment
    if (factor > 10)
      System.err.println(s"[scale-smoke] WARNING factor=$factor > 10: copied " +
        "event user_ids exceed the verbatim customer key range — " +
        "customer-joining queries (s6) are excluded from this run")
    val done = new java.io.File(s"$out/_GENERATED")
    val stamp = s"base=$base factor=$factor tables=docs,embs,events,orders,lineitem,customer\n"
    if (done.exists() &&
      java.nio.file.Files.readString(done.toPath) == stamp) return
    val docs = Tables.load(spark, base, "documents")
    val nDocs = docs.agg(max(col("doc_id"))).head.getAs[Number](0).longValue + 1
    val docCopies = (0 until factor).map { i =>
      if (i == 0) docs
      else {
        // suffix every word: copies share no shingles across copy spaces
        val t = regexp_replace(col("text"), "(\\S+)", "$1_" + i)
        docs.select(
          (col("doc_id") + lit(i * nDocs)).as("doc_id"),
          t.as("text"),
          col("lang"), col("source"),
          // keep the fixture invariant n_chars == length(text)
          length(t).cast("long").as("n_chars"))
      }
    }
    docCopies.reduce(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/documents.parquet")
    val embs = Tables.load(spark, base, "embeddings")
    val nVecs = embs.agg(max(col("vec_id"))).head.getAs[Number](0).longValue + 1
    val embCopies = (0 until factor).map { i =>
      if (i == 0) embs
      else embs.select(
        (col("vec_id") + lit(i * nVecs)).as("vec_id"),
        transform(col("embedding"),
          (x, idx) => when(idx === 0, x + lit(i * 0.001f)).otherwise(x))
          .cast("array<float>").as("embedding"),
        col("label"))
    }
    embCopies.reduce(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    // events: offset ids per copy; time/bucket distributions replicate
    // (x19's zone-map density stays constant while rows grow F×)
    val ev = Tables.load(spark, base, "events")
    val nEv = ev.agg(max(col("event_id"))).head.getAs[Number](0).longValue + 1
    val nUsers = ev.agg(max(col("user_id"))).head.getAs[Number](0).longValue + 1
    val evCopies = (0 until factor).map { i =>
      if (i == 0) ev
      else ev.withColumn("event_id", col("event_id") + lit(i * nEv))
        .withColumn("user_id", col("user_id") + lit(i * nUsers))
    }
    evCopies.reduce(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/events.parquet")
    // orders + lineitem: id-offset copies (orderkey/custkey/suppkey
    // shift together, dates unchanged) → the customer–supplier
    // co-purchase graph becomes F disjoint copies of the base graph:
    // node/edge counts grow F×, degree distribution and diameter are
    // UNCHANGED, so the iterative family's round counts hold and the
    // per-round shuffle rows are the linear quantity under test.
    val ord = Tables.load(spark, base, "orders")
    val li = Tables.load(spark, base, "lineitem")
    val nOrd = ord.agg(max(col("o_orderkey"))).head.getAs[Number](0).longValue + 1
    val nCust = ord.agg(max(col("o_custkey"))).head.getAs[Number](0).longValue + 1
    val nSupp = li.agg(max(col("l_suppkey"))).head.getAs[Number](0).longValue + 1
    val ordCopies = (0 until factor).map { i =>
      if (i == 0) ord
      else ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * nOrd))
        .withColumn("o_custkey", col("o_custkey") + lit(i * nCust))
    }
    ordCopies.reduce(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    val liCopies = (0 until factor).map { i =>
      if (i == 0) li
      else li.withColumn("l_orderkey", col("l_orderkey") + lit(i * nOrd))
        .withColumn("l_suppkey", col("l_suppkey") + lit(i * nSupp))
    }
    liCopies.reduce(_ unionByName _)
      .repartition(8)
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    // customer rides along VERBATIM: it is s6's bounded dimension —
    // the operator's scale story is precisely "stream grows F×, dim
    // stays model-sized" — and the id-offset user copies still land
    // inside the base key range for factor ≤ 10 (1500·F ≤ 15000), so
    // every copied event finds its segment.
    Tables.load(spark, base, "customer")
      .write.mode("overwrite").parquet(s"$out/customer.parquet")
    done.getParentFile.mkdirs()
    java.nio.file.Files.writeString(done.toPath, stamp): Unit
  }
}
