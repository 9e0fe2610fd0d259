package graft
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times full materialization of every declared query.
  *
  * Output contract (driver-parsed):
  *  - stdout gets ONE SHORT headline line `{"metric":"total","value":N,
  *    "unit":"sec","sf":…}` — short so tail-capture can never truncate it
  *    mid-line (the per-query map for 70 queries is ~2 KB and was cut twice).
  *  - The full per-query detail (times, errors, re-timed outliers) goes to
  *    the SPARK_GRAFT_BENCH_OUT file (default bench_out.json), one line,
  *    same headline fields plus "queries", "counters" and "errors".
  *
  * `SPARK_GRAFT_ONLY` (see [[Session.only]]) times a subset: a
  * fresh-JVM repro of one query, or a profile of it through its
  * first-pass "counters" (jobs, stages, tasks, executor ms, shuffle
  * bytes, planning ms, exchanges).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()
    val counters = graft.obs.QueryCounters.install(spark)
    // Materialize EVERY column, not just a count: under count() Catalyst
    // prunes projections (e.g. k1's array_join text assembly) and the
    // timing understates real cost. The `noop` datasource fully
    // evaluates each row and discards it — the write-shaped measurement
    // without disk noise.
    def materialize(fn: (SparkSession, String) => DataFrame): Unit =
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
    // A failing query must not bench as ~0s (a regression would read as a
    // speedup): record the error and exclude it from the total.
    // First-touch ledger: which shared Derived keys were first built
    // INSIDE this query's timing (Derived.buildsSince) — the charge
    // moves between runs when retime-set membership moves (v24 read
    // 1.3 s warm vs 2.9 s paying the learned-index training, round
    // 13), so the detail JSON names the payer and a per-query move
    // can be read as attribution vs drift without a repro run.
    val firstTouch = scala.collection.mutable.Map[String, Seq[String]]()
    def timeOne(name: String, fn: (SparkSession, String) => DataFrame): (Double, Option[String]) = {
      val c0 = graft.queries.Derived.buildCount
      val t0 = System.nanoTime()
      val r = try { materialize(fn); ((System.nanoTime() - t0) / 1e9, None) }
      catch { case e: Throwable => ((System.nanoTime() - t0) / 1e9, Some(graft.obs.Failure.describe(e))) }
      val built = graft.queries.Derived.buildsSince(c0)
      if (built.nonEmpty)
        firstTouch(name) = (firstTouch.getOrElse(name, Seq.empty) ++ built).distinct
      r
    }
    // Untimed warmup: absorb scheduler/codegen/JIT startup so the
    // first timed query isn't charged for session bring-up.
    SparkEntry.queries.get("q1_pricing_summary")
      .foreach(fn => try materialize(fn) catch { case _: Throwable => })
    spark.catalog.clearCache()
    // Contention calibration probe: a fixed CPU-bound job (no IO, no
    // shuffle skew, constant work) timed before and after the sweep.
    // Its cost can only drift if the HOST drifted — so a >2× spread
    // marks the whole run `contended` and the JSON carries its own
    // credibility signal (r4's driver run was a flat ~+2 s/query vs
    // the same-code clean run; this field makes that detectable
    // without a second run to compare against).
    def probe(): Double = {
      import org.apache.spark.sql.functions.{sum => fsum, col => fcol}
      val t0 = System.nanoTime()
      spark.range(20L * 1000 * 1000).select(fsum(fcol("id")))
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    // IO probe — the CPU probe's blind spot (r13: the driver sweep ran
    // 1.30× the same-code builder sweep with every CPU probe quiet;
    // the inflation tracked the ~333 MB of fixture-state writes, i.e.
    // IO/page-cache pressure, which a pure-compute probe cannot see).
    // Fixed work: write a fresh 32 MB file (new name per call — never
    // served from cache), fsync it through to the device, read it
    // back, delete it. Its cost drifts only if the host's IO path
    // drifted, so it carries the same segment-median contention rule
    // as the CPU probe.
    val ioProbeDir = java.nio.file.Paths.get("target/bench_ioprobe")
    java.nio.file.Files.createDirectories(ioProbeDir)
    val ioBuf = new Array[Byte](1 << 20)
    new java.util.Random(42).nextBytes(ioBuf)
    var ioSeq = 0
    def ioProbe(): Double = {
      ioSeq += 1
      val f = ioProbeDir.resolve(s"probe_$ioSeq.bin")
      val t0 = System.nanoTime()
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.WRITE)
      try {
        var i = 0
        while (i < 32) { ch.write(java.nio.ByteBuffer.wrap(ioBuf)); i += 1 }
        ch.force(true) // through the page cache — the contended path
      } finally ch.close()
      val in = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.READ)
      try {
        val rb = java.nio.ByteBuffer.allocate(1 << 20)
        var n = 0L
        var r = in.read(rb)
        while (r >= 0) { n += r; rb.clear(); r = in.read(rb) }
        require(n == 32L << 20, s"io probe short read: $n")
      } finally in.close()
      java.nio.file.Files.deleteIfExists(f)
      (System.nanoTime() - t0) / 1e9
    }
    probe() // untimed: absorb the probe plan's own codegen
    ioProbe() // untimed: absorb allocator/dir warmup
    val probeBefore = math.min(probe(), probe())
    val ioProbeBefore = math.min(ioProbe(), ioProbe())
    // Mid-sweep probe log: the endpoint-only probe missed r5's
    // mid-run host drift (k14 read 27.7 s driver vs 7.4 s clean while
    // both endpoints were quiet). Probing every ProbeEvery queries
    // makes per-SEGMENT drift visible, and `contended` now marks a
    // run where ANY segment drifted >2× from the best probe — the
    // JSON carries which segment, so an inflated query can be matched
    // to the contention window that inflated it.
    val ProbeEvery = 20
    val probeLog = scala.collection.mutable.ArrayBuffer[Double](probeBefore)
    val ioProbeLog = scala.collection.mutable.ArrayBuffer[Double](ioProbeBefore)
    // Storage-memory occupancy at each probe checkpoint (MB of cached
    // blocks): the r10 q-cluster regression ran right after the
    // k-family filled the shared Derived persist cache, and the
    // timing probes alone can't separate "host drift" from "cache
    // pressure". This rides in the detail JSON so an inflated segment
    // can be matched to the occupancy it ran under.
    def storageMb(): Long =
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / (1024 * 1024)
    val storageLog = scala.collection.mutable.ArrayBuffer[Long](storageMb())
    val only = Session.only()
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_(n)) }
    // Per-query Spark counters of the first pass; the bus drains in
    // reset()/read() run outside the timed region.
    val firstCounts = scala.collection.mutable.Map[String, String]()
    val firstPass = selected.zipWithIndex.map { case ((name, fn), i) =>
      // min-of-two per checkpoint (the endpoints' rule): a single
      // probe inherits the GC debt of whatever heavy query just
      // finished and reads as fake host drift; the min of two
      // back-to-back probes is the steady-state cost
      if (i > 0 && i % ProbeEvery == 0) {
        probeLog += math.min(probe(), probe())
        ioProbeLog += math.min(ioProbe(), ioProbe())
        storageLog += storageMb()
      }
      counters.reset()
      val (sec, err) = timeOne(name, fn)
      firstCounts(name) = counters.read()
        .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
      (name, sec, err)
      // Shared derived tables (queries.Derived) stay cached across
      // queries — the production shape: the KG/dedup derivations are
      // materialized once and every query reads them, exactly like
      // the reference's ingested warehouse tables.
    }
    // This VM's single-run timings are heavy-tailed (same binary measured
    // 95s and 484s): re-time the slowest queries once more in the same
    // JVM and report the min, so one host-level stall can't masquerade
    // as a query regression.
    // Retime set = the slowest N (their absolute seconds dominate the
    // total) UNION every query whose first-pass time exceeds
    // RETIME_FACTOR × the per-query median (heavy-tailed stalls hit
    // cheap queries too — r3 measured q6 at 7× its steady-state time
    // and the top-8 cut missed it; a median-relative cut is
    // self-calibrating, no history file needed).
    val retimeN = sys.env.getOrElse("SPARK_GRAFT_RETIME_N", "8").toInt
    val retimeFactor = sys.env.getOrElse("SPARK_GRAFT_RETIME_FACTOR", "4").toDouble
    val ok = firstPass.filter(_._3.isEmpty)
    val median = if (ok.isEmpty) 0.0
      else ok.map(_._2).sorted.apply(ok.size / 2)
    val slowest = (ok.sortBy(-_._2).take(retimeN).map(_._1) ++
      ok.filter(_._2 > retimeFactor * median).map(_._1)).toSet
    // Drop every shared derived table before re-timing: otherwise the
    // retime runs fully warm, min() replaces the one timing that
    // charged the derivation, and a derivation-cost regression would
    // vanish from the reported total. After the reset the retime pass
    // rebuilds (and re-shares) the derivations exactly like the first
    // pass did.
    graft.queries.Derived.invalidate(spark)
    spark.catalog.clearCache()
    val results = firstPass.map {
      case (name, sec, None) if slowest(name) =>
        val (sec2, err2) = timeOne(name, SparkEntry.queries(name))
        if (err2.isEmpty) (name, math.min(sec, sec2), None) else (name, sec, None)
      case r => r
    }
    // v6's declared query carries its agrees-exact envelope (the
    // decimal-exact twin runs INSIDE it), so its sweep time measures
    // the twin, not the showcased single-pass-centroid fast path.
    // Time the fast path alone as a supplemental field so the bench
    // narrative is a measurement, not prose. Full-sweep runs only —
    // a SPARK_GRAFT_ONLY debug subset skips it.
    val v6FastOnly = if (only.isEmpty)
      Some(timeOne("v6_fast_only", (s, d) => graft.queries.ExtQ.v6FastPath(s, d))._1)
    else None
    // Same pattern for x36: the declared query is audit mode (sketch
    // + exact envelope legs); the production sketch-only single-scan
    // plan is timed as its own field so the mode split is measured.
    val x36ProdOnly = if (only.isEmpty)
      Some(timeOne("x36_prod_only", (s, d) => graft.queries.ExtQ.x36SketchOnly(s, d))._1)
    else None
    val probeAfter = math.min(probe(), probe())
    probeLog += probeAfter
    val ioProbeAfter = math.min(ioProbe(), ioProbe())
    ioProbeLog += ioProbeAfter
    storageLog += storageMb()
    // First-pass contention verdict (rule below): decided NOW so a
    // contended sweep can SELF-HEAL by re-timing the inflated
    // queries under quiet probes instead of shipping the bad number
    // (the r7 driver sweep read 534 s against a 193 s clean builder
    // run and had to be graded from the snapshot).
    val endSpread0 = probeAfter / math.max(probeBefore, 1e-9)
    val mids0 = probeLog.slice(1, probeLog.length - 1)
    val ioMids0 = ioProbeLog.slice(1, ioProbeLog.length - 1)
    def midSpreadOf(ms: scala.collection.Seq[Double]): Double =
      if (ms.size < 3) 1.0 else {
        val med = ms.sorted.apply(ms.size / 2)
        ms.max / math.max(med, 1e-9)
      }
    // the IO probe rides its own endpoint + segment-median tests: a
    // run whose compute probes are quiet but whose IO path drifted
    // (r13's failure mode) is now first_pass_contended too. IO is
    // noisier than compute, so its thresholds sit higher (3× ends,
    // 2.5× mids — calibrated against quiet-host spreads of ~1.3×).
    val ioEndSpread0 = ioProbeAfter / math.max(ioProbeBefore, 1e-9)
    val firstPassContended = endSpread0 > 2.0 || midSpreadOf(mids0) > 2.0 ||
      ioEndSpread0 > 3.0 || midSpreadOf(ioMids0) > 2.5
    // AUTO-RETIME: when the first pass self-reports contended, re-time
    // the suspect queries — every query in a segment whose mid probe
    // drifted >2× off the mid median, plus the slowest
    // max(2·retimeN, 16) (their absolute seconds dominate the total)
    // — under fresh bracketing probes. min() per query keeps the
    // better measurement, so a quiet retime phase replaces exactly
    // the host-inflated numbers and the sweep heals itself; the JSON
    // keeps the first-pass verdict and the retimed set as evidence.
    val (finalResults, autoRetimed, retimeProbes) =
      if (!firstPassContended || only.isDefined) (results, Seq.empty[String], None)
      else {
        val midMed =
          if (mids0.isEmpty) 0.0 else mids0.sorted.apply(mids0.size / 2)
        val ioMidMed =
          if (ioMids0.isEmpty) 0.0 else ioMids0.sorted.apply(ioMids0.size / 2)
        // a segment is suspect if EITHER its compute probe or its IO
        // probe jumped off the segment median — r13's inflation was
        // IO-only and the compute-only rule missed every segment
        val driftedSegs = (mids0.zipWithIndex.collect {
          case (p, j) if midMed > 0 && p > 2.0 * midMed => j
        } ++ ioMids0.zipWithIndex.collect {
          case (p, j) if ioMidMed > 0 && p > 2.5 * ioMidMed => j
        }).distinct
        // mid j sits after query (j+1)·ProbeEvery: suspect both
        // adjacent segments
        val segSuspects = driftedSegs.flatMap { j =>
          val hi = (j + 2) * ProbeEvery
          val lo = j * ProbeEvery
          results.slice(lo, hi).map(_._1)
        }.toSet
        val ok2 = results.filter(_._3.isEmpty)
        val suspects = segSuspects ++
          ok2.sortBy(-_._2).take(math.max(2 * retimeN, 16)).map(_._1)
        graft.queries.Derived.invalidate(spark)
        spark.catalog.clearCache()
        val rb = math.min(probe(), probe())
        val iorb = math.min(ioProbe(), ioProbe())
        val healed = results.map {
          case (name, sec, None) if suspects(name) =>
            val (s2, e2) = timeOne(name, SparkEntry.queries(name))
            if (e2.isEmpty) (name, math.min(sec, s2), None) else (name, sec, None)
          case r => r
        }
        val ra = math.min(probe(), probe())
        val iora = math.min(ioProbe(), ioProbe())
        (healed, suspects.toSeq.sorted, Some((rb, ra, iorb, iora)))
      }
    // Two comparisons, never mixed: endpoints against each other, and
    // each mid-sweep probe against the mid-sweep MEDIAN. Mid-sweep
    // probes run inside a JVM carrying cached derived tables + GC
    // pressure, so they sit at a uniformly higher baseline than the
    // clean-heap endpoints (measured ~3×) — comparing them to the
    // endpoint min would flag every healthy run. Host drift shows as
    // a SEGMENT jumping away from its peers (r5's k14 window), which
    // the median test catches; a whole-run slowdown shows in the
    // endpoint spread.
    // Asymmetric on purpose: the probe is CPU-bound, so 158 queries of
    // JIT tier-up can only make the after-probe FASTER than the cold
    // before-probe (r7 measured 0.154 -> 0.076 s on an idle host, and
    // the old symmetric [0.5, 2.0] band read that healthy warm-up as
    // `contended` — the exact driver/builder disagreement the rule
    // exists to prevent). Host contention can only SLOW the probe, so
    // only the >2x direction is evidence of drift.
    // FINAL verdict: an auto-retimed run is judged by its RETIME
    // phase's bracketing probes (both warm, slowdown-only) — the
    // healed numbers were measured there; without a heal pass the
    // first-pass verdict stands.
    val contended = retimeProbes match {
      case Some((rb, ra, iorb, iora)) =>
        ra / math.max(rb, 1e-9) > 2.0 || iora / math.max(iorb, 1e-9) > 3.0
      case None => firstPassContended
    }
    val probeSegs = probeLog.map(p => f"$p%.3f").mkString("[", ",", "]")
    val ioProbeSegs = ioProbeLog.map(p => f"$p%.3f").mkString("[", ",", "]")
    val storageSegs = storageLog.mkString("[", ",", "]")
    // the decision rule rides IN the JSON so a driver run and a
    // builder run can never disagree about what `contended` means on
    // identical probe data
    val contendedRule = "endpoints are min-of-2 cold probes, mids are " +
      "min-of-2 mid-sweep probes; first_pass_contended iff " +
      "after/before > 2.0 (slowdown only: the probe is CPU-bound, so " +
      "JIT warm-up makes the after probe faster on a healthy host and " +
      "only a slowdown is drift) OR (>=3 mids AND " +
      "max(mid)/median(mid) > 2.0); mids sit ~3x above endpoints by " +
      "design (warm JVM) and are never compared against them. The IO " +
      "probe (32MB fresh-file write+fsync+readback, min-of-2, " +
      "io_probe_segments_sec) rides the same two tests at wider bands " +
      "(ends > 3.0, mids > 2.5 of mid median) — it sees the IO/page-" +
      "cache pressure the CPU probe is blind to (r13: 1.30x sweep " +
      "inflation, every CPU probe quiet). A first-pass-contended full " +
      "sweep auto-retimes drifted-segment (either probe) + slowest " +
      "queries (auto_retimed, min-of-passes) under bracketing warm " +
      "probes (retime_probe_*, retime_io_probe_*), and `contended` is " +
      "then that retime phase's slowdown verdict — the healed numbers " +
      "were measured there"
    val v6Json = v6FastOnly.map(t => f""","v6_fast_only_sec":$t%.3f""").getOrElse("") +
      x36ProdOnly.map(t => f""","x36_prod_only_sec":$t%.3f""").getOrElse("")
    // The full auto_retimed name list (102 names in r8 ≈ 2.5 KB) goes in
    // the DETAIL file only: it blew the driver's tail-capture buffer and
    // left BENCH_r08.json with parsed:null. Headline carries the count.
    val retimeJsonShort = retimeProbes.map { case (rb, ra, iorb, iora) =>
      f""","first_pass_contended":$firstPassContended,"auto_retimed_n":${autoRetimed.size},"retime_probe_before_sec":$rb%.3f,"retime_probe_after_sec":$ra%.3f,"retime_io_probe_before_sec":$iorb%.3f,"retime_io_probe_after_sec":$iora%.3f"""
    }.getOrElse(f""","first_pass_contended":$firstPassContended""")
    val retimeJson = retimeProbes.map { case (rb, ra, iorb, iora) =>
      f""","first_pass_contended":$firstPassContended,"auto_retimed_n":${autoRetimed.size},"auto_retimed":${autoRetimed.map(graft.util.Jsons.quote).mkString("[", ",", "]")},"retime_probe_before_sec":$rb%.3f,"retime_probe_after_sec":$ra%.3f,"retime_io_probe_before_sec":$iorb%.3f,"retime_io_probe_after_sec":$iora%.3f"""
    }.getOrElse(f""","first_pass_contended":$firstPassContended""")
    val qs = finalResults.map { case (k, v, _) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val cs = finalResults.map { case (k, _, _) =>
      graft.util.Jsons.quote(k) + ":" + firstCounts(k)
    }.mkString("{", ",", "}")
    val errs = finalResults.collect { case (k, _, Some(e)) =>
      s"\"" + k + "\":" + graft.util.Jsons.quote(e)
    }.mkString("{", ",", "}")
    val total = finalResults.collect { case (_, v, None) => v }.sum
    val nErr = finalResults.count(_._3.isDefined)
    val probeJsonShort =
      f""""probe_before_sec":$probeBefore%.3f,"probe_after_sec":$probeAfter%.3f,"probe_segments_sec":$probeSegs,"io_probe_segments_sec":$ioProbeSegs,"contended":$contended$retimeJsonShort$v6Json"""
    val probeJson =
      f""""probe_before_sec":$probeBefore%.3f,"probe_after_sec":$probeAfter%.3f,"probe_segments_sec":$probeSegs,"io_probe_before_sec":$ioProbeBefore%.3f,"io_probe_after_sec":$ioProbeAfter%.3f,"io_probe_segments_sec":$ioProbeSegs,"storage_mb_segments":$storageSegs,"contended":$contended,"contended_rule":${graft.util.Jsons.quote(contendedRule)}$retimeJson$v6Json"""
    val headline =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${finalResults.size},"n_err":$nErr,$probeJsonShort}"""
    val touchJson = firstTouch.toSeq.sortBy(_._1).map { case (q, ks) =>
      graft.util.Jsons.quote(q) + ":" +
        ks.map(graft.util.Jsons.quote).mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val detail =
      s"""{"metric":"total","value":$total,"unit":"sec","sf":"$sfDir","n_queries":${finalResults.size},"n_err":$nErr,$probeJson,"derived_first_touch":$touchJson,"queries":$qs,"counters":$cs,"errors":$errs}"""
    // Clean line on the REAL stdout (build.sbt: run/outputStrategy =
    // StdoutOutput, so no sbt "[info] " prefix) + a file copy so the
    // driver can recover the metrics even if its stdout parse fails.
    //
    // PER-QUERY VISIBILITY (round-19 VERDICT item 2): the driver's
    // PERF compare had no per-query data (PERF_r18 per_query:{},
    // n_common:0) because the headline carries only the total. The
    // full detail line (same fields + "queries", "derived_first_touch",
    // "counters" and "errors") is ALSO printed to stdout — BEFORE the
    // headline, never instead of it. It cannot ride IN the headline:
    // the driver parses the bench JSON from a 2000-char stdout tail
    // (measured: every BENCH_r*.json "tail" is exactly 2000 chars, and
    // BENCH_r02 — whose headline embedded a 70-query map — has
    // parsed:null with the tail starting mid-line), so a 285-query
    // headline (~9 KB) would cut its own line start out of the window
    // and lose the round's total. Printing detail-then-headline is
    // additions-only: the tail window still ends with the identical
    // short headline (at most a harmless unparseable fragment of the
    // detail line above it), while a full-stdout consumer gets the
    // per-query map. File copies below are unchanged.
    println(detail)
    println("bench: per-query detail above; driver headline follows")
    println(headline)
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), detail + "\n")
    catch { case _: Throwable => }
    // Durable copy for bench_history. latest.json is git-ignored
    // scratch (round evidence gets COPIED to a named r{NN}_final.json
    // at round end — r5's committed latest.json was a 1-query debug
    // run that misrepresented the sweep); SPARK_GRAFT_ONLY subset
    // runs skip it entirely so a debug run can never clobber the
    // round's full-sweep record.
    if (only.isEmpty) try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("bench_history"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_history/latest.json"), detail + "\n")
    } catch { case _: Throwable => }
    spark.stop()
  }
}
