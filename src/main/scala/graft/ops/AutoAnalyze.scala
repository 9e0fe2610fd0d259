package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** AUTO-ANALYZE ON COMMIT — the stats catalog's missing write path.
  *
  * [[StatsCatalog]] is write-once/read-many but every ANALYZE is a
  * manual call: a commit to a profiled table leaves x37/x38/x40/x53's
  * planner inputs silently stale until someone remembers to re-run.
  * This hook closes the loop for [[graft.sources.Snapshots]] tables:
  * `enable(dir)` opts a table in, and every commit through the
  * Snapshots verbs then maintains a MERGEABLE per-column stats state
  * (x41's identity, productionized):
  *
  *  - counts and null counts ADD, min/max COMBINE, string byte
  *    lengths SUM, and NDV rides a DataSketches HLL sketch whose
  *    union is the register-wise max (Agarwal et al., "Mergeable
  *    Summaries") — so an APPEND commit folds at O(|Δ| scan) +
  *    O(columns) merge, never a history rescan. The profiled input
  *    is the version's OWN landed files (readVersionOwn): what the
  *    commit physically wrote, one scan of the written bytes, no
  *    upstream lineage re-run.
  *  - a PLAIN commit is a full replacement state: recompute from the
  *    version's own files (the same scan the write already paid for,
  *    once more — the honest full-profile price of an overwrite).
  *  - an append whose base is NOT the profiled version (hook enabled
  *    mid-history) falls back to one full resolved-read profile —
  *    correct, and from then on every fold is O(Δ). At 100 TB you
  *    enable the hook at table birth and never pay this.
  *  - a `dataChange = false` append (x55's OPTIMIZE re-land: same
  *    logical rows, better layout) re-lands the summary at the new
  *    version WITHOUT folding — folding would double-count.
  *  - deletes / replaces / restores are NOT foldable (an HLL sketch
  *    cannot subtract); those verbs simply advance the table past
  *    the profiled version and [[isFresh]] reports stale — detected,
  *    never silently served.
  *
  * The state is re-landed per maintenance as the next version of a
  * catalog Snapshots table (the audit trail of what the planner
  * believed when — sketches included, so the NEXT fold starts from
  * committed state, crash-safe and cross-process) plus a driver-side
  * summary JSON serving [[stats]] with ZERO Spark jobs at plan time
  * (the d14/x38 acceptance rule). Freshness is the profiled version
  * number against the table's current latest — a local log read.
  *
  * Exact fields (n_rows/n_nulls/min/max/avg_len) equal a one-shot
  * recompute BY VALUE — the stats-merge identity x41's oracle pins;
  * NDV is an estimate with the lgk-14 HLL error envelope and feeds
  * only planner decisions, never results.
  */
object AutoAnalyze {

  /** HLL log2(registers) — pinned so every sketch in a state chain
    * unions losslessly (the theta-union capacity lesson: defaults
    * silently differ). rsd ≈ 1.04/√2¹⁴ ≈ 0.81%. */
  val LgK = 14

  /** Matching relative standard deviation (1.04/√2^lgK ≈ 0.81%) —
    * the x41 envelope constant at this catalog's precision. */
  val Rsd = 1.04 / math.sqrt(1 << LgK)

  final case class Served(version: Int,
                          cols: Map[String, StatsCatalog.ColStats])

  private val registry = new scala.collection.concurrent.TrieMap[String, Unit]
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]

  private def norm(dir: String): String =
    java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString

  /** Catalog table for one source dir (state versions + sketches).
    * Keyed on the SANITIZED full normalized path, not a hash — two
    * distinct source dirs must never collide into one catalog (a
    * 32-bit hashCode collision would silently merge two tables' fold
    * states; the summary's dir guard protects serving but not the
    * state). A short hash suffix keeps distinct paths that sanitize
    * identically (e.g. `a/b` vs `a_b`) apart. */
  def catalogDirFor(dir: String): String = {
    val n = norm(dir)
    val safe = n.replaceAll("[^A-Za-z0-9._-]", "_").takeRight(120)
    s"target/auto_stats_${safe}_${java.lang.Integer.toHexString(n.hashCode)}"
  }

  /** Opt a Snapshots table in: every later commit/append maintains
    * its stats. Enable at table birth for pure-O(Δ) maintenance. */
  def enable(dir: String): Unit = { registry.put(norm(dir), ()); () }

  def disable(dir: String): Unit = { registry.remove(norm(dir)); () }

  /** Tests/queries: forget state and registration (files dropped). */
  def dropState(spark: SparkSession, dir: String): Unit = {
    disable(dir)
    graft.sources.Snapshots.drop(spark, catalogDirFor(dir))
    val p = summaryPath(dir)
    java.nio.file.Files.deleteIfExists(p); ()
  }

  private def summaryPath(dir: String): java.nio.file.Path =
    java.nio.file.Paths.get(catalogDirFor(dir), "_auto_summary.json")

  /** The commit hook (dispatched by Snapshots' commit verbs).
    * `base`: Some(v) for appends, None for full commits. */
  def afterCommit(spark: SparkSession, dir: String, version: Int,
                  base: Option[Int], dataChange: Boolean = true): Unit = {
    val key = norm(dir)
    if (!registry.contains(key)) return
    // ISOLATED: the hook runs after the data version has durably
    // landed — a stats-maintenance failure (unprofilable schema, a
    // transient catalog-commit error) must not fail the already-
    // successful commit call. A caller that retried would land a
    // DUPLICATE data version. On failure the summary simply stays at
    // the previous version, so isFresh() reports stale — detected,
    // never silently served.
    try afterCommitUnsafe(spark, dir, version, base, dataChange)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[graft] auto-analyze hook failed for $dir v$version " +
            s"(stats left stale): ${e.getMessage}")
    }
  }

  private def afterCommitUnsafe(spark: SparkSession, dir: String, version: Int,
                                base: Option[Int], dataChange: Boolean): Unit = {
    val key = norm(dir)
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      import graft.sources.Snapshots
      val catDir = catalogDirFor(dir)
      val stored = stats(dir).map(_.version)
      if (!dataChange && base.exists(stored.contains)) {
        // layout-only re-land: same logical rows — re-stamp freshness
        writeSummary(dir, Snapshots.read(spark, catDir), version)
        return
      }
      val state = base match {
        case Some(b) if stored.contains(b) =>
          // materialize the delta's state ONCE (columns-sized rows,
          // sketches included) so the merge never re-runs the O(Δ)
          // scan, then fold against the committed previous state
          val deltaState = stateFrame(Snapshots.readVersionOwn(spark, dir, version))
          val rows = deltaState.collect()
          mergeStates(Snapshots.read(spark, catDir),
            spark.createDataFrame(java.util.Arrays.asList(rows: _*),
              deltaState.schema))
        case None =>
          stateFrame(Snapshots.readVersionOwn(spark, dir, version))
        case Some(_) => // enabled mid-history: one full profile, then O(Δ)
          stateFrame(Snapshots.readResolved(spark, dir, Some(version)))
      }
      Snapshots.commit(state, catDir)
      writeSummary(dir, Snapshots.read(spark, catDir), version)
    }
  }

  /** Post-purge re-profile (dispatched by Snapshots.purgeKeys): a
    * purge rewrites version files IN PLACE, so the stamped version
    * number alone cannot detect the change — recompute the state
    * from the resolved latest and re-stamp. No-op unless registered
    * (or never profiled). */
  def afterPurge(spark: SparkSession, dir: String): Unit = {
    val key = norm(dir)
    if (!registry.contains(key) || stats(dir).isEmpty) return
    // NOT isolated like afterCommit: a purge's re-profile is part of
    // the erasure obligation (stale pre-purge min/max ARE the leak),
    // so a failure here must surface to the purge caller.
    locks.computeIfAbsent(key, _ => new Object).synchronized {
      import graft.sources.Snapshots
      val latest = Snapshots.versions(spark, dir).lastOption.getOrElse(return)
      val state = stateFrame(Snapshots.readResolved(spark, dir))
      val catDir = catalogDirFor(dir)
      Snapshots.commit(state, catDir)
      writeSummary(dir, Snapshots.read(spark, catDir), latest)
      // erasure discipline (x76's Reland rule): PRIOR catalog versions
      // carry pre-purge min/max — order statistics of the purged rows
      // — so they are vacuumed, not merely superseded
      Snapshots.vacuum(spark, catDir, keepLast = 1); ()
    }
  }

  /** One mergeable state row per profiled column, from ONE scan of
    * `df` (all measures in a single aggregate, reshaped to rows —
    * never a pass per column). NDV values go through a string cast:
    * hll_sketch_agg rejects fractional types, and distinct values
    * stay distinct under the cast. */
  private[graft] def stateFrame(df: DataFrame): DataFrame = {
    val (numCols, strCols, _) = StatsCatalog.profileOf(df.schema)
    val cols = (numCols ++ strCols).distinct
    require(cols.nonEmpty, "auto-analyze needs a numeric or string column")
    val measures = Seq(count(lit(1)).as("__n")) ++ cols.flatMap { c => Seq(
      count(col(c)).as(s"__c_$c"),
      (if (numCols.contains(c)) min(col(c)).cast("double")
       else lit(null).cast("double")).as(s"__mn_$c"),
      (if (numCols.contains(c)) max(col(c)).cast("double")
       else lit(null).cast("double")).as(s"__mx_$c"),
      (if (strCols.contains(c)) sum(octet_length(col(c)).cast("long"))
       else lit(null).cast("long")).as(s"__sl_$c"),
      hll_sketch_agg(col(c).cast("string"), lit(LgK)).as(s"__sk_$c")) }
    df.agg(measures.head, measures.tail: _*)
      .select(explode(array(cols.map(c => struct(
        lit(c).as("col_name"),
        col("__n").as("n_rows"),
        (col("__n") - col(s"__c_$c")).as("n_nulls"),
        col(s"__mn_$c").as("min_num"), col(s"__mx_$c").as("max_num"),
        col(s"__sl_$c").as("sum_len"), col(s"__sk_$c").as("sk"))): _*))
        .as("s"))
      .select("s.*")
  }

  /** x41's merge identity: sums add, min/max combine, sketch union
    * is register-wise max — stats(base ⊕ Δ) == stats(base ∪ Δ).
    * SCHEMA EVOLUTION (x31's appends): a column present on only one
    * side reads as NULL in the other side's rows, so n_rows is the
    * TABLE-wide total for every column and the missing side's whole
    * contribution is nulls — without this a newly-added column would
    * report delta-only counts and a dropped one would stop growing.
    * Totals come from any one column per side (every column of a
    * side carries the same count(*)); min/max/len/sketch are
    * null-skipping, so they need no adjustment. */
  private def mergeStates(prev: DataFrame, delta: DataFrame): DataFrame = {
    def totalOf(df: DataFrame): Long = {
      val r = df.agg(max(col("n_rows"))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val total = totalOf(prev) + totalOf(delta)
    prev.unionByName(delta).groupBy(col("col_name"))
      .agg(sum(col("n_rows")).as("seen"), sum(col("n_nulls")).as("nn"),
        min(col("min_num")).as("min_num"), max(col("max_num")).as("max_num"),
        sum(col("sum_len")).as("sum_len"),
        hll_union_agg(col("sk"), lit(false)).as("sk"))
      .select(col("col_name"), lit(total).as("n_rows"),
        (col("nn") + (lit(total) - col("seen"))).as("n_nulls"),
        col("min_num"), col("max_num"), col("sum_len"), col("sk"))
  }

  private def writeSummary(dir: String,
                           state: DataFrame, version: Int): Unit = {
    val rows = state
      .withColumn("ndv_est", hll_sketch_estimate(col("sk")))
      .drop("sk").collect()
    def jd(r: Row, f: String) = {
      val i = r.fieldIndex(f)
      if (r.isNullAt(i)) "null"
      else r.get(i) match { case d: Double => d.toString; case l: Long => l.toString }
    }
    val colsJson = rows.map { r =>
      graft.util.Jsons.quote(r.getAs[String]("col_name")) + ":" +
        s"""{"n_rows":${r.getAs[Long]("n_rows")},"n_nulls":${r.getAs[Long]("n_nulls")},""" +
        s""""min_num":${jd(r, "min_num")},"max_num":${jd(r, "max_num")},""" +
        s""""sum_len":${jd(r, "sum_len")},"ndv_est":${jd(r, "ndv_est")}}"""
    }.mkString(",")
    val json = s"""{"fmt":1,"dir":${graft.util.Jsons.quote(norm(dir))},""" +
      s""""version":$version,"cols":{$colsJson}}"""
    val p = summaryPath(dir)
    java.nio.file.Files.createDirectories(p.getParent)
    // temp-write + ATOMIC_MOVE: a concurrent/cross-process stats()
    // read must never observe a torn file (an in-place writeString is
    // not atomic and would crash the zero-job planner read path)
    val tmp = p.resolveSibling(
      s"${p.getFileName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
  }

  /** Planner read — summary file, zero Spark jobs. None until the
    * first hooked commit. NDV is the HLL estimate (rounded); no
    * top-1 share or histogram on this path (those stay manual-
    * ANALYZE depth). */
  def stats(dir: String): Option[Served] = {
    val p = summaryPath(dir)
    if (!java.nio.file.Files.exists(p)) return None
    // the write is atomic (temp + move), so a parse failure means a
    // damaged/foreign file, not an in-flight writer — serve None (the
    // planner treats it as "no stats"), never crash the read path
    val root =
      try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(p))
      catch { case scala.util.control.NonFatal(_) => return None }
    if (root == null || root.get("fmt") == null ||
        root.get("fmt").asInt() != 1 || root.get("dir").asText() != norm(dir))
      return None
    def optD(n: com.fasterxml.jackson.databind.JsonNode, f: String) =
      Option(n.get(f)).filterNot(_.isNull).map(_.asDouble())
    val cols = root.get("cols")
    val out = Map.newBuilder[String, StatsCatalog.ColStats]
    val names = cols.fieldNames()
    while (names.hasNext) {
      val c = names.next(); val n = cols.get(c)
      val nRows = n.get("n_rows").asLong(); val nNulls = n.get("n_nulls").asLong()
      val avgLen = optD(n, "sum_len").flatMap(sl =>
        if (nRows - nNulls > 0) Some(sl / (nRows - nNulls)) else None)
      out += c -> StatsCatalog.ColStats(nRows, nNulls,
        math.round(n.get("ndv_est").asDouble()),
        optD(n, "min_num"), optD(n, "max_num"), avgLen, None, None)
    }
    Some(Served(root.get("version").asInt(), out.result()))
  }

  /** Staleness: the profiled version against the table's current
    * latest — a local log read, zero jobs. An unfoldable verb
    * (delete/replace/restore) lands a later version and flips this
    * false: detected, never silently served. */
  def isFresh(spark: SparkSession, dir: String): Boolean =
    stats(dir).exists(s =>
      graft.sources.Snapshots.versions(spark, dir).lastOption.contains(s.version))

  /** The served summary as a FRAME (x80's SQL binding): one row per
    * profiled column plus the catalog's freshness verdict — built
    * from the driver-side summary, zero data-sized jobs. */
  def frame(spark: SparkSession, dir: String): DataFrame = {
    val s = stats(dir).getOrElse(throw new IllegalArgumentException(
      s"no auto-stats state under $dir — enable() + commit first"))
    val fresh = isFresh(spark, dir)
    import spark.implicits._
    s.cols.toSeq.sortBy(_._1).map { case (c, cs) =>
      (c, cs.nRows, cs.nNulls, cs.minNum, cs.maxNum, cs.avgLen,
        cs.nDistinct, s.version, fresh)
    }.toDF("col_name", "n_rows", "n_nulls", "min_num", "max_num",
      "avg_len", "ndv_est", "stats_version", "fresh")
  }
}
