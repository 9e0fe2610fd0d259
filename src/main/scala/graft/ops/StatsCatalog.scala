package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SHARED TABLE-STATISTICS CATALOG — the warehouse contract behind
  * x37/x38/x40/x42/x43/x53: ANALYZE profiles a table ONCE and commits
  * the result as a [[graft.sources.Snapshots]] version under one
  * canonical catalog directory; every planner that needs statistics
  * READS the committed catalog instead of re-profiling its inputs per
  * query (the x37-round-8 shape, where each consumer ran its own
  * ANALYZE inline).
  *
  * WHAT gets profiled is derived from the table's SCHEMA, not a
  * per-table map (any parquet table `sfDir/<name>.parquet` ANALYZEs,
  * fixture or not):
  *  - numeric columns (integral/float/double/decimal) → numLeg
  *    (count/nulls/NDV/min/max) + a 16-bucket EQUI-DEPTH HISTOGRAM
  *    (boundary i = the value at rank ceil(i·n/16) in the sorted
  *    non-null column — exact order statistics, so a SQL oracle
  *    replays them verbatim; computed by GlobalIndexExec's range
  *    shuffle + local sorts, never a single-reducer window. Ties
  *    are safe: the VALUE at a rank is tie-order-independent);
  *  - string columns → strLeg (bounds + the avg byte length width
  *    estimators need);
  *  - other types (dates, arrays, binary) are skipped — they are
  *    neither join keys nor range-probe columns for any consumer;
  *  - HEAVY-HITTER candidates (the x40 skew signal) are the
  *    groupable columns: every integral column plus string columns
  *    whose profiled avg length ≤ [[HhMaxLen]] (join keys and
  *    categories are short; a free-text payload is not a key, and
  *    recounting its MG candidates would ship document-sized
  *    literals into the plan).
  *
  * Two read paths, by consumer need:
  *  - the committed Snapshots table (versioned, time-travelable —
  *    the audit trail of what the planner believed when);
  *  - a driver-side `_stats_summary.json` written from the SAME
  *    collected rows at ANALYZE time. Planner reads go through the
  *    summary: ZERO Spark jobs at plan construction (the d14/x38
  *    acceptance rule — building a DataFrame must not run jobs), the
  *    way real catalogs serve stats from the metadata service rather
  *    than a table scan.
  *
  * Staleness: the summary records a fingerprint of the profiled
  * table's parquet files (count/bytes/max-mtime) and a format tag,
  * and the fingerprint is re-validated on EVERY read — memoized hits
  * included (a local file stat, still zero Spark jobs) — so
  * regenerated fixture data or a stats-shape change can never serve
  * stale numbers, within one JVM or across.
  *
  * Heavy-hitter share lands via x10/x15's machinery: a Misra–Gries
  * candidate sketch (bounded state, map-side mergeable — never a
  * full-key shuffle at 100 TB) followed by an exact recount of the
  * ≤ k candidates. MG guarantees every term with share > 1/(k+1)
  * survives, so for any decision threshold above 1/(k+1) the stored
  * `top1_share` yields EXACTLY the decision exact counts would (see
  * [[Analyze.skewChosenJoin]]) — which is what keeps x40's planner
  * verdict oracle-replayable. The histogram's decision contract is
  * the same shape: boundaries are exact order statistics, so a
  * selectivity estimate derived from them (see
  * [[Analyze.histSelectivity16]]) is a deterministic integer both
  * engines compute from the data.
  */
object StatsCatalog {

  /** One profiled column, as served to planners. `nRows`/`nNulls`/
    * `nDistinct` are exact; `top1Share` is present only for columns
    * profiled as heavy-hitter candidates; `histogram` (15 interior
    * equi-depth boundaries) only for numeric columns. */
  final case class ColStats(nRows: Long, nNulls: Long, nDistinct: Long,
                            minNum: Option[Double], maxNum: Option[Double],
                            avgLen: Option[Double], top1Share: Option[Double],
                            histogram: Option[Seq[Double]] = None)

  /** Canonical catalog root for one fixture directory; each table's
    * stats are one Snapshots table under it. */
  def dirFor(sfDir: String): String =
    s"target/stats_catalog_${math.abs(sfDir.hashCode)}"

  private val Fmt = 2 // v2: schema-derived profiles + histograms
  private val HhK = 8 // MG candidate budget; decisions need threshold > 1/(k+1)

  /** Equi-depth bucket count (15 interior boundaries). */
  val HistBuckets = 16

  /** A string column is a heavy-hitter candidate only below this avg
    * byte length — keys and categories, not free-text payloads. */
  val HhMaxLen = 64.0

  /** The profiled column sets, derived from the schema alone:
    * (numeric, string, integral). */
  private[graft] def profileOf(schema: StructType): (Seq[String], Seq[String], Seq[String]) = {
    val isIntegral: DataType => Boolean = {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val isNumeric: DataType => Boolean = {
      case FloatType | DoubleType | _: DecimalType => true
      case dt => isIntegral(dt)
    }
    (schema.fields.toSeq.filter(f => isNumeric(f.dataType)).map(_.name),
      schema.fields.toSeq.filter(_.dataType == StringType).map(_.name),
      schema.fields.toSeq.filter(f => isIntegral(f.dataType)).map(_.name))
  }

  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Map[String, ColStats])]()

  /** Tests only: forget memoized summaries (files stay). */
  def invalidate(): Unit = cache.clear()

  /** Catalog read — summary file, zero Spark jobs; ANALYZEs once if
    * the table was never profiled (or its data/format changed). The
    * memoized fast path re-checks the data fingerprint too, so a
    * regenerated table is never served stale within one JVM. */
  def stats(spark: SparkSession, sfDir: String, table: String): Map[String, ColStats] = {
    val key = s"$sfDir/$table"
    val fp = fingerprint(sfDir, table)
    val hit = cache.get(key)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val loaded = readSummary(sfDir, table, fp)
        .getOrElse(analyze(spark, sfDir, table))
      cache.put(key, (fp, loaded))
      loaded
    }
  }

  /** Estimated in-memory bytes of the profiled table: rows × (8 per
    * numeric column + avg_len + 4 per string column). */
  def estBytes(stats: Map[String, ColStats]): Long = {
    require(stats.nonEmpty, "estBytes needs at least one profiled column")
    val n = stats.head._2.nRows
    val width = stats.values.map(s => s.avgLen.map(_ + 4.0).getOrElse(8.0)).sum
    (n * width).toLong
  }

  def nRows(stats: Map[String, ColStats]): Long = {
    require(stats.nonEmpty, "nRows needs at least one profiled column")
    stats.head._2.nRows
  }

  /** Fingerprint of the profiled table's parquet files — regenerated
    * fixture data invalidates the stored summary. */
  private def fingerprint(sfDir: String, table: String): String = {
    val root = java.nio.file.Paths.get(sfDir, s"$table.parquet")
    if (!java.nio.file.Files.exists(root)) s"missing"
    else {
      // fixture tables are single parquet files; tolerate a directory
      // of part files too
      val files =
        if (java.nio.file.Files.isDirectory(root)) {
          val st = java.nio.file.Files.list(root)
          try st.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
            .filter(p => p.getFileName.toString.endsWith(".parquet"))
          finally st.close()
        } else Seq(root)
      val bytes = files.map(java.nio.file.Files.size).sum
      val mtime = files.map(p =>
        java.nio.file.Files.getLastModifiedTime(p).toMillis).maxOption.getOrElse(0L)
      s"n${files.size}_b${bytes}_m$mtime"
    }
  }

  private def summaryPath(sfDir: String, table: String): java.nio.file.Path =
    java.nio.file.Paths.get(dirFor(sfDir), table, "_stats_summary.json")

  private def readSummary(sfDir: String, table: String,
                          fp: String): Option[Map[String, ColStats]] = {
    val path = summaryPath(sfDir, table)
    if (!java.nio.file.Files.exists(path)) None
    else {
      val root = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(java.nio.file.Files.readString(path))
      val fresh = root.get("fmt").asInt() == Fmt &&
        root.get("fingerprint").asText() == fp
      if (!fresh) None
      else {
        def optD(n: com.fasterxml.jackson.databind.JsonNode, f: String) =
          Option(n.get(f)).filterNot(_.isNull).map(_.asDouble())
        val cols = root.get("cols")
        val out = Map.newBuilder[String, ColStats]
        val names = cols.fieldNames()
        while (names.hasNext) {
          val c = names.next(); val n = cols.get(c)
          val hist = Option(n.get("histogram")).filterNot(_.isNull)
            .map(a => (0 until a.size).map(a.get(_).asDouble()).toSeq)
          out += c -> ColStats(n.get("n_rows").asLong(), n.get("n_nulls").asLong(),
            n.get("n_distinct").asLong(), optD(n, "min_num"), optD(n, "max_num"),
            optD(n, "avg_len"), optD(n, "top1_share"), hist)
        }
        Some(out.result())
      }
    }
  }

  /** EQUI-DEPTH boundaries of one numeric column: the values at ranks
    * ceil(i·n/16), i = 1..15, in the non-null sorted order — exact
    * order statistics via GlobalIndexExec (range shuffle + local
    * sorts + offset numbering; data-sized work fully parallel, the
    * same machinery as k1's corpus-wide chunk index). One rank can
    * satisfy several thresholds when n < buckets; the boundary list
    * repeats the value, preserving 15 entries. */
  private def equiDepth(df: DataFrame, c: String, nNonNull: Long): Seq[Double] = {
    if (nNonNull == 0L) return Seq.empty
    val ranks = (1 until HistBuckets)
      .map(i => (i * nNonNull + HistBuckets - 1) / HistBuckets) // 1-based ceil
    val indexed = GlobalIndex.withGlobalIndex(
      df.filter(col(c).isNotNull).select(col(c).cast("double").as("v")),
      Seq(col("v")), "_r")
    val at = indexed.filter(col("_r").isin(ranks.distinct.map(_ - 1): _*))
      .collect().map(r => r.getLong(r.fieldIndex("_r")) -> r.getDouble(0)).toMap
    ranks.map(r => at(r - 1))
  }

  /** ANALYZE: profile `table` (schema-derived Analyze legs,
    * MG-candidate top-1 shares, equi-depth histograms), commit the
    * stats rows as a Snapshots version under the canonical catalog
    * dir, and write the planner-serving summary. One write, many
    * reads — consumers never re-profile. */
  def analyze(spark: SparkSession, sfDir: String, table: String): Map[String, ColStats] = {
    val df = graft.Tables.load(spark, sfDir, table)
    val (numCols, strCols, intCols) = profileOf(df.schema)
    require(numCols.nonEmpty || strCols.nonEmpty,
      s"table '$table' has no numeric or string column to profile")
    val legs = (numCols.map(c => Analyze.numLeg(df, c, col(c))) ++
      strCols.map(c => Analyze.strLeg(df, c))).reduce(_ unionByName _)
    val rows = legs.collect()
    val nTotal = rows.head.getAs[Long]("n_rows")
    def rowOf(c: String) = rows.find(_.getString(0) == c).get
    def optD(c: String, f: String) = {
      val r = rowOf(c); val i = r.fieldIndex(f)
      if (r.isNullAt(i)) None else Some(r.getDouble(i))
    }
    // heavy-hitter candidates by the declared rule: groupable types,
    // payload-width strings excluded
    val hhCols = intCols ++
      strCols.filter(c => optD(c, "avg_len").exists(_ <= HhMaxLen))
    // Heavy-hitter share, two-pass exact-on-candidates (x10's shape):
    // MG candidates from one bounded-state pass, exact recount of the
    // <= k survivors only. At 100 TB: k-sized shuffle rows, never a
    // full-key groupBy of an unskewed column.
    val shares: Map[String, Double] = hhCols.map { c =>
      val cand = df.select(graft.functions.HeavyHittersAgg
          .heavyHitters(col(c).cast("string"), HhK).as("cand"))
        .collect().head.getSeq[String](0)
      val share =
        if (cand.isEmpty || nTotal == 0L) 0.0
        else {
          val m = df.filter(col(c).cast("string").isin(cand: _*))
            .groupBy(col(c).cast("string")).agg(count(lit(1)).as("n"))
            .agg(max(col("n")).as("m")).collect().head
          if (m.isNullAt(0)) 0.0 else m.getLong(0).toDouble / nTotal
        }
      c -> share
    }.toMap
    val hists: Map[String, Seq[Double]] = numCols.map { c =>
      c -> equiDepth(df, c, nTotal - rowOf(c).getAs[Long]("n_nulls"))
    }.toMap
    // committed catalog table: the legs' schema + top1_share + histogram
    val statsDf = legs
      .withColumn("top1_share",
        coalesce(hhCols.map(c =>
          when(col("col_name") === c, lit(shares(c)))) :+ lit(null).cast("double"): _*))
      .withColumn("histogram",
        coalesce(numCols.map(c => when(col("col_name") === c,
          array(hists(c).map(lit): _*))) :+ lit(null).cast("array<double>"): _*))
    val tableDir = s"${dirFor(sfDir)}/$table"
    graft.sources.Snapshots.commit(statsDf, tableDir)
    // summary (planner read path, zero jobs) from the SAME rows
    def jd(o: Option[Double]) = o.map(_.toString).getOrElse("null")
    def jh(o: Option[Seq[Double]]) =
      o.map(_.mkString("[", ",", "]")).getOrElse("null")
    val colsJson = rows.map { r =>
      val c = r.getString(r.fieldIndex("col_name"))
      def d(f: String) =
        if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getDouble(r.fieldIndex(f)))
      graft.util.Jsons.quote(c) + ":" +
        s"""{"n_rows":${r.getAs[Long]("n_rows")},"n_nulls":${r.getAs[Long]("n_nulls")},""" +
        s""""n_distinct":${r.getAs[Long]("n_distinct")},"min_num":${jd(d("min_num"))},""" +
        s""""max_num":${jd(d("max_num"))},"avg_len":${jd(d("avg_len"))},""" +
        s""""top1_share":${jd(shares.get(c))},"histogram":${jh(hists.get(c))}}"""
    }.mkString(",")
    val json = s"""{"fmt":$Fmt,"table":${graft.util.Jsons.quote(table)},""" +
      s""""fingerprint":${graft.util.Jsons.quote(fingerprint(sfDir, table))},""" +
      s""""cols":{$colsJson}}"""
    val path = summaryPath(sfDir, table)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, json)
    rows.map { r =>
      val c = r.getString(r.fieldIndex("col_name"))
      def d(f: String) =
        if (r.isNullAt(r.fieldIndex(f))) None else Some(r.getDouble(r.fieldIndex(f)))
      c -> ColStats(r.getAs[Long]("n_rows"), r.getAs[Long]("n_nulls"),
        r.getAs[Long]("n_distinct"), d("min_num"), d("max_num"), d("avg_len"),
        shares.get(c), hists.get(c))
    }.toMap
  }
}
