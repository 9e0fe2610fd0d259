package graft.ops

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Snapshots

/** OPTIMIZE — whole-table layout rewrites as engine verbs (Delta's
  * `OPTIMIZE [ZORDER BY]`, x26/x52's physics generalized from their
  * fixture queries to any committed table + any numeric columns).
  *
  * Both verbs land through [[Snapshots.commitLayout]]: a FULL version
  * holding the same logical rows as the resolved state they rewrote,
  * marked `dataChange:false` — readers of `latest` see identical
  * rows, the change feed sees NOTHING (a layout commit must never
  * feed downstream consumers as new data), and an enabled auto-stats
  * catalog re-stamps freshness instead of re-profiling (the stats
  * still describe the same rows).
  *
  * Scale shapes (the reason these are single-purpose verbs, not
  * `df.repartition` left to callers):
  *  - [[compact]]: ONE round-robin exchange into the target file
  *    count — the x26 bin-pack collapsed to its essential move. At
  *    100 TB the target count comes from bytes/targetFileSize; the
  *    rewrite cost is one pass over the table, never a sort.
  *  - [[zorder]]: per-column 8-bit EQUI-WIDTH buckets from the
  *    table's own min/max (one aggregate row — value-deterministic,
  *    no sampling, no sketch nondeterminism; an equi-DEPTH variant
  *    would take boundaries from the x57 catalog histogram instead),
  *    bit-interleaved into a z value, then ONE global z-rank range
  *    exchange (GlobalIndexExec — no single reducer) sliced into
  *    equal-row files. Rank ties break on the full row, so file
  *    membership is deterministic up to identical-row identity.
  *    The file id lands as a WRITE-ONLY hive partition `_zfile`
  *    (x52's layout contract): zone-map pruning and the
  *    one-file-per-slice witness read it via [[Snapshots.readLayout]]
  *    / the committed listing, while the table's LOGICAL schema is
  *    unchanged — so INSERT INTO / MERGE with the original schema
  *    compose after a ZORDER, exactly like Delta's OPTIMIZE.
  */
object Optimize {

  /** Bin-pack the resolved latest state into exactly `nFiles`
    * round-robin files (empty inputs may produce fewer). Returns the
    * committed layout version. */
  def compact(spark: SparkSession, dir: String, nFiles: Int): Int = {
    require(nFiles > 0, s"OPTIMIZE INTO $nFiles FILES: need a positive count")
    val base = Snapshots.versions(spark, dir).last
    Snapshots.commitLayout(
      Snapshots.readResolved(spark, dir).repartition(nFiles), dir, base)
  }

  private val ZBits = 8

  /** Bits per column: 8 for ≤7 columns, scaled down so the interleave
    * never reaches the long's sign bit (bit 62 ceiling) — at k=8 the
    * unscaled shift would hit bit 63 and make z negative, inverting
    * the sort for the top bucket; beyond 64 Java shifts wrap mod 64
    * and columns would collide. */
  private def bitsFor(k: Int): Int = math.max(1, math.min(ZBits, 62 / k))

  /** Z-order the resolved latest state on `cols` (numeric/date
    * columns; nulls sort first as bucket 0) into `nFiles` equal-row
    * slices, one file per slice. Returns the committed version. */
  def zorder(spark: SparkSession, dir: String, cols: Seq[String],
             nFiles: Int): Int = {
    require(cols.nonEmpty && nFiles > 0,
      s"OPTIMIZE ZORDER BY needs columns and a positive file count")
    val base = Snapshots.versions(spark, dir).last
    val cur = Snapshots.readResolved(spark, dir)
    cols.foreach { c =>
      val t = cur.schema(c).dataType
      require(t.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
        t == org.apache.spark.sql.types.DateType ||
        t == org.apache.spark.sql.types.TimestampType,
        s"ZORDER BY $c: need a numeric/date column, got $t")
    }
    def num(c: String): Column = cur.schema(c).dataType match {
      case org.apache.spark.sql.types.DateType |
           org.apache.spark.sql.types.TimestampType =>
        unix_timestamp(col(c)).cast("double")
      case _ => col(c).cast("double")
    }
    // min/max + count for every column in ONE aggregate row
    val aggs = cols.flatMap(c =>
      Seq(min(num(c)).as(s"mn_$c"), max(num(c)).as(s"mx_$c"))) :+
      count(lit(1)).as("_n")
    val mm = cur.agg(aggs.head, aggs.tail: _*).head()
    val k = cols.length
    val bits = bitsFor(k)
    val buckets: Seq[Column] = cols.map { c =>
      val mn = mm.getAs[Double](s"mn_$c")
      val mx = mm.getAs[Double](s"mx_$c")
      val span = math.max(mx - mn, java.lang.Double.MIN_VALUE)
      // equi-width bucket; nulls → 0 (sort-first, Spark's rule)
      least(greatest(
          coalesce(floor((num(c) - lit(mn)) / lit(span) * (1 << bits)), lit(0L)),
          lit(0L)), lit((1 << bits) - 1))
    }
    // interleave: z bit (i*k + j) = bucket_j bit i — the classic
    // Morton order (x19's integer interleave generalized to k columns)
    val z = (0 until bits).flatMap(i => (0 until k).map(j =>
      shiftleft(shiftright(buckets(j), i).bitwiseAND(lit(1L)), i * k + j)))
      .reduce(_ + _)
    val withZ = cur.withColumn("_z", z)
    // dense global rank in z order, full-row tiebreak (determinism up
    // to identical-row identity), cut into nFiles equal-row slices;
    // the row count rides in the same aggregate as min/max — one
    // stats pass total, no separate count job
    val nEst = math.max(1L, mm.getAs[Long]("_n"))
    val ranked = GlobalIndex.withGlobalIndex(withZ,
      col("_z") +: cur.columns.map(col).toSeq, "_zrank")
    val laid = ranked
      .withColumn("_zfile",
        least(expr(s"(_zrank * $nFiles) div $nEst"), lit(nFiles - 1)).cast("int"))
      .drop("_z", "_zrank")
    // `_zfile` is WRITE-ONLY: it shapes the hive layout (one dir per
    // slice — the filesPerDir witness and zone-map reads key off it
    // via readLayout) but never joins the logical schema, so a later
    // INSERT INTO / MERGE with the original schema still composes
    // (Delta's OPTIMIZE ZORDER never alters schema).
    Snapshots.commitLayout(laid.repartition(col("_zfile")), dir, base,
      partitionBy = Seq("_zfile"), dropFromSchema = Seq("_zfile"))
  }
}
