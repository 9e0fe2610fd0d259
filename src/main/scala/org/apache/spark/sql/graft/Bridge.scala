package org.apache.spark.sql.graft

import java.io.CharArrayWriter
import java.time.Instant

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.json.{JacksonGenerator, JSONOptions}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.util.{DateTimeUtils, LegacyDateFormats, TimestampFormatter}
import org.apache.spark.sql.classic.{Dataset, ExpressionUtils}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Column ⇄ Expression bridge.
  *
  * Spark 4 moved Column onto ColumnNode and made the classic
  * converters `private[sql]`; libraries that define native Catalyst
  * expressions conventionally host a one-file bridge inside the
  * `org.apache.spark.sql` package to wrap/unwrap without a session
  * registry round-trip (the same access pattern Spark's own
  * connectors use). Besides the two expression hooks it exposes the
  * few internals the served path needs to skip a query execution.
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a (possibly custom) logical plan as a DataFrame — the hook
    * a library-defined LogicalPlan node needs to enter the Dataset
    * API (the analyzer resolves any still-unresolved expressions in
    * the plan on first use).
    */
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(classic(spark), plan)

  /** `df`'s executed rows as a plan leaf, the way a lazy local
    * checkpoint cuts lineage but with no copy: the leaf reads the RDD
    * `df`'s physical plan produces (for a cached `df`, its cached
    * blocks), and a query over it prints one scan instead of `df`'s
    * plan. The RDD is planned from a fresh execution of `df`'s plan,
    * so a cache registered after `df` was planned is still used; one
    * registered after this call is not (an uncached `df` is recomputed
    * by every query over the leaf). */
  def scanOf(df: DataFrame): DataFrame = {
    val spark = classic(df.sparkSession)
    val fresh = Dataset.ofRows(spark, df.queryExecution.analyzed)
    Dataset.ofRows(spark, LogicalRDD.fromDataset(fresh.queryExecution.toRdd, fresh, isStreaming = false))
  }

  /** `rows` of `schema` as JSON text, one string per row, from the
    * generator and options `to_json` builds (the session's time zone
    * and SQL conf), so field order, dropped nulls and number and
    * timestamp text are what `to_json(struct(*))` writes. Runs on the
    * calling thread: no query execution. */
  def jsonLines(spark: SparkSession, schema: StructType, rows: Seq[Row]): Seq[String] =
    withSessionConf(spark) { conf =>
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      val out = new CharArrayWriter
      val gen = new JacksonGenerator(schema, out,
        new JSONOptions(Map.empty[String, String], conf.sessionLocalTimeZone))
      rows.toVector.map { r =>
        gen.write(toInternal(r).asInstanceOf[InternalRow])
        gen.flush()
        val line = out.toString
        out.reset()
        line
      }
    }

  /** `at` as `date_format(<timestamp>, pattern)` renders it in the
    * session's time zone. */
  def formatTimestamp(spark: SparkSession, pattern: String, at: Instant): String =
    withSessionConf(spark) { conf =>
      TimestampFormatter(pattern, java.time.ZoneId.of(conf.sessionLocalTimeZone),
        LegacyDateFormats.SIMPLE_DATE_FORMAT, isParsing = false, forTimestampNTZ = false)
        .format(DateTimeUtils.instantToMicros(at))
    }

  private def classic(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]

  /** Run `f` with `spark`'s SQL conf as `SQLConf.get`, as a query of
    * that session would see it: the formatters read their legacy-policy
    * and null-field defaults from there. */
  private def withSessionConf[T](spark: SparkSession)(f: SQLConf => T): T = {
    val conf = classic(spark).sessionState.conf
    SQLConf.withExistingConf(conf)(f(conf))
  }
}
