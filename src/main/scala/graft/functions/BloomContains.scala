package graft.functions

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{BinaryType, BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** Codegen'd Bloom-filter membership probe over 64-bit hashes.
  *
  * The decontamination / membership-prune scale pattern: a benchmark
  * or blocklist n-gram set is MODEL-sized (bounded by the benchmark
  * suite, not the corpus), so instead of shuffling the full corpus
  * n-gram stream into a semi-join, the filter side is collapsed into
  * a Bloom sketch once, shipped to every task as part of the plan
  * (an `addReferenceObj` constant — the broadcast-variable shape),
  * and the corpus side is pruned NARROWLY, inside WholeStageCodegen,
  * before any exchange. False positives are possible (fpp is a build
  * parameter), false negatives are not — callers keep results exact
  * by following the prune with an exact semi-join on the survivors.
  *
  * The filter bytes are a plan-time constant (`Array[Byte]`
  * constructor parameter, not a child expression), deserialized at
  * most once per task via a transient lazy field.
  */
case class BloomContains(child: Expression, filterBytes: Array[Byte])
    extends UnaryExpression {

  override def dataType: DataType = BooleanType

  override def prettyName: String = "graft_bloom_contains"

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_bloom_contains requires a BIGINT value, got ${child.dataType.simpleString}")

  @transient private lazy val bloom: BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(filterBytes))

  /** Probe entry point shared by the interpreted and generated paths. */
  def probe(v: Long): Boolean = bloom.mightContainLong(v)

  override protected def nullSafeEval(v: Any): Any =
    probe(v.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // Reference the expression itself: the generated call hits the
    // same lazily-deserialized filter as the interpreted path.
    val ref = ctx.addReferenceObj("graftBloom", this, classOf[BloomContains].getName)
    defineCodeGen(ctx, ev, c => s"$ref.probe($c)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object BloomContains {

  /** `graft_bloom_contains(value, filter_bytes)`'s builder in
    * [[graft.GraftExtensions]]: the second argument must be a foldable
    * BINARY (the serialized filter) and is folded into the expression
    * at analysis time. */
  def build(exprs: Seq[Expression]): Expression = {
    val f = exprs(1)
    require(f.foldable && f.dataType == BinaryType,
      "graft_bloom_contains: filter_bytes must be a BINARY literal")
    val bytes = f.eval(null).asInstanceOf[Array[Byte]]
    // a foldable CAST(NULL AS BINARY) passes the type check but would
    // NPE inside BloomFilter.readFrom at execution — fail at analysis
    require(bytes != null,
      "graft_bloom_contains: filter_bytes must not be NULL")
    BloomContains(exprs.head, bytes)
  }

  def serialize(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Column helper: `contains(hash_col, filter)`. */
  def contains(v: Column, bf: BloomFilter): Column =
    Bridge.column(BloomContains(Bridge.expression(v), serialize(bf)))

  /** Per-GROUP Bloom build (the x62 index pass): Catalyst's own
    * `BloomFilterAggregate` — a TypedImperativeAggregate, so each map
    * task folds its rows into a LOCAL filter and only bloom-sized
    * partial states cross the exchange (never the keys themselves).
    * One pass over a file-partitioned table therefore yields one
    * filter PER FILE at manifest-sized total cost. The serialized
    * bytes round-trip through [[BloomFilter.readFrom]], so index
    * consumers probe with the same sketch library the build used.
    * SQL name: `graft_bloom_agg`. */
  def bloomAgg(v: Column, estItems: Long, numBits: Long): Column =
    Bridge.column(new BloomFilterAggregate(
      Bridge.expression(v), Literal(estItems), Literal(numBits)).toAggregateExpression())

  def deserialize(bytes: Array[Byte]): BloomFilter =
    BloomFilter.readFrom(new ByteArrayInputStream(bytes))
}
