package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd Unicode NFC normalization of a string column.
  *
  * Web-scraped training text mixes composed ("é" U+00E9) and
  * decomposed ("e"+U+0301) forms of the same grapheme; every
  * downstream equality — exact dedup hashes (d1), shingle hashes
  * (d2/d3), vocab membership (t18), entity keys (k3) — silently
  * treats them as different documents/terms unless the corpus is
  * normalized first. The reference pipeline gets this for free from
  * its Python NLP stack (str defaults + spaCy); here it is an
  * explicit, fuseable scalar step.
  *
  * Spark has no built-in normalizer (SPARK-milestones expose only
  * upper/lower/trim); a Python UDF would break WholeStageCodegen on
  * the widest column of the corpus scan. This expression stays
  * codegen'd with a fast path: `Normalizer.isNormalized` over the
  * decoded string avoids allocating a second copy for the (dominant)
  * already-NFC case. DuckDB twin: `nfc_normalize(x)` — both
  * implement Unicode TR#15 canonical composition, so results are
  * byte-identical.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_nfc requires a string input, got ${child.dataType.simpleString}")

  override protected def nullSafeEval(v: Any): Any =
    NfcNormalize.nfc(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.NfcNormalize.nfc($c)")

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

object NfcNormalize {
  /** NFC-normalize; returns the input object unchanged (no copy) when
    * the text is already composed — the common case for clean corpora.
    */
  def nfc(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}
