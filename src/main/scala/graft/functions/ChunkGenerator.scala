package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{CollectionGenerator, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The sliding-window chunker as a native Catalyst `Generator` —
  * SURVEY.md §7.3's v2 form of G1/G2 (one text row → many chunk rows).
  *
  * Full graft.ops.Chunker semantics (reference
  * data/ingestion.py:173-212):
  *  - sections with fewer than `minWords` words yield nothing;
  *  - a section whose name is exactly `abstract` yields ONE chunk
  *    covering the whole section (the reference's special case,
  *    data/ingestion.py:176-178), driven by the `section` child;
  *  - other sections yield windows of `size` words at stride
  *    `size-overlap`; a window at start s>0 exists iff s+overlap < n;
  *    the per-section ordinal counts every generated window; windows
  *    shorter than `minWords` are dropped after ordinal assignment.
  *
  * Output rows: (chunk_ord int, start int, word_count int,
  * text_content string).
  *
  * This single Generator replaces what would otherwise be a deep
  * explode/slice/when Column pipeline. That matters beyond
  * aesthetics: chained computed-column references get inlined
  * repeatedly by the optimizer (CollapseProject), so the composed
  * form's expression tree — and with it driver planning time, task
  * binary size, and per-row evaluation cost — grows multiplicatively
  * with pipeline depth (measured: ~30s of driver-side planning and
  * ~0.4s/task deserialization at sf0.1 for the composed form vs
  * negligible for the Generator). One opaque expression keeps the
  * plan small and the per-row work a tight imperative loop.
  */
case class ChunkGenerator(child: Expression, section: Expression,
                          size: Int, overlap: Int, minWords: Int)
    extends Expression with CollectionGenerator with CodegenFallback {

  require(overlap < size, "overlap must be < size")
  private val stride = size - overlap

  override def children: Seq[Expression] = Seq(child, section)
  override def nullable: Boolean = false
  override def collectionType: DataType = ArrayType(elementSchema)
  override val inline: Boolean = false
  override def position: Boolean = false

  override def elementSchema: StructType = StructType(Seq(
    StructField("chunk_ord", IntegerType, nullable = false),
    StructField("start", IntegerType, nullable = false),
    StructField("word_count", IntegerType, nullable = false),
    StructField("text_content", StringType, nullable = false)))

  private val abstractUtf8 = UTF8String.fromString("abstract")

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) return Iterator.empty
    val words = ChunkGenerator.tokenize(v.asInstanceOf[UTF8String].toString)
    val n = words.length
    if (n < minWords) return Iterator.empty
    if (abstractUtf8.equals(section.eval(input))) {
      // reference: abstract sections are one whole-section chunk
      return Iterator.single(InternalRow(0, 0, n,
        UTF8String.fromString(words.mkString(" "))))
    }
    Iterator.from(0)
      .map(_ * stride)
      .takeWhile(s => s == 0 || s + overlap < n)
      .takeWhile(_ < n)
      .zipWithIndex
      .flatMap { case (s, ord) =>
        val wc = math.min(n - s, size)
        if (wc < minWords) None
        else Some(InternalRow(ord, s, wc,
          UTF8String.fromString(words.slice(s, s + size).mkString(" "))))
      }
  }

  override def dataType: DataType = collectionType

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(child = c(0), section = c(1))
}

object ChunkGenerator {
  private val ws = java.util.regex.Pattern.compile("\\s+")

  /** EXACTLY Spark's `split(trim(c), "\\s+")` / DuckDB's
    * `string_split_regex(trim(text), '\s+')`: trim strips U+0020
    * ONLY (Java's String.trim strips all control chars and would
    * change word counts for text ending in e.g. a newline), and
    * split keeps trailing empty tokens (Pattern.split with limit
    * -1), unlike Java's default split. Shared by eval and pinned by
    * ChunkGeneratorSpec against an independent composed-form
    * implementation.
    */
  def tokenize(s: String): Array[String] = {
    var i = 0
    var j = s.length
    while (i < j && s.charAt(i) == ' ') i += 1
    while (j > i && s.charAt(j - 1) == ' ') j -= 1
    val t = s.substring(i, j)
    if (t.isEmpty) Array.empty[String] else ws.split(t, -1)
  }
}
