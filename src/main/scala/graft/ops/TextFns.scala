package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar text functions (SURVEY.md §2.8 F1–F13), as pure `Column`
  * combinators so they stay inside whole-stage codegen.
  *
  * Semantics mirror the reference behavior (cited per function); the
  * implementations are Spark-native `functions._` compositions — no UDFs.
  */
object TextFns {

  /** F1 — LaTeX/URL cleaning: strip `$$…$$`, `$…$`, `\cmd{…}`, `\cmd`,
    * URLs; collapse whitespace. (reference: data/ingestion.py:67-77)
    * Note `(?s)` to make `.` cross newlines for display-math blocks,
    * matching the reference's DOTALL flag.
    */
  def cleanText(c: Column): Column = {
    val noMath2 = regexp_replace(c, "(?s)\\$\\$.*?\\$\\$", " ")
    val noMath1 = regexp_replace(noMath2, "\\$.*?\\$", " ")
    val noCmdB  = regexp_replace(noMath1, "\\\\[a-zA-Z]+\\{.*?\\}", " ")
    val noCmd   = regexp_replace(noCmdB, "\\\\[a-zA-Z]+", " ")
    val noUrl   = regexp_replace(noCmd, "http\\S+", " ")
    trim(regexp_replace(noUrl, "\\s+", " "))
  }

  /** F2 — entity normalization: lowercase, collapse whitespace, keep
    * only `[a-z0-9 ]`, trim. (reference: data/ingestion.py:329-330;
    * the conflicting UPPER twin at backend/retrieval.py:42-44 is a
    * documented reference bug — we standardize on lowercase.)
    */
  def normalizeEntity(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z0-9 ]", ""), "\\s+", " "))

  /** F4 — slug: lowercase, every non-alphanumeric run → `_`.
    * (reference: data/ingestion.py:199)
    */
  def slug(c: Column): Column =
    regexp_replace(lower(c), "[^a-z0-9]", "_")

  /** Node id: `node_` + normalized-name with spaces→`_`, truncated to 60
    * chars after the prefix. (reference: data/ingestion.py:336)
    */
  def nodeId(normalized: Column): Column =
    concat(lit("node_"), substring(regexp_replace(normalized, "\\s+", "_"), 1, 60))

  /** F7 — word count = whitespace-token count; empty/blank → 0.
    * (reference: data/ingestion.py:208)
    */
  def wordCount(c: Column): Column =
    when(length(trim(c)) === 0, lit(0)).otherwise(size(split(trim(c), "\\s+")))

  /** F8 — whitespace tokenization (reference: data/ingestion.py:174). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Deterministic 60-bit non-negative hash shared with the DuckDB
    * oracle: first 15 hex chars of md5, parsed base-16.
    * DuckDB twin: `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)`.
    * Used wherever the reference used uuid4 (data/ingestion.py:349,381)
    * or where dedup/sketch operators need a shared hash function.
    * Implemented by the fused [[graft.functions.Hash60]] expression
    * (digest → long, no hex-string round-trip); [[hash60Composed]] is
    * the built-ins-only semantic twin, equality pinned by TextFnsSpec.
    */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.Hash60(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Unicode NFC normalization via the codegen'd
    * [[graft.functions.NfcNormalize]] expression (SQL name `graft_nfc`). */
  def nfc(c: Column): Column =
    org.apache.spark.sql.graft.Bridge.column(
      graft.functions.NfcNormalize(org.apache.spark.sql.graft.Bridge.expression(c)))

  /** Built-ins-only form of [[hash60]] (same values, slower path). */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** Seeded variant: independent hash families for MinHash etc. */
  def hash60(c: Column, seed: Int): Column =
    hash60(concat(lit(s"$seed|"), c))

  /** The deterministic train/val/test hash bucket of a document id —
    * bucket = hash60("split|" + id) % 100. THE single source of the
    * split formula: t6 (the split query), d9/d11 (decontamination)
    * and every diagnostic derive membership from this column, so the
    * ratios/salt can only ever change in one place. */
  def splitBucket(docId: Column): Column =
    (hash60(concat(lit("split|"), docId.cast("string"))) % 100).cast("int")

  /** "train" / "val" / "test" label (80/10/10) from [[splitBucket]]. */
  def splitLabel(docId: Column): Column = {
    val b = splitBucket(docId)
    when(b < 80, "train").when(b < 90, "val").otherwise("test")
  }

  /** F5 — reference id formats (data/ingestion.py:124,212). */
  def paperId(i: Column): Column = format_string("doc_%06d", i)
  def chunkId(paperId: Column, sectionSlug: Column, i: Column): Column =
    format_string("%s_%s_c%03d", paperId, sectionSlug, i)
}
