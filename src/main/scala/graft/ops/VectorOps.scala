package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.functions.{DotProduct, L2Norm}

/** Vector operators (SURVEY.md §2.9 V2–V4): cosine scoring, L2
  * normalization, top-k similarity search.
  *
  * Two implementations of the dot product:
  *  - `dotHof` — pure built-in higher-order functions; portable, used
  *    as the semantic definition.
  *  - `dot` — the codegen'd [[graft.functions.DotProduct]] expression
  *    (SQL name `graft_dot`); fused loop, no per-row allocs.
  * Both fold left-to-right so they produce bitwise-identical doubles
  * (and match DuckDB's `list_dot_product` used by the oracle).
  */
object VectorOps {

  /** v1 dot product: `aggregate(zip_with(a,b,*), 0.0, +)`. */
  def dotHof(a: Column, b: Column): Column =
    aggregate(
      zip_with(a.cast("array<double>"), b.cast("array<double>"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)

  /** v2 dot product: custom codegen'd expression. */
  def dot(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** L2 norm via the codegen'd expression. */
  def l2norm(a: Column): Column = Bridge.column(L2Norm(Bridge.expression(a)))

  /** V4 — L2-normalize an array column (null-safe on zero vectors). */
  def l2normalize(a: Column): Column = {
    val n = l2norm(a)
    when(n === 0.0, a.cast("array<double>"))
      .otherwise(transform(a.cast("array<double>"), x => x / n))
  }

  /** Cosine similarity of two arbitrary (not pre-normalized) vectors. */
  def cosine(a: Column, b: Column): Column = {
    val denom = l2norm(a) * l2norm(b)
    when(denom === 0.0, lit(0.0)).otherwise(dot(a, b) / denom)
  }

  /** V3 — top-k similarity search: score every row of `corpus` against
    * one query vector and take the k best. Plans to
    * `TakeOrderedAndProject` (per-partition partial top-k, no global
    * sort) — the scalable form of the reference's score-all-then-
    * sort-in-driver (tools.py:76-92). `tieBreak` must be a unique
    * column for deterministic results.
    */
  def topK(corpus: DataFrame, vecCol: String, queryVec: Column, k: Int,
           tieBreak: String, scoreName: String = "score"): DataFrame = {
    corpus
      .withColumn(scoreName, dot(col(vecCol), queryVec))
      .orderBy(col(scoreName).desc, col(tieBreak))
      .limit(k)
  }
}
