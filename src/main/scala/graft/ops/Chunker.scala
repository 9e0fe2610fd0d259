package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import graft.functions.ChunkGenerator

/** G1/G2 — sliding-window word chunker (reference: data/ingestion.py:173-212).
  *
  * Reference semantics, reproduced exactly:
  *  - sections with fewer than `minWords` words are skipped entirely;
  *  - `abstract` sections always yield ONE chunk (the whole section);
  *  - other sections yield windows of `size` words with stride
  *    `size - overlap`; the loop emits the window starting at `s` and
  *    stops after the first window whose end reaches the text end —
  *    equivalently a window at `s > 0` exists iff `s + overlap < n`;
  *  - the per-section chunk ordinal `i` counts every generated window
  *    (even ones later dropped for being short: the reference assigns
  *    ids before the `word_count < minWords` filter);
  *  - chunks shorter than `minWords` are dropped after id assignment;
  *  - `chunk_id = {paper_id}_{section_slug}_c{i:03d}`.
  *
  * Implemented on the native [[graft.functions.ChunkGenerator]]
  * Catalyst Generator (one text row → many chunk rows, a pure narrow
  * transformation: no shuffle, parallel over input rows, per-row work
  * O(words)). An earlier composed form (`explode` over a computed
  * array of window starts + slice/when column pipeline) produced the
  * same rows but a multiplicatively larger expression tree after
  * CollapseProject inlining — ~30s of driver planning at sf0.1 and
  * heavy per-task deserialization — so the single opaque Generator is
  * also the FASTER plan, not just the tidier one. Equivalence of the
  * two forms is pinned by ChunkGeneratorSpec.
  */
object Chunker {

  /** Explode `(idCol, sectionCol, textCol)` rows into chunk rows.
    * Keeps every input column and appends `chunk_ord` (per-section,
    * incl. dropped windows), `word_count`, `text_content`, `chunk_id`.
    */
  def chunk(df: DataFrame, idCol: String, sectionCol: String, textCol: String,
            size: Int = 200, overlap: Int = 30, minWords: Int = 30): DataFrame = {
    require(overlap < size, "overlap must be < size")
    df.select(col("*"),
        Bridge.column(ChunkGenerator(Bridge.expression(col(textCol)),
            Bridge.expression(col(sectionCol)), size, overlap, minWords))
          .as(Seq("chunk_ord", "start", "word_count", "text_content")))
      .withColumn("chunk_id",
        TextFns.chunkId(col(idCol), TextFns.slug(col(sectionCol)), col("chunk_ord")))
      .drop("start")
  }
}
