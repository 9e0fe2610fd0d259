package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{TextFns, VectorOps}

/** Deduplication suite for the training-data-pipeline extension:
  * exact (hash-groupBy), n-gram Jaccard with an inverted-index join,
  * MinHash+LSH banding, SimHash signatures, and embedding-cosine
  * near-dup with label blocking. Each has a DuckDB oracle built from
  * the same deterministic md5-derived hash family.
  *
  * Scale notes: every pairwise step goes through an inverted-index or
  * bucket join (shingle / band / label) — never a full cross join —
  * so candidate generation is O(collisions), not O(n²). The
  * document-frequency cap on shingles is RELATIVE to corpus size
  * (`max(MinShingleDfCap, ceil(ShingleDfFrac·n_docs))` docs → kept),
  * so the hot-key bound tracks the corpus the way a stopword model
  * does: at 100 TB a boilerplate shingle shared by 1% of documents is
  * dropped, not shuffled. MinHash uses the standard double-hashing
  * family h_j = h1 + j·h2 from ONE md5 per shingle (h1 = 60-bit,
  * h2 = 48-bit slices of the same digest; max value < 2^61, so the
  * arithmetic is exact in both Spark LONG and DuckDB BIGINT) — 16
  * independent-enough permutations at 1/16th the hash cost.
  */
object DedupQ {

  /** Shingle width (words) for Jaccard/MinHash. */
  val ShingleN = 3
  /** Relative document-frequency cap: shingles present in more than
    * `max(MinShingleDfCap, ceil(ShingleDfFrac * n_docs))` documents
    * are dropped before the inverted-index join (hot-key cap). */
  val ShingleDfFrac = 0.005
  val MinShingleDfCap = 15
  /** MinHash signature length and LSH band width. */
  val NumHashes = 16
  val BandWidth = 4
  /** SimHash bit width — hash60's full width. 60 bits (not 32) is a
    * SCALE parameter, not a precision nicety: d8 buckets pairs on
    * [[SimBands]] equal bit-slices, and the band value space is the
    * collision denominator. The round-4 scale smoke measured 32-bit
    * signatures (4×8-bit bands, 1024 buckets) growing candidates 20×
    * on a 10× corpus — chance collisions ~n²/buckets, quadratic. At
    * 60 bits the 4 bands hold 2^15 values each (32× the space) and
    * the measured candidate curve is linear (see SCALE.md). */
  val SimHashBits = 60
  /** Jaccard / cosine thresholds. */
  val JaccardMin = 0.3
  val CosineMin = 0.35
  /** d13 containment threshold (on the larger direction). */
  val ContainMin = 0.5
  /** d12 duplicated-span width (tokens): spans are overlapping
    * SpanN-grams shared verbatim across documents. */
  val SpanN = 5
  /** d7 edit-distance near-dup bounds. The Levenshtein DP is
    * O(|a|·|b|) time AND memory per candidate pair — LSH banding
    * bounds the pair COUNT, not the per-pair cost, and a single pair
    * of 1 MB documents would be ~10¹² matrix cells. Two admissible
    * bounds make the per-pair cost constant at any corpus scale:
    *  - texts are compared on their first [[MaxEditChars]] chars (the
    *    documented contract: prefix similarity — near-dup documents
    *    have near-dup prefixes);
    *  - pairs whose LENGTH difference already caps similarity below
    *    [[EditSimMin]] are pruned BEFORE the DP runs, using the
    *    standard lower bound dist ≥ |len_a − len_b|.
    */
  val MaxEditChars = 4000
  val EditSimMin = 0.35
  /** d8 SimHash near-dup: pairs at Hamming distance ≤ [[HammingMax]].
    * The signature is banded into [[SimBands]] equal bit-slices; with
    * 4 bands (of 15 bits each) and a threshold of 3, banding is
    * LOSSLESS by pigeonhole (3 differing bits can touch at most 3 of
    * 4 bands, so every qualifying pair shares at least one full
    * band) — the banded plan computes exactly the all-pairs answer. */
  val HammingMax = 3
  val SimBands = 4
  /** d9 decontamination: word-n-gram width for benchmark overlap and
    * the Bloom prefilter's false-positive rate. The benchmark (test
    * split) n-gram set is MODEL-sized — bounded by the benchmark
    * suite, not the corpus — so its Bloom sketch rides the plan to
    * every task and prunes the corpus n-gram stream narrowly before
    * the exact semi-join shuffle. */
  val DecontamN = 8
  val BloomFpp = 0.01

  /** d14 perceptual-hash image dedup: aHash-64 signatures banded into
    * 4×16-bit slices (ops.Multimodal.aHashBands); near-dup pairs are
    * band-bucket collisions at Hamming ≤ [[PhashHamMax]]. Unlike d8
    * (whose ≤3 threshold makes 4-band banding lossless by pigeonhole)
    * the DECLARED operator here is the banded LSH search — d3's
    * semantics, replayed exactly by the oracle. Band width is a
    * SCALE-AWARE knob: past [[PhashWideMinFigs]] figures the
    * candidate join runs on 2×32-bit WIDE bands (adjacent 16-bit
    * slices fused), because the narrow 4×16-bit join carries an
    * ~n²/2^16 chance-collision term the r6 20× smoke measured as
    * dominant (4.0M candidates at 20×, a quadratic scale-killer)
    * while 2^32 bucket values push the chance term below one pair
    * for any realistic image corpus — candidates track true
    * near-dup density, the linear regime SCALE.md demands. At or
    * under the threshold the narrow bands are the RECALL mode: with
    * n ≤ 1000 the chance term is ≤ ~n²/32768 ≈ 30 pairs — noise the
    * Hamming verify absorbs for free — and the extra recall (match
    * any of 4 narrow bands vs any of 2 wide) is worth having. The
    * corpus-size branch is part of the declared semantics: the
    * oracle replays the same count-based switch. */
  val PhashHamMax = 16

  /** Figure count above which d14's candidate join switches from
    * narrow 4×16-bit recall bands to 2×32-bit wide bands. */
  val PhashWideMinFigs = 1000L

  private def docs(s: SparkSession, d: String) =
    // single-row-group parquet → 1 partition; spread the shingle /
    // hash work across cores with one cheap shuffle of the raw docs.
    Tables.load(s, d, "documents").select(col("doc_id"), col("text"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))

  /** doc_id + distinct word-ShingleN shingles, one row per shingle,
    * with the double-hash family bases (h1, h2) cut from a single md5
    * of the shingle. */
  private def shingles(df: DataFrame): DataFrame = {
    val w = TextFns.tokens(col("text"))
    val digest = md5(col("shingle"))
    df.withColumn("_w", w)
      .withColumn("_n", size(col("_w")))
      .filter(col("_n") >= ShingleN)
      .select(col("doc_id"),
        explode(array_distinct(
          transform(sequence(lit(1), col("_n") - (ShingleN - 1)),
            i => array_join(slice(col("_w"), i, lit(ShingleN)), " ")))).as("shingle"))
      .withColumn("_d", digest)
      .withColumn("h1", conv(substring(col("_d"), 1, 15), 16, 10).cast("long"))
      .withColumn("h2", conv(substring(col("_d"), 17, 12), 16, 10).cast("long"))
      .drop("_d")
  }

  /** Session-memoized persisted shingle table (d2 and d3 share it). */
  private def shinglesOf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "shingles")(shingles(docs(s, d)))

  /** Session-memoized SimHash signatures (d4 and d8 share it). */
  private def simhashOf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "simhash") {
      docs(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("token"))
        .withColumn("th", TextFns.hash60(col("token")))
        .groupBy(col("doc_id"))
        .agg(graft.functions.SimHashAgg.simhash(col("th"), SimHashBits).as("simhash"))
    }

  /** Distinct word-[[DecontamN]]-grams per document plus the t6 split
    * label (same salted hash-bucket formula), memoized: the d9 test
    * and train sides both read it. */
  private def splitNgramsOf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "split_ngrams") {
      val w = TextFns.tokens(col("text"))
      docs(s, d)
        .withColumn("split", TextFns.splitLabel(col("doc_id")))
        .withColumn("_w", w)
        .withColumn("_n", size(col("_w")))
        .filter(col("_n") >= DecontamN)
        .select(col("doc_id"), col("split"),
          explode(array_distinct(
            transform(sequence(lit(1), col("_n") - (DecontamN - 1)),
              i => array_join(slice(col("_w"), i, lit(DecontamN)), " ")))).as("ngram"))
    }

  /** Session-memoized connected-components frame (d6 and d10 share
    * it). The min-label-propagation fixpoint RUNS JOBS at
    * construction, so it is built OUTSIDE Derived's lock
    * (peek-then-build-then-of, see Derived.peek; a lost race wastes
    * one clustering run but Derived.of keeps the first entry). */
  private def clustersOf(s: SparkSession, d: String): DataFrame =
    Derived.peek(s, d, "dedup_clusters").getOrElse {
      val built = graft.ops.DedupCluster.clusters(defs("d3_dedup_minhash")(s, d))
      Derived.of(s, d, "dedup_clusters")(built)
    }

  /** Shingles surviving the relative df-cap — the inverted index both
    * d2 sides read. Managed (and eventually unpersisted) by Derived. */
  private def keptShinglesOf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "shingles_kept") {
      val sh = shinglesOf(s, d)
      val nDocs = docs(s, d).agg(count(lit(1)).as("n_docs"))
      val keep = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nDocs))
        .filter(col("df") <= greatest(lit(MinShingleDfCap),
          ceil(col("n_docs") * ShingleDfFrac)).cast("long"))
        .select(col("shingle"))
      sh.join(keep, Seq("shingle"), "left_semi")
    }

  /** Session-memoized MinHash band table — d3's bucket key; both
    * sides of the candidate self-join (and the scale diagnostics)
    * read it. */
  private def minhashBandsOf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "minhash_bands") {
      val sh = shinglesOf(s, d)
      val sigCols = (0 until NumHashes).map(j =>
        min(col("h1") + lit(j.toLong) * col("h2")).as(s"s$j"))
      val sig = sh.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
      val bandCols = (0 until NumHashes / BandWidth).map { b =>
        val parts = (0 until BandWidth).map(k => col(s"s${b * BandWidth + k}").cast("string"))
        md5(concat_ws(",", parts: _*))
      }
      sig.select(col("doc_id"),
        posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    }

  /** Session-memoized d3 candidate-pair set (band-bucket collisions,
    * deduped): the band self-join + distinct is read by d3 (ordered
    * output), d7 (edit-distance rerank) and d6's clustering input —
    * shared so the Σ collisions² bucket join runs once per session,
    * like the band table itself (r19). */
  private def minhashPairsOf(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "minhash_pairs") {
      val bands = minhashBandsOf(s, d)
      val x = bands.select(col("doc_id").as("a_id"), col("band"), col("bh"))
      val y = bands.select(col("doc_id").as("b_id"), col("band"), col("bh"))
      x.join(y, Seq("band", "bh")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id")).distinct()
    }

  /** d8's 15-bit-band table (doc_id, simhash, band, bv). */
  private def simhashBandsOf(s: SparkSession, d: String): DataFrame = {
    val bandBits = SimHashBits / SimBands
    val bandArr = array((0 until SimBands).map(b =>
      shiftright(col("simhash"), b * bandBits)
        .bitwiseAND(lit((1L << bandBits) - 1))): _*)
    simhashOf(s, d).select(col("doc_id"), col("simhash"),
      posexplode(bandArr).as(Seq("band", "bv")))
  }

  /** (doc_id, split) for every document — [[TextFns.splitLabel]]
    * applied once; d9, d11, and the diagnostics all read it. */
  private def splitLabels(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"),
      TextFns.splitLabel(col("doc_id")).as("split"))

  /** d11's candidate source — the d3 band buckets restricted to
    * train ⋈ test (NOT distinct; the query dedups, the diagnostics
    * count raw collisions). One definition so the SCALE.md candidate
    * evidence counts exactly the join the query runs. */
  private def crossSplitBandPairs(s: SparkSession, d: String): DataFrame = {
    val lb = minhashBandsOf(s, d).join(splitLabels(s, d), "doc_id")
    lb.filter(col("split") === "train")
      .select(col("doc_id").as("a_id"), col("band"), col("bh"))
      .join(lb.filter(col("split") === "test")
        .select(col("doc_id").as("b_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .select(col("a_id"), col("b_id"))
  }

  /** d9's pruned stream — (test n-grams, train n-grams, Bloom
    * survivors); shared by the query and the scale diagnostics. The
    * survivor frame (whose plan embeds the sketch) is Derived-
    * memoized so the count + bloomFilter jobs run once per session
    * even when both consumers ask — built outside Derived's lock
    * (clustersOf pattern) because sketch construction runs jobs. */
  private def decontamStreams(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val ng = splitNgramsOf(s, d)
    val testNg = ng.filter(col("split") === "test")
      .select(col("ngram")).distinct()
    val train = ng.filter(col("split") === "train")
    val cand = Derived.peek(s, d, "decontam_cand").getOrElse {
      val nTest = testNg.count()
      val bf = testNg.select(xxhash64(col("ngram")).as("h"))
        .stat.bloomFilter("h", math.max(1000L, nTest), BloomFpp)
      Derived.of(s, d, "decontam_cand") {
        train.filter(
          graft.functions.BloomContains.contains(xxhash64(col("ngram")), bf))
      }
    }
    (testNg, train, cand)
  }

  /** Scale-smoke diagnostics (SCALE.md evidence): the bucketed-join
    * candidate counts BEFORE the similarity cuts — the quantity the
    * inverted-index / banding designs bound. A near-linear candidate
    * curve at growing SF is the proof the plans never degrade toward
    * all-pairs; a super-linear one names the operator to fix. */
  /** d12's positional overlapping [[SpanN]]-gram stream:
    * (doc_id, pos, gram), pos 1-based. Shared by the query and the
    * scale-smoke diagnostics. */
  private def spanGrams(s: SparkSession, d: String): DataFrame =
    docs(s, d)
      .select(col("doc_id"), TextFns.tokens(col("text")).as("w"),
        TextFns.wordCount(col("text")).as("nw"))
      .filter(col("nw") >= SpanN)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), col("nw") - (SpanN - 1)),
          i => array_join(slice(col("w"), i, lit(SpanN)), " "))))
      .toDF("doc_id", "pos0", "gram_str")
      // The gram string exists only as a grouping/join key — hash it
      // to a 60-bit long MAP-SIDE so both of d12's corpus-sized
      // shuffles (the df groupBy and the position-flag join) move
      // 8-byte keys instead of ~40-byte 5-gram strings (~3× less
      // exchange volume). Counts are unchanged absent a hash60
      // collision (~n²/2⁶¹: ≪1 even at 10⁹ distinct grams).
      .select(col("doc_id"), (col("pos0") + 1).as("pos"),
        TextFns.hash60(col("gram_str")).as("gram"))

  def candidateDiagnostics(s: SparkSession, d: String): Map[String, Long] = {
    // d12's join fan-in: positions carrying a cross-doc-duplicated
    // gram — the count that must track corpus duplication density
    // linearly, not n²
    val gr = spanGrams(s, d)
    val d12 = gr.join(
      gr.groupBy(col("gram")).agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2).select(col("gram")),
      Seq("gram")).count()
    val kept = keptShinglesOf(s, d)
    val d2 = kept.select(col("doc_id").as("a_id"), col("shingle"))
      .join(kept.select(col("doc_id").as("b_id"), col("shingle")), Seq("shingle"))
      .filter(col("a_id") < col("b_id")).count()
    val mb = minhashBandsOf(s, d)
    val d3 = mb.select(col("doc_id").as("a_id"), col("band"), col("bh"))
      .join(mb.select(col("doc_id").as("b_id"), col("band"), col("bh")),
        Seq("band", "bh"))
      .filter(col("a_id") < col("b_id")).count()
    val sb = simhashBandsOf(s, d)
    val d8 = sb.select(col("doc_id").as("a_id"), col("band"), col("bv"))
      .join(sb.select(col("doc_id").as("b_id"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("a_id") < col("b_id")).count()
    val (_, train, surv) = decontamStreams(s, d)
    // d11's cross-split band candidates (the query's own candidate
    // join, pre-distinct) — must track the d3 curve, not n²
    val d11 = crossSplitBandPairs(s, d).count()
    // d14's band-bucket collisions (pre-distinct): the 16-bit band
    // space is the collision denominator, so alongside the real
    // near-dup structure the count carries an ~n²/2^16 chance term
    // (measured: dominant only past ~50k docs). The WIDE variant
    // fuses adjacent bands into 2×32-bit slices — denominator 2^32,
    // chance term gone for any realistic corpus — the d8 band-
    // widening move, reported here as the measured scale path (the
    // recall trade: a qualifying pair must now match one of 2 wider
    // bands instead of one of 4).
    val pb = graft.ops.Multimodal.aHashBands(
        graft.ops.Multimodal.figuresFromDocuments(docs(s, d)))
      .select(col("figure_id"), posexplode(col("bands")).as(Seq("band", "bv")))
    val d14 = pb.select(col("figure_id").as("a_fig"), col("band"), col("bv"))
      .join(pb.select(col("figure_id").as("b_fig"), col("band"), col("bv")),
        Seq("band", "bv"))
      .filter(col("a_fig") < col("b_fig")).count()
    // m3's frame-hash join fan-in over the df-capped universe (the
    // inverted-index quantity, pre-distinct) — the df-cap bounds
    // bucket width, so the count must track shared-frame density
    // linearly
    val fr = graft.ops.Multimodal.sampleFrames(
        graft.ops.Multimodal.figuresFromDocuments(docs(s, d)),
        frameBytes = 64, stride = 4)
      .select(col("figure_id"), md5(col("frame")).as("fh")).distinct()
    val frKept = fr.join(
      fr.groupBy(col("fh")).agg(count(lit(1)).as("nfig"))
        .filter(col("nfig") <= graft.queries.TextQ.FrameDfCap).select(col("fh")),
      "fh")
    val m3 = frKept.select(col("figure_id").as("a_fig"), col("fh"))
      .join(frKept.select(col("figure_id").as("b_fig"), col("fh")), Seq("fh"))
      .filter(col("a_fig") < col("b_fig")).count()
    val pbWide = pb.groupBy(col("figure_id"), (col("band") / 2).cast("int").as("wband"))
      .agg(sum(col("bv").cast("long") *
        pow(lit(65536.0), pmod(col("band"), lit(2))).cast("long")).as("wbv"))
    val d14w = pbWide.select(col("figure_id").as("a_fig"), col("wband"), col("wbv"))
      .join(pbWide.select(col("figure_id").as("b_fig"), col("wband"), col("wbv")),
        Seq("wband", "wbv"))
      .filter(col("a_fig") < col("b_fig")).count()
    Map(
      "n_docs" -> docs(s, d).count(),
      "d2_candidates" -> d2,
      "d3_candidates" -> d3,
      "d8_candidates" -> d8,
      "d11_candidates" -> d11,
      "d12_dup_positions" -> d12,
      "d14_candidates" -> d14,
      "d14_candidates_wide" -> d14w,
      "m3_frame_candidates" -> m3,
      "d9_train_ngrams" -> train.count(),
      "d9_bloom_survivors" -> surv.count())
  }

  /** Shared oracle CTE: distinct shingles per doc + hash bases. */
  private val shingleCte =
    s"""sh AS (
       |  SELECT doc_id, shingle,
       |    CAST(('0x' || substr(md5(shingle), 1, 15)) AS BIGINT) AS h1,
       |    CAST(('0x' || substr(md5(shingle), 17, 12)) AS BIGINT) AS h2
       |  FROM (
       |    SELECT doc_id, unnest(list_distinct(
       |      list_transform(generate_series(1, n - ${ShingleN - 1}),
       |        i -> array_to_string(list_slice(w, i, i + ${ShingleN - 1}), ' ')))) AS shingle
       |    FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w,
       |            len(string_split_regex(trim(text), '\\s+')) AS n
       |          FROM documents) t
       |    WHERE n >= $ShingleN) u)""".stripMargin

  /** Oracle twin of the relative df-cap filter. */
  private val keptCte =
    s"""kept AS (
       |  SELECT doc_id, shingle FROM sh
       |  WHERE shingle IN (
       |    SELECT shingle FROM sh GROUP BY shingle
       |    HAVING COUNT(*) <= greatest($MinShingleDfCap,
       |      CAST(ceil($ShingleDfFrac * (SELECT COUNT(*) FROM documents)) AS BIGINT))))""".stripMargin

  /** MinHash signature + band SQL fragments, object-level so both
    * the oracle map and [[x14VerdictCtes]] share one definition. */
  private lazy val sigExprsSql = (0 until NumHashes)
    .map(j => s"min(h1 + $j * h2) AS s$j").mkString(",\n    ")
  private lazy val bandUnionSql = (0 until NumHashes / BandWidth).map { b =>
    val parts = (0 until BandWidth).map(k => s"s${b * BandWidth + k}::VARCHAR")
    s"md5(${parts.mkString(" || ',' || ")})"
  }.zipWithIndex.map { case (e, i) =>
    s"SELECT doc_id, $i AS band, $e AS bh FROM sig"
  }.mkString("\n  UNION ALL ")

  /** x14's whole oracle chain (batch split → MinHash bands →
    * band-bucket candidates → Jaccard verify → admission verdicts)
    * as a reusable WITH-body ending in `x14verdicts` — the x14
    * oracle wraps it directly, and ExtQ's x25 composed-pipeline
    * oracle embeds it next to VectorQ's append-assignment chain (the
    * CTE names here and VectorQ's h-prefixed ones are disjoint). */
  private[queries] lazy val x14VerdictCtes: String =
    s"""$shingleCte,
       |$keptCte,
       |sig AS (
       |  SELECT doc_id,
       |    $sigExprsSql
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  $bandUnionSql),
       |lab AS (
       |  SELECT doc_id,
       |    CAST(CAST(('0x' || substr(md5('inc|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
       |      % 10 AS INT) >= 8 AS is_new
       |  FROM documents),
       |newb AS (
       |  SELECT b.doc_id AS a_id, b.band, b.bh
       |  FROM bands b JOIN lab l ON l.doc_id = b.doc_id AND l.is_new),
       |exb AS (
       |  SELECT b.doc_id AS b_id, b.band, b.bh
       |  FROM bands b JOIN lab l ON l.doc_id = b.doc_id AND NOT l.is_new),
       |excand AS (SELECT DISTINCT a_id, b_id FROM newb JOIN exb USING (band, bh)),
       |bcand AS (
       |  SELECT DISTINCT n1.a_id, n2.a_id AS b_id
       |  FROM newb n1 JOIN newb n2
       |    ON n1.band = n2.band AND n1.bh = n2.bh AND n2.a_id < n1.a_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
       |exver AS (
       |  SELECT i.a_id AS doc_id, COUNT(*) AS n FROM (
       |    SELECT c.a_id, c.b_id, COUNT(*) AS inter
       |    FROM kept a JOIN kept b ON a.shingle = b.shingle
       |    JOIN excand c ON c.a_id = a.doc_id AND c.b_id = b.doc_id
       |    GROUP BY c.a_id, c.b_id) i
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= $JaccardMin
       |  GROUP BY i.a_id),
       |bver AS (
       |  SELECT i.a_id AS doc_id, COUNT(*) AS n FROM (
       |    SELECT c.a_id, c.b_id, COUNT(*) AS inter
       |    FROM kept a JOIN kept b ON a.shingle = b.shingle
       |    JOIN bcand c ON c.a_id = a.doc_id AND c.b_id = b.doc_id
       |    GROUP BY c.a_id, c.b_id) i
       |  JOIN sizes sa ON sa.doc_id = i.a_id
       |  JOIN sizes sb ON sb.doc_id = i.b_id
       |  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= $JaccardMin
       |  GROUP BY i.a_id),
       |x14verdicts AS (
       |  SELECT l.doc_id,
       |    COALESCE(e.n, 0) AS n_existing_matches,
       |    COALESCE(v.n, 0) AS n_batch_matches,
       |    CASE WHEN COALESCE(e.n, 0) > 0 THEN 'dup_of_existing'
       |         WHEN COALESCE(v.n, 0) > 0 THEN 'dup_in_batch'
       |         ELSE 'unique' END AS verdict
       |  FROM lab l
       |  LEFT JOIN exver e USING (doc_id)
       |  LEFT JOIN bver v USING (doc_id)
       |  WHERE l.is_new)""".stripMargin

  val defs: Map[String, Q] = Map(
    // d1 — exact dedup: hash-groupBy on full text; representative =
    // min doc_id. One shuffle on the md5 key.
    "d1_dedup_exact" -> ((s, d) => {
      docs(s, d)
        .groupBy(md5(col("text")).as("text_md5"))
        .agg(min(col("doc_id")).as("keep_doc_id"),
          count(lit(1)).as("n_copies"))
        .orderBy(col("keep_doc_id"))
    }),

    // d2 — n-gram Jaccard near-dup via inverted-index self-join on
    // shingles (relative df-cap), then |∩|/|∪| per candidate pair.
    "d2_dedup_jaccard" -> ((s, d) => {
      val kept = keptShinglesOf(s, d)
      val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val a = kept.select(col("doc_id").as("a_id"), col("shingle"))
      val b = kept.select(col("doc_id").as("b_id"), col("shingle"))
      a.join(b, Seq("shingle")).filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "a_id").withColumnRenamed("sz", "sa"), Seq("a_id"))
        .join(sizes.withColumnRenamed("doc_id", "b_id").withColumnRenamed("sz", "sb"), Seq("b_id"))
        .withColumn("jaccard", col("inter") / (col("sa") + col("sb") - col("inter")))
        .filter(col("jaccard") >= JaccardMin)
        .select(col("a_id"), col("b_id"), col("inter"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // d3 — MinHash + LSH: 16-hash double-hashing signature over
    // shingles, 4 bands of 4; candidate pairs = docs sharing any band
    // hash. The band join is the scale path: signatures are
    // fixed-width, pairs only form inside buckets.
    "d3_dedup_minhash" -> ((s, d) =>
      // the bucket self-join is Derived-shared with d6/d7 (see
      // minhashPairsOf); d3 declares its ordered projection
      minhashPairsOf(s, d).orderBy(col("a_id"), col("b_id"))),

    // d4 — SimHash: 32-bit signature; bit b is the sign of the sum of
    // ±1 votes from every token occurrence's hash bit b. One shuffle
    // (groupBy doc) with a single long[32]-buffer aggregate
    // ([[graft.functions.SimHashAgg]]) — constant-width state,
    // map-side partials, order-independent integer merge.
    "d4_dedup_simhash" -> ((s, d) => {
      simhashOf(s, d).orderBy(col("doc_id"))
    }),

    // d8 — SimHash near-dup PAIRS: band the 32-bit signature into 4
    // byte-slices, bucket-join on (band, value), then the exact
    // Hamming cut bit_count(xor) ≤ HammingMax. Banding is lossless at
    // this threshold (see HammingMax above), so the oracle is the
    // straightforward all-pairs join while the plan stays
    // O(collisions): pairs only form inside byte buckets — the
    // signature-level LSH that scales where d3's shingle-level LSH
    // pays per-shingle cost.
    "d8_dedup_hamming" -> ((s, d) => {
      val bands = simhashBandsOf(s, d)
      val a = bands.select(col("doc_id").as("a_id"), col("simhash").as("sa"),
        col("band"), col("bv"))
      val b = bands.select(col("doc_id").as("b_id"), col("simhash").as("sb"),
        col("band"), col("bv"))
      a.join(b, Seq("band", "bv")).filter(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"), col("sa"), col("sb")).distinct()
        .withColumn("hamming",
          bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long"))
        .filter(col("hamming") <= HammingMax)
        .select(col("a_id"), col("b_id"), col("hamming"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // d9 — benchmark DECONTAMINATION: a train document is contaminated
    // if it shares any word-8-gram with a test-split document. The
    // test n-gram set is collapsed into a Bloom sketch (one
    // model-sized aggregation) that prunes the train n-gram stream
    // inside WholeStageCodegen BEFORE the exchange; the exact
    // semi-join over the few survivors keeps the answer exact (the
    // sketch admits false positives, never false negatives). Output
    // is the per-train-doc verdict. NOTE: building the sketch runs a
    // job when the DataFrame is BUILT (like d6's fixpoint loop).
    "d9_decontaminate" -> ((s, d) => {
      val (testNg, _, cand) = decontamStreams(s, d)
      val hits = cand.join(testNg, Seq("ngram"), "left_semi")
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_bad"))
      val trainDocs = splitLabels(s, d)
        .filter(col("split") === "train")
        .select(col("doc_id"))
      trainDocs.join(hits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_bad"), lit(0L)).as("n_bad"))
        .withColumn("keep", col("n_bad") === 0)
        .orderBy(col("doc_id"))
    }),

    // d11 — FUZZY decontamination: exact n-gram overlap (d9) misses
    // paraphrased or partially-edited benchmark leakage, so
    // production pipelines ALSO near-dup-match the train split
    // against the benchmark (test split). Candidates form only
    // inside the SAME MinHash band buckets d3 uses — train side ⋈
    // test side per bucket, never train × test — and are verified by
    // exact Jaccard over the df-capped shingle sets (d2's math, d2's
    // threshold). Output is d9's shape: one verdict row per train
    // doc. Every piece reuses a Derived table the d-family already
    // persists (bands, kept shingles), so the marginal cost is the
    // cross-split joins alone.
    "d11_decontaminate_fuzzy" -> ((s, d) => {
      val lab = splitLabels(s, d)
      val cand = crossSplitBandPairs(s, d).distinct()
      val kept = keptShinglesOf(s, d)
      val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val ka = kept.join(lab.filter(col("split") === "train"), "doc_id")
        .select(col("doc_id").as("a_id"), col("shingle"))
      val kb = kept.join(lab.filter(col("split") === "test"), "doc_id")
        .select(col("doc_id").as("b_id"), col("shingle"))
      val inter = ka.join(kb, Seq("shingle"))
        .join(cand, Seq("a_id", "b_id"), "left_semi")
        .groupBy(col("a_id"), col("b_id")).agg(count(lit(1)).as("inter"))
      val jac = inter
        .join(sizes.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("sz", "sa"), Seq("a_id"))
        .join(sizes.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("sz", "sb"), Seq("b_id"))
        .withColumn("j", col("inter") / (col("sa") + col("sb") - col("inter")))
        .filter(col("j") >= JaccardMin)
      val hits = jac.groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_test_matches"), max(col("j")).as("maxj"))
      lab.filter(col("split") === "train").select(col("doc_id"))
        .join(hits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_test_matches"), lit(0L)).as("n_test_matches"),
          round(coalesce(col("maxj"), lit(0.0)), 4).as("max_jaccard"),
          (coalesce(col("n_test_matches"), lit(0L)) === 0).as("keep"))
        .orderBy(col("doc_id"))
    }),

    // x14 — INCREMENTAL DEDUP, the nightly-ingest shape: a NEW BATCH
    // (a deterministic 20% of docs, standing in for tonight's crawl)
    // is admitted against the EXISTING corpus (the other 80%, whose
    // band index is pre-built state in production — batch bands probe
    // the stored buckets, the existing corpus is never rescanned) and
    // against itself (earlier-id batch docs win). Candidates form
    // only inside shared MinHash band buckets, verified by d2's
    // Jaccard at d2's threshold; every new doc gets an admission
    // verdict: dup_of_existing > dup_in_batch > unique. Nightly cost
    // is O(batch × collisions), independent of corpus history size —
    // the x12 incremental-maintenance principle applied to dedup.
    "x14_incremental_dedup" -> ((s, d) => {
      val isNew = (TextFns.hash60(concat(lit("inc|"),
        col("doc_id").cast("string"))) % 10).cast("int") >= 8
      val lab = docs(s, d).select(col("doc_id"), isNew.as("is_new"))
      val bands = minhashBandsOf(s, d).join(lab, "doc_id")
      val newB = bands.filter(col("is_new"))
        .select(col("doc_id").as("a_id"), col("band"), col("bh"))
      val exB = bands.filter(!col("is_new"))
        .select(col("doc_id").as("b_id"), col("band"), col("bh"))
      val exCand = newB.join(exB, Seq("band", "bh"))
        .select(col("a_id"), col("b_id")).distinct()
      val batchCand = newB.join(
          bands.filter(col("is_new"))
            .select(col("doc_id").as("b_id"), col("band"), col("bh")),
          Seq("band", "bh"))
        .filter(col("b_id") < col("a_id"))
        .select(col("a_id"), col("b_id")).distinct()
      val kept = keptShinglesOf(s, d)
      val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      // ONE pass over the shingle-intersection join for BOTH candidate
      // classes: the classes are disjoint ((a,b) with b existing vs b
      // in-batch), so verifying their tagged union and splitting the
      // verified counts by the tag is row-identical to two separate
      // passes — and the Σ collisions² shingle self-join (the
      // dominant task time) runs once, not twice. The inner join with
      // the distinct candidate set filters exactly like the left_semi
      // did and carries the class tag; b_new is functionally
      // determined by (a_id, b_id), so grouping by it adds no groups.
      val cand = exCand.withColumn("b_new", lit(false))
        .unionByName(batchCand.withColumn("b_new", lit(true)))
      val verified =
        kept.select(col("doc_id").as("a_id"), col("shingle"))
          .join(kept.select(col("doc_id").as("b_id"), col("shingle")), Seq("shingle"))
          .join(cand, Seq("a_id", "b_id"))
          .groupBy(col("a_id"), col("b_id"), col("b_new"))
          .agg(count(lit(1)).as("inter"))
          .join(sizes.withColumnRenamed("doc_id", "a_id")
            .withColumnRenamed("sz", "sa"), Seq("a_id"))
          .join(sizes.withColumnRenamed("doc_id", "b_id")
            .withColumnRenamed("sz", "sb"), Seq("b_id"))
          .filter(col("inter") / (col("sa") + col("sb") - col("inter")) >= JaccardMin)
          .cache() // two consumers (per-class counts) — pair-sized
      val exHits = verified.filter(!col("b_new"))
        .groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_existing_matches"))
      val batchHits = verified.filter(col("b_new"))
        .groupBy(col("a_id").as("doc_id"))
        .agg(count(lit(1)).as("n_batch_matches"))
      lab.filter(col("is_new")).select(col("doc_id"))
        .join(exHits, Seq("doc_id"), "left_outer")
        .join(batchHits, Seq("doc_id"), "left_outer")
        .select(col("doc_id"),
          coalesce(col("n_existing_matches"), lit(0L)).as("n_existing_matches"),
          coalesce(col("n_batch_matches"), lit(0L)).as("n_batch_matches"))
        .withColumn("verdict",
          when(col("n_existing_matches") > 0, "dup_of_existing")
            .when(col("n_batch_matches") > 0, "dup_in_batch")
            .otherwise("unique"))
        .orderBy(col("doc_id"))
    }),

    // d6 — near-dup CLUSTERING: candidate pairs (the d3 MinHash/LSH
    // bands) → connected components via iterative min-label
    // propagation (graft.ops.DedupCluster) — the final step of a real
    // dedup pipeline (chained dups a~b, b~c collapse to one keeper).
    // One shuffle per round, O(diameter) rounds, no driver graph
    // state. Note the propagation loop runs jobs when the DataFrame
    // is BUILT (it iterates to fixpoint), unlike the other lazily-
    // declared entries.
    "d6_dedup_clusters" -> ((s, d) => {
      clustersOf(s, d).orderBy(col("doc_id"))
    }),

    // d10 — CANONICAL SELECTION, the step that turns clusters into a
    // deduped corpus: per near-dup cluster (d6) keep the most complete
    // copy — longest text, ties to the smallest doc_id. One broadcast-
    // joinable metadata lookup + one groupBy on rep_id; the per-
    // cluster argmax is a lexicographic struct max (order-independent
    // aggregate), not a window, so no per-cluster sort buffer.
    "d10_dedup_canonical" -> ((s, d) => {
      val clusters = clustersOf(s, d)
      val meta = docs(s, d)
        .select(col("doc_id"), length(col("text")).cast("long").as("n_chars"))
      clusters.join(meta, Seq("doc_id"))
        .groupBy(col("rep_id"))
        .agg(count(lit(1)).as("n_members"),
          max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"))
        .select(col("rep_id"),
          (-col("best.neg_id")).as("keep_doc_id"),
          col("best.n_chars").as("keep_chars"),
          col("n_members"),
          (col("n_members") - 1).as("n_dropped"))
        .orderBy(col("rep_id"))
    }),

    // d7 — edit-distance near-dup: exact Levenshtein over the
    // LSH-blocked candidate pairs only (never all-pairs), with BOTH
    // per-pair cost bounds (see MaxEditChars/EditSimMin above): texts
    // capped to a fixed prefix, and the admissible length-band prune
    // dist ≥ |len_a − len_b| applied before the O(len²) DP so pairs
    // that cannot reach EditSimMin never run it. The similarity
    // filter compares the RAW double (rounding only for output), so
    // both engines cut at exactly the same boundary.
    "d7_dedup_editdist" -> ((s, d) => {
      val txt = docs(s, d)
        .select(col("doc_id"), substring(col("text"), 1, MaxEditChars).as("t"))
      val cand = minhashPairsOf(s, d) // Derived-shared with d3/d6
      cand
        .join(txt.select(col("doc_id").as("a_id"), col("t").as("ta")), Seq("a_id"))
        .join(txt.select(col("doc_id").as("b_id"), col("t").as("tb")), Seq("b_id"))
        .withColumn("la", length(col("ta")))
        .withColumn("lb", length(col("tb")))
        .filter(abs(col("la") - col("lb")) <=
          (lit(1.0) - EditSimMin) * greatest(col("la"), col("lb")))
        // Thresholded (banded) levenshtein was A/B-measured r19 and
        // REJECTED: with EditSimMin = 0.35 the admissible band is
        // 2·0.65·len > len, so the banded DP visits MORE cells than
        // the plain O(la·lb) one (warm taskSec 33 → 40 measured) —
        // early-exit only pays at high-similarity cutoffs.
        .withColumn("dist", levenshtein(col("ta"), col("tb")).cast("long"))
        .withColumn("sim_raw", lit(1.0) - col("dist") / greatest(col("la"), col("lb")))
        .filter(col("sim_raw") >= EditSimMin)
        .select(col("a_id"), col("b_id"), col("dist"),
          round(col("sim_raw"), 4).as("sim"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // d5 — embedding-cosine near-dup, label-blocked (the IVF-bucket
    // analogue: pairs only form inside a label bucket, never n²).
    "d5_dedup_embedding" -> ((s, d) => {
      val e = Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"))
      val a = e.select(col("label"), col("vec_id").as("a_id"), col("embedding").as("ea"))
      val b = e.select(col("label").as("label_b"), col("vec_id").as("b_id"),
        col("embedding").as("eb"))
      a.join(b, col("label") === col("label_b") && col("a_id") < col("b_id"))
        .withColumn("raw", VectorOps.dot(col("ea"), col("eb")) /
          (VectorOps.l2norm(col("ea")) * VectorOps.l2norm(col("eb"))))
        .filter(col("raw") >= CosineMin)
        .select(col("a_id"), col("b_id"), col("label"),
          round(col("raw"), 4).as("cosine"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // d12 — EXACT DUPLICATED-SPAN detection (the Lee et al. 2022
    // "Deduplicating Training Data Makes Language Models Better"
    // substring-level pass; d1–d11 decide per DOCUMENT, this finds
    // the repeated REGIONS INSIDE documents): every overlapping
    // SpanN-token gram shared verbatim by ≥2 distinct documents marks
    // its positions; overlapping/adjacent marked positions merge into
    // maximal spans (gaps-and-islands) and each document reports its
    // duplicated-token coverage. At 100 TB: the gram explode is
    // narrow, the df count is one shuffle keyed by gram content
    // (uniform — no hot key survives, a gram IS its hash), and the
    // island window is partitioned per document, bounded by document
    // length — never global. This is the scalable approximation of
    // the paper's suffix array: position-level exactness at fixed
    // gram width, with the same remove-span output contract.
    "d12_span_dedup" -> ((s, d) => {
      val n = SpanN
      val grams = spanGrams(s, d)
      val dupGrams = grams.groupBy(col("gram"))
        .agg(countDistinct(col("doc_id")).as("nd"))
        .filter(col("nd") >= 2)
        .select(col("gram"), lit(1).as("isdup"))
      val flagged = grams.join(dupGrams, Seq("gram"), "left")
        .withColumn("isdup", coalesce(col("isdup"), lit(0)))
      val counts = flagged.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_grams"),
          sum(col("isdup")).cast("int").as("n_dup_grams"))
      val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val isl = flagged.filter(col("isdup") === 1)
        .withColumn("prev", lag(col("pos"), 1).over(wOrd))
        .withColumn("brk",
          when(col("prev").isNull || col("pos") - col("prev") > n, 1).otherwise(0))
        .withColumn("isl", sum(col("brk")).over(
          wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val spans = isl.groupBy(col("doc_id"), col("isl"))
        .agg((max(col("pos")) - min(col("pos")) + n).as("cov"))
      val perDoc = spans.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_dup_spans"),
          sum(col("cov")).cast("int").as("dup_tokens"))
      docs(s, d)
        .select(col("doc_id"), TextFns.wordCount(col("text")).as("n_tokens"))
        .join(counts, Seq("doc_id"), "left")
        .join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("n_grams"), lit(0)).as("n_grams"),
          coalesce(col("n_dup_grams"), lit(0)).as("n_dup_grams"),
          coalesce(col("n_dup_spans"), lit(0)).as("n_dup_spans"),
          coalesce(col("dup_tokens"), lit(0)).as("dup_tokens"),
          when(col("n_tokens") > 0,
            round(coalesce(col("dup_tokens"), lit(0)) /
              col("n_tokens").cast("double"), 4))
            .otherwise(lit(0.0)).as("dup_frac"))
        .orderBy(col("doc_id"))
    }),

    // d13 — N-GRAM CONTAINMENT (Broder 1997's asymmetric twin of
    // d2's resemblance): C(A→B) = |A∩B|/|A|. The case it exists for:
    // a short doc pasted inside a much longer one scores near-1
    // containment but a Jaccard diluted by the size gap below d2's
    // threshold — quote/excerpt detection needs the asymmetric
    // measure. Same df-capped inverted-index candidate join as d2
    // (bucketed by shingle, never all-pairs); both directions fall
    // out of the one unordered pair, so the pair join runs once.
    "d13_containment" -> ((s, d) => {
      val kept = keptShinglesOf(s, d)
      val sizes = kept.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
      val a = kept.select(col("doc_id").as("a_id"), col("shingle"))
      val b = kept.select(col("doc_id").as("b_id"), col("shingle"))
      a.join(b, Seq("shingle")).filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("inter"))
        .join(sizes.withColumnRenamed("doc_id", "a_id")
          .withColumnRenamed("sz", "sa"), Seq("a_id"))
        .join(sizes.withColumnRenamed("doc_id", "b_id")
          .withColumnRenamed("sz", "sb"), Seq("b_id"))
        .withColumn("ca", col("inter") / col("sa"))
        .withColumn("cb", col("inter") / col("sb"))
        .filter(greatest(col("ca"), col("cb")) >= ContainMin)
        .select(col("a_id"), col("b_id"), col("inter"), col("sa"), col("sb"),
          round(col("ca"), 4).as("cont_a_in_b"),
          round(col("cb"), 4).as("cont_b_in_a"))
        .orderBy(col("a_id"), col("b_id"))
    }),

    // d14 — PERCEPTUAL-HASH IMAGE DEDUP: the multimodal member of the
    // dedup family. Payloads (m1's binary columns — here the fake-
    // codec byte-identity stand-in, a real pixel decode at
    // deployment) get a 64-bit average-hash in the mapPartitions
    // codec seam, banded into 4×16-bit slices; candidate pairs are
    // band-bucket collisions, verified at Hamming ≤ PhashHamMax
    // over the full signature. Band width is the scale-aware knob
    // (see PhashWideMinFigs): past 1000 figures adjacent slices are
    // fused into 2×32-bit WIDE bands, because the r6 20× smoke
    // measured the narrow join chance-dominated (n²/2^16 ⇒ 4.0M
    // candidates at 20×) while the 2^32 bucket space carries
    // essentially zero chance pairs at any corpus size; small
    // corpora keep the narrow 4-band recall mode (chance term ≤ ~30
    // pairs, absorbed by the verify). The count-based switch is part
    // of the declared semantics — the oracle replays it. All integer
    // math ⇒ the DuckDB oracle replays hash, banding, switch, and
    // verify bit for bit. At 100 TB: signatures are 1 row × 4 ints
    // per image (corpus-sized but thin), the join is bucketed by
    // (band, value) — candidates bounded by true-pair density in
    // wide mode, never n²/2^16 — and the verify join touches only
    // candidates. The mode switch is LAZY: both branches are
    // declared, each gated by a broadcast 0-or-1-row corpus-size
    // flag joined UNDER its candidate join, and AQE's runtime
    // empty-relation propagation collapses the un-taken branch
    // before its join stage ever runs — the size statistic rides
    // inside the single query execution, so building the DataFrame
    // costs zero driver-side jobs (PlanShapeSpec pins it).
    "d14_phash_dedup" -> ((s, d) => {
      import graft.ops.Multimodal
      val bands = Derived.of(s, d, "phash_bands") {
        Multimodal.aHashBands(Multimodal.figuresFromDocuments(docs(s, d)))
          .select(col("figure_id"), posexplode(col("bands")).as(Seq("band", "bv")))
      }
      // 1-row figure count → two mutually exclusive 0-or-1-row gates.
      // The unit join key is DERIVED from runtime columns (x - x = 0)
      // on both sides: a literal key would constant-fold the join
      // condition away and degrade the gate to a cartesian — this way
      // each gate stays a BroadcastHashJoin, never a nested loop.
      val nf = bands.agg(countDistinct(col("figure_id")).as("nf"))
      val gateKey = (col("nf") - col("nf")).cast("int").as("_g")
      val wideOn = broadcast(
        nf.filter(col("nf") > PhashWideMinFigs).select(gateKey))
      val narrowOn = broadcast(
        nf.filter(col("nf") <= PhashWideMinFigs).select(gateKey))
      val wide = bands
        .groupBy(col("figure_id"), (col("band") / 2).cast("int").as("wband"))
        .agg(sum(col("bv").cast("long") *
          when(pmod(col("band"), lit(2)) === 1, lit(65536L)).otherwise(lit(1L)))
          .as("wbv"))
      // each gate joins a ≤1-row broadcast onto one input of its
      // equi join: an empty gate empties that input, and AQE prunes
      // the whole branch at runtime
      val wa = wide.select(col("figure_id").as("a_fig"), col("wband"), col("wbv"))
        .withColumn("_g", (col("wband") - col("wband")).cast("int"))
        .join(wideOn, Seq("_g"))
      val wb = wide.select(col("figure_id").as("b_fig"), col("wband"), col("wbv"))
      val candWide = wa.join(wb, Seq("wband", "wbv"))
        .filter(col("a_fig") < col("b_fig"))
        .select(col("a_fig"), col("b_fig")).distinct()
      val na = bands.select(col("figure_id").as("a_fig"), col("band"), col("bv"))
        .withColumn("_g", (col("band") - col("band")).cast("int"))
        .join(narrowOn, Seq("_g"))
      val nb = bands.select(col("figure_id").as("b_fig"), col("band"), col("bv"))
      val candNarrow = na.join(nb, Seq("band", "bv"))
        .filter(col("a_fig") < col("b_fig"))
        .select(col("a_fig"), col("b_fig")).distinct()
      val cand = candWide.unionByName(candNarrow)
      val x = bands.select(col("figure_id").as("a_fig"), col("band"),
        col("bv").as("xa"))
      val y = bands.select(col("figure_id").as("b_fig"), col("band"),
        col("bv").as("xb"))
      cand.join(x, Seq("a_fig")).join(y, Seq("b_fig", "band"))
        .groupBy(col("a_fig"), col("b_fig"))
        .agg(sum(bit_count(col("xa").bitwiseXOR(col("xb")).cast("long")))
          .cast("long").as("hamming"))
        .filter(col("hamming") <= PhashHamMax)
        .orderBy(col("a_fig"), col("b_fig"))
    })
  )

  val oracles: Map[String, String] = {
    val sigExprs = sigExprsSql
    val bandUnion = bandUnionSql
    val bitSumExprs = (0 until SimHashBits)
      .map(b => s"SUM(CASE WHEN ((th >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n    ")
    val simhashExpr = (0 until SimHashBits)
      .map(b => s"(CASE WHEN b$b > 0 THEN (1::BIGINT << $b) ELSE 0 END)")
      .mkString(" + ")

    Map(
      "d1_dedup_exact" ->
        """SELECT md5(text) AS text_md5, min(doc_id) AS keep_doc_id,
          |  COUNT(*) AS n_copies
          |FROM documents
          |GROUP BY md5(text)
          |ORDER BY keep_doc_id""".stripMargin,

      // same division both engines (BIGINT/BIGINT → double), so the
      // threshold compare and the round(…,4) see identical doubles
      "d13_containment" ->
        s"""WITH $shingleCte,
           |$keptCte,
           |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
           |cand AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
           |  FROM kept a JOIN kept b
           |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id)
           |SELECT a_id, b_id, inter, sa.sz AS sa, sb.sz AS sb,
           |  round(inter / sa.sz, 4) AS cont_a_in_b,
           |  round(inter / sb.sz, 4) AS cont_b_in_a
           |FROM cand
           |JOIN sizes sa ON sa.doc_id = a_id
           |JOIN sizes sb ON sb.doc_id = b_id
           |WHERE greatest(inter / sa.sz, inter / sb.sz) >= $ContainMin
           |ORDER BY a_id, b_id""".stripMargin,

      "d2_dedup_jaccard" ->
        s"""WITH $shingleCte,
           |$keptCte,
           |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
           |cand AS (
           |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS inter
           |  FROM kept a JOIN kept b
           |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY a.doc_id, b.doc_id)
           |SELECT a_id, b_id, inter,
           |  round(inter / (sa.sz + sb.sz - inter), 4) AS jaccard
           |FROM cand
           |JOIN sizes sa ON sa.doc_id = a_id
           |JOIN sizes sb ON sb.doc_id = b_id
           |WHERE inter / (sa.sz + sb.sz - inter) >= $JaccardMin
           |ORDER BY a_id, b_id""".stripMargin,

      "d3_dedup_minhash" ->
        s"""WITH $shingleCte,
           |sig AS (
           |  SELECT doc_id,
           |    $sigExprs
           |  FROM sh GROUP BY doc_id),
           |bands AS (
           |  $bandUnion)
           |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |FROM bands a JOIN bands b
           |  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
           |ORDER BY a_id, b_id""".stripMargin,

      "d6_dedup_clusters" ->
        s"""WITH RECURSIVE $shingleCte,
           |sig AS (
           |  SELECT doc_id,
           |    $sigExprs
           |  FROM sh GROUP BY doc_id),
           |bands AS (
           |  $bandUnion),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |edges AS (
           |  SELECT a_id AS s, b_id AS t FROM pairs
           |  UNION SELECT b_id, a_id FROM pairs),
           |reach(doc_id, r) AS (
           |  SELECT s, t FROM (SELECT s, t FROM edges
           |                    UNION SELECT s, s FROM edges) base
           |  UNION
           |  SELECT e.s, r.r FROM edges e JOIN reach r ON r.doc_id = e.t)
           |SELECT doc_id, min(r) AS rep_id
           |FROM reach GROUP BY doc_id
           |ORDER BY doc_id""".stripMargin,

      // same recursive-CTE clustering as d6, then the per-cluster
      // argmax stated as a window (the Spark side uses an
      // order-independent struct-max aggregate instead).
      "d10_dedup_canonical" ->
        s"""WITH RECURSIVE $shingleCte,
           |sig AS (
           |  SELECT doc_id,
           |    $sigExprs
           |  FROM sh GROUP BY doc_id),
           |bands AS (
           |  $bandUnion),
           |pairs AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |edges AS (
           |  SELECT a_id AS s, b_id AS t FROM pairs
           |  UNION SELECT b_id, a_id FROM pairs),
           |reach(doc_id, r) AS (
           |  SELECT s, t FROM (SELECT s, t FROM edges
           |                    UNION SELECT s, s FROM edges) base
           |  UNION
           |  SELECT e.s, r.r FROM edges e JOIN reach r ON r.doc_id = e.t),
           |clusters AS (
           |  SELECT doc_id, min(r) AS rep_id FROM reach GROUP BY doc_id),
           |sel AS (
           |  SELECT c.rep_id, d.doc_id, CAST(length(d.text) AS BIGINT) AS n_chars,
           |    row_number() OVER (PARTITION BY c.rep_id
           |      ORDER BY length(d.text) DESC, d.doc_id) AS rn,
           |    COUNT(*) OVER (PARTITION BY c.rep_id) AS n_members
           |  FROM clusters c JOIN documents d USING (doc_id))
           |SELECT rep_id, doc_id AS keep_doc_id, n_chars AS keep_chars,
           |  n_members, n_members - 1 AS n_dropped
           |FROM sel WHERE rn = 1
           |ORDER BY rep_id""".stripMargin,

      "d7_dedup_editdist" ->
        s"""WITH $shingleCte,
           |sig AS (
           |  SELECT doc_id,
           |    $sigExprs
           |  FROM sh GROUP BY doc_id),
           |bands AS (
           |  $bandUnion),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
           |  FROM bands a JOIN bands b
           |    ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
           |-- texts capped to the first $MaxEditChars chars (d7 contract);
           |-- the Spark-side length-band prune is admissible (it only
           |-- drops pairs that fail the sim filter below), so the oracle
           |-- needs just the final raw-similarity cut.
           |scored AS (
           |  SELECT c.a_id, c.b_id,
           |    levenshtein(substr(da.text, 1, $MaxEditChars),
           |                substr(db.text, 1, $MaxEditChars)) AS dist,
           |    greatest(length(substr(da.text, 1, $MaxEditChars)),
           |             length(substr(db.text, 1, $MaxEditChars))) AS mx
           |  FROM cand c
           |  JOIN documents da ON da.doc_id = c.a_id
           |  JOIN documents db ON db.doc_id = c.b_id)
           |SELECT a_id, b_id, dist, round(1.0 - dist / mx, 4) AS sim
           |FROM scored
           |WHERE 1.0 - dist / mx >= $EditSimMin
           |ORDER BY a_id, b_id""".stripMargin,

      "d4_dedup_simhash" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
           |  FROM documents),
           |hashed AS (
           |  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS th
           |  FROM toks),
           |bits AS (
           |  SELECT doc_id,
           |    $bitSumExprs
           |  FROM hashed GROUP BY doc_id)
           |SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash
           |FROM bits
           |ORDER BY doc_id""".stripMargin,

      // Banding is lossless at HammingMax ≤ SimBands-1 (pigeonhole),
      // so the oracle states the SEMANTICS — the all-pairs Hamming
      // cut — while the Spark plan earns the same answer through the
      // byte-band bucket join.
      "d8_dedup_hamming" ->
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
           |  FROM documents),
           |hashed AS (
           |  SELECT doc_id, CAST(('0x' || substr(md5(token), 1, 15)) AS BIGINT) AS th
           |  FROM toks),
           |bits AS (
           |  SELECT doc_id,
           |    $bitSumExprs
           |  FROM hashed GROUP BY doc_id),
           |sig AS (
           |  SELECT doc_id, CAST($simhashExpr AS BIGINT) AS simhash
           |  FROM bits)
           |SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
           |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |WHERE bit_count(xor(a.simhash, b.simhash)) <= $HammingMax
           |ORDER BY a_id, b_id""".stripMargin,

      // The Bloom prefilter is an admissible prune (false positives
      // are removed by the exact semi-join; false negatives are
      // impossible), so the oracle needs only the exact semantics:
      // train docs sharing any word-8-gram with a test doc.
      // the same band buckets + Jaccard math split along the
      // new-batch / existing membership, verdicts by priority.
      "x14_incremental_dedup" ->
        s"""WITH $x14VerdictCtes
           |SELECT doc_id, n_existing_matches, n_batch_matches, verdict
           |FROM x14verdicts
           |ORDER BY doc_id""".stripMargin,

      // d3's band buckets restricted to train⋈test, d2's Jaccard over
      // the kept shingles, d9's verdict shape — term for term.
      "d11_decontaminate_fuzzy" ->
        s"""WITH $shingleCte,
           |$keptCte,
           |sig AS (
           |  SELECT doc_id,
           |    $sigExprs
           |  FROM sh GROUP BY doc_id),
           |bands AS (
           |  $bandUnion),
           |lab AS (
           |  SELECT doc_id,
           |    CASE WHEN CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
           |           % 100 < 80 THEN 'train'
           |         WHEN CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
           |           % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents),
           |cand AS (
           |  SELECT DISTINCT ta.doc_id AS a_id, tb.doc_id AS b_id
           |  FROM bands ta
           |  JOIN lab la ON la.doc_id = ta.doc_id AND la.split = 'train'
           |  JOIN bands tb ON tb.band = ta.band AND tb.bh = ta.bh
           |  JOIN lab lb ON lb.doc_id = tb.doc_id AND lb.split = 'test'),
           |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM kept GROUP BY doc_id),
           |inter AS (
           |  SELECT c.a_id, c.b_id, COUNT(*) AS inter
           |  FROM kept a
           |  JOIN kept b ON a.shingle = b.shingle
           |  JOIN cand c ON c.a_id = a.doc_id AND c.b_id = b.doc_id
           |  GROUP BY c.a_id, c.b_id),
           |jac AS (
           |  SELECT i.a_id, i.b_id,
           |    i.inter / (sa.sz + sb.sz - i.inter) AS j
           |  FROM inter i
           |  JOIN sizes sa ON sa.doc_id = i.a_id
           |  JOIN sizes sb ON sb.doc_id = i.b_id
           |  WHERE i.inter / (sa.sz + sb.sz - i.inter) >= $JaccardMin),
           |hits AS (
           |  SELECT a_id AS doc_id, COUNT(*) AS n_test_matches, MAX(j) AS maxj
           |  FROM jac GROUP BY a_id)
           |SELECT l.doc_id, COALESCE(h.n_test_matches, 0) AS n_test_matches,
           |  round(COALESCE(h.maxj, 0.0), 4) AS max_jaccard,
           |  COALESCE(h.n_test_matches, 0) = 0 AS keep
           |FROM lab l LEFT JOIN hits h USING (doc_id)
           |WHERE l.split = 'train'
           |ORDER BY doc_id""".stripMargin,

      "d9_decontaminate" ->
        s"""WITH lab AS (
           |  SELECT doc_id, text,
           |    CASE WHEN CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
           |           % 100 < 80 THEN 'train'
           |         WHEN CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
           |           % 100 < 90 THEN 'val'
           |         ELSE 'test' END AS split
           |  FROM documents),
           |ng AS (
           |  SELECT doc_id, split, unnest(list_distinct(
           |    list_transform(
           |      generate_series(1, len(string_split_regex(trim(text), '\\s+')) - ${DecontamN - 1}),
           |      i -> array_to_string(
           |        list_slice(string_split_regex(trim(text), '\\s+'), i, i + ${DecontamN - 1}), ' ')))) AS ngram
           |  FROM lab
           |  WHERE len(string_split_regex(trim(text), '\\s+')) >= $DecontamN),
           |test_ng AS (SELECT DISTINCT ngram FROM ng WHERE split = 'test'),
           |hits AS (
           |  SELECT doc_id, COUNT(*) AS n_bad FROM ng
           |  WHERE split = 'train' AND ngram IN (SELECT ngram FROM test_ng)
           |  GROUP BY doc_id)
           |SELECT l.doc_id, COALESCE(h.n_bad, 0) AS n_bad,
           |  COALESCE(h.n_bad, 0) = 0 AS keep
           |FROM lab l LEFT JOIN hits h USING (doc_id)
           |WHERE l.split = 'train'
           |ORDER BY doc_id""".stripMargin,

      "d5_dedup_embedding" ->
        s"""SELECT a.vec_id AS a_id, b.vec_id AS b_id, a.label,
           |  round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 4) AS cosine
           |FROM embeddings a JOIN embeddings b
           |  ON a.label = b.label AND a.vec_id < b.vec_id
           |WHERE list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
           |    (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
           |     sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))) >= $CosineMin
           |ORDER BY a_id, b_id""".stripMargin,

      // overlapping n-gram explode, df≥2 flag, then textbook
      // gaps-and-islands (adjacent = pos gap ≤ SpanN) — every window
      // is partitioned by doc_id, mirroring the Spark plan
      "d12_span_dedup" ->
        s"""WITH t AS (SELECT doc_id, text,
           |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
           |g AS (SELECT doc_id, w,
           |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END AS nw FROM t),
           |grams AS (
           |  SELECT doc_id, i AS pos,
           |    array_to_string(w[i : i + $SpanN - 1], ' ') AS gram
           |  FROM g, LATERAL unnest(range(1, nw - $SpanN + 2)) AS u(i)
           |  WHERE nw >= $SpanN),
           |dupg AS (
           |  SELECT gram FROM (
           |    SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM grams GROUP BY gram) x
           |  WHERE nd >= 2),
           |flagged AS (
           |  SELECT gr.doc_id, gr.pos,
           |    CASE WHEN d.gram IS NULL THEN 0 ELSE 1 END AS isdup
           |  FROM grams gr LEFT JOIN dupg d USING (gram)),
           |counts AS (
           |  SELECT doc_id, CAST(COUNT(*) AS INT) AS n_grams,
           |    CAST(SUM(isdup) AS INT) AS n_dup_grams
           |  FROM flagged GROUP BY doc_id),
           |dp AS (SELECT doc_id, pos,
           |    lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
           |  FROM flagged WHERE isdup = 1),
           |br AS (SELECT doc_id, pos,
           |    CASE WHEN prev IS NULL OR pos - prev > $SpanN THEN 1 ELSE 0 END AS brk
           |  FROM dp),
           |il AS (SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl FROM br),
           |spans AS (SELECT doc_id, isl, MAX(pos) - MIN(pos) + $SpanN AS cov
           |  FROM il GROUP BY doc_id, isl),
           |pd AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_dup_spans,
           |    CAST(SUM(cov) AS INT) AS dup_tokens
           |  FROM spans GROUP BY doc_id)
           |SELECT g.doc_id, CAST(g.nw AS INT) AS n_tokens,
           |  COALESCE(c.n_grams, 0) AS n_grams,
           |  COALESCE(c.n_dup_grams, 0) AS n_dup_grams,
           |  COALESCE(p.n_dup_spans, 0) AS n_dup_spans,
           |  COALESCE(p.dup_tokens, 0) AS dup_tokens,
           |  CASE WHEN g.nw > 0
           |       THEN round(COALESCE(p.dup_tokens, 0) * 1.0 / g.nw, 4)
           |       ELSE 0.0 END AS dup_frac
           |FROM g LEFT JOIN counts c USING (doc_id) LEFT JOIN pd p USING (doc_id)
           |ORDER BY doc_id""".stripMargin,

      // d14: the aHash pipeline replayed from the characters (ASCII
      // fixture ⇒ chars == bytes, the m2 precedent): 64 onto cells
      // by (p·64)//n, integer cell means, global-mean threshold,
      // 4×16-bit bands, the scale-aware band-width switch (narrow
      // recall bands at ≤ PhashWideMinFigs figures, 2×32-bit wide
      // bands past it — sf0.01 exercises the narrow branch, sf0.1
      // the wide one), full-signature Hamming verify — every step
      // integer-exact on both engines.
      "d14_phash_dedup" ->
        s"""WITH figs AS (
           |  SELECT printf('fig_%06d', doc_id) AS figure_id, text,
           |         octet_length(encode(text)) AS n
           |  FROM documents WHERE octet_length(encode(text)) >= 64),
           |bytes AS (
           |  SELECT figure_id, n, u.p, ascii(substr(text, u.p + 1, 1)) AS code
           |  FROM figs, LATERAL (SELECT unnest(generate_series(0, n - 1)) AS p) u),
           |cells AS (
           |  SELECT figure_id, (p * 64) // n AS cell, SUM(code) // COUNT(*) AS cv
           |  FROM bytes GROUP BY figure_id, (p * 64) // n),
           |means AS (SELECT figure_id, SUM(cv) // 64 AS m FROM cells
           |          GROUP BY figure_id),
           |bits AS (
           |  SELECT c.figure_id, c.cell,
           |         CASE WHEN c.cv > m.m THEN 1 ELSE 0 END AS bit
           |  FROM cells c JOIN means m USING (figure_id)),
           |bands AS (
           |  SELECT figure_id, CAST(cell // 16 AS INT) AS band,
           |    CAST(SUM(bit * (1 << (cell % 16))) AS INT) AS bv
           |  FROM bits GROUP BY figure_id, cell // 16),
           |wbands AS (
           |  SELECT figure_id, CAST(band // 2 AS INT) AS wband,
           |    CAST(SUM(CAST(bv AS BIGINT) *
           |      CASE WHEN band % 2 = 1 THEN 65536 ELSE 1 END) AS BIGINT) AS wbv
           |  FROM bands GROUP BY figure_id, band // 2),
           |nf AS (SELECT COUNT(*) AS n_figs FROM figs),
           |cand AS (
           |  SELECT DISTINCT a.figure_id AS a_fig, b.figure_id AS b_fig
           |  FROM bands a JOIN bands b ON a.band = b.band AND a.bv = b.bv
           |    AND a.figure_id < b.figure_id
           |  WHERE (SELECT n_figs FROM nf) <= $PhashWideMinFigs
           |  UNION
           |  SELECT DISTINCT a.figure_id AS a_fig, b.figure_id AS b_fig
           |  FROM wbands a JOIN wbands b ON a.wband = b.wband AND a.wbv = b.wbv
           |    AND a.figure_id < b.figure_id
           |  WHERE (SELECT n_figs FROM nf) > $PhashWideMinFigs)
           |SELECT c.a_fig, c.b_fig,
           |  CAST(SUM(bit_count(xor(CAST(x.bv AS BIGINT), CAST(y.bv AS BIGINT))))
           |    AS BIGINT) AS hamming
           |FROM cand c JOIN bands x ON x.figure_id = c.a_fig
           |JOIN bands y ON y.figure_id = c.b_fig AND y.band = x.band
           |GROUP BY c.a_fig, c.b_fig
           |HAVING SUM(bit_count(xor(CAST(x.bv AS BIGINT), CAST(y.bv AS BIGINT))))
           |  <= $PhashHamMax
           |ORDER BY a_fig, b_fig""".stripMargin
    )
  }
}
