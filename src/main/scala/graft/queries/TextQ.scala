package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextFns
import graft.ops.Lineage.CutOps

/** Text-analysis + multimodal-plumbing + windowed-event queries for
  * the training-data-pipeline extension: language ID (marker-word
  * heuristic), quality scoring, token counting (whitespace + BPE-ish
  * regex), document fingerprinting (md5 + polynomial rolling hash),
  * binary-column metadata, and tumbling-window event aggregation
  * (the batch twin of the Structured Streaming path in
  * graft.streaming).
  */
object TextQ {

  /** Marker-word lists for the language-ID heuristic. Tiny by design:
    * deterministic, SQL-expressible, and editable. */
  val EnMarkers = Seq("the", "and", "of", "is", "a", "to", "in")
  val DeMarkers = Seq("der", "die", "das", "und", "ist", "nicht")
  val FrMarkers = Seq("le", "la", "les", "et", "est", "une")
  val EsMarkers = Seq("el", "los", "las", "es", "una", "y")

  /** Rolling-hash mask: 56 bits so `h*31 + token_hash` stays in
    * signed-64 range. */
  val RollMask = (1L << 56) - 1

  /** m3 frame dedup: frame hashes appearing in more than this many
    * figures are dropped before the pair join (d2's df-cap move —
    * a boilerplate frame shared by thousands of videos would
    * otherwise quadratically dominate the shared-frame join; at
    * deployment scale prefer the relative form,
    * ops.Skew.withRelativeDfCap). */
  val FrameDfCap = 10

  /** Fixed query for the BM25 retrieval demo (t10); shared verbatim
    * with the oracle. */
  val BmQueryTerms = Seq("spark", "join", "vector")

  /** t13: exact per-stratum sample size. */
  val StratN = 20

  /** t20's gate CTEs (t, g) — shared by the t20 oracle and every
    * oracle that composes the Gopher gate (t27). */
  private lazy val gopherGateCtes: String =
    s"""t AS (SELECT doc_id, text,
       |  list_transform(string_split_regex(trim(text), '\\s+'),
       |    x -> lower(x)) AS w FROM documents),
       |g AS (SELECT doc_id, text, w,
       |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END
       |    AS INT) AS n_words,
       |  CAST(COALESCE(list_sum(list_transform(w, x -> length(x))), 0)
       |    AS BIGINT) AS sum_len,
       |  CAST(length(text) - length(replace(text, '#', ''))
       |     + (length(text) - length(replace(text, '...', ''))) / 3
       |    AS BIGINT) AS n_sym,
       |  CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
       |    AS BIGINT) AS n_alpha,
       |  CAST(len(list_intersect(list_distinct(w),
       |    [${GopherStops.map(x => s"'$x'").mkString(", ")}]))
       |    AS BIGINT) AS n_stops
       |FROM t)""".stripMargin

  /** The keep predicate over g's columns — the single source of the
    * gate's thresholds on the oracle side. */
  private val gopherKeepSql: String =
    """CASE WHEN n_words >= 5 AND n_words <= 100000
      |        AND sum_len >= 3 * n_words AND sum_len <= 10 * n_words
      |        AND n_sym * 10 <= n_words
      |        AND n_alpha * 5 >= n_words * 4
      |        AND n_stops >= 2
      |       THEN 1 ELSE 0 END""".stripMargin

  /** t15 hashed-feature space size. 64 buckets is fixture-sized; the
    * shape is bucket-count-independent (the weight lives in an
    * expression, not a join). */
  val QsBuckets = 64

  /** t16: tokens per boilerplate segment, and the corpus-frequency
    * threshold (distinct docs) above which a segment is boilerplate. */
  val SegTokens = 10
  val SegMinDocs = 2

  /** t17: keep documents whose average unigram cost is below this
    * many micro-nats (≈ 3.45 nats; the corpus median is ~3.40). */
  val PplMaxMicroNats = 3450000L

  /** t18: vocabulary size (top-K terms by corpus frequency). */
  val VocabK = 20

  /** t19: hashed n-gram feature space for DSIR importance weights
    * (Xie et al. 2023, §2.2 — hashed unigram+bigram counts). 1024
    * buckets keeps the model table broadcast-sized at any corpus
    * scale; the smoothing constant is the bucket count. */
  val DsirBuckets = 1024L

  /** t20: the Gopher-rule stopword list (Rae et al. 2021, A1.1 —
    * "contains at least two of ..."). */
  val GopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** t23: exact per-language sample size for weighted reservoir
    * sampling (A-Res, Efraimidis & Spirakis 2006). */
  val WsN = 15

  private def docs(s: SparkSession, d: String) =
    Tables.load(s, d, "documents")

  /** t10's BM25 scoring (k1=1.2, b=0.75) against [[BmQueryTerms]] as
    * ONE definition over the corpus: (doc_id, n_terms, total_tf,
    * bm25-rounded-4), un-ordered and un-limited. The declared t10
    * wraps it with the deterministic top-10; v23's hybrid-RRF lexical
    * leg ranks its top-[[graft.queries.VectorQ.RrfLegDepth]] — both
    * retrieval surfaces share the identical inverted-index plan (term
    * filter before the tf shuffle, broadcast df + corpus stats). */
  private[graft] def bm25Frame(s: SparkSession, d: String): DataFrame = {
    val qterms = BmQueryTerms
    val (k1, b) = (1.2, 0.75)
    val base = docs(s, d)
      .select(col("doc_id"), TextFns.wordCount(col("text")).as("dl"),
        TextFns.tokens(col("text")).as("w"))
    val toks = base
      .select(col("doc_id"), explode(col("w")).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
      .filter(col("term").isin(qterms.map(lit): _*))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = base.agg(count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val contrib = tf
      .join(broadcast(df), Seq("term"))
      .join(base.select(col("doc_id"), col("dl")), Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("c",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
    contrib.groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("int").as("n_terms"),
        sum(col("tf")).as("total_tf"),
        round(sum(col("c")), 4).as("bm25"))
  }

  /** t20's Gopher keep-flag battery as ONE definition over any
    * (doc_id, text) frame — the declared batch query wraps it with
    * the deterministic ORDER BY, and the streaming quality gate
    * (EventStream.scoreDocs) applies the SAME function per
    * micro-batch, so the streaming twin can never drift from the
    * oracle-checked batch semantics. Per-document scoring only —
    * no cross-document state, which is exactly what makes the
    * foreachBatch twin ≡ batch on the drained union. */
  private[graft] def gopherBattery(docsDf: DataFrame): DataFrame = {
    val w = TextFns.tokens(col("text"))
    docsDf
      .withColumn("w", transform(w, t => lower(t)))
      .withColumn("n_words", TextFns.wordCount(col("text")))
      .withColumn("sum_len",
        coalesce(aggregate(col("w"), lit(0L), (acc, t) => acc + length(t)),
          lit(0L)))
      .withColumn("n_sym",
        (regexp_count(col("text"), lit("#")) +
          regexp_count(col("text"), lit("\\.\\.\\."))).cast("long"))
      .withColumn("n_alpha",
        size(filter(col("w"), t => t.rlike("[a-z]"))).cast("long"))
      .withColumn("n_stops",
        size(array_intersect(array_distinct(col("w")),
          array(GopherStops.map(lit): _*))).cast("long"))
      .withColumn("keep", (
        col("n_words") >= 5 && col("n_words") <= 100000 &&
          col("sum_len") >= col("n_words") * 3L &&
          col("sum_len") <= col("n_words") * 10L &&
          col("n_sym") * 10L <= col("n_words") &&
          col("n_alpha") * 5L >= col("n_words") * 4L &&
          col("n_stops") >= 2L).cast("int"))
      .select(col("doc_id"), col("n_words"), col("sum_len"),
        col("n_sym"), col("n_alpha"), col("n_stops"),
        when(col("n_words") > 0, round(col("sum_len") / col("n_words"), 4))
          .otherwise(lit(0.0)).as("mean_word_len"),
        col("keep"))
  }

  /** t25's within-document repetition battery, factored the same way
    * as [[gopherBattery]] (one definition for the batch query and
    * the streaming twin). All per-doc aggregations are keyed by
    * doc_id, so the result over a union of micro-batches equals the
    * result over the whole input. */
  private[graft] def repetitionBattery(docsDf: DataFrame): DataFrame = {
    val base = docsDf
      .withColumn("w", transform(TextFns.tokens(col("text")), t => lower(t)))
      .withColumn("nw", TextFns.wordCount(col("text")))
    def gramStats(n: Int, dupOnly: Boolean) = {
      val grams = base.filter(col("nw") >= n)
        .select(col("doc_id"), explode(
          transform(sequence(lit(1), col("nw") - (n - 1)),
            i => array_join(slice(col("w"), i, lit(n)), " "))).as("g"))
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      if (dupOnly)
        grams.groupBy(col("doc_id")).agg(
          sum(col("c")).as(s"g${n}_total"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as(s"dup$n"))
      else
        grams.groupBy(col("doc_id")).agg(
          sum(col("c")).as(s"g${n}_total"),
          max(col("c")).as(s"top$n"))
    }
    base.select(col("doc_id"), col("nw"),
        size(array_distinct(col("w"))).cast("long").as("ndw"))
      .withColumn("ndw", when(col("nw") === 0, 0L).otherwise(col("ndw")))
      .join(gramStats(2, dupOnly = false), Seq("doc_id"), "left")
      .join(gramStats(5, dupOnly = true), Seq("doc_id"), "left")
      .na.fill(0L, Seq("g2_total", "top2", "g5_total", "dup5"))
      .withColumn("keep", (
        (col("nw") - col("ndw")) * 10L <= col("nw") * 3L &&
          col("top2") * 5L <= col("g2_total") &&
          col("dup5") * 20L <= col("g5_total") * 3L).cast("int"))
      .select(col("doc_id"), col("nw").cast("long").as("n_words"),
        col("ndw").as("n_distinct"), col("g2_total"), col("top2"),
        col("g5_total"), col("dup5"), col("keep"))
  }

  /** Shared by t17 (keep/drop gate) and t22 (CCNet buckets): per-doc
    * unigram-LM negative log-likelihood in integer micro-nats —
    * rounded once per vocab entry so the per-doc sums are order-free
    * BIGINT arithmetic and replay exactly in the oracle. The LM is
    * corpus-sized-vocabulary only (tf + a 1-row stats broadcast);
    * the per-doc cost is one join + one aggregate. */
  private def perplexityPerDoc(s: SparkSession, d: String): DataFrame = {
    val toks = docs(s, d)
      .filter(TextFns.wordCount(col("text")) > 0)
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), lower(col("tok")).as("term"))
    val tf = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
    val stats = tf.agg(sum(col("c")).as("t_tokens"), count(lit(1)).as("v_terms"))
    val cost = tf.crossJoin(broadcast(stats))
      .select(col("term"),
        round(-log((col("c") + 1).cast("double") / (col("t_tokens") + col("v_terms")))
          * 1e6).cast("long").as("cost_micro"))
    toks.join(cost, Seq("term"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("cost_micro")).as("total_micro"))
      .withColumn("avg_micro_nats",
        floor(col("total_micro") / col("n_tokens")).cast("long"))
  }

  private def hits(words: Column, markers: Seq[String]): Column =
    size(filter(words, w => w.isin(markers.map(lit): _*)))

  private def hitsSql(markers: Seq[String]): String =
    s"CAST(len(list_filter(w, x -> x IN (${markers.map(m => s"'$m'").mkString(", ")}))) AS INT)"

  /** DuckDB twin of [[perplexityPerDoc]] (shared by the t17 and t22
    * oracles): ends in `doc(doc_id, n_tokens, total_micro)`. */
  private val PplCte: String =
    """t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      |  FROM documents WHERE length(trim(text)) > 0),
      |toks AS (SELECT doc_id, lower(unnest(w)) AS term FROM t),
      |tf AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY term),
      |st AS (SELECT SUM(c) AS tt, COUNT(*) AS vt FROM tf),
      |cost AS (SELECT term,
      |  CAST(round(-ln((c + 1) * 1.0 / (tt + vt)) * 1e6) AS BIGINT) AS cost_micro
      |  FROM tf CROSS JOIN st),
      |doc AS (SELECT doc_id, COUNT(*) AS n_tokens,
      |  CAST(SUM(cost_micro) AS BIGINT) AS total_micro
      |  FROM toks JOIN cost USING (term) GROUP BY doc_id)""".stripMargin

  val defs: Map[String, Q] = Map(
    // t1 — language ID: count marker-word hits per language, pick by
    // deterministic cascade. Narrow map over the corpus, no shuffle.
    "t1_lang_id" -> ((s, d) => {
      val w = TextFns.tokens(col("text"))
      docs(s, d)
        .withColumn("w", w)
        .withColumn("en_hits", hits(col("w"), EnMarkers))
        .withColumn("de_hits", hits(col("w"), DeMarkers))
        .withColumn("fr_hits", hits(col("w"), FrMarkers))
        .withColumn("es_hits", hits(col("w"), EsMarkers))
        .withColumn("zh_chars", regexp_count(col("text"), lit("[\\x{4e00}-\\x{9fff}]")).cast("int"))
        .withColumn("pred_lang",
          when(col("zh_chars") > 0, "zh")
            .when(col("es_hits") > col("en_hits") && col("es_hits") > col("de_hits") &&
              col("es_hits") > col("fr_hits"), "es")
            .when(col("fr_hits") > col("en_hits") && col("fr_hits") > col("de_hits"), "fr")
            .when(col("de_hits") > col("en_hits"), "de")
            .otherwise("en"))
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          col("en_hits"), col("de_hits"), col("fr_hits"), col("es_hits"))
        .orderBy(col("doc_id"))
    }),

    // t2 — quality scoring: length / punctuation / stopword ratios +
    // a composite keep flag. Narrow map, predicates codegen'd.
    "t2_text_quality" -> ((s, d) => {
      val w = TextFns.tokens(col("text"))
      docs(s, d)
        .withColumn("w", w)
        .withColumn("wc", TextFns.wordCount(col("text")))
        .withColumn("n_chars", length(col("text")))
        .withColumn("punct", regexp_count(col("text"), lit("[^A-Za-z0-9\\s]")).cast("int"))
        .withColumn("stop_hits", hits(col("w"), EnMarkers))
        .withColumn("avg_word_len", round(col("n_chars") / col("wc"), 4))
        .withColumn("punct_ratio", round(col("punct") / col("n_chars"), 4))
        .withColumn("stopword_ratio", round(col("stop_hits") / col("wc"), 4))
        .withColumn("quality_ok",
          (col("wc") >= 30 && col("punct_ratio") < 0.2).cast("int"))
        .select(col("doc_id"), col("wc"), col("n_chars"), col("avg_word_len"),
          col("punct_ratio"), col("stopword_ratio"), col("quality_ok"))
        .orderBy(col("doc_id"))
    }),

    // t3 — token counting: whitespace words vs a BPE-ish regex
    // tokenizer (letter runs / digit runs / single symbols).
    "t3_token_count" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          TextFns.wordCount(col("text")).as("ws_tokens"),
          regexp_count(col("text"), lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]")).cast("int")
            .as("bpe_tokens"),
          length(col("text")).as("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // t4 — fingerprinting: md5 of normalized text + a 56-bit
    // polynomial rolling hash folded over token hashes (fold order is
    // the token order, identical in both engines).
    "t4_fingerprint" -> ((s, d) => {
      val norm = TextFns.normalizeEntity(col("text"))
      val th = transform(TextFns.tokens(col("text")), w => TextFns.hash60(w))
      val rolling = aggregate(th, lit(0L),
        (h, x) => (h * 31 + x).bitwiseAND(lit(RollMask)))
      docs(s, d)
        .select(col("doc_id"), md5(norm).as("norm_md5"), rolling.as("rolling_hash"))
        .orderBy(col("doc_id"))
    }),

    // t5 — repetition-based quality signals (the Gopher-rule family):
    // fraction of duplicate tokens and duplicate word-3-grams per
    // document, plus the keep/drop flag a pretraining filter would
    // apply. Pure narrow higher-order functions — no shuffle, no UDF.
    "t5_repetition" -> ((s, d) => {
      val w = TextFns.tokens(col("text"))
      docs(s, d)
        .withColumn("w", w)
        // guarded count: size(split("")) is 1, not 0 — the oracle's
        // CASE WHEN length(trim(text))=0 THEN 0 twin is wordCount
        .withColumn("n", TextFns.wordCount(col("text")))
        .withColumn("grams",
          when(col("n") >= 3,
            transform(sequence(lit(1), col("n") - 2),
              i => array_join(slice(col("w"), i, lit(3)), " ")))
            .otherwise(array().cast("array<string>")))
        .withColumn("tok_dup_ratio",
          when(col("n") > 0,
            round(lit(1.0) - size(array_distinct(col("w"))) / col("n").cast("double"), 4))
            .otherwise(lit(0.0)))
        .withColumn("gram3_dup_ratio",
          when(size(col("grams")) > 0,
            round(lit(1.0) - size(array_distinct(col("grams"))) /
              size(col("grams")).cast("double"), 4))
            .otherwise(lit(0.0)))
        .withColumn("keep",
          col("tok_dup_ratio") <= 0.3 && col("gram3_dup_ratio") <= 0.2)
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("tok_dup_ratio"), col("gram3_dup_ratio"), col("keep"))
        .orderBy(col("doc_id"))
    }),

    // t6 — deterministic train/val/test split: hash-bucket every doc
    // (salted md5, bucket = h % 100 → 80/10/10). The split is a pure
    // function of doc_id — stable across runs, partitions, and
    // cluster sizes, and any engine can recompute membership.
    "t6_split" -> ((s, d) => {
      docs(s, d)
        .withColumn("bucket", TextFns.splitBucket(col("doc_id")))
        .withColumn("split", TextFns.splitLabel(col("doc_id")))
        .select(col("doc_id"), col("bucket"), col("split"))
        .orderBy(col("doc_id"))
    }),

    // t7 — TF-IDF top terms per document. Classic two-pass shape:
    // term frequencies are one groupBy (doc, term); document
    // frequencies one groupBy (term) broadcast back; top-3 terms per
    // doc via a PARTITIONED window. The idf is the rational variant
    // (N+1)/(df+1) rather than log-scaled so scores are bit-exact
    // across engines (single IEEE division; ln differs in the last
    // ulp between libm implementations and would make rank ties and
    // round() boundaries engine-dependent).
    "t7_tfidf" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      val toks = docs(s, d)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), lower(col("tok")).as("term"))
      val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = toks.select(col("doc_id"), col("term")).distinct()
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
      tf.join(df, Seq("term"))
        .crossJoin(broadcast(n))
        .withColumn("score",
          (col("tf") * (col("n_docs") + 1)) / (col("df") + 1).cast("double"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 3)
        .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
          round(col("score"), 4).as("tfidf"))
        .orderBy(col("doc_id"), col("rnk"))
    }),

    // t8 — corpus-wide top-20 bigrams: narrow per-doc bigram explode,
    // one count shuffle, top-k via TakeOrderedAndProject. The
    // n-gram-statistics staple of corpus analysis.
    "t8_top_ngrams" -> ((s, d) => {
      val w = TextFns.tokens(col("text"))
      docs(s, d)
        .withColumn("w", w)
        .withColumn("n", size(col("w")))
        .filter(col("n") >= 2)
        .select(explode(
          transform(sequence(lit(1), col("n") - 1),
            i => array_join(slice(col("w"), i, lit(2)), " "))).as("gram"))
        .groupBy(col("gram")).agg(count(lit(1)).as("n_occ"))
        .orderBy(col("n_occ").desc, col("gram"))
        .limit(20)
    }),

    // t10 — BM25 lexical retrieval (k1=1.2, b=0.75): the classic
    // inverted-index ranking twin of the vector search in k7/v1 — a
    // RAG engine needs both. Plan shape is the 100 TB one: the term
    // filter lands BEFORE the tf shuffle (only the query terms'
    // postings are ever aggregated), df is a 3-row broadcast,
    // (n_docs, avgdl) a 1-row broadcast, and the only full-corpus
    // shuffle is the doc-length join on doc_id. Top-10 via
    // TakeOrderedAndProject, never a global sort. Scoring lives in
    // [[bm25Frame]] — ONE definition shared with v23's hybrid-RRF
    // lexical leg, so the two can never drift.
    "t10_bm25" -> ((s, d) =>
      bm25Frame(s, d)
        .orderBy(col("bm25").desc, col("doc_id"))
        .limit(10)),

    // t11 — quality-weighted mixture sampling: per-source keep rates
    // (the data-mixture knob every pretraining corpus tunes), decided
    // by a salted hash of doc_id against the source's rate in basis
    // points. Pure narrow map + one summary shuffle; membership is a
    // deterministic function of (doc_id, source) — any engine, any
    // partitioning, any cluster size reproduces the same sample.
    "t11_mixture_sample" -> ((s, d) => {
      val tier = regexp_extract(col("source"), "(\\d+)$", 1).cast("int") % 4
      val rateBps = element_at(array(lit(10000), lit(5000), lit(2500), lit(1000)),
        tier + 1)
      val h = TextFns.hash60(concat(lit("mix|"), col("doc_id").cast("string"))) % 10000
      docs(s, d)
        .withColumn("rate_bps", rateBps)
        .withColumn("kept", (h < col("rate_bps")).cast("int"))
        .groupBy(col("source"), col("rate_bps"))
        .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
        .orderBy(col("source"))
    }),

    // t12 — MIXTURE SOLVER: t11 applies fixed per-source rates; this
    // computes the rates FROM a target language distribution — the op
    // a pretraining corpus actually runs ("make the mix 40% en /
    // 15% each fr·de·es·zh"). The largest corpus honoring the target
    // exactly is bounded by the scarcest language:
    // T = min_l floor(c_l·10000 / target_bps_l); per-language keeps
    // n_l = floor(T·target_bps_l / 10000) and the hash-membership
    // rate is floor(n_l·10000 / c_l). ALL integer math (DIV), so both
    // engines agree exactly; per-language stats are a 5-row broadcast
    // joined back to the narrow hash test — no per-language window,
    // no skewed partition.
    "t12_mixture_target" -> ((s, d) => {
      val targetBps = map(
        lit("en"), lit(4000), lit("fr"), lit(1500), lit("de"), lit(1500),
        lit("es"), lit(1500), lit("zh"), lit(1500))
      // languages outside the target mix are excluded (the oracle's
      // inner join does the same) — otherwise a sixth language would
      // surface as an all-null row only on this side
      val counts = docs(s, d).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_total"))
        .withColumn("target_bps", element_at(targetBps, col("lang")).cast("long"))
        .filter(col("target_bps").isNotNull)
      val tmax = counts.agg(
        min(expr("n_total * 10000 DIV target_bps")).as("t_max"))
      val rates = counts.crossJoin(broadcast(tmax))
        .withColumn("n_keep", expr("t_max * target_bps DIV 10000"))
        .withColumn("rate_bps", expr("n_keep * 10000 DIV n_total"))
        .select(col("lang"), col("n_total"), col("target_bps"),
          col("n_keep"), col("rate_bps"))
      val h = TextFns.hash60(concat(lit("mix|"), col("doc_id").cast("string"))) % 10000
      docs(s, d).select(col("doc_id"), col("lang"))
        .join(broadcast(rates), Seq("lang"))
        .withColumn("kept", (h < col("rate_bps")).cast("long"))
        .groupBy(col("lang"), col("n_total"), col("target_bps"),
          col("n_keep"), col("rate_bps"))
        .agg(sum(col("kept")).as("n_kept"))
        .orderBy(col("lang"))
    }),

    // t13 — STRATIFIED EXACT-N SAMPLING: exactly StratN docs per
    // language, selected in deterministic salted-hash order — the
    // eval-set construction primitive (fixed-size per-stratum
    // samples, reproducible on any engine/partitioning). Selection
    // goes through the bounded-heap TopK operator (O(n log N),
    // N-row state per language), NOT a per-language sort window —
    // with a handful of languages, window partitions would be the
    // hottest keys in the job; rank numbers are then assigned by a
    // window over only the ≤ StratN surviving rows per language
    // (the select-then-rank decomposition, same as v4).
    "t13_stratified_sample" -> ((s, d) => {
      val h = TextFns.hash60(concat(lit("strat|"), col("doc_id").cast("string")))
      val ranked = docs(s, d).select(col("doc_id"), col("lang"))
        .withColumn("h", h)
      val top = graft.plans.TopK.perKey(ranked, Seq("lang"),
        Seq(col("h"), col("doc_id")), StratN)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      top.withColumn("rank", row_number().over(w))
        .select(col("lang"), col("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank"))
    }),

    // t27 — QUALITY-GATED STRATIFIED SAMPLE (the curation pipeline's
    // real sampling shape, t20 × t13): sampling FIRST wastes budget
    // on rejects, and gating a FINISHED sample under-fills strata —
    // so t20's Gopher battery decides eligibility and t13's
    // salted-hash order ranks ONLY survivors per language, each
    // stratum filling its budget deterministically. The gate is
    // map-side narrow expressions over one scan; the heap shuffle
    // then carries survivors' (lang, hash, id) triples only — at
    // 100 TB the reject share never reaches the exchange.
    "t27_gated_sample" -> ((s, d) => {
      val eligible = gopherBattery(docs(s, d))
        .filter(col("keep") === 1).select(col("doc_id"))
      val h = TextFns.hash60(concat(lit("gated|"), col("doc_id").cast("string")))
      val ranked = docs(s, d).select(col("doc_id"), col("lang"))
        .join(eligible, "doc_id").withColumn("h", h)
      val top = graft.plans.TopK.perKey(ranked, Seq("lang"),
        Seq(col("h"), col("doc_id")), StratN)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("h"), col("doc_id"))
      top.withColumn("rank", row_number().over(w))
        .select(col("lang"), col("rank"), col("doc_id"))
        .orderBy(col("lang"), col("rank"))
    }),

    // t14 — FILTER FUNNEL: the per-stage attrition report every
    // curation pipeline publishes (how many documents survive each
    // cumulative gate: raw → min-length → repetition → language →
    // exact-dedup). All five counts come out of ONE aggregate over
    // one scan — the stages are cumulative boolean conjunctions
    // summed map-side, and the dedup stage is a conditional
    // count(distinct md5) — then a 5-row stack unpivots the single
    // result row. No per-stage rescans, no joins: at 100 TB this is
    // exactly one pass over the corpus.
    "t14_filter_funnel" -> ((s, d) => {
      val w = TextFns.tokens(col("text"))
      val base = docs(s, d)
        .withColumn("n", TextFns.wordCount(col("text")))
        .withColumn("dr",
          when(col("n") > 0,
            size(array_distinct(w)) / col("n").cast("double")).otherwise(lit(0.0)))
        .withColumn("p1", col("n") >= 30)
        .withColumn("p2", col("p1") && col("dr") >= 0.4)
        .withColumn("p3", col("p2") && col("lang") === "en")
      base.agg(
          count(lit(1)).as("c0"),
          sum(when(col("p1"), 1L).otherwise(0L)).as("c1"),
          sum(when(col("p2"), 1L).otherwise(0L)).as("c2"),
          sum(when(col("p3"), 1L).otherwise(0L)).as("c3"),
          countDistinct(when(col("p3"), md5(col("text")))).as("c4"))
        .select(expr(
          """stack(5,
            |  0, 'raw',         c0,
            |  1, 'min_length',  c1,
            |  2, 'repetition',  c2,
            |  3, 'lang_en',     c3,
            |  4, 'exact_dedup', c4) AS (stage_idx, stage, n_docs)""".stripMargin))
        .orderBy(col("stage_idx"))
    }),

    // t15 — QUALITY-CLASSIFIER INFERENCE (fasttext-shaped): score
    // every document with a linear model over hashed token features
    // (bucket = hash60(token) % QsBuckets), entirely as a NARROW MAP —
    // the model lives inside the expression, so inference is
    // embarrassingly parallel: no explode, no join, no shuffle, and
    // the whole scan stays in whole-stage codegen. Scoring is
    // INTEGER-exact (milli-weights summed as LONG, one double
    // division at the end), so the result is bit-identical on any
    // engine/partitioning and carries a full hash oracle. The weights
    // are a deterministic md5-derived fixture standing in for
    // externally-trained parameters (same policy as the V1 encode
    // contract); the inference plumbing is the deliverable.
    "t15_quality_score" -> ((s, d) => {
      val w = TextFns.tokens(col("text"))
      def bucket(t: Column): Column = pmod(TextFns.hash60(t), lit(QsBuckets.toLong))
      def wMilli(b: Column): Column =
        TextFns.hash60(concat(lit("w|"), b.cast("string"))) % 2001 - 1000
      docs(s, d)
        .withColumn("n", TextFns.wordCount(col("text")))
        .withColumn("wz",
          when(col("n") > 0,
            aggregate(w, lit(0L), (acc, t) => acc + wMilli(bucket(t))))
            .otherwise(lit(0L)))
        // score = wz/(1000·n) rounded half-away-from-zero to 6 dp, in
        // EXACT integer math: round(double, 6) is engine-dependent at
        // decimal boundaries (Spark HALF_UPs the shortest-decimal
        // string; DuckDB rounds the raw binary), which flipped one
        // row at sf0.001. q = (2·|wz|·1000 + n) div (2·n) is
        // half-up on |wz·1000/n| micro-units; the final /1e6 is one
        // IEEE division of an integer — bit-identical everywhere.
        .withColumn("nL", col("n").cast("long"))
        .withColumn("q",
          when(col("n") > 0,
            expr("(2 * abs(wz) * 1000 + nL) div (2 * nL)")).otherwise(lit(0L)))
        .withColumn("score_micro",
          when(col("wz") < 0, -col("q")).otherwise(col("q")))
        .withColumn("score", col("score_micro") / lit(1e6))
        .select(col("doc_id"), col("n").as("n_tokens"),
          col("wz").as("raw_milli"), col("score"),
          (col("wz") >= 0).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // t16 — BOILERPLATE SEGMENT REMOVAL (the C4/RefinedWeb line-dedup
    // rule, on deterministic 10-token segments since the fixture text
    // has no newlines): a segment that appears in ≥ SegMinDocs
    // DISTINCT documents is boilerplate and is dropped from every
    // document; the cleaned text is re-assembled in segment order and
    // fingerprinted. Plan shape at 100 TB: one narrow segment explode,
    // one df shuffle keyed by the segment itself (the classic
    // line-dedup shuffle — uniform because the key is a content
    // hash), one join back, one per-doc aggregate. The reassembly
    // list is per-document (bounded by doc length), never global.
    "t16_boilerplate" -> ((s, d) => {
      val base = docs(s, d)
        .select(col("doc_id"), TextFns.tokens(col("text")).as("w"),
          TextFns.wordCount(col("text")).as("n"))
      val segs = base.filter(col("n") > 0)
        .select(col("doc_id"), posexplode(
          transform(sequence(lit(0), floor((col("n") - 1) / SegTokens).cast("int")),
            i => array_join(slice(col("w"), i * SegTokens + 1, lit(SegTokens)), " "))))
        .toDF("doc_id", "seg_idx", "seg")
      val segdf = segs.groupBy(col("seg"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
      val marked = segs.join(segdf, Seq("seg"))
        .withColumn("bp", col("n_docs") >= SegMinDocs)
      val agg = marked.groupBy(col("doc_id"))
        .agg(count(lit(1)).cast("int").as("n_segs"),
          sum(col("bp").cast("int")).cast("int").as("n_removed"),
          sum(when(!col("bp"), size(split(col("seg"), " "))).otherwise(0))
            .cast("int").as("kept_tokens"),
          array_join(transform(
            array_sort(collect_list(when(!col("bp"),
              struct(col("seg_idx"), col("seg"))))),
            x => x("seg")), " ").as("cleaned"))
      docs(s, d).select(col("doc_id"))
        .join(agg, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_segs"), lit(0)).as("n_segs"),
          coalesce(col("n_removed"), lit(0)).as("n_removed"),
          coalesce(col("kept_tokens"), lit(0)).as("kept_tokens"),
          md5(coalesce(col("cleaned"), lit(""))).as("cleaned_md5"))
        .orderBy(col("doc_id"))
    }),

    // t17 — UNIGRAM-LM PERPLEXITY SCORING (the CCNet/Wikipedia-LM
    // quality gate): train a Laplace-smoothed unigram model on the
    // corpus itself, score every document by average per-token cost,
    // keep the low-perplexity side. Costs are INTEGER micro-nats
    // (one ln per VOCAB ENTRY rounded to a long, then order-free
    // integer sums), so the result is bit-identical on any
    // engine/partitioning. At 100 TB: the model is a vocab-sized
    // table (broadcast-join side), the corpus pass is one token
    // explode + one join + one per-doc aggregate; the 1-row (T, V)
    // stats are a broadcast scalar.
    "t17_perplexity" -> ((s, d) => {
      perplexityPerDoc(s, d)
        .select(col("doc_id"), col("n_tokens"), col("total_micro"),
          col("avg_micro_nats"),
          (col("avg_micro_nats") < PplMaxMicroNats).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // t18 — VOCABULARY COVERAGE / OOV-RATE REPORT: fix the tokenizer
    // vocabulary at the top-[[VocabK]] corpus terms and report every
    // document's out-of-vocabulary token rate — the report that
    // drives vocab-size choices for a tokenizer (coverage vs table
    // size). The vocab is MODEL-sized (top-K, TakeOrderedAndProject),
    // so at 100 TB it broadcasts to the narrow membership probe; the
    // only corpus shuffles are the term count and the per-doc
    // aggregate.
    "t18_vocab_coverage" -> ((s, d) => {
      val toks = docs(s, d)
        .filter(TextFns.wordCount(col("text")) > 0)
        .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok"))
        .select(col("doc_id"), lower(col("tok")).as("term"))
      val vocab = toks.groupBy(col("term")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(VocabK)
        .select(col("term"), lit(1).as("iv"))
      toks.join(broadcast(vocab), Seq("term"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"),
          countDistinct(when(col("iv").isNull, col("term"))).as("n_oov_terms"))
        .withColumn("oov_rate",
          round(col("n_oov") / col("n_tokens").cast("double"), 4))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          col("n_oov_terms"), col("oov_rate"))
        .orderBy(col("doc_id"))
    }),

    // t19 — DSIR IMPORTANCE WEIGHTS (hashed n-gram importance
    // resampling, Xie et al. NeurIPS 2023): score every document by
    // how much more likely its hashed unigram+bigram features are
    // under a TARGET distribution (here: the English slice) than
    // under the RAW corpus — the data-selection primitive behind
    // "make the pretraining mix look like Wikipedia". Per-bucket
    // log-ratios are rounded ONCE to integer micro-nats (the t17
    // trick), then summed as longs — bit-identical on any
    // engine/partitioning. At 100 TB: the model is a
    // [[DsirBuckets]]-row broadcast; the corpus pays one feature
    // explode feeding two shuffles (bucket counts, per-doc sum) —
    // no all-pairs, no driver state.
    "t19_dsir_weights" -> ((s, d) => {
      val b = lit(DsirBuckets)
      val base = docs(s, d)
        .filter(TextFns.wordCount(col("text")) > 0)
        .select(col("doc_id"), col("lang"),
          transform(TextFns.tokens(col("text")), t => lower(t)).as("w"))
      val bigrams = zip_with(
        slice(col("w"), lit(1), size(col("w")) - 1),
        slice(col("w"), lit(2), size(col("w")) - 1),
        (a, c) => concat(a, lit(" "), c))
      val feats = base
        .select(col("doc_id"), col("lang"),
          explode(concat(col("w"), bigrams)).as("feat"))
        .select(col("doc_id"), col("lang"),
          (TextFns.hash60(concat(lit("f|"), col("feat"))) % b).as("bucket"))
      val bc = feats.groupBy(col("bucket"))
        .agg(count(lit(1)).as("raw_c"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("tgt_c"))
      val tot = bc.agg(sum(col("raw_c")).as("raw_total"),
        sum(col("tgt_c")).as("tgt_total"))
      val lr = bc.crossJoin(broadcast(tot))
        .select(col("bucket"),
          round((log((col("tgt_c") + 1).cast("double") / (col("tgt_total") + b))
            - log((col("raw_c") + 1).cast("double") / (col("raw_total") + b)))
            * 1e6).cast("long").as("lr_micro"))
      feats.join(broadcast(lr), Seq("bucket"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_feats"), sum(col("lr_micro")).as("logw_micro"))
        .withColumn("avg_micro",
          floor(col("logw_micro") / col("n_feats")).cast("long"))
        .select(col("doc_id"), col("n_feats"), col("logw_micro"),
          col("avg_micro"),
          (col("avg_micro") >= 0L).cast("int").as("keep"))
        .orderBy(col("doc_id"))
    }),

    // t20 — GOPHER QUALITY RULES (Rae et al. 2021, A1.1): the
    // published heuristic battery — word count bounds, mean word
    // length 3–10, symbol-to-word ratio, ≥80% words alphabetic,
    // ≥2 distinct stopwords present. Every KEEP decision is an
    // INTEGER comparison (3·n ≤ Σlen ≤ 10·n, 10·sym ≤ n,
    // 5·alpha ≥ 4·n) so no float rounding can flip a row between
    // engines; the reported ratios are display-rounded only. Pure
    // narrow map — zero shuffles at any scale.
    "t20_gopher_rules" -> ((s, d) => gopherBattery(docs(s, d)).orderBy(col("doc_id"))),

    // q31 — GROUPING SETS (the general form of q22's ROLLUP and q25's
    // CUBE): one aggregation pass expands to the declared grouping
    // combinations; labels are coalesced so both engines emit the
    // same totals rows without relying on engine-specific
    // grouping_id bit orders.
    "q31_grouping_sets" -> ((s, d) => {
      graft.Tables.registerAll(s, d)
      s.sql(
        """SELECT coalesce(source, 'ALL') AS source,
          |  coalesce(lang, 'ALL') AS lang,
          |  count(*) AS n_docs, sum(n_chars) AS sum_chars
          |FROM documents
          |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
          |ORDER BY source, lang""".stripMargin)
    }),

    // t9 — PII redaction: emails, URLs, long digit runs → typed
    // placeholder tokens, with per-doc redaction counts — the scrub
    // pass every training-data pipeline runs before publication.
    // Narrow map, no shuffle; patterns deliberately simple and shared
    // verbatim with the oracle.
    "t9_redact" -> ((s, d) => {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val url = "http\\S+"
      val digits = "\\d{6,}"
      docs(s, d)
        .withColumn("n_emails", regexp_count(col("text"), lit(email)).cast("int"))
        .withColumn("n_urls", regexp_count(col("text"), lit(url)).cast("int"))
        .withColumn("n_digit_runs", regexp_count(col("text"), lit(digits)).cast("int"))
        .withColumn("redacted",
          regexp_replace(regexp_replace(regexp_replace(col("text"),
            email, "<EMAIL>"), url, "<URL>"), digits, "<NUM>"))
        .select(col("doc_id"), col("n_emails"), col("n_urls"),
          col("n_digit_runs"), md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),

    // t26 — INVISIBLE-CHARACTER SCRUB (zero-width + BOM stripping):
    // the tokenizer-hygiene pass LLM pipelines run against
    // homoglyph/stealth-injection text — zero-width
    // space/joiner/non-joiner and BOM characters carry no glyph but
    // change tokenization. The fixture corpus is clean bytes, so the
    // operator's wire shape is synthesized deterministically (a
    // hash-chosen ~20% of docs arrives wrapped in U+200B…U+FEFF —
    // d14's synthesize-the-payload pattern), then scrubbed with one
    // codegen'd regexp_replace. The oracle states the EXPECTED clean
    // text's md5 straight from source (clean ≡ original), so a scrub
    // that strips too little OR too much breaks the hash — a
    // round-trip proof, not a replay. Narrow map, zero shuffles.
    "t26_strip_invisible" -> ((s, d) => {
      val dirty = graft.ops.TextFns.hash60(concat(lit("zw|"),
        col("doc_id").cast("string"))) % 5 === 0
      docs(s, d)
        .withColumn("injected", dirty)
        .withColumn("wire", when(dirty,
          concat(lit("\u200B"), col("text"), lit("\uFEFF")))
          .otherwise(col("text")))
        .withColumn("clean",
          regexp_replace(col("wire"), "[\u200B\u200C\u200D\uFEFF]", ""))
        .select(col("doc_id"), col("injected"),
          (length(col("wire")) - length(col("clean"))).cast("int").as("n_invisible"),
          md5(col("clean")).as("clean_md5"))
        .orderBy(col("doc_id"))
    }),

    // q28 — PIVOT: per-source document counts spread across language
    // columns (explicit value list → deterministic schema; Spark
    // compiles it to the same partial-agg shape as CASE-sums, which
    // is also exactly how the oracle expresses it).
    "q28_pivot" -> ((s, d) => {
      docs(s, d)
        .groupBy(col("source"))
        .pivot("lang", Seq("de", "en", "es", "fr", "zh"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .orderBy(col("source"))
    }),

    // m1 — multimodal plumbing: treat text as an opaque binary column
    // and extract typed metadata (the schema/partitioning pattern for
    // image/audio payloads; the decode itself is stubbed in
    // graft.ops.Multimodal because codec libs aren't in scope).
    "m1_binary_meta" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          octet_length(col("text")).as("byte_len"),
          hex(substring(col("text"), 1, 8)).as("head_hex"),
          sha2(col("text"), 256).as("sha256"))
        .orderBy(col("doc_id"))
    }),

    // m2 — multimodal DECODE + frame sampling end to end: the figures
    // table (payload = the document's bytes), the mapPartitions codec
    // seam (graft.ops.Multimodal.decode — deterministic fake codec),
    // and the frame-sampling generator, joined per figure. The fake
    // codec is pure byte math, so the whole path is HASHABLE: the
    // oracle recomputes dimensions from byte length and the 8-bin
    // byte histogram from char classes (fixture text is ASCII ⇒
    // chars == bytes; bin = byte >> 5 ⇒ bins 1–3 are the printable
    // ranges, the rest 0). Histogram counts are recovered exactly
    // from the normalized float feature as round(f_i · byte_len)
    // (count ≤ byte_len ≪ 2^24 ⇒ float error < 0.5).
    "m2_decode_frames" -> ((s, d) => {
      import graft.ops.Multimodal
      val figs = Multimodal.figuresFromDocuments(docs(s, d))
      val dec = Multimodal.decode(figs)
      val frames = Multimodal.sampleFrames(figs, frameBytes = 64, stride = 4)
        .groupBy(col("figure_id"))
        .agg(count(lit(1)).as("n_frames"),
          sum(octet_length(col("frame")).cast("long")).as("frame_bytes"))
      val hb = (0 until 8).map(i =>
        round(element_at(col("feature"), i + 1) * col("byte_len"))
          .cast("long").as(s"hb$i"))
      dec.join(frames, Seq("figure_id"))
        .select(Seq(col("figure_id"), col("media_type"), col("byte_len"),
          col("width"), col("height"), col("n_channels"),
          col("n_frames"), col("frame_bytes")) ++ hb: _*)
        .orderBy(col("figure_id"))
    }),

    // t25 — WITHIN-DOCUMENT REPETITION FILTERS (Gopher §A1.1's
    // repetition rules — the half of Gopher t20 doesn't cover, and
    // the complement of d12's CROSS-document spans): per doc the
    // duplicate-word fraction, the most-frequent-bigram occurrence
    // share, and the duplicate-5-gram occurrence share, each gated by
    // its Gopher-style threshold. ALL comparisons are integer
    // cross-multiplications (dup·10 ≤ nw·3 etc.) and the published
    // columns are raw integer counts — no float division anywhere,
    // so engine rounding can never diverge (the x12 lesson). Scale
    // shape: one gram explode + one (doc, gram) count + one doc
    // aggregate per width — all shuffles keyed by doc/gram, nothing
    // corpus-global; the same shape d12 already measures linear.
    "t25_repetition" -> ((s, d) =>
      repetitionBattery(docs(s, d)).orderBy(col("doc_id"))),

    // m3 — FRAME-LEVEL OVERLAP DEDUP: the video analogue of d13's
    // containment — two media files sharing SAMPLED FRAMES (same
    // scene, re-encoded container) that whole-payload hashing (d14)
    // misses when the files differ elsewhere. Pipeline: the m2 frame
    // sampler (every stride-th 64-byte frame of the payload) → md5
    // per frame → df-capped inverted-index join on frame hash →
    // per-pair shared-frame count + overlap fraction against the
    // smaller figure's kept-frame count (exact for the declared
    // capped universe, the d13/k17 contract). All hash/substring
    // math replays in SQL, so the full oracle applies. At 100 TB:
    // frames are (figure, 16-byte hash) rows — corpus-sized but
    // thin; the join is bucketed by frame hash with the df-cap
    // bounding bucket width, never all-pairs.
    "m3_frame_dedup" -> ((s, d) => {
      import graft.ops.Multimodal
      val figs = Multimodal.figuresFromDocuments(docs(s, d))
      val frames = Multimodal.sampleFrames(figs, frameBytes = 64, stride = 4)
        .select(col("figure_id"), md5(col("frame")).as("fh")).distinct()
      val dfc = frames.groupBy(col("fh")).agg(count(lit(1)).as("nfig"))
      // kept feeds three consumers (self-join both sides + sizes) —
      // cut the plan here (k17's move) so the sample→hash→distinct→
      // df-cap chain runs once, not three times
      val kept = frames.join(
        dfc.filter(col("nfig") <= FrameDfCap).select(col("fh")), "fh")
        .cutLineage(true)
      val sizes = kept.groupBy(col("figure_id")).agg(count(lit(1)).as("sz"))
      val a = kept.select(col("figure_id").as("a_fig"), col("fh"))
      val b = kept.select(col("figure_id").as("b_fig"), col("fh"))
      a.join(b, Seq("fh")).filter(col("a_fig") < col("b_fig"))
        .groupBy(col("a_fig"), col("b_fig")).agg(count(lit(1)).as("n_shared"))
        .join(sizes.withColumnRenamed("figure_id", "a_fig")
          .withColumnRenamed("sz", "na"), Seq("a_fig"))
        .join(sizes.withColumnRenamed("figure_id", "b_fig")
          .withColumnRenamed("sz", "nb"), Seq("b_fig"))
        .withColumn("overlap",
          round(col("n_shared") / least(col("na"), col("nb")), 4))
        .select(col("a_fig"), col("b_fig"), col("n_shared"),
          col("na"), col("nb"), col("overlap"))
        .orderBy(col("a_fig"), col("b_fig"))
    }),

    // m4 — REAL IMAGE CODEC (the one honest stub made real for PNG):
    // the Multimodal seam's decode stops being a byte-identity fake —
    // javax.imageio ships in the JDK, so the pipeline ENCODES one
    // deterministic 16×16 grayscale PNG per document (pixel(x,y) =
    // (doc_id·31 + x·7 + y·13) mod 256, through ImageIO's real PNG
    // writer) twice (an 'a' and a 'b' twin per doc), DECODES the
    // actual PNG bytes back (real parsing — width/height come from
    // the decoder), and computes the classic 8×8 block-mean aHash on
    // the REAL pixel raster. Twins have identical pixels, so exact
    // band-match dedup (d14's join shape on real images) finds every
    // pair: n_dups counts figures sharing all four bands. PNG is
    // lossless and TYPE_BYTE_GRAY round-trips samples exactly, so the
    // DuckDB oracle replays the pixel formula + integer aHash and the
    // hash pins a REAL codec round-trip pixel for pixel. At 100 TB
    // the plan is unchanged from the fake path: payloads stay on
    // their rows, codec state amortizes per partition, the dedup is
    // one groupBy on the band signature.
    "m4_imageio_ahash" -> ((s, d) => {
      import graft.ops.Multimodal
      val ids = docs(s, d).select(col("doc_id"))
      val figs = Multimodal.pngFigures(ids, "a")
        .unionByName(Multimodal.pngFigures(ids, "b"))
      val hashed = Multimodal.aHashPixels(figs).cutLineage(true)
      val dups = hashed.groupBy(col("b0"), col("b1"), col("b2"), col("b3"))
        .agg(count(lit(1)).as("n_dups"))
      hashed.join(dups, Seq("b0", "b1", "b2", "b3"))
        .select(col("figure_id"), col("width"), col("height"),
          col("b0"), col("b1"), col("b2"), col("b3"), col("n_dups"))
        .orderBy(col("figure_id"))
    }),

    // m5 — REAL AUDIO CODEC (the seam's second real half, after m4's
    // PNG): javax.sound.sampled also ships in the JDK, so the
    // pipeline ENCODES one deterministic 16-bit mono PCM clip per
    // document through AudioSystem's real WAV writer (sample(i) =
    // ((doc_id·131 + i·7919) mod 65536) − 32768), DECODES the actual
    // WAV container back — sample rate, channel count and frame
    // count come from the REAL header parser, so a container
    // regression breaks the hash three times over — and computes an
    // integer 8-bin amplitude histogram over the decoded PCM. PCM is
    // lossless, so the oracle replays the sample formula exactly.
    // Only video now keeps the documented fake codec (the JDK ships
    // no decoder for it). Plan shape identical to m4: payloads on
    // their rows, codec state per partition, narrow map out.
    "m5_wav_audio" -> ((s, d) => {
      import graft.ops.Multimodal
      Multimodal.decodeWav(
          Multimodal.wavFigures(docs(s, d).select(col("doc_id")), "a"))
        .orderBy(col("figure_id"))
    }),

    // s1 — §2.11: tumbling-window event aggregation, the batch twin
    // of graft.streaming.Events (same 5-minute windows + decimal-exact
    // sums). Partial agg + one shuffle on (window, type).
    "s1_event_window" -> ((s, d) => {
      Tables.load(s, d, "events")
        .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), dsum2(col("value")).as("sum_value"))
        .select(col("w.start").as("wstart"), col("event_type"), col("n"),
          col("sum_value"))
        .orderBy(col("wstart"), col("event_type"))
    }),

    // t21 — DATA-QUALITY PROFILING REPORT: per-column null count,
    // distinct count, and min/max (values for scalars and enums,
    // lengths for long text) in ONE aggregation pass — the contract
    // check run before any corpus enters training. All 21 aggregates
    // share a single scan; the distinct counts are the only shuffles
    // (Catalyst plans them as one expand + aggregate). At 100 TB the
    // exact text distinct is the knob to watch — swap in
    // approx_count_distinct (x1's HLL) when exactness isn't required;
    // the report shape is identical.
    "t21_profile" -> ((s, d) => {
      val df = docs(s, d)
      def nNull(c: String) = sum(when(col(c).isNull, 1L).otherwise(0L))
      val a = df.agg(
        nNull("doc_id").as("id_nn"), countDistinct(col("doc_id")).as("id_nd"),
        min(col("doc_id")).cast("string").as("id_min"),
        max(col("doc_id")).cast("string").as("id_max"),
        nNull("text").as("tx_nn"), countDistinct(col("text")).as("tx_nd"),
        min(length(col("text"))).cast("string").as("tx_min"),
        max(length(col("text"))).cast("string").as("tx_max"),
        nNull("lang").as("lg_nn"), countDistinct(col("lang")).as("lg_nd"),
        min(col("lang")).as("lg_min"), max(col("lang")).as("lg_max"),
        nNull("source").as("sc_nn"), countDistinct(col("source")).as("sc_nd"),
        min(col("source")).as("sc_min"), max(col("source")).as("sc_max"),
        nNull("n_chars").as("nc_nn"), countDistinct(col("n_chars")).as("nc_nd"),
        min(col("n_chars")).cast("string").as("nc_min"),
        max(col("n_chars")).cast("string").as("nc_max"))
      a.selectExpr(
        """stack(5,
          |  'doc_id',  id_nn, id_nd, id_min, id_max,
          |  'lang',    lg_nn, lg_nd, lg_min, lg_max,
          |  'n_chars', nc_nn, nc_nd, nc_min, nc_max,
          |  'source',  sc_nn, sc_nd, sc_min, sc_max,
          |  'text',    tx_nn, tx_nd, tx_min, tx_max
          |) AS (col_name, n_null, n_distinct, vmin, vmax)""".stripMargin)
        .orderBy(col("col_name"))
    }),

    // t22 — CCNet-STYLE PERPLEXITY BUCKETS (Wenzek et al. 2020):
    // split each language's documents into head/middle/tail thirds by
    // unigram-LM perplexity percentile — the standard quality
    // stratification before mixture sampling (t11/t12 then sample per
    // bucket). Reuses t17's integer micro-nat LM so the ranking key
    // is exact. The percentile is EXACT but never windows the corpus:
    // a naive percent_rank() OVER (PARTITION BY lang ...) is one
    // reducer per language — 20 TB through a single sort buffer at
    // target scale. Instead: aggregate to per-(lang, value) counts
    // (value-level table, ≤ |distinct micro-nat values| rows), run
    // the cumulative window THERE, and broadcast the ranks back.
    // pr = below/(n−1) is exactly percent_rank's tied-min-rank
    // semantics, so value ties land in the same bucket (the standard
    // definition) and the oracle is a plain percent_rank.
    "t22_ccnet_buckets" -> ((s, d) => {
      val ppl = perplexityPerDoc(s, d)
        .join(docs(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      val vc = ppl.groupBy(col("lang"), col("avg_micro_nats"))
        .agg(count(lit(1)).as("cnt"))
      val wv = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("avg_micro_nats"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val withBelow = vc.withColumn("below", coalesce(sum(col("cnt")).over(wv), lit(0L)))
      val n = ppl.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      val pr = withBelow.join(n, Seq("lang"))
        .withColumn("pr",
          when(col("n_lang") > 1, col("below") / (col("n_lang") - 1))
            .otherwise(lit(0.0)))
      ppl.join(broadcast(pr.select(col("lang"), col("avg_micro_nats"), col("pr"))),
          Seq("lang", "avg_micro_nats"))
        .withColumn("bucket",
          when(col("pr") < lit(1.0 / 3), "head")
            .when(col("pr") < lit(2.0 / 3), "middle")
            .otherwise("tail"))
        .select(col("doc_id"), col("lang"), col("avg_micro_nats"),
          round(col("pr") * 1e6).cast("long").as("pr_micro"), col("bucket"))
        .orderBy(col("doc_id"))
    }),

    // t23 — WEIGHTED RESERVOIR SAMPLE per language (A-Res, Efraimidis
    // & Spirakis 2006): exactly [[WsN]] docs per lang with inclusion
    // probability ∝ weight (word count). Each doc draws a
    // deterministic uniform u ∈ (0,1] from its id hash and gets
    // priority −ln(u)/w — an Exp(w) variate — and the N smallest
    // priorities per group win. t11/t12 sample at a RATE (Bernoulli,
    // approximate N); this is the exact-N weighted complement, the
    // sampler used when a mixture recipe demands exact per-source
    // counts with quality weighting. Priorities are integer
    // micro-units (the t17/t19 trick) so the ranking key is
    // cross-engine exact. Plan shape: narrow map → TopKPerKeyExec
    // bounded heap (partial per partition, merge per key) → the
    // row_number window only ever sees ≤ N·|langs| survivors. No
    // corpus sort, no per-language reducer hotspot — one pass at
    // 100 TB regardless of skew.
    "t23_weighted_sample" -> ((s, d) => {
      val base = docs(s, d)
        .filter(length(trim(col("text"))) > 0)
        .select(col("doc_id"), col("lang"),
          TextFns.wordCount(col("text")).cast("long").as("weight"))
        .withColumn("u",
          (TextFns.hash60(concat(lit("ws|"), col("doc_id").cast("string"))) + 1)
            .cast("double") / lit(1.152921504606846976e18))
        .withColumn("cost_micro",
          round(-log(col("u")) * lit(1e6) / col("weight")).cast("long"))
      val top = graft.plans.TopK.perKey(base, Seq("lang"),
        Seq(col("cost_micro"), col("doc_id")), WsN)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("lang")).orderBy(col("cost_micro"), col("doc_id"))
      top.withColumn("rank", row_number().over(w))
        .select(col("lang"), col("rank"), col("doc_id"), col("weight"),
          col("cost_micro"))
        .orderBy(col("lang"), col("rank"))
    }),

    // t24 — Unicode NFC NORMALIZATION via the codegen'd graft_nfc
    // expression (functions/UnicodeNormalize.scala): composed vs
    // decomposed grapheme forms must collapse before any
    // hash-equality operator (d1/d2/d3 dedup, t18 vocab, k3 entity
    // keys) sees the text. The fixture corpus is ASCII-clean, so a
    // decomposed probe suffix ([[NfcProbe]]) is appended to every
    // row to make the normalization observable: n_raw > n_norm on
    // every row, and the composed output must byte-match DuckDB's
    // nfc_normalize. Narrow map over the scan — no shuffle, stays
    // inside WholeStageCodegen.
    "t24_nfc_normalize" -> ((s, d) => {
      docs(s, d)
        .select(col("doc_id"),
          concat(substring(col("text"), 1, 40), lit(NfcProbe)).as("raw"))
        .select(col("doc_id"),
          TextFns.nfc(col("raw")).as("norm_text"),
          length(col("raw")).cast("long").as("n_raw"),
          length(TextFns.nfc(col("raw"))).cast("long").as("n_norm"))
        .orderBy(col("doc_id"))
    }),

    // t28 — BPE TOKENIZER TRAINING (Sennrich et al. 2016 — the real
    // merge-learning loop behind t3's "BPE-ish" regex count): the
    // corpus word-frequency table (capped deterministically at
    // [[BpeTrainWords]] — the standard practice; BPE trains on word
    // frequencies, never raw text) is encoded as delimiter-wrapped
    // symbol strings '<l><o><w>', and each of [[BpeMerges]] rounds is
    // the engine's fixpoint shape (d6/k11): ONE pair-count shuffle
    // (adjacent symbol pairs weighted by word count) + ONE broadcast
    // argmax merge applied as a plain string replace — '<l><o>' →
    // '<lo>' — whose left-to-right non-overlapping scan is identical
    // in Java and DuckDB, and whose per-symbol wrapping makes merges
    // boundary-exact (no substring or shared-delimiter hazards, even
    // on same-symbol chains). Ties break (count DESC, left, right) —
    // ASCII order, engine-identical — so the learned merge table is
    // bit-deterministic and the whole loop unrolls into oracle SQL.
    // At 100 TB: the corpus-sized work is ONE word-count shuffle;
    // every round after it runs on the capped vocab table (raise the
    // cap, not the shape).
    "t28_bpe_train" -> ((s, d) =>
      bpeMerges(s, d)
        .select(col("rank"), col("l").as("left_sym"), col("r").as("right_sym"),
          concat(col("l"), col("r")).as("merged"), col("pc").as("pair_count"))
        .orderBy(col("rank"))),

    // t29 — TOKENIZE WITH THE LEARNED VOCAB (t28's consumer — t3's
    // token count upgraded from a fixed regex to the trained
    // merges): every corpus word is symbol-encoded, the 8 learned
    // merges apply in rank order (broadcast 1-row joins — narrow
    // maps, no shuffle), and per-doc token counts aggregate over the
    // word multiset. The replace-application is corpus-DISTINCT-word
    // sized, not corpus-sized: the merge pass runs once per distinct
    // word, then joins back — exactly how production tokenizer
    // pipelines amortize vocabulary work.
    "t29_bpe_tokenize" -> ((s, d) => {
      val words = docs(s, d).select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("word"))
      val tokenized = applyMerges(
        words.select(col("word")).distinct()
          .withColumn("sym", regexp_replace(col("word"), "(.)", "<$1>")),
        bpeMerges(s, d))
        .select(col("word"),
          size(split(regexp_replace(col("sym"), "^<|>$", ""), "><")).as("n_sym"))
      val perDoc = words.join(tokenized, "word")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("nw"), sum(col("n_sym")).cast("long").as("bt"))
      docs(s, d).select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("nw"), lit(0L)).as("n_words"),
          coalesce(col("bt"), lit(0L)).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    })
  )

  /** t28/t29: merge rounds and the deterministic training-vocab cap.
    * Small fixed budgets keep the loop unrollable into oracle SQL —
    * the 100 TB knob is the cap, not the shape. */
  val BpeMerges = 8
  val BpeTrainWords = 2000

  /** The learned merge table (rank, l, r, pc) — one row per round,
    * Derived-cached per (session, sf) so t28 and t29 train once. */
  private def bpeMerges(s: SparkSession, d: String): DataFrame =
    Derived.of(s, d, "bpe_merges") {
      var cur = docs(s, d)
        .select(explode(
          regexp_extract_all(lower(col("text")), lit("[a-z]+"), lit(0)))
          .as("word"))
        .filter(length(col("word")) >= 2)
        .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word")).limit(BpeTrainWords)
        .withColumn("sym", regexp_replace(col("word"), "(.)", "<$1>"))
        .cutLineage(true)
      val merges = Seq.newBuilder[DataFrame]
      for (r <- 1 to BpeMerges) {
        val pairs = cur
          .withColumn("arr",
            split(regexp_replace(col("sym"), "^<|>$", ""), "><"))
          .filter(size(col("arr")) >= 2)
          .select(col("cnt"), explode(expr(
            "transform(sequence(0, size(arr) - 2), " +
              "i -> struct(arr[i] AS l, arr[i + 1] AS r))")).as("p"))
          .select(col("p.l").as("l"), col("p.r").as("r"), col("cnt"))
          .groupBy(col("l"), col("r")).agg(sum(col("cnt")).as("pc"))
        val best = pairs.orderBy(col("pc").desc, col("l"), col("r"))
          .limit(1).cutLineage(true)
        merges += best.withColumn("rank", lit(r))
        cur = cur
          .crossJoin(broadcast(
            best.select(col("l").as("_l"), col("r").as("_r"))))
          .withColumn("sym", expr(
            "replace(sym, '<' || _l || '><' || _r || '>', " +
              "'<' || _l || _r || '>')"))
          .select(col("word"), col("cnt"), col("sym"))
          .cutLineage(true)
      }
      merges.result().reduce(_ unionByName _)
    }

  /** Apply the learned merges in rank order to a '<s1><s2>…' encoded
    * `sym` column — [[BpeMerges]] broadcast 1-row joins, each a
    * narrow string replace. */
  private def applyMerges(df: DataFrame, merges: DataFrame): DataFrame =
    (1 to BpeMerges).foldLeft(df) { (acc, r) =>
      acc.crossJoin(broadcast(merges.filter(col("rank") === r)
          .select(col("l").as("_l"), col("r").as("_r"))))
        .withColumn("sym", expr(
          "replace(sym, '<' || _l || '><' || _r || '>', " +
            "'<' || _l || _r || '>')"))
        .drop("_l", "_r")
    }

  /** t24: probe suffix "resume cafe" with accents — the resume
    * accents DECOMPOSED (e + combining acute U+0301), the cafe accent
    * COMPOSED (U+00E9) — so NFC must compose the former and pass the
    * latter through. Escapes only, no raw non-ASCII in source; the
    * oracle twin builds identical bytes via chr(). */
  val NfcProbe = " re\u0301sume\u0301 caf\u00e9"

  val oracles: Map[String, String] = Map(
    // segment explode mirrors the Spark transform(sequence(...)) term
    // for term; the ordered string_agg replays the array_sort(struct)
    // reassembly (seg_idx is unique per doc, so both orders agree)
    "t16_boilerplate" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
         |g AS (SELECT doc_id, w,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END AS n FROM t),
         |segs AS (
         |  SELECT doc_id, i AS seg_idx,
         |    array_to_string(w[i*$SegTokens+1 : i*$SegTokens+$SegTokens], ' ') AS seg
         |  FROM g, LATERAL unnest(range(0,
         |    CAST(floor((n - 1) / $SegTokens.0) AS BIGINT) + 1)) AS u(i)
         |  WHERE n > 0),
         |df AS (SELECT seg, COUNT(DISTINCT doc_id) AS n_docs FROM segs GROUP BY seg),
         |m AS (SELECT s.doc_id, s.seg_idx, s.seg, d.n_docs >= $SegMinDocs AS bp
         |      FROM segs s JOIN df d USING (seg)),
         |agg AS (
         |  SELECT doc_id,
         |    CAST(COUNT(*) AS INT) AS n_segs,
         |    CAST(COUNT(*) FILTER (bp) AS INT) AS n_removed,
         |    CAST(COALESCE(SUM(len(string_split(seg, ' '))) FILTER (NOT bp), 0)
         |      AS INT) AS kept_tokens,
         |    string_agg(seg, ' ' ORDER BY seg_idx) FILTER (NOT bp) AS cleaned
         |  FROM m GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(a.n_segs, 0) AS n_segs,
         |  COALESCE(a.n_removed, 0) AS n_removed,
         |  COALESCE(a.kept_tokens, 0) AS kept_tokens,
         |  md5(COALESCE(a.cleaned, '')) AS cleaned_md5
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    // one ln per vocab entry rounded to integer micro-nats, then
    // order-free BIGINT sums — engine-independent by construction
    "t17_perplexity" ->
      s"""WITH $PplCte
         |SELECT doc_id, n_tokens, total_micro,
         |  CAST(floor(total_micro * 1.0 / n_tokens) AS BIGINT) AS avg_micro_nats,
         |  CASE WHEN floor(total_micro * 1.0 / n_tokens) < $PplMaxMicroNats
         |       THEN 1 ELSE 0 END AS keep
         |FROM doc ORDER BY doc_id""".stripMargin,

    // the top-K vocab is reproduced with the same (count desc, term)
    // total order; OOV membership is then a deterministic set probe
    "t18_vocab_coverage" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |toks AS (SELECT doc_id, lower(unnest(w)) AS term FROM t),
         |vocab AS (SELECT term FROM (
         |  SELECT term, row_number() OVER (ORDER BY COUNT(*) DESC, term) AS rn
         |  FROM toks GROUP BY term) x WHERE rn <= $VocabK)
         |SELECT tk.doc_id, COUNT(*) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  COUNT(DISTINCT CASE WHEN v.term IS NULL THEN tk.term END) AS n_oov_terms,
         |  round(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
         |    AS oov_rate
         |FROM toks tk LEFT JOIN vocab v ON tk.term = v.term
         |GROUP BY tk.doc_id
         |ORDER BY tk.doc_id""".stripMargin,

    // per-bucket log-ratios rounded once to integer micro-nats, then
    // order-free BIGINT sums — the t17 engine-exactness recipe
    "t19_dsir_weights" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  list_transform(string_split_regex(trim(text), '\\s+'),
         |    x -> lower(x)) AS w
         |  FROM documents WHERE length(trim(text)) > 0),
         |uni AS (SELECT doc_id, lang, unnest(w) AS feat FROM t),
         |big AS (SELECT doc_id, lang, w[i] || ' ' || w[i+1] AS feat
         |  FROM t, LATERAL unnest(range(1, len(w))) AS u(i)),
         |feats AS (SELECT doc_id, lang,
         |  CAST(('0x' || substr(md5('f|' || feat), 1, 15)) AS BIGINT)
         |    % $DsirBuckets AS bucket
         |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
         |bc AS (SELECT bucket, COUNT(*) AS raw_c,
         |  SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS tgt_c
         |  FROM feats GROUP BY bucket),
         |tot AS (SELECT SUM(raw_c) AS raw_total, SUM(tgt_c) AS tgt_total FROM bc),
         |lr AS (SELECT bucket,
         |  CAST(round((ln((tgt_c + 1.0) / (tgt_total + $DsirBuckets))
         |            - ln((raw_c + 1.0) / (raw_total + $DsirBuckets))) * 1e6)
         |    AS BIGINT) AS lr_micro
         |  FROM bc CROSS JOIN tot)
         |SELECT doc_id, COUNT(*) AS n_feats,
         |  CAST(SUM(lr_micro) AS BIGINT) AS logw_micro,
         |  CAST(floor(SUM(lr_micro) * 1.0 / COUNT(*)) AS BIGINT) AS avg_micro,
         |  CASE WHEN floor(SUM(lr_micro) * 1.0 / COUNT(*)) >= 0
         |       THEN 1 ELSE 0 END AS keep
         |FROM feats JOIN lr USING (bucket)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // every keep rule is an integer comparison — no float threshold
    // can flip between engines; ratios are display-rounded only
    "t20_gopher_rules" ->
      s"""WITH $gopherGateCtes
         |SELECT doc_id, n_words, sum_len, n_sym, n_alpha, n_stops,
         |  CASE WHEN n_words > 0 THEN round(sum_len * 1.0 / n_words, 4)
         |       ELSE 0.0 END AS mean_word_len,
         |  $gopherKeepSql AS keep
         |FROM g ORDER BY doc_id""".stripMargin,

    // t27: the same gate CTEs, survivors ranked by the salted hash
    // per language — the gate and the sample replay as one text.
    "t27_gated_sample" ->
      s"""WITH $gopherGateCtes,
         |k AS (SELECT doc_id FROM g WHERE $gopherKeepSql = 1)
         |SELECT lang, CAST(rn AS INT) AS rank, doc_id FROM (
         |  SELECT d.lang, d.doc_id,
         |    row_number() OVER (PARTITION BY d.lang ORDER BY
         |      CAST(('0x' || substr(md5('gated|' || d.doc_id::VARCHAR), 1, 15)) AS BIGINT),
         |      d.doc_id) AS rn
         |  FROM documents d JOIN k USING (doc_id)) t2
         |WHERE rn <= $StratN
         |ORDER BY lang, rank""".stripMargin,

    "q31_grouping_sets" ->
      """SELECT coalesce(source, 'ALL') AS source,
        |  coalesce(lang, 'ALL') AS lang,
        |  COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents
        |GROUP BY GROUPING SETS ((source, lang), (source), (lang), ())
        |ORDER BY source, lang""".stripMargin,

    // select-then-rank in Spark ≡ the plain rank window here: the
    // heap keeps the N smallest (h, doc_id) per lang — same order key.
    "t13_stratified_sample" ->
      s"""SELECT lang, CAST(rn AS INT) AS rank, doc_id FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY
         |      CAST(('0x' || substr(md5('strat|' || doc_id::VARCHAR), 1, 15)) AS BIGINT),
         |      doc_id) AS rn
         |  FROM documents) t
         |WHERE rn <= $StratN
         |ORDER BY lang, rank""".stripMargin,

    // the md5-derived milli-weights replay exactly in SQL; list_sum
    // over BIGINTs is order-free-exact, like the Spark LONG fold.
    // The 6-dp rounding is integer half-away-from-zero (// floors,
    // operands are non-negative) — round(double, 6) is NOT
    // cross-engine stable at decimal boundaries.
    "t15_quality_score" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
         |g AS (SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END AS n,
         |  CASE WHEN length(trim(text)) = 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(list_sum(list_transform(w, t ->
         |         CAST(('0x' || substr(md5('w|' ||
         |           CAST(CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % $QsBuckets
         |             AS VARCHAR)), 1, 15)) AS BIGINT) % 2001 - 1000)) AS BIGINT)
         |  END AS wz
         |FROM t),
         |m AS (SELECT doc_id, n, wz,
         |  CASE WHEN n = 0 THEN CAST(0 AS BIGINT)
         |       ELSE (2 * abs(wz) * 1000 + n) // (2 * n) END AS q
         |FROM g)
         |SELECT doc_id, CAST(n AS INT) AS n_tokens, wz AS raw_milli,
         |  (CASE WHEN wz < 0 THEN -q ELSE q END) / 1e6 AS score,
         |  CASE WHEN wz >= 0 THEN 1 ELSE 0 END AS keep
         |FROM m ORDER BY doc_id""".stripMargin,

    // the one-pass funnel must equal the per-stage recount
    "t14_filter_funnel" ->
      """WITH t AS (SELECT doc_id, lang, text,
        |  string_split_regex(trim(text), '\s+') AS w FROM documents),
        |g AS (SELECT lang, text,
        |  CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END AS n,
        |  CASE WHEN (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END) > 0
        |       THEN len(list_distinct(w)) * 1.0 /
        |            (CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(w) END)
        |       ELSE 0.0 END AS dr
        |FROM t),
        |m AS (SELECT
        |  count(*) AS c0,
        |  count(*) FILTER (n >= 30) AS c1,
        |  count(*) FILTER (n >= 30 AND dr >= 0.4) AS c2,
        |  count(*) FILTER (n >= 30 AND dr >= 0.4 AND lang = 'en') AS c3,
        |  count(DISTINCT CASE WHEN n >= 30 AND dr >= 0.4 AND lang = 'en'
        |                      THEN md5(text) END) AS c4
        |FROM g)
        |SELECT 0 AS stage_idx, 'raw' AS stage, c0 AS n_docs FROM m
        |UNION ALL SELECT 1, 'min_length', c1 FROM m
        |UNION ALL SELECT 2, 'repetition', c2 FROM m
        |UNION ALL SELECT 3, 'lang_en', c3 FROM m
        |UNION ALL SELECT 4, 'exact_dedup', c4 FROM m
        |ORDER BY stage_idx""".stripMargin,

    "t1_lang_id" ->
      s"""WITH t AS (SELECT doc_id, lang, text,
         |  string_split_regex(trim(text), '\\s+') AS w FROM documents),
         |h AS (SELECT doc_id, lang,
         |  ${hitsSql(EnMarkers)} AS en_hits,
         |  ${hitsSql(DeMarkers)} AS de_hits,
         |  ${hitsSql(FrMarkers)} AS fr_hits,
         |  ${hitsSql(EsMarkers)} AS es_hits,
         |  CAST(len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS INT) AS zh_chars
         |FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN zh_chars > 0 THEN 'zh'
         |       WHEN es_hits > en_hits AND es_hits > de_hits AND es_hits > fr_hits THEN 'es'
         |       WHEN fr_hits > en_hits AND fr_hits > de_hits THEN 'fr'
         |       WHEN de_hits > en_hits THEN 'de'
         |       ELSE 'en' END AS pred_lang,
         |  en_hits, de_hits, fr_hits, es_hits
         |FROM h
         |ORDER BY doc_id""".stripMargin,

    "t2_text_quality" ->
      s"""WITH t AS (SELECT doc_id, text,
         |  string_split_regex(trim(text), '\\s+') AS w,
         |  CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS wc,
         |  CAST(length(text) AS INT) AS n_chars,
         |  CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\\s]')) AS INT) AS punct
         |  FROM documents)
         |SELECT doc_id, CAST(wc AS INT) AS wc, n_chars,
         |  round(n_chars / wc, 4) AS avg_word_len,
         |  round(punct / n_chars, 4) AS punct_ratio,
         |  round(${hitsSql(EnMarkers)} / wc, 4) AS stopword_ratio,
         |  CAST(wc >= 30 AND round(punct / n_chars, 4) < 0.2 AS INT) AS quality_ok
         |FROM t
         |ORDER BY doc_id""".stripMargin,

    "t3_token_count" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE CAST(len(string_split_regex(trim(text), '\s+')) AS INT) END AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS bpe_tokens,
        |  CAST(length(text) AS INT) AS n_chars
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t4_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS norm_md5,
         |  list_reduce(
         |    list_prepend(0::BIGINT,
         |      list_transform(string_split_regex(trim(text), '\\s+'),
         |        t -> CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT))),
         |    (h, x) -> (h * 31 + x) & ${RollMask}) AS rolling_hash
         |FROM documents
         |ORDER BY doc_id""".stripMargin,

    "t5_repetition" ->
      """WITH t AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS w,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS n
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, w, n,
        |    CASE WHEN n >= 3 THEN
        |      list_transform(generate_series(1, n - 2),
        |        i -> array_to_string(list_slice(w, i, i + 2), ' '))
        |    ELSE [] END AS grams
        |  FROM t)
        |SELECT doc_id, CAST(n AS INT) AS n_tokens,
        |  CASE WHEN n > 0
        |    THEN round(1.0 - len(list_distinct(w)) / CAST(n AS DOUBLE), 4)
        |    ELSE 0.0 END AS tok_dup_ratio,
        |  CASE WHEN len(grams) > 0
        |    THEN round(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 4)
        |    ELSE 0.0 END AS gram3_dup_ratio,
        |  (CASE WHEN n > 0
        |     THEN round(1.0 - len(list_distinct(w)) / CAST(n AS DOUBLE), 4)
        |     ELSE 0.0 END) <= 0.3
        |  AND (CASE WHEN len(grams) > 0
        |     THEN round(1.0 - len(list_distinct(grams)) / CAST(len(grams) AS DOUBLE), 4)
        |     ELSE 0.0 END) <= 0.2 AS keep
        |FROM g
        |ORDER BY doc_id""".stripMargin,

    "t6_split" ->
      """SELECT doc_id,
        |  CAST(CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |    % 100 AS INT) AS bucket,
        |  CASE WHEN CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |         % 100 < 80 THEN 'train'
        |       WHEN CAST(('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |         % 100 < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    "t7_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, lower(unnest(string_split_regex(trim(text), '\s+'))) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT term, COUNT(*) AS df
        |       FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |    (tf.tf * (n.n_docs + 1)) / CAST(df.df + 1 AS DOUBLE) AS score
        |  FROM tf JOIN df USING (term) CROSS JOIN n),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, term) AS rnk
        |  FROM scored)
        |SELECT doc_id, CAST(rnk AS INT) AS rnk, term, tf, df,
        |  round(score, 4) AS tfidf
        |FROM ranked WHERE rnk <= 3
        |ORDER BY doc_id, rnk""".stripMargin,

    "t8_top_ngrams" ->
      """WITH g AS (
        |  SELECT unnest(list_transform(generate_series(1, n - 1),
        |    i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS gram
        |  FROM (SELECT string_split_regex(trim(text), '\s+') AS w,
        |          len(string_split_regex(trim(text), '\s+')) AS n
        |        FROM documents) t
        |  WHERE n >= 2)
        |SELECT gram, COUNT(*) AS n_occ
        |FROM g GROUP BY gram
        |ORDER BY n_occ DESC, gram
        |LIMIT 20""".stripMargin,

    // t10: same BM25 math; ln() may differ from the JVM's Math.log in
    // the final ulp, and the 3-term sum order differs between engines
    // — both are ~1e-15 relative against a 1e-4 rounding grid, so the
    // round(4) hash is stable (same argument as the cosine queries).
    "t10_bm25" ->
      s"""WITH base AS (
         |  SELECT doc_id,
         |    CASE WHEN length(trim(text)) = 0 THEN 0
         |         ELSE len(string_split_regex(trim(text), '\\s+')) END AS dl,
         |    string_split_regex(trim(text), '\\s+') AS w
         |  FROM documents),
         |toks AS (
         |  SELECT doc_id, lower(unnest(w)) AS term FROM base),
         |qt AS (
         |  SELECT doc_id, term FROM toks
         |  WHERE term IN (${BmQueryTerms.map(t => s"'$t'").mkString(", ")})),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM qt GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
         |st AS (SELECT COUNT(*) AS n_docs,
         |              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM base),
         |contrib AS (
         |  SELECT tf.doc_id, tf.tf,
         |    ln((st.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
         |      * (tf.tf * 2.2)
         |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * base.dl / st.avgdl)) AS c
         |  FROM tf
         |  JOIN df USING (term)
         |  JOIN base USING (doc_id)
         |  CROSS JOIN st)
         |SELECT doc_id, CAST(COUNT(*) AS INT) AS n_terms,
         |  CAST(SUM(tf) AS BIGINT) AS total_tf, round(SUM(c), 4) AS bm25
         |FROM contrib
         |GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id
         |LIMIT 10""".stripMargin,

    "t11_mixture_sample" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |    [10000, 5000, 2500, 1000]
        |      [CAST(regexp_extract(source, '(\d+)$', 1) AS INT) % 4 + 1] AS rate_bps,
        |    CAST(('0x' || substr(md5('mix|' || doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |      % 10000 AS h
        |  FROM documents)
        |SELECT source, CAST(rate_bps AS INT) AS rate_bps,
        |  COUNT(*) AS n_total,
        |  CAST(SUM(CASE WHEN h < rate_bps THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM r
        |GROUP BY source, rate_bps
        |ORDER BY source""".stripMargin,

    "t12_mixture_target" ->
      """WITH tgt AS (
        |  SELECT * FROM (VALUES ('en', 4000), ('fr', 1500), ('de', 1500),
        |                        ('es', 1500), ('zh', 1500)) AS t(lang, target_bps)),
        |counts AS (
        |  SELECT d.lang, COUNT(*) AS n_total, CAST(t.target_bps AS BIGINT) AS target_bps
        |  FROM documents d JOIN tgt t USING (lang)
        |  GROUP BY d.lang, t.target_bps),
        |tmax AS (SELECT min(n_total * 10000 // target_bps) AS t_max FROM counts),
        |rates AS (
        |  SELECT lang, n_total, target_bps,
        |    (SELECT t_max FROM tmax) * target_bps // 10000 AS n_keep,
        |    ((SELECT t_max FROM tmax) * target_bps // 10000) * 10000 // n_total AS rate_bps
        |  FROM counts)
        |SELECT r.lang, r.n_total, r.target_bps, r.n_keep, r.rate_bps,
        |  CAST(SUM(CASE WHEN CAST(('0x' || substr(md5('mix|' || d.doc_id::VARCHAR), 1, 15)) AS BIGINT)
        |             % 10000 < r.rate_bps THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN rates r USING (lang)
        |GROUP BY r.lang, r.n_total, r.target_bps, r.n_keep, r.rate_bps
        |ORDER BY r.lang""".stripMargin,

    "t9_redact" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, 'http\S+')) AS INT) AS n_urls,
        |  CAST(len(regexp_extract_all(text, '\d{6,}')) AS INT) AS n_digit_runs,
        |  md5(regexp_replace(regexp_replace(regexp_replace(text,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    'http\S+', '<URL>', 'g'),
        |    '\d{6,}', '<NUM>', 'g')) AS redacted_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // t26: the expected clean text IS the source text (the scrub must
    // round-trip the injection exactly), so the oracle states
    // md5(text) and the injection arithmetic directly — it never
    // runs the scrub, making the comparison a proof of it
    "t26_strip_invisible" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CAST(('0x' || substr(md5('zw|' || doc_id::VARCHAR), 1, 15))
        |      AS BIGINT) % 5 = 0 AS injected
        |  FROM documents)
        |SELECT doc_id, injected,
        |  CAST(CASE WHEN injected THEN 2 ELSE 0 END AS INT) AS n_invisible,
        |  md5(text) AS clean_md5
        |FROM f
        |ORDER BY doc_id""".stripMargin,

    "q28_pivot" ->
      """SELECT source,
        |  CAST(SUM(CASE WHEN lang = 'de' THEN 1 ELSE 0 END) AS BIGINT) AS de,
        |  CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS en,
        |  CAST(SUM(CASE WHEN lang = 'es' THEN 1 ELSE 0 END) AS BIGINT) AS es,
        |  CAST(SUM(CASE WHEN lang = 'fr' THEN 1 ELSE 0 END) AS BIGINT) AS fr,
        |  CAST(SUM(CASE WHEN lang = 'zh' THEN 1 ELSE 0 END) AS BIGINT) AS zh
        |FROM documents
        |GROUP BY source
        |ORDER BY source""".stripMargin,

    "m1_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS byte_len,
        |  hex(substr(text, 1, 8)) AS head_hex,
        |  sha256(text) AS sha256
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // m2: the fake codec's byte math re-derived in SQL — width/height
    // from byte length, frame-byte totals from the sampling geometry
    // (frame i covers bytes [i·256+1, i·256+64]), histogram bins from
    // printable-ASCII char classes (bin = byte >> 5).
    "m2_decode_frames" ->
      """WITH figs AS (
        |  SELECT printf('fig_%06d', doc_id) AS figure_id, text,
        |    octet_length(encode(text)) AS n
        |  FROM documents),
        |fr AS (
        |  SELECT figure_id, greatest(CAST(floor(n / 256.0) AS INT), 1) AS nf, n
        |  FROM figs),
        |fsum AS (
        |  SELECT figure_id, CAST(nf AS BIGINT) AS n_frames,
        |    CAST(SUM(least(64, greatest(n - 256 * CAST(u.i AS INT), 0))) AS BIGINT)
        |      AS frame_bytes
        |  FROM fr, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) u
        |  GROUP BY figure_id, nf)
        |SELECT f.figure_id, 'image/png' AS media_type,
        |  CAST(f.n AS INT) AS byte_len,
        |  CAST(64 + f.n % 64 AS INT) AS width,
        |  CAST(64 + (f.n // 64) % 64 AS INT) AS height,
        |  CAST(3 AS INT) AS n_channels,
        |  s.n_frames, s.frame_bytes,
        |  CAST(0 AS BIGINT) AS hb0,
        |  CAST(length(f.text) - length(regexp_replace(f.text, '[\x20-\x3f]', '', 'g')) AS BIGINT) AS hb1,
        |  CAST(length(f.text) - length(regexp_replace(f.text, '[\x40-\x5f]', '', 'g')) AS BIGINT) AS hb2,
        |  CAST(length(f.text) - length(regexp_replace(f.text, '[\x60-\x7e]', '', 'g')) AS BIGINT) AS hb3,
        |  CAST(0 AS BIGINT) AS hb4, CAST(0 AS BIGINT) AS hb5,
        |  CAST(0 AS BIGINT) AS hb6, CAST(0 AS BIGINT) AS hb7
        |FROM figs f JOIN fsum s USING (figure_id)
        |ORDER BY figure_id""".stripMargin,

    // t25: gram streams via the d12 slice idiom; every published
    // column is an integer count and the keep flag is integer
    // cross-multiplication — nothing to round, nothing to diverge.
    "t25_repetition" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    list_transform(string_split_regex(trim(text), '\s+'),
        |      x -> lower(x)) AS w,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(string_split_regex(trim(text), '\s+')) END AS nw
        |  FROM documents),
        |base AS (
        |  SELECT doc_id, nw,
        |    CASE WHEN nw = 0 THEN 0 ELSE len(list_distinct(w)) END AS ndw, w
        |  FROM t),
        |g2 AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, nw - 1),
        |      i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS g
        |    FROM base WHERE nw >= 2) x
        |  GROUP BY doc_id, g),
        |a2 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS g2_total,
        |       CAST(MAX(c) AS BIGINT) AS top2 FROM g2 GROUP BY doc_id),
        |g5 AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM (
        |    SELECT doc_id, unnest(list_transform(generate_series(1, nw - 4),
        |      i -> array_to_string(list_slice(w, i, i + 4), ' '))) AS g
        |    FROM base WHERE nw >= 5) x
        |  GROUP BY doc_id, g),
        |a5 AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS g5_total,
        |       CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup5
        |       FROM g5 GROUP BY doc_id)
        |SELECT b.doc_id, CAST(b.nw AS BIGINT) AS n_words,
        |  CAST(b.ndw AS BIGINT) AS n_distinct,
        |  COALESCE(a2.g2_total, 0) AS g2_total, COALESCE(a2.top2, 0) AS top2,
        |  COALESCE(a5.g5_total, 0) AS g5_total, COALESCE(a5.dup5, 0) AS dup5,
        |  CAST(CASE WHEN (b.nw - b.ndw) * 10 <= b.nw * 3
        |        AND COALESCE(a2.top2, 0) * 5 <= COALESCE(a2.g2_total, 0)
        |        AND COALESCE(a5.dup5, 0) * 20 <= COALESCE(a5.g5_total, 0) * 3
        |       THEN 1 ELSE 0 END AS INT) AS keep
        |FROM base b LEFT JOIN a2 USING (doc_id) LEFT JOIN a5 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,

    // m3: the m2 frame geometry (frame i = bytes [256·i+1, 256·i+64],
    // ASCII fixture ⇒ chars == bytes) hashed and joined in SQL —
    // m5: the audio round-trip replayed from the sample formula — the
    // WAV header must parse back to the written rate/channels/frames
    // and the PCM body to the exact samples; the amplitude histogram
    // is integer math both engines state identically.
    "m5_wav_audio" -> {
      val bins = (0 until 8).map(i =>
        s"  CAST(COALESCE(MAX(CASE WHEN b = $i THEN c END), 0) AS BIGINT) AS h$i")
        .mkString(",\n")
      s"""WITH smp AS (
         |  SELECT doc_id, i.i,
         |    ((doc_id * 131 + i.i * 7919) % 65536) - 32768 AS s
         |  FROM documents,
         |    LATERAL (SELECT unnest(generate_series(0, 255)) AS i) i),
         |hist AS (
         |  SELECT doc_id, (s + 32768) // 8192 AS b, COUNT(*) AS c
         |  FROM smp GROUP BY doc_id, (s + 32768) // 8192)
         |SELECT printf('fig_%06d_a', doc_id) AS figure_id,
         |  CAST(16000 AS INT) AS sample_rate, CAST(1 AS INT) AS channels,
         |  CAST(256 AS BIGINT) AS n_frames,
         |$bins
         |FROM hist GROUP BY doc_id ORDER BY figure_id""".stripMargin
    },

    // m4: the REAL codec round-trip replayed from the pixel formula —
    // PNG is lossless, so the engine's ImageIO-decoded raster must
    // equal (doc_id·31 + x·7 + y·13) mod 256 pixel for pixel; the
    // 8×8 block means, the integer grand-mean threshold, and the
    // little-endian 16-bit band packing are all integer math both
    // engines state identically; twins share bands by construction,
    // so n_dups ≥ 2 everywhere (exactly 2 absent accidental
    // cross-document collisions, which both sides count the same
    // way).
    "m4_imageio_ahash" ->
      """WITH px AS (
        |  SELECT doc_id, xs.x, ys.y,
        |    (doc_id * 31 + xs.x * 7 + ys.y * 13) % 256 AS v
        |  FROM documents,
        |    LATERAL (SELECT unnest(generate_series(0, 15)) AS x) xs,
        |    LATERAL (SELECT unnest(generate_series(0, 15)) AS y) ys),
        |cells AS (
        |  SELECT doc_id, (y // 2) * 8 + (x // 2) AS j,
        |    SUM(v) // COUNT(*) AS cv
        |  FROM px GROUP BY doc_id, (y // 2) * 8 + (x // 2)),
        |gm AS (SELECT doc_id, SUM(cv) // 64 AS m FROM cells GROUP BY doc_id),
        |bands AS (
        |  SELECT c.doc_id, CAST(c.j // 16 AS INT) AS band,
        |    CAST(SUM((CASE WHEN c.cv > g.m THEN 1 ELSE 0 END)
        |      * (1 << (c.j % 16))) AS INT) AS bv
        |  FROM cells c JOIN gm g USING (doc_id)
        |  GROUP BY c.doc_id, c.j // 16),
        |sig AS (
        |  SELECT doc_id,
        |    MAX(CASE WHEN band = 0 THEN bv END) AS b0,
        |    MAX(CASE WHEN band = 1 THEN bv END) AS b1,
        |    MAX(CASE WHEN band = 2 THEN bv END) AS b2,
        |    MAX(CASE WHEN band = 3 THEN bv END) AS b3
        |  FROM bands GROUP BY doc_id),
        |dupfigs AS (
        |  SELECT printf('fig_%06d_%s', doc_id, sfx.s) AS figure_id,
        |    b0, b1, b2, b3
        |  FROM sig, LATERAL (SELECT unnest(['a', 'b']) AS s) sfx),
        |dups AS (
        |  SELECT b0, b1, b2, b3, COUNT(*) AS n_dups
        |  FROM dupfigs GROUP BY b0, b1, b2, b3)
        |SELECT f.figure_id, CAST(16 AS INT) AS width,
        |  CAST(16 AS INT) AS height, f.b0, f.b1, f.b2, f.b3, d.n_dups
        |FROM dupfigs f JOIN dups d USING (b0, b1, b2, b3)
        |ORDER BY f.figure_id""".stripMargin,

    // df-cap, pair counts, and the overlap denominator all replay
    // over the same capped universe.
    "m3_frame_dedup" ->
      s"""WITH figs AS (
         |  SELECT printf('fig_%06d', doc_id) AS figure_id, text,
         |         octet_length(encode(text)) AS n
         |  FROM documents),
         |fr AS (
         |  SELECT figure_id, greatest(CAST(floor(n / 256.0) AS INT), 1) AS nf, text
         |  FROM figs),
         |frames AS (
         |  SELECT DISTINCT figure_id,
         |         md5(substr(text, 256 * CAST(u.i AS INT) + 1, 64)) AS fh
         |  FROM fr, LATERAL (SELECT unnest(generate_series(0, nf - 1)) AS i) u),
         |df AS (SELECT fh, COUNT(*) AS nfig FROM frames GROUP BY fh),
         |kept AS (
         |  SELECT f.figure_id, f.fh
         |  FROM frames f JOIN df USING (fh) WHERE df.nfig <= $FrameDfCap),
         |sizes AS (SELECT figure_id, COUNT(*) AS sz FROM kept GROUP BY figure_id),
         |pairs AS (
         |  SELECT a.figure_id AS a_fig, b.figure_id AS b_fig,
         |         COUNT(*) AS n_shared
         |  FROM kept a JOIN kept b
         |    ON a.fh = b.fh AND a.figure_id < b.figure_id
         |  GROUP BY 1, 2)
         |SELECT p.a_fig, p.b_fig, p.n_shared, sa.sz AS na, sb.sz AS nb,
         |  round(p.n_shared * 1.0 / least(sa.sz, sb.sz), 4) AS overlap
         |FROM pairs p JOIN sizes sa ON sa.figure_id = p.a_fig
         |JOIN sizes sb ON sb.figure_id = p.b_fig
         |ORDER BY a_fig, b_fig""".stripMargin,

    "s1_event_window" ->
      """SELECT time_bucket(INTERVAL '5 minutes', ts) AS wstart, event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2
        |ORDER BY wstart, event_type""".stripMargin,

    // per-column UNION ALL twin of the one-pass stack report
    "t21_profile" ->
      """WITH m AS (
        |  SELECT 'doc_id' AS col_name,
        |    COUNT(*) - COUNT(doc_id) AS n_null,
        |    COUNT(DISTINCT doc_id) AS n_distinct,
        |    CAST(MIN(doc_id) AS VARCHAR) AS vmin,
        |    CAST(MAX(doc_id) AS VARCHAR) AS vmax
        |  FROM documents
        |  UNION ALL
        |  SELECT 'lang', COUNT(*) - COUNT(lang), COUNT(DISTINCT lang),
        |    MIN(lang), MAX(lang) FROM documents
        |  UNION ALL
        |  SELECT 'n_chars', COUNT(*) - COUNT(n_chars), COUNT(DISTINCT n_chars),
        |    CAST(MIN(n_chars) AS VARCHAR), CAST(MAX(n_chars) AS VARCHAR)
        |  FROM documents
        |  UNION ALL
        |  SELECT 'source', COUNT(*) - COUNT(source), COUNT(DISTINCT source),
        |    MIN(source), MAX(source) FROM documents
        |  UNION ALL
        |  SELECT 'text', COUNT(*) - COUNT(text), COUNT(DISTINCT text),
        |    CAST(MIN(length(text)) AS VARCHAR), CAST(MAX(length(text)) AS VARCHAR)
        |  FROM documents)
        |SELECT col_name, n_null, n_distinct, vmin, vmax
        |FROM m ORDER BY col_name""".stripMargin,

    // plain percent_rank (no tie-break column): tied-min-rank pr =
    // below/(n-1), exactly the Spark side's value-level formula; the
    // ranking key avg_micro_nats is exact integer math
    "t22_ccnet_buckets" ->
      s"""WITH $PplCte,
         |p AS (SELECT doc_id,
         |  CAST(floor(total_micro * 1.0 / n_tokens) AS BIGINT) AS avg_micro_nats
         |  FROM doc),
         |r AS (SELECT p.doc_id, d.lang, p.avg_micro_nats,
         |  percent_rank() OVER (PARTITION BY d.lang
         |    ORDER BY p.avg_micro_nats) AS pr
         |  FROM p JOIN documents d USING (doc_id))
         |SELECT doc_id, lang, avg_micro_nats,
         |  CAST(round(pr * 1e6) AS BIGINT) AS pr_micro,
         |  CASE WHEN pr < 1.0/3 THEN 'head'
         |       WHEN pr < 2.0/3 THEN 'middle'
         |       ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,

    // same double-op order as the Spark side ((−ln(u) · 1e6) / w,
    // then round): ulp-level ln() differences sit ~9 orders of
    // magnitude below the 0.5-micro rounding boundary
    "t23_weighted_sample" ->
      s"""WITH t AS (SELECT doc_id, lang,
         |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
         |       ELSE len(string_split_regex(trim(text), '\\s+')) END AS BIGINT)
         |    AS weight
         |  FROM documents WHERE length(trim(text)) > 0),
         |c AS (SELECT doc_id, lang, weight,
         |  CAST(round(-ln((CAST(('0x' || substr(md5('ws|' || doc_id::VARCHAR), 1, 15))
         |                    AS BIGINT) + 1) / 1152921504606846976.0)
         |             * 1e6 / weight) AS BIGINT) AS cost_micro
         |  FROM t),
         |r AS (SELECT lang, doc_id, weight, cost_micro,
         |  row_number() OVER (PARTITION BY lang
         |    ORDER BY cost_micro, doc_id) AS rn
         |  FROM c)
         |SELECT lang, CAST(rn AS INT) AS rank, doc_id, weight, cost_micro
         |FROM r WHERE rn <= $WsN ORDER BY lang, rank""".stripMargin,

    // same probe bytes built via chr(); nfc_normalize is DuckDB's
    // TR#15 canonical composition — output must byte-match graft_nfc
    "t24_nfc_normalize" ->
      """WITH r AS (SELECT doc_id,
        |  substr(text, 1, 40) || ' re' || chr(769) || 'sume' || chr(769)
        |    || ' caf' || chr(233) AS raw
        |  FROM documents)
        |SELECT doc_id, nfc_normalize(raw) AS norm_text,
        |  length(raw) AS n_raw,
        |  length(nfc_normalize(raw)) AS n_norm
        |FROM r ORDER BY doc_id""".stripMargin,

    // t28: the whole merge loop unrolled — capped word-freq encode,
    // then per round ONE pair count + argmax + boundary-exact replace
    "t28_bpe_train" -> materializeCtes(
      s"""${bpeTrainCtes}mt AS (
         |${(1 to BpeMerges).map(r =>
             s"  SELECT $r AS rank, l AS left_sym, r AS right_sym, " +
               s"l || r AS merged, pc AS pair_count FROM bb$r")
             .mkString("\n  UNION ALL\n")})
         |SELECT rank, left_sym, right_sym, merged, pair_count FROM mt
         |ORDER BY rank""".stripMargin),

    // t29: the same trained chain applied to every DISTINCT corpus
    // word, joined back to the per-doc word multiset
    "t29_bpe_tokenize" -> materializeCtes(
      s"""${bpeTrainCtes}dwords AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |  FROM documents),
         |dsym0 AS (
         |  SELECT word, regexp_replace(word, '(.)', '<\\1>', 'g') AS sym
         |  FROM (SELECT DISTINCT word FROM dwords) w),
         |${(1 to BpeMerges).map(r =>
             s"""dsym$r AS (
                |  SELECT word,
                |    replace(sym, '<' || b.l || '><' || b.r || '>',
                |                 '<' || b.l || b.r || '>') AS sym
                |  FROM dsym${r - 1} CROSS JOIN bb$r b),""".stripMargin)
             .mkString("\n")}
         |dtok AS (
         |  SELECT word,
         |    len(string_split(substr(sym, 2, length(sym) - 2), '><')) AS n_sym
         |  FROM dsym$BpeMerges),
         |agg AS (
         |  SELECT w.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |    CAST(SUM(t.n_sym) AS BIGINT) AS bpe_tokens
         |  FROM dwords w JOIN dtok t USING (word)
         |  GROUP BY w.doc_id)
         |SELECT d.doc_id, COALESCE(a.n_words, 0) AS n_words,
         |  COALESCE(a.bpe_tokens, 0) AS bpe_tokens
         |FROM documents d LEFT JOIN agg a USING (doc_id)
         |ORDER BY doc_id""".stripMargin)
  )

  /** t28/t29's training chain as CTE text (leading WITH included):
    * the capped word-frequency encode `bw0`, then per round the pair
    * counts `bp\$r`, the argmax `bb\$r` (count DESC, left, right —
    * ASCII ties), and the merged re-encode `bw\$r`. Every expression
    * mirrors [[bpeMerges]] term for term: the '(.)' → '<\\1>' wrap,
    * the 1-based adjacent-pair subscripts, the '||'-built replace
    * pattern. */
  private def bpeTrainCtes: String = {
    val sb = new StringBuilder
    sb.append(
      s"""WITH bw0 AS (
         |  SELECT word, cnt, regexp_replace(word, '(.)', '<\\1>', 'g') AS sym
         |  FROM (
         |    SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
         |      SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |      FROM documents) u
         |    WHERE length(word) >= 2
         |    GROUP BY word
         |    ORDER BY cnt DESC, word
         |    LIMIT $BpeTrainWords) f),
         |""".stripMargin)
    for (r <- 1 to BpeMerges) {
      sb.append(
        s"""bp$r AS (
           |  SELECT s[i] AS l, s[i + 1] AS r, CAST(SUM(cnt) AS BIGINT) AS pc
           |  FROM (
           |    SELECT s, cnt, unnest(range(1, len(s))) AS i FROM (
           |      SELECT string_split(substr(sym, 2, length(sym) - 2), '><') AS s,
           |             cnt
           |      FROM bw${r - 1}) q) t
           |  GROUP BY l, r),
           |bb$r AS (
           |  SELECT l, r, pc FROM bp$r ORDER BY pc DESC, l, r LIMIT 1),
           |bw$r AS (
           |  SELECT word, cnt,
           |    replace(sym, '<' || b.l || '><' || b.r || '>',
           |                 '<' || b.l || b.r || '>') AS sym
           |  FROM bw${r - 1} CROSS JOIN bb$r b),
           |""".stripMargin)
    }
    sb.toString
  }
}
