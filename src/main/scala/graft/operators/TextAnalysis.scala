package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis for training-data pipelines: token counting, quality
  * scoring, language ID, fingerprinting. Everything is per-row (no
  * shuffle at all — map-only over the corpus, which is the shape you
  * want for a 100 TB text scan) and built from codegen'd native
  * functions, no UDFs.
  */
object TextAnalysis {

  /** Whitespace tokens, empty strings dropped. `array_remove`, not a
    * `filter(...)` lambda: higher-order functions are CodegenFallback,
    * and tokens() sits in the scan projection of every text operator —
    * one interpreted expression would eject the whole stage from
    * whole-stage codegen. Identical semantics (split never yields
    * nulls; array_remove drops every "" occurrence). */
  def tokens(c: Column): Column = array_remove(split(c, "\\s+"), "")

  /** BPE-ish pre-tokenizer regex: letter runs, single digits, single
    * punctuation. Plain character classes only, so Java regex and RE2
    * agree. */
  val BpePattern = "[a-z]+|[0-9]|[^a-z0-9 ]"

  /** Occurrence count (multiplicity included) of `words` inside a token
    * array — the native `hit_count` expression: one codegen'd loop with
    * a constant hash-set membership test, no per-row allocation. (A
    * filter lambda is CodegenFallback; an array_remove formulation
    * allocates |words| arrays per row — both measured slower.) */
  def hitCount(tk: Column, words: Seq[String]): Column =
    graft.functions.HitCount.hitCount(tk, words)

  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(tokens(col("text"))).as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).as("bpe_tokens"))

  /** Quality scoring: length / punctuation / stopword / word-shape
    * ratios plus a composite score. All ratios are exact-integer inputs
    * divided once, so the doubles are engine-identical. */
  def quality(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    // two-stage projection: each regex / token filter is evaluated ONCE
    // into a named column, then the ratio stage reuses the columns —
    // a single flat select would re-evaluate the non-cheap expressions
    // per output column (CollapseProject refuses to inline them, but
    // only if they're already split into stages)
    val base = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("tk"))
      .select(col("doc_id") +: signalCounts: _*)
    base.select(
      col("doc_id"),
      col("nc").as("n_chars_text"),
      col("nw_raw").as("n_words"),
      round6(col("na").cast("double") / nWords).as("avg_word_len"),
      round6(col("np").cast("double") / nChars).as("punct_ratio"),
      round6(col("h_en").cast("double") / nWords).as("stop_ratio"),
      round6(qualityScore).as("quality_score"))
  }

  /** Stage 1 of the text signals: the base counts of a row's `text`
    * and its token array `tk` — characters `nc`, words `nw_raw`, a–z
    * letters `na`, punctuation marks `np`, and each language's stopword
    * hits ([[langHits]]). [[qualityScore]] and [[predLang]] read these
    * named columns in a second projection (see [[quality]]). */
  def signalCounts: Seq[Column] = Seq(
    length(col("text")).as("nc"),
    size(col("tk")).as("nw_raw"),
    length(regexp_replace(col("text"), "[^a-z]", "")).as("na"),
    length(regexp_replace(col("text"), "[^.!?,;:]", "")).as("np")) ++ langHits

  /** Stopword hits of the token array `tk` per language, `h_en` … `h_zh`. */
  def langHits: Seq[Column] = Seq(
    hitCount(col("tk"), EnStopwords).as("h_en"),
    hitCount(col("tk"), EsStopwords).as("h_es"),
    hitCount(col("tk"), FrStopwords).as("h_fr"),
    hitCount(col("tk"), DeStopwords).as("h_de"),
    hitCount(col("tk"), ZhStopwords).as("h_zh"))

  private def nWords: Column = greatest(col("nw_raw"), lit(1))
  private def nChars: Column = greatest(col("nc"), lit(1))

  /** The composite quality score over the [[signalCounts]] columns:
    * stopword rate, word shape and punctuation density. */
  def qualityScore: Column =
    col("h_en").cast("double") / nWords * 0.4 +
      least(col("na").cast("double") / nWords / 10.0, lit(1.0)) * 0.3 +
      (lit(1.0) - col("np").cast("double") / nChars) * 0.3

  /** Stopword-hit language ID over the [[langHits]] columns:
    * deterministic argmax with a fixed preference cascade
    * (en > es > fr > de > zh) on ties. */
  def predLang: Column =
    when(col("h_en") >= greatest(col("h_es"), col("h_fr"), col("h_de"), col("h_zh")), "en")
      .when(col("h_es") >= greatest(col("h_fr"), col("h_de"), col("h_zh")), "es")
      .when(col("h_fr") >= greatest(col("h_de"), col("h_zh")), "fr")
      .when(col("h_de") >= col("h_zh"), "de")
      .otherwise("zh")

  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "is", "in", "that", "it", "as")
  val EsStopwords: Seq[String] =
    Seq("el", "la", "de", "y", "que", "en", "los", "se", "del", "las")
  val FrStopwords: Seq[String] =
    Seq("le", "la", "de", "et", "les", "des", "un", "une", "du", "que")
  val DeStopwords: Seq[String] =
    Seq("der", "die", "das", "und", "ist", "von", "mit", "den", "im", "ein")
  val ZhStopwords: Seq[String] =
    Seq("的", "是", "在", "了", "和", "有", "我", "他", "这", "中")

  /** Stopword-hit language ID ([[predLang]]). */
  def langId(docs: DataFrame): DataFrame = {
    // stage 1 tokenizes ONCE and counts each language's stopword hits
    // (codegen'd, see hitCount); the argmax cascade then reads plain
    // columns (see quality for the CollapseProject note)
    val base = docs
      .select(col("doc_id"), col("lang").as("declared_lang"),
        tokens(col("text")).as("tk"))
      .select(col("doc_id") +: col("declared_lang") +: langHits: _*)
    base.select(
      col("doc_id"), col("declared_lang"),
      col("h_en"), col("h_es"), col("h_fr"), col("h_de"), col("h_zh"),
      predLang.as("pred_lang"))
  }

  /** Per-SOURCE corpus statistics — the ingest dashboard: document
    * count, total characters, exact mean quality score (scaled-integer
    * sum over the same fused signal expressions corpus prep uses), and
    * exact-duplicate rate within each source. One signal scan + two
    * small aggregates; the dup rate reuses the md5 grouping of
    * [[graft.operators.Dedup.exact]] per source. */
  def sourceStats(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val scored = CorpusPipeline.signals(
      docs.select(col("doc_id"), col("source"), col("text")))
      .join(docs.select(col("doc_id"), col("source"), col("n_chars")), "doc_id")
    val dupes = docs
      .groupBy(col("source"), md5(encode(col("text"), "UTF-8")).as("h"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("source"))
      .agg((sum(col("n")) - count(lit(1))).as("n_dups"))
    scored
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        // micro-scaled integer sum → one division: order-independent
        round6(sum(floor(col("quality_score") * 1000000.0 + 0.5).cast("long"))
          .cast("double") / 1000000.0 / count(lit(1))).as("mean_quality"))
      .join(dupes, "source")
      .withColumn("dup_rate", round6(col("n_dups").cast("double") / col("n_docs")))
  }

  /** Language-ID CONFUSION MATRIX — the quality eval of [[langId]]
    * against the corpus's declared labels: (declared, predicted,
    * n_docs) cells. This is the monitoring view a production filter
    * ships with (per-language precision/recall derive from the rows);
    * cost is the langId scan + one tiny aggregate (≤ langs² rows). */
  def langConfusion(docs: DataFrame): DataFrame =
    langId(docs)
      .groupBy(col("declared_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))

  /** TF-IDF keyword weighting (linear-idf variant): per (doc, word) the
    * term frequency, document frequency, and tf·(N/df) score. Linear idf
    * instead of log keeps every value a single exact division — `ln` is
    * a libm call whose last ulp differs across engines. Three hash
    * aggregates + a broadcast of the 1-row corpus count; the (doc, word)
    * exchange is the only wide shuffle. */
  def tfidf(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("word"))
    val tf = tok.groupBy(col("doc_id"), col("word")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("word")).agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    tf.join(df, "word")
      .crossJoin(broadcast(n))
      .select(col("doc_id"), col("word"), col("tf"), col("df"),
        round6(col("tf") * (col("n_docs").cast("double") / col("df"))).as("tfidf_lin"))
  }

  /** Normalization pass: lowercase, trim, collapse runs of whitespace.
    * Emits the md5 of the normalized text (a portable content
    * fingerprint — the natural key for a downstream exact-dedup pass)
    * plus the normalized length. Map-only, no shuffle. */
  def normalize(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        regexp_replace(trim(lower(col("text"))), "\\s+", " ").as("n"))
      .select(col("doc_id"), md5(col("n")).as("norm_hash"),
        length(col("n")).as("n_chars_norm"))

  /** Engine-portable 60-bit hash: the first 15 hex chars of md5, parsed
    * base-16. Costs more than xxhash64 but is reproducible by any engine
    * with md5 (DuckDB: `CAST('0x' || substr(md5(x),1,15) AS BIGINT)`),
    * which is what makes fingerprints and simhash signatures
    * oracle-checkable; 60 bits keeps the parse inside a signed long.
    * Computed by the native `portable_hash60` expression — same value,
    * straight from the digest bytes, no hex render + re-parse per row
    * (the column composition it replaced is pinned in the spec).
    * Varargs = hash of the concatenated string renderings; integral
    * columns render natively (no per-row Cast/concat — see
    * [[graft.functions.PortableHash60]]). */
  def portableHash60(cs: Column*): Column =
    graft.functions.PortableHash60.portableHash60(cs: _*)

  /** The column composition `portable_hash60` replaced; test-only
    * reference for the bit-identity spec. */
  private[graft] def legacyPortableHash60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** PII redaction rules: (RE2-compatible pattern, replacement tag).
    * Plain character classes and bounded repetition only — no
    * lookarounds — so Java regex and RE2 (DuckDB, Go, Rust engines)
    * match identically and the pass is verifiable cross-engine.
    * Order matters: specific shapes (email, ip, phone) before the
    * generic number rule so a phone isn't first shredded into digits. */
  val PiiRules: Seq[(String, String)] = Seq(
    "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}" -> "<EMAIL>",
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b" -> "<IP>",
    "\\+?[0-9][0-9() -]{6,}[0-9]" -> "<PHONE>",
    "[0-9]+" -> "<NUM>")

  /** Apply [[PiiRules]] in order — one chained, codegen'd
    * regexp_replace pipeline, map-only over the corpus. */
  def redactColumn(c: Column): Column =
    PiiRules.foldLeft(c) { case (acc, (pat, tag)) => regexp_replace(acc, pat, tag) }

  /** Redaction pass over a keyed text column: redacted text plus the
    * redaction count (tags emitted), the audit number a compliance
    * pipeline wants per document. No shuffle. */
  def redact(df: DataFrame, id: String, text: String): DataFrame = {
    val red = redactColumn(col(text))
    df.select(col(id), red.as("redacted"),
      size(regexp_extract_all(red, lit("<[A-Z]+>"), lit(0))).cast("long")
        .as("n_redactions"))
  }

  /** Gopher/RefinedWeb-style repetition signals per document:
    * type-token ratio, most-frequent-word fraction, most-frequent-
    * bigram fraction. High top-fraction or low TTR marks boilerplate
    * and generator loops that length/stopword scores miss.
    *
    * Shape at scale: these statistics are strictly per-document, so
    * they are computed ROW-LOCALLY by the native `repetition_stats`
    * expression ([[graft.functions.RepetitionStats]]) — the whole
    * operator is a map-only scan projection, zero exchanges (the
    * aggregate formulation paid two corpus-wide gram shuffles for
    * per-doc numbers). Ratios are the same single exact divisions and
    * floor-rounding, so the DuckDB oracle is untouched. */
  def repetition(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), graft.functions.RepetitionStats.repetitionStats(
        tokens(col("text"))).as("r"))
      .where(col("r").isNotNull)
      .select(col("doc_id"), col("r.n_tokens").as("n_tokens"),
        col("r.ttr").as("ttr"), col("r.top_word_frac").as("top_word_frac"),
        col("r.top_2gram_frac").as("top_2gram_frac"))

  /** The two-shuffle aggregate formulation [[repetition]] replaced;
    * kept test-only as the independent reference for the equality
    * spec (these stats are per-document, so the corpus-wide gram
    * shuffles it pays are pure overhead). */
  private[graft] def aggRepetition(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    def topFrac(grams: DataFrame, out: String): DataFrame =
      grams
        .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("tf"))
        .groupBy(col("doc_id"))
        // count(*), NOT countDistinct: input is one row per (doc, g)
        // already, and a distinct aggregate would force an Expand plan
        // that doubles the stage's shuffle volume for identical results
        .agg(sum(col("tf")).as("n"), count(lit(1)).as("d"),
          max(col("tf")).as("top"))
        .select(col("doc_id"), col("n"), col("d"),
          round6(col("top").cast("double") / col("n")).as(out))
    val words = topFrac(
      docs.select(col("doc_id"), explode(tokens(col("text"))).as("g")), "top_word_frac")
      .select(col("doc_id"), col("n").as("n_tokens"),
        round6(col("d").cast("double") / col("n")).as("ttr"), col("top_word_frac"))
    val bigramTok = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"), concat_ws(" ",
        element_at(col("w"), col("i")), element_at(col("w"), col("i") + 1)).as("g"))
    val bigrams = topFrac(bigramTok, "top_2gram_frac")
      .select(col("doc_id"), col("top_2gram_frac"))
    words.join(bigrams, Seq("doc_id"), "left")
      .na.fill(0.0, Seq("top_2gram_frac"))
  }

  /** Corpus bigram language-model estimation: P(w2 | w1) as exact count
    * ratios — the statistical table behind fluency scoring and
    * next-token baselines. Same shuffle shape as [[tfidf]] (counts
    * only ride the exchanges); the probability is one exact division
    * (linear, no log — ln's last ulp differs across engines). */
  def bigramLm(docs: DataFrame, minCount: Long = 2): DataFrame = {
    import graft.functions.Exact.round6
    val bigrams = docs
      .select(tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("w"), explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))
    val pair = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n12"))
    // P(w2|w1) denominator: occurrences of w1 AS A BIGRAM HEAD, i.e. the
    // sum of n12 over w2 — derivable from the pair counts, no second
    // corpus scan
    val head = pair.groupBy(col("w1")).agg(sum(col("n12")).as("n1"))
    pair.join(head, "w1")
      .where(col("n12") >= minCount)
      .select(col("w1"), col("w2"), col("n12"), col("n1"),
        round6(col("n12").cast("double") / col("n1")).as("p_cond"))
  }

  /** Fixed-size token chunking with overlap — the long-document
    * splitter feeding a fixed-context trainer (stride = size −
    * overlap; a chunk starts only if it contributes unseen tokens).
    * Map-only: tokenize once, explode integer chunk ids (pure integer
    * arithmetic — no float chunk counts), slice the token array per
    * chunk. Emits the chunk's token count and content hash; sliced
    * text never rides a shuffle. */
  def chunk(docs: DataFrame): DataFrame = {
    val (chunkSize, overlap) = (64, 16)
    val stride = chunkSize - overlap
    docs.select(col("doc_id"), tokens(col("text")).as("tk"))
      .withColumn("n", size(col("tk")))
      .where(col("n") > 0)
      .withColumn("chunk_id", explode(sequence(lit(0L),
        greatest(expr(s"CAST((n - $overlap + $stride - 1) div $stride AS BIGINT)"),
          lit(1L)) - 1)))
      .withColumn("ck", slice(col("tk"), col("chunk_id") * stride + 1, lit(chunkSize)))
      .select(col("doc_id"), col("chunk_id"),
        size(col("ck")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("ck"))).as("chunk_hash"))
  }

  /** Polynomial rolling-hash document fingerprint over the token stream
    * (order-sensitive, content-defined). Modular arithmetic keeps every
    * intermediate well inside Long range (ANSI mode would reject wrapping
    * overflow), and the fold order is the token order, so the fingerprint
    * is stable across partitionings AND engines (per-token hashes are
    * [[portableHash60]]). */
  def fingerprint(docs: DataFrame): DataFrame = {
    val p = lit(1000000007L)
    docs.select(
      col("doc_id"),
      aggregate(tokens(col("text")), lit(0L),
        (acc, w) => pmod(acc * 31L + pmod(portableHash60(w), p), p)).as("fp"))
  }

  /** Language-model fluency score per document — the perplexity-filter
    * shape ("drop documents the corpus LM finds improbable") with
    * engine-exact arithmetic: each document's bigram instances are
    * scored by the CORPUS bigram LM ([[bigramLm]] counts) and averaged.
    *
    * Portability: probabilities are summed as SCALED INTEGERS —
    * `⌊n12·10⁶ / n1⌋` per instance — so the per-doc sum is exact long
    * arithmetic (a raw double Σ(n12/n1) would hash differently across
    * partition orders and engines); the single final division is
    * deterministic. Bigrams the LM pruned (below `minCount`) score 0,
    * exactly how an unknown-token penalty behaves. Shuffle shape: the
    * doc→bigram explode carries (doc_id, w1, w2) only — no text — and
    * the LM join keys on (w1, w2), the same tfidf-style exchange. */
  def lmScore(docs: DataFrame, minCount: Long = 2): DataFrame = {
    val inst = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"),
        element_at(col("w"), col("i")).as("w1"),
        element_at(col("w"), col("i") + 1).as("w2"))
    val lm = bigramLm(docs, minCount)
      .select(col("w1"), col("w2"),
        // Decimal(38,0) intermediate: n12·10⁶ wraps int64 once a bigram
        // passes ~9.2×10¹² occurrences (~46 TB of text) — inside the
        // design envelope; div returns the same BIGINT quotient
        expr("CAST((CAST(n12 AS DECIMAL(38,0)) * 1000000) div n1 AS BIGINT)").as("p_scaled"))
    inst.join(lm, Seq("w1", "w2"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("p_scaled"), lit(0L))).as("p_sum"))
      .select(col("doc_id"), col("n_bigrams"),
        graft.functions.Exact.round6(
          col("p_sum").cast("double") / 1e6 / col("n_bigrams")).as("lm_score"))
  }

  /** DSIR-shaped importance weights for target-domain data selection
    * (the shape of Xie et al. 2023, "Data Selection for Language Models
    * via Importance Resampling"): score each document by how much more
    * frequent its features are in a TARGET slice of the corpus than in
    * the corpus overall, using hashed bigram features — the
    * select-web-data-that-looks-like-my-target-domain pipeline step.
    *
    * Engine-exact arithmetic: features are bigrams hashed into
    * `nBuckets` buckets ([[portableHash60]] — md5-derived, portable);
    * each feature's weight is the add-one-smoothed scaled ratio
    * `⌊(n_target+1)·10⁶ / (n_raw+1)⌋`, summed per doc as exact longs
    * (a linear ratio, not DSIR's log-likelihood — ln's last ulp
    * differs across engines; the RANKING, which is all resampling
    * consumes, is order-isomorphic for single-feature docs and
    * near-identical in practice). A doc scores high when its buckets
    * are dense in the target slice.
    *
    * Scale shape: ONE corpus scan explodes bigrams to (doc_id, bucket)
    * pairs; bucket counts collapse to `nBuckets` rows via a map-side-
    * partial hash aggregation (the widest shuffle in the plan carries
    * 4096 rows); the ratio table broadcasts back; the per-doc score is
    * one hash aggregation by doc_id. Raw and target counts come out of
    * the SAME aggregation (a conditional sum), so the target slice
    * costs no second scan. No text ever rides an exchange. */
  def importanceWeights(docs: DataFrame, targetPred: Column,
      nBuckets: Int = ImportanceBuckets): DataFrame =
    importanceWeightsRaw(docs, targetPred, nBuckets)
      .select(col("doc_id"), col("n_feats"),
        graft.functions.Exact.round6(
          col("r_sum").cast("double") / 1e6 / col("n_feats")).as("imp_score"))

  /** The DSIR SELECTION step: keep documents whose importance exceeds
    * the corpus mean — "select the web data that looks most like my
    * target domain". The comparison is exact cross-multiplied integer
    * arithmetic (the q22_idle pattern): doc mean r_sum/n_feats beats
    * the corpus mean R/N iff r_sum·N > R·n_feats, evaluated in
    * Decimal(38,0) so a 100 TB corpus's totals (r_sum ≤ 10⁶·tokens)
    * cannot wrap — no double average is ever formed, so both engines
    * agree at every boundary. Plan shape = [[importanceWeights]] plus
    * ONE extra 1-row aggregate broadcast. */
  def importanceSelect(docs: DataFrame, targetPred: Column): DataFrame = {
    val perDoc = importanceWeightsRaw(docs, targetPred, ImportanceBuckets)
    // sum IN decimal, not cast-after-sum: Σr_sum ≈ 10⁶·total bigrams
    // wraps int64 near ~10 TB of text if accumulated as long
    val totals = perDoc.agg(
      sum(col("n_feats").cast("decimal(38,0)")).as("tot_feats"),
      sum(col("r_sum").cast("decimal(38,0)")).as("tot_rsum"))
    perDoc.join(broadcast(totals))
      .where(col("r_sum").cast("decimal(38,0)") * col("tot_feats") >
        col("tot_rsum") * col("n_feats").cast("decimal(38,0)"))
      .select(col("doc_id"), col("n_feats"),
        graft.functions.Exact.round6(
          col("r_sum").cast("double") / 1e6 / col("n_feats")).as("imp_score"))
  }

  /** Hash buckets of [[importanceWeights]] and [[importanceSelect]]. */
  private val ImportanceBuckets = 4096

  /** [[importanceWeights]] before the final score projection: per-doc
    * exact (n_feats, r_sum) longs. */
  private def importanceWeightsRaw(docs: DataFrame, targetPred: Column,
      nBuckets: Int): DataFrame = {
    val inst = docs
      .select(col("doc_id"), targetPred.as("is_target"), tokens(col("text")).as("w"))
      .where(size(col("w")) >= 2)
      .select(col("doc_id"), col("is_target"), col("w"),
        explode(sequence(lit(1), size(col("w")) - 1)).as("i"))
      .select(col("doc_id"), col("is_target"),
        pmod(portableHash60(concat_ws(" ",
          element_at(col("w"), col("i")),
          element_at(col("w"), col("i") + 1))), lit(nBuckets.toLong)).as("b"))
    val ratio = inst.groupBy(col("b"))
      .agg(count(lit(1)).as("n_raw"),
        sum(when(col("is_target"), 1L).otherwise(0L)).as("n_target"))
      .select(col("b"), expr("CAST((CAST(n_target + 1 AS DECIMAL(38,0)) * 1000000) div (n_raw + 1) AS BIGINT)").as("r_scaled"))
    inst.join(broadcast(ratio), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("r_scaled")).as("r_sum"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): split each
    * language's documents into head/middle/tail terciles by LM score —
    * the step that lets a curation pipeline keep "head" web text and
    * drop the tail. Scale shape, exactly CCNet's: compute the 2
    * CUTOFF scores per language (not a per-row global rank) and assign
    * buckets map-only against the broadcast cutoff table. The cutoffs
    * come from the same distinct-value rank-span machinery as the exact
    * quantiles (value-count table + cumulative window over DISTINCT
    * scores per language — never a full-corpus window); equal scores
    * land in the same bucket by construction, and every comparison is
    * on doubles both engines derive identically from exact integers. */
  def ccnetBuckets(docs: DataFrame): DataFrame = {
    // the scored relation feeds the value-count table, the per-lang
    // totals AND the final assignment — materialized once
    // (localCheckpoint, the pcaSolve pattern), the LM-score subtree
    // (two corpus tokenizes + the bigram join) runs ONCE instead of
    // three times and the plan drops from 102 Exchanges to the three
    // reads of the (doc_id, lang, lm_score) grain. The documented
    // checkpoint tradeoffs apply: the call is eager, the blocks live
    // until the returned plan is GC'd, lineage is not recomputable
    // under executor loss
    val scored = lmScore(docs)
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"), col("lang"), col("lm_score"))
      .localCheckpoint()
    val vc = scored.groupBy(col("lang"), col("lm_score")).agg(count(lit(1)).as("c"))
    // two-level bucket-monotone scan: LM scores are near-unique, so a
    // plain per-lang window would sort O(docs-per-lang) on one task
    val cum = Cumulative.runningSum(vc, Seq("lang"), "lm_score", "c", "cum")
    val totals = scored.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val cuts = cum.join(broadcast(totals), "lang")
      .groupBy(col("lang"))
      .agg(
        min(when(col("cum") * 3 >= col("n"), col("lm_score"))).as("cut_tail"),
        min(when(col("cum") * 3 >= col("n") * 2, col("lm_score"))).as("cut_mid"))
    scored.join(broadcast(cuts), "lang")
      .select(col("doc_id"), col("lang"), col("lm_score"),
        when(col("lm_score") <= col("cut_tail"), "tail")
          .when(col("lm_score") <= col("cut_mid"), "middle")
          .otherwise("head").as("bucket"))
  }

  /** Gopher-style document quality RULES (Rae et al. 2021, Appendix A)
    * — the rule-based pre-filter a curation pipeline runs before any
    * model-based scoring. Five of the published rules (the line-shape
    * rules are omitted: this corpus carries no newlines); every
    * threshold compares CROSS-MULTIPLIED INTEGERS, never a double
    * ratio, so each boolean is engine-exact:
    *  - word count within [minWords, 100000];
    *  - mean word length within [3, 10] chars (3·nw ≤ Σlen ≤ 10·nw);
    *  - symbol-to-word ratio below 10% (10·(#'#' + #'...') < nw);
    *  - >80% of words contain a letter (5·nAlpha > 4·nw);
    *  - at least 2 distinct common stopwords present.
    * Map-only projection (one pass, no shuffle); `pass` is the
    * conjunction. */
  def gopherRules(docs: DataFrame, minWords: Int = 50,
      stops: Seq[String] =
        Seq("the", "be", "to", "of", "and", "that", "have", "with"))
      : DataFrame = {
    val base = docs
      .select(col("doc_id"), col("text"), tokens(col("text")).as("tk"))
      .select(
        col("doc_id"),
        size(col("tk")).as("nw"),
        length(regexp_replace(col("text"), "\\s", "")).as("swl"),
        (length(col("text")) - length(expr("replace(text, '#', '')")) +
          expr("(length(text) - length(replace(text, '...', ''))) div 3"))
          .as("nsym"),
        size(filter(col("tk"), w => w.rlike("[a-zA-Z]"))).as("nalpha"),
        size(filter(typedLit(stops), s => array_contains(col("tk"), s)))
          .as("nstop"))
    base.select(
      col("doc_id"),
      col("nw").between(minWords, 100000).as("r_word_count"),
      (col("swl") >= col("nw") * 3 && col("swl") <= col("nw") * 10)
        .as("r_mean_word_len"),
      (col("nsym") * 10 < col("nw")).as("r_symbol_ratio"),
      (col("nalpha") * 5 > col("nw") * 4).as("r_alpha_words"),
      (col("nstop") >= 2).as("r_stopwords"))
      .withColumn("pass",
        col("r_word_count") && col("r_mean_word_len") &&
          col("r_symbol_ratio") && col("r_alpha_words") && col("r_stopwords"))
  }

  /** Sentence segmentation profile per document: terminal-punctuation
    * split, trimmed non-empty segments, count + char totals + exact
    * mean (one division). All higher-order array functions over the
    * split — map-only, stays in codegen, no UDF. The sentence-length
    * distribution is a standard quality signal (too-short/too-long
    * sentence mass flags boilerplate and OCR noise). */
  def sentenceStats(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        expr("filter(transform(split(text, '[.!?]+'), x -> trim(x)), x -> x <> '')")
          .as("sents"))
      .select(col("doc_id"),
        size(col("sents")).as("n_sent"),
        expr("aggregate(transform(sents, x -> CAST(length(x) AS BIGINT)), CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("sent_chars"))
      .withColumn("mean_sent_chars",
        when(col("n_sent") > 0,
          col("sent_chars").cast("double") / col("n_sent").cast("double")))

  /** Corpus-wide top-k character trigrams — the raw statistic under
    * language ID and domain fingerprinting. The per-document explode is
    * map-side (`transform` over an index `sequence`, no UDF, stays in
    * codegen); one count aggregate and a TakeOrdered top-k with a total
    * tie order (cnt desc, gram asc) both engines agree on. Grams are
    * restricted to printable ASCII so the cross-engine hash never rides
    * on unicode case/grapheme semantics (the lang-id n-gram path already
    * covers the unicode side). */
  def charNgramTop(docs: DataFrame, k: Int = 40): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // the per-char trigram explode is the heavy map stage — spread a
    // single-split input so it runs on every core (Tables.spreadSmall)
    val grams = graft.Tables.spreadSmall(docs, "doc_id")
      .where(length(col("text")) >= 3)
      .select(explode(expr(
        "transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))"))
        .as("gram"))
      .where(col("gram").rlike("^[ -~]{3}$"))
      .groupBy(col("gram")).agg(count(lit(1)).as("cnt"))
    // top-k via sort+limit = TakeOrderedAndProject (bounded per-partition
    // heaps, never a global sort); the rank window then runs over k rows
    grams
      .orderBy(col("cnt").desc, col("gram"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("cnt").desc, col("gram"))))
      .select(col("gram"), col("cnt"), col("rk"))
  }

  /** Top-k TF-IDF keywords per document — the per-doc topical summary a
    * curation UI or domain-mixture labeler reads, riding [[tfidf]]'s
    * linear-idf scores. The rank window partitions by doc_id over the
    * doc's DISTINCT-WORD rows — bounded by document length, never the
    * corpus — with the (score desc, word) tie-break making the selection
    * deterministic. Rank cast to long so both engines emit BIGINT. */
  def keywordTopK(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_lin").desc, col("word"))
    tfidf(docs)
      .withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("word"), col("tfidf_lin"), col("rank"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov distance between the integer
    * `valueCol` distributions of two corpus slices — the drift monitor
    * run when a new crawl lands: has the length/quality distribution
    * moved against the reference corpus, and at which value?
    *
    * Exactness: KS = max over distinct values of |F_a − F_b| =
    * max |c_a·n_b − c_b·n_a| / (n_a·n_b) — the maximand is a
    * CROSS-MULTIPLIED INTEGER (Decimal(38,0); no per-value division),
    * so the argmax and the final single division are engine-exact.
    * Scale shape: per-side value counts → one full-outer merge at
    * distinct-value grain → BOTH running counts via the two-level
    * bucket-monotone scan (no unpartitioned value window) → TakeOrdered
    * limit 1 with a (diff desc, value asc) total order. Output is one
    * row: sizes, the KS statistic, and the value where it's attained. */
  def driftKs(a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val va = a.select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("ca"))
    val vb = b.select(col(valueCol).cast("long").as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("cb"))
    // pin the distinct-value frame and the first scan's output: each
    // runningSum fans its input out three ways (bounds, offsets, base),
    // so without the cut the corpus scans replicate ~8× through the
    // nested calls — with it, each slice is scanned exactly once and
    // everything downstream is distinct-value grain
    val vc = va.join(vb, Seq("v"), "full_outer")
      .na.fill(0L, Seq("ca", "cb"))
      .withColumn("__g", lit(1))
      .localCheckpoint()
    val run = Cumulative.runningSum(
      Cumulative.runningSum(vc, Seq("__g"), "v", "ca", "Fa").localCheckpoint(),
      Seq("__g"), "v", "cb", "Fb")
    val totals = vc.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    run.crossJoin(broadcast(totals))
      .withColumn("__diff",
        abs(dec(col("Fa")) * dec(col("nb")) - dec(col("Fb")) * dec(col("na"))))
      .orderBy(col("__diff").desc, col("v"))
      .limit(1)
      .select(col("na"), col("nb"),
        (col("__diff").cast("double") /
          (dec(col("na")) * dec(col("nb"))).cast("double")).as("ks"),
        col("v").as("ks_at"))
  }

  /** KS-style DECILE-SHIFT card from two bounded (cohort, value)
    * SAMPLES — the numeric-drift monitor that reads off ALREADY-LIVE
    * quantile-sketch MV state instead of rescanning both corpora (the
    * [[driftKs]] cost): the reference cohort's deciles are picked from
    * its ≤ k stored sample rows (percentile_disc rank
    * `ceil(d·n/10)`), both samples' empirical CDFs are evaluated at
    * those nine values, and the shift per decile is the exact-integer
    * cross-multiply `|c_ref·n_cur − c_cur·n_ref| / (n_ref·n_cur)`
    * with ONE closing division; `ks` = the max of the nine ROUNDED
    * shifts rides every row. Everything here is sketch-grain (≤ k
    * rows per cohort — metadata, never data): the always-fresh
    * "did the value distribution move" gate at 100 TB costs exactly
    * what the sketch MV already paid. Cohort 0 is the reference,
    * cohort 1 the current one. */
  def decileShiftCard(sample: DataFrame, cohortCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.Exact.round6
    val (refCohort, curCohort) = (0L, 1L)
    val s = sample.select(col(cohortCol).cast("long").as("c"), col("val"))
    val n = s.groupBy(col("c")).agg(count(lit(1)).as("n"))
    val nRef = n.where(col("c") === refCohort).select(col("n").as("n_ref"))
    val nCur = n.where(col("c") === curCohort).select(col("n").as("n_cur"))
    // rank within the ref SAMPLE (≤ k rows — the partition is the
    // whole bounded sketch, never a data-grain window)
    val ranked = s.where(col("c") === refCohort)
      .withColumn("rnk",
        row_number().over(Window.partitionBy(col("c")).orderBy(col("val"))))
    val spark = sample.sparkSession
    val deciles = spark.range(1, 10).select(col("id").as("decile"))
    val vd = ranked.crossJoin(broadcast(nRef))
      .crossJoin(broadcast(deciles))
      .where(col("rnk") === expr("(decile * n_ref + 9) div 10"))
      .select(col("decile"), col("val").as("ref_value"))
    val cdf = s.crossJoin(broadcast(vd))
      .groupBy(col("decile"), col("ref_value"))
      .agg(sum(when(col("c") === refCohort && col("val") <= col("ref_value"),
          1L).otherwise(0L)).as("c_ref"),
        sum(when(col("c") === curCohort && col("val") <= col("ref_value"),
          1L).otherwise(0L)).as("c_cur"))
    val card = cdf.crossJoin(broadcast(nRef)).crossJoin(broadcast(nCur))
      .select(col("decile"), col("ref_value"),
        round6(col("c_ref").cast("double") / col("n_ref").cast("double"))
          .as("cdf_ref"),
        round6(col("c_cur").cast("double") / col("n_cur").cast("double"))
          .as("cdf_cur"),
        round6(abs(col("c_ref") * col("n_cur") - col("c_cur") * col("n_ref"))
            .cast("double")
          / (col("n_ref") * col("n_cur")).cast("double")).as("shift"))
    card.crossJoin(broadcast(card.agg(max(col("shift")).as("ks"))))
      .orderBy(col("decile"))
  }

  /** PII exposure audit by slice — the compliance data card a corpus
    * review reads BEFORE [[redact]] ships anything: per slice (source,
    * event type, …) the row count, rows carrying each PII shape, and
    * total hits per shape. Counts run per-pattern on the RAW text
    * (unlike redaction, no rule ordering is needed — each shape is
    * measured independently, and the email/IP/phone patterns are the
    * exact ones `PiiRules` redacts). Map-only regex counting + one
    * bounded slice-grain aggregate; the corpus is scanned once and
    * never shuffled beyond ≤|slices| rows. */
  def piiAudit(df: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    def hits(pat: String) =
      size(regexp_extract_all(col(textCol), lit(pat), lit(0))).cast("long")
    val email = hits(PiiRules(0)._1)
    val ip = hits(PiiRules(1)._1)
    val phone = hits(PiiRules(2)._1)
    df.select(col(sliceCol), email.as("e"), ip.as("i"), phone.as("p"))
      .groupBy(col(sliceCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("e") > 0, 1L).otherwise(0L)).as("rows_email"),
        sum(col("e")).as("email_hits"),
        sum(when(col("i") > 0, 1L).otherwise(0L)).as("rows_ip"),
        sum(col("i")).as("ip_hits"),
        sum(when(col("p") > 0, 1L).otherwise(0L)).as("rows_phone"),
        sum(col("p")).as("phone_hits"))
  }

  /** Code-vs-prose signal card — the filter a text-corpus prep runs to
    * route source code away from the prose mixture (or into a code
    * mixture): per document the code-symbol ratio (chars from the
    * `{}();=<>` set), digit ratio, and the routed flag. Exact integer
    * counts, two closing divisions, and the flag compares the ROUNDED
    * ratio (the cross-engine comparison idiom) — emitted as 0/1. Pure
    * map-only scan. */
  def codeSignals(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val base = docs.select(col("doc_id"),
      greatest(length(col("text")), lit(1)).as("nc"),
      length(regexp_replace(col("text"), "[^{}();=<>]", "")).as("sym"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("dig"))
    base.select(col("doc_id"),
      round6(col("sym").cast("double") / col("nc")).as("sym_ratio"),
      round6(col("dig").cast("double") / col("nc")).as("digit_ratio"),
      when(round6(col("sym").cast("double") / col("nc")) >= 0.01, 1L)
        .otherwise(0L).as("is_code"))
  }

  /** Vocabulary / Zipf data card — the corpus-health summary a tokenizer
    * or mixture decision is made from: type and token totals, the
    * type-token ratio, hapax/dis legomena counts (the Zipf tail — a
    * high hapax share predicts OOV pressure and flags boilerplate-free
    * natural text), and head coverage (what fraction of all tokens the
    * top-`topK` types account for — the Zipf head). All exact integers
    * with two closing divisions, so the card is engine-identical
    * without touching log() (whose libm rounding differs across
    * engines — the reason this card reports Zipf head/tail MASS, not a
    * fitted slope).
    *
    * Scale shape: one word-count aggregate over the corpus (map-side
    * combinable), then a bounded TakeOrdered head and two 1-row
    * aggregates — the vocabulary table is scanned twice but the CORPUS
    * only once, and nothing downstream of the word count exceeds
    * vocabulary grain. */
  def vocabCard(docs: DataFrame, topK: Int = 100): DataFrame = {
    import graft.functions.Exact.round6
    val wc = docs.select(explode(tokens(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val stats = wc.agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
      sum(when(col("c") === 1L, 1L).otherwise(0L)).as("hapax"),
      sum(when(col("c") === 2L, 1L).otherwise(0L)).as("dis"))
    val head = wc.orderBy(col("c").desc, col("w")).limit(topK)
      .agg(coalesce(sum(col("c")), lit(0L)).as("head_c"))
    stats.crossJoin(broadcast(head))
      .select(col("n_types"), col("n_tokens"), col("hapax"), col("dis"),
        round6(col("n_types").cast("double") / col("n_tokens")).as("ttr"),
        round6(col("head_c").cast("double") / col("n_tokens")).as("head_cov"))
  }

  /** Simpson source-concentration card per language — "is this slice
    * of the corpus really one source wearing five hats". The exact
    * finite-population Simpson index Σnᵢ(nᵢ−1)/(n(n−1)) (the
    * probability two docs drawn without replacement share a source:
    * 1/|sources| when balanced, →1 when one source dominates) — all
    * integer moments, ONE closing division; a single-doc group has no
    * pair to draw, emitted as null rather than an invented value. Two
    * bounded aggregates; nothing past (lang, source) grain. */
  def sourceDiversity(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    docs.groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("ni"))
      .groupBy(col("lang"))
      .agg(sum(col("ni")).as("n_docs"), count(lit(1)).as("n_sources"),
        sum(col("ni") * (col("ni") - 1)).as("pairs"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        when(col("n_docs") > 1,
          round6(col("pairs").cast("double")
            / (col("n_docs") * (col("n_docs") - 1)))).as("simpson"))
  }

  /** Corpus DATASHEET — the one-page numbers a "Datasheets for
    * Datasets" artifact opens with, as a (metric, value) card of
    * EXACT INTEGERS only (counts and discrete percentiles; anything
    * ratio-shaped lives in the dedicated cards, so no float formatting
    * can drift). Three corpus passes total: the row-stats aggregate,
    * the tokenized word scan, and the distinct-text count — each
    * scan-bound; nothing here exceeds metric grain afterwards. */
  def datasheet(docs: DataFrame): DataFrame = {
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      sum(when(length(col("text")) === 0, 1L).otherwise(0L)).as("n_empty"),
      sum(length(col("text")).cast("long")).as("n_chars"),
      max(length(col("text")).cast("long")).as("max_chars"),
      expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY length(text)) AS BIGINT)")
        .as("median_chars"))
    val words = docs.select(explode(tokens(col("text"))).as("w"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("w")).as("n_types"))
    val dups = docs.agg((count(lit(1))
      - countDistinct(col("text"))).as("n_exact_dup_surplus"))
    val one = base.crossJoin(broadcast(words)).crossJoin(broadcast(dups))
    val metrics = Seq("n_docs", "n_sources", "n_langs", "n_empty", "n_chars",
      "max_chars", "median_chars", "n_tokens", "n_types",
      "n_exact_dup_surplus")
    metrics.map(m => one.select(lit(m).as("metric"),
        col(m).cast("long").as("value")))
      .reduce(_ unionAll _)
  }

  /** Per-language length profile — the "are my languages comparable
    * slices" card: doc count, exact mean chars (integer sum + one
    * closing division), DISCRETE median chars per declared language. */
  def langProfile(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    docs.select(col("lang"), length(col("text")).cast("long").as("nc"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        round6(sum(col("nc")).cast("double") / count(lit(1))).as("mean_chars"),
        expr("CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY nc) AS BIGINT)")
          .as("median_chars"))
  }

  /** K-ANONYMITY governance card — the re-identification read a
    * training-data release needs next to [[piiAudit]]'s find-and-count:
    * rows are grouped into EQUIVALENCE CLASSES by quasi-identifier
    * (source, lang, length bucket — the attributes a joiner could link
    * on), and the card reports how much of the corpus hides in classes
    * of at least k (plus the l-diversity floor: the minimum number of
    * distinct sensitive values — here "contains an @-address" — any
    * class exposes; l = 1 means some class is homogeneous and
    * membership alone leaks the sensitive bit).
    *
    * Scale shape: one map-side-combinable aggregate to CLASS grain
    * (bounded by the QI grid, never row grain past the first shuffle),
    * one 1-row re-aggregate. All counters integer-exact; the one
    * fraction is a single 6-decimal-floored division. */
  def kAnonymityCard(docs: DataFrame, k: Int = 5): DataFrame = {
    import graft.functions.Exact.round6
    val classes = docs
      .groupBy(col("source"), col("lang"), expr("n_chars div 500").as("bucket"))
      .agg(count(lit(1)).as("sz"),
        countDistinct(when(instr(col("text"), "@") > 0, 1).otherwise(0))
          .as("l"))
    classes.agg(
      sum(col("sz")).as("n_rows"),
      count(lit(1)).as("n_classes"),
      min(col("sz")).as("min_class_size"),
      coalesce(sum(when(col("sz") < k, col("sz"))), lit(0L))
        .as("rows_below_k"),
      coalesce(sum(when(col("sz") < k, 1L)), lit(0L)).as("classes_below_k"),
      round6(coalesce(sum(when(col("sz") >= k, col("sz"))), lit(0L))
        .cast("double") / sum(col("sz")).cast("double")).as("anonymous_frac"),
      min(col("l")).as("min_l"))
  }

  /** BM25 keyword retrieval — the lexical ranking half of the
    * similarity toolkit (the ANN family covers the embedding half;
    * real retrieval mines candidates with BOTH). One scan to token
    * grain feeds the three classic statistics — tf per (doc, term),
    * df per term, document length vs the corpus average — and the
    * Robertson/Spärck-Jones score
    * `Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))` with
    * `idf = ln((N−df+0.5)/(df+0.5) + 1)` (the Lucene-standard
    * +1 form, never negative).
    *
    * Scale shape: the term filter prunes token grain to QUERY terms
    * before any join (tf is |matching tokens|, not corpus grain); df
    * and the corpus stats are broadcast scalars; the only corpus-sized
    * costs are the token scan and the dl aggregate — and dl/avgdl are
    * query-independent, so a serving deployment precomputes them once
    * per corpus snapshot and pays token-scan-of-matches per query.
    *
    * Exactness: the per-term parts are summed in FIXED query order
    * (one conditional aggregate per term, added left to right), so the
    * doubles replay bit-identically in DuckDB; ln() is libm-in-output
    * but rides the q_survival precedent (rounded to 6 decimals, one
    * closing floor). Ranking ties break on doc_id; the rank key is the
    * ROUNDED score, so a last-ulp ln() divergence cannot reorder the
    * top-k across engines. */
  def bm25(docs: DataFrame, query: Seq[String], k: Int = Bm25K): DataFrame = {
    require(query.nonEmpty, "bm25: empty query")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val tf = toks.where(col("term").isin(query: _*))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    bm25From(tf, dl, stats, query, k, Bm25K1, Bm25B)
  }

  /** BM25's defaults, shared by every scoring form and its DuckDB
    * mirror: the hit count, term-frequency saturation `k1` and length
    * normalisation `b`. */
  private val Bm25K = 10
  private val Bm25K1 = 1.2
  private val Bm25B = 0.75
  /** Query terms [[moreLikeThis]] and [[mltOracleSql]] pick by default. */
  private val MltTopTerms = 8

  /** MORE-LIKE-THIS — rank the rest of the corpus by similarity to ONE
    * document, with the query DERIVED FROM THE DOCUMENT ITSELF (the
    * Lucene MLT shape): the query doc's terms are weighted qtf · idf
    * over the REMAINING corpus, the top `topTerms` by (weight desc,
    * term asc) become a disjunctive query, and the remaining docs are
    * scored by the existing [[bm25]] tail. Everything downstream of
    * the bounded term pick is the proven BM25 path, so the whole card
    * replays in DuckDB ([[mltOracleSql]]).
    *
    * Scale shape: two corpus tokenizes (one to pick terms, one to
    * score — both map-side-combined aggregates), a ≤ `topTerms`-row
    * collect (the centroids convention: bounded metadata riding to
    * the driver, never data), then [[bm25]]'s cost. Determinism: the
    * score fold follows the picked terms in UTF-8 BYTE order — the
    * order Spark's own UTF8String comparison AND DuckDB's binary
    * VARCHAR collation share (Scala's default String sort is UTF-16
    * code-unit order, which diverges on supplementary-plane
    * characters — so the sort here is explicit). */
  def moreLikeThis(docs: DataFrame, queryDocId: Long,
      topTerms: Int = MltTopTerms, k: Int = Bm25K): DataFrame = {
    require(topTerms >= 1, s"moreLikeThis: topTerms must be >= 1: $topTerms")
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val qterms = toks.where(col("doc_id") === queryDocId)
      .groupBy(col("term")).agg(count(lit(1)).as("qtf"))
    val rest = toks.where(col("doc_id") =!= queryDocId)
    val restDl = rest.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val restStats = restDl
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    // df of the query doc's terms over the REMAINING corpus (a term no
    // other doc contains can't rank anyone — the inner join drops it)
    val dfq = rest.join(broadcast(qterms.select(col("term"))), "term")
      .select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val picked = qterms.join(dfq, "term").crossJoin(broadcast(restStats))
      .withColumn("w",
        log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)) + lit(1.0))
          * col("qtf").cast("double"))
      .orderBy(col("w").desc, col("term").asc)
      .limit(topTerms)
      .select(col("term")).collect().map(_.getString(0)).toSeq
    require(picked.nonEmpty,
      s"moreLikeThis: doc $queryDocId has no terms shared with the corpus")
    import scala.math.Ordering.Implicits.seqOrdering
    val utf8 = picked.sortBy(
      _.getBytes(java.nio.charset.StandardCharsets.UTF_8).map(_ & 0xff).toSeq)
    bm25(docs.where(col("doc_id") =!= queryDocId), utf8, k)
  }

  /** DuckDB mirror for [[moreLikeThis]]: the term pick (same idf over
    * the remaining corpus, same (w desc, term) order, same LIMIT) as a
    * CTE, then the [[bm25]] tail with the per-doc score as a SEQUENTIAL
    * `list_reduce` over parts in term order — the Spark fold adds the
    * picked terms in UTF-8 byte order with absent terms contributing
    * literal 0.0, and `x + 0.0 = x` exactly for the strictly positive
    * BM25 parts, so the present-only sequential sum is the identical
    * double. */
  def mltOracleSql(queryDocId: Long): String =
    s"""WITH toks AS (SELECT doc_id, word AS term
             FROM (SELECT doc_id, unnest(regexp_split_to_array(text, '\\s+')) AS word
                   FROM documents)
             WHERE word <> ''),
         qt AS (SELECT term, count(*) AS qtf FROM toks
                WHERE doc_id = $queryDocId GROUP BY term),
         rest AS (SELECT doc_id, term FROM toks WHERE doc_id <> $queryDocId),
         rdl AS (SELECT doc_id, count(*) AS dl FROM rest GROUP BY doc_id),
         rstats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM rdl),
         dfq AS (SELECT term, count(DISTINCT doc_id) AS df
                 FROM rest JOIN qt USING (term) GROUP BY term),
         picked AS (SELECT term FROM (
               SELECT qt.term,
                      ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                         / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                        * CAST(qtf AS DOUBLE) AS w
               FROM qt JOIN dfq USING (term), rstats)
             ORDER BY w DESC, term ASC LIMIT $MltTopTerms),
         tf AS (SELECT doc_id, term, count(*) AS tf
                FROM rest JOIN picked USING (term) GROUP BY doc_id, term),
         dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         parts AS (SELECT tf.doc_id, tf.term,
                ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
                / (CAST(tf AS DOUBLE) + $Bm25K1 * ((1.0 - $Bm25B)
                   + $Bm25B * (CAST(dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS part
           FROM tf JOIN dft USING (term) JOIN rdl USING (doc_id), rstats),
         sc AS (SELECT doc_id,
                list_reduce(list(part ORDER BY term), (a, b) -> a + b) AS s0
           FROM parts GROUP BY doc_id)
         SELECT doc_id, floor(s0 * 1000000.0 + 0.5) / 1000000.0 AS score
         FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25K"""

  /** Posting-list grain for the durable index: `(doc_id, term, tf)` —
    * identical to [[bm25]]'s tf aggregate WITHOUT the query-term
    * filter, so an indexed search filtered to any query equals the
    * direct scan exactly. */
  def textPostings(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** [[bm25]] served from a PREPARED index
    * ([[graft.sources.Catalog.buildTextIndex]]): tf comes from the
    * stored posting lists pruned to the query terms (term-clustered
    * files, so row-group stats skip everything else), dl and the
    * corpus stats are stored artifacts — per query the corpus is
    * never re-tokenized; cost is postings-of-terms, not corpus scan.
    * Same scoring tail as the direct form, so results are EQUAL. */
  def bm25Indexed(idx: TextIndex, query: Seq[String], k: Int = Bm25K): DataFrame = {
    require(query.nonEmpty, "bm25Indexed: empty query")
    bm25From(idx.postings.where(col("term").isin(query: _*)),
      idx.dl, idx.stats, query, k, Bm25K1, Bm25B)
  }

  /** A committed inverted text index's three parts: posting lists
    * `(doc_id, term, tf)`, document lengths `(doc_id, dl)`, corpus
    * stats `(n_docs, sum_dl)` — everything BM25 needs, nothing the
    * corpus text must be re-read for. */
  case class TextIndex(postings: DataFrame, dl: DataFrame, stats: DataFrame)

  /** [[textPostings]] WITH POSITIONS: `(doc_id, term, tf,
    * positions array<int>)` — the posting-list grain a PHRASE query
    * needs ("new york" ≠ "york new"); tf stays present, so every
    * bag-of-words read over a positional index is unchanged. Storage
    * cost is the token stream itself (one int per occurrence), the
    * price every positional index pays (Lucene's prox file). */
  def textPostingsPositional(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("pos", "term")))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"),
        sort_array(collect_list(col("pos"))).as("positions"))

  /** PHRASE-scored BM25 over the corpus: a document matches where the
    * phrase's terms occur AT CONSECUTIVE POSITIONS (adjacency, not
    * co-occurrence), tf = the number of phrase starts, and the score
    * is the existing BM25 tail with the phrase as one pseudo-term (df
    * = documents containing the phrase). Cost shape: the corpus
    * tokenize + ≤|phrase| pruned postings reads + a per-doc array
    * adjacency check — no position ever leaves its row. Exactness:
    * the adjacency fold is integer, the scoring tail is [[bm25]]'s
    * (fixed-order, 6-decimal-floored rank key), so the DuckDB
    * list_contains mirror ([[bm25PhraseOracleSql]]) hash-matches. */
  def bm25Phrase(docs: DataFrame, phrase: Seq[String], k: Int = Bm25K): DataFrame = {
    require(phrase.size >= 2, "bm25Phrase: a phrase needs >= 2 terms")
    val toks = docs.select(col("doc_id"),
      posexplode(tokens(col("text"))).as(Seq("pos", "term")))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val pos = toks.where(col("term").isin(phrase.distinct: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(sort_array(collect_list(col("pos"))).as("positions"))
    bm25From(phraseTf(pos, phrase), dl, stats,
      Seq(phrase.mkString(" ")), k, Bm25K1, Bm25B)
  }

  /** [[bm25Phrase]] served from a POSITIONAL index
    * ([[graft.sources.Catalog.buildTextIndex]] with
    * `positional = true`): the adjacency check runs over ≤|phrase|
    * stored posting reads — the corpus is never re-tokenized. Equal to
    * the direct scan exactly (same fold, same tail). */
  def bm25PhraseIndexed(idx: TextIndex, phrase: Seq[String],
      k: Int = Bm25K): DataFrame = {
    require(phrase.size >= 2, "bm25PhraseIndexed: a phrase needs >= 2 terms")
    require(idx.postings.columns.contains("positions"),
      "bm25PhraseIndexed: index is not positional (rebuild with positional = true)")
    bm25From(
      phraseTf(idx.postings.where(col("term").isin(phrase.distinct: _*))
        .select(col("doc_id"), col("term"), col("positions")), phrase),
      idx.dl, idx.stats, Seq(phrase.mkString(" ")), k, Bm25K1, Bm25B)
  }

  /** The adjacency fold shared by the scan and indexed phrase forms:
    * per doc, join the phrase terms' position arrays and count starts
    * p where every term i sits at p + i — `(doc_id, term = the joined
    * phrase, tf)` rows for docs with ≥ 1 start. A repeated term reuses
    * its one posting row (the join is per phrase INDEX). */
  private def phraseTf(postingsPos: DataFrame,
      phrase: Seq[String]): DataFrame = {
    val joined = phrase.zipWithIndex.map { case (t, i) =>
      postingsPos.where(col("term") === t)
        .select(col("doc_id"), col("positions").as(s"__ps$i"))
    }.reduce(_.join(_, "doc_id"))
    val starts = filter(col("__ps0"), p =>
      phrase.indices.tail
        .map(i => array_contains(col(s"__ps$i"), p + lit(i)))
        .reduce(_ && _))
    joined.select(col("doc_id"),
        lit(phrase.mkString(" ")).as("term"),
        size(starts).cast("long").as("tf"))
      .where(col("tf") > 0L)
  }

  /** DuckDB mirror for [[bm25Phrase]]: positions from the
    * generate_series/list_extract tokenization, adjacency as
    * list_contains arithmetic, the identical BM25 tail. */
  def bm25PhraseOracleSql(phrase: Seq[String]): String = {
    require(phrase.size >= 2)
    val pcts = phrase.distinct.map { t =>
      val a = alias(t)
      s"""$a AS (SELECT doc_id, list(pos ORDER BY pos) AS ps
             FROM toks WHERE term = '$t' GROUP BY doc_id)"""
    }.mkString(",\n         ")
    val joins = phrase.zipWithIndex.map { case (t, i) =>
      s"${alias(t)} AS j$i"
    }.zipWithIndex.map { case (a, i) =>
      if (i == 0) s"FROM $a" else s"JOIN $a USING (doc_id)"
    }.mkString(" ")
    val adj = phrase.indices.tail
      .map(i => s"list_contains(j$i.ps, p + $i)").mkString(" AND ")
    val ph = phrase.mkString(" ")
    s"""WITH toks AS (SELECT doc_id, t.i - 1 AS pos, list_extract(tl, t.i) AS term
             FROM (SELECT doc_id,
                     list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS tl
                   FROM documents)
             CROSS JOIN unnest(generate_series(1, len(tl))) AS t(i)),
         dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         stats AS (SELECT count(*) AS n_docs, sum(dl) AS sum_dl FROM dl),
         $pcts,
         tfp AS (SELECT doc_id, '$ph' AS term, tf FROM (
             SELECT j0.doc_id,
                    CAST(len(list_filter(j0.ps, p -> $adj)) AS BIGINT) AS tf
             $joins) WHERE tf > 0),
         dft AS (SELECT term, count(*) AS df FROM tfp GROUP BY term),
         parts AS (SELECT tfp.doc_id, tfp.term,
                ln((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
                   / (CAST(df AS DOUBLE) + 0.5) + 1.0)
                * (CAST(tf AS DOUBLE) * ($Bm25K1 + 1.0))
                / (CAST(tf AS DOUBLE) + $Bm25K1 * ((1.0 - $Bm25B)
                   + $Bm25B * (CAST(dl AS DOUBLE)
                           / (CAST(sum_dl AS DOUBLE) / CAST(n_docs AS DOUBLE))))) AS part
           FROM tfp JOIN dft USING (term) JOIN dl USING (doc_id), stats),
         sc AS (SELECT doc_id,
                coalesce(max(CASE WHEN term = '$ph' THEN part END), 0.0) AS s0
           FROM parts GROUP BY doc_id)
         SELECT doc_id, floor(s0 * 1000000.0 + 0.5) / 1000000.0 AS score
         FROM sc ORDER BY score DESC, doc_id LIMIT $Bm25K"""
  }

  private def alias(term: String): String =
    "p_" + term.map(c => if (c.isLetterOrDigit) c else '_')

  /** The shared BM25 scoring tail: df from the (pruned) tf grain, the
    * Robertson score per (doc, term), fixed-query-order summation, the
    * rounded-score rank key — every caller gets the identical doubles. */
  private[graft] def bm25From(tf: DataFrame, dl: DataFrame, stats: DataFrame,
      query: Seq[String], k: Int, k1: Double, b: Double): DataFrame = {
    import graft.functions.Exact.round6
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val parts = tf.join(broadcast(dft), "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("part",
        log((col("n_docs").cast("double") - col("df").cast("double") + lit(0.5))
            / (col("df").cast("double") + lit(0.5)) + lit(1.0))
          * (col("tf").cast("double") * (lit(k1) + lit(1.0)))
          / (col("tf").cast("double") + lit(k1) * ((lit(1.0) - lit(b))
            + lit(b) * (col("dl").cast("double")
              / (col("sum_dl").cast("double") / col("n_docs").cast("double"))))))
    val score = query.map(t =>
        coalesce(max(when(col("term") === t, col("part"))), lit(0.0)))
      .reduce(_ + _)
    parts.groupBy(col("doc_id"))
      .agg(round6(score).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Corpus DRIFT card — did the distribution of a training corpus
    * move between two snapshots? One row per monitored FEATURE with
    * total-variation distance, the biggest-moving category, and both
    * snapshot sizes — the release gate next to [[kAnonymityCard]]: a
    * new corpus drop whose lang/source/length mix shifted is flagged
    * before it trains.
    *
    * Metric choice: the textbook monitor is PSI, but PSI's ln() puts
    * libm in a hashed output (the q_benford no-go), so the card
    * reports TVD — `0.5 · Σ|p_b − p_c|`, the metric PSI monotonically
    * tracks for small shifts — computed with an EXACT integer
    * numerator: `Σ|n_b·tot_c − n_c·tot_b|` over categories, one
    * closing double division. Exact while each snapshot stays under
    * ~3·10⁹ rows (the bigint product bound); beyond that switch the
    * numerator to the proportional double form and accept last-ulp
    * noise — at 100 TB the card itself is still category-grain tiny.
    *
    * Shape: one scan per snapshot per feature reduced to category
    * grain (map-side combinable counts), a category-grain full-outer
    * join (absent category = 0), scalar totals via broadcast cross
    * join (the lorenzDeciles convention), everything downstream
    * bounded by category cardinality. Top category tie-break: largest
    * (diff, category) struct — deterministic on both engines. */
  def driftCard(baseline: DataFrame, current: DataFrame,
      features: Seq[(String, Column)]): DataFrame =
    features.map { case (name, fc) =>
      def cats(df: DataFrame, n: String) =
        df.groupBy(coalesce(fc.cast("string"), lit("∅")).as("cat"))
          .agg(count(lit(1)).as(n))
      driftCardFromCounts(
        cats(baseline, "n_b").join(cats(current, "n_c"), Seq("cat"), "full_outer")
          .select(col("cat"), coalesce(col("n_b"), lit(0L)).as("n_b"),
            coalesce(col("n_c"), lit(0L)).as("n_c")),
        name)
    }.reduce(_ unionByName _)

  /** [[driftCard]]'s tail from pre-reduced category counts
    * `(cat, n_b, n_c)` — the entry the STREAMING monitor uses, where
    * the counts are a folded aggregate-MV state rather than two fresh
    * scans. Category-grain in, one card row out. */
  def driftCardFromCounts(counts: DataFrame, name: String): DataFrame = {
    import graft.functions.Exact.round6
    val j = counts.localCheckpoint() // referenced by the totals AND the diffs
    val tot = j.agg(sum(col("n_b")).as("tot_b"), sum(col("n_c")).as("tot_c"))
    j.crossJoin(broadcast(tot))
      .withColumn("diff", abs(col("n_b") * col("tot_c") - col("n_c") * col("tot_b")))
      .agg(count(lit(1)).as("n_cat"),
        first(col("tot_b")).as("base_n"),
        first(col("tot_c")).as("cur_n"),
        sum(col("diff")).as("sum_diff"),
        max(struct(col("diff"), col("cat"))).as("top"))
      .select(lit(name).as("feature"), col("n_cat"), col("base_n"), col("cur_n"),
        round6(col("sum_diff").cast("double")
          / (lit(2.0) * col("base_n") * col("cur_n"))).as("tvd"),
        col("top.cat").as("top_category"),
        round6(col("top.diff").cast("double")
          / (col("base_n").cast("double") * col("cur_n").cast("double")))
          .as("top_shift"))
  }

  /** Pairwise source VOCABULARY overlap — which sources are telling
    * the same stories (feeds mixture weighting and contamination
    * triage before any pairwise doc compare). Exact Jaccard between
    * the sources' distinct word sets: one distinct (source, word)
    * scan, a word-keyed self-join whose per-word fan-out is bounded by
    * |sources|² (never the corpus), canonical a<b orientation.
    * Output ≤ C(|sources|,2) rows with both set sizes, the
    * intersection, and one closing division. */
  def sourceOverlap(docs: DataFrame): DataFrame = {
    import graft.functions.Exact.round6
    val sw = docs.select(col("source"), explode(tokens(col("text"))).as("w"))
      .distinct()
    val sizes = sw.groupBy(col("source")).agg(count(lit(1)).as("sz"))
    sw.as("a")
      .join(sw.as("b"),
        col("a.w") === col("b.w") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(broadcast(sizes.select(col("source").as("source_a"), col("sz").as("n_a"))),
        "source_a")
      .join(broadcast(sizes.select(col("source").as("source_b"), col("sz").as("n_b"))),
        "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_inter"),
        round6(col("n_inter").cast("double")
          / (col("n_a") + col("n_b") - col("n_inter"))).as("jaccard"))
  }
}
