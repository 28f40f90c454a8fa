package graft.operators

import graft.Tables
import graft.functions.NumFns.roundHalfUp
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * language ID, quality scoring, token counting, winnowing fingerprints.
  *
  * All four are per-row expression trees (whole-stage codegen, zero shuffle
  * except the deterministic result sort) — at 100 TB they run at scan speed,
  * bounded by parquet decode.
  */
object TextAnalysis {

  // ------------------------------------------------------------------ lang_id

  /** Tiny per-language stopword sets — the classic n-gram/stopword heuristic.
    * Literal sets stay inside codegen (no join, no UDF).
    */
  val Stopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "in", "is", "that"),
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "pour", "une"),
    "es" -> Seq("el", "los", "las", "y", "es", "en", "para", "una"),
    "it" -> Seq("il", "lo", "che", "e", "di", "per", "non", "alla"))

  /** Predict language = argmax over stopword-hit counts; ties resolve in
    * `Stopwords` declaration order (en first), deterministically.
    */
  def langId(docs: DataFrame, textCol: String): DataFrame = {
    val toks = spaceTokens(col(textCol))
    val scored = Stopwords.foldLeft(docs) { case (df, (lang, words)) =>
      df.withColumn(s"s_$lang", tokensIn(toks, words))
    }
    val mx = greatest(Stopwords.map { case (l, _) => col(s"s_$l") }: _*)
    val pred = Stopwords.tail.foldLeft(
      when(col(s"s_${Stopwords.head._1}") === mx, Stopwords.head._1)) {
      case (acc, (l, _)) => acc.when(col(s"s_$l") === mx, l)
    }
    scored.withColumn("pred_lang", pred)
  }

  def qLangId(s: SparkSession, d: String): DataFrame =
    langId(Tables.documents(s, d), "text")
      .select("doc_id", "s_en", "s_de", "s_fr", "s_es", "s_it", "pred_lang")
      .orderBy("doc_id")

  // ------------------------------------------------------------- quality_score

  /** Document quality: length score (capped), vocabulary diversity
    * (distinct/total tokens — the dup-line ratio analogue for one-line docs),
    * stopword presence (capped ×5 — well-formed prose sits near 0.2+),
    * plus the punctuation and uppercase diagnostics filter policies key on
    * (machine-generated junk skews punct-heavy; SHOUTING skews upper-heavy).
    * quality = 0.4·len + 0.3·diversity + 0.3·stopword, rounded to 4.
    */
  def qualityScore(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = spaceTokens(t)
    val nWords = size(toks).cast("long")
    val nDistinct = size(array_distinct(toks)).cast("long")
    val stopHits = tokensIn(toks, Stopwords.head._2)
    val nChars = length(t)
    val nPunct = nChars - length(regexp_replace(t, "[^A-Za-z0-9\\s]", ""))
    val nLetters = length(regexp_replace(t, "[^A-Za-z]", ""))
    val nUpper = length(regexp_replace(t, "[^A-Z]", ""))
    // roundHalfUp, not round(): Spark's round() rounds the shortest decimal
    // repr where DuckDB rounds the binary value, and the two disagree at
    // non-representable half-way points — a 48-word doc with 25 distinct
    // words and 2 stop hits scores exactly 0.31475, which Spark's round
    // sends to 0.3148 and DuckDB's to 0.3147 (a real sf0.1 oracle
    // mismatch). The floor form is bit-identical across engines; the
    // oracle SQL spells out the same floor(x·10^s + 0.5)/10^s.
    docs
      .withColumn("n_words", nWords)
      .withColumn("distinct_ratio", roundHalfUp(nDistinct / nWords.cast("double"), 6))
      .withColumn("stop_ratio", roundHalfUp(stopHits / nWords.cast("double"), 6))
      .withColumn("punct_ratio",
        when(nChars > 0, roundHalfUp(nPunct / nChars.cast("double"), 6)))
      .withColumn("upper_ratio",
        when(nLetters > 0, roundHalfUp(nUpper / nLetters.cast("double"), 6)))
      .withColumn(
        "quality",
        roundHalfUp(
          least(nWords / lit(200.0), lit(1.0)) * 0.4 +
            (nDistinct / nWords.cast("double")) * 0.3 +
            least(stopHits / nWords.cast("double") * 5.0, lit(1.0)) * 0.3,
          4))
  }

  def qQualityScore(s: SparkSession, d: String): DataFrame =
    qualityScore(Tables.documents(s, d), "text")
      .select("doc_id", "n_words", "distinct_ratio", "stop_ratio",
        "punct_ratio", "upper_ratio", "quality")
      .orderBy("doc_id")

  // -------------------------------------------------------------- token_count

  /** Token counting three ways: whitespace tokens, a BPE-ish regex pass
    * (letter/digit runs + each symbol — the classic pre-tokenizer), and the
    * chars/4 rule-of-thumb estimate.
    */
  def tokenCount(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    docs
      .withColumn("ws_tokens", size(spaceTokens(t)).cast("long"))
      .withColumn(
        "re_tokens",
        size(regexp_extract_all(t, lit("[A-Za-z0-9]+|[^A-Za-z0-9\\s]"), lit(0))).cast("long"))
      .withColumn("n_chars_text", length(t).cast("long"))
      .withColumn("bpe_est", ceil(length(t) / lit(4.0)).cast("long"))
  }

  def qTokenCount(s: SparkSession, d: String): DataFrame =
    tokenCount(Tables.documents(s, d), "text")
      .select("doc_id", "ws_tokens", "re_tokens", "n_chars_text", "bpe_est")
      .orderBy("doc_id")

  // ------------------------------------------------------------ quality_gopher

  /** The published training-data quality GATES (Gopher, Rae et al. 2021,
    * §A1.1 rules; C4, Raffel et al. 2020), as computed columns + a keep
    * verdict — the filter every large-scale text pipeline runs before
    * training:
    *  - word count within [minWords, maxWords] (Gopher: 50..100k);
    *  - mean word length within [3, 10] chars — on a single-space corpus
    *    Σ|token| = len(trim) − (n − 1), so the mean needs no per-token loop;
    *  - symbol-to-word ratio ('#' or '…'/'...') ≤ 0.1;
    *  - fraction of tokens containing an alphabetic character ≥ 0.8
    *    (C4's "word must contain a letter" rule, fractionalized);
    *  - at least 2 stopword hits (Gopher's stop-word screen).
    * All per-row; the alpha-fraction token filter is the one HOF here
    * (bounded by tokens/doc, not grams — fine at any scale).
    */
  def gopherQuality(docs: DataFrame, textCol: String,
      minWords: Int = 50, maxWords: Int = 100000): DataFrame = {
    val t = col(textCol)
    val toks = spaceTokens(t)
    val nWords = size(toks).cast("long")
    val meanWordLen =
      (length(zsTrim(t)) - (nWords - 1)).cast("double") / nWords.cast("double")
    val symbols = size(regexp_extract_all(t, lit("#|\\.\\.\\.|…"), lit(0))).cast("long")
    val alphaWords = size(filter(toks, x => x.rlike("[A-Za-z]"))).cast("long")
    val stopHits = tokensIn(toks, Stopwords.head._2)
    docs
      .withColumn("n_words", nWords)
      .withColumn("mean_word_len", roundHalfUp(meanWordLen, 4))
      .withColumn("symbol_ratio",
        roundHalfUp(symbols / nWords.cast("double"), 4))
      .withColumn("alpha_frac",
        roundHalfUp(alphaWords / nWords.cast("double"), 4))
      .withColumn("stop_hits", stopHits)
      .withColumn("gopher_keep",
        nWords >= minWords && nWords <= maxWords &&
        col("mean_word_len") >= 3.0 && col("mean_word_len") <= 10.0 &&
        col("symbol_ratio") <= 0.1 &&
        col("alpha_frac") >= 0.8 &&
        col("stop_hits") >= 2)
  }

  def qQualityGopher(s: SparkSession, d: String): DataFrame =
    gopherQuality(Tables.documents(s, d), "text")
      .select("doc_id", "n_words", "mean_word_len", "symbol_ratio",
        "alpha_frac", "stop_hits", "gopher_keep")
      .orderBy("doc_id")

  // ------------------------------------------------------ quality_repetition

  /** The Gopher REPETITION gates (Rae et al. 2021 §A1.1 — the other half
    * of [[gopherQuality]]'s rule set): repetitious text signals template /
    * spam content.
    *  - duplicate line fraction ≤ 0.30: non-empty lines repeating an
    *    earlier line, as a fraction of all non-empty lines;
    *  - duplicate line CHARACTER fraction ≤ 0.20: characters inside the
    *    repeated occurrences over all line characters;
    *  - top n-gram character fraction for n = 2/3/4 (≤ 0.20/0.18/0.16):
    *    word-characters covered by the most frequent n-gram (gram word
    *    chars × occurrences) over the document's characters.
    *
    * Line stats are per-row expressions (bounded by lines/doc). The
    * n-gram counts are the distributed part: one explode of the
    * multiplicity-preserving native [[graft.functions.WordNgramsAll]]
    * kernel for all three n at once → map-side-combined count by
    * (doc, n, gram) → per-doc pivot max — no window on the gram key (the
    * documented scale hazard), one join back to the per-row stats.
    */
  def repetitionQuality(docs: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val t = col(textCol)
    val lines = filter(split(t, "\n"), l => length(zsTrim(l)) > 0)
    val nLines = size(lines).cast("double")
    val distinctLines = array_distinct(lines)
    val lineChars = length(array_join(lines, "")).cast("double")
    val distinctChars = length(array_join(distinctLines, "")).cast("double")
    // empty / whitespace-only docs: 0/0 is NaN in double math (not NULL —
    // coalesce would never fire), so gate the division explicitly
    val base = docs
      .withColumn("dup_line_frac",
        when(size(lines) === 0, lit(0.0))
          .otherwise(roundHalfUp(
            lit(1.0) - size(distinctLines) / nLines, 4)))
      .withColumn("dup_line_char_frac",
        when(size(lines) === 0, lit(0.0))
          .otherwise(roundHalfUp(
            (lineChars - distinctChars) / lineChars, 4)))
      .withColumn("__total_chars", length(t).cast("double"))

    def gramsAll(n: Int) = GraftSqlBridge.column(
      graft.functions.WordNgramsAll(
        GraftSqlBridge.expression(spaceTokens(t)), n))
    val grams = docs.select(col("doc_id"),
      explode(flatten(array(Seq(2, 3, 4).map(n =>
        transform(gramsAll(n), g => struct(lit(n).as("n"), g.as("gram")))): _*)))
        .as("ng"))
      .select(col("doc_id"), col("ng.n").as("n"), col("ng.gram").as("gram"))
    // the gate reads the MOST FREQUENT n-gram (Gopher's definition), not
    // the gram maximizing chars×count — rank by (count, chars) so count
    // wins and ties break deterministically toward the longer gram
    val tops = grams
      .groupBy("doc_id", "n", "gram").count()
      .withColumn("gram_chars",
        (length(col("gram")) - (col("n") - 1)).cast("double") * col("count"))
      .groupBy("doc_id").pivot("n", Seq(2, 3, 4))
      .agg(max(struct(col("count"), col("gram_chars"))).getField("gram_chars"))
      .withColumnRenamed("2", "__top2").withColumnRenamed("3", "__top3")
      .withColumnRenamed("4", "__top4")

    def frac(c: Column): Column =
      coalesce(roundHalfUp(c / col("__total_chars"), 4), lit(0.0))
    base.join(tops, Seq("doc_id"), "left")
      .withColumn("top_2gram_frac", frac(col("__top2")))
      .withColumn("top_3gram_frac", frac(col("__top3")))
      .withColumn("top_4gram_frac", frac(col("__top4")))
      .withColumn("repetition_keep",
        col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20 &&
        col("top_2gram_frac") <= 0.20 && col("top_3gram_frac") <= 0.18 &&
        col("top_4gram_frac") <= 0.16)
      .drop("__total_chars", "__top2", "__top3", "__top4")
  }

  /** queries() wrapper: every fifth doc gets a thrice-repeated line, every
    * seventh a "spam spam …" bigram run — both trip their gates; clean
    * prose keeps.
    */
  def qQualityRepetition(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val full = concat(
      col("text"),
      when(id % 5 === 0,
        lit("\nCall now to subscribe today\nCall now to subscribe today\nCall now to subscribe today"))
        .otherwise(lit("")),
      when(id % 7 === 0, lit("\n" + Seq.fill(40)("spam").mkString(" ")))
        .otherwise(lit("")))
    repetitionQuality(
      Tables.documents(s, d).select(id, full.as("full")), "full")
      .select("doc_id", "dup_line_frac", "dup_line_char_frac",
        "top_2gram_frac", "top_3gram_frac", "top_4gram_frac",
        "repetition_keep")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- perplexity_bucket

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score each
    * document with a language model and split the corpus into
    * head / middle / tail terciles — the standard quality-stratification
    * step before sampling training data. The LM here is honestly STUBBED
    * as corpus unigram statistics (no external model ships in this
    * container): score = mean −ln p(word) over the doc's tokens, with
    * p(word) = corpus count / corpus token total — a real unigram
    * "perplexity" computed entirely relationally.
    *
    * Shape at 100 TB: one explode → partial-agg word count (map-side
    * combined), one total (1-row broadcast), doc scores via an equi-join
    * on the word key + per-doc avg, and bucket THRESHOLDS as a 1-row
    * exact-percentile aggregate broadcast back — NO global window/ntile
    * (a single-partition sort of every doc score is the anti-pattern this
    * avoids; R-7 percentile matches DuckDB quantile_cont for the oracle).
    *
    * Zipf de-skew: the word key is maximally skewed ("the" appears in
    * every doc), so the token⋈counts join would funnel the hottest keys
    * into single shuffle partitions at scale. The `hotWords` highest
    * counts ship as a BROADCAST instead — a hot token resolves its count
    * map-side and never shuffles; only the long tail (which is flat by
    * construction: every remaining key's count is below the broadcast
    * floor) equi-joins on the word key.
    */
  def perplexityBucket(docs: DataFrame, textCol: String,
      hotWords: Int = 1 << 16): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(spaceTokens(col(textCol))).as("word"))
    val counts = words.groupBy("word").count()
    val total = counts.agg(sum("count").as("total"))
    val hot = broadcast(
      counts.orderBy(col("count").desc, col("word")).limit(hotWords)
        .withColumnRenamed("count", "hot_count"))
    val tagged = words.join(hot, Seq("word"), "left")
    val hotResolved = tagged.filter(col("hot_count").isNotNull)
      .select(col("doc_id"), col("hot_count").as("count"))
    val tailResolved = tagged.filter(col("hot_count").isNull).drop("hot_count")
      // shuffle_hash: the tail slice is count-bounded per key — never let
      // a size misestimate pick a sort-merge of the full token table
      .join(counts.hint("shuffle_hash"), Seq("word"))
      .select(col("doc_id"), col("count"))
    val scored = hotResolved.unionByName(tailResolved)
      .join(broadcast(total))
      .withColumn("nll", -log(col("count") / col("total")))
      .groupBy("doc_id")
      .agg(roundHalfUp(avg(col("nll")), 4).as("ppl_score"))
    val cuts = scored.agg(
      roundHalfUp(
        percentile(col("ppl_score"), lit(1.0 / 3)), 4).as("c1"),
      roundHalfUp(
        percentile(col("ppl_score"), lit(2.0 / 3)), 4).as("c2"))
    scored.join(broadcast(cuts))
      .withColumn("ppl_bucket",
        when(col("ppl_score") <= col("c1"), "head")
          .when(col("ppl_score") <= col("c2"), "middle")
          .otherwise(lit("tail")))
      .drop("c1", "c2")
  }

  def qPerplexityBucket(s: SparkSession, d: String): DataFrame =
    perplexityBucket(Tables.documents(s, d), "text")
      .orderBy("doc_id")

  // ---------------------------------------------------------- sequence_pack

  /** Sequence packing — group documents into packs of at most `maxTokens`
    * tokens, the step between a cleaned corpus and fixed-length training
    * batches. True first-fit-decreasing is inherently sequential; the
    * distributed form every large pipeline uses is SHARD-LOCAL contiguous
    * packing: docs hash into `nShards` bounded shards, and within a shard
    * (ordered by doc_id) a doc joins the pack its cumulative token OFFSET
    * falls in — `pack = floor((cumsum − tokens) / maxTokens)`. One
    * window per shard (bounded partitions — never a global sort), fully
    * deterministic. Invariant: every doc STARTS at an in-budget offset of
    * its pack (`start − pack·maxTokens ∈ [0, maxTokens)`); a doc
    * straddling the boundary overflows its pack by less than its own
    * length — the consumer chunks the concatenated token stream at
    * `maxTokens`, so the spill is simply the next chunk's prefix, exactly
    * how fixed-length batch assembly treats it. (An oversized doc is NOT
    * isolated: it shares whatever pack its start offset falls in and
    * spills across the following chunks.) Output: (doc_id, n_tokens,
    * shard, pack_id, pack_slot).
    */
  def sequencePack(docs: DataFrame, textCol: String,
      maxTokens: Int = 2048, nShards: Int = 64): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nTokens = size(spaceTokens(col(textCol))).cast("long")
    val shard = pmod(col("doc_id"), lit(nShards))
    val w = Window.partitionBy("shard").orderBy("doc_id")
    docs
      .select(col("doc_id"), nTokens.as("n_tokens"), shard.as("shard"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("pack_id", ((col("cum") - col("n_tokens")) / maxTokens)
        .cast("long"))
      .withColumn("pack_slot",
        row_number().over(Window.partitionBy("shard", "pack_id").orderBy("doc_id"))
          .cast("long"))
      .drop("cum")
  }

  def qSequencePack(s: SparkSession, d: String): DataFrame =
    sequencePack(Tables.documents(s, d), "text", maxTokens = 512, nShards = 8)
      .orderBy("doc_id")

  // ---------------------------------------------------------- doc_fingerprint

  /** Winnowing document fingerprint (Schleimer et al., SIGMOD'03): hash every
    * k-gram of characters, slide a window of `w` hashes, keep each window's
    * minimum, dedupe. Guarantees any shared substring of length ≥ w+k-1
    * yields a shared fingerprint — the standard near-dup/plagiarism sketch.
    *
    * The k-gram hash is Spark's murmur3 `hash`; the k-gram and window
    * loops run in the native `WinnowFingerprints` expression, one primitive
    * loop per document inside codegen. Per-doc, no shuffle; selectivity
    * (fingerprints ≪ k-grams) keeps the output small enough to join at
    * 100 TB.
    */
  def docFingerprints(docs: DataFrame, textCol: String, k: Int = 7, w: Int = 4): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val t = col(textCol)
    docs
      .filter(length(t) >= k + w - 1) // need at least one full window
      .withColumn("fingerprints", GraftSqlBridge.column(
        graft.functions.WinnowFingerprints(GraftSqlBridge.expression(t), k, w)))
  }

  // ------------------------------------------------------- contamination_check

  /** Benchmark decontamination — the pre-training pass that flags documents
    * overlapping an evaluation set (the n-gram–overlap method most published
    * training-data pipelines use). Benchmark phrases shingle into word
    * n-grams ONCE (tiny — broadcast); the corpus shingles per row and
    * equi-joins the broadcast gram set, so the corpus is touched in one
    * codegen'd pass with no shuffle before the per-doc count. A doc with
    * ANY benchmark n-gram is contaminated; the hit count supports
    * threshold policies downstream.
    */
  def contamination(docs: DataFrame, benchPhrases: DataFrame, n: Int): DataFrame = {
    val docGrams = docs
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), explode(wordNgrams(col("w"), n)).as("g"))
    val benchGrams = benchPhrases
      .withColumn("w", spaceTokens(col("phrase")))
      .filter(size(col("w")) >= n)
      .select(explode(wordNgrams(col("w"), n)).as("g"))
      .distinct()
    val hits = docGrams
      .join(broadcast(benchGrams), Seq("g")) // doc grams are distinct per doc
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hits"))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** queries() wrapper: the "benchmark" is the first 12 words of every 50th
    * document — those docs (and any doc quoting the same opening) must flag.
    */
  def qContamination(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val bench = docs.filter(col("doc_id") % 50 === 0)
      .select(firstWords(col("text"), 12).as("phrase"))
    contamination(docs, bench, n = 3).orderBy("doc_id")
  }

  // ------------------------------------------------------------ sample_bottomk

  /** Deterministic per-group sampling via the bottom-k hash sketch
    * (graft.functions.BottomKSample): O(k) memory per partial, merge-order
    * independent, reproducible without seed plumbing — the sampling
    * primitive for training-data splits.
    */
  def qSampleBottomK(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .groupBy("source")
      .agg(graft.functions.BottomKSample.bottom_k_sample(col("doc_id"), 10).as("sample"))
      .select(col("source"),
        concat_ws(",", col("sample")).as("sample_ids"),
        size(col("sample")).cast("long").as("n_sampled"))
      .orderBy("source")

  def qDocFingerprint(s: SparkSession, d: String): DataFrame =
    docFingerprints(Tables.documents(s, d), "text")
      .select(
        col("doc_id"),
        size(col("fingerprints")).cast("long").as("n_fingerprints"),
        array_min(col("fingerprints")).cast("long").as("fp_min"),
        array_max(col("fingerprints")).cast("long").as("fp_max"))
      .orderBy("doc_id")

  // ----------------------------------------------------------------- pii_scrub

  /** Email addresses — the C4-style pattern both Java regex and RE2 parse
    * identically (no lookaround, no backrefs).
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  /** Dotted-quad IPv4 (word-bounded). */
  val Ipv4Re = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  /** International-format phone numbers (leading +, ≥ 9 digits/separators) —
    * deliberately conservative: a bare digit run is usually NOT a phone and
    * aggressive patterns destroy numeric content.
    */
  val PhoneRe = "\\+\\d[\\d() .-]{7,}\\d"

  /** PII scrubbing — the redaction pass every published training-data
    * pipeline runs before release: emails → `<EMAIL>`, IPv4s → `<IP>`,
    * international phone numbers → `<PHONE>`, with per-doc match counts
    * kept as columns (counted on the ORIGINAL text, before any replacement
    * can shadow a later pattern). Applied in a fixed order
    * (email → ip → phone) so the result is deterministic. Pure per-row
    * regex projections — zero shuffle at any scale.
    */
  def piiScrub(docs: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(t, EmailRe, "<EMAIL>"),
        Ipv4Re, "<IP>"),
      PhoneRe, "<PHONE>")
    docs
      .withColumn("n_emails", size(regexp_extract_all(t, lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_ips", size(regexp_extract_all(t, lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("n_phones", size(regexp_extract_all(t, lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("text_scrubbed", scrubbed)
  }

  /** queries() wrapper: plants deterministic PII into the corpus — an email
    * every 3rd doc, an IP every 4th, a phone every 5th (overlapping ids
    * exercise multi-kind docs), none elsewhere.
    */
  def qPiiScrub(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val planted = concat(
      col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id, lit("@example-site.org"))).otherwise(lit("")),
      when(id % 4 === 0, concat(lit(" from 10.0."), id % 256, lit(".1"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" call +31 20 "), id % 900 + 100, lit(" 0"), id % 90 + 10)).otherwise(lit("")))
    piiScrub(Tables.documents(s, d).select(id, planted.as("text")), "text")
      .select("doc_id", "n_emails", "n_ips", "n_phones", "text_scrubbed")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------ text_fix

  /** The classic UTF-8-decoded-as-cp1252 MOJIBAKE sequences and their
    * repairs, longest/most-specific first — the deterministic core of the
    * ftfy-style fix pass (curly quotes/dashes/ellipsis via the `â€¢`
    * family, Latin-1 accents via the `Ã¢` family, guillemets/degree via
    * `Â¢`). Only sequences whose cp1252 bytes are all PRINTABLE are
    * listed: a table of literal replacements is cross-engine reproducible
    * where a charset transcode round-trip is not.
    */
  val MojibakeFixes: Seq[(String, String)] = Seq(
    "â€™" -> "’", "â€œ" -> "“", "â€”" -> "—",
    "â€“" -> "–", "â€¦" -> "…",
    "Ã©" -> "é", "Ã¨" -> "è", "Ã¤" -> "ä", "Ã¶" -> "ö", "Ã¼" -> "ü",
    "Ã±" -> "ñ", "Ã§" -> "ç",
    "Â«" -> "«", "Â»" -> "»", "Â°" -> "°")

  /** Zero-width characters (ZWSP/ZWNJ/ZWJ/BOM) — invisible, tokenizer-
    * hostile, stripped outright.
    */
  val ZeroWidthRe = "[\\u200b\\u200c\\u200d\\ufeff]"
  /** C0 controls except tab/newline/CR, plus DEL. */
  val ControlRe = "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]"

  /** Text fixing — the encoding-repair + sanitation pass a web corpus
    * needs before any tokenizer sees it (the published recipe: ftfy's
    * mojibake repair, then control/zero-width stripping, then whitespace
    * normalization; C4/CCNet both run an equivalent). In order:
    * mojibake table ([[MojibakeFixes]], fixed order), NBSP → space,
    * zero-width strip, control strip, 2+-space runs collapse. Every step
    * is a literal `replace` or RE2-safe `regexp_replace` — per-row
    * projection, zero shuffle, whole-stage codegen, and a DuckDB oracle
    * can run the identical chain.
    */
  def fixText(c: Column): Column = {
    val afterMoji = MojibakeFixes.foldLeft(c) { case (acc, (bad, good)) =>
      replace(acc, lit(bad), lit(good))
    }
    val noNbsp = replace(afterMoji, lit("\u00a0"), lit(" "))
    val noZw = regexp_replace(noNbsp, ZeroWidthRe, "")
    val noCtl = regexp_replace(noZw, ControlRe, "")
    regexp_replace(noCtl, " {2,}", " ")
  }

  def textFix(docs: DataFrame, textCol: String): DataFrame = {
    val fixed = fixText(col(textCol))
    docs
      .withColumn("text_fixed", fixed)
      .withColumn("changed", fixed =!= col(textCol))
  }

  /** queries() wrapper: plants a deterministic mojibake + control-char +
    * zero-width prefix on every 3rd doc (the other docs assert the
    * no-op path) and emits the repaired head.
    */
  def qTextFix(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val planted = when(id % 3 === 0,
      concat(lit("CafÃ© â€” â€œdataâ€™ Â«xÂ»\u0007\u200b  "), col("text")))
      .otherwise(col("text"))
    textFix(Tables.documents(s, d).select(id, planted.as("text")), "text")
      .select(col("doc_id"), col("changed"),
        substring(col("text_fixed"), 1, 60).as("head"),
        length(col("text_fixed")).as("n_chars_fixed"))
      .orderBy("doc_id")
  }

  // --------------------------------------------------------- sample_stratified

  /** Deterministic STRATIFIED sampling: within each stratum keep the `k`
    * rows whose md5(id) sorts smallest — a uniform, seedless, reproducible
    * choice (md5 is order-uniform on distinct ids, and both Spark and
    * DuckDB compute the identical hex digest, so the selection is
    * cross-engine verifiable — the property xxhash-based sampling lacks).
    * One window per stratum partition; at 100 TB the same selection runs as
    * groupBy + partial-agg `min_by(k)` if a stratum is too hot for a
    * window, but strata here are facet-sized. The training-data use: equal
    * per-language / per-source subsamples with no RNG state to ship.
    */
  /** The shared selection order: md5-of-id with id tie-break, ranked
    * within the stratum — the single definition both sampling operators
    * and their DuckDB oracles mirror character for character.
    */
  private def rankWithinStratum(docs: DataFrame,
      stratumCol: String, idCol: String): DataFrame = {
    val byStratum = org.apache.spark.sql.expressions.Window
      .partitionBy(stratumCol)
      .orderBy(md5(col(idCol).cast("string")), col(idCol))
    docs.withColumn("rk", row_number().over(byStratum).cast("long"))
  }

  def stratifiedSample(docs: DataFrame, stratumCol: String, idCol: String, k: Int): DataFrame =
    rankWithinStratum(docs, stratumCol, idCol).filter(col("rk") <= k)

  def qSampleStratified(s: SparkSession, d: String): DataFrame =
    stratifiedSample(Tables.documents(s, d), "lang", "doc_id", k = 7)
      .select("lang", "doc_id", "rk")
      .orderBy("lang", "rk")

  // ----------------------------------------------------------- mixture_sample

  /** Deterministic data-MIXTURE sampling — the domain-reweighting step of
    * training-data assembly (the published Pile / Gopher mixture tables):
    * `weights` are target corpus fractions per stratum value, and each
    * stratum keeps `floor(totalBudget × weight)` rows chosen by the same
    * seedless md5 bottom-k as [[stratifiedSample]] (cross-engine
    * reproducible, no RNG state to ship). Strata absent from `weights`
    * contribute nothing; a stratum smaller than its quota keeps everything
    * it has — achieved counts vs targets are the caller's check. The
    * quota table is a handful of entries broadcast as a literal map; one
    * window per stratum, same scale shape as stratified sampling.
    */
  def mixtureSample(docs: DataFrame, stratumCol: String, idCol: String,
      weights: Map[String, Double], totalBudget: Long): DataFrame = {
    // +1e-9 before the floor: 10 × 0.7 is 6.999…9 in binary doubles and a
    // bare floor would quietly hand the stratum one row less than the
    // documented floor(budget × weight)
    val quotas = weights.map { case (k, w) =>
      k -> math.floor(totalBudget * w + 1e-9).toLong
    }
    val quota = typedLit(quotas)
    // quota-0 strata would be fully sorted and then fully dropped — the
    // predicate is stratum-constant, so prune them before the window
    val weighted = docs.filter(
      col(stratumCol).isInCollection(quotas.filter(_._2 > 0).keys.toSeq))
    rankWithinStratum(weighted, stratumCol, idCol)
      .withColumn("quota",
        coalesce(try_element_at(quota, col(stratumCol)), lit(0L)))
      .filter(col("rk") <= col("quota"))
  }

  def qMixtureSample(s: SparkSession, d: String): DataFrame =
    mixtureSample(Tables.documents(s, d), "lang", "doc_id",
      weights = Map("en" -> 0.5, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.05),
      totalBudget = 100)
      .select("lang", "doc_id", "rk", "quota")
      .orderBy("lang", "rk")

  // -------------------------------------------------------------- dsir_select

  /** DSIR-style importance selection (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each document
    * by how much more likely its hashed-bigram features are under a
    * TARGET distribution than under the raw corpus, and keep the top
    * `keepFraction` by score — the published recipe for selecting
    * in-domain pretraining data from n-gram statistics alone.
    *
    * Features are word bigrams (multiplicity-preserving, the native
    * [[graft.functions.WordNgramsAll]] kernel) hashed into `buckets`
    * buckets via the samplers' cross-engine md5 recipe (first 8 hex chars
    * through conv — DuckDB reproduces it character for character, so the
    * whole operator is oracle-checkable, RNG-free and cluster-stable).
    * p (target) and q (raw) are Laplace-smoothed bucket distributions; a
    * doc's score is Σ_grams ln(p[b]/q[b]). A doc with fewer than two
    * tokens has no features and scores 0.0 — the empty-evidence sum —
    * keeping every input row in the output (a dropped id would
    * desynchronize downstream joins). Docs AT the cutoff are kept, so
    * selection is AT LEAST keepFraction; a strict compare would select
    * nothing on a degenerate corpus whose top scores tie.
    *
    * Shape at 100 TB: one explode → ONE partial-agg groupBy over
    * `buckets` keys computing target and raw counts together (the target
    * indicator aggregates conditionally — no second pass) → the
    * log-ratio table is `buckets` rows BROADCAST onto the gram stream →
    * per-doc score is a map-side-combinable sum → the selection cutoff
    * is a 1-row exact-percentile aggregate broadcast back. No global
    * window or sort anywhere (same discipline as [[perplexityBucket]]).
    */
  def dsirSelect(docs: DataFrame, textCol: String, idCol: String,
      isTarget: Column, buckets: Int = 64, keepFraction: Double = 0.25,
      smoothing: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val bigrams = GraftSqlBridge.column(graft.functions.WordNgramsAll(
      GraftSqlBridge.expression(spaceTokens(col(textCol))), 2))
    val gramRows = docs.select(
      col(idCol).as("doc_id"), isTarget.cast("boolean").as("is_t"),
      explode(bigrams).as("gram"))
      .select(col("doc_id"), col("is_t"),
        pmod(conv(substring(md5(col("gram")), 1, 8), 16, 10).cast("long"),
          lit(buckets.toLong)).as("b"))
    val counts = gramRows.groupBy("b").agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("tcnt"),
      count(lit(1)).as("rcnt"))
    val tots = counts.agg(sum("tcnt").as("ttot"), sum("rcnt").as("rtot"))
    val ratio = counts.join(broadcast(tots))
      .select(col("b"),
        (log((col("tcnt") + smoothing) / (col("ttot") + smoothing * buckets)) -
          log((col("rcnt") + smoothing) / (col("rtot") + smoothing * buckets)))
          .as("lr"))
    val scored = docs.select(col(idCol).as("doc_id"))
      .join(
        gramRows
          .join(broadcast(ratio), Seq("b"))
          .groupBy("doc_id")
          // roundHalfUp, not round(): Spark's BigDecimal round turns a
          // tiny negative sum into +0.0 where DuckDB keeps -0.0 (a real
          // sf0.1 oracle hash mismatch — the two zeros compare equal but
          // stringify differently); the floor form can never emit -0.0
          // and is bit-identical across engines (NumFns doc).
          .agg(roundHalfUp(sum("lr"), 4).as("s")),
        Seq("doc_id"), "left")
      .withColumn("dsir_score", coalesce(col("s"), lit(0.0)))
      .drop("s")
    val cutoff = scored.agg(
      roundHalfUp(
        percentile(col("dsir_score"), lit(1 - keepFraction)), 4).as("cut"))
    scored.join(broadcast(cutoff))
      .withColumn("selected", col("dsir_score") >= col("cut"))
      .drop("cut")
  }

  /** queries() wrapper: the target distribution is the English slice of
    * the corpus; DSIR scores every doc by its hashed-bigram likelihood
    * ratio and selects the top quarter. Fully oracle-checked — the md5
    * bucket hash, the smoothed log-ratios, and the percentile cutoff all
    * reproduce in DuckDB.
    */
  def qDsirSelect(s: SparkSession, d: String): DataFrame =
    dsirSelect(Tables.documents(s, d), "text", "doc_id",
      isTarget = col("lang") === "en")
      .orderBy("doc_id")

  // --------------------------------------------------------------- line_dedup

  /** Corpus-level LINE deduplication — the RefinedWeb/C4 boilerplate
    * pass: a line whose exact text appears in at least `minDocs` DISTINCT
    * documents is boilerplate (cookie banners, nav, footers — the
    * crawler-scale failure mode [[NormOps.passageClean]]'s WITHIN-doc
    * running-header filter cannot see) and is removed from every
    * document; surviving lines re-join in their original order.
    *
    * Shape at 100 TB: posexplode lines (narrow) → per-line distinct-doc
    * count (two-phase aggregate, map-side combined) → the hot-line table
    * is SMALL by construction (only lines crossing the threshold — real
    * boilerplate is a few thousand strings, not the corpus) and meets the
    * line table in a LEFT ANTI join → per-doc re-assembly is one groupBy
    * with the position travelling in the collected struct (array_sort on
    * (pos, line) — collect_list order is shuffle-nondeterministic, the
    * same discipline as [[SyncOps.sdiChildren]]). Two shuffles total
    * (line key, doc key), no windows, no driver-side state.
    */
  def lineDedup(docs: DataFrame, textCol: String,
      minDocs: Int = 5, minLineChars: Int = 5,
      idCol: String = "doc_id"): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    // minLineChars: blank lines (paragraph breaks) and trivially short
    // ones ("-", "1.") repeat everywhere by nature — only substantive
    // lines are boilerplate candidates, per the published passes
    val hot = lines
      .filter(length(col("line")) >= minLineChars)
      .groupBy("line")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= minDocs)
      .select("line")
    val rebuilt = lines
      .join(hot, Seq("line"), "left_anti")
      .groupBy("doc_id")
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("line")))),
          x => x.getField("line")), "\n").as("text_deduped"))
    // a doc whose every line was boilerplate keeps its row, emptied —
    // dropping it silently would desynchronize downstream id joins. ALL
    // original columns ride along (the final join touches `docs` anyway;
    // narrowing to the id would force every caller into a second
    // corpus-wide join just to recover its own metadata).
    docs.withColumn("doc_id", col(idCol))
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("text_deduped", coalesce(col("text_deduped"), lit("")))
  }

  /** queries() wrapper: every doc carries a universal banner line (hot),
    * every second doc a footer line (hot at minDocs=5 over 250+ docs),
    * every doc its corpus text and a unique line (both kept); one line is
    * planted in exactly minDocs−1 documents and must SURVIVE — the
    * threshold boundary.
    */
  def qLineDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      concat_ws("\n",
        lit("Accept cookies to continue"),
        col("text"),
        when(id % 2 === 0, lit("Contact us via the footer"))
          .otherwise(concat(lit("Unique middle "), id)),
        when(id < 4, lit("Rare notice line"))
          .otherwise(concat(lit("Unique tail "), id))).as("text"))
    lineDedup(docs, "text", minDocs = 5)
      .select("doc_id", "text_deduped")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- quality_classifier

  /** fastText-style hashed linear quality classifier (Joulin et al. 2016 —
    * the architecture behind the model-based quality gates of DCLM /
    * FineWeb-Edu-class pipelines): features are unigrams + bigrams of the
    * lowercased text hashed into `buckets` via the samplers' cross-engine
    * md5 recipe (first-8-hex, the same hash dsir_select uses), the MODEL IS
    * A TABLE — (bucket, weight) rows — and the score is the logistic of the
    * mean feature weight (fastText averages its input vectors; with dim=1
    * that mean-of-weights IS the supervised fastText head). Weights-as-data
    * means a model trained offline drops in as a parquet table with no code
    * change.
    *
    * Plan: explode grams → hash (codegen'd md5/conv) → BROADCAST-join the
    * weight table (`buckets` rows — never shuffles the gram stream) → one
    * doc-key partial aggregate (sum + count) → sigmoid projection. One
    * shuffle total; Zipf-hot grams are spread across buckets by the hash,
    * and the doc-key agg is partial-agg-friendly, so no skew key survives
    * to the exchange.
    */
  def qualityClassifier(docs: DataFrame, textCol: String, idCol: String,
      weights: DataFrame, buckets: Int = 1 << 12, bias: Double = 0.0,
      threshold: Double = 0.5): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val toks = spaceTokens(lower(col(textCol)))
    val bigrams = GraftSqlBridge.column(graft.functions.WordNgramsAll(
      GraftSqlBridge.expression(toks), 2))
    val feats = docs.select(col(idCol).as("doc_id"),
      explode(concat(toks, bigrams)).as("g"))
    val hashed = feats.select(col("doc_id"),
      pmod(conv(substring(md5(col("g")), 1, 8), 16, 10).cast("long"),
        lit(buckets.toLong)).as("b"))
    // LEFT join: a sparsely-stored model (zero-weight buckets omitted —
    // the natural parquet representation) must still divide by the FULL
    // feature count, or the mean saturates the sigmoid
    val scored = hashed
      .join(broadcast(weights.select(col("bucket").as("b"), col("weight"))),
        Seq("b"), "left")
      .groupBy("doc_id")
      .agg((sum(coalesce(col("weight"), lit(0.0))) / count(lit(1))).as("z"))
    docs.select(col(idCol).as("doc_id"))
      .join(scored, Seq("doc_id"), "left")
      .withColumn("quality_prob",
        roundHalfUp(lit(1.0) / (lit(1.0) +
          exp(-(coalesce(col("z"), lit(0.0)) + lit(bias)))), 4))
      .withColumn("keep", col("quality_prob") >= threshold)
      .drop("z")
  }

  /** queries() wrapper: a 64-bucket model whose weights are derived from
    * the bucket id by the same md5 recipe (so DuckDB states the identical
    * model independently), scaled by 1/128 — a power of two, so weight
    * sums are EXACT in binary and the doc score is order-independent
    * across partitionings. Fully oracle-checked: hash, model, mean, and
    * sigmoid all recompute in DuckDB.
    */
  def qQualityClassifier(s: SparkSession, d: String): DataFrame = {
    val weights = s.range(64).select(
      col("id").as("bucket"),
      ((pmod(conv(substring(md5(col("id").cast("string")), 1, 8), 16, 10)
        .cast("long"), lit(201L)) - 100L) / lit(128.0)).as("weight"))
    qualityClassifier(Tables.documents(s, d), "text", "doc_id",
      weights, buckets = 64)
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- domain_filter

  /** Host/domain-level corpus filtering (the RefinedWeb/C4 URL-level gate:
    * junk concentrates by SITE, so per-doc gates miss what per-host
    * statistics catch): aggregate per-doc signals to host level — doc
    * count, bad-doc fraction — then drop every doc of a host that is
    * blocklisted, too small to trust (`minDocs`), or mostly bad
    * (`maxBadFraction`). Surviving docs carry their host's stats so
    * downstream samplers can stratify by them.
    *
    * Plan: one host-key partial aggregate (counts — map-side combined),
    * the host-stats table (|hosts| ≪ |docs|) joins back on the host
    * equi-key, the blocklist is a broadcast anti-join. Two shuffles on
    * well-spread keys; a mega-host is AQE's skew-join case.
    */
  def domainFilter(docs: DataFrame, hostCol: String, isBad: Column,
      blocklist: Option[DataFrame] = None, minDocs: Long = 1L,
      maxBadFraction: Double = 0.5): DataFrame = {
    val stats = docs
      .groupBy(col(hostCol).as("__h"))
      .agg(
        count(lit(1)).as("host_docs"),
        (sum(when(isBad, 1L).otherwise(0L)) / count(lit(1))).as("host_bad_frac"))
      .filter(col("host_docs") >= minDocs && col("host_bad_frac") <= maxBadFraction)
    val kept = docs
      .join(stats, col(hostCol) === col("__h"))
      .drop("__h")
    // blocklist-as-data (a 1-column host DataFrame), broadcast anti-join —
    // the same rules-are-tables discipline as the robots family
    blocklist.fold(kept)(b =>
      kept.join(broadcast(b.toDF("__blocked")),
        col(hostCol) === col("__blocked"), "left_anti"))
  }

  /** queries() wrapper: hosts are source × (doc_id mod 7) buckets; a doc is
    * "bad" when doc_id mod 10 < (its bucket) — so the bad fraction climbs
    * with the bucket index and buckets 6+ cross the 0.5 threshold; bucket 1
    * of every source is blocklisted. The oracle recomputes the host stats
    * and both gates.
    */
  def qDomainFilter(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id, concat(col("source"), lit("-"), id % 7).as("host"))
    val blocked = docs.select(col("host")).distinct()
      .filter(col("host").endsWith("-1"))
    domainFilter(docs, "host", isBad = id % 10 < id % 7,
      blocklist = Some(blocked), minDocs = 2L, maxBadFraction = 0.5)
      .select(col("doc_id"), col("host"), col("host_docs"),
        roundHalfUp(col("host_bad_frac"), 4).as("host_bad_frac"))
      .orderBy("doc_id")
  }

  // ----------------------------------------------------------------- bpe_pairs

  /** The distributed inner loop of BPE tokenizer training (Sennrich et al.
    * 2016): adjacent-symbol pair frequencies over the corpus, weighted by
    * word count — the statistic each merge round maximizes. The
    * Zipf-shaped word dedup comes FIRST (distinct words with counts — a
    * map-side-combined aggregate that collapses the corpus ~100×), then
    * pairs explode from the DISTINCT word table only, via the native
    * multiplicity-preserving [[graft.functions.WordNgramsAll]] kernel over
    * the character array. Two partial-agg shuffles (word key, pair key),
    * top-K via the deterministic (count desc, pair asc) order.
    *
    * One call = one merge-round statistic; a driver loop applying merges
    * and re-counting is the full trainer — the heavy part (corpus pair
    * counting) is this operator, which is exactly the part that must
    * distribute at 100 TB.
    */
  def bpePairs(docs: DataFrame, textCol: String, topK: Int = 50): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val words = docs
      .select(explode(spaceTokens(lower(col(textCol)))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
    // '.'-regex char split (never yields the trailing "" that split-on-""
    // does); pairs via the codegen'd n-gram kernel, '_'-joined
    // (?d): Java's bare `.` skips \r/NEL/LS/PS as well as \n, so a
    // CRLF-bearing word char-split differently than RE2/Python (which
    // skip only \n) — the s_c-count divergence the case differential
    // caught. UNIX_LINES aligns all three.
    val chars = regexp_extract_all(col("word"), lit("(?d)."), lit(0))
    val pairExpr = GraftSqlBridge.column(graft.functions.WordNgramsAll(
      GraftSqlBridge.expression(chars), 2))
    words
      .select(col("wcnt"), explode(pairExpr).as("pair"))
      .groupBy("pair").agg(sum("wcnt").as("cnt"))
      .orderBy(desc("cnt"), col("pair"))
      .limit(topK)
  }

  /** queries() wrapper: top-50 pairs over the documents corpus. */
  def qBpePairs(s: SparkSession, d: String): DataFrame =
    bpePairs(Tables.documents(s, d), "text", topK = 50)

  // -------------------------------------------------------------- corpus_stats

  /** The per-run corpus report every pipeline emits before and after each
    * stage (the "datasheet" numbers: volume, token mass, length profile,
    * source spread, per language): one partial-agg groupBy, everything
    * map-side combinable (countDistinct rewrites to a two-phase exact
    * distinct). Diff two of these across a pipeline stage to see what the
    * stage did at a glance.
    */
  def corpusStats(docs: DataFrame, langCol: String, textCol: String,
      sourceCol: String): DataFrame =
    docs.groupBy(col(langCol).as("lang"))
      .agg(
        count(lit(1)).as("docs"),
        sum(size(spaceTokens(col(textCol))).cast("long")).as("tokens"),
        sum(octet_length(col(textCol)).cast("long")).as("bytes"),
        roundHalfUp(avg(length(col(textCol))), 2).as("avg_chars"),
        countDistinct(col(sourceCol)).as("sources"))

  /** queries() wrapper over the documents table. */
  def qCorpusStats(s: SparkSession, d: String): DataFrame =
    corpusStats(Tables.documents(s, d), "lang", "text", "source")
      .orderBy("lang")

  // ----------------------------------------------------------- badwords_filter

  /** The C4 blocklist gate (Raffel et al. 2020: any page containing a word
    * from the "List of Dirty, Naughty, Obscene..." blocklist is dropped):
    * tokens lowercase-match a broadcast word set, docs carry the hit count
    * and the keep verdict. The blocklist is DATA (a 1-column DataFrame —
    * swap lists without code change); matching is one broadcast semi-join
    * on the exploded token stream plus a doc-key partial-agg count — the
    * token stream never shuffles for the list.
    */
  def badwordsFilter(docs: DataFrame, textCol: String, idCol: String,
      badwords: DataFrame): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(spaceTokens(lower(col(textCol)))).as("tok"))
    val hits = toks
      .join(broadcast(badwords.toDF("bad")), col("tok") === col("bad"))
      .groupBy("doc_id").agg(count(lit(1)).as("badword_hits"))
    docs.select(col(idCol).as("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .withColumn("badword_hits", coalesce(col("badword_hits"), lit(0L)))
      .withColumn("keep", col("badword_hits") === 0)
  }

  /** queries() wrapper: the "blocklist" is the five most frequent corpus
    * words computed from the corpus itself (deterministic, engine-neutral),
    * so a meaningful fraction of docs actually trips the gate.
    */
  def qBadwordsFilter(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val blocklist = docs
      .select(explode(spaceTokens(lower(col("text")))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("c"))
      .orderBy(desc("c"), col("w")).limit(5)
      .select(col("w"))
    badwordsFilter(docs, "text", "doc_id", blocklist)
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- anchor_text

  /** Inbound anchor-text aggregation per target url — the web-graph
    * relevance signal (what OTHER pages call a page: classic ranking
    * feature, and at training-data scale the query-generation source):
    * from the link table (`linkExtract`'s output shape), group by target,
    * count inbound links and distinct sources, and keep the top-`maxTexts`
    * anchor strings by (count, text) — deterministic, bounded per target.
    * One target-key shuffle with map-side-combined counts; mega-targets
    * (every page links "home") are AQE skew territory and the per-target
    * output is capped by construction.
    */
  def anchorText(links: DataFrame, targetCol: String, anchorCol: String,
      srcCol: String, maxTexts: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // totals over ALL inbound links (blank-anchor links count as links,
    // just not as anchor texts) — the top-maxTexts cap applies only to
    // which anchor STRINGS surface, never to the popularity totals
    val totals = links
      .groupBy(col(targetCol).as("target"))
      .agg(count(lit(1)).as("inbound_links"),
        countDistinct(col(srcCol)).as("n_sources"))
    val counted = links
      .filter(zsTrim(col(anchorCol)) =!= "")
      .groupBy(col(targetCol).as("target"), zsTrim(col(anchorCol)).as("anchor"))
      .agg(count(lit(1)).as("n"))
    val tops = counted
      .withColumn("r", row_number().over(
        Window.partitionBy("target").orderBy(desc("n"), col("anchor"))))
      .filter(col("r") <= maxTexts)
      .groupBy("target")
      .agg(array_join(array_sort(collect_list(struct(col("r"), col("anchor"))))
        .getField("anchor"), "|").as("top_anchors"))
    totals
      .join(tops, Seq("target"), "left")
      .withColumn("top_anchors", coalesce(col("top_anchors"), lit("")))
  }

  /** queries() wrapper: a deterministic synthetic link table — target =
    * doc_id mod 31 (hub structure), anchor text varies mod 3 per source —
    * aggregated to inbound counts + capped top anchors.
    */
  def qAnchorText(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val links = Tables.documents(s, d).select(
      id.as("src_id"),
      concat(lit("https://hub.eu/p/"), id % 31).as("link_url"),
      // every third anchor is the raw doc text: hostile corpora drive
      // padded/blank/unicode anchors through the trim + blank-filter and
      // the (count desc, anchor) byte-order tiebreak on both engines
      when(id % 3 === 0, col("text"))
        .otherwise(concat(lit("label "), (id % 3))).as("anchor"))
    anchorText(links, "link_url", "anchor", "src_id", maxTexts = 2)
      .orderBy("target")
  }
}
