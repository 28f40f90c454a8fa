package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the operator inventory.
  *
  * Each `queries` entry is one operator from the inventory; `oracleSql` holds
  * the DuckDB-runnable ANSI twin (same column names, float aggregates rounded
  * identically on both sides so results are order-independent).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Relational / query core (SURVEY §2 #1-#11)
    "q1_agg" -> (Relational.q1Agg _),
    "q2_join" -> (Relational.q2Join _),
    "q3_topk" -> (Relational.q3TopK _),
    "q4_window" -> (Relational.q4Window _),
    "q5_semijoin" -> (Relational.q5SemiJoin _),
    "q6_antijoin" -> (Relational.q6AntiJoin _),
    "q7_distinct" -> (Relational.q7Distinct _),
    "q8_rollup" -> (Relational.q8Rollup _),
    "q9_event_windows" -> (Relational.q9EventWindows _),
    "q10_sessionize" -> (Relational.q10Sessionize _),
    "q11_asof_join" -> (Relational.q11AsofJoin _),
    "q12_part_type_revenue" -> (Relational.q12PartTypeRevenue _),
    "q13_session_window" -> (Relational.q13SessionWindow _),
    // Crawl/sync pipeline semantics (SURVEY §2 #12-#16)
    "sync_diff" -> (SyncOps.qSyncDiff _),
    "crawl_frontier" -> (SyncOps.qCrawlFrontier _),
    "frontier_bloom" -> (SyncOps.qFrontierBloom _),
    "frontier_schedule" -> (SyncOps.qFrontierSchedule _),
    "mark_redirects" -> (SyncOps.qMarkRedirects _),
    "error_retry" -> (SyncOps.qErrorRetry _),
    "delete_threshold" -> (SyncOps.qDeleteThreshold _),
    "url_canonical" -> (SyncOps.qUrlCanonical _),
    "sitemap_parse" -> (SyncOps.qSitemapParse _),
    "sitemap_index" -> (SyncOps.qSitemapIndex _),
    "sitemap_tree" -> (SyncOps.qSitemapTree _),
    "robots_parse" -> (SyncOps.qRobotsParse _),
    "robots_fetch" -> (SyncOps.qRobotsFetch _),
    "robots_delays" -> (SyncOps.qRobotsDelays _),
    "robots_sitemaps" -> (SyncOps.qRobotsSitemaps _),
    "warc_parse" -> (SyncOps.qWarcParse _),
    "warc_cdx" -> (SyncOps.qWarcCdx _),
    "warc_write" -> (SyncOps.qWarcWrite _),
    "link_extract" -> (SyncOps.qLinkExtract _),
    "plone_search" -> (SyncOps.qPloneSearch _),
    "plone_attachments" -> (SyncOps.qPloneAttachments _),
    // Normalization / document transforms (SURVEY §2 #17-#23)
    "norm_clean_html" -> (NormOps.qNormCleanHtml _),
    "norm_boilerplate" -> (NormOps.qNormBoilerplate _),
    "main_text_blocks" -> (NormOps.qMainTextBlocks _),
    "norm_reading_time" -> (NormOps.qNormReadingTime _),
    "norm_description" -> (NormOps.qNormDescription _),
    "norm_add_counts" -> (NormOps.qNormAddCounts _),
    "norm_maps" -> (NormOps.qNormMaps _),
    "text_passages" -> (NormOps.qTextPassages _),
    "passage_clean" -> (NormOps.qPassageClean _),
    "flatten_json" -> (NormOps.qFlattenJson _),
    "json_escape" -> (NormOps.qJsonEscape _),
    "norm_themes" -> (NormOps.qNormThemes _),
    "taxonomy_merge" -> (NormOps.qTaxonomyMerge _),
    "norm_provenance" -> (NormOps.qNormProvenance _),
    "text_passages_sent" -> (NormOps.qTextPassagesSent _),
    "norm_coverage" -> (NormOps.qNormCoverage _),
    "norm_join_text" -> (NormOps.qNormJoinText _),
    "norm_black_map" -> (NormOps.qNormBlackMap _),
    "norm_add_format" -> (NormOps.qNormAddFormat _),
    "norm_content_type" -> (NormOps.qNormContentType _),
    "graph_obligations" -> (GraphOps.qGraphObligations _),
    "dedup_cluster" -> (GraphOps.qDedupCluster _),
    "crawl_rank" -> (GraphOps.qCrawlRank _),
    "norm_locations" -> (NormOps.qNormLocations _),
    "norm_pipeline" -> (NormOps.qNormPipeline _),
    "nlp_preprocess" -> (NormOps.qNlpPreprocess _),
    "norm_strip_selectors" -> (NormOps.qNormStripSelectors _),
    "site_bise" -> (SiteNormalizers.qSiteBise _),
    "site_noise" -> (SiteNormalizers.qSiteNoise _),
    "site_sdi" -> (SiteNormalizers.qSiteSdi _),
    "site_sdi_fise" -> (SiteNormalizers.qSiteSdiFise _),
    "site_climate" -> (SiteNormalizers.qSiteClimate _),
    "site_eea_en" -> (SiteNormalizers.qSiteEeaEn _),
    "site_wise_marine" -> (SiteNormalizers.qSiteWiseMarine _),
    "site_energy" -> (SiteNormalizers.qSiteEnergy _),
    "site_eionet" -> (SiteNormalizers.qSiteEionet _),
    "site_forest" -> (SiteNormalizers.qSiteForest _),
    "site_discomap" -> (SiteNormalizers.qSiteDiscomap _),
    "site_ias" -> (SiteNormalizers.qSiteIas _),
    "site_simple" -> (SiteNormalizers.qSiteSimple _),
    "site_eea" -> (SiteNormalizers.qSiteEea _),
    "site_wise_freshwater" -> (SiteNormalizers.qSiteWiseFreshwater _),
    "site_fise_resource" -> (SiteNormalizers.qSiteFiseResource _),
    "site_insitu" -> (SiteNormalizers.qSiteInsitu _),
    "site_land" -> (SiteNormalizers.qSiteLand _),
    "sdi_children" -> (SyncOps.qSdiChildren _),
    "site_for_url" -> (SyncOps.qSiteForUrl _),
    "embed_attach" -> (EmbedOps.qEmbedAttach _),
    "semantic_search" -> (EmbedOps.qSemanticSearch _),
    // Search / indexing semantics (SURVEY §2 #24-#27)
    "search_match_topk" -> (SearchOps.qSearchMatchTopK _),
    "search_bm25" -> (SearchOps.qSearchBm25 _),
    "search_phrase" -> (SearchOps.qSearchPhrase _),
    "multi_match" -> (SearchOps.qMultiMatch _),
    "search_bool" -> (SearchOps.qSearchBool _),
    "facet_counts" -> (SearchOps.qFacetCounts _),
    "facet_stats" -> (SearchOps.qFacetStats _),
    "facet_stats_approx" -> (SearchOps.qFacetStatsApprox _),
    "es_bulk_format" -> (SearchOps.qEsBulkFormat _),
    "es_query" -> (EsQuery.qEsQuery _),
    "es_agg" -> (EsQuery.qEsAgg _),
    // LLM-training-data pipeline (SURVEY §2 #28-#39)
    "dedup_exact" -> (DedupOps.qDedupExact _),
    "span_dedup" -> (DedupOps.qSpanDedup _),
    "dedup_minhash" -> (DedupOps.qDedupMinhash _),
    "dedup_simhash" -> (DedupOps.qDedupSimhash _),
    "ngram_jaccard" -> (DedupOps.qNgramJaccard _),
    "dedup_embedding" -> (DedupOps.qDedupEmbedding _),
    "dedup_semantic" -> (DedupOps.qDedupSemantic _),
    "line_dedup" -> (TextAnalysis.qLineDedup _),
    "dsir_select" -> (TextAnalysis.qDsirSelect _),
    "dedup_fingerprint" -> (DedupOps.qDedupFingerprint _),
    "contamination_check" -> (TextAnalysis.qContamination _),
    "ann_topk" -> (AnnOps.qAnnTopK _),
    "embed_quantize" -> (AnnOps.qEmbedQuantize _),
    "embed_pq" -> (AnnOps.qEmbedPq _),
    "ann_pq" -> (AnnOps.qAnnPq _),
    "ann_ivfpq" -> (AnnOps.qAnnIvfPq _),
    "ann_ivfpq_index" -> (AnnOps.qAnnIvfPqIndex _),
    "ann_lsh" -> (AnnOps.qAnnLsh _),
    "ann_ivf" -> (AnnOps.qAnnIvf _),
    "ann_ivf_index" -> (AnnOps.qAnnIvfIndex _),
    "lang_id" -> (TextAnalysis.qLangId _),
    "quality_score" -> (TextAnalysis.qQualityScore _),
    "quality_gopher" -> (TextAnalysis.qQualityGopher _),
    "quality_repetition" -> (TextAnalysis.qQualityRepetition _),
    "perplexity_bucket" -> (TextAnalysis.qPerplexityBucket _),
    "quality_classifier" -> (TextAnalysis.qQualityClassifier _),
    "domain_filter" -> (TextAnalysis.qDomainFilter _),
    "bpe_pairs" -> (TextAnalysis.qBpePairs _),
    "corpus_stats" -> (TextAnalysis.qCorpusStats _),
    "badwords_filter" -> (TextAnalysis.qBadwordsFilter _),
    "anchor_text" -> (TextAnalysis.qAnchorText _),
    "sequence_pack" -> (TextAnalysis.qSequencePack _),
    "mixture_sample" -> (TextAnalysis.qMixtureSample _),
    "token_count" -> (TextAnalysis.qTokenCount _),
    "doc_fingerprint" -> (TextAnalysis.qDocFingerprint _),
    "sample_bottomk" -> (TextAnalysis.qSampleBottomK _),
    "sample_stratified" -> (TextAnalysis.qSampleStratified _),
    "pii_scrub" -> (TextAnalysis.qPiiScrub _),
    "text_fix" -> (TextAnalysis.qTextFix _),
    "multimodal_meta" -> (MultimodalOps.qMultimodalMeta _)
  )

  /** The shared DuckDB CTE chain for the join-text description fallback
    * every site-pipeline oracle reuses — the oracle twin of
    * `NormOps.joinText`: expects a `base` CTE providing
    * (doc_id, text, title, summary, ...) and yields `ft` with `ft_raw`.
    * The two empty-title variants (site_noise, nlp_preprocess) inline
    * their own copy with the 'no title' fallback.
    */
  private val ftCtes: String =
    """ft0 AS (
      |  SELECT *, text || chr(10) || chr(10) || title || '.' || chr(10) || chr(10) AS t0,
      |    trim(regexp_replace(summary, '<.*?>', '', 'g')) AS c1
      |  FROM base),
      |ft1 AS (
      |  SELECT *, CASE WHEN length(c1) > 0 AND NOT ends_with(c1, '.')
      |                 THEN c1 || '.' ELSE c1 END AS x1
      |  FROM ft0),
      |ft AS (
      |  SELECT *, CASE WHEN length(x1) > 0 AND NOT contains(t0, x1)
      |                 THEN t0 || x1 || chr(10) || chr(10) ELSE t0 END AS ft_raw
      |  FROM ft1)""".stripMargin

  /** DuckDB emulation of Java/Python FULL lowercase, used via the
    * LOWER_FULL(...) macro in the twin SQL (one source of truth — the
    * recipe appears in five twins). Two full-casing behaviors utf8proc's
    * simple per-codepoint lower() lacks:
    *  - U+0130 lowers to i + U+0307 (pre-mapped before lower);
    *  - UPPERCASE sigma in final position lowers to U+03C2. Only sigmas
    *    that were uppercase participate (a pre-existing lowercase
    *    "...ασ" must stay σ — Java lowercasing never rewrites it), so Σ
    *    is first swapped to a private-use sentinel (U+F8FF — documents
    *    carrying that char are outside the twins' contract), lowered,
    *    then sentinels in final position (preceded by a cased letter,
    *    not followed by one, case-ignorables skipped on both sides per
    *    Final_Sigma) become ς and the rest σ.
    * The cased/ignorable classes track what Spark 4's lower() ACTUALLY
    * implements — the ICU-backed collation path, which follows the
    * Unicode spec sets, NOT java.lang.String.toLowerCase (whose hardcoded
    * JDK sets differ; probed both, Spark emits the ICU answers — e.g.
    * "ªΣ" → ªς where the JDK gives ªσ):
    *  - case-ignorable = Mn/Me/Cf/Lm/Sk plus the Word_Break
    *    MidLetter/MidNumLet/Single_Quote chars (' ’ ‘ · . : · U+0387
    *    U+05F4 U+2024 U+2027 and fullwidth/vertical forms). The scan
    *    checks IGNORABLE FIRST: "ʰΣ" → σ (ʰ is Lm: skipped, start
    *    reached, nothing cased) even though ʰ is Other_Lowercase.
    *  - cased beyond Ll/Lu/Lt = Other_Lowercase/Other_Uppercase members
    *    that are NOT ignorable: ª º (Lo), circled letters (So), roman
    *    numerals (Nl) — in their POST-lower() forms, since the regex
    *    runs on lowered text (Ⅰ→ⅰ U+2170, Ⓐ→ⓐ U+24D0).
    * All probed against Spark itself (pre/skip/post × 40 codepoints);
    * matching pins live in the unicode differential's HOSTILE_TOKENS.
    */
  private val CasedLower = "\\p{Ll}\\x{F8FF}\\x{00AA}\\x{00BA}" +
    "\\x{2170}-\\x{217F}\\x{24D0}-\\x{24E9}"
  private val CaseIgnore = "\\p{Mn}\\p{Me}\\p{Cf}\\p{Lm}\\p{Sk}''" +
    "\\x{2018}\\x{2019}\\x{00B7}.:\\x{0387}\\x{05F4}\\x{2024}" +
    "\\x{2027}\\x{FE13}\\x{FE52}\\x{FE55}\\x{FF07}\\x{FF0E}\\x{FF1A}"
  private def lowerFullSql(x: String): String =
    "replace(regexp_replace(" +
      s"lower(replace(replace($x, 'İ', 'i' || chr(775)), 'Σ', chr(63743))), " +
      s"'([$CasedLower][$CaseIgnore]*)\\x{F8FF}([$CaseIgnore]*)" +
      s"($$|[^$CasedLower$CaseIgnore])', " +
      "'\\1ς\\2\\3', 'g'), chr(63743), 'σ')"

  /** CPython line.strip() whitespace that survives the splitlines split —
    * space, \t, U+001F, and the Zs spaces — via the PY_STRIP(...) macro
    * (the robots twins use it in three places).
    */
  private def pyStripSql(x: String): String =
    s"regexp_replace($x, " +
      "'^[ \\t\\x1F\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]+|" +
      "[ \\t\\x1F\\x{00A0}\\x{1680}\\x{2000}-\\x{200A}\\x{202F}\\x{205F}\\x{3000}]+$', '', 'g')"

  /** Expand LOWER_FULL(...) / PY_STRIP(...) macro calls (balanced-paren
    * args) in a twin SQL string. */
  private def expandMacros(sql: String): String = {
    val macros: Seq[(String, String => String)] =
      Seq("LOWER_FULL(" -> lowerFullSql _, "PY_STRIP(" -> pyStripSql _)
    var out = sql
    var changed = true
    while (changed) {
      changed = false
      for ((tag, fn) <- macros) {
        val i = out.indexOf(tag)
        if (i >= 0) {
          // Balance scan skips SQL string literals: a quoted regex arg
          // like '[(]' must not tilt the paren count. SQL escapes a quote
          // by doubling (''), which toggles inQuote twice — a no-op.
          var depth = 1
          var j = i + tag.length
          var inQuote = false
          while (depth > 0) {
            if (j >= out.length)
              throw new IllegalArgumentException(
                s"unbalanced parens expanding twin macro $tag at offset $i")
            val ch = out.charAt(j)
            if (ch == '\'') inQuote = !inQuote
            else if (!inQuote) {
              if (ch == '(') depth += 1
              else if (ch == ')') depth -= 1
            }
            j += 1
          }
          out = out.substring(0, i) + fn(out.substring(i + tag.length, j - 1)) +
            out.substring(j)
          changed = true
        }
      }
    }
    out
  }

  def oracleSql: Map[String, String] =
    oracleSqlRaw.map { case (k, v) => k -> expandMacros(v) }

  private def oracleSqlRaw: Map[String, String] = Map(
    // Signature-dedup tier: DuckDB re-derives Spark's murmur3/xxhash64
    // signatures (permutations, band hashes, SimHash bit sums, winnowing
    // windows) from raw text — see TwinHashSql.
    "dedup_minhash" -> TwinHashSql.dedupMinhash,
    "dedup_simhash" -> TwinHashSql.dedupSimhash,
    "doc_fingerprint" -> TwinHashSql.docFingerprint,
    "dedup_fingerprint" -> TwinHashSql.dedupFingerprint,
    "sample_bottomk" -> TwinHashSql.sampleBottomK,
    "ann_lsh" -> TwinHashSql.annLsh,
    // IVF tier: the two-level Lloyd-trained quantizer is bit-deterministic
    // since the ordered-fold update step (AnnOps.ivf2Train's Lloyd),
    // so the whole coarse + grouped-fine training + probe + rerank chain
    // re-derives in SQL — xxhash64(vec_id) sample order, per-pass
    // max-dot/min-cid assignment, ordered-fold means, exact-count fine
    // cell sizing.
    "ann_ivf" -> TwinHashSql.annIvf,
    // Same twin as ann_ivf: the persisted-index path is bit-equal to the
    // in-memory plan by construction (parquet double round-trip is exact),
    // so the gate adjudicates the index write + DPP probe against the same
    // re-derived training/probe/rerank SQL.
    "ann_ivf_index" -> TwinHashSql.annIvf,
    "dedup_semantic" -> TwinHashSql.dedupSemantic,
    // embed_pq: all eight per-subspace Euclidean Lloyd trainings re-run in
    // SQL (sliced corpus, augmented-dot assignment key, ordered-fold means
    // and error sums).
    "embed_pq" -> TwinHashSql.embedPq,
    "ann_pq" -> TwinHashSql.annPq,
    "ann_ivfpq" -> TwinHashSql.annIvfPq,
    // Same twin as ann_ivfpq: the persisted IVF-PQ index (coded inverted
    // cells + codebook parquet + DPP probe) is bit-equal to the in-memory
    // composition by construction — the gate adjudicates the production
    // layout round-trip against the same re-derived residual-PQ SQL.
    "ann_ivfpq_index" -> TwinHashSql.annIvfPq,
    // Stub-embedding tier: the deterministic xxhash64 encoder re-derived
    // component by component, sums as ordered left folds (bit-identical
    // to the codegen'd DotProduct/CosineSim loops).
    "embed_attach" -> TwinHashSql.embedAttach,
    "semantic_search" -> TwinHashSql.semanticSearch,
    // multimodal_meta: the synthetic payload header and the stub decode
    // are pure string arithmetic — the twin re-derives format/dims from
    // doc_id and n_bytes as the UTF-8 byte length of the header+body.
    "multimodal_meta" ->
      """WITH m AS (SELECT doc_id,
        |    (['jpeg', 'png', 'webp'])[(doc_id % 3 + 1)::INT] AS fmt,
        |    doc_id % 512 + 64 AS w,
        |    doc_id % 384 + 48 AS h,
        |    text FROM documents)
        |SELECT doc_id, fmt AS format,
        |  CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
        |  CAST(strlen('GFT1|' || fmt || '|' || w::VARCHAR || '|' || h::VARCHAR || '|' || text) AS BIGINT) AS n_bytes,
        |  true AS ok
        |FROM m ORDER BY doc_id""".stripMargin,
    // Sentence-respecting passage packing. The Java lookbehind split
    // `(?<=[.!?])\s+` (RE2 has no lookbehind) is emulated by consuming
    // the run into a \x01 sentinel after its punctuation; Java's \s/\S
    // are spelled as [\x09-\x0D ] (RE2's \s lacks \x0B). Word counts
    // replicate Java split semantics (leading empty counted, trailing
    // whitespace dropped) — including the all-whitespace corner: Java's
    // "   ".split("\\s+") is length 0 (the positive-width match at the
    // start DOES add a leading "", but the trailing-empties sweep then
    // removes the whole all-empty array — probed on this JVM), so a
    // whitespace-only sentence (only possible as a punctuation-free
    // whitespace-only doc) counts ZERO words and emits NO passage; the
    // CASE's 0 and the HAVING mirror that, and the unicode
    // differential's whitespace-only doc pins it.
    // The greedy fold — inherently sequential per
    // doc — is a recursive CTE walking sentences in order; depth = max
    // sentences per doc.
    "text_passages_sent" ->
      """WITH RECURSIVE st AS (
        |  SELECT doc_id, regexp_replace(text,
        |    '((?:[^\x09-\x0D ]+[\x09-\x0D ]+){11}[^\x09-\x0D ]+)[\x09-\x0D ]+',
        |    '\1. ', 'g') AS t
        |  FROM documents),
        |sp AS (
        |  SELECT doc_id, string_split(
        |    regexp_replace(t, '([.!?])[\x09-\x0D ]+', '\1' || chr(1), 'g'), chr(1)) AS ss
        |  FROM st),
        |sraw AS (SELECT doc_id, i, ss[i] AS sent
        |         FROM sp, unnest(range(1, len(ss) + 1)) AS u(i)),
        |s0 AS (SELECT doc_id, sent,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY i) AS idx,
        |         CASE WHEN regexp_replace(sent, '[\x09-\x0D ]+$', '') = '' THEN 0
        |              ELSE len(string_split_regex(
        |                regexp_replace(sent, '[\x09-\x0D ]+$', ''), '[\x09-\x0D ]+'))
        |         END AS n
        |       FROM sraw WHERE sent <> ''),
        |walk AS (
        |  SELECT doc_id, idx, n AS acc, 0 AS pid FROM s0 WHERE idx = 1
        |  UNION ALL
        |  SELECT s.doc_id, s.idx,
        |    CASE WHEN w.acc + s.n > 50 THEN s.n ELSE w.acc + s.n END,
        |    CASE WHEN w.acc + s.n > 50 THEN w.pid + 1 ELSE w.pid END
        |  FROM walk w JOIN s0 s ON s.doc_id = w.doc_id AND s.idx = w.idx + 1)
        |SELECT doc_id, CAST(pid AS INTEGER) AS passage_id,
        |  CAST(sum(sn) AS INTEGER) AS n_words,
        |  string_agg(ssent, ' ' ORDER BY sidx) AS passage
        |FROM (SELECT w.doc_id AS doc_id, w.pid AS pid, s.idx AS sidx,
        |        s.n AS sn, s.sent AS ssent
        |      FROM walk w JOIN s0 s ON s.doc_id = w.doc_id AND s.idx = w.idx)
        |GROUP BY doc_id, pid
        |HAVING sum(sn) > 0
        |ORDER BY doc_id, passage_id""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | floor(sum(l_quantity) * 100.0 + 0.5) / 100.0 AS sum_qty,
        | floor(sum(l_extendedprice) * 100.0 + 0.5) / 100.0 AS sum_base_price,
        | floor(sum(l_extendedprice*(1-l_discount)) * 100.0 + 0.5) / 100.0 AS sum_disc_price,
        | floor(avg(l_quantity) * 10000.0 + 0.5) / 10000.0 AS avg_qty,
        | count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q2_join" ->
      """SELECT n_name,
        | floor(sum(l_extendedprice*(1-l_discount)) * 100.0 + 0.5) / 100.0 AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN nation ON c_nationkey=n_nationkey
        | JOIN region ON n_regionkey=r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1998-01-01' AND r_name IN ('EUROPE','ASIA')
        |GROUP BY n_name ORDER BY revenue DESC, n_name""".stripMargin,
    "q3_topk" ->
      """SELECT l_orderkey,
        | floor(sum(l_extendedprice*(1-l_discount)) * 100.0 + 0.5) / 100.0 AS revenue
        |FROM lineitem GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q4_window" ->
      """SELECT o_custkey, o_orderkey, rnk, run_total FROM (
        | SELECT o_custkey, o_orderkey,
        |  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk,
        |  floor(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
        |    ROWS UNBOUNDED PRECEDING) * 100.0 + 0.5) / 100.0 AS run_total
        | FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "q5_semijoin" ->
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey=c_custkey AND o_orderpriority='1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q6_antijoin" ->
      """SELECT c_custkey, c_name, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey=c_custkey AND o_orderpriority='1-URGENT')
        |ORDER BY c_custkey""".stripMargin,
    "q7_distinct" ->
      """SELECT count(DISTINCT o_custkey) AS n_cust,
        | count(DISTINCT o_orderpriority) AS n_prio,
        | count(*) AS n_orders
        |FROM orders""".stripMargin,
    "q8_rollup" ->
      """SELECT CASE WHEN GROUPING(o_orderstatus)=1 THEN 'ALL' ELSE o_orderstatus END AS status,
        | CASE WHEN GROUPING(o_orderpriority)=1 THEN 'ALL' ELSE o_orderpriority END AS priority,
        | count(*) AS n, floor(sum(o_totalprice) * 100.0 + 0.5) / 100.0 AS total
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,
    "q9_event_windows" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
        | event_type, count(*) AS n, floor(sum(value) * 100.0 + 0.5) / 100.0 AS total
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q10_sessionize" ->
      """WITH marked AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, ts,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        | FROM marked)
        |SELECT user_id, session_id, count(*) AS n_events,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS session_end
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_id""".stripMargin,
    "q11_asof_join" ->
      """WITH p AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type='purchase'),
        | v AS (
        |  SELECT event_id AS prior_view_event_id, user_id, ts FROM events
        |  WHERE event_type IN ('view','click')),
        | j AS (
        |  SELECT p.event_id, p.user_id, v.prior_view_event_id,
        |   row_number() OVER (PARTITION BY p.event_id
        |     ORDER BY v.ts DESC, v.prior_view_event_id DESC) AS rn
        |  FROM p JOIN v ON p.user_id=v.user_id AND v.ts <= p.ts)
        |SELECT event_id, user_id, prior_view_event_id FROM j WHERE rn=1
        |ORDER BY event_id""".stripMargin,
    "q13_session_window" ->
      """WITH marked AS (
        | SELECT user_id, event_id, ts,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |         OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
        |       THEN 1 ELSE 0 END AS is_new
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), sess AS (
        | SELECT user_id, ts,
        |  CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        | FROM marked)
        |SELECT user_id,
        | strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
        | count(*) AS n_events
        |FROM sess GROUP BY user_id, session_id
        |ORDER BY user_id, session_start""".stripMargin,
    "q12_part_type_revenue" ->
      """SELECT p_type, n_name,
        | floor(sum(l_extendedprice*(1-l_discount)) * 100.0 + 0.5) / 100.0 AS revenue,
        | count(*) AS n_items
        |FROM lineitem
        | JOIN part ON l_partkey=p_partkey
        | JOIN supplier ON l_suppkey=s_suppkey
        | JOIN nation ON s_nationkey=n_nationkey
        |WHERE p_size <= 25
        |GROUP BY p_type, n_name ORDER BY p_type, n_name""".stripMargin,
    "sync_diff" ->
      """WITH crawled AS (
        |  SELECT o_orderkey AS id,
        |    CASE WHEN o_orderkey % 5 = 0 THEN o_orderdate + INTERVAL 1 DAY
        |         ELSE o_orderdate END AS modified
        |  FROM orders WHERE o_orderkey % 13 <> 0),
        |indexed AS (
        |  SELECT o_orderkey AS id, o_orderdate AS modified,
        |    CASE WHEN o_orderkey % 11 = 0 THEN 1 ELSE 0 END AS error_cnt
        |  FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT coalesce(c.id, i.id) AS id,
        |  CASE WHEN i.id IS NULL THEN 'new'
        |       WHEN c.id IS NULL THEN 'deleted'
        |       WHEN c.modified = i.modified AND i.error_cnt = 0 THEN 'unchanged'
        |       ELSE 'modified' END AS status
        |FROM crawled c FULL OUTER JOIN indexed i ON c.id = i.id
        |ORDER BY id""".stripMargin,
    "crawl_frontier" ->
      """WITH urls AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.eu/docs/' || CAST(doc_id % 37 AS VARCHAR) ||
        |    (['.html','','.pdf','.php','.aspx','','.gif','.jpg','.png','.svg'])[CAST(doc_id % 10 AS INT) + 1] AS url
        |  FROM documents),
        |dedup AS (SELECT url, min(doc_id) AS id FROM urls GROUP BY url),
        |enriched AS (
        |  SELECT id, url,
        |    regexp_replace(url, '^https?://[^/]+', '') AS path,
        |    lower(regexp_extract(url, '\.([A-Za-z0-9]+)$', 1)) AS ext
        |  FROM dedup)
        |SELECT id, url FROM enriched
        |WHERE ext NOT IN ('png','svg','jpg','gif','eps','jpeg')
        |  AND path NOT IN ('/docs/5','/docs/15.php')
        |  AND NOT EXISTS (SELECT 1 FROM (VALUES ('/docs/1'),('/docs/33')) r(p)
        |                  WHERE starts_with(path, p))
        |ORDER BY id, url""".stripMargin,
    // frontier_bloom: the answer is the plain anti-join — the bloom
    // prefilter changes the PLAN (what reaches the shuffle), never the
    // result; that exactness is precisely what this oracle pins.
    "frontier_bloom" ->
      """WITH cand AS (
        |  SELECT doc_id,
        |    'https://' || source || '.example.eu/docs/' || doc_id || '.html' AS url
        |  FROM documents),
        |seen AS (
        |  SELECT 'https://' || source || '.example.eu/docs/' || doc_id || '.html' AS url
        |  FROM documents WHERE doc_id % 3 = 0)
        |SELECT doc_id, url FROM cand
        |WHERE url NOT IN (SELECT url FROM seen)
        |ORDER BY doc_id""".stripMargin,
    "frontier_schedule" ->
      """WITH f AS (
        |  SELECT 'https://' || source || '.eu/d/' || doc_id AS url,
        |    source AS host, n_chars AS priority
        |  FROM documents),
        |r AS (
        |  SELECT url, host, priority,
        |    row_number() OVER (PARTITION BY host
        |                       ORDER BY priority DESC, url) AS host_rank
        |  FROM f)
        |SELECT url, host, priority, host_rank,
        |  (host_rank - 1) // 3 AS wave, (host_rank - 1) % 3 AS slot
        |FROM r WHERE host_rank <= 400
        |ORDER BY host, host_rank""".stripMargin,
    "mark_redirects" ->
      """WITH docs AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 0 THEN 'redirected'
        |         WHEN doc_id % 17 = 0 THEN 'manual' END AS ex
        |  FROM documents),
        |fstat AS (SELECT doc_id, doc_id % 7 = 0 AS redirected FROM documents)
        |SELECT d.doc_id, TRUE AS update_only,
        |  CASE WHEN f.redirected THEN 'redirected' END AS exclude_from_globalsearch
        |FROM docs d JOIN fstat f USING (doc_id)
        |WHERE NOT (d.ex IS NOT NULL AND d.ex <> 'redirected')
        |  AND f.redirected <> coalesce(d.ex = 'redirected', FALSE)
        |ORDER BY doc_id""".stripMargin,
    "error_retry" ->
      """WITH cur AS (SELECT DISTINCT user_id AS id FROM events WHERE event_type='error'),
        |prior AS (
        |  SELECT id, id % 5 AS error_cnt, id % 3 AS skip_cnt
        |  FROM (SELECT DISTINCT user_id AS id FROM events) WHERE id % 2 = 0)
        |SELECT coalesce(c.id, p.id) AS id,
        |  CASE WHEN c.id IS NULL THEN 'dropped'
        |       WHEN p.id IS NULL THEN 'retry'
        |       WHEN p.error_cnt < 3 THEN 'retry'
        |       WHEN p.skip_cnt < 2 THEN 'skip'
        |       ELSE 'reset' END AS action,
        |  CASE WHEN c.id IS NULL THEN NULL
        |       WHEN p.id IS NULL THEN 1
        |       WHEN p.error_cnt < 3 THEN p.error_cnt + 1
        |       WHEN p.skip_cnt < 2 THEN p.error_cnt
        |       ELSE NULL END AS error_cnt,
        |  CASE WHEN c.id IS NULL THEN NULL
        |       WHEN p.id IS NULL THEN 0
        |       WHEN p.error_cnt < 3 THEN p.skip_cnt
        |       WHEN p.skip_cnt < 2 THEN p.skip_cnt + 1
        |       ELSE NULL END AS skip_cnt
        |FROM cur c FULL OUTER JOIN prior p ON c.id = p.id
        |ORDER BY id""".stripMargin,
    "delete_threshold" ->
      """WITH prev AS (SELECT doc_id AS id, source FROM documents),
        |cur AS (SELECT * FROM prev WHERE id % 10 <> 0 AND NOT (source='src3' AND id % 2 = 0)),
        |p AS (SELECT source, count(*) AS prev_cnt FROM prev GROUP BY source),
        |k AS (SELECT source, count(*) AS kept_cnt FROM cur GROUP BY source)
        |SELECT p.source, p.prev_cnt, coalesce(k.kept_cnt, 0) AS kept_cnt,
        |  p.prev_cnt - coalesce(k.kept_cnt, 0) AS to_delete,
        |  floor((p.prev_cnt - coalesce(k.kept_cnt, 0)) * 100.0 / p.prev_cnt * 10000.0 + 0.5) / 10000.0 AS delete_pct,
        |  floor((p.prev_cnt - coalesce(k.kept_cnt, 0)) * 100.0 / p.prev_cnt * 10000.0 + 0.5) / 10000.0 > 25.0 AS should_abort
        |FROM p LEFT JOIN k USING (source)
        |ORDER BY source""".stripMargin,
    "url_canonical" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'HTTP://Example.EU:80/Docs/' || doc_id || '/#frag'
        |         WHEN doc_id % 7 = 1 THEN 'https://example.eu:443/d/' || doc_id || '?b=2&a=1'
        |         WHEN doc_id % 7 = 2 THEN 'https://example.eu:8443/d/' || doc_id || '/'
        |         WHEN doc_id % 7 = 3 THEN 'http://EXAMPLE.eu' || '?z=9&y=8&x=7'
        |         WHEN doc_id % 7 = 4 THEN 'relative/path/' || doc_id || '-' || text
        |         WHEN doc_id % 7 = 5 THEN 'http://example.eu/a//b///' || doc_id || '////'
        |         ELSE 'https://example.eu/d/' || doc_id || '-' || text || '?a=1&b=2#x' END AS url
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, url,
        |    coalesce(lower(regexp_extract(url, '^([a-zA-Z][a-zA-Z0-9+.-]*)://', 1)), '') AS scheme,
        |    coalesce(lower(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)', 1)), '') AS hostraw,
        |    coalesce(regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)', 1), '') AS pathraw,
        |    coalesce(regexp_extract(regexp_replace(url, '(?s)#.*', ''), '(?s)\?(.*)', 1), '') AS query
        |  FROM b),
        |c AS (
        |  SELECT doc_id, url, scheme,
        |    CASE WHEN scheme = 'http' THEN regexp_replace(hostraw, ':80$', '')
        |         WHEN scheme = 'https' THEN regexp_replace(hostraw, ':443$', '')
        |         ELSE hostraw END AS host,
        |    CASE WHEN regexp_replace(pathraw, '/+$', '') = '' THEN '/'
        |         ELSE regexp_replace(pathraw, '/+$', '') END AS path,
        |    CASE WHEN query = '' THEN ''
        |         ELSE '?' || array_to_string(list_sort(string_split(query, '&')), '&') END AS q
        |  FROM p)
        |SELECT doc_id, url,
        |  CASE WHEN scheme = '' THEN url
        |       ELSE scheme || '://' || host || path || q END AS url_canonical
        |FROM c ORDER BY doc_id""".stripMargin,
    "sitemap_parse" ->
      """WITH e AS (
        |  SELECT source, doc_id,
        |    '<url><loc>https://example.eu/d/' || doc_id || '-' || text || '</loc>' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN '<lastmod>2026-0' || (doc_id % 9 + 1) || '-01</lastmod>'
        |         ELSE '' END || '</url>' AS entry
        |  FROM documents),
        |sm AS (
        |  SELECT source,
        |    '<urlset>' || string_agg(entry, '' ORDER BY doc_id) || '</urlset>' AS xml
        |  FROM e GROUP BY source),
        |ent AS (
        |  SELECT source, unnest(regexp_extract_all(xml, '(?s)<url>(.*?)</url>', 1)) AS entry
        |  FROM sm)
        |SELECT source,
        |  coalesce(regexp_extract(entry, '<loc>([^<]*)</loc>', 1), '') AS url,
        |  coalesce(regexp_extract(entry, '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
        |FROM ent ORDER BY source, url, lastmod""".stripMargin,
    // sitemap_index: the same two-level tree rebuilt in SQL — leaf urlsets
    // grouped by (source, bucket), the index grouped per source with the
    // dangling sitemap-9 entry, resolved by the same child-url join.
    // sitemap_tree: the fixture's reachability stated directly — a doc's
    // page appears iff its leaf hangs under a fetched, root-listed mid
    // (leaf-0/1 under mid-0, leaf-2 under mid-1); leaf-3 is fetched but
    // unlisted and mid-9 is listed but unfetched, so both subtrees vanish.
    "sitemap_tree" ->
      """SELECT source,
        |  'https://' || source || '.example.eu/leaf-' || (doc_id % 4) || '.xml' AS sitemap_url,
        |  '2026-03-01' AS sitemap_lastmod,
        |  'https://example.eu/d/' || doc_id AS url,
        |  CASE WHEN doc_id % 3 = 0 THEN '2026-0' || (doc_id % 9 + 1) || '-01'
        |       ELSE '' END AS lastmod
        |FROM documents
        |WHERE doc_id % 4 <= 2
        |ORDER BY source, sitemap_url, url""".stripMargin,
    "sitemap_index" ->
      """WITH e AS (
        |  SELECT source, doc_id,
        |    'https://' || source || '.example.eu/sitemap-' || (doc_id % 3) || '.xml' AS leaf_url,
        |    '<url><loc>https://example.eu/d/' || doc_id || '-' || text || '</loc>' ||
        |    CASE WHEN doc_id % 3 = 0
        |         THEN '<lastmod>2026-0' || (doc_id % 9 + 1) || '-01</lastmod>'
        |         ELSE '' END || '</url>' AS entry
        |  FROM documents),
        |leaves AS (
        |  SELECT source, leaf_url,
        |    '<urlset>' || string_agg(entry, '' ORDER BY doc_id) || '</urlset>' AS leaf_xml
        |  FROM e GROUP BY source, leaf_url),
        |idx0 AS (SELECT DISTINCT source, leaf_url FROM leaves),
        |idx AS (
        |  SELECT source,
        |    '<sitemapindex>' || string_agg(
        |      '<sitemap><loc>' || leaf_url || '</loc>' ||
        |      '<lastmod>2026-03-01</lastmod></sitemap>', '' ORDER BY leaf_url) ||
        |    '<sitemap><loc>https://' || source ||
        |    '.example.eu/sitemap-9.xml</loc></sitemap>' ||
        |    '</sitemapindex>' AS idx_xml
        |  FROM idx0 GROUP BY source),
        |children AS (
        |  SELECT source,
        |    unnest(regexp_extract_all(idx_xml, '(?s)<sitemap>(.*?)</sitemap>', 1)) AS se
        |  FROM idx),
        |ch AS (
        |  SELECT source,
        |    coalesce(regexp_extract(se, '<loc>([^<]*)</loc>', 1), '') AS sitemap_url,
        |    coalesce(regexp_extract(se, '<lastmod>([^<]*)</lastmod>', 1), '') AS sitemap_lastmod
        |  FROM children),
        |pages AS (
        |  SELECT ch.source, ch.sitemap_url, ch.sitemap_lastmod,
        |    unnest(regexp_extract_all(l.leaf_xml, '(?s)<url>(.*?)</url>', 1)) AS ue
        |  FROM ch JOIN leaves l ON ch.sitemap_url = l.leaf_url)
        |SELECT source, sitemap_url, sitemap_lastmod,
        |  coalesce(regexp_extract(ue, '<loc>([^<]*)</loc>', 1), '') AS url,
        |  coalesce(regexp_extract(ue, '<lastmod>([^<]*)</lastmod>', 1), '') AS lastmod
        |FROM pages ORDER BY source, sitemap_url, url, lastmod""".stripMargin,
    // robots_parse: rebuild the identical robots.txt fixture, then replay
    // the CPython robotparser state machine with the same window logic —
    // blank-on-RAW-line, lag-based group starts, running blank count
    // closing entries, crawl-delay kept for grouping but emitting no rule.
    "robots_parse" ->
      """WITH rd AS (
        |  SELECT source, doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Allow: /docs/' || doc_id || '/pub'
        |         ELSE 'Disallow: /docs/' || doc_id || '/' || text END AS l
        |  FROM documents WHERE doc_id % 101 = 0),
        |body AS (
        |  SELECT source, string_agg(l, chr(10) ORDER BY doc_id) AS b
        |  FROM rd GROUP BY source),
        |robots AS (
        |  SELECT source AS host,
        |    '# robots for ' || source || chr(10) ||
        |    'Disallow: /early/' || chr(10) ||
        |    'User-agent: graftbot' || chr(10) ||
        |    'User-Agent: eeabot' || chr(10) ||
        |    b || chr(10) ||
        |    '  # mid comment' || chr(10) ||
        |    'Disallow: /search?' || chr(10) ||
        |    'Allow:' || chr(10) ||
        |    chr(10) ||
        |    'User-agent: *' || chr(10) ||
        |    'Allow: /pub/' || chr(10) ||
        |    'Disallow: /tmp/*.pdf$' || chr(10) ||
        |    'Crawl-delay: 5' || chr(10) ||
        |    'Disallow:' || chr(10) ||
        |    'Sitemap: https://example.eu/sitemap.xml' AS content
        |  FROM body),
        |lines AS (
        |  SELECT host,
        |    unnest(regexp_split_to_array(content,
        |      '\r\n|[\n\r\x0B\x0C\x1C\x1D\x1E\x{0085}\x{2028}\x{2029}]')) AS raw,
        |    unnest(range(len(regexp_split_to_array(content,
        |      '\r\n|[\n\r\x0B\x0C\x1C\x1D\x1E\x{0085}\x{2028}\x{2029}]')))) AS line_no
        |  FROM robots),
        |kv AS (
        |  SELECT host, line_no, raw = '' AS is_blank,
        |    PY_STRIP(regexp_replace(raw, '#.*$', '')) AS line
        |  FROM lines),
        |kv2 AS (
        |  SELECT *,
        |    lower(PY_STRIP(coalesce(regexp_extract(line, '^([^:]+):', 1), ''))) AS key,
        |    PY_STRIP(coalesce(regexp_extract(line, '^[^:]*:(.*)$', 1), '')) AS value
        |  FROM kv),
        |kept AS (
        |  SELECT *, (NOT is_blank AND key = 'user-agent') AS is_ua FROM kv2
        |  WHERE is_blank OR key IN
        |    ('user-agent','allow','disallow','crawl-delay','request-rate')),
        |g1 AS (
        |  SELECT *, CASE WHEN is_ua AND NOT coalesce(
        |      lag(is_ua) OVER (PARTITION BY host ORDER BY line_no), FALSE)
        |    THEN 1 ELSE 0 END AS sg
        |  FROM kept),
        |g2 AS (
        |  SELECT *, sum(sg) OVER (PARTITION BY host ORDER BY line_no) AS group_id
        |  FROM g1),
        |g3 AS (
        |  SELECT *, sum(CASE WHEN is_blank THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY host, group_id ORDER BY line_no
        |       ROWS UNBOUNDED PRECEDING) AS closed
        |  FROM g2 WHERE group_id >= 1),
        |ag AS (
        |  SELECT host, group_id,
        |    array_to_string(list_sort(list(DISTINCT value)), ',') AS agents
        |  FROM g3 WHERE is_ua GROUP BY host, group_id),
        |ru AS (
        |  SELECT host, group_id,
        |    row_number() OVER (PARTITION BY host, group_id ORDER BY line_no) AS rule_idx,
        |    (key = 'allow' OR value = '') AS allowance, value AS path
        |  FROM g3 WHERE key IN ('allow','disallow') AND closed = 0)
        |SELECT r.host, CAST(r.group_id AS BIGINT) AS group_id, a.agents,
        |  CAST(r.rule_idx AS BIGINT) AS rule_idx, r.allowance, r.path
        |FROM ru r JOIN ag a ON r.host = a.host AND r.group_id = a.group_id
        |ORDER BY 1, 2, 4""".stripMargin,
    // robots_sitemaps: the three surviving sitemap urls restated per host
    // (state-independent collection; the commented line and the duplicate
    // vanish by intent).
    "robots_sitemaps" ->
      """SELECT source AS host,
        |  'https://' || source || '.eu/' || sm AS sitemap_url
        |FROM (SELECT DISTINCT source FROM documents)
        |CROSS JOIN (VALUES ('sm-mid.xml'), ('sm-tail.xml'), ('sm-top.xml')) t(sm)
        |ORDER BY host, sitemap_url""".stripMargin,
    // robots_delays: the fixture's three entries per host restated as
    // VALUES — the delay-extraction semantics (invalid ignored, last valid
    // wins, ruleless entries present) checked against intent; the parse
    // machinery itself is oracle-verified by robots_parse.
    "robots_delays" ->
      """SELECT source AS host, CAST(g AS BIGINT) AS group_id, agents,
        |  CAST(cd AS BIGINT) AS crawl_delay,
        |  CAST(rq AS BIGINT) AS req_rate_requests,
        |  CAST(rs AS BIGINT) AS req_rate_seconds
        |FROM (SELECT DISTINCT source FROM documents)
        |CROSS JOIN (VALUES
        |  (1, 'graftbot', 7, 3, 15),
        |  (2, 'slowbot', 30, NULL, NULL),
        |  (3, '*', 1, NULL, NULL)) t(g, agents, cd, rq, rs)
        |ORDER BY host, group_id""".stripMargin,
    // robots_fetch: the rule table is stated independently as VALUES (the
    // fixture's six rules are static per host), entry choice is the ua
    // CASE, the RuleLine cascade is ?-prefix / * / prefix / $-exact, and
    // first-match-wins is min_by(allowance, rule_idx).
    "robots_fetch" ->
      """WITH u0 AS (
        |  SELECT doc_id, source AS host,
        |    CASE CAST(doc_id % 7 AS INT)
        |      WHEN 0 THEN '/docs/private/' || doc_id
        |      WHEN 1 THEN '/docs/' || doc_id || '-' || text
        |      WHEN 2 THEN '/search?q=' || doc_id
        |      WHEN 3 THEN '/exact'
        |      WHEN 4 THEN '/exact/' || doc_id
        |      WHEN 5 THEN '/team/' || doc_id
        |      ELSE '/' || doc_id || '-' || text END AS fn
        |  FROM documents),
        |uu AS (
        |  SELECT doc_id, host, 'https://' || host || '.example.eu' || fn AS url,
        |    fn, ua
        |  FROM u0 CROSS JOIN (SELECT unnest(['graftbot/2.1','otherbot']) AS ua) uas),
        |r AS (
        |  SELECT * FROM (VALUES
        |    (1, 1, FALSE, '/docs/private/'),
        |    (1, 2, TRUE,  '/docs/'),
        |    (1, 3, FALSE, '/search?'),
        |    (1, 4, FALSE, '/exact$'),
        |    (1, 5, FALSE, '/team'),
        |    (2, 1, FALSE, '/')) t(grp, rule_idx, allowance, path)),
        |m AS (
        |  SELECT uu.doc_id, uu.ua, uu.url, r.rule_idx, r.allowance
        |  FROM uu JOIN r
        |    ON r.grp = CASE WHEN uu.ua = 'graftbot/2.1' THEN 1 ELSE 2 END
        |  WHERE CASE
        |      WHEN path LIKE '%?' THEN starts_with(fn, path)
        |      WHEN path = '*' THEN TRUE
        |      WHEN starts_with(fn, path) THEN TRUE
        |      WHEN path LIKE '%$' THEN fn = rtrim(path, '$')
        |      ELSE FALSE END),
        |best AS (
        |  SELECT doc_id, ua, min_by(allowance, rule_idx) AS a
        |  FROM m GROUP BY doc_id, ua)
        |SELECT uu.doc_id, uu.ua, uu.url, coalesce(b.a, TRUE) AS allowed
        |FROM uu LEFT JOIN best b ON uu.doc_id = b.doc_id AND uu.ua = b.ua
        |ORDER BY 1, 2""".stripMargin,
    // warc_parse: the oracle restates the expected record rows from the
    // same generation parameters (fixed HTTP header + per-doc body), so the
    // parser's Content-Length byte slicing is checked against an
    // independent statement of what went in.
    "warc_parse" ->
      """WITH c0 AS (SELECT chr(13) || chr(10) AS crlf),
        |c AS (
        |  SELECT crlf, strlen('WARC/1.0' || crlf || 'WARC-Type: warcinfo' || crlf ||
        |    'Content-Type: application/warc-fields' || crlf ||
        |    'Content-Length: 15' || crlf || crlf ||
        |    'software: graft' || crlf || crlf) AS info_len
        |  FROM c0),
        |d AS (
        |  SELECT source, doc_id,
        |    'https://' || source || '.example.eu/d/' || doc_id AS uri,
        |    '<html>doc ' || doc_id || ' ' || text || '</html>' AS body,
        |    '2026-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z' AS wdate
        |  FROM documents),
        |h AS (
        |  SELECT d.*, crlf, info_len,
        |    'HTTP/1.1 200 OK' || crlf || 'Content-Type: text/html' ||
        |      crlf || crlf || body AS http
        |  FROM d CROSS JOIN c),
        |r AS (
        |  SELECT *,
        |    'WARC/1.0' || crlf || 'WARC-Type: response' || crlf ||
        |    'WARC-Target-URI: ' || uri || crlf ||
        |    'WARC-Date: ' || wdate || crlf ||
        |    'Content-Type: application/http;msgtype=response' || crlf ||
        |    'Content-Length: ' || strlen(http) || crlf || crlf ||
        |    http || crlf || crlf AS rec
        |  FROM h),
        |o AS (
        |  SELECT *,
        |    info_len + coalesce(sum(strlen(rec)) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM r),
        |resp AS (
        |  SELECT source, uri, 'response' AS warc_type, wdate AS warc_date,
        |    CAST(strlen(http) AS BIGINT) AS content_length,
        |    200 AS http_status,
        |    CAST(off AS BIGINT) AS rec_offset,
        |    CAST(strlen(rec) - 4 AS BIGINT) AS rec_length,
        |    body AS payload
        |  FROM o),
        |info AS (
        |  SELECT DISTINCT source, '' AS uri, 'warcinfo' AS warc_type,
        |    CAST(NULL AS VARCHAR) AS warc_date, CAST(15 AS BIGINT) AS content_length,
        |    CAST(NULL AS INT) AS http_status,
        |    CAST(0 AS BIGINT) AS rec_offset,
        |    CAST((SELECT info_len - 4 FROM c) AS BIGINT) AS rec_length,
        |    'software: graft' AS payload
        |  FROM documents)
        |SELECT * FROM (SELECT * FROM resp UNION ALL SELECT * FROM info)
        |ORDER BY source, uri""".stripMargin,
    // warc_write: DuckDB rebuilds each record string byte-for-byte (strlen
    // counts OCTETS, matching octet_length — the é in the payload is the
    // point), assembles the same 8 archives per source in doc order, and
    // compares octet totals + md5 digests.
    "warc_write" ->
      """WITH c AS (SELECT chr(13) || chr(10) AS crlf),
        |d AS (
        |  SELECT source, doc_id, crlf,
        |    'https://' || source || '.example.eu/d/' || doc_id AS url,
        |    '2026-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z' AS fetched,
        |    '<html>doc ' || doc_id || ' é ' || text || '</html>' AS payload
        |  FROM documents CROSS JOIN c),
        |h AS (
        |  SELECT *, 'HTTP/1.1 200 OK' || crlf || 'Content-Type: text/html' ||
        |    crlf || crlf || payload AS http
        |  FROM d),
        |r AS (
        |  SELECT source, doc_id,
        |    source || '-' || (doc_id % 8) AS file_key,
        |    'WARC/1.0' || crlf || 'WARC-Type: response' || crlf ||
        |    'WARC-Target-URI: ' || url || crlf ||
        |    'WARC-Date: ' || fetched || crlf ||
        |    'Content-Type: application/http;msgtype=response' || crlf ||
        |    'Content-Length: ' || strlen(http) || crlf || crlf ||
        |    http || crlf || crlf AS rec
        |  FROM h),
        |f AS (
        |  SELECT file_key, string_agg(rec, '' ORDER BY doc_id) AS warc
        |  FROM r GROUP BY file_key)
        |SELECT file_key, CAST(strlen(warc) AS BIGINT) AS octets,
        |  md5(warc) AS digest
        |FROM f ORDER BY file_key""".stripMargin,
    // warc_cdx: every CDX column re-derived from the generation parameters —
    // SURT urlkey by host-label reversal, 14-digit ts from the date's
    // digits, md5 digest over the same payload text, and the byte range by
    // cumulating independently-computed record sizes.
    "warc_cdx" ->
      """WITH c0 AS (SELECT chr(13) || chr(10) AS crlf),
        |c AS (
        |  SELECT crlf, strlen('WARC/1.0' || crlf || 'WARC-Type: warcinfo' || crlf ||
        |    'Content-Type: application/warc-fields' || crlf ||
        |    'Content-Length: 15' || crlf || crlf ||
        |    'software: graft' || crlf || crlf) AS info_len
        |  FROM c0),
        |d AS (
        |  SELECT source, doc_id,
        |    'https://' || source || '.example.eu/d/' || doc_id AS uri,
        |    '<html>doc ' || doc_id || ' ' || text || '</html>' AS body
        |  FROM documents),
        |h AS (
        |  SELECT d.*, crlf, info_len,
        |    'HTTP/1.1 200 OK' || crlf || 'Content-Type: text/html' ||
        |      crlf || crlf || body AS http
        |  FROM d CROSS JOIN c),
        |r AS (
        |  SELECT *,
        |    'WARC/1.0' || crlf || 'WARC-Type: response' || crlf ||
        |    'WARC-Target-URI: ' || uri || crlf ||
        |    'WARC-Date: 2026-01-0' || (doc_id % 9 + 1) || 'T00:00:00Z' || crlf ||
        |    'Content-Type: application/http;msgtype=response' || crlf ||
        |    'Content-Length: ' || strlen(http) || crlf || crlf ||
        |    http || crlf || crlf AS rec
        |  FROM h),
        |o AS (
        |  SELECT *,
        |    info_len + coalesce(sum(strlen(rec)) OVER (
        |      PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
        |  FROM r)
        |SELECT
        |  'eu,example,' || source || ')/d/' || doc_id AS urlkey,
        |  '2026010' || (doc_id % 9 + 1) || '000000' AS ts,
        |  uri AS url,
        |  200 AS status,
        |  md5(body) AS digest,
        |  CAST(off AS BIGINT) AS rec_offset,
        |  CAST(strlen(rec) - 4 AS BIGINT) AS rec_length,
        |  source || '-00000.warc' AS filename
        |FROM o ORDER BY urlkey""".stripMargin,
    // link_extract: same synthesized html, same two-group regex (DuckDB
    // zips parallel unnests positionally, mirroring arrays_zip+posexplode),
    // same href resolution CASE and anchor tag-strip.
    "link_extract" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    '<p>intro</p><a href="https://other.eu/p/' || (doc_id % 13) ||
        |    '">Abs <b>link</b></a><a href="/docs/' || (doc_id % 7) ||
        |    '.html">Rooted</a><a href="rel/' || (doc_id % 5) ||
        |    '">Relative</a><a href="//cdn.eu/c/' || (doc_id % 3) ||
        |    '">Proto</a><a href="#frag">Skip</a>' ||
        |    '<a href="javascript:void(0)">Js</a><a href="mailto:a@b.eu">Mail</a>' ||
        |    '<a href="sub/' || text || '">T ' || text || '</a>' AS html,
        |    'https://site.eu/docs/page' || doc_id || '.html' AS page_url
        |  FROM documents),
        |ex AS (
        |  SELECT doc_id, page_url,
        |    unnest(regexp_extract_all(html, '(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>', 1)) AS href,
        |    unnest(regexp_extract_all(html, '(?is)<a\s[^>]*href\s*=\s*"([^"]*)"[^>]*>(.*?)</a>', 2)) AS anchor0
        |  FROM base)
        |SELECT doc_id,
        |  CASE WHEN regexp_matches(href, '^https?://') THEN href
        |       WHEN starts_with(href, '//')
        |         THEN regexp_extract(page_url, '^(https?):', 1) || ':' || href
        |       WHEN starts_with(href, '/')
        |         THEN regexp_extract(page_url, '^https?://[^/]+', 0) || href
        |       ELSE regexp_replace(page_url, '/[^/]*$', '/') || href END AS link_url,
        |  trim(regexp_replace(anchor0, '<.*?>', '', 'g')) AS anchor
        |FROM ex
        |WHERE NOT starts_with(href, '#') AND NOT starts_with(href, 'javascript:')
        |  AND NOT starts_with(href, 'mailto:') AND href <> ''
        |ORDER BY doc_id, link_url, anchor""".stripMargin,
    // robots '?'-glob becomes the regex ^/docs/3. (one char, implied
    // trailing *); the '/docs/11' prefix rule is a plain LIKE
    "plone_search" ->
      """WITH items AS (
        |  SELECT doc_id,
        |    'https://site.example.eu/api/docs/' || doc_id ||
        |      CASE WHEN doc_id % 7 = 0
        |           THEN (CASE WHEN doc_id % 2 = 0 THEN '.pdf' ELSE '.png' END)
        |           ELSE '' END AS api_url,
        |    CASE WHEN doc_id % 7 = 0 THEN 'File'
        |         WHEN doc_id % 7 = 1 THEN 'Event'
        |         WHEN doc_id % 7 = 2 THEN 'Discussion Item'
        |         ELSE 'Document' END AS portal_type,
        |    CASE WHEN doc_id % 5 = 0 THEN '2026-01-0' || (doc_id % 9 + 1) END AS modification_date,
        |    '2025-12-0' || (doc_id % 9 + 1) AS modified_raw,
        |    doc_id % 13 = 0 AS seo_noindex
        |  FROM documents),
        |u AS (
        |  SELECT doc_id,
        |    replace(api_url, '/api/', '/') AS url,
        |    portal_type,
        |    coalesce(modification_date, modified_raw) AS modified,
        |    seo_noindex
        |  FROM items),
        |f AS (
        |  SELECT *,
        |    regexp_replace(url, '^https?://[^/]+', '') AS path,
        |    lower(regexp_extract(url, '([^.]*)$', 1)) AS ext
        |  FROM u)
        |SELECT doc_id, url, portal_type, modified
        |FROM f
        |WHERE url <> 'https://site.example.eu/docs/17'
        |  AND portal_type IN ('Document','File','Event')
        |  AND NOT (portal_type = 'File' AND ext IN ('png','svg','jpg','gif','eps','jpeg'))
        |  AND portal_type <> 'Event'
        |  AND NOT seo_noindex
        |  AND url <> 'https://site.example.eu/docs/23'
        |  AND NOT (path LIKE '/docs/11%' OR regexp_matches(path, '^/docs/3.'))
        |ORDER BY doc_id""".stripMargin,
    // the expected attachment table restated from the same doc_id
    // arithmetic: is_field_of_type key-presence gate ('thumb' lacks
    // filename → never a row), the 4-type content gate, the
    // replace/split-membership/endswith URL swap, the report_pdf items
    // path (File children only, NO swap)
    "plone_attachments" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 11 = 7 THEN 'https://www.eea.europa.eu/en/analysis/publications/european-union-greenhouse-gas-inventory-2014'
        |         WHEN doc_id % 3 = 0 THEN 'https://www.eea.europa.eu/x/doc' || doc_id
        |         WHEN doc_id % 3 = 1 THEN 'https://www.eea.europa.eu/en/doc' || doc_id
        |         ELSE 'https://other.site/doc' || doc_id END AS url,
        |    CASE WHEN doc_id % 4 = 0 THEN 'application/pdf'
        |         WHEN doc_id % 4 = 1 THEN 'application/msword'
        |         WHEN doc_id % 4 = 2 THEN 'text/html'
        |         ELSE 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
        |         END AS ct,
        |    CASE WHEN doc_id % 13 = 3 THEN '2024-01-0' || (doc_id % 9 + 1) || 'T12:30:00'
        |         WHEN doc_id % 13 = 6 THEN '2026-08-01'
        |         WHEN doc_id % 13 = 8 THEN '2024-02-03T08:00:00'
        |         WHEN doc_id % 13 = 5 THEN NULL
        |         ELSE '2026-07-0' || (doc_id % 9 + 1) || 'T00:10:00' END AS mod_str
        |  FROM documents),
        |d2 AS (
        |  SELECT *,
        |    CASE WHEN doc_id % 5 = 0 THEN url || '/@@download/pdfStatic'
        |         ELSE url || '/file/@@download/file' END AS download,
        |    url <> 'https://www.eea.europa.eu/en/analysis/publications/european-union-greenhouse-gas-inventory-2014'
        |      AND NOT (mod_str IS NOT NULL AND trim(mod_str) <> ''
        |        AND date_diff('day', CAST(string_split(mod_str, 'T')[1] AS DATE), DATE '2026-08-15') > 365)
        |      AS should_extract
        |  FROM d),
        |fieldrows AS (
        |  SELECT doc_id, 'file' AS field, 'f' || doc_id || '.bin' AS filename,
        |    ct AS content_type,
        |    CASE WHEN contains(url, 'www.eea.europa.eu')
        |          AND NOT list_contains(string_split(url, '/'), 'en')
        |          AND NOT ends_with(download, '@@download/pdfStatic')
        |      THEN replace(download, '@@download', 'at_download')
        |      ELSE download END AS download_url
        |  FROM d2
        |  WHERE should_extract
        |    AND ct IN ('application/pdf', 'application/msword',
        |    'application/vnd.openxmlformats-officedocument.wordprocessingml.document',
        |    'application/vnd.ms-word.document.macroEnabled.12')),
        |reportrows AS (
        |  SELECT doc_id, 'items' AS field, NULL AS filename, NULL AS content_type,
        |    url || '/item0/@@download/file' AS download_url
        |  FROM d2 WHERE doc_id % 7 = 0 AND should_extract)
        |SELECT doc_id, field, filename, content_type, download_url FROM fieldrows
        |UNION ALL
        |SELECT doc_id, field, filename, content_type, download_url FROM reportrows
        |ORDER BY doc_id, field""".stripMargin,
    "norm_clean_html" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title></head><body><h1>Doc ' || doc_id ||
        |    '</h1><p>' || text || '</p><br/><a href="https://example.eu/d/' || doc_id ||
        |    '">link</a> </body></html>' AS html
        |  FROM documents)
        |SELECT doc_id, trim(regexp_replace(html, '<.*?>', '', 'g')) AS text_clean
        |FROM h WHERE length(trim(regexp_replace(html, '<.*?>', '', 'g'))) > 0
        |ORDER BY doc_id""".stripMargin,
    // Line-level boilerplate filter: identical regex pipeline (block closes →
    // \n, anchor text in \x01..\x02 sentinels, global tag strip) and the
    // identical per-line keep rule. \x escapes are RE2/Java-portable;
    // the sentinel REPLACEMENT string is chr(1)||'\1'||chr(2) because an
    // E-string '\1' would be octal, not a group ref.
    // Line-faithful: container selection leaves the h1 (short, dropped),
    // the document text (each LINE through the keep rule: trimmed,
    // non-empty, >= 30 chars or sentence-final punct), and the closing
    // paragraph (always kept); the farm and out-of-container chrome drop
    // whole. On the flat driver corpus this reduces to the old
    // trim(text) || closing-line restatement.
    "main_text_blocks" ->
      """SELECT doc_id,
        |  array_to_string(list_append(
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |      v -> length(v) > 0 AND (length(v) >= 30 OR regexp_matches(v, '[.!?]$'))),
        |    'Published by ' || source || ' as document ' || doc_id ||
        |    ' with a closing sentence for the density filter.'), chr(10)) AS text_main
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "norm_boilerplate" ->
      """WITH h AS (
        |  SELECT doc_id,
        |    '<html><head><title>Doc ' || doc_id || '</title></head><body>' ||
        |    '<nav><a href="/">Home</a> <a href="/about">About</a> <a href="/contact">Contact</a></nav>' ||
        |    '<div class="cookie">We use cookies</div>' ||
        |    '<p>' || text || '</p>' ||
        |    '<footer>Copyright example-site</footer></body></html>' AS html
        |  FROM documents),
        |m0 AS (
        |  SELECT doc_id,
        |    regexp_replace(
        |      regexp_replace(html,
        |        '(?i)</(?:p|div|h[1-6]|head|li|td|tr|th|ul|ol|table|section|article|main|header|footer|nav|blockquote|title|body|html)>|<br */?>|(?i)<(?:p|div|h[1-6]|li|td|tr|th|ul|ol|table|section|article|main|header|footer|nav|blockquote)(?:\s[^>]*)?>',
        |        chr(10), 'g'),
        |      '(?is)<a(?:\s[^>]*)?>(.*?)</a>', chr(1) || '\1' || chr(2), 'g') AS marked
        |  FROM h),
        |m1 AS (SELECT doc_id, regexp_replace(marked,
        |  '(\x01[^\x02\x0a]*)\x0a', '\1' || chr(2) || chr(10) || chr(1), 'g') AS marked FROM m0),
        |m2 AS (SELECT doc_id, regexp_replace(marked,
        |  '(\x01[^\x02\x0a]*)\x0a', '\1' || chr(2) || chr(10) || chr(1), 'g') AS marked FROM m1),
        |m AS (
        |  SELECT doc_id, regexp_replace(marked, '<.*?>', '', 'g') AS stripped
        |  FROM m2),
        |j AS (
        |  SELECT doc_id, trim(array_to_string(
        |    list_transform(
        |      list_filter(string_split(stripped, chr(10)),
        |        x -> length(trim(regexp_replace(x, '[\x01\x02]', '', 'g'))) > 0
        |         AND CAST(length(x) - length(regexp_replace(x, '\x01[^\x02]*\x02', '', 'g'))
        |               - 2 * len(regexp_extract_all(x, '\x01[^\x02]*\x02')) AS DOUBLE)
        |             <= length(trim(regexp_replace(x, '[\x01\x02]', '', 'g'))) * CAST(0.5 AS DOUBLE)
        |         AND (length(trim(regexp_replace(x, '[\x01\x02]', '', 'g'))) >= 30
        |              OR regexp_matches(trim(regexp_replace(x, '[\x01\x02]', '', 'g')), '[.!?]$'))),
        |      x -> trim(regexp_replace(x, '[\x01\x02]', '', 'g'))),
        |    chr(10))) AS text_main
        |  FROM m)
        |SELECT doc_id, text_main FROM j WHERE length(text_main) > 0
        |ORDER BY doc_id""".stripMargin,
    "norm_reading_time" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[\p{L}\p{M}\p{N}\p{Pc}\x{200C}\x{200D}]+')) AS BIGINT) AS n_words,
        |  CASE WHEN source = 'src0' THEN CAST(-1.0 AS DOUBLE)
        |       ELSE floor(len(regexp_extract_all(text, '[\p{L}\p{M}\p{N}\p{Pc}\x{200C}\x{200D}]+')) / CAST(228 AS DOUBLE) * 10000.0 + 0.5) / 10000.0 END AS reading_time
        |FROM documents ORDER BY doc_id""".stripMargin,
    "norm_description" ->
      """SELECT doc_id,
        |  CASE WHEN description_raw IS NULL OR description_raw = ''
        |       THEN array_to_string(list_slice(string_split(trim(text), ' '), 1, 100), ' ')
        |       ELSE description_raw END AS description
        |FROM (SELECT doc_id, text,
        |        CASE WHEN doc_id % 3 = 0 THEN 'Existing description for doc ' || doc_id
        |             WHEN doc_id % 3 = 1 THEN '' END AS description_raw
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "norm_add_counts" ->
      """SELECT doc_id,
        |  CAST(len(list_distinct(list_slice(string_split(trim(text), ' '), 1, 10))) AS BIGINT) AS items_count_topics,
        |  CAST(1 AS BIGINT) AS items_count_lang
        |FROM documents ORDER BY doc_id""".stripMargin,
    "norm_maps" ->
      """SELECT d.doc_id,
        |  coalesce(m.v, d.lang) AS lang_norm,
        |  CASE WHEN d.source IN ('src0','src1','src2') THEN d.source END AS source_white,
        |  d.n_chars, d.n_chars AS size_chars,
        |  'CC-BY-4.0' AS rights,
        |  coalesce(CASE WHEN d.doc_id % 4 <> 0 THEN 'pub_' || d.source END, d.source) AS publisher,
        |  d.source AS creator
        |FROM documents d
        |LEFT JOIN (VALUES ('en','English'),('de','German'),('fr','French'),
        |                  ('es','Spanish'),('it','Italian')) m(k, v)
        |  ON d.lang = m.k
        |ORDER BY doc_id""".stripMargin,
    "norm_add_format" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN 'text/html'
        |         WHEN doc_id % 3 = 1 THEN 'application/pdf' END AS format,
        |    CASE WHEN doc_id % 2 = 0 THEN 'pdf text of doc ' || doc_id ELSE '' END AS pdf_text
        |  FROM documents),
        |f AS (SELECT doc_id, [coalesce(format, 'unknown')] AS fmts, pdf_text FROM base)
        |SELECT doc_id,
        |  array_to_string(
        |    CASE WHEN pdf_text IS NOT NULL AND pdf_text <> ''
        |         AND NOT list_has_any(fmts,
        |           ['application/msword',
        |            'application/vnd.openxmlformats-officedocument.wordprocessingml.document',
        |            'application/vnd.ms-word.document.macroEnabled.12',
        |            'application/pdf'])
        |    THEN fmts || ['application/pdf'] ELSE fmts END, '|') AS formats
        |FROM f ORDER BY doc_id""".stripMargin,
    "text_passages" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |e AS (SELECT doc_id, w, unnest(range(0, len(w), 45)) AS start FROM w)
        |SELECT doc_id,
        |  CAST(start // 45 AS BIGINT) AS passage_id,
        |  CAST(least(60, len(w) - start) AS BIGINT) AS n_words,
        |  array_to_string(list_slice(w, start + 1, start + 60), ' ') AS passage
        |FROM e ORDER BY doc_id, passage_id""".stripMargin,
    "flatten_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "norm_themes" ->
      """WITH w AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |d AS (SELECT doc_id, list_slice(w, 1, 3) AS themes, list_slice(w, 4, 5) AS tax FROM w),
        |e AS (SELECT doc_id, unnest(list_distinct(themes || tax)) AS token FROM d),
        |m AS (SELECT doc_id, coalesce(t.label, e.token) AS theme
        |      FROM e LEFT JOIN (VALUES ('data','Data & Maps'),('water','Water'),
        |        ('query','Queries'),('join','Joins'),('stream','Streaming')) t(token, label)
        |      ON e.token = t.token)
        |SELECT doc_id, array_to_string(list_sort(list_distinct(list(theme))), '|') AS themes_merged
        |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "norm_provenance" ->
      """WITH p AS (
        |  SELECT doc_id, pos,
        |    'https://prov.example.eu/' || ((doc_id + pos % 3) % 7) AS link,
        |    'org' || ((doc_id + pos % 3) % 3) AS organisation,
        |    'title' || ((doc_id + pos % 3) % 5) AS title
        |  FROM documents CROSS JOIN (SELECT unnest(range(0, 4)) AS pos) t),
        |dedup AS (
        |  SELECT doc_id, organisation,
        |    row_number() OVER (PARTITION BY doc_id, link, organisation, title ORDER BY pos) AS rn
        |  FROM p)
        |SELECT doc_id, count(*) AS n_provenances,
        |  array_to_string(list_sort(list_distinct(list(organisation))), '|') AS organisations
        |FROM dedup WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "norm_coverage" ->
      """WITH base AS (
        |  SELECT doc_id, lang,
        |    [CASE WHEN doc_id % 4 = 0 THEN NULL ELSE 'geo' || (doc_id % 5) END,
        |     CASE WHEN doc_id % 3 = 0 THEN 'region' || (doc_id % 7) ELSE NULL END] AS geo_labels,
        |    CASE WHEN doc_id % 5 = 0 THEN [] ELSE ['range' || (doc_id % 9)] END AS temporal_labels,
        |    CASE WHEN doc_id % 5 = 0 THEN NULL ELSE lang END AS language,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'tok_' || lang END AS language_token,
        |    CASE WHEN doc_id % 2 = 0 THEN 'File' ELSE 'Article' END AS type_raw,
        |    [CASE WHEN doc_id % 6 = 0 THEN 'Products.EEAContentTypes.content.interfaces.ICountryProfile'
        |          ELSE 'eea.core.interfaces.IOther' END,
        |     'plone.base.interfaces.IItem'] AS object_provides,
        |    CASE WHEN doc_id % 2 = 0 THEN 'File' ELSE 'Document' END AS opt,
        |    CASE WHEN doc_id % 3 = 0 THEN 'visible'
        |         WHEN doc_id % 3 = 1 THEN 'archived' ELSE 'published' END AS ws,
        |    CASE WHEN doc_id % 2 = 0 THEN '2030-01-01' END AS expires_raw
        |  FROM documents),
        |cov AS (
        |  SELECT doc_id, language, language_token, type_raw, object_provides, opt, ws, expires_raw,
        |    list_filter(geo_labels, x -> x IS NOT NULL) AS geo,
        |    temporal_labels
        |  FROM base),
        |fix AS (
        |  SELECT doc_id,
        |    CASE WHEN len(geo) > 0 THEN geo END AS spatial,
        |    CASE WHEN len(temporal_labels) > 0 THEN temporal_labels END AS time_coverage,
        |    [type_raw] || list_filter(object_provides,
        |      x -> x = 'Products.EEAContentTypes.content.interfaces.ICountryProfile') AS types,
        |    coalesce(language, language_token, 'en') AS language,
        |    CASE WHEN opt = 'File' AND ws = 'visible' THEN 'published' ELSE ws END AS ws2,
        |    expires_raw
        |  FROM cov)
        |SELECT doc_id,
        |  array_to_string(spatial, '|') AS spatial,
        |  array_to_string(time_coverage, '|') AS time_coverage,
        |  array_to_string(spatial, '|') AS places,
        |  array_to_string(types, '|') AS types,
        |  language,
        |  ws2 AS workflow_state,
        |  CASE WHEN ws2 = 'archived' AND (expires_raw IS NULL OR expires_raw = '')
        |       THEN '2026-08-10' ELSE expires_raw END AS expires
        |FROM fix ORDER BY doc_id""".stripMargin,
    "norm_locations" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 7 = 0 THEN NULL
        |       ELSE array_to_string(list_transform(range(0, CAST(doc_id % 3 + 1 AS INT)),
        |              k -> 'place' || doc_id || '_' || k), '|') END AS locations
        |FROM documents ORDER BY doc_id""".stripMargin,
    // theme-taxonomy build: vocabulary tokens for even ids, VDEX XML terms
    // for thirds applied second (dict-update order) win conflicts; the en
    // langstring is picked by language attribute, not position.
    "taxonomy_merge" ->
      """WITH vocab AS (
        |  SELECT 't' || doc_id AS token, 'Vocab ' || doc_id AS label, 1 AS prio
        |  FROM documents WHERE doc_id % 2 = 0),
        |x AS (
        |  SELECT 't' || doc_id AS token, 'Xml ' || doc_id AS label, 2 AS prio
        |  FROM documents WHERE doc_id % 3 = 0),
        |u AS (SELECT * FROM vocab UNION ALL SELECT * FROM x)
        |SELECT token, max_by(label, prio) AS label
        |FROM u GROUP BY token ORDER BY token""".stripMargin,
    // passage cleaning, line-faithful: the full algorithm — pages split on
    // \f; identical first (last) lines across a multi-page doc strip as
    // running header (footer); per-line space/tab padding strips ((?m) is
    // \n-only in BOTH engines — Spark side carries (?d)); 3+-newline runs
    // collapse to 2. Reduces to the old flat restatement on the driver
    // corpus, and adjudicates line-bearing hostile text.
    "passage_clean" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    'DOC HEADER' || chr(10) || '  ' || text || '  ' ||
        |    chr(10) || chr(10) || chr(10) || chr(10) || 'mid' || chr(10) ||
        |    'DOC FOOTER' || chr(12) || 'DOC HEADER' || chr(10) ||
        |    'second page body' || chr(10) || 'DOC FOOTER' AS ft
        |  FROM documents),
        |p AS (SELECT doc_id, string_split(ft, chr(12)) AS pages FROM b),
        |hf AS (
        |  SELECT doc_id, pages,
        |    len(pages) > 1 AND len(list_distinct(list_transform(pages,
        |      pg -> string_split(pg, chr(10))[1]))) = 1 AS hdup,
        |    len(pages) > 1 AND len(list_distinct(list_transform(pages,
        |      pg -> string_split(pg, chr(10))[-1]))) = 1 AS fdup
        |  FROM p),
        |st AS (
        |  SELECT doc_id,
        |    array_to_string(list_transform(pages, pg ->
        |      array_to_string(
        |        list_slice(string_split(pg, chr(10)),
        |          CASE WHEN hdup THEN 2 ELSE 1 END,
        |          len(string_split(pg, chr(10))) -
        |            CASE WHEN fdup THEN 1 ELSE 0 END),
        |        chr(10))), chr(12)) AS t
        |  FROM hf),
        |w AS (SELECT doc_id,
        |  regexp_replace(t, '(?m)^[ \t]+|[ \t]+$', '', 'g') AS t2 FROM st)
        |SELECT doc_id,
        |  regexp_replace(t2, '\n{3,}', chr(10) || chr(10), 'g') AS text_clean
        |FROM w ORDER BY doc_id""".stripMargin,
    // remove_by_selector: chrome elements (nav/banner/footer) strip whole;
    // removed blocks have no nested same-name tags by construction, so the
    // oracle rebuilds the stripped html as a plain concat. text_main
    // follows the single-<p>-line keep rule as in nlp_preprocess.
    "norm_strip_selectors" ->
      """SELECT doc_id,
        |  '<html><body>' || '<p>' || text || '</p>' || '</body></html>' AS stripped,
        |  coalesce(array_to_string(
        |    list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |      v -> length(v) > 0 AND (length(v) >= 30 OR regexp_matches(v, '[.!?]$'))),
        |    chr(10)), '') AS text_main
        |FROM documents ORDER BY doc_id""".stripMargin,
    // common_preprocess text assembly: html main-content extract (here a
    // single <p> line — kept iff ≥30 chars or sentence-final punct, the
    // boilerplate keep rule) else the join_text_fields fallback (title →
    // whitelist prop → auto-discovered text/html struct prop; blacklisted
    // struct stays out), then the unconditional "\n\n" + pdf append.
    "nlp_preprocess" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 3 = 0 THEN '' ELSE
        |      coalesce(array_to_string(
        |        list_filter(list_transform(string_split(text, chr(10)), x -> trim(x)),
        |          v -> length(v) > 0 AND (length(v) >= 30 OR regexp_matches(v, '[.!?]$'))),
        |        chr(10)), '') END AS extracted,
        |    CASE WHEN doc_id % 4 IN (0, 1) THEN 'no title'
        |         ELSE 'Title ' || doc_id END AS title,
        |    CASE WHEN doc_id % 2 = 0 THEN 'Abstract ' || doc_id ELSE '' END AS ab,
        |    'Summary ' || doc_id AS sm,
        |    CASE WHEN doc_id % 5 = 0 THEN 'PDF body ' || doc_id ELSE '' END AS pdf
        |  FROM documents),
        |fb AS (
        |  SELECT doc_id, extracted, pdf,
        |    chr(10) || chr(10) || title || '.' || chr(10) || chr(10) ||
        |    CASE WHEN ab <> '' THEN ab || '.' || chr(10) || chr(10) ELSE '' END ||
        |    chr(10) || chr(10) || sm || '.' || chr(10) || chr(10) AS fallback
        |  FROM f)
        |SELECT doc_id,
        |  CASE WHEN extracted <> '' THEN extracted ELSE fallback END ||
        |    chr(10) || chr(10) || pdf AS nlp_text
        |FROM fb ORDER BY doc_id""".stripMargin,
    // commonNormalizer composed from a site-shaped config: each CTE is one
    // reference step in common_normalizer's order (admission → workflow
    // state → fulltext/readingTime → black/white maps → remove-empty →
    // normObj → normProp → normMissing → list dedup + trim → description →
    // add_counts). The fulltext CTEs crib the proven norm_join_text oracle.
    "norm_pipeline" ->
      """WITH base AS (
        |  SELECT doc_id, text, source, n_chars,
        |    CASE WHEN doc_id % 17 = 0 THEN NULL ELSE lang END AS lang,
        |    CASE WHEN doc_id % 4 = 0 THEN 'Dataset' ELSE 'Article' END AS type_raw,
        |    CASE WHEN doc_id % 5 = 0 THEN NULL
        |         WHEN doc_id % 5 = 1 THEN '' ELSE 'published' END AS review_state,
        |    CASE WHEN doc_id % 4 = 0 THEN NULL
        |         WHEN doc_id % 4 = 1 THEN ''
        |         ELSE 'Title ' || doc_id END AS title,
        |    CASE WHEN doc_id % 3 = 0 THEN ''
        |         ELSE '<p>Summary for doc ' || doc_id || '</p>' END AS summary,
        |    CASE WHEN doc_id % 4 <> 0 THEN 'pub_' || source END AS publisher,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Existing description for doc ' || doc_id
        |         WHEN doc_id % 3 = 1 THEN '' ELSE NULL END AS description_raw
        |  FROM documents
        |  WHERE doc_id % 13 <> 0 AND doc_id % 11 <> 0),
        |ft0 AS (
        |  SELECT *, text || chr(10) || chr(10) ||
        |    (CASE WHEN title IS NULL OR title = '' THEN 'no title' ELSE title END) ||
        |    '.' || chr(10) || chr(10) AS t0,
        |    trim(regexp_replace(summary, '<.*?>', '', 'g')) AS c1
        |  FROM base),
        |ft1 AS (
        |  SELECT *, CASE WHEN length(c1) > 0 AND NOT ends_with(c1, '.')
        |                 THEN c1 || '.' ELSE c1 END AS x1
        |  FROM ft0),
        |ft AS (
        |  SELECT *, CASE WHEN length(x1) > 0 AND NOT contains(t0, x1)
        |                 THEN t0 || x1 || chr(10) || chr(10) ELSE t0 END AS ft_raw
        |  FROM ft1),
        |tg AS (
        |  SELECT *,
        |    list_filter(list_slice(string_split(trim(text), ' '), 1, 5),
        |      x -> x NOT IN ('the','a','and','of','to','data')) AS l0
        |  FROM ft),
        |tg2 AS (
        |  SELECT *, CASE WHEN len(l0) = 0 THEN NULL ELSE l0 END AS l1 FROM tg),
        |tg3 AS (
        |  SELECT *, list_filter(l1, (x, i) -> list_position(l1, x) = i) AS l2 FROM tg2),
        |fin AS (
        |  SELECT doc_id, type_raw,
        |    CASE WHEN review_state IS NULL OR review_state = ''
        |         THEN 'missing' ELSE review_state END AS workflow_state,
        |    CAST(len(regexp_extract_all(ft_raw, '[\p{L}\p{M}\p{N}\p{Pc}\x{200C}\x{200D}]+')) AS BIGINT) AS n_words,
        |    CASE WHEN type_raw = 'Dataset' THEN CAST(-1.0 AS DOUBLE)
        |         ELSE floor(len(regexp_extract_all(ft_raw, '[\p{L}\p{M}\p{N}\p{Pc}\x{200C}\x{200D}]+')) / CAST(228 AS DOUBLE) * 10000.0 + 0.5) / 10000.0
        |    END AS reading_time,
        |    array_to_string(l2, '|') AS tags,
        |    CASE coalesce(lang, 'en') WHEN 'en' THEN 'English'
        |         WHEN 'de' THEN 'German' WHEN 'fr' THEN 'French'
        |         ELSE coalesce(lang, 'en') END AS lang,
        |    CASE WHEN source IN ('src0','src1','src2') THEN source END AS source,
        |    n_chars AS size_chars,
        |    'CC-BY-4.0' AS rights,
        |    coalesce(publisher,
        |      CASE WHEN source IN ('src0','src1','src2') THEN source END) AS publisher,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL
        |         ELSE array_to_string(list_transform(range(0, CAST(doc_id % 3 + 1 AS INT)),
        |                k -> 'place' || doc_id || '_' || k), '|') END AS locations,
        |    CASE WHEN description_raw IS NULL OR description_raw = ''
        |         THEN array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ')
        |         ELSE description_raw END AS description,
        |    CAST(len(l2) AS BIGINT) AS items_count_tags,
        |    CAST(1 AS BIGINT) AS items_count_lang,
        |    trim(ft_raw) AS fulltext
        |  FROM tg3)
        |SELECT * FROM fin ORDER BY doc_id""".stripMargin,
    // the sdi site pipeline: expected values re-derived directly from the
    // synthesized doc_id patterns — issued via the sdi fallback chain
    // (creationDateForResource slot yields NULL), topic renames + theme
    // taxonomy, range years with the open-end pinned to currentYear 2016,
    // obsolete expiry, last_modified = max(children ∪ own changeDate).
    "site_sdi" ->
      """SELECT doc_id,
        |  'Map ' || doc_id AS title,
        |  'Abstract ' || doc_id AS description,
        |  'published' AS hasWorkflowState,
        |  'sdi' AS cluster_name,
        |  CASE WHEN doc_id % 4 = 0 THEN '2019-04-04'
        |       WHEN doc_id % 4 = 1 THEN '2010-09-09' END AS issued,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Kosovo|Italy' ELSE 'Spain' END AS spatial,
        |  'climate|water' AS topic,
        |  CASE WHEN doc_id % 3 = 0 THEN '2011|2012|2013|2015|2016'
        |       WHEN doc_id % 3 = 1 THEN '2012' END AS time_coverage,
        |  CASE WHEN doc_id % 5 = 0 THEN '2026-08-10' END AS expires,
        |  CASE WHEN doc_id % 14 = 0 THEN '2021-05-05'
        |       WHEN doc_id % 2 = 0 THEN '2020-01-01'
        |       WHEN doc_id % 7 = 0 THEN '2021-05-05' END AS last_modified,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS items_count_spatial
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the sdi_fise site pipeline (the richest SDI field mapping):
    // FISE issued chain WITH the creationDateForResource middle step,
    // publicationYear int fallback (2500 default), maintenance-frequency
    // key→label (trim, pass-through, Unknown), first-contact org fields,
    // language code → country/language names, catalogue about URL,
    // resourceType → SDI types, obsolete expiry, last_modified =
    // changeDate ?? dateStamp, rod-obligation lookup, DAT prod ids.
    "site_sdi_fise" ->
      """SELECT doc_id,
        |  'Map ' || doc_id AS title,
        |  'Abstract ' || doc_id AS description,
        |  'published' AS hasWorkflowState,
        |  'fise_sdi' AS cluster_name,
        |  CASE WHEN doc_id % 4 = 0 THEN '2019-04-04'
        |       WHEN doc_id % 4 = 1 THEN '2010-09-09'
        |       WHEN doc_id % 4 = 2 THEN '2017-07-07' END AS issued,
        |  CAST(CASE WHEN doc_id % 4 = 0 THEN 2001
        |            WHEN doc_id % 4 = 1 THEN 1999
        |            WHEN doc_id % 4 = 2 THEN 1995
        |            ELSE 2500 END AS INTEGER) AS publicationYear,
        |  CASE WHEN doc_id % 5 = 0 THEN 'As needed'
        |       WHEN doc_id % 5 = 1 THEN 'weird'
        |       WHEN doc_id % 5 = 2 THEN 'Unknown'
        |       ELSE 'Monthly' END AS update_frequency_value,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Org ' || doc_id END AS organisation_name,
        |  CASE WHEN doc_id % 2 = 0 THEN 'mail' || doc_id || '@x.eu' END AS organisation_email,
        |  CASE WHEN doc_id % 4 = 0 THEN 'Italy'
        |       WHEN doc_id % 4 = 1 THEN 'Pan European (EEA)'
        |       WHEN doc_id % 4 = 2 THEN 'Switzerland'
        |       ELSE 'Unknown' END AS country,
        |  CASE WHEN doc_id % 4 = 0 THEN 'Italian'
        |       WHEN doc_id % 4 = 1 THEN 'English'
        |       WHEN doc_id % 4 = 2 THEN 'German'
        |       ELSE 'Unknown' END AS language,
        |  'https://sdi.eea.europa.eu/catalogue/fise/api/records/md-' || doc_id AS about,
        |  CASE WHEN doc_id % 4 = 0 THEN 'Spatial dataset'
        |       WHEN doc_id % 4 = 1 THEN 'Data services'
        |       WHEN doc_id % 4 = 2 THEN 'Tabular dataset'
        |       ELSE 'SDI' END AS object_provides,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Kosovo|Italy' ELSE 'Spain' END AS spatial,
        |  'Environment|Water' AS topic,
        |  CASE WHEN doc_id % 3 = 0 THEN '2011|2012|2013|2015|2016'
        |       WHEN doc_id % 3 = 1 THEN '2012' END AS time_coverage,
        |  'Reporting obligation 1' AS instrument,
        |  'DAT-' || doc_id AS prod_id,
        |  CASE WHEN doc_id % 5 = 0 THEN '2026-08-10' END AS expires,
        |  CASE WHEN doc_id % 7 = 0 THEN '2021-05-05' ELSE '2019-01-01' END AS last_modified,
        |  CASE WHEN doc_id % 4 = 2 THEN '2017-07-07' END AS created,
        |  CASE WHEN doc_id % 4 = 0 THEN '2019-04-04' END AS date_publication,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS items_count_spatial,
        |  CAST(2 AS BIGINT) AS items_count_topic
        |FROM documents ORDER BY doc_id""".stripMargin,
    // the climate site pipeline: whitelist admission (Collection drops),
    // '/mission/' path flag, issued ?? cca_published ?? publication_date,
    // cca vocab fan-out (title vs token), spatial Other-drop + country
    // append, flags, the mission_funding_cca Yes/No block, normMissing
    // fills, description fallback (same CTE shape as site_bise), counts.
    "site_climate" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 5 <> 4),
        |$ftCtes
        |SELECT doc_id,
        |  CASE WHEN doc_id % 5 = 0 THEN 'Webpage'
        |       WHEN doc_id % 5 = 1 THEN 'eea.climateadapt.casestudy'
        |       WHEN doc_id % 5 = 2 THEN 'mission_funding_cca'
        |       ELSE 'Event' END AS object_provides_scalar,
        |  CASE WHEN doc_id % 5 = 0 THEN '2020-02-02'
        |       WHEN doc_id % 5 = 3 THEN '2017-03-03'
        |       ELSE '2019-05-01' END AS issued,
        |  CASE WHEN doc_id % 5 = 0 THEN 'Italy'
        |       WHEN doc_id % 5 = 1 THEN 'Spain' ELSE '' END AS spatial,
        |  'Agriculture|Energy' AS cca_adaptation_sectors,
        |  'heat-stress' AS cca_health_impacts,
        |  'ktm1' AS cca_key_type_measure,
        |  'LIFE' AS cca_funding_programme,
        |  'IT|FR' AS cca_geographic_countries,
        |  'http://img/' || doc_id || '.png' AS cca_preview_image,
        |  'k1|k2' AS cca_keywords,
        |  CASE WHEN doc_id % 5 = 1 THEN 'true' ELSE 'false' END AS cca_include_in_search,
        |  CASE WHEN doc_id % 5 = 1 THEN 'true' ELSE 'false' END AS cca_include_in_mission,
        |  CASE WHEN doc_id % 5 = 1 THEN 'true' ELSE 'false' END AS cca_include_in_search_observatory,
        |  CASE WHEN doc_id % 5 = 2 THEN 'Yes' END AS cca_is_eu_funded,
        |  CASE WHEN doc_id % 5 = 2 THEN 'No' END AS cca_is_blended,
        |  CASE WHEN doc_id % 5 = 2 THEN '50%' END AS cca_funding_rate,
        |  'en' AS language,
        |  '2018-01-01T00:00:00' AS creation_date,
        |  'European Environment Agency (EEA)' AS creator,
        |  'published' AS workflow_state,
        |  'cca' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(2 AS BIGINT) AS items_count_cca_keywords,
        |  CAST(CASE WHEN doc_id % 5 IN (0, 1) THEN 1 ELSE 0 END AS BIGINT) AS items_count_spatial
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the eea_en site pipeline: sandbox-path / null-type / Plone-Site
    // drops, normObj content types, the visualization-Indicator title
    // rule, File workflow backfill + issued from creation_date, the
    // case-insensitive subjects attr-mapping append, taxonomy fan-out,
    // description fallback, counts.
    "site_eea_en" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 6 = 0 THEN 'Document'
        |         WHEN doc_id % 6 = 1 THEN 'File'
        |         WHEN doc_id % 6 = 2 THEN 'visualization'
        |         WHEN doc_id % 6 = 3 THEN 'Page' END AS type_raw,
        |    CASE WHEN doc_id % 4 = 2 THEN 'Indicator: T' || doc_id
        |         ELSE 'Title ' || doc_id END AS title,
        |    'summary' AS summary,
        |    doc_id % 4 = 1 AS rs_null
        |  FROM documents
        |  WHERE doc_id % 5 <> 0
        |    AND doc_id % 6 NOT IN (4, 5)),
        |$ftCtes
        |SELECT doc_id,
        |  concat_ws('|',
        |    CASE WHEN type_raw IN ('Document', 'Page') THEN 'Webpage'
        |         WHEN type_raw = 'File' THEN 'File'
        |         ELSE 'Chart (interactive)' END,
        |    CASE WHEN type_raw = 'visualization' AND doc_id % 4 = 2 THEN 'Indicator' END,
        |    CASE WHEN doc_id % 4 = 0 THEN 'Country fact sheet' END) AS object_provides,
        |  CASE WHEN rs_null AND type_raw <> 'File' THEN 'missing'
        |       ELSE 'published' END AS workflow_state,
        |  CASE WHEN rs_null AND type_raw = 'File' THEN '2020-01-01' END AS issued,
        |  'Air pollution' AS topic,
        |  'Pressure' AS dpsir,
        |  'SDG 13' AS un_sdgs,
        |  'eea' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 + CASE WHEN type_raw = 'visualization' AND doc_id % 4 = 2 THEN 1 ELSE 0 END
        |         + CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS items_count_object_provides,
        |  CAST(1 AS BIGINT) AS items_count_topic
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the wise_marine site pipeline: location rules (last-match-wins),
    // factsheet spatial=title, Data-set/Webpage pruning, the SPM block
    // (exclude flag, issued backfill, wm_spm_* fan-out), vocab
    // flattening, Indicator description override.
    "site_wise_marine" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 7 = 1 THEN 'Country ' || doc_id
        |         ELSE 'Title ' || doc_id END AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 7 <> 6),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 7 WHEN 0 THEN 'Webpage'
        |    WHEN 1 THEN 'Country fact sheet|Dashboard'
        |    WHEN 2 THEN 'Shipping and Ports Measure'
        |    WHEN 3 THEN 'Topic page'
        |    WHEN 4 THEN 'Data set'
        |    ELSE 'Indicator' END AS object_provides,
        |  CASE WHEN doc_id % 7 = 1 THEN 'Country ' || doc_id
        |       ELSE 'Baltic' END AS spatial,
        |  CASE WHEN doc_id % 7 = 2 THEN 'True' END AS exclude_from_globalsearch,
        |  CASE WHEN doc_id % 7 = 2 THEN '2023-09-04T07:17:00' END AS issued,
        |  CASE WHEN doc_id % 7 = 2 THEN 'Title ' || doc_id END AS wm_spm_title,
        |  CASE WHEN doc_id % 7 = 2 THEN 'S' || doc_id END AS wm_spm_sector,
        |  CASE WHEN doc_id % 7 = 2 THEN 'C' || doc_id END AS wm_spm_code,
        |  'MSFD' AS legislative_reference,
        |  'marine|water' AS wm_theme,
        |  'Pressure' AS wm_dpsir_type,
        |  CASE WHEN doc_id % 7 = 5 THEN 'Title ' || doc_id
        |       ELSE array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ')
        |  END AS description,
        |  CASE WHEN doc_id % 7 = 5 THEN 'Pressure' END AS dpsir,
        |  'published' AS workflow_state,
        |  'wise-marine' AS cluster_name,
        |  CAST(CASE WHEN doc_id % 7 = 1 THEN 2 ELSE 1 END AS BIGINT) AS items_count_object_provides,
        |  CAST(1 AS BIGINT) AS items_count_wm_dpsir_type
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the energy site pipeline: UNCONDITIONAL location rules, factsheet
    // spatial from title, resource_type Data → Dashboard, topics/intro →
    // Topic page.
    "site_energy" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 6 <> 5),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 6 WHEN 1 THEN 'Country fact sheet'
        |    WHEN 2 THEN 'Dashboard'
        |    WHEN 3 THEN 'Topic page'
        |    ELSE 'Webpage' END AS object_provides,
        |  CASE WHEN doc_id % 6 = 1 THEN 'Title ' || doc_id END AS spatial,
        |  'published' AS workflow_state,
        |  'energy' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the forest ("fise") site pipeline: data-catalogue drop, factsheet
    // spatial from the PARENT title (Regions parent excepted), location
    // rules, the bare-/topics Topic-page fallback with EU27 places,
    // EU-region factsheet → Dashboard vs the CFS+Dashboard pair.
    "site_forest" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 8 NOT IN (6, 7)),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 8 WHEN 0 THEN 'Topic page' WHEN 1 THEN 'Topic page'
        |    WHEN 2 THEN 'Webpage'
        |    WHEN 3 THEN 'Country fact sheet|Dashboard'
        |    WHEN 4 THEN 'Dashboard'
        |    ELSE 'News' END AS object_provides,
        |  CASE WHEN doc_id % 8 = 3 THEN 'Parent ' || doc_id END AS spatial,
        |  CASE WHEN doc_id % 8 IN (0, 1) THEN 'EU27' ELSE 'unknown' END AS places,
        |  'published' AS workflow_state,
        |  'fise' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(CASE WHEN doc_id % 8 = 3 THEN 2 ELSE 1 END AS BIGINT) AS items_count_object_provides
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the discomap site pipeline: forced published Page titled from the
    // scraped html, climatechange/atlas URL-family topics and
    // home-vs-map objectProvides, issued from modified.
    "site_discomap" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Disco ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents),
        |$ftCtes
        |SELECT doc_id,
        |  'Disco ' || doc_id AS title,
        |  '2024-01-0' || (doc_id % 9 + 1) AS issued,
        |  CASE WHEN doc_id % 5 IN (0, 1)
        |         THEN 'Climate change adaptation|Climate change mitigation'
        |       WHEN doc_id % 5 IN (2, 3)
        |         THEN 'Environmental health impacts' END AS topic,
        |  CASE doc_id % 5 WHEN 0 THEN 'Webpage'
        |    WHEN 1 THEN 'Map (interactive)'
        |    WHEN 2 THEN 'Webpage'
        |    WHEN 3 THEN 'Map (interactive)' END AS object_provides,
        |  'published' AS workflow_state,
        |  'discomap' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(CASE WHEN doc_id % 5 = 4 THEN NULL ELSE 1 END AS BIGINT) AS items_count_object_provides,
        |  CAST(CASE WHEN doc_id % 5 IN (0, 1) THEN 2
        |            WHEN doc_id % 5 IN (2, 3) THEN 1 END AS BIGINT) AS items_count_topic
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the ias site pipeline: simple-site shape + the european-statistics
    // Map-vs-Dashboard split.
    "site_ias" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 5 = 0 THEN 'Map of s' || doc_id
        |         ELSE 'Title ' || doc_id END AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 5 <> 4),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 5 WHEN 0 THEN 'Map (interactive)'
        |    WHEN 1 THEN 'Dashboard'
        |    WHEN 2 THEN 'Webpage'
        |    ELSE 'News' END AS object_provides,
        |  'biodiversity' AS themes,
        |  'published' AS workflow_state,
        |  'ias' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the flagship eea site pipeline: the Fiche parent-duplicate Dice
    // gate (identical descriptions drop at dice 1.0 > 0.2; disjoint ones
    // keep at 0.0 and map to Briefing), the post-normalization
    // English-FAQ drop with the language normMissing fill, glossary-term
    // raw description/source, the duplicate-info Briefing append.
    "site_eea" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 7 NOT IN (1, 5)),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 7 WHEN 0 THEN 'Webpage'
        |    WHEN 2 THEN 'Briefing'
        |    WHEN 3 THEN 'Glossary term'
        |    WHEN 4 THEN 'FAQ'
        |    ELSE 'Webpage|Briefing' END AS object_provides,
        |  CASE WHEN doc_id % 7 = 4 THEN 'fr' ELSE 'en' END AS language,
        |  CASE WHEN doc_id % 7 = 3 THEN 'Term desc ' || doc_id END AS term_description,
        |  CASE WHEN doc_id % 7 = 3 THEN 'EEA glossary' END AS term_source,
        |  'published' AS workflow_state,
        |  'eea' AS cluster_name,
        |  CASE doc_id % 7
        |    WHEN 2 THEN 'Alpha beta gamma ' || doc_id
        |    WHEN 3 THEN 'Term desc ' || doc_id
        |    ELSE array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ')
        |  END AS description,
        |  CAST(CASE WHEN doc_id % 7 = 6 THEN 2 ELSE 1 END AS BIGINT) AS items_count_object_provides
        |FROM ft ORDER BY doc_id""".stripMargin,
    // industry + cab in one result: same generic site shape, opposite
    // admission (industry whitelists Document/Page; cab's empty whitelist
    // admits all, unmapped types passing through).
    "site_simple" ->
      """WITH ind AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 IN (0, 1) THEN 'Webpage' END AS object_provides,
        |    'industry' AS themes, 'industry' AS cluster_name,
        |    'published' AS workflow_state,
        |    CAST(1 AS BIGINT) AS items_count_object_provides
        |  FROM documents
        |  WHERE doc_id % 3 <> 2),
        |cab AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 IN (0, 1) THEN 'Webpage'
        |         ELSE 'Collection' END AS object_provides,
        |    CAST(NULL AS VARCHAR) AS themes, 'cab' AS cluster_name,
        |    'published' AS workflow_state,
        |    CAST(1 AS BIGINT) AS items_count_object_provides
        |  FROM documents)
        |SELECT * FROM (SELECT * FROM ind UNION ALL SELECT * FROM cab)
        |ORDER BY cluster_name, doc_id""".stripMargin,
    // the wise_freshwater site pipeline: country-profile spatial=title,
    // Webpage-only rule re-resolution, lone-Data-set → Webpage collapse,
    // the Measure exclude flag, bep code-prefix strip, country →
    // wise_country, Measure description from measure_summary html.
    "site_wise_freshwater" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 6 <> 5),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'Topic page'
        |    WHEN 1 THEN 'Country fact sheet'
        |    WHEN 2 THEN 'Measure'
        |    WHEN 3 THEN 'Webpage'
        |    ELSE 'Briefing' END AS object_provides,
        |  CASE WHEN doc_id % 6 = 1 THEN 'Title ' || doc_id
        |       ELSE 'Rhine' END AS spatial,
        |  CASE WHEN doc_id % 6 = 2 THEN 'True' END AS exclude_from_globalsearch,
        |  'Flood regulation|Other impact' AS biophysical_impacts,
        |  'Water purification' AS ecosystem_services,
        |  'Good status' AS policy_objectives,
        |  'WFD' AS legislative_reference,
        |  'AT' AS wise_country,
        |  'published' AS workflow_state,
        |  'wise-freshwater' AS cluster_name,
        |  CASE WHEN doc_id % 6 = 2 THEN 'Measure summary ' || doc_id
        |       ELSE array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ')
        |  END AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides,
        |  CAST(1 AS BIGINT) AS items_count_policy_objectives
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the fise_resource site pipeline: resource_type → objectProvides raw,
    // geo labels with the Kosovo second-pass map, keywords/year/topic
    // renames, forced update frequency.
    "site_fise_resource" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'Dataset' WHEN 1 THEN 'Map'
        |    WHEN 2 THEN 'Document' ELSE 'Report' END AS object_provides,
        |  CASE WHEN doc_id % 2 = 0 THEN 'Kosovo|Italy'
        |       ELSE 'Spain' END AS country,
        |  's1|s2' AS keywords,
        |  CASE WHEN doc_id % 3 = 0 THEN '2015' END AS publicationYear,
        |  'As needed' AS update_frequency_value,
        |  'forest' AS topic,
        |  'published' AS workflow_state,
        |  'fise_sdi' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS BIGINT) AS items_count_country,
        |  CAST(1 AS BIGINT) AS items_count_topic
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the copernicus_insitu site pipeline: five taxonomy fan-outs + the
    // preview-image path.
    "site_insitu" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'Webpage' WHEN 1 THEN 'Webpage'
        |    WHEN 2 THEN 'News' ELSE 'File' END AS object_provides,
        |  'State of play' AS taxonomy_report_category,
        |  'CLMS' AS taxonomy_copernicus_components,
        |  'Atmosphere' AS taxonomy_copernicus_themes,
        |  'EEA' AS data_providers_list,
        |  'Land|Marine' AS copernicus_services,
        |  'http://img/' || doc_id || '.png' AS insitu_preview_image,
        |  'published' AS workflow_state,
        |  'copernicus_insitu' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides,
        |  CAST(2 AS BIGINT) AS items_count_copernicus_services
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the copernicus_land site pipeline: technical-library taxonomy
    // facets ('#' leaves, '»' groups first-deduped), file size/version
    // defaults, the TechnicalLibrary issued/year date chain.
    "site_land" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'Technical library'
        |    WHEN 1 THEN 'Webpage' WHEN 2 THEN 'Webpage'
        |    ELSE 'File' END AS object_provides,
        |  'Products » Global|Products » Local|Docs » Manuals' AS library_categories_values,
        |  'Products|Docs' AS library_categories_facet,
        |  CAST(CASE WHEN doc_id % 2 = 0 THEN 1024 ELSE 0 END AS BIGINT) AS file_size,
        |  CASE WHEN doc_id % 3 = 0 THEN 'v2' ELSE '' END AS version,
        |  CASE WHEN doc_id % 4 = 0 THEN '2020-05-05' END AS issued,
        |  CASE WHEN doc_id % 4 = 0 THEN '2020-05-05' END AS year,
        |  'published' AS workflow_state,
        |  'copernicus_land' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides,
        |  CAST(3 AS BIGINT) AS items_count_library_categories_values
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the eionet site pipeline: per-ETC topic terms by path segment,
    // issued = publication_date ?? issued, etc_report → Report.
    "site_eionet" ->
      s"""WITH base AS (
        |  SELECT doc_id, text, 'Title ' || doc_id AS title,
        |    'summary text' AS summary
        |  FROM documents
        |  WHERE doc_id % 6 <> 5),
        |$ftCtes
        |SELECT doc_id,
        |  CASE doc_id % 6 WHEN 0 THEN 'Webpage' WHEN 1 THEN 'Report'
        |    WHEN 2 THEN 'File' WHEN 3 THEN 'Webpage'
        |    ELSE 'News' END AS object_provides,
        |  CASE doc_id % 6 WHEN 0 THEN 'term4' WHEN 1 THEN 'term11|term14'
        |    WHEN 4 THEN 'term10' END AS topic,
        |  CASE doc_id % 6 WHEN 0 THEN '2022-02-02'
        |    WHEN 1 THEN '2021-01-01' END AS issued,
        |  'published' AS workflow_state,
        |  'etc' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(1 AS BIGINT) AS items_count_object_provides,
        |  CAST(CASE doc_id % 6 WHEN 0 THEN 1 WHEN 1 THEN 2
        |    WHEN 4 THEN 1 END AS BIGINT) AS items_count_topic
        |FROM ft ORDER BY doc_id""".stripMargin,
    // url → site routing: longest PROPER prefix wins (the full url is
    // never a candidate, so an exact base url resolves to its parent
    // site); unknown hosts map to ''.
    "site_for_url" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 4 = 0 THEN 'https://noise.eea.europa.eu/page/' || doc_id
        |       WHEN doc_id % 4 = 1 THEN 'https://water.europa.eu/freshwater/m/' || doc_id
        |       WHEN doc_id % 4 = 2 THEN 'https://water.europa.eu/freshwater'
        |       ELSE 'https://other.example.eu/d/' || doc_id END AS url,
        |  CASE WHEN doc_id % 4 = 0 THEN 'noise'
        |       WHEN doc_id % 4 = 1 THEN 'wise'
        |       WHEN doc_id % 4 = 2 THEN 'water'
        |       ELSE '' END AS site_id
        |FROM documents ORDER BY doc_id""".stripMargin,
    // SDI series child assembly: every third doc composes the next two
    // (one listed twice — keep-first dedup; one dangling id — drops).
    // The oracle resolves each fixed child slot with a LEFT JOIN;
    // concat_ws skips the NULLs of unresolved slots.
    "sdi_children" ->
      """WITH docs AS (
        |  SELECT doc_id, 'md-' || doc_id AS mid,
        |    '2021-0' || (doc_id % 9 + 1) || '-01' AS change_date
        |  FROM documents),
        |resolved AS (
        |  SELECT d.doc_id, d.mid,
        |    x1.mid AS k1, x1.change_date AS cd1,
        |    x2.mid AS k2, x2.change_date AS cd2
        |  FROM docs d
        |  LEFT JOIN docs x1 ON d.doc_id % 3 = 0 AND x1.doc_id = d.doc_id + 1
        |  LEFT JOIN docs x2 ON d.doc_id % 3 = 0 AND x2.doc_id = d.doc_id + 2)
        |SELECT doc_id, mid AS metadataIdentifier,
        |  concat_ws('|', k1, k2) AS child_ids,
        |  concat_ws('|', cd1, cd2) AS child_change_dates,
        |  CAST(CASE WHEN k1 IS NULL THEN 0 ELSE 1 END +
        |       CASE WHEN k2 IS NULL THEN 0 ELSE 1 END AS BIGINT) AS children_count
        |FROM resolved ORDER BY doc_id""".stripMargin,
    // the noise site pipeline: <title> scrape ("no title" join-text
    // fallback + removeEmpty NULL on titleless pages), forced
    // Page/published, fulltext assembly (same CTE shape as site_bise),
    // constant objectProvides/topic/issued stamps, counts.
    "site_noise" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 4 = 0 THEN '' ELSE 'Noise map ' || doc_id END AS title,
        |    CASE WHEN doc_id % 3 = 0 THEN ''
        |         ELSE '<p>Summary ' || doc_id || '</p>' END AS summary
        |  FROM documents),
        |ft0 AS (
        |  SELECT *,
        |    text || chr(10) || chr(10) ||
        |      CASE WHEN title = '' THEN 'no title' ELSE title END ||
        |      '.' || chr(10) || chr(10) AS t0,
        |    trim(regexp_replace(summary, '<.*?>', '', 'g')) AS c1
        |  FROM base),
        |ft1 AS (
        |  SELECT *, CASE WHEN length(c1) > 0 AND NOT ends_with(c1, '.')
        |                 THEN c1 || '.' ELSE c1 END AS x1
        |  FROM ft0),
        |ft AS (
        |  SELECT *, CASE WHEN length(x1) > 0 AND NOT contains(t0, x1)
        |                 THEN t0 || x1 || chr(10) || chr(10) ELSE t0 END AS ft_raw
        |  FROM ft1)
        |SELECT doc_id,
        |  'Webpage|Map (interactive)' AS object_provides,
        |  'Noise' AS topic,
        |  'published' AS workflow_state,
        |  'noise' AS cluster_name,
        |  CASE WHEN title = '' THEN NULL ELSE title END AS title,
        |  '2021-07-01T13:47:12.000Z' AS issued,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(2 AS BIGINT) AS items_count_object_provides,
        |  CAST(1 AS BIGINT) AS items_count_topic
        |FROM ft ORDER BY doc_id""".stripMargin,
    // the bise site pipeline: admission → workflow → fulltext → content
    // types (normObj + location rules, last-match-wins incl. the glob
    // covering its own exact root) → factsheet pairing → description
    // fallback → counts. Fulltext assembly mirrors the norm_pipeline CTEs.
    "site_bise" ->
      s"""WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 4 = 0 THEN 'Page'
        |         WHEN doc_id % 4 = 1 THEN 'Document'
        |         ELSE 'bise_factsheet' END AS type_raw,
        |    CASE WHEN doc_id % 7 = 0 THEN NULL ELSE 'published' END AS review_state,
        |    'Title ' || doc_id AS title,
        |    CASE WHEN doc_id % 3 = 0 THEN ''
        |         ELSE '<p>Summary ' || doc_id || '</p>' END AS summary
        |  FROM documents
        |  WHERE doc_id % 4 <> 3),
        |$ftCtes
        |SELECT doc_id,
        |  CASE WHEN type_raw = 'bise_factsheet' THEN 'Country fact sheet|Dashboard'
        |       WHEN doc_id % 5 IN (0, 1, 3) THEN 'Topic page|Webpage'
        |       ELSE 'Webpage' END AS object_provides,
        |  CASE WHEN type_raw = 'bise_factsheet' THEN 'Title ' || doc_id END AS spatial,
        |  CASE WHEN review_state IS NULL THEN 'missing' ELSE review_state END AS workflow_state,
        |  'bise' AS cluster_name,
        |  array_to_string(list_slice(string_split(trim(ft_raw), ' '), 1, 100), ' ') AS description,
        |  CAST(CASE WHEN type_raw = 'bise_factsheet' OR doc_id % 5 IN (0, 1, 3)
        |       THEN 2 ELSE 1 END AS BIGINT) AS items_count_object_provides
        |FROM ft ORDER BY doc_id""".stripMargin,
    "dedup_cluster" ->
      """WITH e AS (
        |  SELECT doc_id AS src, doc_id - doc_id % 5 AS dst
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT doc_id, doc_id - 5 FROM documents
        |  WHERE doc_id % 35 = 0 AND doc_id >= 5),
        |u AS (SELECT src, dst FROM e UNION SELECT dst, src FROM e),
        |r AS (
        |  WITH RECURSIVE reach(id, c) AS (
        |    SELECT src AS id, src AS c FROM u
        |    UNION
        |    SELECT u.dst, reach.c FROM reach JOIN u ON u.src = reach.id)
        |  SELECT id, min(c) AS cluster_id FROM reach GROUP BY id)
        |SELECT id AS doc_id, cluster_id, id = cluster_id AS is_canonical,
        |  true AS converged
        |FROM r ORDER BY doc_id""".stripMargin,
    // crawl_rank: 3 unrolled PageRank power iterations. Every float op
    // mirrors the Spark expression tree in DOUBLE (DuckDB bare numeric
    // literals are DECIMAL — each is CAST so both engines run the same
    // IEEE ops): init 1.0/N; rank' = (1-d)/N + d*(contrib + dm/N) with
    // dm = dangling mass (docs ≡9 mod 10 emit no edges by construction).
    "crawl_rank" ->
      """WITH cnt AS (SELECT count(*) AS n, min(doc_id) AS mn FROM documents),
        |e0 AS (
        |  SELECT doc_id AS src, mn + ((doc_id - mn) * 31 + 7) % n AS dst
        |  FROM documents, cnt WHERE doc_id % 10 <> 9
        |  UNION ALL
        |  SELECT doc_id AS src, mn + ((doc_id - mn) * 17 + 3) % n AS dst
        |  FROM documents, cnt WHERE doc_id % 10 <> 9),
        |edges AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
        |nodes AS (SELECT src AS id FROM edges UNION SELECT dst FROM edges),
        |nn AS (SELECT count(*) AS nN FROM nodes),
        |odeg AS (SELECT src, count(*) AS odeg FROM edges GROUP BY src),
        |lw AS (SELECT e.src, e.dst, o.odeg FROM edges e JOIN odeg o ON e.src = o.src),
        |r0 AS (SELECT id, CAST(1.0 AS DOUBLE) / nN AS pr FROM nodes, nn),
        |d1 AS (SELECT coalesce(sum(pr), CAST(0.0 AS DOUBLE)) AS dm FROM r0
        |       WHERE id NOT IN (SELECT src FROM odeg)),
        |c1 AS (SELECT lw.dst AS id, sum(r.pr / lw.odeg) AS c
        |       FROM lw JOIN r0 r ON lw.src = r.id GROUP BY lw.dst),
        |r1 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nN
        |         + CAST(0.85 AS DOUBLE) * (coalesce(c.c, CAST(0.0 AS DOUBLE)) + dm / nN) AS pr
        |       FROM nodes n CROSS JOIN nn CROSS JOIN d1 LEFT JOIN c1 c ON n.id = c.id),
        |d2 AS (SELECT coalesce(sum(pr), CAST(0.0 AS DOUBLE)) AS dm FROM r1
        |       WHERE id NOT IN (SELECT src FROM odeg)),
        |c2 AS (SELECT lw.dst AS id, sum(r.pr / lw.odeg) AS c
        |       FROM lw JOIN r1 r ON lw.src = r.id GROUP BY lw.dst),
        |r2 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nN
        |         + CAST(0.85 AS DOUBLE) * (coalesce(c.c, CAST(0.0 AS DOUBLE)) + dm / nN) AS pr
        |       FROM nodes n CROSS JOIN nn CROSS JOIN d2 LEFT JOIN c2 c ON n.id = c.id),
        |d3 AS (SELECT coalesce(sum(pr), CAST(0.0 AS DOUBLE)) AS dm FROM r2
        |       WHERE id NOT IN (SELECT src FROM odeg)),
        |c3 AS (SELECT lw.dst AS id, sum(r.pr / lw.odeg) AS c
        |       FROM lw JOIN r2 r ON lw.src = r.id GROUP BY lw.dst),
        |r3 AS (SELECT n.id,
        |         (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nN
        |         + CAST(0.85 AS DOUBLE) * (coalesce(c.c, CAST(0.0 AS DOUBLE)) + dm / nN) AS pr
        |       FROM nodes n CROSS JOIN nn CROSS JOIN d3 LEFT JOIN c3 c ON n.id = c.id)
        |SELECT id, floor(pr * 1000000.0 + 0.5) / 1000000.0 AS rank FROM r3 ORDER BY id""".stripMargin,
    "graph_obligations" ->
      """WITH ids AS (SELECT doc_id FROM documents),
        |links AS (SELECT 'obl' || doc_id AS obligation,
        |                 'instr' || (doc_id % 20) AS instrument FROM ids),
        |instr AS (SELECT 'instr' || doc_id AS instrument FROM ids WHERE doc_id < 20),
        |labels AS (SELECT 'instr' || doc_id AS instrument,
        |                  'Instrument ' || doc_id AS label
        |           FROM ids WHERE doc_id < 20 AND doc_id % 3 <> 0),
        |idents AS (SELECT 'instr' || doc_id AS instrument,
        |                  'ID-' || doc_id AS identifier
        |           FROM ids WHERE doc_id < 20 AND doc_id % 2 = 0)
        |SELECT l.obligation, l.instrument, lb.label, idf.identifier
        |FROM links l
        |JOIN instr i USING (instrument)
        |LEFT JOIN labels lb USING (instrument)
        |LEFT JOIN idents idf USING (instrument)
        |ORDER BY obligation, instrument""".stripMargin,
    "norm_content_type" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN '/articles/a' || (doc_id % 7)
        |         WHEN doc_id % 4 = 1 THEN '/data/maps/3/'
        |         WHEN doc_id % 4 = 2 THEN '///data/maps/' || (doc_id % 5)
        |         ELSE '/other/' || (doc_id % 3) END AS loc,
        |    CASE WHEN doc_id % 3 = 0 THEN 'Article'
        |         WHEN doc_id % 3 = 1 THEN 'News' ELSE 'Dataset' END AS type_raw,
        |    list_slice(string_split(trim(text), ' '), 1, 4) AS attrs
        |  FROM documents),
        |s AS (SELECT doc_id, loc, type_raw, attrs,
        |        regexp_replace(regexp_replace(loc, '^/+', ''), '/+$', '') AS dl FROM base),
        |ct0 AS (SELECT *,
        |        CASE WHEN dl = 'data/maps/3' THEN ['Map']
        |             WHEN starts_with(dl, 'data') THEN ['Webpage','Data']
        |             WHEN starts_with(dl, 'articles') THEN ['Article','Webpage']
        |             ELSE ['Webpage'] END AS ct FROM s),
        |ct1 AS (SELECT *, CASE WHEN list_contains(ct, 'Webpage') AND len(ct) > 1
        |             THEN list_filter(ct, x -> x <> 'Webpage') ELSE ct END AS ctw FROM ct0),
        |ct2 AS (SELECT *, CASE WHEN len(list_filter(attrs, x -> lower(x) = 'data')) > 0
        |             THEN CASE WHEN list_contains(ctw, 'Dataset') THEN ctw
        |                       ELSE ctw || ['Dataset'] END
        |             ELSE ctw END AS ctd FROM ct1),
        |ct3 AS (SELECT *, CASE WHEN len(list_filter(attrs, x -> lower(x) = 'report')) > 0
        |             THEN CASE WHEN list_contains(ctd, 'Report') THEN ctd
        |                       ELSE ctd || ['Report'] END
        |             ELSE ctd END AS ctf FROM ct2)
        |SELECT doc_id, loc,
        |  array_to_string(ctf, '|') AS object_provides,
        |  (type_raw = 'Article') OR (type_raw <> 'News') AS admitted
        |FROM ct3 ORDER BY doc_id""".stripMargin,
    "norm_join_text" ->
      """WITH base AS (
        |  SELECT doc_id, text,
        |    CASE WHEN doc_id % 4 = 0 THEN NULL
        |         WHEN doc_id % 4 = 1 THEN ''
        |         ELSE 'Title ' || doc_id END AS title,
        |    CASE WHEN doc_id % 3 = 0 THEN ''
        |         ELSE '<p>Summary for doc ' || doc_id || '</p>' END AS summary,
        |    CASE WHEN doc_id % 3 = 0 THEN ''
        |         ELSE 'Summary for doc ' || doc_id END AS abstract_txt
        |  FROM documents),
        |t0 AS (
        |  SELECT doc_id, summary, abstract_txt,
        |    text || chr(10) || chr(10) ||
        |    (CASE WHEN title IS NULL OR title = '' THEN 'no title' ELSE title END) ||
        |    '.' || chr(10) || chr(10) AS t
        |  FROM base),
        |d1 AS (
        |  SELECT doc_id, abstract_txt, t,
        |    CASE WHEN length(c1) > 0 AND NOT ends_with(c1, '.') THEN c1 || '.' ELSE c1 END AS x1
        |  FROM (SELECT doc_id, abstract_txt, t,
        |          trim(regexp_replace(summary, '<.*?>', '', 'g')) AS c1 FROM t0)),
        |t1 AS (
        |  SELECT doc_id, abstract_txt,
        |    CASE WHEN length(x1) > 0 AND NOT contains(t, x1)
        |         THEN t || x1 || chr(10) || chr(10) ELSE t END AS t
        |  FROM d1),
        |d2 AS (
        |  SELECT doc_id, t,
        |    CASE WHEN length(c2) > 0 AND NOT ends_with(c2, '.') THEN c2 || '.' ELSE c2 END AS x2
        |  FROM (SELECT doc_id, t, trim(regexp_replace(abstract_txt, '<.*?>', '', 'g')) AS c2 FROM t1))
        |SELECT doc_id,
        |  CASE WHEN length(x2) > 0 AND NOT contains(t, x2)
        |       THEN t || x2 || chr(10) || chr(10) ELSE t END AS fulltext
        |FROM d2 ORDER BY doc_id""".stripMargin,
    "norm_black_map" ->
      """SELECT doc_id,
        |  array_to_string(list_filter(list_slice(string_split(trim(text), ' '), 1, 5),
        |    x -> x NOT IN ('the','a','and','of','to','data')), '|') AS tags_clean,
        |  CASE WHEN lang IN ('zh','ru') THEN NULL ELSE lang END AS lang_clean
        |FROM documents ORDER BY doc_id""".stripMargin,
    "search_match_topk" ->
      """WITH s AS (
        |  SELECT doc_id,
        |    floor((len(list_filter(string_split(trim(text),' '), x -> x = 'query'))
        |         + len(list_filter(string_split(trim(text),' '), x -> x = 'data'))
        |         + len(list_filter(string_split(trim(text),' '), x -> x = 'merge')))
        |      / CAST(len(string_split(trim(text),' ')) AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM documents)
        |SELECT doc_id, score FROM s WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // BM25 with k1=1.2, b=0.75 — formula structured EXACTLY like the Spark
    // expression tree (same association order, constants as the same summed
    // expressions) so the rounded doubles hash identically.
    "search_bm25" ->
      """WITH st AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(len(string_split(trim(text),' '))) AS DOUBLE)
        |      / count(*) AS avgdl,
        |    sum(CASE WHEN list_contains(string_split(trim(text),' '), 'query')
        |        THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN list_contains(string_split(trim(text),' '), 'data')
        |        THEN 1 ELSE 0 END) AS df1,
        |    sum(CASE WHEN list_contains(string_split(trim(text),' '), 'merge')
        |        THEN 1 ELSE 0 END) AS df2
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x = 'query')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x = 'data')) AS DOUBLE) AS tf1,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x = 'merge')) AS DOUBLE) AS tf2,
        |    CAST(len(string_split(trim(text),' ')) AS DOUBLE) AS dl
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, floor((
        |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |        * (tf0 * (1.2 + 1.0)) / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |        * (tf1 * (1.2 + 1.0)) / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))
        |    + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5) / (CAST(df2 AS DOUBLE) + 0.5))
        |        * (tf2 * (1.2 + 1.0)) / (tf2 + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM d, st)
        |SELECT doc_id, score FROM s WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // multi_match most_fields: per-field BM25 (per-field df and avgdl), each
    // field's term-sum scaled by its boost, summed — association mirrors the
    // Spark tree: (t0 + t1) * boost per field, fields left-to-right.
    "multi_match" ->
      """WITH d0 AS (
        |  SELECT doc_id, text,
        |    array_to_string(list_slice(string_split(trim(text), ' '), 1, 4), ' ') AS title
        |  FROM documents),
        |d AS (
        |  SELECT doc_id,
        |    string_split(trim(title), ' ') AS ttoks,
        |    string_split(trim(text), ' ') AS xtoks
        |  FROM d0),
        |st AS (
        |  SELECT count(*) AS n_docs,
        |    sum(len(ttoks)) AS sum_dl_title,
        |    sum(CASE WHEN list_contains(ttoks, 'data') THEN 1 ELSE 0 END) AS df_title_0,
        |    sum(CASE WHEN list_contains(ttoks, 'merge') THEN 1 ELSE 0 END) AS df_title_1,
        |    sum(len(xtoks)) AS sum_dl_text,
        |    sum(CASE WHEN list_contains(xtoks, 'data') THEN 1 ELSE 0 END) AS df_text_0,
        |    sum(CASE WHEN list_contains(xtoks, 'merge') THEN 1 ELSE 0 END) AS df_text_1
        |  FROM d),
        |s AS (
        |  SELECT doc_id, floor((
        |    (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_title_0 AS DOUBLE) + 0.5) / (CAST(df_title_0 AS DOUBLE) + 0.5))
        |       * (CAST(len(list_filter(ttoks, x -> x = 'data')) AS DOUBLE) * (1.2 + 1.0))
        |       / (CAST(len(list_filter(ttoks, x -> x = 'data')) AS DOUBLE)
        |          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ttoks) AS DOUBLE) / (CAST(sum_dl_title AS DOUBLE) / n_docs)))
        |     + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_title_1 AS DOUBLE) + 0.5) / (CAST(df_title_1 AS DOUBLE) + 0.5))
        |       * (CAST(len(list_filter(ttoks, x -> x = 'merge')) AS DOUBLE) * (1.2 + 1.0))
        |       / (CAST(len(list_filter(ttoks, x -> x = 'merge')) AS DOUBLE)
        |          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(ttoks) AS DOUBLE) / (CAST(sum_dl_title AS DOUBLE) / n_docs)))) * 3.0
        |    +
        |    (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_text_0 AS DOUBLE) + 0.5) / (CAST(df_text_0 AS DOUBLE) + 0.5))
        |       * (CAST(len(list_filter(xtoks, x -> x = 'data')) AS DOUBLE) * (1.2 + 1.0))
        |       / (CAST(len(list_filter(xtoks, x -> x = 'data')) AS DOUBLE)
        |          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(xtoks) AS DOUBLE) / (CAST(sum_dl_text AS DOUBLE) / n_docs)))
        |     + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df_text_1 AS DOUBLE) + 0.5) / (CAST(df_text_1 AS DOUBLE) + 0.5))
        |       * (CAST(len(list_filter(xtoks, x -> x = 'merge')) AS DOUBLE) * (1.2 + 1.0))
        |       / (CAST(len(list_filter(xtoks, x -> x = 'merge')) AS DOUBLE)
        |          + 1.2 * (1.0 - 0.75 + 0.75 * CAST(len(xtoks) AS DOUBLE) / (CAST(sum_dl_text AS DOUBLE) / n_docs)))) * 1.0
        |    ) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM d, st)
        |SELECT doc_id, score FROM s WHERE score > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // match_phrase: tf counts every starting position of the consecutive
    // token run (overlaps included), df = docs with tf > 0; BM25 formula
    // structured exactly like the Spark expression tree.
    "search_phrase" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks FROM documents),
        |t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(range(1, len(toks)),
        |      i -> toks[i] = 'the' AND toks[i+1] = 'data')) AS BIGINT) AS phrase_tf,
        |    len(toks) AS dln
        |  FROM d),
        |st AS (
        |  SELECT count(*) AS n_docs,
        |    CAST(sum(dln) AS DOUBLE) / count(*) AS avgdl,
        |    sum(CASE WHEN phrase_tf > 0 THEN 1 ELSE 0 END) AS df0
        |  FROM t),
        |s AS (
        |  SELECT doc_id, phrase_tf,
        |    floor((ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
        |                   / (CAST(df0 AS DOUBLE) + 0.5))
        |      * (CAST(phrase_tf AS DOUBLE) * (1.2 + 1.0))
        |      / (CAST(phrase_tf AS DOUBLE)
        |         + 1.2 * (1.0 - 0.75 + 0.75 * CAST(dln AS DOUBLE) / avgdl))) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM t, st)
        |SELECT doc_id, phrase_tf, score FROM s WHERE phrase_tf > 0
        |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    // es_query: the compiled demo search body — bool(must: match(text,
    // "data merge") BM25-scored; filter: n_chars>=120; must_not: lang=zh;
    // should: term source=src1 adds 1.0). Stats (df/avgdl) computed over
    // the WHOLE corpus before filtering, as ES index-level stats; score
    // association mirrors the compiler's tree: (t0 + t1) * boost + should.
    "es_query" ->
      """WITH st AS (
        |  SELECT count(*) AS n_docs,
        |    sum(len(string_split(trim(text),' '))) AS sum_dl,
        |    sum(CASE WHEN list_contains(string_split(trim(text),' '), 'data')
        |        THEN 1 ELSE 0 END) AS df0,
        |    sum(CASE WHEN list_contains(string_split(trim(text),' '), 'merge')
        |        THEN 1 ELSE 0 END) AS df1
        |  FROM documents),
        |d AS (
        |  SELECT doc_id, lang, source, n_chars,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x = 'data')) AS DOUBLE) AS tf0,
        |    CAST(len(list_filter(string_split(trim(text),' '), x -> x = 'merge')) AS DOUBLE) AS tf1,
        |    CAST(len(string_split(trim(text),' ')) AS DOUBLE) AS dl
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, lang, source, n_chars, tf0, tf1, floor((
        |    (ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5) / (CAST(df0 AS DOUBLE) + 0.5))
        |       * (tf0 * (1.2 + 1.0))
        |       / (tf0 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
        |     + ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5) / (CAST(df1 AS DOUBLE) + 0.5))
        |       * (tf1 * (1.2 + 1.0))
        |       / (tf1 + 1.2 * (1.0 - 0.75 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))) * 1.0
        |    + CASE WHEN source = 'src1' THEN 1.0 ELSE 0.0 END) * 1000000.0 + 0.5) / 1000000.0 AS score
        |  FROM d, st)
        |SELECT doc_id, lang, source, score FROM s
        |WHERE (tf0 > 0 OR tf1 > 0) AND n_chars >= 120 AND NOT lang = 'zh'
        |ORDER BY score DESC, doc_id LIMIT 25""".stripMargin,
    // es_agg: the compiled demo aggs body — exists filter, terms facet on
    // lang (doc_count desc, key tiebreak, 10 buckets) with an avg sub-agg.
    "es_agg" ->
      """SELECT 'by_lang' AS agg, CAST(lang AS VARCHAR) AS key,
        |  count(*) AS doc_count, floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_chars
        |FROM documents WHERE n_chars IS NOT NULL
        |GROUP BY lang ORDER BY doc_count DESC, key LIMIT 10""".stripMargin,
    "search_bool" ->
      """SELECT doc_id, lang, source,
        |  CAST(CASE WHEN source = 'src1' THEN 1 ELSE 0 END
        |     + CASE WHEN n_chars > 300 THEN 1 ELSE 0 END AS BIGINT) AS should_score
        |FROM documents
        |WHERE contains(text, 'join') AND contains(text, 'filter')
        |  AND NOT lang = 'zh' AND n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin,
    "facet_counts" ->
      """WITH u AS (
        |  SELECT 'lang' AS facet, lang AS value, count(*) AS n FROM documents GROUP BY lang
        |  UNION ALL
        |  SELECT 'source', source, count(*) FROM documents GROUP BY source),
        |r AS (SELECT facet, value, n,
        |        CAST(row_number() OVER (PARTITION BY facet ORDER BY n DESC, value) AS BIGINT) AS rnk
        |      FROM u)
        |SELECT facet, value, n, rnk FROM r WHERE rnk <= 3 ORDER BY facet, rnk""".stripMargin,
    "facet_stats" ->
      """SELECT lang, count(*) AS n, floor(avg(n_chars) * 10000.0 + 0.5) / 10000.0 AS avg_val,
        |  floor(quantile_cont(n_chars, 0.5) * 10000.0 + 0.5) / 10000.0 AS p50,
        |  floor(quantile_cont(n_chars, 0.95) * 10000.0 + 0.5) / 10000.0 AS p95
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // GK-sketch bounds contract: the oracle re-derives the group sizes and
    // the guaranteed rank windows (pure integer arithmetic, bit-identical
    // to SearchOps.facetStatsApproxBounds) and asserts within_bounds=true;
    // a hash match certifies every Spark approx value honored its
    // published ε=1/accuracy rank guarantee. accuracy=10000 here.
    "facet_stats_approx" ->
      """WITH g AS (SELECT lang, count(*) AS n, count(n_chars) AS m
        |           FROM documents GROUP BY lang)
        |SELECT lang, n, m,
        |  greatest(1, m // 2 - (m + 9999) // 10000) AS lo50,
        |  least(m, (m + 1) // 2 + (m + 9999) // 10000) AS hi50,
        |  greatest(1, (19 * m) // 20 - (m + 9999) // 10000) AS lo95,
        |  least(m, (19 * m + 19) // 20 + (m + 9999) // 10000) AS hi95,
        |  true AS within_bounds
        |FROM g ORDER BY lang""".stripMargin,
    "es_bulk_format" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 10 = 0
        |    THEN '{"update":{"_index":"documents","_id":"' || doc_id || '"}}'
        |    ELSE '{"index":{"_index":"documents","_id":"' || doc_id || '"}}' END AS action,
        |  CASE WHEN doc_id % 10 = 0
        |    THEN '{"doc":' || src || ',"doc_as_upsert":true}'
        |    ELSE src END AS source
        |FROM (SELECT doc_id,
        |        '{"doc_id":' || doc_id || ',"lang":"' || lang || '","n_chars":' || n_chars || '}' AS src
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "json_escape" ->
      """SELECT doc_id, to_json({'t': text}) AS j,
        |  json_extract_string(to_json({'t': text}), '$.t') AS rt
        |FROM documents ORDER BY doc_id""".stripMargin,
    "dedup_exact" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
        |corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id + 1000000, text || ' ' FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 2000000,
        |    coalesce(array_to_string(list_slice(string_split(trim(text),' '), 6, 100000), ' '), '')
        |    FROM base WHERE doc_id % 9 = 0),
        |h AS (SELECT doc_id, md5(LOWER_FULL(trim(text))) AS content_hash FROM corpus)
        |SELECT doc_id, content_hash,
        |  min(doc_id) OVER (PARTITION BY content_hash) AS keep_id,
        |  doc_id <> min(doc_id) OVER (PARTITION BY content_hash) AS is_dup
        |FROM h ORDER BY doc_id""".stripMargin,
    "ngram_jaccard" ->
      """WITH base AS (SELECT doc_id, lang, source, text FROM documents /*GRAFT_DOC_SAMPLE*/),
        |corpus AS (
        |  SELECT doc_id, lang, source, text FROM base
        |  UNION ALL SELECT doc_id + 1000000, lang, source, text || ' ' FROM base WHERE doc_id % 7 = 0
        |  UNION ALL SELECT doc_id + 2000000, lang, source,
        |    coalesce(array_to_string(list_slice(string_split(trim(text),' '), 6, 100000), ' '), '')
        |    FROM base WHERE doc_id % 9 = 0),
        |g AS (SELECT doc_id, lang, source,
        |        list_distinct(list_transform(range(1, len(w) - 1),
        |          i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS grams
        |      FROM (SELECT doc_id, lang, source, string_split(trim(text), ' ') AS w FROM corpus)
        |      WHERE len(w) >= 3)
        |SELECT id1, id2, jaccard FROM (
        |  SELECT a.doc_id AS id1, b.doc_id AS id2,
        |    floor(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
        |      / (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams))) * 1000000.0 + 0.5) / 1000000.0 AS jaccard
        |  FROM g a JOIN g b ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
        |WHERE jaccard >= 0.4 ORDER BY id1, id2""".stripMargin,
    "contamination_check" ->
      """WITH bench AS (
        |  SELECT array_to_string(list_slice(string_split(trim(text), ' '), 1, 12), ' ') AS phrase
        |  FROM documents WHERE doc_id % 50 = 0),
        |bg AS (
        |  SELECT DISTINCT unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || '_' || w[i+1] || '_' || w[i+2]))) AS g
        |  FROM (SELECT string_split(trim(phrase), ' ') AS w FROM bench)
        |  WHERE len(w) >= 3),
        |dg AS (
        |  SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(w) - 1),
        |           i -> w[i] || '_' || w[i+1] || '_' || w[i+2]))) AS g
        |  FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents)
        |  WHERE len(w) >= 3),
        |hits AS (SELECT doc_id, count(*) AS n_hits FROM dg JOIN bg USING (g) GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM documents d LEFT JOIN hits h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "dedup_embedding" ->
      """WITH base AS (SELECT vec_id, label,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |po AS (SELECT 100000 * ((count(*) + 99999) // 100000) AS off FROM base),
        |corpus AS (
        |  SELECT vec_id, label, v FROM base
        |  UNION ALL SELECT vec_id + (SELECT off FROM po), label,
        |    list_transform(v, x -> x * CAST(1.01 AS DOUBLE)) FROM base WHERE vec_id % 11 = 0),
        |n AS (SELECT vec_id, label, v,
        |        sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM corpus)
        |SELECT id1, id2, cos_sim FROM (
        |  SELECT a.vec_id AS id1, b.vec_id AS id2,
        |    floor(list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |  FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id)
        |WHERE cos_sim >= 0.95 ORDER BY id1, id2""".stripMargin,
    "ann_topk" ->
      """WITH base AS (SELECT vec_id,
        |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM base),
        |q AS (SELECT vec_id AS query_id, v AS qv, nrm AS qn FROM n
        |      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
        |p AS (SELECT query_id, vec_id AS neighbor_id,
        |        list_sum(list_transform(range(1, 65), i -> v[i] * qv[i])) / (nrm * qn) AS cos_raw
        |      FROM n CROSS JOIN q WHERE vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, cos_raw,
        |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS "rank"
        |      FROM p WHERE cos_raw IS NOT NULL)
        |SELECT query_id, neighbor_id, "rank", floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
        |FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank"""".stripMargin,
    "lang_id" ->
      """WITH t AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
        |s AS (SELECT doc_id,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','that'))) AS BIGINT) AS s_en,
        |  CAST(len(list_filter(w, x -> x IN ('der','die','das','und','nicht','ist','mit','ein'))) AS BIGINT) AS s_de,
        |  CAST(len(list_filter(w, x -> x IN ('le','la','les','et','est','dans','pour','une'))) AS BIGINT) AS s_fr,
        |  CAST(len(list_filter(w, x -> x IN ('el','los','las','y','es','en','para','una'))) AS BIGINT) AS s_es,
        |  CAST(len(list_filter(w, x -> x IN ('il','lo','che','e','di','per','non','alla'))) AS BIGINT) AS s_it
        |  FROM t)
        |SELECT doc_id, s_en, s_de, s_fr, s_es, s_it,
        |  CASE WHEN s_en = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'en'
        |       WHEN s_de = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'de'
        |       WHEN s_fr = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'fr'
        |       WHEN s_es = greatest(s_en,s_de,s_fr,s_es,s_it) THEN 'es'
        |       ELSE 'it' END AS pred_lang
        |FROM s ORDER BY doc_id""".stripMargin,
    // patterns are Java/RE2-portable (no lookaround); counts on the ORIGINAL
    // text, scrub order email -> ip -> phone on both sides.
    // DSIR importance selection recomputed end-to-end: hashed-bigram
    // buckets via the shared md5 recipe (CAST('0x'||substr(md5,1,8)) ==
    // Spark's conv base-16), Laplace-smoothed target/raw log-ratios,
    // per-doc score sums, the 0.75-quantile cutoff, strict-> selection.
    // bpe_pairs: same word-count → char-pair → weighted-count chain; the
    // '.'-regex char split and the '_'-joined bigram idiom match the
    // WordNgramsAll kernel exactly.
    "bpe_pairs" ->
      """WITH w AS (
        |  SELECT unnest(string_split(trim(LOWER_FULL(text)), ' ')) AS word
        |  FROM documents),
        |wc AS (
        |  SELECT word, count(*) AS wcnt FROM w WHERE word <> '' GROUP BY word),
        |ch AS (
        |  SELECT wcnt, regexp_extract_all(word, '.') AS cs FROM wc),
        |pr AS (
        |  SELECT wcnt, unnest(list_transform(range(1, len(cs)),
        |    i -> cs[i] || '_' || cs[i + 1])) AS pair
        |  FROM ch),
        |agg AS (
        |  SELECT pair, CAST(sum(wcnt) AS BIGINT) AS cnt FROM pr GROUP BY pair)
        |SELECT pair, cnt FROM agg ORDER BY cnt DESC, pair LIMIT 50""".stripMargin,
    // corpus_stats: the same one-pass per-lang aggregate; strlen counts
    // octets matching octet_length, length counts chars on both engines.
    "corpus_stats" ->
      """SELECT lang,
        |  count(*) AS docs,
        |  CAST(sum(len(string_split(trim(text), ' '))) AS BIGINT) AS tokens,
        |  CAST(sum(strlen(text)) AS BIGINT) AS bytes,
        |  floor(avg(length(text)) * 100.0 + 0.5) / 100.0 AS avg_chars,
        |  count(DISTINCT source) AS sources
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    // span_dedup: intent-level restatement — the one corpus-wide duplicate
    // span (shared sentences 2-4) survives only in the minimum doc_id; all
    // other docs lose exactly those three sentences.
    "span_dedup" ->
      """WITH m AS (SELECT min(doc_id) AS keeper FROM documents)
        |SELECT doc_id,
        |  CASE WHEN doc_id = (SELECT keeper FROM m) THEN
        |    'sent 0 of doc ' || doc_id || ' sent 1 of doc ' || doc_id ||
        |    ' shared sentence 2 shared sentence 3 shared sentence 4' ||
        |    ' sent 5 of doc ' || doc_id || ' sent 6 of doc ' || doc_id ||
        |    ' sent 7 of doc ' || doc_id
        |  ELSE
        |    'sent 0 of doc ' || doc_id || ' sent 1 of doc ' || doc_id ||
        |    ' sent 5 of doc ' || doc_id || ' sent 6 of doc ' || doc_id ||
        |    ' sent 7 of doc ' || doc_id
        |  END AS text_deduped
        |FROM documents ORDER BY doc_id""".stripMargin,
    // badwords_filter: the blocklist is the corpus's own top-5 words (both
    // engines derive it identically), hits counted per doc, zero-hit keeps.
    "badwords_filter" ->
      """WITH w AS (
        |  SELECT unnest(string_split(trim(LOWER_FULL(text)), ' ')) AS w
        |  FROM documents),
        |top5 AS (
        |  SELECT w FROM (
        |    SELECT w, count(*) AS c FROM w WHERE w <> ''
        |    GROUP BY w ORDER BY c DESC, w LIMIT 5)),
        |toks AS (
        |  SELECT doc_id, unnest(string_split(trim(LOWER_FULL(text)), ' ')) AS tok
        |  FROM documents),
        |h AS (
        |  SELECT doc_id, count(*) AS hits
        |  FROM toks JOIN top5 ON tok = w GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CAST(coalesce(h.hits, 0) AS BIGINT) AS badword_hits,
        |  coalesce(h.hits, 0) = 0 AS keep
        |FROM documents d LEFT JOIN h USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // anchor_text: same hub-link fixture, same (count desc, anchor) rank,
    // capped top anchors joined in rank order.
    "anchor_text" ->
      """WITH l AS (
        |  SELECT doc_id AS src_id,
        |    'https://hub.eu/p/' || (doc_id % 31) AS target,
        |    CASE WHEN doc_id % 3 = 0 THEN text
        |         ELSE 'label ' || (doc_id % 3) END AS anchor
        |  FROM documents),
        |tot AS (
        |  SELECT target, count(*) AS inbound_links,
        |    count(DISTINCT src_id) AS n_sources
        |  FROM l GROUP BY target),
        |c AS (
        |  SELECT target, trim(anchor) AS anchor, count(*) AS n
        |  FROM l WHERE trim(anchor) <> '' GROUP BY target, trim(anchor)),
        |r AS (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY target ORDER BY n DESC, anchor) AS rk
        |  FROM c),
        |tops AS (
        |  SELECT target, string_agg(anchor, '|' ORDER BY rk) AS top_anchors
        |  FROM r WHERE rk <= 2 GROUP BY target)
        |SELECT tot.target, CAST(tot.inbound_links AS BIGINT) AS inbound_links,
        |  CAST(tot.n_sources AS BIGINT) AS n_sources,
        |  coalesce(tops.top_anchors, '') AS top_anchors
        |FROM tot LEFT JOIN tops USING (target) ORDER BY target""".stripMargin,
    // embed_quantize: same double arithmetic in the same order (cast float
    // to double, v/scale*127, round-half-away, int) — codes must match
    // bit-for-bit, scale at 6 decimals.
    "embed_quantize" ->
      """WITH e AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
        |  FROM embeddings),
        |q AS (
        |  SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS s
        |  FROM e),
        |c AS (
        |  SELECT vec_id, s,
        |    CASE WHEN s = 0 THEN list_transform(v, x -> 0)
        |         ELSE list_transform(v, x -> CAST(round(x / s * 127, 0) AS INT))
        |    END AS codes
        |  FROM q)
        |SELECT vec_id, floor(s * 1000000.0 + 0.5) / 1000000.0 AS q_scale,
        |  array_to_string(codes, ',') AS codes,
        |  CAST(list_sum(codes) AS BIGINT) AS code_sum
        |FROM c ORDER BY vec_id""".stripMargin,
    // domain_filter: host stats recomputed per (source, doc_id%7) bucket;
    // hosts failing the bad-fraction gate, the min-docs gate, or ending in
    // -1 (the blocklist) lose every doc.
    "domain_filter" ->
      """WITH d AS (
        |  SELECT doc_id, source || '-' || (doc_id % 7) AS host,
        |    (doc_id % 10) < (doc_id % 7) AS bad
        |  FROM documents),
        |st AS (
        |  SELECT host, count(*) AS host_docs,
        |    sum(CASE WHEN bad THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE)
        |      AS host_bad_frac
        |  FROM d GROUP BY host)
        |SELECT d.doc_id, d.host, st.host_docs,
        |  floor(st.host_bad_frac * 10000.0 + 0.5) / 10000.0 AS host_bad_frac
        |FROM d JOIN st USING (host)
        |WHERE st.host_docs >= 2 AND st.host_bad_frac <= 0.5
        |  AND NOT d.host LIKE '%-1'
        |ORDER BY doc_id""".stripMargin,
    // quality_classifier: DuckDB states the identical 64-bucket model from
    // the bucket id (same md5 first-8-hex recipe), hashes the same
    // unigram+bigram features, and recomputes mean-weight → sigmoid.
    "quality_classifier" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(LOWER_FULL(text)), ' ') AS w
        |  FROM documents),
        |feats AS (
        |  SELECT doc_id, UNNEST(list_concat(w,
        |    list_transform(range(1, len(w)), i -> w[i] || '_' || w[i + 1]))) AS g
        |  FROM d),
        |hashed AS (
        |  SELECT doc_id,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS b
        |  FROM feats),
        |wt AS (
        |  SELECT b,
        |    (CAST(concat('0x', substr(md5(CAST(b AS VARCHAR)), 1, 8)) AS BIGINT)
        |       % 201 - 100) / CAST(128 AS DOUBLE) AS weight
        |  FROM (SELECT UNNEST(range(64)) AS b)),
        |sc AS (
        |  SELECT h.doc_id, sum(w.weight) / count(*) AS z
        |  FROM hashed h JOIN wt w USING (b) GROUP BY h.doc_id),
        |p AS (
        |  SELECT d.doc_id,
        |    floor(1 / (1 + exp(-(coalesce(z, 0)))) * 10000.0 + 0.5) / 10000.0 AS quality_prob
        |  FROM d LEFT JOIN sc USING (doc_id))
        |SELECT doc_id, quality_prob, quality_prob >= 0.5 AS keep
        |FROM p ORDER BY doc_id""".stripMargin,
    "dsir_select" ->
      """WITH d AS (
        |  SELECT doc_id, lang = 'en' AS is_t,
        |    string_split(trim(text), ' ') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, is_t,
        |    CAST(concat('0x', substr(md5(g), 1, 8)) AS BIGINT) % 64 AS b
        |  FROM (SELECT doc_id, is_t,
        |          UNNEST(list_transform(range(1, len(w)),
        |                                i -> w[i] || '_' || w[i + 1])) AS g
        |        FROM d)),
        |counts AS (
        |  SELECT b,
        |    sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS tcnt,
        |    count(*) AS rcnt
        |  FROM grams GROUP BY b),
        |tots AS (SELECT sum(tcnt) AS ttot, sum(rcnt) AS rtot FROM counts),
        |ratio AS (
        |  SELECT b,
        |    ln((tcnt + CAST(1 AS DOUBLE)) / (ttot + CAST(64 AS DOUBLE))) -
        |    ln((rcnt + CAST(1 AS DOUBLE)) / (rtot + CAST(64 AS DOUBLE))) AS lr
        |  FROM counts, tots),
        |scored0 AS (
        |  SELECT doc_id, floor(sum(lr) * 10000.0 + 0.5) / 10000.0 AS s
        |  FROM grams JOIN ratio USING (b) GROUP BY doc_id),
        |scored AS (
        |  SELECT d.doc_id, coalesce(s.s, CAST(0 AS DOUBLE)) AS dsir_score
        |  FROM d LEFT JOIN scored0 s USING (doc_id)),
        |cut AS (SELECT floor(quantile_cont(dsir_score, 0.75) * 10000.0 + 0.5) / 10000.0 AS c FROM scored)
        |SELECT doc_id, dsir_score, dsir_score >= c AS selected
        |FROM scored, cut ORDER BY doc_id""".stripMargin,
    // corpus-level line dedup, line-faithful: the REAL algorithm — split
    // every built doc into lines, count DISTINCT docs per line (length >=
    // 5 candidates only), lines crossing minDocs=5 vanish from every doc,
    // survivors re-join by original position. On the driver corpus this
    // reduces to the old restatement (banner + every-second-doc footer
    // hot; the 4-doc notice line and unique lines survive); on hostile
    // line-bearing text the text's OWN lines participate in the count.
    "line_dedup" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    'Accept cookies to continue' || chr(10) || text || chr(10) ||
        |    CASE WHEN doc_id % 2 = 0 THEN 'Contact us via the footer'
        |         ELSE 'Unique middle ' || doc_id END || chr(10) ||
        |    CASE WHEN doc_id < 4 THEN 'Rare notice line'
        |         ELSE 'Unique tail ' || doc_id END AS ft
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    unnest(string_split(ft, chr(10))) AS line,
        |    unnest(range(1, len(string_split(ft, chr(10))) + 1)) AS pos
        |  FROM b),
        |hot AS (
        |  SELECT line FROM l WHERE length(line) >= 5
        |  GROUP BY line HAVING count(DISTINCT doc_id) >= 5),
        |keep AS (
        |  SELECT doc_id, pos, line FROM l
        |  WHERE line NOT IN (SELECT line FROM hot)),
        |r AS (
        |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS td
        |  FROM keep GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(r.td, '') AS text_deduped
        |FROM documents d LEFT JOIN r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    "pii_scrub" ->
      """WITH b AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id || '@example-site.org' ELSE '' END ||
        |    CASE WHEN doc_id % 4 = 0 THEN ' from 10.0.' || (doc_id % 256) || '.1' ELSE '' END ||
        |    CASE WHEN doc_id % 5 = 0 THEN ' call +31 20 ' || (doc_id % 900 + 100) || ' 0' || (doc_id % 90 + 10) ELSE '' END AS text
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text, '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS BIGINT) AS n_ips,
        |  CAST(len(regexp_extract_all(text, '\+\d[\d() .-]{7,}\d')) AS BIGINT) AS n_phones,
        |  regexp_replace(
        |    regexp_replace(
        |      regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |      '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
        |    '\+\d[\d() .-]{7,}\d', '<PHONE>', 'g') AS text_scrubbed
        |FROM b ORDER BY doc_id""".stripMargin,
    // text_fix: identical planted prefix (BEL via chr(7), ZWSP via
    // chr(8203)), then the same fix chain in the same order — mojibake
    // literal replaces, NBSP chr(160) → space, zero-width strip (RE2
    // spells the class \x{200b}… where Java regex uses ​…), control
    // strip, 2+-space collapse.
    "text_fix" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0
        |      THEN 'CafÃ© â€” â€œdataâ€™ Â«xÂ»' || chr(7) || chr(8203) || '  ' || text
        |      ELSE text END AS t
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, t,
        |    replace(replace(replace(replace(replace(replace(replace(replace(
        |    replace(replace(replace(replace(replace(replace(replace(
        |      t,'â€™','’'),'â€œ','“'),'â€”','—'),'â€“','–'),'â€¦','…'),
        |      'Ã©','é'),'Ã¨','è'),'Ã¤','ä'),'Ã¶','ö'),'Ã¼','ü'),'Ã±','ñ'),
        |      'Ã§','ç'),'Â«','«'),'Â»','»'),'Â°','°') AS f0
        |  FROM base),
        |fx AS (
        |  SELECT doc_id, t,
        |    regexp_replace(
        |      regexp_replace(
        |        regexp_replace(
        |          replace(f0, chr(160), ' '),
        |          '[\x{200b}\x{200c}\x{200d}\x{feff}]', '', 'g'),
        |        '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
        |      ' {2,}', ' ', 'g') AS f
        |  FROM m)
        |SELECT doc_id, f <> t AS changed, substr(f, 1, 60) AS head,
        |  length(f) AS n_chars_fixed
        |FROM fx ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      """SELECT lang, doc_id, rk FROM (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk
        |  FROM documents) t
        |WHERE rk <= 7 ORDER BY lang, rk""".stripMargin,
    // mixture sampling: per-language quotas = floor(budget × weight), the
    // same md5 bottom-k selection as sample_stratified; the it-language
    // stratum has no weight and contributes nothing.
    "mixture_sample" ->
      """WITH r AS (
        |  SELECT lang, doc_id,
        |    CAST(row_number() OVER (PARTITION BY lang
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT) AS rk,
        |    CAST(CASE lang WHEN 'en' THEN 50 WHEN 'de' THEN 20
        |         WHEN 'fr' THEN 20 WHEN 'es' THEN 5 ELSE 0 END AS BIGINT) AS quota
        |  FROM documents)
        |SELECT lang, doc_id, rk, quota FROM r
        |WHERE rk <= quota ORDER BY lang, rk""".stripMargin,
    // shard-local contiguous packing: cumulative token offset within the
    // hash shard decides the pack; slot numbers restart per pack.
    "sequence_pack" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS n_tokens,
        |    doc_id % 8 AS shard
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens, shard,
        |    SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) AS cum
        |  FROM t),
        |p AS (
        |  SELECT doc_id, n_tokens, shard,
        |    CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS pack_id
        |  FROM c)
        |SELECT doc_id, n_tokens, shard, pack_id,
        |  CAST(row_number() OVER (PARTITION BY shard, pack_id ORDER BY doc_id)
        |       AS BIGINT) AS pack_slot
        |FROM p ORDER BY doc_id""".stripMargin,
    // CCNet bucketing with the unigram-stats LM stub: mean -ln p(word),
    // tercile cuts via quantile_cont (R-7 = Spark percentile), rounding on
    // the SCORE before the cut compare so boundary docs agree.
    "perplexity_bucket" ->
      """WITH w AS (
        |  SELECT doc_id, unnest(string_split(trim(text), ' ')) AS word
        |  FROM documents),
        |c AS (SELECT word, COUNT(*) AS cnt FROM w GROUP BY word),
        |t AS (SELECT SUM(cnt) AS total FROM c),
        |s AS (
        |  SELECT doc_id,
        |    floor(avg(-ln(cnt / CAST(total AS DOUBLE))) * 10000.0 + 0.5) / 10000.0 AS ppl_score
        |  FROM w JOIN c USING (word) CROSS JOIN t
        |  GROUP BY doc_id),
        |cuts AS (
        |  SELECT floor(quantile_cont(ppl_score, 1.0/3) * 10000.0 + 0.5) / 10000.0 AS c1,
        |         floor(quantile_cont(ppl_score, 2.0/3) * 10000.0 + 0.5) / 10000.0 AS c2
        |  FROM s)
        |SELECT doc_id, ppl_score,
        |  CASE WHEN ppl_score <= c1 THEN 'head'
        |       WHEN ppl_score <= c2 THEN 'middle'
        |       ELSE 'tail' END AS ppl_bucket
        |FROM s CROSS JOIN cuts ORDER BY doc_id""".stripMargin,
    // Gopher repetition gates: planted thrice-repeated line (fifths) and a
    // 40-token bigram run (sevenths); list histogram + map_entries compute
    // the same gram-word-chars × occurrences statistic as the Spark pivot.
    "quality_repetition" ->
      """WITH d AS (
        |  SELECT doc_id,
        |    text ||
        |    CASE WHEN doc_id % 5 = 0 THEN
        |      chr(10) || 'Call now to subscribe today' ||
        |      chr(10) || 'Call now to subscribe today' ||
        |      chr(10) || 'Call now to subscribe today' ELSE '' END ||
        |    CASE WHEN doc_id % 7 = 0 THEN
        |      chr(10) || repeat('spam ', 39) || 'spam' ELSE '' END AS dtext
        |  FROM documents),
        |l AS (
        |  SELECT doc_id,
        |    list_filter(string_split(dtext, chr(10)), x -> length(trim(x)) > 0) AS lines,
        |    string_split(trim(dtext), ' ') AS words,
        |    CAST(length(dtext) AS DOUBLE) AS total_chars
        |  FROM d),
        |ls AS (
        |  SELECT doc_id, words, total_chars,
        |    COALESCE(floor((1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines)) * 10000.0 + 0.5) / 10000.0, 0.0) AS dup_line_frac,
        |    COALESCE(floor(
        |      (list_aggregate(list_transform(lines, x -> length(x)), 'sum') -
        |       list_aggregate(list_transform(list_distinct(lines), x -> length(x)), 'sum')) /
        |      CAST(list_aggregate(list_transform(lines, x -> length(x)), 'sum') AS DOUBLE) * 10000.0 + 0.5) / 10000.0, 0.0) AS dup_line_char_frac
        |  FROM l),
        |g AS (
        |  SELECT doc_id, total_chars, dup_line_frac, dup_line_char_frac,
        |    list_max(list_transform(map_entries(list_aggregate(
        |      list_transform(range(1, len(words)),
        |        i -> words[i] || '_' || words[i+1]), 'histogram')),
        |      e -> [e.value, (length(e.key) - 1) * e.value]))[2] AS t2,
        |    list_max(list_transform(map_entries(list_aggregate(
        |      list_transform(range(1, len(words) - 1),
        |        i -> words[i] || '_' || words[i+1] || '_' || words[i+2]), 'histogram')),
        |      e -> [e.value, (length(e.key) - 2) * e.value]))[2] AS t3,
        |    list_max(list_transform(map_entries(list_aggregate(
        |      list_transform(range(1, len(words) - 2),
        |        i -> words[i] || '_' || words[i+1] || '_' || words[i+2] || '_' || words[i+3]), 'histogram')),
        |      e -> [e.value, (length(e.key) - 3) * e.value]))[2] AS t4
        |  FROM ls)
        |SELECT doc_id, dup_line_frac, dup_line_char_frac,
        |  COALESCE(floor(t2 / total_chars * 10000.0 + 0.5) / 10000.0, 0.0) AS top_2gram_frac,
        |  COALESCE(floor(t3 / total_chars * 10000.0 + 0.5) / 10000.0, 0.0) AS top_3gram_frac,
        |  COALESCE(floor(t4 / total_chars * 10000.0 + 0.5) / 10000.0, 0.0) AS top_4gram_frac,
        |  (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20 AND
        |   COALESCE(floor(t2 / total_chars * 10000.0 + 0.5) / 10000.0, 0.0) <= 0.20 AND
        |   COALESCE(floor(t3 / total_chars * 10000.0 + 0.5) / 10000.0, 0.0) <= 0.18 AND
        |   COALESCE(floor(t4 / total_chars * 10000.0 + 0.5) / 10000.0, 0.0) <= 0.16) AS repetition_keep
        |FROM g ORDER BY doc_id""".stripMargin,
    "quality_gopher" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(trim(text), ' ') AS toks, text FROM documents),
        |m AS (
        |  SELECT doc_id,
        |    CAST(len(toks) AS BIGINT) AS n_words,
        |    floor(CAST(length(trim(text)) - (len(toks) - 1) AS DOUBLE)
        |          / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS mean_word_len,
        |    floor(len(regexp_extract_all(text, '#|\.\.\.|…'))
        |          / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS symbol_ratio,
        |    floor(len(list_filter(toks, x -> regexp_matches(x, '[A-Za-z]')))
        |          / CAST(len(toks) AS DOUBLE) * 10000.0 + 0.5) / 10000.0 AS alpha_frac,
        |    CAST(len(list_filter(toks,
        |      x -> x IN ('the','a','and','of','to','in','is','that'))) AS BIGINT) AS stop_hits
        |  FROM d)
        |SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, stop_hits,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND mean_word_len >= 3.0 AND mean_word_len <= 10.0
        |   AND symbol_ratio <= 0.1 AND alpha_frac >= 0.8 AND stop_hits >= 2) AS gopher_keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "quality_score" ->
      """WITH t AS (SELECT doc_id, text, string_split(trim(text), ' ') AS w FROM documents),
        |m AS (SELECT doc_id,
        |  CAST(len(w) AS BIGINT) AS n_words,
        |  CAST(len(list_distinct(w)) AS BIGINT) AS n_distinct,
        |  CAST(len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','that'))) AS BIGINT) AS stop_hits,
        |  length(text) AS n_chars,
        |  length(text) - length(regexp_replace(text, '[^A-Za-z0-9\s]', '', 'g')) AS n_punct,
        |  length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS n_letters,
        |  length(regexp_replace(text, '[^A-Z]', '', 'g')) AS n_upper
        |  FROM t)
        |SELECT doc_id, n_words,
        |  floor(n_distinct / CAST(n_words AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS distinct_ratio,
        |  floor(stop_hits / CAST(n_words AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 AS stop_ratio,
        |  CASE WHEN n_chars > 0
        |       THEN floor(n_punct / CAST(n_chars AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS punct_ratio,
        |  CASE WHEN n_letters > 0
        |       THEN floor(n_upper / CAST(n_letters AS DOUBLE) * 1000000.0 + 0.5) / 1000000.0 END AS upper_ratio,
        |  floor((least(n_words / CAST(200 AS DOUBLE), CAST(1 AS DOUBLE)) * 0.4
        |      + (n_distinct / CAST(n_words AS DOUBLE)) * 0.3
        |      + least(stop_hits / CAST(n_words AS DOUBLE) * 5.0, CAST(1 AS DOUBLE)) * 0.3) * 10000.0 + 0.5) / 10000.0 AS quality
        |FROM m ORDER BY doc_id""".stripMargin,
    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(trim(text), ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]')) AS BIGINT) AS re_tokens,
        |  CAST(length(text) AS BIGINT) AS n_chars_text,
        |  CAST(ceil(length(text) / CAST(4 AS DOUBLE)) AS BIGINT) AS bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin
  )
}
