package graft.operators

import graft.Tables
import graft.functions.NumFns.roundHalfUp
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Search / indexing semantics — the ES query surface the reference's
  * consumers use (dags/lib/elastic.py) plus the bulk hand-off format
  * (logstash/pipeline/search_pipeline.conf), re-expressed as Spark plans.
  *
  * Reference semantics:
  *  - `search` (elastic.py:57) / `get_docs` (elastic.py:124): match queries
  *    with relevance ordering, `size` caps, `_source` projection.
  *  - bool queries: must / must_not / should / exists filter context
  *    (used throughout d1_sync.py and the normalizer DAGs).
  *  - facets: terms aggregations over keyword fields.
  *  - bulk format: one action line + one source line per doc; `update_only`
  *    docs route to `action: update` with `doc_as_upsert`
  *    (search_pipeline.conf:13-27).
  *
  * Scale notes: match scoring is a per-row projection over the tokenized
  * text (no shuffle); top-k collapses to TakeOrderedAndProject; facets are
  * one partial-agg shuffle per distinct facet source; the bulk formatter is
  * a pure projection that writes straight out of the scan's partitions.
  */
object SearchOps {

  // --------------------------------------------------------- search_match_topk

  /** Multi-term match with TF×(1/len) scoring: score(doc) = Σ_t tf(t) / |doc|.
    * Docs matching no term are dropped (ES `match` returns only hits).
    */
  def matchTopK(docs: DataFrame, textCol: String, terms: Seq[String], k: Int): DataFrame = {
    val toks = spaceTokens(col(textCol))
    val tfSum = terms
      .map(t => size(filter(toks, x => x === t)).cast("long"))
      .reduce(_ + _)
    docs
      .withColumn("score", roundHalfUp(tfSum / size(toks).cast("double"), 6))
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  def qSearchMatchTopK(s: SparkSession, d: String): DataFrame =
    matchTopK(Tables.documents(s, d), "text", terms = Seq("query", "data", "merge"), k = 20)
      .select("doc_id", "score")

  // -------------------------------------------------------------- search_bm25

  /** Multi-term match with BM25 scoring — what ES actually computes for a
    * `match` query (elastic.py:57 consumers rank by `_score`; Lucene's
    * BM25Similarity is the ES default since 5.x): one `match` leaf of
    * [[EsQuery.bm25]], the scorer the ES body compiler uses too.
    *
    * The corpus statistics (N, Σ|D| for avgdl, one df per query term) are a
    * SINGLE 1-row partial aggregate broadcast back onto the docs — the
    * "broadcast df table" scale shape: one stats pass + one scoring pass,
    * both full-scan-linear, no per-term shuffle, and the terms list only
    * widens the aggregate row. Top-k collapses to TakeOrderedAndProject.
    * A term present in every doc gets idf ≈ ln(1+1/(N+0.5)) ≈ 0 — rare
    * discriminative terms dominate, which is the point of upgrading from
    * TF×(1/len).
    */
  def matchBm25TopK(docs: DataFrame, textCol: String, terms: Seq[String], k: Int): DataFrame =
    bm25TopK(docs, Seq(EsQuery.Bm25Leaf(textCol, terms)), k)

  /** Rows of `docs` whose rounded BM25 score over `leaves` is > 0, top `k`
    * by (score desc, doc_id).
    */
  private def bm25TopK(docs: DataFrame, leaves: Seq[EsQuery.Bm25Leaf], k: Int): DataFrame = {
    val (withStats, score) = EsQuery.bm25(docs, leaves)
    withStats
      .withColumn("score", roundHalfUp(score, 6))
      .filter(col("score") > 0)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  def qSearchBm25(s: SparkSession, d: String): DataFrame =
    matchBm25TopK(Tables.documents(s, d), "text", terms = Seq("query", "data", "merge"), k = 20)
      .select("doc_id", "score")

  // -------------------------------------------------------------- multi_match

  /** ES `multi_match` (most_fields): one boosted `match` leaf per field,
    * summed in field order — `title^3 body` style. avgdl is per field, as
    * ES computes it; still a single broadcast 1-row aggregate and a single
    * scoring pass regardless of how many fields the query names.
    */
  def multiMatchTopK(docs: DataFrame, fields: Seq[(String, Double)],
      terms: Seq[String], k: Int): DataFrame =
    bm25TopK(docs, fields.map { case (f, boost) => EsQuery.Bm25Leaf(f, terms, boost = boost) }, k)

  /** queries() wrapper: title^3 + text, title synthesized from each doc's
    * first four words so term hits overlap both fields deterministically.
    */
  def qMultiMatch(s: SparkSession, d: String): DataFrame =
    multiMatchTopK(
      Tables.documents(s, d)
        .select(col("doc_id"), col("text"),
          array_join(slice(spaceTokens(col("text")), 1, 4), " ").as("title")),
      fields = Seq("title" -> 3.0, "text" -> 1.0),
      terms = Seq("data", "merge"), k = 20)
      .select("doc_id", "score")

  // ------------------------------------------------------------- search_phrase

  /** ES `match_phrase` (slop 0): a document matches only where the query
    * terms appear as a CONSECUTIVE token run — one `match_phrase` leaf of
    * [[EsQuery.bm25]], the run playing the single BM25 term: tf = run
    * occurrences (native codegen'd `CountTokenRun` kernel, overlapping
    * runs counted, output as `phrase_tf`), df = documents containing the
    * run at least once. Same scale shape as [[matchBm25TopK]].
    */
  def phraseTopK(docs: DataFrame, textCol: String, phrase: Seq[String], k: Int): DataFrame = {
    val leaf = EsQuery.Bm25Leaf(textCol, phrase, phrase = true)
    val (withStats, score) = EsQuery.bm25(docs, Seq(leaf))
    withStats
      .withColumn("phrase_tf", leaf.tfs.head)
      .withColumn("score", roundHalfUp(score, 6))
      .filter(col("phrase_tf") > 0)
      .orderBy(desc("score"), col("doc_id"))
      .limit(k)
  }

  def qSearchPhrase(s: SparkSession, d: String): DataFrame =
    phraseTopK(Tables.documents(s, d), "text", phrase = Seq("the", "data"), k = 20)
      .select("doc_id", "phrase_tf", "score")

  // --------------------------------------------------------------- search_bool

  /** Bool query: must (all predicates), must_not, exists; `should` clauses
    * don't filter but contribute to the score, mirroring ES filter vs query
    * context.
    */
  def boolSearch(
      docs: DataFrame,
      must: Seq[Column],
      mustNot: Seq[Column],
      exists: Seq[String],
      should: Seq[Column]): DataFrame = {
    val filtered = (must ++ mustNot.map(!_) ++ exists.map(col(_).isNotNull))
      .foldLeft(docs)((df, p) => df.filter(p))
    val shouldScore =
      if (should.isEmpty) lit(0L)
      else should.map(p => when(p, 1L).otherwise(0L)).reduce(_ + _)
    filtered.withColumn("should_score", shouldScore)
  }

  def qSearchBool(s: SparkSession, d: String): DataFrame =
    boolSearch(
      Tables.documents(s, d),
      must = Seq(col("text").contains("join"), col("text").contains("filter")),
      mustNot = Seq(col("lang") === "zh"),
      exists = Seq("n_chars"),
      should = Seq(col("source") === "src1", col("n_chars") > 300))
      .select("doc_id", "lang", "source", "should_score")
      .orderBy("doc_id")

  // -------------------------------------------------------------- facet_counts

  /** Top-N terms facet over several fields at once (ES multi-field terms
    * agg). One groupBy per field (map-side partial agg), tiny ranked unions.
    */
  def facetCounts(docs: DataFrame, facetCols: Seq[String], topN: Int): DataFrame = {
    val w = Window.partitionBy("facet").orderBy(desc("n"), col("value"))
    facetCols
      .map(c =>
        docs.groupBy(col(c).as("value"))
          .agg(count(lit(1)).as("n"))
          .select(lit(c).as("facet"), col("value"), col("n")))
      .reduce(_ unionByName _)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
  }

  def qFacetCounts(s: SparkSession, d: String): DataFrame =
    facetCounts(Tables.documents(s, d), Seq("lang", "source"), topN = 3)
      .orderBy("facet", "rnk")

  // -------------------------------------------------------------- facet_stats

  /** ES terms aggregation with stats + percentiles sub-aggregations: one
    * partial-agg shuffle per facet (count/avg combine map-side; the exact
    * percentile collects per-group values — fine for facet-cardinality
    * groups, which is what a terms agg is; a metric over high-cardinality
    * keys would use approx_percentile instead, trading the oracle for
    * scale). Exact `percentile` uses the same linear-interpolation
    * definition (type R-7) as DuckDB's `quantile_cont`, so results
    * hash-match the oracle.
    */
  def facetStats(docs: DataFrame, facetCol: String, valueCol: String): DataFrame =
    docs.groupBy(col(facetCol))
      .agg(
        count(lit(1)).as("n"),
        roundHalfUp(avg(col(valueCol)), 4).as("avg_val"),
        roundHalfUp(percentile(col(valueCol), lit(0.5)), 4).as("p50"),
        roundHalfUp(percentile(col(valueCol), lit(0.95)), 4).as("p95"))

  def qFacetStats(s: SparkSession, d: String): DataFrame =
    facetStats(Tables.documents(s, d), "lang", "n_chars")
      .orderBy("lang")

  /** The scale twin of [[facetStats]]: ES `percentiles` is t-digest
    * APPROXIMATE — and at 100 TB an exact per-group percentile (a per-group
    * sort / full value collection) is the wrong plan for high-cardinality
    * or huge groups. `approx_percentile` (Greenwald-Khanna) keeps the
    * aggregation a bounded-memory partial agg: map-side sketches combine,
    * nothing per-group ever materializes. `accuracy` trades sketch size for
    * error (ε = 1/accuracy relative rank error; the default 10000 is
    * exact for groups under 10k values).
    *
    * Which to use: the exact form when groups are facet-sized (a terms agg
    * over languages/sources) and an oracle must hash-match; this form when
    * the group key is high-cardinality or group sizes are unbounded.
    */
  def facetStatsApprox(docs: DataFrame, facetCol: String, valueCol: String,
      accuracy: Int = 10000): DataFrame =
    docs.groupBy(col(facetCol))
      .agg(
        count(lit(1)).as("n"),
        roundHalfUp(avg(col(valueCol)), 4).as("avg_val"),
        // cast: approx_percentile preserves the input's integral type;
        // double keeps the twin schema-compatible with facetStats
        roundHalfUp(approx_percentile(col(valueCol), lit(0.5), lit(accuracy)).cast("double"), 4).as("p50"),
        roundHalfUp(approx_percentile(col(valueCol), lit(0.95), lit(accuracy)).cast("double"), 4).as("p95"))

  /** Bounds adjudication of [[facetStatsApprox]]: the GK sketch's INTERNALS
    * can't be restated in DuckDB, but its CONTRACT can. `approx_percentile
    * (v, p, accuracy)` guarantees the returned value's rank sits within
    * ε·m of the target rank (ε = 1/accuracy, m = non-null count) — see
    * Greenwald & Khanna, "Space-Efficient Online Computation of Quantile
    * Summaries" (SIGMOD '01), and Spark's `ApproximatePercentile` doc.
    *
    * This query emits, per facet: the group sizes, the guaranteed rank
    * window (pure INTEGER arithmetic on m, so it re-derives bit-identically
    * in any engine), and a `within_bounds` boolean that is true iff the
    * sketch's value's exact rank interval [lt+1, le] intersects that
    * window, for BOTH p50 and p95. The oracle twin recomputes the sizes
    * and windows from the raw data and asserts `true` — a hash match
    * therefore certifies (a) the window arithmetic cross-engine and (b)
    * that every Spark approximate value honored its published guarantee.
    *
    * The acceptance window is widened to [floor(p·m) − ⌈ε·m⌉,
    * ceil(p·m) + ⌈ε·m⌉] (clamped to [1, m]) so it contains the guaranteed
    * window under either rank-target convention; a correct sketch always
    * passes, a grossly wrong one cannot.
    *
    * Scale shape: two facet-cardinality aggregations over the corpus plus
    * one broadcast join of the tiny approx table back onto the scan —
    * both partial-agg shuffles, nothing per-group ever materializes.
    */
  def facetStatsApproxBounds(docs: DataFrame, facetCol: String, valueCol: String,
      accuracy: Int = 10000): DataFrame = {
    val f = col(facetCol)
    val v = col(valueCol)
    val approx = docs.groupBy(f).agg(
      count(lit(1)).as("n"),
      count(v).as("m"),
      approx_percentile(v, lit(0.5), lit(accuracy)).as("a50"),
      approx_percentile(v, lit(0.95), lit(accuracy)).as("a95"))
    val ranks = docs.select(f, v)
      .join(broadcast(approx.select(f, col("a50"), col("a95"))), Seq(facetCol))
      .groupBy(f).agg(
        sum(when(v < col("a50"), 1L).otherwise(0L)).as("lt50"),
        sum(when(v <= col("a50"), 1L).otherwise(0L)).as("le50"),
        sum(when(v < col("a95"), 1L).otherwise(0L)).as("lt95"),
        sum(when(v <= col("a95"), 1L).otherwise(0L)).as("le95"))
    val m = col("m")
    // ceil(ε·m) and the floor/ceil rank targets as pure integer div —
    // bit-identical in DuckDB by construction (no float rounding seam)
    val epsN = expr(s"(m + ${accuracy - 1}) div $accuracy")
    val lo50 = greatest(lit(1L), expr("m div 2") - epsN)
    val hi50 = least(m, expr("(m + 1) div 2") + epsN)
    val lo95 = greatest(lit(1L), expr("(19 * m) div 20") - epsN)
    val hi95 = least(m, expr("(19 * m + 19) div 20") + epsN)
    approx.join(ranks, Seq(facetCol), "left")
      .withColumn("lo50", lo50).withColumn("hi50", hi50)
      .withColumn("lo95", lo95).withColumn("hi95", hi95)
      .withColumn("within_bounds",
        (m === 0L) || (
          col("lt50") + 1L <= col("hi50") && col("le50") >= col("lo50") &&
          col("lt95") + 1L <= col("hi95") && col("le95") >= col("lo95")))
      .select(f, col("n"), m, col("lo50"), col("hi50"),
        col("lo95"), col("hi95"), col("within_bounds"))
  }

  /** queries() wrapper — oracle-adjudicated via the bounds contract (the
    * raw approximate values can't hash-match a foreign engine by
    * construction; the guarantee they must satisfy CAN, see
    * [[facetStatsApproxBounds]]).
    */
  def qFacetStatsApprox(s: SparkSession, d: String): DataFrame =
    facetStatsApproxBounds(Tables.documents(s, d), "lang", "n_chars")
      .orderBy("lang")

  // ------------------------------------------------------------ es_bulk_format

  /** ES bulk NDJSON action/source pairs — the Logstash hand-off
    * (search_pipeline.conf): plain docs get an `index` action; `update_only`
    * docs get an `update` action with the source wrapped in
    * `{"doc": ..., "doc_as_upsert": true}`.
    *
    * JSON is assembled with explicit concat (stable key order, no
    * float-formatting ambiguity) so the output is byte-deterministic.
    */
  def esBulkFormat(docs: DataFrame, indexName: String, idCol: String, updateOnly: Column): DataFrame = {
    val id = col(idCol)
    val action = when(
      updateOnly,
      concat(lit(s"""{"update":{"_index":"$indexName","_id":""""), id, lit("\"}}")))
      .otherwise(
        concat(lit(s"""{"index":{"_index":"$indexName","_id":""""), id, lit("\"}}")))
    docs
      .withColumn("action", action)
      .withColumn(
        "source",
        when(updateOnly, concat(lit("""{"doc":"""), col("doc_json"), lit(""","doc_as_upsert":true}""")))
          .otherwise(col("doc_json")))
  }

  def qEsBulkFormat(s: SparkSession, d: String): DataFrame = {
    val docJson = concat(
      lit("""{"doc_id":"""), col("doc_id"),
      lit(""","lang":""""), col("lang"),
      lit("""","n_chars":"""), col("n_chars"), lit("}"))
    esBulkFormat(
      Tables.documents(s, d).withColumn("doc_json", docJson),
      indexName = "documents", idCol = "doc_id",
      updateOnly = col("doc_id") % 10 === 0)
      .select("doc_id", "action", "source")
      .orderBy("doc_id")
  }
}
