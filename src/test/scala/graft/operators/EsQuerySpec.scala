package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class EsQuerySpec extends SparkSpec {
  import spark.implicits._

  private def docs = Tables.documents(spark, sfDir)

  test("compiled match equals the typed BM25 operator bit for bit") {
    val body =
      """{"query": {"match": {"text": "query data merge"}}, "size": 20,
        |"_source": ["doc_id"]}""".stripMargin
    val compiled = EsQuery.search(docs, body)
      .select("doc_id", "score").collect().toSeq
    val typed = SearchOps.matchBm25TopK(docs, "text", Seq("query", "data", "merge"), 20)
      .select("doc_id", "score").collect().toSeq
    assert(compiled == typed)
  }

  test("compiled match_phrase equals the typed phrase operator scores") {
    val body = """{"query": {"match_phrase": {"text": "the data"}}, "size": 20}"""
    val compiled = EsQuery.search(docs, body)
      .select("doc_id", "score").collect().toSeq
    val typed = SearchOps.phraseTopK(docs, "text", Seq("the", "data"), 20)
      .select("doc_id", "score").collect().toSeq
    assert(compiled == typed)
  }

  test("compiled bool.should of boosted matches equals the typed multi_match bit for bit") {
    val titled = docs.select(col("doc_id"), col("text"),
      array_join(slice(graft.functions.TextFns.spaceTokens(col("text")), 1, 4), " ").as("title"))
    val body =
      """{"query": {"bool": {"should": [
        |  {"match": {"title": {"query": "data merge", "boost": 3.0}}},
        |  {"match": {"text": "data merge"}}
        |]}}, "size": 20}""".stripMargin
    def bits(df: org.apache.spark.sql.DataFrame) = df.select("doc_id", "score").collect().toSeq
      .map(r => (r.getLong(0), java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
    val compiled = bits(EsQuery.search(titled, body))
    val typed = bits(SearchOps.multiMatchTopK(titled,
      fields = Seq("title" -> 3.0, "text" -> 1.0), terms = Seq("data", "merge"), k = 20))
    assert(compiled.nonEmpty && compiled == typed)
  }

  test("filter context: term / terms / range / exists compile to pure predicates") {
    val body =
      """{"query": {"bool": {"filter": [
        |  {"terms": {"lang": ["en", "de"]}},
        |  {"range": {"n_chars": {"gte": 100, "lt": 5000}}},
        |  {"exists": {"field": "source"}}
        |]}}, "size": 1000000}""".stripMargin
    val got = EsQuery.search(docs, body).select("doc_id").as[Long].collect().toSet
    val want = docs
      .filter(col("lang").isin("en", "de") && col("n_chars") >= 100 &&
        col("n_chars") < 5000 && col("source").isNotNull)
      .select("doc_id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // no scoring clause → no stats aggregate anywhere in the plan
    val plan = EsQuery.search(docs, body).queryExecution.optimizedPlan.toString
    assert(!plan.contains("es_n_docs"))
  }

  test("bool should alone requires minimum_should_match=1 (the ES default)") {
    val body =
      """{"query": {"bool": {"should": [
        |  {"term": {"lang": "en"}}, {"term": {"lang": "de"}}
        |]}}, "size": 1000000}""".stripMargin
    val got = EsQuery.search(docs, body)
    assert(got.select("doc_id").as[Long].collect().toSet ==
      docs.filter(col("lang").isin("en", "de")).select("doc_id").as[Long].collect().toSet)
    // explicit minimum_should_match=2 over the same clauses → impossible → empty
    val msm2 =
      """{"query": {"bool": {"should": [
        |  {"term": {"lang": "en"}}, {"term": {"lang": "de"}}
        |], "minimum_should_match": 2}}}""".stripMargin
    assert(EsQuery.search(docs, msm2).isEmpty)
  }

  test("must_not keeps docs whose field is NULL (missing field = not matched, as ES)") {
    val rows = Seq[(Long, String)]((1L, "zh"), (2L, "en"), (3L, null))
      .toDF("doc_id", "lang")
    val body =
      """{"query": {"bool": {"must_not": [{"term": {"lang": "zh"}}]}},
        |"size": 1000000}""".stripMargin
    val got = EsQuery.search(rows, body).select("doc_id").as[Long].collect().toSet
    // ES: doc 3 has no lang field, so the inner term does NOT match and the
    // doc is KEPT — SQL NOT(NULL)=NULL would silently drop it
    assert(got == Set(2L, 3L))
  }

  test("should clauses add constant score on top of must, and never filter when must present") {
    val body =
      """{"query": {"bool": {
        |  "must": [{"match_all": {}}],
        |  "should": [{"term": {"lang": "en"}}]
        |}}, "size": 1000000}""".stripMargin
    val got = EsQuery.search(docs, body).select("doc_id", "score")
      .as[(Long, Double)].collect().toMap
    val langs = docs.select("doc_id", "lang").as[(Long, String)].collect().toMap
    assert(got.size == langs.size, "should must not filter")
    got.foreach { case (id, s) =>
      assert(s == (if (langs(id) == "en") 1.0 else 0.0))
    }
  }

  test("explicit sort overrides the _score ordering") {
    val body =
      """{"query": {"match_all": {}},
        |"sort": [{"n_chars": {"order": "desc"}}], "size": 5}""".stripMargin
    val got = EsQuery.search(docs, body).select("n_chars").as[Long].collect().toSeq
    val want = docs.orderBy(desc("n_chars"), col("doc_id"))
      .select("n_chars").as[Long].limit(5).collect().toSeq
    assert(got == want)
  }

  test("aggs mode: multiple terms aggs union by name with null-fill") {
    val body =
      """{"aggs": {
        |  "by_lang": {"terms": {"field": "lang", "size": 3},
        |              "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}},
        |  "by_source": {"terms": {"field": "source", "size": 2}}
        |}}""".stripMargin
    val got = EsQuery.aggregations(docs, body)
    assert(got.columns.toSeq == Seq("agg", "key", "doc_count", "avg_chars"))
    val byAgg = got.collect().groupBy(_.getString(0))
    assert(byAgg("by_lang").length == 3 && byAgg("by_source").length == 2)
    assert(byAgg("by_source").forall(_.isNullAt(3)), "missing sub-agg null-fills")
    // bucket order: doc_count desc within each agg
    val counts = byAgg("by_lang").map(_.getLong(2)).toSeq
    assert(counts == counts.sorted.reverse)
  }

  test("prefix and wildcard clauses compile to anchored predicates") {
    val pfx = """{"query": {"prefix": {"source": "src"}}, "size": 1000000}"""
    assert(EsQuery.search(docs, pfx).count() == docs.count(),
      "every source starts with 'src'")
    val wc = """{"query": {"wildcard": {"source": "s?c1*"}}, "size": 1000000}"""
    val got = EsQuery.search(docs, wc).select("doc_id").as[Long].collect().toSet
    val want = docs.filter(col("source").rlike("^s.c1.*$"))
      .select("doc_id").as[Long].collect().toSet
    assert(got == want && got.nonEmpty)
    // wildcard must anchor: 'rc1*' matches nothing even though it occurs mid-string
    assert(EsQuery.search(docs, """{"query": {"wildcard": {"source": "rc1*"}}}""").isEmpty)
    // regex metacharacters in the pattern are literal, not regex
    assert(EsQuery.search(docs, """{"query": {"wildcard": {"source": "src."}}}""").isEmpty)
  }

  test("unsupported query kinds are rejected at plan time") {
    val e = intercept[IllegalArgumentException] {
      EsQuery.search(docs, """{"query": {"fuzzy": {"text": "x"}}}""")
    }
    assert(e.getMessage.contains("unsupported query kind"))
  }

  test("minimum_should_match percentage and negative forms; clause boosts survive") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "en", 10L), (2L, "de", 10L), (3L, "fr", 99L)).toDF("doc_id", "lang", "n")
    // "100%" of 2 should clauses = both required
    val all = EsQuery.search(docs,
      """{"query": {"bool": {"should": [
        |  {"term": {"lang": "en"}}, {"range": {"n": {"lte": 50}}}],
        |  "minimum_should_match": "100%"}}, "size": 10}""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).toSeq
    assert(all == Seq(1L), "100% requires every should clause")
    // "-1" = total - 1 = 1 of 2
    val anyOne = EsQuery.search(docs,
      """{"query": {"bool": {"should": [
        |  {"term": {"lang": "en"}}, {"term": {"lang": "de"}}],
        |  "minimum_should_match": "-1"}}, "size": 10}""".stripMargin)
      .collect().map(_.getAs[Long]("doc_id")).sorted.toSeq
    assert(anyOne == Seq(1L, 2L))
    // terms-with-boost and range-with-boost must not crash, and the boost
    // must reach the score
    val boosted = EsQuery.search(docs,
      """{"query": {"bool": {"should": [
        |  {"terms": {"lang": ["en", "de"], "boost": 2}},
        |  {"range": {"n": {"gte": 50, "boost": 3}}}]}}, "size": 10}""".stripMargin)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("score")).toMap
    assert(boosted(1L) == 2.0 && boosted(3L) == 3.0)
  }

  test("wildcard spans newlines like ES; empty aggs fails loudly") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "line1\nline2")).toDF("doc_id", "text")
    val hit = EsQuery.search(docs,
      """{"query": {"wildcard": {"text": "line1*line2"}}, "size": 10}""")
      .count()
    assert(hit == 1L, "* must cross newlines (ES wildcard semantics)")
    val e = intercept[IllegalArgumentException] {
      EsQuery.aggregations(docs, """{"aggs": {}}""")
    }
    assert(e.getMessage.contains("at least one aggregation"))
  }
}
