package graft.operators

import graft.functions.NumFns.roundHalfUp
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ListBuffer
import scala.jdk.CollectionConverters._

/** ES query-DSL → Spark plan COMPILER — the reference's actual query
  * surface, accepted as data.
  *
  * Every consumer of the reference speaks Elasticsearch search bodies:
  * `lib/elastic.py:57` (`search`) and `:122` (`get_docs`) take a `query`
  * dict plus `size`/`_source`, and the DAGs assemble `bool`
  * must/must_not/should/exists trees (d1_sync.py, d0_find_attr.py) and
  * terms facets. graft already implements each semantic as a typed
  * operator (SearchOps); THIS module closes the loop: a user who has an
  * ES request body can run it unchanged — `EsQuery.search(docs, body)`
  * parses the JSON at PLAN TIME (Jackson, driver-side only; same
  * classpath dependency as graft.config.AirflowVariables) and emits the
  * same declarative plans the typed operators build. Nothing is
  * interpreted per row.
  *
  * Supported surface (what the reference's bodies actually contain):
  *  - `match` (OR-semantics multi-term, BM25-scored — Lucene's default
  *    `_score` since ES 5.x), `match_phrase` (slop 0, native
  *    CountTokenRun kernel), `term` / `terms` / `range` / `exists` /
  *    `match_all`
  *  - `bool` with `must` / `filter` / `must_not` / `should` and
  *    `minimum_should_match` (default 1 when the bool has only `should`
  *    clauses, 0 otherwise — the ES default)
  *  - top-level `size`, `_source`, `sort` (field asc/desc or `_score`)
  *  - `aggs`: `terms` buckets (doc_count-desc, key tiebreak, `size`
  *    capped) with `avg`/`sum`/`min`/`max` sub-aggregations — the facet
  *    shape of `lib/elastic.py`'s terms aggregations
  *
  * Scoring model: `match`/`match_phrase` contribute BM25 through [[bm25]],
  * the one scorer the typed SearchOps operators also use (document
  * frequencies are computed over the INPUT corpus before any filtering,
  * as an index-level stat — exactly ES). Exact-match clauses
  * (`term`/`terms`/`range`/`exists`) contribute their `boost` (default
  * 1.0) when matched — ES's constant-score behavior for filter-type
  * queries lifted into query context. `filter` and `must_not` clauses
  * never score. Clause scores sum left-to-right in document order
  * (Jackson preserves it), so an oracle can mirror the float
  * associativity exactly.
  *
  * Scale shape: one optional broadcast of a 1-row stats aggregate (only
  * if the body contains scoring clauses), then a single filter+project
  * pass over the corpus — no shuffle; top-k collapses to
  * TakeOrderedAndProject. Aggs mode is one partial-agg shuffle per
  * terms agg. The compiler itself runs on the driver at plan time; the
  * emitted plan is all codegen'd built-ins + graft's native kernels.
  */
object EsQuery {

  private val mapper = new ObjectMapper()

  /** One BM25-scored leaf: a `match` over `field` (one BM25 term per
    * query term) or, when `phrase`, a `match_phrase` (the consecutive run
    * of `terms` is the single term: tf = run occurrences, overlaps
    * counted), its term sum scaled by `boost`.
    */
  private[operators] final case class Bm25Leaf(field: String, terms: Seq[String],
      phrase: Boolean = false, boost: Double = 1.0) {
    def toks: Column = spaceTokens(col(field))
    /** Per-document tf of each BM25 term (long). */
    def tfs: Seq[Column] =
      if (phrase) Seq(phraseTf(toks, terms)) else terms.map(t => size(filter(toks, x => x === t)))
    /** Per-document "contains the term" of each BM25 term. */
    def hits: Seq[Column] =
      if (phrase) Seq(tfs.head > 0) else terms.map(t => array_contains(toks, t))
  }

  /** Lucene's BM25Similarity constants (the ES default since 5.x). */
  private val K1 = 1.2
  private val B = 0.75

  /** Collects the BM25 leaves of one query. Each leaf's score reads its
    * statistics by position (`es_df_q<i>_t<j>`, `es_sum_dl_<field>`,
    * `es_n_docs`) from the 1-row aggregate that [[join]] broadcasts; a
    * non-scoring scorer (filter context) records nothing and scores 0.
    */
  private final class Scorer(val scoring: Boolean) {
    private val leaves = ListBuffer.empty[Bm25Leaf]
    def nonEmpty: Boolean = leaves.nonEmpty

    /**   score(D,Q) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·|D|/avgdl))
      *   idf(t)     = ln(1 + (N − df + 0.5)/(df + 0.5))
      * Constants stay unfolded expressions (`k1 + 1`, not 2.2): the DuckDB
      * twins fold `1.2 + 1.0` with the same IEEE ops, so both sides land on
      * identical bits (a pre-folded literal can differ by 1 ulp and flip
      * the 6th rounded digit).
      */
    def score(leaf: Bm25Leaf): Column = if (!scoring) lit(0.0) else {
      val i = leaves.size
      leaves += leaf
      val n = col("es_n_docs").cast("double")
      val avgdl = col(s"es_sum_dl_${leaf.field}").cast("double") / col("es_n_docs")
      val dl = size(leaf.toks).cast("double")
      leaf.tfs.zipWithIndex.map { case (tfRaw, j) =>
        val tf = tfRaw.cast("double")
        val df = col(s"es_df_q${i}_t$j").cast("double")
        val idf = log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))
        idf * (tf * (lit(K1) + lit(1.0))) /
          (tf + lit(K1) * (lit(1.0) - lit(B) + lit(B) * dl / avgdl))
      }.reduce(_ + _) * lit(leaf.boost)
    }

    /** `docs` with the broadcast index statistics of every leaf scored so
      * far: corpus size, one Σ|D| per scored field, one df per (leaf,
      * term) — a single 1-row aggregate however many leaves there are.
      */
    def join(docs: DataFrame): DataFrame = if (leaves.isEmpty) docs else {
      val dlAggs = leaves.map(_.field).distinct.map { f =>
        sum(size(spaceTokens(col(f))).cast("long")).as(s"es_sum_dl_$f")
      }
      val dfAggs = leaves.zipWithIndex.flatMap { case (leaf, i) =>
        leaf.hits.zipWithIndex.map { case (h, j) =>
          sum(when(h, 1L).otherwise(0L)).as(s"es_df_q${i}_t$j")
        }
      }
      val aggs = count(lit(1)).as("es_n_docs") +: (dlAggs ++ dfAggs).toSeq
      docs.crossJoin(broadcast(docs.agg(aggs.head, aggs.tail: _*)))
    }
  }

  /** The BM25 entry of the typed operators: `docs` with the broadcast
    * statistics row, and the leaves' scores summed in leaf order.
    */
  private[operators] def bm25(docs: DataFrame, leaves: Seq[Bm25Leaf]): (DataFrame, Column) = {
    val scorer = new Scorer(true)
    val score = leaves.map(scorer.score).reduce(_ + _)
    (scorer.join(docs), score)
  }

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"es_query: $msg")

  private def singleField(n: JsonNode, what: String): (String, JsonNode) = {
    val fields = n.properties().asScala.toSeq
    if (fields.size != 1) fail(s"$what expects exactly one field, got ${fields.size}")
    val e = fields.head
    (e.getKey, e.getValue)
  }

  private def litOf(v: JsonNode): Column =
    if (v.isTextual) lit(v.asText)
    else if (v.isIntegralNumber) lit(v.asLong)
    else if (v.isNumber) lit(v.asDouble)
    else if (v.isBoolean) lit(v.asBoolean)
    else fail(s"unsupported literal $v")

  /** `{"f": "text"}` or `{"f": {"query": "text", "boost": 2}}`. */
  private def queryAndBoost(spec: JsonNode, key: String): (String, Double) =
    if (spec.isObject) {
      val q = Option(spec.get(key)).getOrElse(fail(s"missing '$key' in $spec"))
      (q.asText, Option(spec.get("boost")).map(_.asDouble).getOrElse(1.0))
    } else (spec.asText, 1.0)

  private def phraseTf(toksCol: Column, terms: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    GraftSqlBridge.column(
      graft.functions.CountTokenRun(GraftSqlBridge.expression(toksCol), terms))
  }

  /** Compile one query node → (match predicate, score contribution). */
  private def clause(node: JsonNode, ctx: Scorer): (Column, Column) = {
    val fields = node.properties().asScala.toSeq
    if (fields.size != 1) fail(s"query clause must have exactly one key, got $node")
    val kind = fields.head.getKey
    val spec = fields.head.getValue
    kind match {
      case "match_all" => (lit(true), lit(0.0))

      case "match" | "match_phrase" =>
        val (f, body) = singleField(spec, kind)
        val (q, boost) = queryAndBoost(body, "query")
        val terms = q.trim.split("\\s+").toSeq.filter(_.nonEmpty)
        if (terms.isEmpty) fail(s"empty $kind query")
        val leaf = Bm25Leaf(f, terms, phrase = kind == "match_phrase", boost = boost)
        (leaf.tfs.map(_ > 0).reduce(_ || _), ctx.score(leaf))

      case "term" =>
        val (f, body) = singleField(spec, "term")
        val (v, boost) =
          if (body.isObject)
            (Option(body.get("value")).getOrElse(fail(s"term needs 'value': $body")),
              Option(body.get("boost")).map(_.asDouble).getOrElse(1.0))
          else (body, 1.0)
        val pred = col(f) === litOf(v)
        (pred, when(pred, lit(boost)).otherwise(lit(0.0)))

      case "terms" =>
        // a sibling "boost" key is valid ES — strip it before the
        // single-field check and apply it as the constant score
        val boost = Option(spec.get("boost")).map(_.asDouble).getOrElse(1.0)
        val spec2 = spec.deepCopy[com.fasterxml.jackson.databind.node.ObjectNode]
        spec2.remove("boost")
        val (f, arr) = singleField(spec2, "terms")
        if (!arr.isArray || arr.isEmpty) fail("terms expects a non-empty array")
        val pred = arr.elements().asScala.toSeq.map(v => col(f) === litOf(v)).reduce(_ || _)
        (pred, when(pred, lit(boost)).otherwise(lit(0.0)))

      case "range" =>
        val (f, body) = singleField(spec, "range")
        // "boost" rides inside the bounds object in ES range bodies
        val boost = Option(body.get("boost")).map(_.asDouble).getOrElse(1.0)
        val preds = body.properties().asScala.toSeq.flatMap { e =>
          e.getKey match {
            case "gte" => Some(col(f) >= litOf(e.getValue))
            case "gt"  => Some(col(f) > litOf(e.getValue))
            case "lte" => Some(col(f) <= litOf(e.getValue))
            case "lt"  => Some(col(f) < litOf(e.getValue))
            case "boost" => None
            case other => fail(s"unsupported range bound '$other'")
          }
        }
        if (preds.isEmpty) fail("empty range")
        val pred = preds.reduce(_ && _)
        (pred, when(pred, lit(boost)).otherwise(lit(0.0)))

      case "exists" =>
        val f = Option(spec.get("field")).getOrElse(fail("exists needs 'field'")).asText
        val boost = Option(spec.get("boost")).map(_.asDouble).getOrElse(1.0)
        val pred = col(f).isNotNull
        (pred, when(pred, lit(boost)).otherwise(lit(0.0)))

      case "prefix" =>
        val (f, body) = singleField(spec, "prefix")
        val (v, boost) = if (body.isObject)
          (Option(body.get("value")).getOrElse(fail(s"prefix needs 'value': $body")).asText,
            Option(body.get("boost")).map(_.asDouble).getOrElse(1.0))
        else (body.asText, 1.0)
        val pred = col(f).startsWith(v)
        (pred, when(pred, lit(boost)).otherwise(lit(0.0)))

      case "wildcard" =>
        // ES wildcard: * = any run, ? = one char, anchored both ends;
        // (?s) because ES wildcards span newlines in field values
        val (f, body) = singleField(spec, "wildcard")
        val (v, boost) = if (body.isObject)
          (Option(body.get("value")).getOrElse(fail(s"wildcard needs 'value': $body")).asText,
            Option(body.get("boost")).map(_.asDouble).getOrElse(1.0))
        else (body.asText, 1.0)
        val regex = v.flatMap {
          case '*' => ".*"
          case '?' => "."
          case c if "\\.[]{}()<>+-=!$^|,#&~'\" ".contains(c) => "\\" + c
          case c => c.toString
        }
        val pred = col(f).rlike(s"(?s)^$regex\\z")  // \z: RE2's $ is end-of-text; Java's $ is terminator-lenient
        (pred, when(pred, lit(boost)).otherwise(lit(0.0)))

      case "bool" =>
        val must = clausesOf(spec, "must").map(clause(_, ctx))
        val filt = clausesOf(spec, "filter").map(clause(_, new Scorer(false)))
        val mustNot = clausesOf(spec, "must_not").map(clause(_, new Scorer(false)))
        val should = clausesOf(spec, "should").map(clause(_, ctx))
        // ES minimum_should_match forms: integer, negative integer
        // (total + n), "N%" / "-N%" (percentage of the should count,
        // rounded down / total minus that). Anything else fails loudly —
        // a silent 0 would disable the constraint.
        val msm = Option(spec.get("minimum_should_match")).map { node =>
          val total = should.size
          val raw = node.asText.trim
          val n =
            if (node.isIntegralNumber) node.asInt
            else if (raw.matches("-?[0-9]+")) raw.toInt
            else if (raw.matches("-?[0-9]+%")) {
              val pct = raw.dropRight(1).toInt
              if (pct >= 0) pct * total / 100
              else total + pct * total / 100
            } else fail(s"unsupported minimum_should_match form '$raw'")
          if (n >= 0) n else math.max(total + n, 0)
        }.getOrElse(
          if (must.isEmpty && filt.isEmpty && should.nonEmpty) 1 else 0)
        val preds =
          // must_not under SQL three-valued logic: NOT(NULL) = NULL would
          // FILTER a doc whose field is NULL, but ES keeps docs where the
          // inner clause does not match (missing field => not matched =>
          // kept) — so a NULL inner match counts as a non-match.
          must.map(_._1) ++ filt.map(_._1) ++
            mustNot.map(p => !coalesce(p._1, lit(false))) ++
            (if (msm > 0 && should.nonEmpty)
              Seq(should.map(c => when(c._1, 1).otherwise(0)).reduce(_ + _) >= msm)
            else Nil)
        val pred = if (preds.isEmpty) lit(true) else preds.reduce(_ && _)
        val scores = must.map(_._2) ++ should.map { case (p, s) => when(p, s).otherwise(lit(0.0)) }
        val score = if (scores.isEmpty) lit(0.0) else scores.reduce(_ + _)
        (pred, score)

      case other => fail(s"unsupported query kind '$other'")
    }
  }

  private def clausesOf(spec: JsonNode, key: String): Seq[JsonNode] =
    Option(spec.get(key)).toSeq.flatMap { n =>
      if (n.isArray) n.elements().asScala.toSeq else Seq(n)
    }

  /** Run an ES search body in query mode: returns matching docs with a
    * `score` column (round 6), ES-sorted (`sort` or `_score` desc with
    * `idCol` tiebreak), `size`-limited (default 10), `_source`-projected.
    */
  def search(docs: DataFrame, body: String, idCol: String = "doc_id"): DataFrame = {
    val root = mapper.readTree(body)
    val scorer = new Scorer(true)
    val (pred, rawScore) = Option(root.get("query")) match {
      case Some(q) => clause(q, scorer)
      case None => (lit(true), lit(0.0))
    }
    // scoring queries drop rows whose ROUNDED score is 0, as the typed
    // BM25 operators do; pure filter-context queries score 0 by
    // construction and must keep rows
    val scored0 = scorer.join(docs)
      .withColumn("score", roundHalfUp(rawScore, 6))
      .filter(pred)
    val scored =
      if (scorer.nonEmpty) scored0.filter(col("score") > 0) else scored0
    val sorted = Option(root.get("sort")) match {
      case None => scored.orderBy(desc("score"), col(idCol))
      case Some(s) =>
        val keys = (if (s.isArray) s.elements().asScala.toSeq else Seq(s)).map { e =>
          if (e.isTextual && e.asText == "_score") desc("score")
          else if (e.isTextual) col(e.asText)
          else {
            val (f, o) = singleField(e, "sort")
            val name = if (f == "_score") "score" else f
            if (Option(o.get("order")).exists(_.asText == "desc")) desc(name) else col(name)
          }
        }
        scored.orderBy(keys :+ col(idCol): _*)
    }
    val limited = sorted.limit(Option(root.get("size")).map(_.asInt).getOrElse(10))
    Option(root.get("_source")) match {
      case None => limited
      case Some(src) =>
        val cols = src.elements().asScala.map(_.asText).toSeq
        val keep = (idCol +: cols.filterNot(_ == idCol)) :+ "score"
        limited.select(keep.map(col): _*)
    }
  }

  /** Run an ES body in aggregations mode (`size: 0` semantics): the
    * `query` tree is filter context, then each top-level `aggs` entry
    * must be a `terms` bucket agg (doc_count desc, key-asc tiebreak,
    * `size` buckets kept) with optional `avg`/`sum`/`min`/`max`
    * sub-aggs (rounded to 4 like facet_stats). Output rows:
    * (agg, key, doc_count, <sub-agg columns>), unioned by name across
    * aggs.
    */
  def aggregations(docs: DataFrame, body: String): DataFrame = {
    val root = mapper.readTree(body)
    val filtered = Option(root.get("query")) match {
      case Some(q) => docs.filter(clause(q, new Scorer(false))._1)
      case None => docs
    }
    val aggsNode = Option(root.get("aggs")).orElse(Option(root.get("aggregations")))
      .getOrElse(fail("aggregations mode needs 'aggs'"))
    val parts = aggsNode.properties().asScala.toSeq.map { e =>
      val name = e.getKey
      val spec = e.getValue
      val t = Option(spec.get("terms")).getOrElse(fail(s"agg '$name': only terms aggs supported"))
      val f = Option(t.get("field")).getOrElse(fail(s"agg '$name': terms needs 'field'")).asText
      val topN = Option(t.get("size")).map(_.asInt).getOrElse(10)
      val subs: Seq[(String, Column)] =
        Option(spec.get("aggs")).toSeq.flatMap(_.properties().asScala.toSeq).map { s =>
          val (kind, sb) = singleField(s.getValue, s"sub-agg '${s.getKey}'")
          val vf = col(Option(sb.get("field")).getOrElse(fail("sub-agg needs 'field'")).asText)
          val a = kind match {
            case "avg" => avg(vf)
            case "sum" => sum(vf.cast("double"))
            case "min" => min(vf).cast("double")
            case "max" => max(vf).cast("double")
            case other => fail(s"unsupported sub-agg '$other'")
          }
          s.getKey -> roundHalfUp(a, 4).as(s.getKey)
        }
      filtered.groupBy(col(f).cast("string").as("key"))
        .agg(count(lit(1)).as("doc_count"), subs.map(_._2): _*)
        .orderBy(desc("doc_count"), col("key"))
        .limit(topN)
        .select(lit(name).as("agg") +: col("key") +: col("doc_count") +:
          subs.map { case (n, _) => col(n) }: _*)
    }
    if (parts.isEmpty) fail("aggs must contain at least one aggregation")
    parts.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))
  }

  // ------------------------------------------------------------ queries()

  /** The representative search body: a bool of every clause family —
    * BM25-scored match in must, range filter, term must_not, scoring
    * term should — with size/_source, over `documents`.
    */
  val demoSearchBody: String =
    """{
      |  "query": {
      |    "bool": {
      |      "must": [{"match": {"text": "data merge"}}],
      |      "filter": [{"range": {"n_chars": {"gte": 120}}}],
      |      "must_not": [{"term": {"lang": "zh"}}],
      |      "should": [{"term": {"source": "src1"}}]
      |    }
      |  },
      |  "size": 25,
      |  "_source": ["doc_id", "lang", "source"]
      |}""".stripMargin

  def qEsQuery(s: SparkSession, d: String): DataFrame =
    search(Tables.documents(s, d), demoSearchBody)

  /** The representative aggs body: exists-filtered terms facet with an
    * avg sub-agg — the `lib/elastic.py` facet shape.
    */
  val demoAggsBody: String =
    """{
      |  "query": {"bool": {"filter": [{"exists": {"field": "n_chars"}}]}},
      |  "aggs": {
      |    "by_lang": {
      |      "terms": {"field": "lang", "size": 10},
      |      "aggs": {"avg_chars": {"avg": {"field": "n_chars"}}}
      |    }
      |  }
      |}""".stripMargin

  def qEsAgg(s: SparkSession, d: String): DataFrame =
    aggregations(Tables.documents(s, d), demoAggsBody)
}
