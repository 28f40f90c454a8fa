package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** Plan-shape audits — the 100 TB contract, asserted. These checks encode
  * what `.explain("formatted")` reviews verified by hand: filters reach the
  * parquet scan, projection pruning reaches the reader, small dimensions
  * broadcast, and top-k never materializes a global sort.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan.toString

  // sparkPlan (pre-AQE) — AdaptiveSparkPlanExec hides its subtree from collect
  private def scans(name: String): Seq[FileSourceScanExec] =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f
    }

  test("q2_join broadcasts dimension tables and pushes the date filter to the scan") {
    val p = plan("q2_join")
    assert(p.contains("BroadcastHashJoin"), "dims must broadcast")
    val ordersScan = scans("q2_join").find(_.toString.contains("orders.parquet")).get
    assert(ordersScan.metadata("PushedFilters").contains("GreaterThanOrEqual(o_orderdate"),
      "date filter must reach the parquet reader")
  }

  test("scans read only the columns the query needs (projection pruning)") {
    // token_count touches doc_id + text of a 5-column table
    val scan = scans("token_count").head
    assert(scan.requiredSchema.fieldNames.toSet === Set("doc_id", "text"),
      s"expected pruned schema, got ${scan.requiredSchema.fieldNames.toSeq}")
    // q1_agg reads 4 of 16 lineitem columns
    val li = scans("q1_agg").head
    assert(li.requiredSchema.fieldNames.toSet ===
      Set("l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice", "l_discount"))
  }

  test("top-k queries collapse to TakeOrderedAndProject (no global sort)") {
    assert(plan("q3_topk").contains("TakeOrderedAndProject"))
    assert(plan("search_match_topk").contains("TakeOrderedAndProject"))
    assert(plan("search_bm25").contains("TakeOrderedAndProject"))
  }

  test("search_bm25 broadcasts the corpus-stats row (df side broadcast)") {
    val p = plan("search_bm25")
    assert(p.contains("BroadcastExchange"), "1-row stats aggregate must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "scoring pass must not shuffle the corpus")
  }

  test("es_query compiles to the search_bm25 shape: broadcast stats, top-k, no corpus shuffle") {
    val p = plan("es_query")
    assert(p.contains("BroadcastExchange"), "1-row index stats must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "size cap must be a top-k, not a global sort")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "the scoring pass must never shuffle the corpus")
  }

  test("BM25 queries broadcast the stats row and top-k without shuffling the corpus") {
    // search_bm25 and es_query have their own checks above
    for (q <- Seq("multi_match", "search_phrase")) {
      val p = plan(q)
      assert(p.contains("BroadcastExchange"), s"$q: the 1-row stats aggregate must broadcast")
      assert(p.contains("TakeOrderedAndProject"), s"$q: the size cap must be a top-k, not a global sort")
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q: the scoring pass must not shuffle the corpus")
    }
  }

  test("ann_topk broadcasts the query vectors (corpus never shuffles)") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "query side must broadcast")
  }

  test("ANN searches score each candidate pair once (one CosineSim in the optimized plan)") {
    // a filter on the score below the ranking window would be inlined into
    // the join condition and evaluate the cosine a second time
    for (q <- Seq("ann_topk", "ann_lsh", "ann_ivf", "ann_ivf_index")) {
      val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.optimizedPlan
      val n = p.collect { case node => node.expressions.map(_.collect {
        case c: graft.functions.CosineSim => c }.size).sum }.sum
      assert(n == 1, s"$q holds CosineSim $n times:\n$p")
    }
  }

  test("semi/anti joins stay semi/anti in the physical plan") {
    assert(plan("q5_semijoin").contains("LeftSemi"))
    assert(plan("q6_antijoin").contains("LeftAnti"))
  }

  test("frontier rule tables broadcast so the url side never shuffles for them") {
    assert(plan("crawl_frontier").contains("BroadcastNestedLoopJoin") ||
      plan("crawl_frontier").contains("BroadcastExchange"))
  }

  test("dedup/ANN candidate plans contain no cartesian or nested-loop join") {
    // The 100 TB contract for the similarity family: candidates come from a
    // blocking-key equi-join/groupBy, NEVER an all-pairs product. (ann_topk
    // is exempt by design — it is the bounded-query-side exact baseline and
    // broadcasts 8 vectors against one corpus scan.)
    for (q <- Seq("ngram_jaccard", "dedup_embedding", "dedup_minhash",
        "dedup_simhash", "dedup_semantic", "ann_lsh")) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q plan has a cartesian product")
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$q plan has a nested-loop join")
    }
  }

  test("ann_ivf assignment is a projection: no shuffle join anywhere in the plan") {
    // The round-5 contract: corpus→cell assignment is the `nearestCentroid`
    // literal-centroid expression (zero corpus-side exchange — no crossJoin,
    // no groupBy), and candidates meet the probe table via broadcast. The
    // only shuffles left are the two per-query top-k windows over narrow
    // rows, so ANY shuffle join in the plan means the assignment regressed.
    val p = plan("ann_ivf")
    assert(p.contains("BroadcastExchange"), "probe table must broadcast")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "ann_ivf must not shuffle the corpus into any join")
    assert(!p.contains("CartesianProduct"), "ann_ivf plan has a cartesian product")
  }

  test("embed_attach encodes distinct texts before the attach join") {
    // The distinct-first contract: the stub-encoder expression must sit
    // ABOVE a deduplicating aggregate, never directly on the passage rows —
    // that is what makes a boilerplate passage encode once at 100 TB.
    // The optimizer collapses the encoder projection INTO the distinct
    // Aggregate's result expressions — so the invariant to pin is: every
    // node computing the hash IS an Aggregate (per distinct group), and no
    // plain per-row node computes it.
    val plan = SparkEntry.queries("embed_attach")(spark, sfDir)
      .queryExecution.optimizedPlan
    val hashNodes = plan.collect {
      case n if n.expressions.exists(_.exists(_.toString.contains("xxhash64"))) => n
    }
    assert(hashNodes.nonEmpty, "encoder expressions must appear in the plan")
    assert(hashNodes.forall(_.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Aggregate]),
      s"stub encoding must live in the distinct aggregate, found: ${hashNodes.map(_.nodeName)}")
  }

  test("norm_pipeline is a pure narrow pipeline (no join, no aggregate)") {
    // Thirteen composed normalizer steps must still collapse to projections
    // + one scan filter: any Join or Aggregate in the plan means a step
    // regressed from per-row to relational.
    val p = plan("norm_pipeline")
    for (bad <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "CartesianProduct", "HashAggregate", "SortAggregate"))
      assert(!p.contains(bad), s"norm_pipeline plan contains $bad")
  }

  test("site_bise is a pure narrow pipeline (no join, no aggregate)") {
    // The whole site normalizer — admission, workflow, fulltext, content
    // types, location rules, description fallback, counts — must stay a
    // per-row projection chain at any corpus size.
    val p = plan("site_bise")
    for (bad <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
        "CartesianProduct", "HashAggregate", "SortAggregate"))
      assert(!p.contains(bad), s"site_bise plan contains $bad")
  }

  test("site_noise, site_sdi, nlp_preprocess, norm_strip_selectors are pure narrow pipelines") {
    // Site normalizers and the NLP text-assembly front door are per-row
    // projection chains — any join/aggregate appearing here means a
    // regression that would shuffle the whole corpus at scale.
    for (q <- Seq("site_noise", "site_sdi", "nlp_preprocess", "norm_strip_selectors")) {
      val p = plan(q)
      for (bad <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
          "CartesianProduct", "HashAggregate", "SortAggregate"))
        assert(!p.contains(bad), s"$q plan contains $bad")
    }
  }

  test("every round-9 site pipeline is a pure narrow pipeline") {
    // All fifteen site queries added in round 9 — including the union-
    // shaped site_simple and the flagship site_eea Dice gate — are
    // per-row projection chains over one scan: no join, no aggregate, no
    // cartesian anywhere. At 100 TB each is one embarrassingly-parallel
    // pass.
    for (q <- Seq("site_sdi_fise", "site_climate", "site_eea_en",
        "site_wise_marine", "site_energy", "site_eionet", "site_forest",
        "site_discomap", "site_ias", "site_simple", "site_wise_freshwater",
        "site_fise_resource", "site_insitu", "site_land", "site_eea")) {
      val p = plan(q)
      for (bad <- Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin",
          "CartesianProduct", "HashAggregate", "SortAggregate"))
        assert(!p.contains(bad), s"$q plan contains $bad")
    }
  }

  test("quality_repetition counts grams without a window on the gram key") {
    // explode → partial-agg count → pivot max → one join back; a Window
    // partitioned on the gram key would sort the whole gram corpus.
    val p = plan("quality_repetition")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))
      assert(!p.contains(bad), s"quality_repetition plan contains $bad")
  }

  test("perplexity_bucket has no global window and no cartesian") {
    // Tercile assignment must come from a broadcast 1-row percentile
    // aggregate, never a single-partition ntile/Window sort of every doc.
    val p = plan("perplexity_bucket")
    for (bad <- Seq("Window", "CartesianProduct"))
      assert(!p.contains(bad), s"perplexity_bucket plan contains $bad")
    // Zipf de-skew: the hot-word counts must resolve through a broadcast
    // join (tokens of the hottest keys never shuffle on the word key).
    assert(p.contains("BroadcastHashJoin"),
      "expected the hot-word counts to join as a broadcast")
  }

  test("dsir_select has no global window and broadcasts the ratio table") {
    // gram→bucket counts partial-agg, the buckets-row log-ratio table and
    // the 1-row percentile cutoff broadcast back; a Window/ntile here
    // would single-partition-sort every doc score. (The BNLJ instances
    // are the sanctioned keyless 1-row stats broadcasts — same shape as
    // perplexity_bucket's total/cutoff joins.)
    val p = plan("dsir_select")
    for (bad <- Seq("Window", "CartesianProduct"))
      assert(!p.contains(bad), s"dsir_select plan contains $bad")
    assert(p.contains("BroadcastHashJoin"),
      "expected the log-ratio table to join as a broadcast")
  }

  test("line_dedup shuffles only on the line and doc keys — no window, no cartesian") {
    // explode → per-line distinct-doc count → LEFT ANTI against the small
    // hot-line table → per-doc re-collect; a Window or cartesian here
    // would sort/square the whole line corpus.
    val p = plan("line_dedup")
    for (bad <- Seq("Window", "CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(bad), s"line_dedup plan contains $bad")
  }

  test("sdi_children is one equi-join plus one aggregation, never cartesian") {
    // The child assembly joins the exploded id list back to the corpus —
    // an equi-join on the id key. A CartesianProduct/BNLJ here would be
    // quadratic in the corpus.
    val p = plan("sdi_children")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(bad), s"sdi_children plan contains $bad")
    assert(p.contains("Join"), "expected the corpus equi-join")
    assert(p.contains("Aggregate") || p.contains("HashAggregate") ||
      p.contains("SortAggregate") || p.contains("ObjectHashAggregate"),
      "expected the re-collect aggregation")
  }

  test("plone_search joins only the broadcast robots rule table") {
    // Every admission filter is a per-row predicate; the one join is the
    // tiny robots rule table, broadcast — the item side must never shuffle
    // for it.
    val p = plan("plone_search")
    for (bad <- Seq("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"))
      assert(!p.contains(bad), s"plone_search plan contains $bad")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "robots rules must join as a broadcast")
  }

  test("ngram_jaccard computes document frequency without a window on the gram key") {
    // A window partitioned by the gram colocates every occurrence of a hot
    // gram in one unsplittable task (no partial agg, no AQE skew split) —
    // df must come from groupBy("g").count() instead. The only windows in
    // the plan are the per-doc ones (size + prefix rank).
    val windows = SparkEntry.queries("ngram_jaccard")(spark, sfDir)
      .queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
    val onGram = windows.filter(_.partitionSpec.exists(_.references.exists(_.name == "g")))
    assert(onGram.isEmpty, "document frequency must not be a window on the gram key")
    assert(windows.forall(_.partitionSpec.exists(_.references.exists(_.name == "doc_id"))),
      "remaining windows must partition by doc_id")
  }

  test("text_fix is a pure narrow projection (zero exchanges)") {
    // the one Exchange allowed is the deterministic output sort
    val p = plan("text_fix")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"text_fix should be scan→project→sort, got:\n$p")
    assert(!p.contains("Join"), "text_fix must not join")
  }

  test("frontier_schedule: capped hosts rank through the bucket tournament before the host window") {
    val p = plan("frontier_schedule")
    // level 1: a window partitioned on (host, __pbucket) — each task sorts
    // ~1/B of a host, so a mega-host can never become one spilling sort
    assert(p.contains("__pbucket"),
      "the bucket pre-rank must be in the plan when maxPerHost is set")
    // two Window nodes: the bucket tournament below, the exact host
    // window above it consuming the bounded survivor set (plan strings
    // print root-first, so host_rank appears before __pbucket)
    assert("\\bWindow\\b".r.findAllIn(p).size >= 2,
      "tournament + exact window must both be present")
    assert(p.indexOf("host_rank") < p.indexOf("__pbucket"),
      "exact host window sits above the tournament in the plan")
  }

  test("frontier_bloom: bloom broadcasts; only the maybe-seen sliver reaches the anti-join") {
    val p = plan("frontier_bloom")
    assert(p.contains("BroadcastExchange"), "the 1-row bloom must broadcast")
    assert(p.contains("LeftAnti"), "the exact verify is an anti-join")
    assert(!p.contains("CartesianProduct"), "no cartesian — the cross join is 1-row broadcast")
  }

  test("frontier_bloom: the exact anti-join is a shuffled hash join, not a broadcast") {
    // a broadcast build of the seen side pins a 16 MB BytesToBytesMap page
    // in the driver's MemoryStore until the ContextCleaner sweeps it
    val df = SparkEntry.queries("frontier_bloom")(spark, sfDir)
    df.collect() // runs df's own plan: AQE re-plans joins on runtime sizes
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("isFinalPlan=true") && p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("main_text_blocks, norm_boilerplate, norm_clean_html extract once per row") {
    // a Filter on the aliased extraction would be pushed below the Project
    // with the alias inlined, evaluating the extraction twice
    for ((q, kernel) <- Seq("main_text_blocks" -> "main_text_blocks(",
        "norm_boilerplate" -> "main_text(", "norm_clean_html" -> "regexp_replace(")) {
      val p = SparkEntry.queries(q)(spark, sfDir).queryExecution.optimizedPlan.toString
      assert(p.split(java.util.regex.Pattern.quote(kernel), -1).length - 1 == 1,
        s"$q must reference $kernel exactly once:\n$p")
      assert(!p.contains("Filter"), s"$q admits through the generator, not a Filter:\n$p")
    }
  }

  test("nlp_preprocess extracts once per row (no CASE WHEN repeating the extraction)") {
    val p = SparkEntry.queries("nlp_preprocess")(spark, sfDir).queryExecution.optimizedPlan.toString
    assert(p.split(java.util.regex.Pattern.quote("main_text("), -1).length - 1 == 1, p)
  }

  test("crawl_rank: the iteration plan equi-joins ranks and broadcasts the 1-row aggregates") {
    // The checkpointed loop flattens each round to an ExistingRDD scan, so
    // the audit inspects ONE iteration step built on real edges.
    val edges = spark.range(1000).selectExpr("id AS src", "(id * 31 + 7) % 1000 AS dst")
    val e = edges.distinct()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(outDeg.select(col("src").as("id"), lit(true).as("has_out")),
        Seq("id"), "left")
      .select(col("id"), col("has_out").isNull.as("dang"))
    val linkW = e.join(outDeg, "src")
    val ranks = nodes
      .select(col("id"), (lit(1.0) / lit(1000L)).as("rank"), col("dang"))
    val step = graft.operators.GraphOps
      .pageRankStep(nodes, 1000L, linkW, ranks, 0.0, 0.85)
    val p = step.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "iteration must not have a cartesian product")
    assert(!p.contains("LeftAnti"),
      "dangling mass is a filter over the precomputed flag — the per-round " +
        "anti-join against out-degrees (which re-ran the degree aggregation " +
        "every iteration) must be gone")
    assert(p.contains("HashAggregate"),
      "contribs is a partial-agg sum shuffled on dst")
  }

  test("robots_parse windows partition by host — never a global sort of the line table") {
    // Every window in the parse is keyed by host (or host+group): a global
    // (unpartitioned) window would serialize all robots.txt lines through
    // one task. "Window" with an empty partition spec prints as
    // "Window [...], [line_no ASC...]" with no partition list — assert the
    // partition keys are present instead.
    val p = plan("robots_parse")
    assert(p.contains("Window"), "expected the grouping windows")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(bad), s"robots_parse plan contains $bad")
    val winLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(winLines.nonEmpty && winLines.forall(_.contains("host")),
      s"every Window must partition by host:\n${winLines.mkString("\n")}")
  }

  test("robots_fetch: entry choice and rules are equi-joins; verdict is a partial-agg min") {
    // urls ⋈ chosen-group and urls ⋈ rules are equi-joins on host (+gid);
    // first-match-wins is a hash-aggregate min over (rule_idx, allowance).
    // A cartesian/BNLJ would pair every url with every rule of every host.
    val p = plan("robots_fetch")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(bad), s"robots_fetch plan contains $bad")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"),
      "expected the first-match min aggregate")
  }

  test("warc family: parse/cdx/write have no cartesian; cdx adds no shuffle after parse") {
    for (q <- Seq("warc_parse", "warc_cdx", "warc_write")) {
      val p = plan(q)
      for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))
        assert(!p.contains(bad), s"$q plan contains $bad")
    }
    // cdx over parsed records is a pure projection — identical exchange
    // count to the parse itself would still pass; what must NOT appear is
    // any join (the records already carry everything cdx needs)
    assert(!plan("warc_cdx").contains("Join"), "warc_cdx must be join-free")
  }

  test("sitemap_index: one child-url equi-join, pages explode after it") {
    val p = plan("sitemap_index")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin"))
      assert(!p.contains(bad), s"sitemap_index plan contains $bad")
    assert(p.contains("Join"), "expected the child-url equi-join")
  }

  test("domain_filter: host stats via partial agg; blocklist broadcasts") {
    val p = plan("domain_filter")
    for (bad <- Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Window"))
      assert(!p.contains(bad), s"domain_filter plan contains $bad")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      "the blocklist anti-join must broadcast")
  }

  test("embed_quantize is a pure narrow projection (no exchange before the output sort)") {
    val plnObj = SparkEntry.queries("embed_quantize")(spark, sfDir)
      .queryExecution.executedPlan
    val s = plnObj.toString
    for (bad <- Seq("CartesianProduct", "Join", "Window", "HashAggregate"))
      assert(!s.contains(bad), s"embed_quantize plan contains $bad")
  }
}
