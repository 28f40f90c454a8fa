package graft.operators

import graft.functions.NumFns.roundHalfUp
import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** Incremental-sync / crawl-pipeline set operations — the daily work of the
  * reference pipeline re-expressed as declarative Spark plans.
  *
  * Reference semantics (cited file:line, reference read-only at
  * /root/reference):
  *  - sync diff / skip-unchanged: dags/crawlers/crawlers/crawl_sitemap.py:86-101
  *    (re-index when `modified` changed OR the doc had errors; delete docs
  *    present in the index but absent from the crawl).
  *  - error-retry policy: dags/d1_sync.py:83 `test_errors` with
  *    `allowed_errors_for_doc` / `skip_doc_cnt` thresholds (d1_sync.py:94-95,
  *    state machine at :120-:134).
  *  - delete-threshold guard: dags/crawlers/crawlers/crawl_sitemap.py:30
  *    (`threshold`, default 25) and :113-:138 (abort when the fraction of
  *    docs to delete exceeds threshold%).
  *  - frontier filtering: crawl_sitemap.py:15 `SKIP_EXTENSIONS`, :60-:75
  *    (dedup / whitelist / blacklist), robots prefix+wildcard rules
  *    dags/lib/robots_txt.py:22 `applies_to`.
  *  - redirect marking: dags/d7_mark_redirects_bulk.py:51-:75 (update only on
  *    state change; any other non-null exclusion value is preserved).
  *
  * Scale notes: every operator is one full-outer/anti join on the id key
  * (single shuffle, AQE-skew-safe); rule tables (robots prefixes, blacklists)
  * are tiny and broadcast so the fact side never shuffles for them.
  */
object SyncOps {

  // ---------------------------------------------------------------- sync_diff

  /** Classify each doc across two snapshots: `crawled` (id, modified) is the
    * fresh enumeration, `indexed` (id, modified, error_cnt) the previous
    * index state. A doc re-indexes ("modified") when its timestamp changed or
    * it previously errored — crawl_sitemap.py:91.
    */
  def syncDiff(crawled: DataFrame, indexed: DataFrame): DataFrame = {
    val c = crawled.select(col("id").as("c_id"), col("modified").as("c_modified"))
    val i = indexed.select(col("id").as("i_id"), col("modified").as("i_modified"),
      col("error_cnt"))
    c.join(i, c("c_id") === i("i_id"), "full_outer")
      .select(
        coalesce(col("c_id"), col("i_id")).as("id"),
        when(col("i_id").isNull, "new")
          .when(col("c_id").isNull, "deleted")
          .when(col("c_modified") === col("i_modified") && col("error_cnt") === 0, "unchanged")
          .otherwise("modified")
          .as("status"))
  }

  /** queries() wrapper: derives two deterministic snapshots from `orders`
    * (id = o_orderkey; ~1/5 of docs touched since last crawl, ~1/13 deleted
    * from the source, ~1/7 newly appeared, ~1/11 previously errored).
    */
  def qSyncDiff(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val crawled = o
      .filter(col("o_orderkey") % 13 =!= 0)
      .select(
        col("o_orderkey").as("id"),
        when(col("o_orderkey") % 5 === 0, col("o_orderdate") + expr("INTERVAL 1 DAY"))
          .otherwise(col("o_orderdate")).as("modified"))
    val indexed = o
      .filter(col("o_orderkey") % 7 =!= 0)
      .select(
        col("o_orderkey").as("id"),
        col("o_orderdate").as("modified"),
        when(col("o_orderkey") % 11 === 0, lit(1)).otherwise(lit(0)).as("error_cnt"))
    syncDiff(crawled, indexed).orderBy("id")
  }

  // ------------------------------------------------------------ crawl_frontier

  /** crawl_sitemap.py:15 */
  val SkipExtensions: Seq[String] = Seq("png", "svg", "jpg", "gif", "eps", "jpeg")

  /** URL frontier: dedup (keep smallest id per url), skip binary extensions,
    * drop exact-match blacklisted paths, drop robots-disallowed path prefixes.
    * Rules are broadcast; the url set is only shuffled once (the dedup).
    */
  def crawlFrontier(
      urls: DataFrame, // (doc_id, url)
      blacklistPaths: Seq[String],
      disallowPrefixes: Seq[String]): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val deduped = urls
      .groupBy("url")
      .agg(min("doc_id").as("id"))
      .withColumn("path", regexp_replace(col("url"), "^https?://[^/]+", ""))
      .withColumn("ext", lower(regexp_extract(col("url"), "\\.([A-Za-z0-9]+)\\z", 1)))
    val kept = deduped
      .filter(!col("ext").isin(SkipExtensions: _*))
      .filter(!col("path").isin(blacklistPaths: _*))
    val robots = broadcast(disallowPrefixes.toDF("prefix"))
    kept
      .join(robots, col("path").startsWith(col("prefix")), "left_anti")
      .select("id", "url")
  }

  /** queries() wrapper: synthesizes a deterministic url per document row
    * (collisions via doc_id mod 37 exercise the dedup; extension classes via
    * doc_id mod 10 exercise the skip list).
    */
  def qCrawlFrontier(s: SparkSession, d: String): DataFrame = {
    val ext = element_at(
      array(Seq(".html", "", ".pdf", ".php", ".aspx", "", ".gif", ".jpg", ".png", ".svg")
        .map(lit): _*),
      (col("doc_id") % 10 + 1).cast("int"))
    val urls = Tables.documents(s, d).select(
      col("doc_id"),
      concat(lit("https://"), col("source"), lit(".example.eu/docs/"),
        (col("doc_id") % 37).cast("string"), ext).as("url"))
    crawlFrontier(urls, Seq("/docs/5", "/docs/15.php"), Seq("/docs/1", "/docs/33"))
      .orderBy("id", "url")
  }

  // ------------------------------------------------------------ frontier_bloom

  /** The frontier's seen-set at 100 TB: a distributed BLOOM PREFILTER in
    * front of the exact anti-join. A crawl accumulates billions of
    * already-processed URLs; anti-joining every candidate against that
    * set shuffles BOTH sides on the url. The bloom filter
    * ([[graft.functions.BloomBuildAgg]] — built as a partial aggregate,
    * OR-merged, never collected) rides a 1-row broadcast instead:
    * candidates it rejects are DEFINITELY unseen (no false negatives) and
    * skip the join entirely; only the `fpp` false-positive sliver plus the
    * genuinely-seen rows reach the exact anti-join, so the shuffle
    * carries ~|seen ∩ candidates| + fpp·|candidates| rows instead of
    * |candidates|. The final result is EXACT — the bloom only routes.
    *
    * `expectedSeen` sizes the filter (textbook m/k from fpp); overshoot
    * just raises the FP rate, never costs correctness.
    */
  def frontierBloom(candidates: DataFrame, seen: DataFrame,
      expectedSeen: Long, fpp: Double = 0.01): DataFrame = {
    import graft.functions.BloomFns._
    val bloomDf = seen.agg(
      bloom_build(xxhash64(col("url")), expectedSeen, fpp).as("bloom"))
    val probed = candidates.crossJoin(broadcast(bloomDf))
      .withColumn("maybe_seen",
        bloom_might_contain(xxhash64(col("url")), col("bloom")))
    val definitelyNew = probed.filter(!col("maybe_seen"))
      .drop("bloom", "maybe_seen")
    // shuffle_hash: a broadcast build of the seen side allocates a full
    // BytesToBytesMap page (16 MB) however few urls it holds, and the page
    // stays in the driver's MemoryStore until the ContextCleaner sweeps it
    val confirmedNew = probed.filter(col("maybe_seen"))
      .drop("bloom", "maybe_seen")
      .join(seen.select("url").hint("shuffle_hash"), Seq("url"), "left_anti")
    definitelyNew.unionByName(confirmedNew)
  }

  /** queries() wrapper: unique candidate urls from every doc; docs ≡ 0
    * (mod 3) were seen by the previous crawl. The result is exact (the
    * oracle is the plain anti-join) — what the bloom changes is the plan,
    * not the answer.
    */
  def qFrontierBloom(s: SparkSession, d: String): DataFrame = {
    def url = concat(lit("https://"), col("source"), lit(".example.eu/docs/"),
      col("doc_id"), lit(".html")).as("url")
    val docs = Tables.documents(s, d)
    val candidates = docs.select(col("doc_id"), url)
    val seen = docs.filter(col("doc_id") % 3 === 0).select(url)
    frontierBloom(candidates, seen, expectedSeen = 10000)
      .select("doc_id", "url").orderBy("doc_id")
  }

  /** fnmatch glob → Java regex with the reference's full semantics
    * (dags/lib/robots_txt.py:22 `applies_to`, which delegates to Python
    * `fnmatch.fnmatchcase`): `*` any run, `?` one char, `[seq]` / `[!seq]`
    * character classes (fnmatch honors these, so we must too); trailing `$`
    * forces an exact match, otherwise a trailing `*` is implied. Shared by
    * `robotsDisallowed` and `ploneSearch`'s robots filter; the translation
    * core lives in [[graft.functions.GlobRegex]] so `robotsCanFetch` can
    * apply the identical semantics to rule COLUMNS (rules-as-data) via the
    * native expression.
    */
  private[operators] def globToRegex(rule: String): String =
    graft.functions.GlobRegex.translate(rule)

  /** Robots rule matching: a path is disallowed when it starts with the
    * rule, or when it glob-matches (`globToRegex`). Rules are a tiny
    * broadcast table; the url side is matched with one codegen'd rlike per
    * row, no shuffle.
    */
  def robotsDisallowed(urls: DataFrame, rules: Seq[String]): DataFrame = {
    val spark = urls.sparkSession
    import spark.implicits._
    val ruleDf = broadcast(rules.map(r => (r, globToRegex(r))).toDF("rule", "rx"))
    urls
      .join(ruleDf, col("path").startsWith(col("rule")) || rlike(col("path"), col("rx")))
      .select(urls.columns.toSeq.map(col): _*)
      .distinct()
  }

  // ------------------------------------------------------------ mark_redirects

  /** d7 semantics: join index docs to their latest fetch status; emit an
    * update only when the redirect state changed, and never touch docs
    * carrying a different (manual) exclusion value.
    */
  def markRedirects(
      docs: DataFrame, // (doc_id, exclude_from_globalsearch)
      fetch: DataFrame // (doc_id, redirected: boolean)
  ): DataFrame = {
    val joined = docs.join(fetch, Seq("doc_id"), "inner")
    val alreadyRedirected = col("exclude_from_globalsearch") === "redirected"
    val skip = col("exclude_from_globalsearch").isNotNull && !alreadyRedirected
    joined
      .filter(!skip)
      .filter(col("redirected") =!= coalesce(alreadyRedirected, lit(false)))
      .select(
        col("doc_id"),
        lit(true).as("update_only"),
        when(col("redirected"), "redirected").otherwise(lit(null).cast("string"))
          .as("exclude_from_globalsearch"))
  }

  def qMarkRedirects(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      col("doc_id"),
      when(col("doc_id") % 11 === 0, "redirected")
        .when(col("doc_id") % 17 === 0, "manual")
        .otherwise(lit(null).cast("string")).as("exclude_from_globalsearch"))
    val fetch = Tables.documents(s, d).select(
      col("doc_id"), (col("doc_id") % 7 === 0).as("redirected"))
    markRedirects(docs, fetch).orderBy("doc_id")
  }

  // --------------------------------------------------------------- error_retry

  /** d1_sync.py:83 `test_errors` as a set operation. `current` is the set of
    * ids erroring right now, `prior` the persisted (error_cnt, skip_cnt)
    * state. Emits the next state plus an action:
    *  - "dropped": previously tracked, no longer erroring (state deleted)
    *  - "retry":   erroring but under the error threshold (crawl again)
    *  - "skip":    over the error threshold, under the skip threshold
    *  - "reset":   both thresholds exhausted (state deleted, crawl again)
    */
  def errorRetry(
      current: DataFrame, // (id)
      prior: DataFrame, // (id, error_cnt, skip_cnt)
      allowedErrorsForDoc: Int,
      skipDocCnt: Int): DataFrame = {
    val c = current.select(col("id").as("c_id"))
    val p = prior.select(col("id").as("p_id"), col("error_cnt"), col("skip_cnt"))
    c.join(p, c("c_id") === p("p_id"), "full_outer")
      .select(
        coalesce(col("c_id"), col("p_id")).as("id"),
        when(col("c_id").isNull, "dropped")
          .when(col("p_id").isNull, "retry")
          .when(col("error_cnt") < allowedErrorsForDoc, "retry")
          .when(col("skip_cnt") < skipDocCnt, "skip")
          .otherwise("reset").as("action"),
        when(col("c_id").isNull, lit(null).cast("long")) // state deleted
          .when(col("p_id").isNull, 1L)
          .when(col("error_cnt") < allowedErrorsForDoc, col("error_cnt") + 1)
          .when(col("skip_cnt") < skipDocCnt, col("error_cnt"))
          .otherwise(lit(null).cast("long")).as("error_cnt"),
        when(col("c_id").isNull, lit(null).cast("long"))
          .when(col("p_id").isNull, 0L)
          .when(col("error_cnt") < allowedErrorsForDoc, col("skip_cnt"))
          .when(col("skip_cnt") < skipDocCnt, col("skip_cnt") + 1)
          .otherwise(lit(null).cast("long")).as("skip_cnt"))
  }

  def qErrorRetry(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    val current = ev.filter(col("event_type") === "error")
      .select(col("user_id").as("id")).distinct()
    val prior = ev.select(col("user_id").as("id")).distinct()
      .filter(col("id") % 2 === 0)
      .select(col("id"), (col("id") % 5).as("error_cnt"), (col("id") % 3).as("skip_cnt"))
    errorRetry(current, prior, allowedErrorsForDoc = 3, skipDocCnt = 2).orderBy("id")
  }

  // ---------------------------------------------------------- delete_threshold

  /** Delete-threshold guard, per source: compare the previous snapshot's doc
    * set against the current crawl; if the share of docs that would be
    * deleted exceeds `thresholdPct`, flag the source for abort instead of
    * deleting (crawl_sitemap.py:113-:138).
    */
  def deleteThreshold(
      previous: DataFrame, // (id, source)
      current: DataFrame, // (id, source)
      thresholdPct: Double): DataFrame = {
    val stillThere = previous.join(current, Seq("id", "source"), "left_semi")
      .groupBy("source").agg(count(lit(1)).as("kept_cnt"))
    previous
      .groupBy("source").agg(count(lit(1)).as("prev_cnt"))
      .join(stillThere, Seq("source"), "left_outer")
      .select(
        col("source"),
        col("prev_cnt"),
        coalesce(col("kept_cnt"), lit(0L)).as("kept_cnt"),
        (col("prev_cnt") - coalesce(col("kept_cnt"), lit(0L))).as("to_delete"),
        roundHalfUp(
          (col("prev_cnt") - coalesce(col("kept_cnt"), lit(0L))) * 100.0 / col("prev_cnt"), 4)
          .as("delete_pct"))
      .withColumn("should_abort", col("delete_pct") > thresholdPct)
  }

  def qDeleteThreshold(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val previous = docs.select(col("doc_id").as("id"), col("source"))
    val current = previous
      .filter(col("id") % 10 =!= 0)
      .filter(!(col("source") === "src3" && col("id") % 2 === 0))
    deleteThreshold(previous, current, thresholdPct = 25.0).orderBy("source")
  }

  // ------------------------------------------------------------- url_canonical

  /** URL canonicalization — the normalization the reference's frontier dedup
    * implicitly relies on (crawlers compare URLs from sitemaps, the Plone
    * API and the index; textually-different spellings of the same resource
    * must collapse before `sync_diff`/`crawl_frontier` set logic runs):
    * lowercase scheme + host, drop the default port (:80 http / :443
    * https), drop the fragment, collapse trailing slashes on the path
    * (empty path → "/"), and sort the query parameters (param order is not
    * semantic). Pure regex/array expressions — per-row, zero shuffle.
    */
  def canonicalizeUrls(urls: DataFrame, urlCol: String): DataFrame = {
    val u = col(urlCol)
    // \z (end of INPUT), not $: Java's bare $ also matches before a final
    // \n-class terminator, so a URL with an embedded trailing newline would
    // canonicalize differently in Java than in RE2/Python ($ there is
    // end-of-text). \z means the same thing in all three engines.
    val scheme = lower(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1))
    val hostRaw = lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val host = when(scheme === "http", regexp_replace(hostRaw, ":80\\z", ""))
      .when(scheme === "https", regexp_replace(hostRaw, ":443\\z", ""))
      .otherwise(hostRaw)
    val pathRaw = regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path = when(regexp_replace(pathRaw, "/+\\z", "") === "", lit("/"))
      .otherwise(regexp_replace(pathRaw, "/+\\z", ""))
    // fragment stripped FIRST so a '?' inside the fragment can never be
    // resurrected as a query string. (?s)#.* — "first # to end of string,
    // newlines included" — rather than #.*$, whose dot stops at \n and
    // whose $ is the engine seam above.
    val noFrag = regexp_replace(u, "(?s)#.*", "")
    val query = regexp_extract(noFrag, "(?s)\\?(.*)", 1)
    val sortedQuery = when(query === "", lit(""))
      .otherwise(concat(lit("?"), array_join(array_sort(split(query, "&")), "&")))
    urls.withColumn("url_canonical",
      when(scheme === "", u) // not an absolute URL: pass through untouched
        .otherwise(concat(scheme, lit("://"), host, path, sortedQuery)))
  }

  /** queries() wrapper: every mess the rule set must fix — mixed-case
    * scheme/host, default and non-default ports, trailing slashes, unsorted
    * query params, fragments — plus a relative URL that must pass through.
    */
  def qUrlCanonical(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val url = when(id % 7 === 0, concat(lit("HTTP://Example.EU:80/Docs/"), id, lit("/#frag")))
      .when(id % 7 === 1, concat(lit("https://example.eu:443/d/"), id, lit("?b=2&a=1")))
      .when(id % 7 === 2, concat(lit("https://example.eu:8443/d/"), id, lit("/")))
      .when(id % 7 === 3, concat(lit("http://EXAMPLE.eu"), lit("?z=9&y=8&x=7")))
      .when(id % 7 === 4, concat(lit("relative/path/"), id, lit("-"), col("text")))
      .when(id % 7 === 5, concat(lit("http://example.eu/a//b///"), id, lit("////")))
      // doc text spliced into the PATH: hostile corpora
      // (tools/crawl_differential.py) put '#', '?', newlines, unicode and
      // percent-junk here, driving the fragment/query/trailing-slash rules
      // through real content on both engines
      .otherwise(concat(lit("https://example.eu/d/"), id, lit("-"), col("text"),
        lit("?a=1&b=2#x")))
    canonicalizeUrls(
      Tables.documents(s, d).select(id, url.as("url")), "url")
      .select("doc_id", "url", "url_canonical")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------- sitemap_parse

  /** Sitemap XML → URL rows (lib/sitemap.py: the crawler's URL source): pull
    * every `<loc>` and its sibling `<lastmod>` out of the per-site sitemap
    * string with one regex pass, explode to one row per URL. The reference
    * parses with lxml; the sitemap format is rigid enough (loc/lastmod
    * leaf text) that anchored regex extraction is the standard shortcut —
    * and it keeps the whole parse inside codegen'd string expressions
    * (a `from_xml` schema parse drops to interpreted paths for no gain
    * here). Per-row explode; no shuffle.
    */
  def parseSitemaps(sitemaps: DataFrame, xmlCol: String): DataFrame =
    sitemaps
      .withColumn("entry",
        explode(regexp_extract_all(col(xmlCol), lit("(?s)<url>(.*?)</url>"), lit(1))))
      .withColumn("url", regexp_extract(col("entry"), "<loc>([^<]*)</loc>", 1))
      .withColumn("lastmod", regexp_extract(col("entry"), "<lastmod>([^<]*)</lastmod>", 1))
      .drop(xmlCol, "entry")

  /** queries() wrapper: build one sitemap string per source (url entries in
    * doc-id order, every third with a lastmod), parse back to rows — a
    * deterministic round-trip the DuckDB oracle rebuilds identically.
    */
  def qSitemapParse(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    // doc text spliced into the <loc>: hostile corpora put unicode paths,
    // stray '<'/'&', even literal "</loc>"/"</url>" here — the regex
    // extraction must behave identically in Java and RE2 on all of it
    val entry = concat(
      lit("<url><loc>https://example.eu/d/"), id, lit("-"), col("text"), lit("</loc>"),
      when(id % 3 === 0, concat(lit("<lastmod>2026-0"), id % 9 + 1, lit("-01</lastmod>")))
        .otherwise(lit("")),
      lit("</url>"))
    val sitemaps = Tables.documents(s, d)
      .select(col("source"), id, entry.as("e"))
      .groupBy("source")
      .agg(concat(lit("<urlset>"),
        array_join(array_sort(collect_list(struct(id, col("e")))).getField("e"), ""),
        lit("</urlset>")).as("xml"))
    parseSitemaps(sitemaps, "xml")
      .select("source", "url", "lastmod")
      // lastmod participates in the sort: a text-planted "</url>" can
      // split an entry into fragments that all extract url='' — rows that
      // tie on (source, url) but differ in lastmod must still order
      // deterministically on both engines
      .orderBy("source", "url", "lastmod")
  }

  // ------------------------------------------------------------- link_extract

  /** HTML → outgoing-link table: every `<a href="...">` with its anchor
    * text, hrefs resolved against the page url — the edge source for
    * [[GraphOps.pageRank]] and the in-page half of frontier discovery
    * (sitemaps and the Plone API enumerate a site's OWN pages; anchors are
    * how a crawl discovers everything else).
    *
    * Parsing is the same anchored-regex-in-codegen tier as
    * [[parseSitemaps]]: one `regexp_extract_all` per capture group (the
    * match list is identical, so the (href, anchor) arrays zip
    * positionally), `posexplode` to rows, anchor text tag-stripped. Only
    * double-quoted hrefs are matched (the normalized-HTML convention, same
    * scope as the reference's own regex-level html handling). Resolution:
    * absolute http(s) kept; `/path` joins the page's scheme+host; other
    * relative paths join the page's directory; `#`/`javascript:`/`mailto:`
    * drop. Per-row explode, zero shuffle.
    */
  def linkExtract(docs: DataFrame, htmlCol: String, pageUrlCol: String): DataFrame = {
    val LinkRe = "(?is)<a\\s[^>]*href\\s*=\\s*\"([^\"]*)\"[^>]*>(.*?)</a>"
    val hrefs = regexp_extract_all(col(htmlCol), lit(LinkRe), lit(1))
    val anchors = regexp_extract_all(col(htmlCol), lit(LinkRe), lit(2))
    val host = regexp_extract(col(pageUrlCol), "^https?://[^/]+", 0)
    val dir = regexp_replace(col(pageUrlCol), "/[^/]*\\z", "/")
    docs
      .select(col("*"), posexplode(arrays_zip(hrefs, anchors)).as(Seq("pos", "lnk")))
      .withColumn("href", col("lnk.0"))
      .withColumn("anchor", graft.functions.TextFns.zsTrim(regexp_replace(col("lnk.1"), graft.functions.TextFns.HtmlTagRe, "")))
      // scheme names are case-insensitive (RFC 3986 §3.1): JAVASCRIPT: and
      // HTTPS:// must behave exactly like their lowercase forms — a
      // case-sensitive test would treat HTTPS://ex.eu/x as a
      // directory-relative path and corrupt the link graph fed to pageRank
      .filter(!col("href").startsWith("#") &&
        !col("href").rlike("(?i)^javascript:") && !col("href").rlike("(?i)^mailto:") &&
        col("href") =!= "")
      .withColumn("link_url",
        when(col("href").rlike("(?i)^https?://"), col("href"))
          // protocol-relative (//cdn.example.com/x): page scheme + href —
          // checked BEFORE the root-relative branch, which would otherwise
          // corrupt it into host//cdn.example.com/x
          .when(col("href").startsWith("//"),
            concat(regexp_extract(col(pageUrlCol), "^(https?):", 1), lit(":"), col("href")))
          .when(col("href").startsWith("/"), concat(host, col("href")))
          .otherwise(concat(dir, col("href"))))
      .drop("pos", "lnk", "href")
  }

  /** queries() wrapper: synthesizes one html body per doc carrying an
    * absolute link, a root-relative link, a directory-relative link, and
    * the three droppable kinds (fragment, javascript, mailto), plus a
    * nested-markup anchor — the oracle rebuilds the same extraction with
    * DuckDB's regexp_extract_all.
    */
  def qLinkExtract(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val html = concat(
      lit("<p>intro</p><a href=\"https://other.eu/p/"), id % 13,
      lit("\">Abs <b>link</b></a><a href=\"/docs/"), id % 7,
      lit(".html\">Rooted</a><a href=\"rel/"), id % 5,
      lit("\">Relative</a><a href=\"//cdn.eu/c/"), id % 3,
      lit("\">Proto</a><a href=\"#frag\">Skip</a>"),
      lit("<a href=\"javascript:void(0)\">Js</a><a href=\"mailto:a@b.eu\">Mail</a>"),
      // doc text spliced into one href AND one anchor body: hostile
      // corpora put quotes (early href close), angle brackets (anchor
      // tag-strip), newlines ((?s) spans) and unicode here
      lit("<a href=\"sub/"), col("text"), lit("\">T "), col("text"), lit("</a>"))
    val pageUrl = concat(lit("https://site.eu/docs/page"), id, lit(".html"))
    linkExtract(
      Tables.documents(s, d).select(id, html.as("html"), pageUrl.as("page_url")),
      "html", "page_url")
      .select("doc_id", "link_url", "anchor")
      // anchor in the sort: text-planted anchors can collide on
      // (doc_id, link_url) with different anchor text
      .orderBy("doc_id", "link_url", "anchor")
  }

  // ------------------------------------------------------------- plone_search

  /** The Plone-REST-API site crawler's per-site admission config — the
    * knobs `parse_all_documents` reads from site_config
    * (crawlers/crawlers/crawl_plone_restapi.py:30-54):
    *  - `apiPart`: `url_api_part` — the path segment `get_no_api_url`
    *    strips to turn an API item URL into the public doc id
    *    (lib/plone_rest_api.py:51-86).
    *  - `fixItemsUrl`: `(with_api, without_api)` host replacement for sites
    *    whose API lives on a different host prefix (plone_rest_api.py:56-72).
    *  - `urlsWhitelist`/`urlsBlacklist`: exact doc-id admission
    *    (crawl_plone_restapi.py:72-80).
    *  - `portalTypes`/`typesBlacklist`: `@type` keep/drop lists (:85-95).
    *  - `skipDocs`: per-run error quarantine (:99-101).
    *  - `ignoreSeoNoindex`: keep docs carrying the seo_noindex meta (:96-98).
    *  - `robotsDisallow`: robots.txt rules, full fnmatch semantics (:82-84).
    */
  case class PloneSiteConfig(
      apiPart: String = "",
      fixItemsUrl: Option[(String, String)] = None, // (with_api, without_api)
      urlsWhitelist: Seq[String] = Nil,
      urlsBlacklist: Seq[String] = Nil,
      portalTypes: Seq[String] = Nil,
      typesBlacklist: Seq[String] = Nil,
      skipDocs: Seq[String] = Nil,
      ignoreSeoNoindex: Boolean = false,
      robotsDisallow: Seq[String] = Nil)

  /** The Plone-REST-API URL source — the second of the reference's two URL
    * enumerators (sitemaps being the first): `@search` result items →
    * admitted (doc_id, url, portal_type, modified) rows ready for
    * `syncDiff`/`crawlFrontier` composition
    * (crawl_plone_restapi.py:56-104, lib/plone_rest_api.py:87-184; the HTTP
    * paging itself is transport, out of scope per SURVEY §6 — this operator
    * is everything the crawler does with the page contents).
    *
    * Input `items`: (`api_url`, `portal_type`, `modification_date`,
    * `modified`, `seo_noindex`) — the metadata_fields the @search query
    * requests. All filters are per-row codegen'd predicates; the one join
    * (robots rules) is against a tiny broadcast table — zero shuffle at any
    * corpus size.
    */
  def ploneSearch(items: DataFrame, cfg: PloneSiteConfig): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._

    // get_no_api_url (plone_rest_api.py:51-86): fix_items_url host swap
    // takes priority; otherwise every "/<apiPart>/" path segment collapses
    // (Python "/".join(url.split(f"/{part}/")) replaces all occurrences)
    val url = cfg.fixItemsUrl match {
      case Some((withApi, withoutApi)) =>
        when(col("api_url").contains(withoutApi + "/"), col("api_url"))
          .otherwise(regexp_replace(col("api_url"),
            java.util.regex.Pattern.quote(withApi), withoutApi))
      case None =>
        if (cfg.apiPart.trim.isEmpty) col("api_url")
        else regexp_replace(col("api_url"),
          "/" + java.util.regex.Pattern.quote(cfg.apiPart) + "/", "/")
    }

    val base = items
      .withColumn("url", url)
      .withColumn("modified", coalesce(col("modification_date"), col("modified")))
      .withColumn("path", regexp_replace(col("url"), "^https?://[^/]+", ""))
      // SKIP_EXTENSIONS guard is File-typed docs only (:89-92); the
      // extension is Python's url.split(".")[-1]
      .withColumn("ext", lower(element_at(split(col("url"), "\\."), -1)))

    val whitelisted =
      if (cfg.urlsWhitelist.nonEmpty) col("url").isInCollection(cfg.urlsWhitelist)
      else lit(true)
    val admitted = base
      .filter(whitelisted)
      .filter(if (cfg.urlsBlacklist.nonEmpty)
        !col("url").isInCollection(cfg.urlsBlacklist) else lit(true))
      .filter(if (cfg.portalTypes.nonEmpty)
        col("portal_type").isInCollection(cfg.portalTypes) else lit(true))
      .filter(!(col("portal_type") === "File" && col("ext").isin(SkipExtensions: _*)))
      .filter(if (cfg.typesBlacklist.nonEmpty)
        !col("portal_type").isInCollection(cfg.typesBlacklist) else lit(true))
      .filter(if (cfg.ignoreSeoNoindex) lit(true)
        else !coalesce(col("seo_noindex"), lit(false)))
      .filter(if (cfg.skipDocs.nonEmpty)
        !col("url").isInCollection(cfg.skipDocs) else lit(true))

    // robots.txt (:82-84), same broadcast rule table as robotsDisallowed
    val robotsFree =
      if (cfg.robotsDisallow.isEmpty) admitted
      else {
        val ruleDf = broadcast(
          cfg.robotsDisallow.map(r => (r, globToRegex(r))).toDF("rule", "rx"))
        admitted.join(ruleDf,
          col("path").startsWith(col("rule")) || rlike(col("path"), col("rx")),
          "left_anti")
      }
    robotsFree.drop("path", "ext")
  }

  /** queries() wrapper: synthesizes a Plone @search result page per document
    * row — every admission knob exercised (api-part strip, blacklist,
    * portal-type keep + drop, File-extension skip, seo_noindex, skip_docs,
    * a `?`-glob and a prefix robots rule) — then selects the frontier
    * columns. The DuckDB oracle rebuilds the same filter chain.
    */
  def qPloneSearch(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val ptype = when(id % 7 === 0, lit("File"))
      .when(id % 7 === 1, lit("Event"))
      .when(id % 7 === 2, lit("Discussion Item"))
      .otherwise(lit("Document"))
    val ext = when(id % 7 === 0,
      when(id % 2 === 0, lit(".pdf")).otherwise(lit(".png"))).otherwise(lit(""))
    val items = Tables.documents(s, d).select(
      id,
      concat(lit("https://site.example.eu/api/docs/"), id, ext).as("api_url"),
      ptype.as("portal_type"),
      when(id % 5 === 0, concat(lit("2026-01-0"), id % 9 + 1)).as("modification_date"),
      concat(lit("2025-12-0"), id % 9 + 1).as("modified"),
      (id % 13 === 0).as("seo_noindex"))
    ploneSearch(items, PloneSiteConfig(
      apiPart = "api",
      urlsBlacklist = Seq("https://site.example.eu/docs/17"),
      portalTypes = Seq("Document", "File", "Event"),
      typesBlacklist = Seq("Event"),
      skipDocs = Seq("https://site.example.eu/docs/23"),
      ignoreSeoNoindex = false,
      robotsDisallow = Seq("/docs/3?", "/docs/11")))
      .select("doc_id", "url", "portal_type", "modified")
      .orderBy("doc_id")
  }

  // ------------------------------------------------------- plone_attachments

  /** Content types whose attachments the reference's converter sidecar
    * extracts (lib/plone_rest_api.py:280-284 CONTENT_TYPES_TO_EXTRACT plus
    * the inline application/pdf check at :327-331): PDF and the three
    * Word container types.
    */
  val PloneExtractTypes: Seq[String] = Seq(
    "application/pdf",
    "application/msword",
    "application/vnd.openxmlformats-officedocument.wordprocessingml.document",
    "application/vnd.ms-word.document.macroEnabled.12")

  /** `fix_download_url` (lib/plone_rest_api.py:274-277): on the main-site
    * host (www.eea.europa.eu) OUTSIDE the /en/ tree, `@@download` URLs
    * rewrite to `at_download` (the pre-migration traversal name) — unless
    * the URL is the static-PDF endpoint. Pure URL algebra, the same class
    * as url_canonical: the reference's str.replace swaps EVERY occurrence
    * (regexp_replace is global and `@@download` has no regex
    * metacharacters), and the `en` test is path-SEGMENT membership
    * (`'en' not in url.split('/')`), not a substring match — limit −1
    * keeps trailing empty segments exactly like Python's split.
    */
  def fixDownloadUrl(downloadUrl: Column, sourceUrl: Column): Column =
    when(sourceUrl.contains("www.eea.europa.eu")
        && !array_contains(split(sourceUrl, "/", -1), "en")
        && !downloadUrl.endsWith("@@download/pdfStatic"),
      regexp_replace(downloadUrl, "@@download", "at_download"))
      .otherwise(downloadUrl)

  /** The data half of `extract_attachments` (lib/plone_rest_api.py:287-357)
    * — one row per extractable attachment of a Plone JSON document, the
    * table the converter fetch consumes (the HTTP fetch + pdf-to-text call
    * are §6 non-goals; their output is the pdf_text sidecar
    * `nlp_preprocess` already reads). Two discovery paths, exactly the
    * reference's:
    *
    *  - FIELD scan (:319-346): every top-level key whose value is a dict
    *    carrying all of {content-type, download, filename}
    *    (`is_field_of_type(value, "file")`, :264-271 — KEY presence, so a
    *    JSON object discovered via `json_object_keys` of the field text,
    *    never a fixed schema) and whose content-type is in
    *    [[PloneExtractTypes]]; its download URL gets the
    *    [[fixDownloadUrl]] host-swap against the doc's own `id` URL.
    *  - report_pdf ITEMS (:299-314): docs of `@type = report_pdf` emit one
    *    row per `items[]` child of `@type = File`, download URL =
    *    child `@id` + "/@@download/file" (the reference applies NO host
    *    swap on this path).
    *
    * Per-row JSON expression work only (json_object_keys /
    * get_json_object / from_json) — a pure narrow pipeline, zero shuffle;
    * output keeps every input column plus (field, filename, content_type,
    * download_url). `extractPdf` mirrors the reference flag that gates
    * BOTH paths (:326-333 and :300).
    */
  def ploneAttachments(docs: DataFrame, jsonCol: String,
      extractPdf: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    val js = col(jsonCol)
    val srcUrl = get_json_object(js, "$.id")
    val fieldRows = docs
      .filter(lit(extractPdf))
      .select(col("*"), explode(json_object_keys(js)).as("field"))
      // dynamic JSON path (the field name is data): the Scala function
      // signature pins path to a literal, but the underlying Catalyst
      // GetJsonObject accepts any expression — bridge it directly
      .withColumn("__fjs", {
        import org.apache.spark.sql.graftbridge.GraftSqlBridge
        GraftSqlBridge.column(
          org.apache.spark.sql.catalyst.expressions.GetJsonObject(
            GraftSqlBridge.expression(js),
            GraftSqlBridge.expression(
              concat(lit("$['"), col("field"), lit("']")))))
      })
      .withColumn("__fkeys", json_object_keys(col("__fjs")))
      // non-objects yield NULL keys and drop — isinstance(field, dict)
      .filter(col("__fkeys").isNotNull
        && array_contains(col("__fkeys"), "content-type")
        && array_contains(col("__fkeys"), "download")
        && array_contains(col("__fkeys"), "filename"))
      .withColumn("content_type", get_json_object(col("__fjs"), "$['content-type']"))
      .filter(col("content_type").isInCollection(PloneExtractTypes))
      .withColumn("filename", get_json_object(col("__fjs"), "$['filename']"))
      .withColumn("download_url",
        fixDownloadUrl(get_json_object(col("__fjs"), "$['download']"), srcUrl))
      .drop("__fjs", "__fkeys")
    val itemsSchema = ArrayType(StructType(Seq(
      StructField("@id", StringType), StructField("@type", StringType))))
    val reportRows = docs
      .filter(lit(extractPdf) &&
        get_json_object(js, "$['@type']") === "report_pdf")
      .select(col("*"),
        explode(from_json(get_json_object(js, "$.items"), itemsSchema)).as("__it"))
      .filter(col("__it").getField("@type") === "File")
      .select(col("*"),
        lit("items").as("field"),
        lit(null).cast("string").as("filename"),
        lit(null).cast("string").as("content_type"),
        concat(col("__it").getField("@id"), lit("/@@download/file")).as("download_url"))
      .drop("__it")
    fieldRows.unionByName(reportRows)
  }

  /** The reference's hardcoded attachment-extraction skip URL
    * (lib/plone_rest_api.py:362-363).
    */
  val PloneExtractSkipUrl: String =
    "https://www.eea.europa.eu/en/analysis/publications/european-union-greenhouse-gas-inventory-2014"

  /** `extract_pdf`'s should_extract_pdf gate (lib/plone_rest_api.py:
    * 358-383): a doc's attachments are extracted unless (a) its `@id` is
    * the one hardcoded skip URL, or (b) the site sets `pdf_days_limit` > 0
    * and the doc's modification date (modification_date, falling back to
    * modified — the same coalesce the @search admission uses; a Plone
    * response omits the key rather than sending null, so column-level
    * coalesce mirrors the reference's dict-get default) is MORE than that
    * many days before `now`. The reference parses the date's 'T'-split
    * head with strptime('%Y-%m-%d') and compares (now − mod).days — with
    * mod at midnight that is exactly the calendar-day difference, so
    * `datediff(now_date, mod_date)` is the identical integer. `now` is a
    * caller-pinned DATE column (the always-on loop passes today;
    * deterministic pipelines pin a literal). A missing/blank date means
    * no staleness check (the reference's falsy test); a MALFORMED date
    * yields null from to_date and extracts where the reference would
    * raise — the lenient choice, documented here.
    */
  def ploneShouldExtractPdf(atId: Column, modificationDate: Column,
      modified: Column, now: Column, pdfDaysLimit: Int): Column = {
    val modStr = coalesce(modificationDate, modified)
    val stale =
      if (pdfDaysLimit <= 0) lit(false)
      else modStr.isNotNull && graft.functions.TextFns.zsTrim(modStr) =!= "" &&
        datediff(now, to_date(split(modStr, "T").getItem(0))) > pdfDaysLimit
    atId =!= lit(PloneExtractSkipUrl) && !stale
  }

  /** queries() wrapper: synthesizes a Plone document JSON per row
    * exercising every branch — the three host/tree cases of the URL swap
    * (main host, main host under /en/, foreign host), all four extractable
    * content types plus a non-extractable one, the pdfStatic exemption, a
    * near-miss field missing `filename` (never extracted), every 7th
    * doc a report_pdf whose items hold one File and one non-File child,
    * and the should_extract_pdf gate (pdf_days_limit = 365 against a
    * pinned now of 2026-08-15: doc_id%13==3 stale-dated and skipped —
    * a residue class DISJOINT from the %3 host classes, so fresh
    * main-host docs carry the at_download swap all the way into the
    * output; %13==8 stale via the `modified` fallback; every 11th doc
    * carrying the hardcoded skip URL). The DuckDB oracle restates the expected
    * rows from the same doc_id arithmetic — field typing, content-type
    * gate, date staleness, and the full replace/split/endswith URL
    * algebra.
    */
  def qPloneAttachments(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val url = when(id % 11 === 7, lit(PloneExtractSkipUrl))
      .when(id % 3 === 0, concat(lit("https://www.eea.europa.eu/x/doc"), id))
      .when(id % 3 === 1, concat(lit("https://www.eea.europa.eu/en/doc"), id))
      .otherwise(concat(lit("https://other.site/doc"), id))
    // dates for the staleness gate vs the pinned now (2026-08-15),
    // DECOUPLED from the %3 host modulus so the at_download swap and the
    // pdfStatic exemption both survive into the output on fresh main-host
    // docs: %13==3 stale 2024 modification_date (removed — and %91==42
    // hits report_pdf docs, so the gate is exercised on BOTH paths),
    // %13==5 no date at all (no staleness check), %13==6 no
    // modification_date with a fresh `modified` fallback, %13==8 no
    // modification_date with a STALE fallback (removed via the coalesce),
    // everything else fresh 2026-07
    val modificationDate =
      when(id % 13 === 3, concat(lit("2024-01-0"), id % 9 + 1, lit("T12:30:00")))
        .when(id % 13 === 5 || id % 13 === 6 || id % 13 === 8,
          lit(null).cast("string"))
        .otherwise(concat(lit("2026-07-0"), id % 9 + 1, lit("T00:10:00")))
    val modifiedFallback = when(id % 13 === 6, lit("2026-08-01"))
      .when(id % 13 === 8, lit("2024-02-03T08:00:00"))
    val ct = when(id % 4 === 0, lit("application/pdf"))
      .when(id % 4 === 1, lit("application/msword"))
      .when(id % 4 === 2, lit("text/html"))
      .otherwise(lit(
        "application/vnd.openxmlformats-officedocument.wordprocessingml.document"))
    val download = when(id % 5 === 0, concat(url, lit("/@@download/pdfStatic")))
      .otherwise(concat(url, lit("/file/@@download/file")))
    val items = when(id % 7 === 0, array(
      struct(concat(url, lit("/item0")).as("@id"), lit("File").as("@type")),
      struct(concat(url, lit("/item1")).as("@id"), lit("Image").as("@type"))))
    val js = to_json(struct(
      url.as("id"),
      when(id % 7 === 0, lit("report_pdf")).otherwise(lit("document")).as("@type"),
      struct(ct.as("content-type"), download.as("download"),
        concat(lit("f"), id, lit(".bin")).as("filename")).as("file"),
      struct(ct.as("content-type"), download.as("download")).as("thumb"),
      items.as("items")))
    val admitted = Tables.documents(s, d)
      .select(id, js.as("js"), url.as("at_id"),
        modificationDate.as("md"), modifiedFallback.as("mf"))
      .filter(ploneShouldExtractPdf(col("at_id"), col("md"), col("mf"),
        lit("2026-08-15").cast("date"), pdfDaysLimit = 365))
      .select(col("doc_id"), col("js"))
    ploneAttachments(admitted, "js")
      .select("doc_id", "field", "filename", "content_type", "download_url")
      .orderBy("doc_id", "field")
  }

  // ------------------------------------------------------------ site_for_url

  /** `find_site_by_url` (tasks/helpers.py:131-145) — route a doc URL to
    * its site id, which picks the registry normalizer. Semantics exactly
    * as the reference: scheme and surrounding slashes strip, the path
    * splits, and candidate prefixes drop 1..n-1 TRAILING segments
    * (longest first — the full URL itself is never a candidate, :136);
    * the first candidate equal to a site's scheme-stripped base URL wins;
    * no match → empty string. The site map is a handful of entries —
    * a `typedLit` map lookup per row, zero shuffle.
    */
  def siteForUrl(url: Column, siteMap: Map[String, String]): Column = {
    // scheme-agnostic strip mirroring the reference's split("://")[-1]:
    // HTTPS://, git+ssh:// etc. must strip too, not just [a-z]+ schemes
    val inv = siteMap.map { case (site, u) =>
      u.replaceAll("^[^/]*://", "").replaceAll("^/+|/+$", "") -> site
    }
    val m = typedLit(inv)
    val parts = split(
      regexp_replace(regexp_replace(url, "^[^/]*://", ""), "^/+|/+\\z", ""), "/")
    val names = when(size(parts) > 1,
      transform(sequence(size(parts) - 1, lit(1), lit(-1)),
        l => array_join(slice(parts, lit(1), l), "/")))
      .otherwise(array().cast("array<string>"))
    val hits = filter(names, nm => try_element_at(m, nm).isNotNull)
    coalesce(try_element_at(m, try_element_at(hits, lit(1))), lit(""))
  }

  /** queries() wrapper: urls across two sites (one nested under a longer
    * site base that must win by prefix length), an exact-base url (only
    * proper prefixes match — resolves to the PARENT site), and unknowns.
    */
  def qSiteForUrl(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val siteMap = Map(
      "noise" -> "https://noise.eea.europa.eu",
      "wise" -> "https://water.europa.eu/freshwater",
      "water" -> "https://water.europa.eu")
    val url =
      when(id % 4 === 0, concat(lit("https://noise.eea.europa.eu/page/"), id))
        .when(id % 4 === 1, concat(lit("https://water.europa.eu/freshwater/m/"), id))
        .when(id % 4 === 2, lit("https://water.europa.eu/freshwater"))
        .otherwise(concat(lit("https://other.example.eu/d/"), id))
    Tables.documents(s, d)
      .select(id, url.as("url"))
      .withColumn("site_id", siteForUrl(col("url"), siteMap))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------ sdi_children

  /** SDI dataset-series child assembly (crawl_sdi.py:137-155 `crawl_doc`):
    * each series doc lists component dataset ids in
    * `agg_associated_isComposedOf`; the reference fetches each id
    * (deduped keeping first occurrence, :144 dict.fromkeys), skips ids
    * that resolve to nothing (:146), coerces a scalar `linkProtocol` to a
    * list (:148-149), and attaches the docs as `children` in list order.
    *
    * Relationally: posexplode the (deduped) child-id list, one equi-join
    * against the corpus keyed by metadataIdentifier, and a groupBy that
    * re-collects `struct(pos, child)` sorted by pos — collect_list order
    * is nondeterministic under shuffles, so the position travels with the
    * row and the sort happens per-group. Parents keep their row even when
    * every child id dangles (left join + outer explode). At scale: one
    * shuffle join on the id key + one aggregation, both AQE-skew-safe; no
    * driver-side iteration.
    */
  def sdiChildren(docs: DataFrame,
      childCol: String = "agg_associated_isComposedOf"): DataFrame = {
    val kids = docs.select(
      col("metadataIdentifier").as("parent_id"),
      posexplode_outer(array_distinct(col(childCol))).as(Seq("pos", "child_id")))
    val corpus = docs.select(
      col("metadataIdentifier").as("child_id"),
      struct(
        col("metadataIdentifier"),
        col("changeDate"),
        // :148-149 — a scalar linkProtocol coerces to a one-element list;
        // a missing one defaults to the empty list (crawl_sdi.py :148 /
        // the .get(…, []) default)
        when(col("linkProtocol").isNotNull, array(col("linkProtocol")))
          .otherwise(array().cast("array<string>")).as("linkProtocol"))
        .as("child"))
      // the reference resolves each id to exactly ONE fetched doc; a
      // duplicated metadataIdentifier in the corpus must not multiply
      // child rows through the equi-join (which survivor wins is
      // arbitrary if the uniqueness precondition is violated)
      .dropDuplicates("child_id")
    val joined = kids.join(corpus, Seq("child_id"), "left")
    joined
      .groupBy("parent_id")
      .agg(
        array_sort(collect_list(
          when(col("child").isNotNull, // :146 — dangling ids drop
            struct(col("pos"), col("child"))))).as("kids"))
      .select(
        col("parent_id").as("metadataIdentifier"),
        transform(col("kids"), k => k.getField("child")).as("children"))
  }

  /** queries() wrapper: every third doc is a series composed of the next
    * two docs (one listed twice — the keep-first dedup) plus a dangling
    * id that must drop; linkProtocol arrives scalar and leaves a list.
    * Children scalarize to `|`-joined id/changeDate strings for the
    * hash compare.
    */
  // ------------------------------------------------------ frontier_schedule

  /** Politeness scheduling for a crawl frontier: assign every candidate URL
    * a fetch `wave` and within-wave `slot` such that no host is hit more
    * than `slotsPerWave` times per wave, highest-priority pages first.
    *
    * The reference crawls per-site DAGs sequentially, so politeness is
    * implicit (one Airflow task per site fetches one page at a time,
    * dags/crawlers/crawlers/crawl_sitemap.py drives a site's own list); a
    * 1000-executor crawl over millions of hosts needs the schedule to be
    * DATA — workers pull `wave = w` and the per-host cap holds by
    * construction, with no coordination beyond the precomputed column.
    *
    * Plan shape: when `maxPerHost` is set, truncation is a TWO-LEVEL
    * tournament so no single task ever sorts a pathological host whole
    * (a 100M-URL host would otherwise be one spilling sort task):
    * level 1 ranks within (host, hash-bucket of url) — each of the
    * `preTruncateBuckets` partitions sorts ~1/B of the host — and keeps
    * bucket-local rank ≤ maxPerHost; level 2 is the EXACT per-host
    * window over the survivors, whose input is now bounded at
    * B × maxPerHost rows per host regardless of host size. The
    * tournament is exact, not approximate: any row in a host's true
    * top-maxPerHost has at most maxPerHost−1 rows beating it in its own
    * bucket, so it always survives level 1; rows level 1 drops have ≥
    * maxPerHost better rows in one bucket alone and could never rank
    * inside the cap. Costs one extra shuffle (the bucket key) — the
    * price of bounding the sort; uncapped calls keep the single-window
    * plan. Deterministic: priority desc, then url asc as the tie-break.
    */
  def frontierSchedule(
      urls: DataFrame,
      hostCol: String,
      priorityCol: String,
      slotsPerWave: Int,
      maxPerHost: Long = Long.MaxValue,
      urlCol: String = "url",
      preTruncateBuckets: Int = 32): DataFrame = {
    require(slotsPerWave > 0, "slotsPerWave must be positive")
    val preFiltered =
      if (maxPerHost == Long.MaxValue || preTruncateBuckets <= 1) urls
      else {
        val wb = org.apache.spark.sql.expressions.Window
          .partitionBy(col(hostCol), col("__pbucket"))
          .orderBy(col(priorityCol).desc, col(urlCol))
        urls
          .withColumn("__pbucket", pmod(xxhash64(col(urlCol)), lit(preTruncateBuckets)))
          .withColumn("__prank", row_number().over(wb).cast("long"))
          .filter(col("__prank") <= maxPerHost)
          .drop("__pbucket", "__prank")
      }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(hostCol))
      .orderBy(col(priorityCol).desc, col(urlCol))
    preFiltered
      .withColumn("host_rank", row_number().over(w).cast("long"))
      .filter(col("host_rank") <= maxPerHost)
      .withColumn("wave", ((col("host_rank") - 1) / slotsPerWave).cast("long"))
      .withColumn("slot", ((col("host_rank") - 1) % slotsPerWave).cast("long"))
  }

  /** Oracle query: frontier synthesized from `documents` (host = source,
    * priority = n_chars), 3 slots per wave per host, 400-page host budget.
    */
  def qFrontierSchedule(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(
      concat(lit("https://"), col("source"), lit(".eu/d/"), col("doc_id"))
        .as("url"),
      col("source").as("host"),
      col("n_chars").as("priority"))
    frontierSchedule(docs, "host", "priority", slotsPerWave = 3,
        maxPerHost = 400L)
      .select("url", "host", "priority", "host_rank", "wave", "slot")
      .orderBy("host", "host_rank")
  }

  def qSdiChildren(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      id,
      concat(lit("md-"), id).as("metadataIdentifier"),
      concat(lit("2021-0"), id % 9 + 1, lit("-01")).as("changeDate"),
      when(id % 2 === 0, lit("WWW:LINK")).as("linkProtocol"),
      when(id % 3 === 0, array(
        concat(lit("md-"), id + 1),
        concat(lit("md-"), id + 2),
        concat(lit("md-"), id + 1), // duplicate — keep first
        concat(lit("md-"), id + 500000))) // dangling — drops
        .otherwise(array().cast("array<string>"))
        .as("agg_associated_isComposedOf"))
    sdiChildren(docs)
      .select(
        substring(col("metadataIdentifier"), 4, 20).cast("long").as("doc_id"),
        col("metadataIdentifier"),
        array_join(transform(col("children"),
          c => c.getField("metadataIdentifier")), "|").as("child_ids"),
        array_join(transform(col("children"),
          c => c.getField("changeDate")), "|").as("child_change_dates"),
        size(col("children")).cast("long").as("children_count"))
      .orderBy("doc_id")
  }

  // -------------------------------------------------------------- robots_parse

  /** robots.txt text → a user-agent-grouped rule table, mirroring the state
    * machine of CPython's `urllib.robotparser.RobotFileParser.parse` as the
    * reference uses it (dags/lib/robots_txt.py:49-65 builds the parser;
    * :9-43 swaps in the wildcard-capable RuleLine). Faithful semantics:
    *
    *  - a line's key is everything before the FIRST `:`, lowercased and
    *    trimmed; `#` starts a comment; a comment-only/whitespace-only line
    *    is a NO-OP (CPython strips it then `continue`s), but a truly EMPTY
    *    line ends the current entry (state 2 → push, state 1 → discard);
    *  - consecutive `User-agent` lines accumulate into ONE entry; a
    *    `User-agent` after rule lines (or after a blank) starts a new one;
    *  - `Crawl-delay` / `Request-rate` keep the entry "open" (CPython sets
    *    state=2) but emit no rule row; unknown keys (`Sitemap`, …) are
    *    no-ops for grouping too;
    *  - rules before the first `User-agent` line are dropped (state 0), as
    *    are rules after a blank line until the next `User-agent`;
    *  - an empty `Disallow:` value means allow-all (robots_txt.py:14-16:
    *    RuleLine flips allowance to True on an empty path).
    *
    * Rule paths are stored as trimmed raw text: the reference's
    * `unquote(quote(urlunparse(urlparse(path))))` normalization is the
    * identity for ASCII-safe paths (quote∘unquote always round-trips, and
    * urlparse∘urlunparse reassembles `path?query` unchanged), which is the
    * documented approximation for non-ASCII rule paths.
    *
    * Output: one row per rule — (host, group_id, agents, rule_idx,
    * allowance, path); `agents` is sorted for determinism (CPython matches
    * any-of, so order within an entry is not semantic).
    *
    * Scale: the windows partition by host and each host's robots.txt is a
    * few KB, so per-host work is trivially bounded and never skews;
    * parallelism = #hosts. One shuffle for the windows, one tiny
    * agents-per-group aggregate joined back on (host, group_id).
    */
  /** The shared parse core: one row per kept line with its entry
    * assignment — `group_id` (1-based entry index), `is_ua`, `closed`
    * (a blank line occurred at or before this row within the entry —
    * rows after it are state-0 noise), `key`, `value`.
    */

  /** Python `str.strip()` for robots lines — CPython's robotparser strips
    * FULL whitespace (`line.strip()`), not just spaces: tab-padded
    * `\tDisallow:` lines are real-web content and must parse. The class
    * lists the isspace() chars that can actually survive the splitlines
    * split (terminators are already consumed): space, \t, and the
    * non-terminator Unicode spaces, and U+001F (isspace() accepts it,
    * splitlines() does not split on it). Same class in the DuckDB
    * twins.
    */
  private val PyStripRe =
    "^[ \t\u001F\u00A0\u1680\u2000-\u200A\u202F\u205F\u3000]+|" +
    "[ \t\u001F\u00A0\u1680\u2000-\u200A\u202F\u205F\u3000]+\\z"
  private def pyStrip(c: Column): Column = regexp_replace(c, PyStripRe, "")

  private def robotsGrouped(robots: DataFrame, hostCol: String,
      contentCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wHost = Window.partitionBy("host").orderBy("line_no")
    val wGroup = Window.partitionBy("host", "group_id").orderBy("line_no")
    val lines = robots.select(
      col(hostCol).as("host"),
      // CPython reads via splitlines(): CRLF and bare-CR files are the
      // real-web norm — split on all three so no value carries a \r tail
      // and blank-line detection fires on CRLF blank lines too
      posexplode(split(col(contentCol),
        "\r\n|[\n\r\u000B\u000C\u001C\u001D\u001E\u0085\u2028\u2029]"))
        .as(Seq("line_no", "raw")))
    val kv = lines
      // blank-line detection is on the RAW line (CPython checks it BEFORE
      // the comment strip); a comment-only line cleans to "" but is NOT
      // blank — it must neither close the entry nor emit anything
      .withColumn("is_blank", col("raw") === "")
      .withColumn("line", pyStrip(regexp_replace(col("raw"), "#.*$", "")))
      .withColumn("key", lower(pyStrip(regexp_extract(col("line"), "^([^:]+):", 1))))
      .withColumn("value", pyStrip(regexp_extract(col("line"), "^[^:]*:(.*)$", 1)))
      .filter(col("is_blank") ||
        col("key").isin("user-agent", "allow", "disallow", "crawl-delay", "request-rate"))
    kv
      .withColumn("is_ua", !col("is_blank") && col("key") === "user-agent")
      .withColumn("starts_group",
        (col("is_ua") && !coalesce(lag(col("is_ua"), 1).over(wHost), lit(false)))
          .cast("long"))
      .withColumn("group_id", sum("starts_group").over(wHost))
      .filter(col("group_id") >= 1)
      // running blank count within the group: rows at or after the first
      // blank are "after close" — their rules are state-0 noise
      .withColumn("closed",
        sum(when(col("is_blank"), 1L).otherwise(0L))
          .over(wGroup.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  private def robotsAgents(grouped: DataFrame): DataFrame =
    grouped
      .filter(col("is_ua"))
      .groupBy("host", "group_id")
      .agg(array_sort(collect_set(col("value"))).as("agents"))

  def parseRobotsTxt(robots: DataFrame, hostCol: String, contentCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wGroup = Window.partitionBy("host", "group_id").orderBy("line_no")
    val grouped = robotsGrouped(robots, hostCol, contentCol)
    val rules = grouped
      .filter(col("key").isin("allow", "disallow") && col("closed") === 0)
      .withColumn("rule_idx", row_number().over(wGroup))
      .withColumn("allowance", col("key") === "allow" || col("value") === "")
      .withColumn("path", col("value"))
      .select("host", "group_id", "line_no", "rule_idx", "allowance", "path")
    rules
      .join(robotsAgents(grouped), Seq("host", "group_id"))
      .select("host", "group_id", "agents", "rule_idx", "allowance", "path")
  }

  /** EVERY entry of every robots.txt — including entries with no
    * allow/disallow rules, which `parseRobotsTxt` cannot carry — with the
    * entry's politeness directives: `crawl_delay` (CPython accepts only an
    * integer value, robotparser `crawl_delay()`) and the request-rate pair
    * (`a/b` with both parts integral, `request_rate()`); an invalid value
    * is ignored WITHOUT clearing an earlier valid one, and the last valid
    * occurrence in the entry wins — both exactly the reference stack's
    * behavior. Feed the chosen entry's delay into `frontierSchedule`'s
    * wave math to turn politeness metadata into schedule data.
    *
    * Also the fidelity companion to [[robotsCanFetch]]: pass this as its
    * `groups` argument so a RULELESS entry (e.g. "User-agent: a" +
    * "Crawl-delay: 5" and nothing else) still wins entry selection — in
    * CPython such an entry answers allow-all for its agents rather than
    * falling through to `*`.
    */
  def parseRobotsGroups(robots: DataFrame, hostCol: String,
      contentCol: String): DataFrame = {
    val grouped = robotsGrouped(robots, hostCol, contentCol)
    val cd = grouped
      .filter(col("key") === "crawl-delay" && col("closed") === 0 &&
        col("value").rlike("^[0-9]+$"))
      .groupBy("host", "group_id")
      .agg(max_by(col("value").cast("long"), col("line_no")).as("crawl_delay"))
    val rr = grouped
      .filter(col("key") === "request-rate" && col("closed") === 0 &&
        col("value").rlike("^[0-9]+\\s*/\\s*[0-9]+$"))
      .groupBy("host", "group_id")
      .agg(
        max_by(regexp_extract(col("value"), "^([0-9]+)", 1).cast("long"),
          col("line_no")).as("req_rate_requests"),
        max_by(regexp_extract(col("value"), "([0-9]+)$", 1).cast("long"),
          col("line_no")).as("req_rate_seconds"))
    // CPython DISCARDS an entry whose header is never followed by a
    // directive (blank line or EOF at state 1 — verified against stdlib:
    // such an entry never answers can_fetch). Validity rides a window flag
    // over the rows already feeding the agents aggregate — no extra scan
    // of the parse tree, no extra join.
    val wg = org.apache.spark.sql.expressions.Window.partitionBy("host", "group_id")
    val flagged = grouped.withColumn("__has_directive",
      max(when(!col("is_ua") && !col("is_blank") && col("closed") === 0, 1)
        .otherwise(0)).over(wg))
    robotsAgents(flagged.filter(col("__has_directive") === 1))
      .join(cd, Seq("host", "group_id"), "left")
      .join(rr, Seq("host", "group_id"), "left")
      .select("host", "group_id", "agents", "crawl_delay",
        "req_rate_requests", "req_rate_seconds")
  }

  /** queries() wrapper: build one robots.txt per source exercising every
    * state transition — a pre-group stray rule (dropped), a two-agent
    * header, per-doc Allow/Disallow bodies, a mid-group comment line (kept
    * open), a `?`-suffix rule, an empty `Allow:`, a blank-line entry break,
    * a `*` group with a wildcard rule, a `Crawl-delay` (opens state 2, no
    * rule row), an empty `Disallow:` (allow-all), and an ignored `Sitemap:`
    * — then parse it back to rule rows the DuckDB oracle rebuilds with the
    * same window logic.
    */
  def qRobotsParse(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val nl = lit("\n")
    val body = Tables.documents(s, d)
      .filter(id % 101 === 0)
      .groupBy("source")
      // doc text spliced into the rule path: hostile corpora put CRLF
      // (injected raw lines — group starts, blank closes), '#' (comment
      // strip), ':' and unicode here; both line machines must agree
      .agg(concat_ws("\n", array_sort(collect_list(struct(id,
        when(id % 3 === 0, concat(lit("Allow: /docs/"), id, lit("/pub")))
          .otherwise(concat(lit("Disallow: /docs/"), id, lit("/"), col("text")))
          .as("l"))))
        .getField("l")).as("b"))
    val robots = body.select(
      col("source").as("host"),
      concat(
        lit("# robots for "), col("source"), nl,
        lit("Disallow: /early/"), nl,
        lit("User-agent: graftbot"), nl,
        lit("User-Agent: eeabot"), nl,
        col("b"), nl,
        lit("  # mid comment"), nl,
        lit("Disallow: /search?"), nl,
        lit("Allow:"), nl,
        nl,
        lit("User-agent: *"), nl,
        lit("Allow: /pub/"), nl,
        lit("Disallow: /tmp/*.pdf$"), nl,
        lit("Crawl-delay: 5"), nl,
        lit("Disallow:"), nl,
        lit("Sitemap: https://example.eu/sitemap.xml")).as("content"))
    parseRobotsTxt(robots, "host", "content")
      .select(col("host"), col("group_id"),
        array_join(col("agents"), ",").as("agents"),
        col("rule_idx").cast("long").as("rule_idx"),
        col("allowance"), col("path"))
      .orderBy("host", "group_id", "rule_idx")
  }

  // -------------------------------------------------------------- robots_fetch

  /** `can_fetch` verdicts over a parsed rule table — the decision half of
    * CPython's RobotFileParser with the reference's wildcard RuleLine
    * (dags/lib/robots_txt.py:68-75 `test_url` → `rp.can_fetch`):
    *
    *  - entry selection: the processed user agent is
    *    `ua.split("/")[0].lower()`; named entries match when any of their
    *    agent tokens is a SUBSTRING of it (CPython `agent in useragent`);
    *    an entry listing `*` is the default entry — considered LAST and
    *    never name-matched, and only the first `*` entry counts;
    *  - verdict: the FIRST rule (file order) of the chosen entry whose
    *    pattern applies decides; no applying rule, no matching entry, or
    *    no robots.txt at all → allow (CPython defaults);
    *  - pattern application is the RuleLine cascade (robots_txt.py:22-40):
    *    a `?`-suffix pattern is a pure prefix test, then `*` matches all,
    *    then prefix, then `$`-exact fnmatch, then fnmatch with an implied
    *    trailing `*` — the glob half via [[graft.functions.GlobRegex]], the
    *    same translation `robotsDisallowed` uses, but applied per-ROW so
    *    rules can come from data.
    *
    * The tested "filename" is path+query(+fragment) of the URL — CPython
    * re-quotes it after unquoting, which is the identity for ASCII-safe
    * URLs (the divergence for reserved/non-ASCII chars is the same
    * documented approximation as `parseRobotsTxt`'s path handling). A bare
    * path (no scheme) is used as-is; an empty filename tests as "/".
    *
    * Scale: entry choice is a tiny per-host aggregate over the rules table
    * (#hosts × #groups rows). Candidates are urls ⋈ rules of the chosen
    * group only — an equi-join on host whose fan-out is bounded by
    * rules-per-group (tens, not thousands); popular-host skew is AQE's
    * skew-join case. First-match-wins is a partial-aggregable min over
    * (rule_idx, allowance) keyed by a synthetic row id, then one join back
    * — codegen'd string predicates throughout, the regex branch only
    * evaluated when the prefix branches miss (codegen Or short-circuits).
    */
  def robotsCanFetch(rules: DataFrame, urls: DataFrame, hostCol: String,
      urlCol: String, userAgent: String,
      groupsDf: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val ua = userAgent.split("/")(0).toLowerCase
    // entry list for selection: by default derived from the rule table —
    // pass parseRobotsGroups output to also let RULELESS entries (which
    // answer allow-all in CPython) win selection
    val groups = groupsDf.getOrElse(rules)
      .groupBy(col("host").as("__gh"), col("group_id").as("__gg"))
      .agg(first(col("agents")).as("__agents"))
      .withColumn("__is_star", array_contains(col("__agents"), "*"))
      .withColumn("__ua_match",
        exists(col("__agents"), a => a =!= "*" && lit(ua).contains(lower(a))))
    val chosen = groups
      .groupBy(col("__gh").as("__ch"))
      .agg(
        min(when(!col("__is_star") && col("__ua_match"), col("__gg"))).as("__g_named"),
        min(when(col("__is_star"), col("__gg"))).as("__g_star"))
      .select(col("__ch"), coalesce(col("__g_named"), col("__g_star")).as("__gid"))
    // Verdicts key on the DATA itself — (host, url) — never a synthetic
    // monotonically_increasing_id: that id is nondeterministic across
    // recomputations (task retry, AQE re-plan, nondeterministic upstream
    // shuffle order), and this plan evaluates the url side twice (once
    // feeding the rules join, once as the left side of the final join), so
    // a synthetic id could attach verdicts to the wrong rows. Duplicate
    // (host, url) input rows collapse in the verdict aggregate and each
    // receives the same (correct) verdict on the join back.
    val verdictKeys = urls
      .select(col(hostCol).as("__vh"), col(urlCol).as("__vu"))
      .withColumn("__fn", {
        val u = col("__vu")
        val tail = regexp_extract(u, "(?s)^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)", 1)
        val fn = when(regexp_extract(u, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1) === "", u)
          .otherwise(tail)
        when(fn === "", lit("/")).otherwise(fn)
      })
    val ruleCols = rules.select(
      col("host").as("__rh"), col("group_id").as("__rg"),
      col("rule_idx").as("__ri"), col("allowance").as("__ra"),
      col("path").as("__rp"),
      GraftSqlBridge.column(graft.functions.GlobRegex(
        GraftSqlBridge.expression(col("path")))).as("__rx"))
    val cand = verdictKeys
      .join(chosen, col("__vh") === col("__ch"), "inner")
      .join(ruleCols, col("__vh") === col("__rh") && col("__gid") === col("__rg"))
    val applies =
      when(col("__rp").endsWith("?"), col("__fn").startsWith(col("__rp")))
        .otherwise(col("__rp") === "*" ||
          col("__fn").startsWith(col("__rp")) ||
          rlike(col("__fn"), col("__rx")))
    val best = cand
      .filter(applies)
      .groupBy("__vh", "__vu")
      .agg(min(struct(col("__ri"), col("__ra"))).as("__m"))
      .select(col("__vh"), col("__vu"), col("__m").getField("__ra").as("__allow"))
    urls
      .join(best, col(hostCol) === col("__vh") && col(urlCol) === col("__vu"), "left")
      .withColumn("allowed", coalesce(col("__allow"), lit(true)))
      .drop("__vh", "__vu", "__allow")
  }

  /** queries() wrapper: full end-to-end — synthesize per-source robots.txt
    * (a named two-rule-family group and a deny-all `*` group), parse it with
    * `parseRobotsTxt`, then fetch verdicts for seven path shapes under TWO
    * user agents: `graftbot/2.1` exercises named-entry selection and the
    * whole RuleLine cascade (prefix deny, prefix allow overridden by an
    * earlier deny, `?`-suffix, `$`-exact, bare-prefix, default-allow);
    * `otherbot` falls through to the `*` group's deny-all. The DuckDB
    * oracle rebuilds the verdicts from an independently-stated rule table
    * with window-min first-match logic.
    */
  def qRobotsFetch(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val nl = lit("\n")
    val robots = Tables.documents(s, d)
      .select(col("source")).distinct()
      .select(
        col("source").as("host"),
        concat(
          lit("User-agent: graftbot"), nl,
          lit("Disallow: /docs/private/"), nl,
          lit("Allow: /docs/"), nl,
          lit("Disallow: /search?"), nl,
          lit("Disallow: /exact$"), nl,
          lit("Disallow: /team"), nl,
          nl,
          lit("User-agent: *"), nl,
          lit("Disallow: /")).as("content"))
    val rules = parseRobotsTxt(robots, "host", "content")
    // branches 1 and 6 splice the doc text into the TESTED path:
    // hostile corpora put '#'/'?'/newlines/unicode here, stressing the
    // path+query extraction and the literal prefix cascade on both
    // engines (the deciding rule prefixes precede the splice, so the
    // CPython robots_differential's verdict classes are unchanged)
    val path = when(id % 7 === 0, concat(lit("/docs/private/"), id))
      .when(id % 7 === 1, concat(lit("/docs/"), id, lit("-"), col("text")))
      .when(id % 7 === 2, concat(lit("/search?q="), id))
      .when(id % 7 === 3, lit("/exact"))
      .when(id % 7 === 4, concat(lit("/exact/"), id))
      .when(id % 7 === 5, concat(lit("/team/"), id))
      .otherwise(concat(lit("/"), id, lit("-"), col("text")))
    val urls = Tables.documents(s, d).select(
      id, col("source").as("host"),
      concat(lit("https://"), col("source"), lit(".example.eu"), path).as("url"))
    // entry selection through parseRobotsGroups — the full-fidelity path
    // (same verdicts here since the fixture has no ruleless entries, but
    // the oracle now covers the groups-driven selection code)
    val groups = parseRobotsGroups(robots, "host", "content")
    val bot = robotsCanFetch(rules, urls, "host", "url", "graftbot/2.1",
      groupsDf = Some(groups))
      .withColumn("ua", lit("graftbot/2.1"))
    val other = robotsCanFetch(rules, urls, "host", "url", "otherbot",
      groupsDf = Some(groups))
      .withColumn("ua", lit("otherbot"))
    bot.unionByName(other)
      .select("doc_id", "ua", "url", "allowed")
      .orderBy("doc_id", "ua")
  }

  /** `Sitemap:` discovery from robots.txt — CPython robotparser's
    * `site_maps()` (3.8+), and how a crawler finds the sitemap tree's root
    * without guessing /sitemap.xml: the key is entry-INDEPENDENT (CPython
    * collects it at any state, before, inside, or after user-agent groups),
    * values are absolute URLs kept verbatim, duplicates dropped. Feed the
    * result straight into [[sitemapTree]].
    */
  def parseRobotsSitemaps(robots: DataFrame, hostCol: String,
      contentCol: String): DataFrame =
    robots.select(
      col(hostCol).as("host"),
      explode(split(col(contentCol),
        "\r\n|[\n\r\u000B\u000C\u001C\u001D\u001E\u0085\u2028\u2029]"))
        .as("raw"))
      .withColumn("line", pyStrip(regexp_replace(col("raw"), "#.*$", "")))
      .filter(lower(pyStrip(regexp_extract(col("line"), "^([^:]+):", 1))) === "sitemap")
      .select(col("host"),
        pyStrip(regexp_extract(col("line"), "^[^:]*:(.*)$", 1)).as("sitemap_url"))
      .filter(col("sitemap_url") =!= "")
      .distinct()

  /** queries() wrapper for [[parseRobotsSitemaps]]: sitemap lines placed
    * before any group, inside a group, and after a blank line all surface
    * (state-independent), a commented-out one does not, and the duplicate
    * collapses.
    */
  def qRobotsSitemaps(s: SparkSession, d: String): DataFrame = {
    val content = Seq(
      "Sitemap: https://HOST.eu/sm-top.xml", // before any group
      "User-agent: *",
      "Disallow: /private/",
      "Sitemap: https://HOST.eu/sm-mid.xml", // inside a group
      "",
      "sitemap: https://HOST.eu/sm-tail.xml", // after blank; lowercase key
      "# Sitemap: https://HOST.eu/sm-commented.xml",
      "Sitemap: https://HOST.eu/sm-top.xml" // duplicate — collapses
    ).mkString("\n")
    val robots = Tables.documents(s, d)
      .select(col("source")).distinct()
      .select(col("source").as("host"),
        regexp_replace(lit(content), lit("HOST"), col("source")).as("content"))
    parseRobotsSitemaps(robots, "host", "content")
      .orderBy("host", "sitemap_url")
  }

  /** queries() wrapper for [[parseRobotsGroups]]: per host, a named entry
    * whose invalid crawl-delays are ignored and whose LAST valid
    * crawl-delay/request-rate win, a RULELESS politeness-only entry
    * (invisible to `parseRobotsTxt`, present here), and a `*` entry. The
    * oracle restates the three expected entries per host from the fixture's
    * intent.
    */
  def qRobotsDelays(s: SparkSession, d: String): DataFrame = {
    val content = Seq(
      "User-agent: graftbot",
      "Crawl-delay: soon", // invalid: not an integer — ignored
      "Crawl-delay: 2",
      "Disallow: /private/",
      "Crawl-delay: 7", // last valid wins
      "Request-rate: 3/15",
      "Request-rate: x/y", // invalid — the earlier valid pair survives
      "",
      "User-agent: slowbot", // ruleless entry: politeness only
      "Crawl-delay: 30",
      "",
      "User-agent: *",
      "Crawl-delay: 1",
      "Disallow: /").mkString("\n")
    val robots = Tables.documents(s, d)
      .select(col("source")).distinct()
      .select(col("source").as("host"), lit(content).as("content"))
    parseRobotsGroups(robots, "host", "content")
      .select(col("host"), col("group_id"),
        array_join(col("agents"), ",").as("agents"),
        col("crawl_delay"), col("req_rate_requests"), col("req_rate_seconds"))
      .orderBy("host", "group_id")
  }

  // ---------------------------------------------------------------- warc_parse

  /** queries() wrapper for the WARC ingest path ([[graft.sources.Sources
    * .readWarc]] / [[graft.functions.WarcParse]]): build one in-memory WARC
    * file per source — a warcinfo record followed by one HTTP response
    * record per doc, byte-exact Content-Length framing — then parse it back
    * through the native expression and emit one row per record. The DuckDB
    * oracle restates the expected rows from the same generation parameters,
    * so the byte-offset slicing (the part an engine can get wrong) is
    * checked against an independent statement of intent.
    */
  /** Shared fixture for the warc_parse / warc_cdx gates: one in-memory
    * WARC file per source — a warcinfo record then per-doc HTTP response
    * records in doc order. Content-Length counts OCTETS (octet_length, the
    * framing WarcParse slices by) so the fixture stays byte-correct even
    * if the bodies ever grow non-ASCII text.
    */
  private def warcFixtureFiles(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val crlf = lit("\r\n")
    // doc text spliced into the payload: hostile corpora put CRLFCRLF
    // runs, fake "WARC/1.0" headers and non-ASCII here — Content-Length
    // octet framing must hold regardless of payload content
    val body = concat(lit("<html>doc "), id, lit(" "), col("text"), lit("</html>"))
    val http = concat(lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), body)
    val uri = concat(lit("https://"), col("source"), lit(".example.eu/d/"), id)
    val rec = concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: response\r\n"),
      lit("WARC-Target-URI: "), uri, crlf,
      lit("WARC-Date: 2026-01-0"), id % 9 + 1, lit("T00:00:00Z\r\n"),
      lit("Content-Type: application/http;msgtype=response\r\n"),
      lit("Content-Length: "), octet_length(http), crlf, crlf,
      http, crlf, crlf)
    val warcinfo = "WARC/1.0\r\nWARC-Type: warcinfo\r\n" +
      "Content-Type: application/warc-fields\r\nContent-Length: 15\r\n\r\n" +
      "software: graft\r\n\r\n"
    Tables.documents(s, d)
      .select(col("source"), id, rec.as("r"))
      .groupBy("source")
      .agg(concat(lit(warcinfo),
        array_join(array_sort(collect_list(struct(id, col("r")))).getField("r"), ""))
        .as("w"))
  }

  def qWarcParse(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    warcFixtureFiles(s, d)
      .select(col("source"), explode(GraftSqlBridge.column(
        graft.functions.WarcParse(
          GraftSqlBridge.expression(col("w").cast("binary"))))).as("rec"))
      .select(
        col("source"),
        coalesce(col("rec.target_uri"), lit("")).as("uri"),
        col("rec.warc_type").as("warc_type"),
        col("rec.warc_date").as("warc_date"),
        col("rec.content_length").as("content_length"),
        col("rec.http_status").as("http_status"),
        // the parser's byte accounting, checked against the oracle's
        // independently-cumulated record sizes
        col("rec.offset").as("rec_offset"),
        col("rec.record_length").as("rec_length"),
        col("rec.payload").cast("string").as("payload"))
      .orderBy("source", "uri")
  }

  // ---------------------------------------------------------------- warc_write

  /** The WRITE half of the WARC story: format docs as response records
    * with byte-accurate framing — `Content-Length` counts OCTETS
    * (`octet_length`, not chars: a UTF-8 payload must not shift the next
    * record), the `application/http` block carries a minimal status line +
    * Content-Type, and records end with the inter-record CRLFCRLF. Group
    * the records by an archive key (e.g. `hash(url) % nFiles`) and
    * concatenate in a deterministic order to get one ~1 GB archive string
    * per key — the WARC distribution unit.
    *
    * Round-trips through [[graft.functions.WarcParse]] bit-exactly
    * (spec-asserted, non-ASCII included) — so a graft-written archive is
    * readable by graft and by any ISO 28500 reader.
    */
  def formatWarcRecords(docs: DataFrame, urlCol: String, dateCol: String,
      payloadCol: String, payloadMime: String = "text/html"): DataFrame = {
    val crlf = lit("\r\n")
    val http = concat(
      lit("HTTP/1.1 200 OK\r\nContent-Type: " + payloadMime + "\r\n\r\n"),
      col(payloadCol))
    docs.withColumn("warc_record", concat(
      lit("WARC/1.0\r\n"),
      lit("WARC-Type: response\r\n"),
      lit("WARC-Target-URI: "), col(urlCol), crlf,
      lit("WARC-Date: "), col(dateCol), crlf,
      lit("Content-Type: application/http;msgtype=response\r\n"),
      lit("Content-Length: "), octet_length(http), crlf, crlf,
      http, crlf, crlf))
  }

  /** Assemble formatted records into one archive string per file key,
    * record order fixed by `orderCol` — deterministic bytes in, identical
    * archive out, on any partitioning.
    */
  def assembleWarcFiles(records: DataFrame, fileKeyCol: String,
      orderCol: String): DataFrame =
    records
      .groupBy(col(fileKeyCol).as("file_key"))
      .agg(concat_ws("",
        array_sort(collect_list(struct(col(orderCol), col("warc_record"))))
          .getField("warc_record")).as("warc"))

  /** queries() wrapper: format every doc, 8 archives per source by
    * doc_id mod 8, and emit each archive's identity: key, record count,
    * total octets, and md5 — the oracle rebuilds the same strings.
    */
  def qWarcWrite(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(
      col("source"), id,
      concat(lit("https://"), col("source"), lit(".example.eu/d/"), id).as("url"),
      concat(lit("2026-01-0"), id % 9 + 1, lit("T00:00:00Z")).as("fetched"),
      concat(lit("<html>doc "), id, lit(" é "), col("text"), lit("</html>")).as("payload"))
    val recs = formatWarcRecords(docs, "url", "fetched", "payload")
      .withColumn("file_key", concat(col("source"), lit("-"), id % 8))
    assembleWarcFiles(recs, "file_key", "doc_id")
      .select(col("file_key"),
        octet_length(col("warc")).cast("long").as("octets"),
        md5(col("warc")).as("digest"))
      .orderBy("file_key")
  }

  // ------------------------------------------------------------------ warc_cdx

  /** CDX lookup index over parsed WARC records — the companion file that
    * makes a 100 TB archive range-readable (the CDXJ convention Common
    * Crawl and web archives publish next to every WARC): one row per
    * response record with
    *
    *  - `urlkey`: SURT form — host labels reversed and comma-joined, then
    *    `)` + path — so one host's records sort adjacently and a
    *    host-prefix lookup is a contiguous index range;
    *  - `ts`: the WARC-Date's digits (14-digit timestamp);
    *  - `digest`: md5 hex of the payload (the cross-engine-verifiable
    *    stand-in for CDX's sha1-b32 — same role, different alphabet);
    *  - `rec_offset` / `rec_length`: the byte range to fetch, straight from
    *    [[graft.functions.WarcParse]]'s byte accounting;
    *  - `filename`: which archive file holds the record.
    *
    * Pure per-record projection — zero shuffle; the downstream sort-merge
    * into a global CDX is the writer's `sortWithinPartitions(urlkey)` +
    * partitioned write, not this operator's concern.
    */
  def warcCdx(records: DataFrame, urlCol: String, filename: Column): DataFrame = {
    val u = col(urlCol)
    val host = lower(regexp_extract(u, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1))
    val path = regexp_extract(u, "(?s)^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(.*)", 1)
    records
      .filter(col("warc_type") === "response")
      .withColumn("urlkey",
        concat(array_join(reverse(split(host, "\\.")), ","), lit(")"), path))
      .withColumn("ts", regexp_replace(col("warc_date"), "[^0-9]", ""))
      .withColumn("digest", md5(col("payload")))
      .withColumn("filename", filename)
  }

  /** queries() wrapper: the same in-memory WARC files as `warc_parse`,
    * parsed and projected to CDX rows; the oracle re-derives every column —
    * including the byte offsets by cumulating independently-computed record
    * sizes — from the generation parameters.
    */
  def qWarcCdx(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val records = warcFixtureFiles(s, d)
      .select(col("source"), explode(GraftSqlBridge.column(
        graft.functions.WarcParse(
          GraftSqlBridge.expression(col("w").cast("binary"))))).as("rec"))
      .select(col("source"), col("rec.*"))
    warcCdx(records, "target_uri", concat(col("source"), lit("-00000.warc")))
      .select(
        col("urlkey"), col("ts"),
        col("target_uri").as("url"),
        col("http_status").as("status"),
        col("digest"),
        col("offset").as("rec_offset"),
        col("record_length").as("rec_length"),
        col("filename"))
      .orderBy("urlkey")
  }

  // ------------------------------------------------------------- sitemap_index

  /** Sitemap INDEX resolution — the tree half of the reference's sitemap
    * source (lib/sitemap.py uses `usp.sitemap_tree_for_homepage`, which
    * walks `<sitemapindex>` files down to leaf `<urlset>`s and yields
    * `all_pages()`): parse the index's `<sitemap>` entries to child sitemap
    * URLs, equi-join the children against the fetched leaf sitemaps, and
    * parse each leaf's pages. Index entries with no fetched leaf (dangling
    * children) drop out in the join, exactly like a fetch failure drops a
    * subtree in usp.
    *
    * Same anchored-regex-in-codegen tier as `parseSitemaps`; the one
    * shuffle is the child-url equi-join (well-spread key — one row per
    * child sitemap). At Common Crawl scale an index lists ~50k children of
    * 50k URLs each; both sides stay (site × children)-sized, never
    * page-sized, because pages explode only AFTER the join.
    */
  def parseSitemapIndex(indexes: DataFrame, xmlCol: String): DataFrame =
    indexes
      .withColumn("entry",
        explode(regexp_extract_all(col(xmlCol),
          lit("(?s)<sitemap>(.*?)</sitemap>"), lit(1))))
      .withColumn("sitemap_url", regexp_extract(col("entry"), "<loc>([^<]*)</loc>", 1))
      .withColumn("sitemap_lastmod",
        regexp_extract(col("entry"), "<lastmod>([^<]*)</lastmod>", 1))
      .drop(xmlCol, "entry")

  /** Resolve index → leaves → pages (see [[parseSitemapIndex]]). `leaves`
    * carries one fetched leaf sitemap per row (url, xml).
    */
  def sitemapTree(indexes: DataFrame, xmlCol: String,
      leaves: DataFrame, leafUrlCol: String, leafXmlCol: String): DataFrame = {
    val children = parseSitemapIndex(indexes, xmlCol)
    val joined = children.join(leaves,
      children("sitemap_url") === leaves(leafUrlCol)).drop(leafUrlCol)
    parseSitemaps(joined, leafXmlCol)
  }

  /** ARBITRARY-DEPTH sitemap tree resolution — the full usp semantics
    * (`usp.sitemap_tree_for_homepage` recurses indexes-of-indexes;
    * [[sitemapTree]] resolves exactly ONE index level per call, so a
    * 3-level tree would silently yield zero pages from the unresolved
    * middle level). `fetched` is the pool of fetched sitemap documents
    * (url, xml) — children resolve against it level by level:
    * a child whose xml contains `<sitemapindex` re-enters the frontier,
    * one containing `<urlset` accumulates as a leaf, and a child with no
    * fetched document drops its whole subtree (the usp fetch-failure
    * behavior, at ANY level — a dangling MIDDLE index silently removes
    * the leaves below it, which is exactly what reachability means).
    *
    * `maxDepth` caps the descent (usp guards against index cycles the
    * same way); a root whose children chain deeper than the cap simply
    * stops descending — depth = number of index levels resolved.
    *
    * Scale: one (site × children)-sized equi-join per LEVEL (trees are
    * 2-4 levels deep in practice, never data-sized). Each level's
    * resolved join is an EAGER checkpoint — child-list-sized, tiny —
    * so the per-level emptiness probe, the leaf accumulator and the NEXT
    * level's parse share one computation instead of re-deriving the join
    * chain from the roots. Pages explode only once, from the accumulated
    * leaf set, after all joins.
    *
    * BOUNDED-STORAGE CONTRACT: on return exactly ONE checkpoint is
    * pinned — the accumulated leaf set (the result's backing data; same
    * contract as GraphOps' checkpointed loops) — and every loop-internal
    * per-level checkpoint plus the pool cache has been explicitly
    * released. The leaf-set checkpoint is freed by the ContextCleaner
    * once the result is unreachable, or deterministically via
    * `Checkpoints.release(result)` when the caller is done. Checkpoints
    * follow the SparkContext's mode ([[Checkpoints]]): reliable when a
    * checkpoint dir is set, otherwise local. The function is eager (it
    * runs Spark jobs at call time, one per level plus the final leaf
    * materialization). The output matches [[sitemapTree]]'s shape
    * (`sitemap_url` = the LEAF that listed the page).
    */
  def sitemapTreeDeep(roots: DataFrame, xmlCol: String,
      fetched: DataFrame, urlCol: String, fetchedXmlCol: String,
      maxDepth: Int = 5): DataFrame = {
    require(maxDepth >= 1, "maxDepth must be at least 1")
    // The pool is probed once per level — persisted for the loop's
    // duration so each level's resolve joins the cache instead of
    // re-deriving the fetched set; released on exit (the returned plan
    // references only the checkpointed levels, never the pool lineage).
    val pool = fetched.select(col(urlCol).as("__f_url"),
      col(fetchedXmlCol).as("__f_xml")).persist()
    var frontier = roots.withColumn("__tree_xml", col(xmlCol)).drop(xmlCol)
    var leaves: DataFrame = null
    val levelCkpts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var depth = 0
    var done = false
    while (depth < maxDepth && !done) {
      val children = parseSitemapIndex(
        frontier.withColumnRenamed("__tree_xml", "__idx_xml"), "__idx_xml")
      // Each resolved level is child-list-sized (tiny) and referenced by
      // THREE consumers (the leaf accumulator, the next frontier, the
      // emptiness probe) — an EAGER checkpoint materializes it once
      // and truncates lineage, so the accumulated leaf set never
      // re-derives the join chain from the roots (the earlier
      // persist/unpersist dance recomputed the whole ≤maxDepth chain for
      // the final page explode) and the per-level probe is a cached scan.
      val resolved = Checkpoints(children
        .join(pool, children("sitemap_url") === col("__f_url"))
        .drop("__f_url"))
      levelCkpts += resolved
      val leafRows = resolved.filter(col("__f_xml").contains("<urlset"))
      leaves = if (leaves == null) leafRows else leaves.unionByName(leafRows)
      val next = resolved.filter(col("__f_xml").contains("<sitemapindex"))
        .drop("sitemap_url", "sitemap_lastmod")
        .withColumnRenamed("__f_xml", "__tree_xml")
      done = Checkpoints.materialize(next) == 0
      frontier = next
      depth += 1
    }
    pool.unpersist(false)
    // Bounded-storage contract (see scaladoc): fold the ≤maxDepth level
    // checkpoints into ONE leaf-set checkpoint (leaf xml was already
    // stored across the levels, so this is a copy of the leaf subset, not
    // new volume), then release every per-level block EXPLICITLY — the
    // returned plan references only the leaf set, so nothing else may
    // stay pinned waiting for GC on a long-lived session.
    val leafSet = Checkpoints(leaves)
    levelCkpts.foreach(Checkpoints.release)
    parseSitemaps(leafSet.withColumnRenamed("__f_xml", "__leaf_xml"), "__leaf_xml")
  }

  /** queries() wrapper: per source, three leaf sitemaps (docs bucketed by
    * doc_id mod 3) plus one DANGLING index entry (sitemap-9, never
    * fetched — drops in the join); every third doc carries a lastmod. The
    * DuckDB oracle rebuilds the same two-level tree and resolves it with
    * the same join.
    */
  def qSitemapIndex(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d)
    // text spliced into the leaf <loc> like sitemap_parse — the two-level
    // resolve must fragment injected entries identically on both engines
    val entry = concat(
      lit("<url><loc>https://example.eu/d/"), id, lit("-"), col("text"), lit("</loc>"),
      when(id % 3 === 0, concat(lit("<lastmod>2026-0"), id % 9 + 1, lit("-01</lastmod>")))
        .otherwise(lit("")),
      lit("</url>"))
    val leafUrl = concat(lit("https://"), col("source"),
      lit(".example.eu/sitemap-"), id % 3, lit(".xml"))
    val leaves = docs
      .select(col("source"), id, leafUrl.as("leaf_url"), entry.as("e"))
      .groupBy("source", "leaf_url")
      .agg(concat(lit("<urlset>"),
        array_join(array_sort(collect_list(struct(id, col("e")))).getField("e"), ""),
        lit("</urlset>")).as("leaf_xml"))
    val indexes = leaves
      .select(col("source"),
        concat(lit("<sitemap><loc>"), col("leaf_url"), lit("</loc>"),
          lit("<lastmod>2026-03-01</lastmod></sitemap>")).as("se"))
      .groupBy("source")
      .agg(concat(lit("<sitemapindex>"),
        array_join(array_sort(collect_list(col("se"))), ""),
        lit("<sitemap><loc>https://"), col("source"),
        lit(".example.eu/sitemap-9.xml</loc></sitemap>"),
        lit("</sitemapindex>")).as("idx_xml"))
    sitemapTree(indexes, "idx_xml", leaves.drop("source"), "leaf_url", "leaf_xml")
      .select(col("source"), col("sitemap_url"), col("sitemap_lastmod"),
        col("url"), col("lastmod"))
      // lastmod in the sort: injected "</url>" fragments can tie on url=''
      .orderBy("source", "sitemap_url", "url", "lastmod")
  }

  /** queries() wrapper for [[sitemapTreeDeep]]: a THREE-level tree per
    * source — root index → mid indexes → leaf urlsets — with BOTH failure
    * shapes at once: the root lists a dangling mid (`mid-9`, never
    * fetched — its whole subtree must vanish), and `leaf-3` sits fetched
    * in the pool but is listed by nothing reachable (docs with
    * doc_id%4==3 must NOT appear — reachability, not pool membership,
    * decides). Docs bucket into leaf-(id%4); mid-0 lists leaf-0/leaf-1,
    * mid-1 lists leaf-2. The DuckDB oracle restates reachability
    * directly: exactly the docs with doc_id%4 <= 2, under their leaf url.
    */
  def qSitemapTree(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d)
    val entry = concat(
      lit("<url><loc>https://example.eu/d/"), id, lit("</loc>"),
      when(id % 3 === 0, concat(lit("<lastmod>2026-0"), id % 9 + 1, lit("-01</lastmod>")))
        .otherwise(lit("")),
      lit("</url>"))
    val leafUrl = concat(lit("https://"), col("source"),
      lit(".example.eu/leaf-"), id % 4, lit(".xml"))
    val leaves = docs
      .select(col("source"), id, leafUrl.as("leaf_url"), entry.as("e"))
      .groupBy("source", "leaf_url")
      .agg(concat(lit("<urlset>"),
        array_join(array_sort(collect_list(struct(id, col("e")))).getField("e"), ""),
        lit("</urlset>")).as("leaf_xml"))
    val leafNo = regexp_extract(col("leaf_url"), "leaf-(\\d)", 1).cast("int")
    val mids = leaves
      .filter(leafNo <= 2)
      .withColumn("mid_url", concat(lit("https://"), col("source"),
        lit(".example.eu/mid-"), when(leafNo <= 1, lit(0)).otherwise(lit(1)),
        lit(".xml")))
      .withColumn("se", concat(lit("<sitemap><loc>"), col("leaf_url"),
        lit("</loc><lastmod>2026-03-01</lastmod></sitemap>")))
      .groupBy("source", "mid_url")
      .agg(concat(lit("<sitemapindex>"),
        array_join(array_sort(collect_list(col("se"))), ""),
        lit("</sitemapindex>")).as("mid_xml"))
    val roots = mids
      .select(col("source"),
        concat(lit("<sitemap><loc>"), col("mid_url"), lit("</loc></sitemap>")).as("re"))
      .groupBy("source")
      .agg(concat(lit("<sitemapindex>"),
        array_join(array_sort(collect_list(col("re"))), ""),
        lit("<sitemap><loc>https://"), col("source"),
        lit(".example.eu/mid-9.xml</loc></sitemap>"),
        lit("</sitemapindex>")).as("root_xml"))
    val pool = leaves.select(col("leaf_url").as("f_url"), col("leaf_xml").as("f_xml"))
      .unionByName(mids.select(col("mid_url").as("f_url"), col("mid_xml").as("f_xml")))
    sitemapTreeDeep(roots, "root_xml", pool, "f_url", "f_xml", maxDepth = 4)
      .select(col("source"), col("sitemap_url"), col("sitemap_lastmod"),
        col("url"), col("lastmod"))
      .orderBy("source", "sitemap_url", "url")
  }
}
