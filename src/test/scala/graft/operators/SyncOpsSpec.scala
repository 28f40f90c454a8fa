package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, concat, lit, struct, to_json}
import org.apache.spark.sql.graftbridge.{Checkpoints, ReliableCheckpoints}

class SyncOpsSpec extends SparkSpec {
  import spark.implicits._

  test("syncDiff classifies new/deleted/modified/unchanged") {
    val crawled = Seq((1L, "2024-01-01"), (2L, "2024-01-02"), (3L, "2024-01-03"), (5L, "2024-01-05"))
      .toDF("id", "modified")
    val indexed = Seq((2L, "2024-01-02", 0), (3L, "2024-01-01", 0), (4L, "2024-01-04", 0), (5L, "2024-01-05", 2))
      .toDF("id", "modified", "error_cnt")
    val got = SyncOps.syncDiff(crawled, indexed).orderBy("id").as[(Long, String)].collect().toSeq
    assert(got === Seq(
      1L -> "new", // only in crawl
      2L -> "unchanged", // same modified, no errors
      3L -> "modified", // timestamp changed
      4L -> "deleted", // gone from crawl
      5L -> "modified")) // unchanged ts but previous errors force re-index
  }

  test("crawlFrontier dedups, skips extensions, blacklist and robots prefixes") {
    val urls = Seq(
      (10L, "https://a.eu/keep.html"),
      (11L, "https://a.eu/keep.html"), // dup — keep id 10
      (12L, "https://a.eu/image.PNG"), // extension skip (case-insensitive)
      (13L, "https://a.eu/private/x.html"), // robots prefix
      (14L, "https://a.eu/banned"), // exact blacklist
      (15L, "https://a.eu/ok")).toDF("doc_id", "url")
    val got = SyncOps
      .crawlFrontier(urls, blacklistPaths = Seq("/banned"), disallowPrefixes = Seq("/private/"))
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(got === Seq(10L -> "https://a.eu/keep.html", 15L -> "https://a.eu/ok"))
  }

  test("markRedirects only emits state changes and preserves manual exclusions") {
    val docs = Seq(
      (1L, null.asInstanceOf[String]), // not excluded
      (2L, "redirected"), // currently marked
      (3L, "manual"), // manually excluded — never touched
      (4L, null.asInstanceOf[String])).toDF("doc_id", "exclude_from_globalsearch")
    val fetch = Seq((1L, true), (2L, true), (3L, true), (4L, false)).toDF("doc_id", "redirected")
    val got = SyncOps.markRedirects(docs, fetch).orderBy("doc_id").collect().toSeq
    // 1: newly redirected -> set; 2: still redirected -> no-op; 3: manual -> skip;
    // 4: not redirected, not marked -> no-op.
    assert(got === Seq(Row(1L, true, "redirected")))
  }

  test("markRedirects clears the flag when a redirect goes away") {
    val docs = Seq((7L, "redirected")).toDF("doc_id", "exclude_from_globalsearch")
    val fetch = Seq((7L, false)).toDF("doc_id", "redirected")
    val got = SyncOps.markRedirects(docs, fetch).collect().toSeq
    assert(got === Seq(Row(7L, true, null)))
  }

  test("errorRetry follows the reference threshold state machine") {
    val current = Seq(1L, 2L, 3L, 4L).toDF("id")
    val prior = Seq(
      (2L, 1L, 0L), // under error threshold -> retry, error_cnt+1
      (3L, 3L, 1L), // over errors, under skips -> skip, skip_cnt+1
      (4L, 3L, 2L), // both exhausted -> reset (state deleted)
      (9L, 2L, 0L)) // no longer erroring -> dropped
      .toDF("id", "error_cnt", "skip_cnt")
    val got = SyncOps.errorRetry(current, prior, allowedErrorsForDoc = 3, skipDocCnt = 2)
      .orderBy("id").collect().toSeq
    assert(got === Seq(
      Row(1L, "retry", 1L, 0L), // new error doc enters state
      Row(2L, "retry", 2L, 0L),
      Row(3L, "skip", 3L, 2L),
      Row(4L, "reset", null, null),
      Row(9L, "dropped", null, null)))
  }

  test("deleteThreshold flags sources losing more than threshold%") {
    val prev = Seq((1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "b"), (6L, "b")).toDF("id", "source")
    val cur = Seq((1L, "a"), (2L, "a"), (3L, "a"), (5L, "b")).toDF("id", "source")
    val got = SyncOps.deleteThreshold(prev, cur, thresholdPct = 25.0)
      .orderBy("source")
      .select("source", "prev_cnt", "kept_cnt", "to_delete", "should_abort")
      .collect().toSeq
    assert(got === Seq(
      Row("a", 4L, 3L, 1L, false), // 25% drop == threshold -> no abort (strict >)
      Row("b", 2L, 1L, 1L, true))) // 50% drop -> abort
  }

  test("canonicalizeUrls collapses equivalent spellings to one key") {
    val spark2 = spark
    import spark2.implicits._
    val urls = Seq(
      (1L, "HTTP://Example.EU:80/a/b/"),
      (2L, "http://example.eu/a/b"),        // same resource as 1
      (3L, "https://example.eu/?b=2&a=1#f"),
      (4L, "https://example.eu:443/?a=1&b=2"), // same resource as 3
      (5L, "https://example.eu:8443/x"),     // non-default port survives
      (6L, "mailto-like-not-a-url")
    ).toDF("doc_id", "url")
    val got = SyncOps.canonicalizeUrls(urls, "url")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(got(1L) === got(2L), "case/port/trailing-slash variants must collapse")
    assert(got(1L) === "http://example.eu/a/b")
    assert(got(3L) === got(4L), "param order and fragment must not matter")
    assert(got(3L) === "https://example.eu/?a=1&b=2")
    assert(got(5L) === "https://example.eu:8443/x")
    assert(got(6L) === "mailto-like-not-a-url", "relative/non-URL passes through")
  }

  test("parseSitemaps round-trips loc and optional lastmod") {
    val spark2 = spark
    import spark2.implicits._
    val xml = "<urlset>" +
      "<url><loc>https://example.eu/1</loc><lastmod>2026-01-01</lastmod></url>" +
      "<url><loc>https://example.eu/2</loc></url>" +
      "</urlset>"
    val got = SyncOps.parseSitemaps(Seq(("s1", xml)).toDF("site", "xml"), "xml")
      .select("url", "lastmod").collect().map(r => (r.getString(0), r.getString(1)))
    assert(got.toSeq === Seq(
      ("https://example.eu/1", "2026-01-01"),
      ("https://example.eu/2", "")))
  }

  test("robotsDisallowed implements prefix, glob, and exact-match rules") {
    import spark.implicits._
    val urls = Seq(
      "/private/a.html", // prefix rule
      "/tmp/x/cache.bin", // glob with inner *
      "/exact", // exact ($) rule hit
      "/exact/sub", // NOT hit by exact rule, no other match
      "/public/ok.html" // clean
    ).zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "path")
    val rules = Seq("/private", "/tmp/*/cache*", "/exact$")
    val got = SyncOps.robotsDisallowed(urls, rules)
      .select("path").collect().map(_.getString(0)).toSet
    assert(got === Set("/private/a.html", "/tmp/x/cache.bin", "/exact"))
  }

  test("robotsDisallowed honors fnmatch [seq] and [!seq] character classes") {
    import spark.implicits._
    val urls = Seq(
      "/docs/1a", "/docs/2a", "/docs/xa", // [0-9] class: digits hit, letter doesn't
      "/cache/a1", "/cache/b1" // [!a] negation: everything but 'a'
    ).zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "path")
    val rules = Seq("/docs/[0-9]a$", "/cache/[!a]*")
    val got = SyncOps.robotsDisallowed(urls, rules)
      .select("path").collect().map(_.getString(0)).toSet
    assert(got === Set("/docs/1a", "/docs/2a", "/cache/b1"))
  }

  test("robotsDisallowed treats a leading ^ in a class as a literal, like fnmatch") {
    import spark.implicits._
    // CPython fnmatch: only '!' negates — '[^b]' matches the characters
    // '^' or 'b', NOT everything-but-b. Java regex negation must not leak.
    val urls = Seq("/a^x", "/abx", "/acx")
      .zipWithIndex.map { case (p, i) => (i.toLong, p) }.toDF("id", "path")
    val got = SyncOps.robotsDisallowed(urls, Seq("/a[^b]x$"))
      .select("path").collect().map(_.getString(0)).toSet
    assert(got === Set("/a^x", "/abx"),
      "caret and 'b' match; 'c' must NOT match a literal-caret class")
  }

  private def ploneItems(rows: (Long, String, String, String, String, Boolean)*) =
    rows.toSeq.toDF("doc_id", "api_url", "portal_type",
      "modification_date", "modified", "seo_noindex")

  test("ploneSearch strips the api part and applies every admission knob") {
    val items = ploneItems(
      (1L, "https://s.eu/api/docs/ok", "Document", null, "2025-01-01", false),
      (2L, "https://s.eu/api/docs/black", "Document", null, "2025-01-01", false),
      (3L, "https://s.eu/api/docs/wrongtype", "Collection", null, "2025-01-01", false),
      (4L, "https://s.eu/api/docs/badtype", "Event", null, "2025-01-01", false),
      (5L, "https://s.eu/api/docs/img.png", "File", null, "2025-01-01", false),
      (6L, "https://s.eu/api/docs/doc.pdf", "File", null, "2025-01-01", false),
      (7L, "https://s.eu/api/docs/noindex", "Document", null, "2025-01-01", true),
      (8L, "https://s.eu/api/docs/skipme", "Document", null, "2025-01-01", false),
      (9L, "https://s.eu/api/private/x", "Document", null, "2025-01-01", false),
      (10L, "https://s.eu/api/docs/fresh", "Document", "2026-02-02", "2025-01-01", false))
    val got = SyncOps.ploneSearch(items, SyncOps.PloneSiteConfig(
      apiPart = "api",
      urlsBlacklist = Seq("https://s.eu/docs/black"),
      portalTypes = Seq("Document", "File", "Event"),
      typesBlacklist = Seq("Event"),
      skipDocs = Seq("https://s.eu/docs/skipme"),
      robotsDisallow = Seq("/private/")))
      .select("doc_id", "url", "modified")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap

    assert(got.keySet === Set(1L, 6L, 10L))
    assert(got(1L)._1 == "https://s.eu/docs/ok") // /api/ segment collapsed
    assert(got(10L)._2 == "2026-02-02") // modification_date wins over modified
    assert(got(1L)._2 == "2025-01-01")
  }

  test("ploneSearch: whitelist mode and fix_items_url host swap") {
    val items = ploneItems(
      (1L, "https://api.s.eu/marine/a", "Document", null, "2025-01-01", false),
      (2L, "https://api.s.eu/marine/b", "Document", null, "2025-01-01", false))
    val got = SyncOps.ploneSearch(items, SyncOps.PloneSiteConfig(
      fixItemsUrl = Some(("api.s.eu", "water.s.eu")),
      urlsWhitelist = Seq("https://water.s.eu/marine/a")))
      .select("url").collect().map(_.getString(0)).toSeq
    assert(got == Seq("https://water.s.eu/marine/a"))
  }

  test("ploneAttachments: field typing, URL swap branches, report_pdf items") {
    def doc(id: Long, js: String) = (id, js)
    val docs = Seq(
      // main host, not under /en/: @@download swaps to at_download in
      // EVERY occurrence (str.replace semantics); extra keys beyond the
      // {content-type, download, filename} markers still type as a file
      // field (superset test)
      doc(1L, """{"id":"https://www.eea.europa.eu/x/d1",
        |"file":{"content-type":"application/pdf","download":"https://www.eea.europa.eu/x/@@download/a/@@download/file","filename":"a.pdf","size":9}}"""
        .stripMargin.replace("\n", "")),
      // /en/ tree: no swap — membership is per path SEGMENT ('en'), and
      // 'entity' must NOT count as membership
      doc(2L, """{"id":"https://www.eea.europa.eu/en/d2","file":{"content-type":"application/pdf","download":"https://x/@@download/file","filename":"b.pdf"}}"""),
      doc(3L, """{"id":"https://www.eea.europa.eu/entity/d3","file":{"content-type":"application/pdf","download":"https://x/@@download/file","filename":"c.pdf"}}"""),
      // pdfStatic endpoint: exempt from the swap even on the main host
      doc(4L, """{"id":"https://www.eea.europa.eu/x/d4","file":{"content-type":"application/pdf","download":"https://x/@@download/pdfStatic","filename":"d.pdf"}}"""),
      // near-miss: no filename key → not a file field; scalar fields and
      // wrong content types never extract
      doc(5L, """{"id":"https://www.eea.europa.eu/x/d5","thumb":{"content-type":"application/pdf","download":"https://x/@@download/file"},"title":"hi","file":{"content-type":"text/html","download":"https://x/@@download/file","filename":"e.html"}}"""),
      // report_pdf: one row per File item, NO host swap on this path
      doc(6L, """{"id":"https://www.eea.europa.eu/x/d6","@type":"report_pdf","items":[{"@id":"https://www.eea.europa.eu/x/d6/f1","@type":"File"},{"@id":"https://www.eea.europa.eu/x/d6/img","@type":"Image"}]}"""))
      .toDF("doc_id", "js")
    val got = SyncOps.ploneAttachments(docs, "js")
      .select("doc_id", "field", "download_url")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got.keySet === Set((1L, "file"), (2L, "file"), (3L, "file"),
      (4L, "file"), (6L, "items")))
    assert(got((1L, "file")) ===
      "https://www.eea.europa.eu/x/at_download/a/at_download/file",
      "every @@download occurrence swaps (str.replace semantics)")
    assert(got((2L, "file")) === "https://x/@@download/file", "/en/ tree exempt")
    assert(got((3L, "file")) === "https://x/at_download/file",
      "'entity' is not segment membership of 'en' — the swap applies")
    assert(got((4L, "file")) === "https://x/@@download/pdfStatic")
    assert(got((6L, "items")) ===
      "https://www.eea.europa.eu/x/d6/f1/@@download/file",
      "report_pdf items path: File child only, no host swap")
    assert(SyncOps.ploneAttachments(docs, "js", extractPdf = false).count() === 0,
      "the extract_pdf flag gates BOTH discovery paths")
  }

  test("ploneShouldExtractPdf: skip URL, staleness boundary, date fallback") {
    val now = lit("2026-08-15").cast("date")
    val rows = Seq(
      // (id, @id, modification_date, modified, expected)
      (1L, SyncOps.PloneExtractSkipUrl, "2026-08-14T00:00:00", null, false), // hardcoded skip
      (2L, "https://s.eu/d2", "2025-08-14T23:59:59", null, false), // 366 days: stale (> limit)
      (3L, "https://s.eu/d3", "2025-08-15T00:00:01", null, true),  // exactly 365 days: kept (not >)
      (4L, "https://s.eu/d4", null, "2026-08-01", true),           // fallback date, fresh
      (5L, "https://s.eu/d5", null, "2024-08-01", false),          // fallback date, stale
      (6L, "https://s.eu/d6", null, null, true),                   // no date: no staleness check
      (7L, "https://s.eu/d7", "", null, true))                     // blank date: falsy, no check
      .toDF("doc_id", "at_id", "md", "m", "expected")
    val got = rows.withColumn("keep",
      SyncOps.ploneShouldExtractPdf(col("at_id"), col("md"), col("m"), now, 365))
      .collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("keep"))).toMap
    val want = rows.collect().map(r => r.getLong(0) -> r.getBoolean(r.fieldIndex("expected"))).toMap
    assert(got === want)
    // pdf_days_limit = 0 disables the staleness branch entirely
    val anyOld = Seq("x").toDF("x").select(SyncOps.ploneShouldExtractPdf(
      lit("https://s.eu/x"), lit("2000-01-01T00:00:00"),
      lit(null).cast("string"), now, 0).as("k")).collect()(0).getBoolean(0)
    assert(anyOld, "limit 0 means no staleness gate (reference: `> 0` guard)")
  }

  test("qPloneAttachments exercises every URL-swap branch non-vacuously") {
    // the staleness residue (%13) is disjoint from the host residue (%3),
    // so the differential must carry surviving rows for: the at_download
    // swap on fresh main-host docs, the pdfStatic exemption, the /en/
    // no-swap tree, and the foreign host — a vacuous 0=0 branch here
    // would let the oracle agree without testing the algebra
    val got = SyncOps.qPloneAttachments(spark, sfDir)
      .select("download_url").collect().map(_.getString(0))
    assert(got.exists(u => u.contains("www.eea.europa.eu") && u.contains("/at_download/")),
      "swap branch must survive the staleness gate")
    assert(got.exists(u => u.contains("www.eea.europa.eu") &&
      u.endsWith("@@download/pdfStatic")), "pdfStatic exemption must survive")
    assert(got.exists(u => u.contains("/en/") && u.contains("@@download")),
      "/en/ tree no-swap rows must survive")
    assert(got.exists(u => u.startsWith("https://other.site/") && u.contains("@@download")),
      "foreign-host no-swap rows must survive")
  }

  test("ploneAttachments composes with ploneSearch: attachments of admitted docs") {
    // the reference pipeline order: @search enumerates + admits docs,
    // extract_attachments then runs per admitted doc JSON — an admitted
    // url IS the json 'id' the swap keys on
    val items = ploneItems(
      (1L, "https://www.eea.europa.eu/api/x/d1", "Document", null, "2025-01-01", false),
      (2L, "https://www.eea.europa.eu/api/x/skip", "Event", null, "2025-01-01", false))
    val admitted = SyncOps.ploneSearch(items,
      SyncOps.PloneSiteConfig(apiPart = "api", typesBlacklist = Seq("Event")))
    val docs = admitted.select(col("doc_id"), to_json(struct(
      col("url").as("id"),
      struct(lit("application/pdf").as("content-type"),
        concat(col("url"), lit("/@@download/file")).as("download"),
        lit("f.pdf").as("filename")).as("file"))).as("js"))
    val got = SyncOps.ploneAttachments(docs, "js")
      .select("download_url").collect().map(_.getString(0)).toSeq
    assert(got === Seq("https://www.eea.europa.eu/x/d1/at_download/file"),
      "only the admitted doc yields an attachment row, with the swap applied")
  }

  test("ploneSearch composes into crawlFrontier and syncDiff") {
    // enumerate → frontier-filter → diff against the previous index state:
    // the reference's parse_all_documents main loop as three set operations
    val items = ploneItems(
      (1L, "https://s.eu/api/d/1", "Document", null, "2025-01-01", false),
      (2L, "https://s.eu/api/d/2", "Document", null, "2025-06-01", false),
      (3L, "https://s.eu/api/d/3", "Document", null, "2025-01-01", false))
    val crawled = SyncOps.ploneSearch(items, SyncOps.PloneSiteConfig(apiPart = "api"))
    val frontier = SyncOps.crawlFrontier(
      crawled.select("doc_id", "url"), blacklistPaths = Seq("/d/3"),
      disallowPrefixes = Nil)
    assert(frontier.select("url").collect().map(_.getString(0)).toSet ===
      Set("https://s.eu/d/1", "https://s.eu/d/2"))

    val indexed = Seq(
      ("https://s.eu/d/1", "2025-01-01", 0), // unchanged
      ("https://s.eu/d/2", "2025-01-01", 0), // modified since indexing
      ("https://s.eu/d/9", "2025-01-01", 0)  // gone from the source
    ).toDF("id", "modified", "error_cnt")
    val diff = SyncOps.syncDiff(
      crawled.selectExpr("url as id", "modified"), indexed)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(diff("https://s.eu/d/1") == "unchanged")
    assert(diff("https://s.eu/d/2") == "modified")
    assert(diff("https://s.eu/d/3") == "new")
    assert(diff("https://s.eu/d/9") == "deleted")
  }

  test("sdiChildren: keep-first dedup, dangling drop, order, empty parents") {
    val docs = spark.range(4).selectExpr(
      "concat('md-', id) as metadataIdentifier",
      "concat('2021-0', id + 1, '-01') as changeDate",
      "CASE WHEN id = 1 THEN 'WWW:LINK' END as linkProtocol",
      """CASE WHEN id = 0 THEN array('md-2', 'md-1', 'md-2', 'md-99')
           WHEN id = 3 THEN array('md-99')
           ELSE array() END as agg_associated_isComposedOf""")
    val out = SyncOps.sdiChildren(docs).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap

    // list order preserved, duplicate md-2 kept once (first), md-99 dropped
    assert(out("md-0").map(_.getString(0)) == Seq("md-2", "md-1"))
    // child struct carries changeDate; the scalar linkProtocol coerces to
    // a one-element list, a missing one to the empty list (:148-149)
    assert(out("md-0").map(_.getString(1)) == Seq("2021-03-01", "2021-02-01"))
    assert(out("md-0")(1).getSeq[String](2) == Seq("WWW:LINK"))
    assert(out("md-0")(0).getSeq[String](2) == Seq())
    // a parent whose only child dangles keeps its row with zero children
    assert(out("md-3").isEmpty)
    assert(out("md-1").isEmpty && out("md-2").isEmpty)
    assert(out.size == 4)
  }

  test("siteForUrl strips any scheme, like the reference's split('://')") {
    // HTTPS:// (uppercase) and git+ssh:// (digit/plus) must route the
    // same as https:// — the reference's url.split("://")[-1] is
    // scheme-agnostic
    val siteMap = Map("noise" -> "HTTPS://noise.eea.europa.eu")
    val got = Seq(
      "HTTPS://noise.eea.europa.eu/p/1",
      "git+ssh://noise.eea.europa.eu/p/2",
      "https://noise.eea.europa.eu/p/3",
      "https://other.example.eu/p/4")
      .toDF("url")
      .select(SyncOps.siteForUrl(col("url"),
        siteMap).as("site"))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("noise", "noise", "noise", ""))
  }

  test("sdiChildren: a duplicated corpus id does not multiply child rows") {
    // the reference resolves each id to exactly one fetched doc; a corpus
    // violating the uniqueness precondition must not fan out children
    val docs = Seq(
      ("md-0", "2021-01-01", Seq("md-1")),
      ("md-1", "2021-02-01", Seq.empty[String]),
      ("md-1", "2021-02-01", Seq.empty[String]) // duplicate id
    ).toDF("metadataIdentifier", "changeDate", "agg_associated_isComposedOf")
      .withColumn("linkProtocol", lit(null).cast("string"))
    val out = SyncOps.sdiChildren(docs).collect()
      .map(r => r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)).toMap
    assert(out("md-0").map(_.getString(0)) == Seq("md-1"))
  }

  test("linkExtract resolves hrefs, strips anchor markup, drops non-links") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L,
      """<a href="https://a.eu/x">Abs</a><a href="/r">Root <i>it</i></a>""" +
        """<a href="sub/p.html">Rel</a><a href="#f">F</a>""" +
        """<a href="mailto:x@y.eu">M</a><a href="">E</a>""",
      "https://site.eu/dir/page.html")).toDF("doc_id", "html", "page_url")
    val got = SyncOps.linkExtract(docs, "html", "page_url")
      .select("link_url", "anchor").collect()
      .map(r => r.getString(0) -> r.getString(1)).toSet
    assert(got == Set(
      "https://a.eu/x" -> "Abs",
      "https://site.eu/r" -> "Root it",
      "https://site.eu/dir/sub/p.html" -> "Rel"))
  }

  test("the crawl loop closes: linkExtract edges feed pageRank") {
    val spark2 = spark
    import spark2.implicits._
    // a 3-page site whose pages link each other (plus an external sink)
    val docs = Seq(
      (1L, """<a href="/p2">two</a><a href="/p3">three</a>""", "https://s.eu/p1"),
      (2L, """<a href="/p1">one</a>""", "https://s.eu/p2"),
      (3L, """<a href="https://ext.eu/out">ext</a>""", "https://s.eu/p3"))
      .toDF("doc_id", "html", "page_url")
    val edges = SyncOps.linkExtract(docs, "html", "page_url")
      .select(col("page_url").as("src"), col("link_url").as("dst"))
    val ranks = graft.operators.GraphOps.pageRank(edges, iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(ranks.size == 4, "3 pages + the external sink are the node set")
    assert(math.abs(ranks.values.sum - 1.0) < 1e-9, "mass conserved incl. dangling ext page")
    assert(ranks("https://s.eu/p1") > ranks("https://s.eu/p3"),
      "the page everything links to outranks the leaf")
  }

  test("frontierSchedule: per-host cap holds per wave, priority first, budget truncates") {
    val spark2 = spark
    import spark2.implicits._
    val urls = (1 to 7).map(i => (s"https://a.eu/$i", "a", i.toLong)) ++
      Seq(("https://b.eu/1", "b", 5L), ("https://b.eu/2", "b", 5L))
    val out = SyncOps.frontierSchedule(
      urls.toDF("url", "host", "priority").repartition(7),
      "host", "priority", slotsPerWave = 3, maxPerHost = 5L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("host_rank"), r.getAs[Long]("wave"), r.getAs[Long]("slot")))
      .toMap
    // host a: 7 urls, budget 5 → urls 7,6,5,4,3 kept (priority desc), 1-2 dropped
    assert(!out.contains("https://a.eu/1") && !out.contains("https://a.eu/2"))
    assert(out("https://a.eu/7") == (1L, 0L, 0L), "highest priority is wave 0 slot 0")
    assert(out("https://a.eu/4") == (4L, 1L, 0L), "4th page rolls into wave 1")
    // no host exceeds slotsPerWave in any wave
    val perHostWave = out.groupBy { case (u, (_, w, _)) => (u.contains("//a."), w) }
    assert(perHostWave.values.forall(_.size <= 3))
    // equal priority ties break by url asc, deterministically
    assert(out("https://b.eu/1")._1 == 1L && out("https://b.eu/2")._1 == 2L)
  }

  // ---------------------------------------------------------- robots_parse/fetch

  private def robotsOf(content: String) = {
    val df = Seq(("h1", content)).toDF("host", "content")
    SyncOps.parseRobotsTxt(df, "host", "content")
  }

  test("parseRobotsTxt: groups, agent accumulation, empty-disallow allowance") {
    val rules = robotsOf(Seq(
      "Disallow: /stray",          // before any UA: dropped (state 0)
      "User-agent: alpha",
      "User-Agent: beta",          // accumulates into entry 1
      "Disallow: /a",
      "Allow: /a/pub",
      "# comment only — no state change",
      "Disallow:",                 // empty value → allowance flips to TRUE
      "",
      "Disallow: /orphan",         // after blank, no UA: dropped
      "User-agent: *",
      "Disallow: /b").mkString("\n"))
      .collect().map(r => (r.getAs[Long]("group_id"), r.getAs[scala.collection.Seq[String]]("agents"),
        r.getAs[Int]("rule_idx"), r.getAs[Boolean]("allowance"), r.getAs[String]("path")))
      .sortBy(t => (t._1, t._3))
    assert(!rules.exists(_._5 == "/stray"), "pre-group rule dropped")
    assert(!rules.exists(_._5 == "/orphan"), "post-blank orphan rule dropped")
    val g1 = rules.filter(_._1 == 1)
    assert(g1.head._2.toSeq == Seq("alpha", "beta"), "consecutive UA lines form one entry")
    assert(g1.map(t => (t._3, t._4, t._5)).toSeq ==
      Seq((1, false, "/a"), (2, true, "/a/pub"), (3, true, "")),
      "rule order kept; comment line is a no-op; empty Disallow becomes allow-all")
    val g2 = rules.filter(_._1 == 2)
    assert(g2.head._2.toSeq == Seq("*") && g2.map(_._5).toSeq == Seq("/b"))
  }

  test("parseRobotsTxt strips FULL whitespace like CPython's line.strip()") {
    // robotparser does `line.strip()` — tab/NBSP/U+001F padding around keys and
    // values is real-web content and must parse, not drop. Verified
    // against CPython 3: these lines yield ua=['padded'] with rules
    // /tabbed (deny) and /nbsp (deny).
    val rules = robotsOf(Seq(
      "\tUser-agent\t: padded",
      " \t Disallow: \t/tabbed\t ",
      "\u00A0Disallow:\u00A0/nbsp\u00A0",
      "\u001FDisallow:\u001F/ctl\u001F").mkString("\n"))
      .collect().map(r => (r.getAs[scala.collection.Seq[String]]("agents").toSeq,
        r.getAs[String]("path")))
    assert(rules.toSeq == Seq((Seq("padded"), "/tabbed"), (Seq("padded"), "/nbsp"),
        (Seq("padded"), "/ctl")),
      s"tab/NBSP/US-padded lines must strip like Python, got ${rules.toSeq}")
  }

  test("parseRobotsTxt: blank after UA header discards the entry; crawl-delay keeps it open") {
    val rules = robotsOf(Seq(
      "User-agent: ghost",
      "",                          // state 1 + blank → entry discarded
      "Disallow: /g",              // state 0: dropped
      "User-agent: cd",
      "Crawl-delay: 5",            // opens state 2, no rule row
      "User-agent: after",         // state 2 + UA → NEW entry
      "Disallow: /x").mkString("\n"))
      .collect().map(r => (r.getAs[scala.collection.Seq[String]]("agents"), r.getAs[String]("path")))
    assert(!rules.exists(_._1.contains("ghost")), "blank-discarded header emits nothing")
    assert(rules.toSeq == Seq((Seq("after"), "/x")),
      "crawl-delay closed the cd entry (no rules), so the next UA starts fresh")
  }

  test("robotsCanFetch: wildcard cascade, star fallback, substring agent match") {
    val robots = Seq(("h1", Seq(
      "User-agent: graft",         // substring-matches "graftbot/1.0"
      "Disallow: /private/",
      "Disallow: /*.pdf$",         // glob + exact
      "Allow: /docs/",
      "Disallow: /docs",           // later rule, must lose to the Allow
      "",
      "User-agent: *",
      "Disallow: /").mkString("\n"))).toDF("host", "content")
    val rules = SyncOps.parseRobotsTxt(robots, "host", "content")
    val urls = Seq(
      (1L, "h1", "https://h1.eu/private/x"),   // prefix deny
      (2L, "h1", "https://h1.eu/files/a.pdf"), // glob $-exact deny
      (3L, "h1", "https://h1.eu/files/a.pdfx"),// $ means EXACT: no match → allow
      (4L, "h1", "https://h1.eu/docs/a"),      // Allow wins (first match)
      (5L, "h1", "https://h1.eu/other"),       // no rule applies → allow
      (6L, "h2", "https://h2.eu/anything")     // host without robots → allow
    ).toDF("id", "host", "url")
    def verdicts(ua: String) =
      SyncOps.robotsCanFetch(rules, urls, "host", "url", ua)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("allowed")).toMap
    val g = verdicts("graftbot/1.0")
    assert(g == Map(1L -> false, 2L -> false, 3L -> true, 4L -> true, 5L -> true, 6L -> true))
    val o = verdicts("otherbot")
    assert(o == Map(1L -> false, 2L -> false, 3L -> false, 4L -> false, 5L -> false, 6L -> true),
      "unmatched agent falls to the * entry's deny-all; unknown host still allows")
  }

  test("robotsCanFetch: star entry is never name-matched; first star entry wins") {
    val robots = Seq(("h1", Seq(
      "User-agent: *",
      "User-agent: graft",         // entry contains * → default entry ONLY
      "Disallow: /a",
      "",
      "User-agent: *",             // second star entry: CPython discards it
      "Disallow: /b").mkString("\n"))).toDF("host", "content")
    val rules = SyncOps.parseRobotsTxt(robots, "host", "content")
    val urls = Seq((1L, "h1", "/a/x"), (2L, "h1", "/b/x")).toDF("id", "host", "url")
    val v = SyncOps.robotsCanFetch(rules, urls, "host", "url", "graftbot")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Boolean]("allowed")).toMap
    // graftbot does NOT name-match entry 1 (it is a star entry), but falls
    // back to it as the FIRST default entry; /b's group is unreachable
    assert(v == Map(1L -> false, 2L -> true))
  }

  test("sitemapTree: index resolves to leaf pages; dangling children drop") {
    val indexes = Seq(("s1",
      "<sitemapindex><sitemap><loc>https://s1/a.xml</loc></sitemap>" +
      "<sitemap><loc>https://s1/missing.xml</loc></sitemap></sitemapindex>"))
      .toDF("site", "idx_xml")
    val leaves = Seq(
      ("https://s1/a.xml",
        "<urlset><url><loc>https://s1/p1</loc><lastmod>2026-01-01</lastmod></url>" +
        "<url><loc>https://s1/p2</loc></url></urlset>"),
      ("https://s1/unreferenced.xml", "<urlset><url><loc>https://s1/px</loc></url></urlset>"))
      .toDF("leaf_url", "leaf_xml")
    val out = SyncOps.sitemapTree(indexes, "idx_xml", leaves, "leaf_url", "leaf_xml")
      .collect().map(r => (r.getAs[String]("sitemap_url"), r.getAs[String]("url"),
        r.getAs[String]("lastmod"))).sortBy(_._2)
    assert(out.toSeq == Seq(
      ("https://s1/a.xml", "https://s1/p1", "2026-01-01"),
      ("https://s1/a.xml", "https://s1/p2", "")),
      "only the fetched, referenced leaf contributes pages")
  }

  test("parseRobotsGroups + ruleless entry wins selection via the groups arg") {
    val robots = Seq(("h1", Seq(
      "User-agent: graftbot", // ruleless: politeness only
      "Crawl-delay: 5",
      "",
      "User-agent: *",
      "Disallow: /").mkString("\n"))).toDF("host", "content")
    val groups = SyncOps.parseRobotsGroups(robots, "host", "content")
    val g = groups.collect().map(r => r.getAs[Long]("group_id") ->
      (r.getAs[scala.collection.Seq[String]]("agents").toSeq, r.getAs[Any]("crawl_delay"))).toMap
    assert(g(1L) == (Seq("graftbot"), 5L), "ruleless entry surfaces with its delay")
    assert(g(2L) == (Seq("*"), null))
    val rules = SyncOps.parseRobotsTxt(robots, "host", "content")
    val urls = Seq((1L, "h1", "/a")).toDF("id", "host", "url")
    // without groups: graftbot's ruleless entry is invisible → falls to *'s
    // deny-all; with groups: CPython semantics — the ruleless entry wins
    // selection and answers allow-all
    val without = SyncOps.robotsCanFetch(rules, urls, "host", "url", "graftbot")
      .collect().head.getAs[Boolean]("allowed")
    val withG = SyncOps.robotsCanFetch(rules, urls, "host", "url", "graftbot",
      groupsDf = Some(groups))
      .collect().head.getAs[Boolean]("allowed")
    assert(!without && withG,
      "the groups argument restores ruleless-entry selection fidelity")
  }

  test("parseRobotsTxt: CRLF robots.txt parses identically to LF (real-web norm)") {
    val lf = Seq(
      "User-agent: graftbot",
      "Disallow: /private/",
      "Crawl-delay: 5",
      "",
      "User-agent: *",
      "Disallow: /").mkString("\n")
    val crlf = lf.replace("\n", "\r\n")
    def parse(content: String) = {
      val df = Seq(("h1", content)).toDF("host", "content")
      SyncOps.parseRobotsTxt(df, "host", "content")
        .collect().map(r => (r.getAs[Long]("group_id"),
          r.getAs[scala.collection.Seq[String]]("agents").toSeq,
          r.getAs[Boolean]("allowance"), r.getAs[String]("path")))
        .sortBy(t => (t._1, t._4)).toSeq
    }
    assert(parse(crlf) == parse(lf), "CRLF must not leave \\r on values or eat blank lines")
    assert(parse(lf).map(_._4).toSet == Set("/private/", "/"))
    // delays too: "5\r" must still parse as integer 5
    val g = SyncOps.parseRobotsGroups(
      Seq(("h1", crlf)).toDF("host", "content"), "host", "content")
      .collect().map(r => r.getAs[scala.collection.Seq[String]]("agents").toSeq ->
        r.getAs[Any]("crawl_delay")).toMap
    assert(g(Seq("graftbot")) == 5L)
  }

  test("parseRobotsGroups drops header-only entries CPython discards") {
    // verified against stdlib: "User-agent: ghost" followed by a blank line
    // (state 1) is discarded and never answers can_fetch
    val robots = Seq(("h1", Seq(
      "User-agent: ghost",
      "",
      "User-agent: *",
      "Disallow: /").mkString("\n"))).toDF("host", "content")
    val groups = SyncOps.parseRobotsGroups(robots, "host", "content")
    val names = groups.collect().map(_.getAs[scala.collection.Seq[String]]("agents").toSeq).toSet
    assert(names == Set(Seq("*")), "the ghost header-only entry must not surface")
    // and through robotsCanFetch's groupsDf the verdict falls to * deny-all,
    // exactly like CPython
    val rules = SyncOps.parseRobotsTxt(robots, "host", "content")
    val urls = Seq((1L, "h1", "/a")).toDF("id", "host", "url")
    val v = SyncOps.robotsCanFetch(rules, urls, "host", "url", "ghostbot",
      groupsDf = Some(groups)).collect().head.getAs[Boolean]("allowed")
    assert(!v, "discarded entry cannot win selection")
  }

  test("GlobRegex: Java-active class-body chars stay literal (fnmatch semantics)") {
    import graft.functions.GlobRegex
    // nested '[' inside a class: fnmatch literal, Java class-union opener —
    // must compile and match the literal bracket
    val rx1 = GlobRegex.translate("/x[[]y")
    assert("/x[y".matches(rx1), s"[[]y must match literal bracket, rx=$rx1")
    // '&&' inside a class: Java intersection, fnmatch literal set {a,&,b}
    val rx2 = GlobRegex.translate("/p[a&&b]q$")
    for (c <- Seq("a", "&", "b"))
      assert(s"/p${c}q".matches(rx2), s"class must contain literal '$c', rx=$rx2")
    assert(!"/pxq".matches(rx2))
  }

  test("GlobRegex: CPython translate parity on range/class edge cases") {
    import graft.functions.GlobRegex
    // every expectation here verified against CPython 3.11 fnmatch
    def m(pat: String, s: String): Boolean = s.matches(GlobRegex.translate(pat + "$"))
    // reversed range: never-match, and crucially COMPILES (Java would throw
    // on [z-a]) — one hostile rule must not kill a verdict job
    assert(!m("/x[z-a]y", "/xzy") && !m("/x[z-a]y", "/xy"))
    // leading ^ is a literal caret, first ] after it is literal
    assert(m("/a[^]]", "/a^]") && !m("/a[^]]", "/ax]"))
    // plain and negated ranges
    assert(m("/p[a-c]q", "/pbq"))
    assert(m("/p[!a-c]q", "/pxq") && !m("/p[!a-c]q", "/pbq"))
    // first/last-position hyphens are literal
    assert(m("/m[-a]n", "/m-n") && m("/m[a-]n", "/m-n"))
    // the a--b merge: CPython collapses to [b]
    assert(!m("/w[a--b]v", "/w-v") && m("/w[a--b]v", "/wbv"))
  }

  test("parseRobotsTxtSplitlines boundary chars beyond CR/LF break lines") {
    // CPython splitlines also breaks on form feed (\f) and NEL (0x85) —
    // a deny-all robots.txt using them must still deny
    val content = "User-agent: *\fDisallow: /priv" + 0x85.toChar +
      "Disallow: /other"
    val robots = Seq(("h1", content)).toDF("host", "content")
    val paths = SyncOps.parseRobotsTxt(robots, "host", "content")
      .collect().map(_.getAs[String]("path")).sorted.toSeq
    assert(paths == Seq("/other", "/priv"),
      "form feed and NEL must split lines like CPython splitlines")
  }

  test("linkExtract resolves protocol-relative hrefs with the page scheme") {
    val docs = Seq((1L,
      "<a href=\"//cdn.example.com/lib.js\">Cdn</a><a href=\"/abs\">Abs</a>",
      "https://site.eu/dir/page.html")).toDF("doc_id", "html", "page_url")
    val urls = SyncOps.linkExtract(docs, "html", "page_url")
      .collect().map(_.getAs[String]("link_url")).sorted.toSeq
    assert(urls == Seq("https://cdn.example.com/lib.js", "https://site.eu/abs"),
      "//host hrefs take the page scheme, not the page host")
  }

  test("linkExtract treats scheme names case-insensitively (RFC 3986)") {
    val docs = Seq((1L,
      "<a href=\"HTTPS://ex.eu/x\">Up</a><a href=\"Http://ex.eu/y\">Mixed</a>" +
        "<a href=\"JAVASCRIPT:void(0)\">Js</a><a href=\"MailTo:a@b.eu\">M</a>",
      "https://site.eu/dir/page.html")).toDF("doc_id", "html", "page_url")
    val urls = SyncOps.linkExtract(docs, "html", "page_url")
      .collect().map(_.getAs[String]("link_url")).sorted.toSeq
    assert(urls == Seq("HTTPS://ex.eu/x", "Http://ex.eu/y"),
      "uppercase http(s) hrefs are absolute (not corrupted into relative " +
        "paths); uppercase javascript:/mailto: still drop")
  }

  test("robotsCanFetch verdicts key on (host, url) — no nondeterministic row id") {
    val robots = Seq(("h1", "User-agent: *\nDisallow: /private/"))
      .toDF("host", "content")
    val rules = SyncOps.parseRobotsTxt(robots, "host", "content")
    // duplicate (host, url) input rows and an extra payload column: each
    // duplicate must come back with the same (correct) verdict
    val urls = Seq(
      ("h1", "https://h1.eu/private/a", "p1"),
      ("h1", "https://h1.eu/private/a", "p2"),
      ("h1", "https://h1.eu/pub", "p3"),
      ("h1", "https://h1.eu/pub", "p4")).toDF("host", "url", "payload")
    val out = SyncOps.robotsCanFetch(rules, urls, "host", "url", "anybot")
    val got = out.collect()
      .map(r => (r.getAs[String]("payload"), r.getAs[Boolean]("allowed"))).toMap
    assert(got == Map("p1" -> false, "p2" -> false, "p3" -> true, "p4" -> true),
      "every input row keeps its own verdict, duplicates included")
    // the verdict join must never ride a monotonically_increasing_id: the id
    // is nondeterministic across recomputations (task retry, AQE re-plan)
    // and this plan evaluates the url side twice
    val plan = out.queryExecution.analyzed.toString
    assert(!plan.contains("monotonically_increasing_id"),
      "deterministic composite key, not a synthetic row id")
  }

  test("frontierSchedule bucket tournament is exact: identical output to the single window") {
    // one mega-host (900 urls, cap 50) + one small host under the cap;
    // priorities collide heavily so boundary ties are exercised
    val urls = ((1 to 900).map(i => (f"https://mega.eu/$i%04d", "mega", (i % 37).toLong)) ++
      (1 to 20).map(i => (f"https://small.eu/$i%04d", "small", (i % 5).toLong)))
      .toDF("url", "host", "priority").repartition(13)
    def run(buckets: Int) = SyncOps.frontierSchedule(
      urls, "host", "priority", slotsPerWave = 4, maxPerHost = 50L,
      preTruncateBuckets = buckets)
      .select("url", "host", "host_rank", "wave", "slot")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val tournament = run(32)
    val single = run(1) // the plain one-window reference path
    assert(tournament == single,
      "two-level truncation must reproduce the exact per-host top-K")
    assert(tournament.count(_._2 == "mega") == 50 &&
      tournament.count(_._2 == "small") == 20)
  }

  test("sitemapTreeDeep: 3-level tree resolves; maxDepth=1 stops above the leaves") {
    val roots = Seq(("s1",
      "<sitemapindex><sitemap><loc>https://s1.eu/mid.xml</loc></sitemap></sitemapindex>"))
      .toDF("site", "xml")
    val pool = Seq(
      ("https://s1.eu/mid.xml",
        "<sitemapindex><sitemap><loc>https://s1.eu/leaf.xml</loc></sitemap>" +
          "<sitemap><loc>https://s1.eu/ghost.xml</loc></sitemap></sitemapindex>"),
      ("https://s1.eu/leaf.xml",
        "<urlset><url><loc>https://s1.eu/p1</loc></url>" +
          "<url><loc>https://s1.eu/p2</loc></url></urlset>"),
      ("https://s1.eu/orphan.xml", // fetched but listed by nothing
        "<urlset><url><loc>https://s1.eu/never</loc></url></urlset>"))
      .toDF("f_url", "f_xml")
    val full = SyncOps.sitemapTreeDeep(roots, "xml", pool, "f_url", "f_xml")
      .select("site", "sitemap_url", "url").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(full == Set(
      ("s1", "https://s1.eu/leaf.xml", "https://s1.eu/p1"),
      ("s1", "https://s1.eu/leaf.xml", "https://s1.eu/p2")),
      "pages come only from REACHABLE leaves: the dangling ghost child and " +
        "the fetched-but-unlisted orphan both stay out")
    val capped = SyncOps.sitemapTreeDeep(roots, "xml", pool, "f_url", "f_xml",
      maxDepth = 1)
    assert(capped.isEmpty,
      "depth 1 resolves only the root level, whose children are all indexes")
  }

  test("sitemapTreeDeep bounds its storage: one leaf-set checkpoint, " +
      "explicitly releasable") {
    // Same 3-level tree as above — deep enough that the level loop
    // materializes multiple per-level joins. The bounded-storage contract
    // (operator scaladoc): on RETURN exactly one checkpoint is pinned (the
    // accumulated leaf set — the result's backing data) and every
    // per-level checkpoint plus the pool cache is already gone; the caller
    // releases the leaf set deterministically when done. The assertions
    // look only at RDDs the call itself persisted: the GC-driven
    // ContextCleaner may unpersist older RDDs of the shared context at any
    // time, so a count over the whole context would race it.
    val roots = Seq(("s1",
      "<sitemapindex><sitemap><loc>https://s1.eu/mid.xml</loc></sitemap></sitemapindex>"))
      .toDF("site", "xml")
    val pool = Seq(
      ("https://s1.eu/mid.xml",
        "<sitemapindex><sitemap><loc>https://s1.eu/leaf.xml</loc></sitemap></sitemapindex>"),
      ("https://s1.eu/leaf.xml",
        "<urlset><url><loc>https://s1.eu/p1</loc></url></urlset>"))
      .toDF("f_url", "f_xml")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def added = spark.sparkContext.getPersistentRDDs.keySet -- before
    val out = SyncOps.sitemapTreeDeep(roots, "xml", pool, "f_url", "f_xml",
      maxDepth = 5)
    val backing = Checkpoints.rdds(out).map(_.id).toSet
    assert(backing.size === 1, "the plan references exactly one checkpoint")
    assert(added === backing,
      "on return: per-level checkpoints and the pool cache are released, " +
        "only the leaf-set checkpoint backs the result")
    assert(out.count() === 1L, "the tree resolves through the leaf checkpoint")
    Checkpoints.release(out)
    assert(added.isEmpty,
      "explicit release drops the leaf-set checkpoint deterministically")
  }

  test("sitemapTreeDeep with a reliable checkpoint dir leaves only the leaf set on disk") {
    val roots = Seq(("s1",
      "<sitemapindex><sitemap><loc>https://s1.eu/mid.xml</loc></sitemap></sitemapindex>"))
      .toDF("site", "xml")
    val pool = Seq(
      ("https://s1.eu/mid.xml",
        "<sitemapindex><sitemap><loc>https://s1.eu/leaf.xml</loc></sitemap></sitemapindex>"),
      ("https://s1.eu/leaf.xml",
        "<urlset><url><loc>https://s1.eu/p1</loc></url>" +
          "<url><loc>https://s1.eu/p2</loc></url></urlset>"))
      .toDF("f_url", "f_xml")
    ReliableCheckpoints(spark) {
      val out = SyncOps.sitemapTreeDeep(roots, "xml", pool, "f_url", "f_xml")
      assert(out.select("url").as[String].collect().toSet ===
        Set("https://s1.eu/p1", "https://s1.eu/p2"))
      assert(ReliableCheckpoints.leaves(out).size === 1)
      assert(ReliableCheckpoints.onDisk(spark) === ReliableCheckpoints.leaves(out),
        "the per-level checkpoint directories are deleted on release")
    }
  }

  test("bloomParams clamps at the single-array cap instead of throwing") {
    import graft.functions.BloomFns
    val (bits, k) = BloomFns.bloomParams(4000000000L, 0.01)
    assert(bits > 0 && bits / 8 <= Int.MaxValue - 4, "capped to one byte array")
    assert(k >= 1, "hash count stays sane at the cap")
    // and the exact-result contract survives: a saturated bloom only
    // routes more rows to the exact anti-join (asserted by the
    // frontierBloom oracle staying the plain anti-join)
  }
}
