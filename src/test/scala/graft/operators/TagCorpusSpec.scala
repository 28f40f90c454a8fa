package graft.operators

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.functions._

/** Tag-BEARING corpus coverage for the three tag-sensitive extraction
  * queries (main_text_blocks, nlp_preprocess, norm_strip_selectors) —
  * the exact trio the whole-suite hostile sweep excludes on the crawl
  * corpus because their DuckDB twins' documented contract is tag-free
  * text. Here the corpus is generated WITH markup injected into the
  * document text, and the expectations are constructive (the generator
  * knows what each component must extract to), asserted through the
  * REAL registered query pipelines at corpus scale:
  *
  *  - prose sentinels survive extraction;
  *  - inline formatting tags (`<b>`/`<i>`) strip to their visible text;
  *  - unknown structure-injection tags (`</loc><loc>…</loc>`, the crawl
  *    corpus's signature payload) strip away while their inline text
  *    stays inside the surrounding prose line;
  *  - script payloads and chrome subtrees never reach the output;
  *  - no markup character survives in any extracted text;
  *  - norm_strip_selectors removes EXACTLY its selector subtrees — the
  *    injected unknown tags pass through `stripped` verbatim.
  *
  * Containment-style expectations (not byte equality) keep the spec
  * pinned to tag SEMANTICS rather than to the kernel's whitespace
  * joining, which the byte-exact fixture suite (MainContentSpec,
  * HtmlExpressionsSpec) already covers at the unit level.
  */
class TagCorpusSpec extends SparkSpec {
  import spark.implicits._

  private val n = 200

  /** One prose line per doc with deterministic injected markup. */
  private def docText(i: Int): String = {
    val inject = if (i % 7 == 0) "</loc><loc>GHOSTINJECT</loc> " else ""
    val bold =
      if (i % 2 == 0)
        s" Inline <b>bold sentinel $i</b> prose continues with enough length to keep here."
      else ""
    val script = if (i % 3 == 0) s"<script>var evil$i = 1;</script>" else ""
    val nav =
      if (i % 5 == 0) "<nav><a href=\"/x\">NAVCHROME one</a> <a href=\"/y\">NAVCHROME two</a></nav>"
      else ""
    s"Unique prose sentinel $i ${inject}carries enough characters to pass the keep rule." +
      bold + script + nav
  }

  private lazy val dir: String = {
    val d = java.nio.file.Files.createTempDirectory("tagcorpus").toString
    (0 until n).map(i => (i.toLong, docText(i), "en", s"src${i % 3}", docText(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("main_text_blocks on a tag-bearing corpus extracts prose, strips every tag class") {
    val rows = SparkEntry.queries("main_text_blocks")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == n, s"every doc has keepable prose; got ${rows.size}/$n")
    for (i <- 0 until n) {
      val t = rows(i.toLong)
      assert(t.contains(s"prose sentinel $i"), s"doc $i lost its prose: $t")
      assert(!t.contains("<") && !t.contains(">"), s"doc $i leaked markup: $t")
      if (i % 2 == 0)
        assert(t.contains(s"bold sentinel $i"), s"doc $i lost inline-tag text: $t")
      if (i % 3 == 0)
        assert(!t.contains(s"evil$i"), s"doc $i leaked script payload: $t")
      if (i % 5 == 0)
        assert(!t.contains("NAVCHROME"), s"doc $i leaked chrome: $t")
      if (i % 7 == 0)
        assert(t.contains("GHOSTINJECT"), s"doc $i lost inline text of unknown tags: $t")
    }
  }

  test("nlp_preprocess on a tag-bearing corpus assembles tag-free fulltext") {
    val rows = SparkEntry.queries("nlp_preprocess")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.size == n)
    for (i <- 0 until n) {
      val t = rows(i.toLong)
      assert(!t.contains("<") && !t.contains(">"), s"doc $i leaked markup: $t")
      if (i % 3 != 0) {
        // non-empty web_html: its main-content extraction REPLACES the
        // assembled title/prop fields (nlp.py's fulltext-from-page path)
        assert(t.contains(s"prose sentinel $i"), s"doc $i lost its prose: $t")
        if (i % 7 == 0)
          assert(t.contains("GHOSTINJECT"), s"doc $i lost inline text of unknown tags: $t")
        if (i % 5 == 0)
          assert(!t.contains("NAVCHROME"), s"doc $i leaked chrome: $t")
      } else {
        // empty web_html: the assembled-field path, html struct props
        // cleaned of their tags
        assert(t.contains(s"Summary $i"), s"doc $i lost the html struct prop text: $t")
      }
    }
  }

  test("norm_strip_selectors removes exactly its selectors; unknown tags pass through") {
    val rows = SparkEntry.queries("norm_strip_selectors")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(rows.length == n)
    for ((id, stripped, main) <- rows) {
      val i = id.toInt
      // selector subtrees gone from `stripped`, everything else verbatim
      assert(!stripped.contains("portal-globalnav") && !stripped.contains("Banner text"),
        s"doc $i kept a selector subtree: $stripped")
      assert(stripped.contains(s"prose sentinel $i"))
      if (i % 7 == 0)
        assert(stripped.contains("<loc>GHOSTINJECT</loc>"),
          s"doc $i: unknown tags must survive selector stripping verbatim: $stripped")
      if (i % 3 == 0)
        assert(stripped.contains(s"var evil$i"),
          s"doc $i: non-selector script stays in `stripped`: $stripped")
      // the extraction column is tag-free and keeps the prose. (No script
      // assertion here: bare mainText is the LINE filter only — subtree
      // pruning is the container selection's job, covered by the
      // main_text_blocks test above — so inline-glued script TEXT is
      // visible text to it by contract.)
      assert(!main.contains("<") && !main.contains(">"), s"doc $i leaked markup: $main")
      assert(main.contains(s"prose sentinel $i"), s"doc $i lost its prose: $main")
      if (i % 7 == 0)
        assert(main.contains("GHOSTINJECT"),
          s"doc $i lost inline text of unknown tags in text_main: $main")
    }
  }
}
