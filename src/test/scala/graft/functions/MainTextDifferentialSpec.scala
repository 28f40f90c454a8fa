package graft.functions

import graft.SparkSpec
import graft.operators.NormOps
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String

/** The [[MainText]] kernel against [[MainTextReference]] (the Column
  * formulation it replaced), and its generated code against its
  * interpreted path, on seeded hostile HTML: anchors holding 0-3 line
  * breaks, CRLF / U+0085 / U+2028 line ends, NBSP-edged and astral-plane
  * text, lines at 29 and 30 code points, upper-case tags, unclosed
  * anchors, raw sentinel characters, null and empty input.
  */
class MainTextDifferentialSpec extends SparkSpec {

  private val Astral = "𝔘𝔫😀" // 3 code points, 6 chars

  /** Hand-picked edges, then seeded fragment soup. */
  private val corpus: Seq[String] = {
    val edges = Seq(
      null, "", " ", "\u00A0", "<p></p>", "\n\n",
      "a".repeat(29), "a".repeat(30), "a".repeat(29) + ".",
      // 29 / 30 code points, more UTF-16 chars
      Astral * 5 + "b".repeat(14), Astral * 5 + "b".repeat(15),
      "\u00A0" + "c".repeat(30) + "\u00A0", "\u3000\u2000short line.\u202F",
      "<P>Upper-case paragraph tags hold this sentence.</P><BR>TAIL WITHOUT END",
      "<DIV CLASS=\"article-content\"><P>Upper-case container prose line here.</P></DIV>",
      "<a href=\"/x\">unclosed anchor text that runs on and on<p>prose after it, long enough.</p>",
      "<A HREF=\"/x\">Upper anchor</A> with a little trailing text.",
      "<a href=\"/1\">one<br>two<br/>three<br />four</a> plain words after the link",
      "<p>line one\r\nline two is long enough to keep it\r\n</p>",
      "<p>nel\u0085separated line that is long enough\u2028ls separated line, long enough too</p>",
      "raw \u0001sentinel\u0002 characters in the input text, long enough",
      "\u0001unterminated sentinel span running to the end of the line",
      "\u0002\u0001 \u00A0\u0001\u0002")
    val rnd = new scala.util.Random(20261017L)
    val words = Array("word", "prose", "Ünïcødé", Astral, "\u00A0", "\u3000", " ",
      "\t", ".", "!", "?", "x", "a sentence that is long enough to pass alone",
      "\u0001", "\u0002", "\r", "\r\n", "\u0085", "\u2028", "\u2029", "<", ">")
    val tags = Array("<p>", "</p>", "<P>", "</P>", "<div>", "</div>", "</DIV>",
      "<br>", "<BR/>", "<br />", "<li>", "</li>", "<h2>", "</H2>", "<span>",
      "</span>", "<nav>", "</nav>", "<footer>", "</footer>", "<header>",
      "<article>", "</article>", "<div class=\"article-content\">", "<main>",
      "<ul>", "</ul>", "<script>var a = '<p>';</script>", "<!-- note -->",
      "<a href=\"/x\">", "</a>", "<A>", "</A>", "<section id=\"content\">")
    def text(): String = Seq.fill(1 + rnd.nextInt(8))(words(rnd.nextInt(words.length)))
      .mkString(if (rnd.nextBoolean()) " " else "")
    def anchor(): String = {
      val breaks = rnd.nextInt(4) // 0-3 breaks inside one anchor
      val parts = Seq.fill(breaks + 1)(text())
      val sep = Array("<br>", "</p>", "</div>", "<BR/>", "</li>")
      val body = parts.reduce((a, b) => a + sep(rnd.nextInt(sep.length)) + b)
      (if (rnd.nextBoolean()) "<a href=\"/l\">" else "<A HREF='/l'>") + body +
        (if (rnd.nextInt(5) == 0) "" else "</a>") // sometimes unclosed
    }
    val soup = Seq.fill(600) {
      Seq.fill(1 + rnd.nextInt(40)) {
        rnd.nextInt(4) match {
          case 0 => anchor()
          case 1 => tags(rnd.nextInt(tags.length))
          case _ => text()
        }
      }.mkString
    }
    edges ++ soup
  }

  private val Params = Seq((30, 0.5), (0, 0.0), (10, 1.0), (29, 0.3))

  private def both(f: Column => Column, g: Column => Column): Seq[(String, String, String)] = {
    val spark2 = spark
    import spark2.implicits._
    corpus.toDF("html").repartition(4)
      .select(col("html"), f(col("html")).as("got"), g(col("html")).as("want"))
      .as[(String, String, String)].collect().toSeq
  }

  private def assertSame(rows: Seq[(String, String, String)], what: String): Unit = {
    assert(rows.size == corpus.size)
    val bad = rows.filter { case (_, got, want) => got != want }
    assert(bad.isEmpty, s"$what: ${bad.size} of ${rows.size} docs differ, first: " +
      bad.headOption.map { case (h, g, w) => s"html=[$h] got=[$g] want=[$w]" }.getOrElse(""))
  }

  test("mainText matches the Column reference on hostile html") {
    for ((minChars, density) <- Params)
      assertSame(both(NormOps.mainText(_, minChars, density),
        MainTextReference.mainText(_, minChars, density)), s"mainText($minChars, $density)")
  }

  test("mainTextBlocks matches the Column reference on hostile html") {
    for ((minChars, density) <- Params)
      assertSame(both(NormOps.mainTextBlocks(_, minChars, density),
        MainTextReference.mainTextBlocks(_, minChars, density)),
        s"mainTextBlocks($minChars, $density)")
  }

  test("generated code and interpreted eval agree on hostile html") {
    for ((minChars, density) <- Params; blocks <- Seq(false, true)) {
      val kernel: Expression =
        MainText(BoundReference(0, StringType, nullable = true), minChars, density, blocks)
      // generate() throws on a compile error instead of falling back
      val projection = GenerateUnsafeProjection.generate(Seq(kernel))
      corpus.foreach { html =>
        val row = InternalRow(if (html == null) null else UTF8String.fromString(html))
        val generated = projection(row)
        val interpreted = kernel.eval(row)
        if (interpreted == null) assert(generated.isNullAt(0), s"null for [$html]")
        else assert(generated.getUTF8String(0) == interpreted,
          s"blocks=$blocks ($minChars, $density) on [$html]")
      }
    }
  }

  test("null html extracts null, empty html extracts empty, both ways") {
    val r = spark.sql("SELECT CAST(NULL AS STRING) AS n, '' AS e").select(
      NormOps.mainText(col("n")), NormOps.mainText(col("e")),
      NormOps.mainTextBlocks(col("n")), NormOps.mainTextBlocks(col("e"))).head
    assert(r.isNullAt(0) && r.getString(1) == "" && r.isNullAt(2) && r.getString(3) == "")
  }

  test("the extract-then-drop operators admit exactly the non-empty extractions") {
    val spark2 = spark
    import spark2.implicits._
    val docs = corpus.zipWithIndex.map { case (h, i) => (i.toLong, h) }.toDF("doc_id", "html")
    def ids(c: Column): Set[Long] =
      docs.filter(length(c) > 0).select("doc_id").as[Long].collect().toSet
    val cases = Seq(
      (NormOps.boilerplateFilter(docs, "html"), "text_main",
        MainTextReference.mainText(col("html"))),
      (NormOps.mainContentExtract(docs, "html"), "text_main",
        MainTextReference.mainTextBlocks(col("html"))),
      (NormOps.cleanHtmlDocs(docs, "html"), "text_clean", TextFns.cleanHtml(col("html"))))
    for ((out, name, reference) <- cases) {
      assert(out.columns.toSeq == Seq("doc_id", name))
      val got = out.as[(Long, String)].collect().toSeq
      assert(got.map(_._1).toSet == ids(reference) && got.size == got.map(_._1).toSet.size,
        s"$name admits the wrong rows")
      val want = docs.select(col("doc_id"), reference).as[(Long, String)].collect().toMap
      assert(got.forall { case (id, t) => want(id) == t }, s"$name values differ")
    }
  }
}
