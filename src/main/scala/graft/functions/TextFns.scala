package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pure `Column` functions shared by the normalization / text-analysis
  * operator families. Everything here is built from `org.apache.spark.sql.
  * functions._` expression trees so whole-stage codegen applies — no UDFs.
  *
  * Reference semantics mirrored (read-only reference at /root/reference):
  *  - `cleanHtml`: dags/normalizers/lib/normalizers.py:208 `cleanhtml`
  *    (non-greedy `<.*?>` strip, then strip()).
  *  - `wordCount`/`readingTime`: normalizers.py:265 (`len(re.findall(r"\w+",
  *    text))`, wpm=228 at :287) and the blacklist→-1 rule at :483.
  *  - `firstWords`: normalizers.py:592 description fallback
  *    (`" ".join(fulltext.strip().split(" ")[:100])`).
  */
object TextFns {

  /** Edge trim over Unicode Zs space separators — EXACTLY what DuckDB's
    * bare `trim()` strips (probed: space, NBSP, U+1680, U+2000-U+200A,
    * U+202F, U+205F, U+3000 — not \t/\r/\n/NEL/LS/PS). Spark's `trim()`
    * strips ASCII space ONLY, so a twin written with DuckDB `trim(x)`
    * silently diverges on NBSP-edged text (caught by the crawl
    * differential on a U+00A0-suffixed anchor). All operator-side edge
    * trims use this so the 90 twin trim() sites stay engine-exact
    * (implemented as Spark's set-based `trim(col, trimStr)` — codegen'd
    * StringTrim, NOT a regex: the first regexp_replace formulation cost
    * the search/tokenizer families ~25% wall); it is
    * also strictly closer to the reference's Python `str.strip()` than
    * ASCII-space trim (Python additionally strips \t\n\r\f\v — that
    * remainder is the documented approximation).
    */
  val ZsChars: String =
    " \u00A0\u1680" + ('\u2000' to '\u200A').mkString + "\u202F\u205F\u3000"
  def zsTrim(c: Column): Column = {
    // Direct StringTrim construction (same codegen'd expression the
    // two-param trim() resolves to) — the functions.trim(col, str)
    // overload routes through FunctionResolution, which WARNs that the
    // two-parameter TRIM signature is deprecated; the catalyst node is
    // the non-deprecated surface and skips the registry entirely.
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    import org.apache.spark.sql.catalyst.expressions.{Literal, StringTrim}
    GraftSqlBridge.column(
      StringTrim(GraftSqlBridge.expression(c), Some(Literal(ZsChars))))
  }

  /** Reference regex (normalizers.py:211) with (?d): Python's `.` (and
    * RE2's) excludes ONLY \n, but Java's bare `.` also refuses \r, NEL,
    * LS and PS — so a tag broken by a bare \r ("<div\rclass=x>") is
    * stripped by the reference and the oracle but was left in place by
    * Java. UNIX_LINES restricts Java's dot to the \n-only rule all three
    * engines then share.
    */
  val HtmlTagRe = "(?d)<.*?>"

  /** HTML → text: strip tags, then trim (normalizers.py:208-213). */
  def cleanHtml(c: Column): Column = zsTrim(regexp_replace(c, HtmlTagRe, ""))

  /** Remove whole element subtrees by simple CSS selector (`#id` /
    * `.class` / `.a.b`) — the `remove_by_selector` step of the
    * trafilatura wrapper (trafilatura_extract.py:96-109), as the native
    * [[StripHtmlSelectors]] kernel.
    */
  def stripSelectors(c: Column, selectors: Seq[String]): Column = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    GraftSqlBridge.column(
      StripHtmlSelectors(GraftSqlBridge.expression(c), selectors))
  }

  /** Inner HTML of the first element matching a simple CSS selector, or
    * the empty string — the reference's `main_by_css_selector` narrowing
    * (trafilatura_extract.py:82-94), as the native [[SelectHtmlSelector]]
    * kernel.
    */
  def selectMain(c: Column, selector: String): Column = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    GraftSqlBridge.column(SelectHtmlSelector(GraftSqlBridge.expression(c), selector))
  }

  /** `\w+` match count — the reference's word counter (normalizers.py:265).
    *
    * The class is spelled out explicitly rather than written `(?U)\w`
    * because Java's UNICODE_CHARACTER_CLASS `\w` diverges from both the
    * oracle and the reference on two edges: it EXCLUDES category-No digits
    * (½ U+00BD, ² U+00B2, ① U+2460 — Java's `\w` is Nd-only on the digit
    * axis, while Python's `\w` and the DuckDB twin class match them) and
    * INCLUDES Other_Alphabetic So chars (circled letters U+24B6–U+24E9)
    * that both the twin class and RE2 exclude. With `(?U)` active,
    * Java's `\p{N}` is the full general category N = Nd+Nl+No, so this
    * explicit class is token-for-token the DuckDB twins'
    * `[\p{L}\p{M}\p{N}\p{Pc}\x{200C}\x{200D}]+` — pinned on the No/So
    * boundary chars by tools/unicode_differential.py's HOSTILE_TOKENS.
    */
  val WordRe = "(?U)[\\p{L}\\p{M}\\p{N}\\p{Pc}\\x{200C}\\x{200D}]+"

  def wordCount(c: Column): Column =
    size(regexp_extract_all(c, lit(WordRe), lit(0))).cast("long")

  /** Words-per-minute reading time (normalizers.py:287); callers apply the
    * type-blacklist→-1 rule (normalizers.py:483) since it needs doc context.
    */
  def readingTime(c: Column, wpm: Int = 228): Column =
    NumFns.roundHalfUp(wordCount(c) / lit(wpm.toDouble), 4)

  /** Single-space tokens of a trimmed text column. Uses `split` (codegen'd);
    * the corpus is single-space separated so this equals Python
    * `text.strip().split(" ")` (normalizers.py:592).
    */
  def spaceTokens(c: Column): Column = split(zsTrim(c), " ")

  /** First `n` space-tokens re-joined — the description fallback
    * (normalizers.py:592).
    */
  def firstWords(c: Column, n: Int): Column =
    array_join(slice(spaceTokens(c), 1, n), " ")

  /** Distinct word n-grams as joined strings — the unit of the Jaccard /
    * MinHash dedup family. Requires at least `n` tokens (callers filter).
    * Backed by the native codegen'd `WordNgrams` expression (the
    * interpreted HOF formulation it replaces is its spec cross-check).
    */
  def wordNgrams(tokens: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    GraftSqlBridge.column(WordNgrams(GraftSqlBridge.expression(tokens), n))
  }

  /** Count of tokens that belong to `set` (tiny literal set → stays inside
    * codegen; no join needed).
    */
  def tokensIn(tokens: Column, set: Seq[String]): Column =
    size(filter(tokens, t => t.isInCollection(set))).cast("long")
}
