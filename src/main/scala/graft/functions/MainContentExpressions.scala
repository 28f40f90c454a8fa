package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Main-content TEXT of an html column — the trafilatura stand-in
  * (SURVEY §6) as one codegen'd kernel, evaluated once per row through a
  * static forwarder (the [[StripHtmlSelectors]] pattern).
  *
  * `selectContainer = false` is the line filter alone
  * ([[MainText.lines]]); `true` is the full extraction: the
  * [[MainContainer]] selection, the line filter over it, and, when that
  * comes out empty, the line filter over the whole page with only chrome
  * pruned (trafilatura's favor_recall retry).
  */
case class MainText(child: Expression, minChars: Int, maxLinkDensity: Double,
    selectContainer: Boolean) extends UnaryExpression {

  override def prettyName: String =
    if (selectContainer) "main_text_blocks" else "main_text"

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    MainText.extract(input.asInstanceOf[UTF8String], minChars, maxLinkDensity,
      selectContainer)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    // the double by its bits: Double.toString is not Java source for NaN/Inf
    val density = "java.lang.Double.longBitsToDouble(" +
      s"${java.lang.Double.doubleToRawLongBits(maxLinkDensity)}L)"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.MainText.extract($c, $minChars, " +
        s"$density, $selectContainer);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MainText {

  /** Block-close tags (and `<br>`) become line breaks before the tag strip,
    * so the line filter sees the document's visual line structure.
    */
  val BlockCloseRe: String =
    "(?i)</(?:p|div|h[1-6]|head|li|td|tr|th|ul|ol|table|section|article|main|header|footer|nav|blockquote|title|body|html)>|<br */?>"

  /** Block-level OPEN tags break lines too (`</a><p>prose` must not glue the
    * link text to the paragraph); `<a>` and inline tags never match.
    */
  val BlockOpenRe: String =
    "(?i)<(?:p|div|h[1-6]|li|td|tr|th|ul|ol|table|section|article|main|header|footer|nav|blockquote)(?:\\s[^>]*)?>"

  /** Anchor elements; group 1 is the link text (marked with \x01..\x02
    * sentinels so per-line link density survives the global tag strip).
    */
  val AnchorRe: String = "(?is)<a(?:\\s[^>]*)?>(.*?)</a>"

  /** An anchor containing a `<br>`/block close carries a line break INSIDE
    * its sentinel span; a split would orphan the span and its text would
    * count as non-link. Each pass closes and reopens the span around one
    * break; two passes handle up to two breaks per anchor (beyond that the
    * residue degrades to the undercount, never a crash).
    */
  val SpanBreakRe: String = "(\\x01[^\\x02\\n]*)\\n"

  private val BlockBreak = Pattern.compile(BlockCloseRe + "|" + BlockOpenRe)
  private val Anchor = Pattern.compile(AnchorRe)
  private val SpanBreak = Pattern.compile(SpanBreakRe)
  private val Tag = Pattern.compile(TextFns.HtmlTagRe)

  def extract(html: UTF8String, minChars: Int, maxLinkDensity: Double,
      selectContainer: Boolean): UTF8String = {
    val s = html.toString
    val text =
      if (!selectContainer) lines(s, minChars, maxLinkDensity)
      else {
        val inContainer = lines(MainContainer.selectText(s), minChars, maxLinkDensity)
        if (inContainer.nonEmpty) inContainer
        else lines(MainContainer.pruneAll(s), minChars, maxLinkDensity)
      }
    UTF8String.fromString(text)
  }

  /** Line-level boilerplate filter of one html document: block tags become
    * line breaks, anchor text is wrapped in \x01..\x02 sentinels, every
    * tag is stripped (the reference's cleanhtml regex), and each
    * `\n`-separated line is kept iff its visible text (sentinels removed,
    * [[TextFns.ZsChars]]-trimmed) is non-empty, its link text (code points
    * inside sentinel spans) is at most `maxLinkDensity` of it, and it is
    * at least `minChars` code points long or ends in `.`/`!`/`?`. Kept
    * lines join with `\n`.
    */
  def lines(html: String, minChars: Int, maxLinkDensity: Double): String = {
    val marked = Anchor.matcher(BlockBreak.matcher(html).replaceAll("\n"))
      .replaceAll("\u0001$1\u0002")
    val repair = "$1\u0002\n\u0001"
    val repaired =
      SpanBreak.matcher(SpanBreak.matcher(marked).replaceAll(repair)).replaceAll(repair)
    val t = Tag.matcher(repaired).replaceAll("")
    val out = new java.lang.StringBuilder(t.length)
    var from = 0
    while (from <= t.length) {
      val nl = t.indexOf('\n', from)
      val until = if (nl < 0) t.length else nl
      keepLine(t, from, until, minChars, maxLinkDensity, out)
      from = until + 1
    }
    out.toString
  }

  private def isMark(c: Char): Boolean = c == '\u0001' || c == '\u0002'

  private def isEdge(c: Char): Boolean = isMark(c) || TextFns.ZsChars.indexOf(c) >= 0

  /** Appends line t[from, until)'s visible text to `out` (after a `\n`
    * unless it is the first kept line) when the line is content.
    */
  private def keepLine(t: String, from: Int, until: Int, minChars: Int,
      maxLinkDensity: Double, out: java.lang.StringBuilder): Unit = {
    // visible text = t[a, b) minus its sentinels: sentinels drop first, so
    // Zs runs with sentinels between them are still edges
    var a = from
    while (a < until && isEdge(t.charAt(a))) a += 1
    var b = until
    while (b > a && isEdge(t.charAt(b - 1))) b -= 1
    if (a == b) return
    var visLen = t.codePointCount(a, b)
    var i = a
    while (i < b) { if (isMark(t.charAt(i))) visLen -= 1; i += 1 }
    // link text: the inside of each leftmost \x01[^\x02]*\x02 span
    var linkLen = 0
    var open = -1
    i = from
    while (i < until) {
      val c = t.charAt(i)
      if (c == '\u0001' && open < 0) open = i
      else if (c == '\u0002' && open >= 0) {
        linkLen += t.codePointCount(open + 1, i); open = -1
      }
      i += 1
    }
    val last = t.charAt(b - 1)
    if (linkLen.toDouble <= visLen.toDouble * maxLinkDensity &&
        (visLen >= minChars || last == '.' || last == '!' || last == '?')) {
      if (out.length > 0) out.append('\n')
      i = a
      while (i < b) { val c = t.charAt(i); if (!isMark(c)) out.append(c); i += 1 }
    }
  }
}

/** Main-content CONTAINER selection — the first half of the reference's
  * trafilatura extraction path (normalizers/lib/trafilatura_extract.py:
  * 9-56 patches `trafilatura.xpaths.BODY_XPATH` with a prioritized list
  * of container patterns, then :120-122 extracts text from the matched
  * subtree). This kernel replays that selection as one linear scan:
  *
  *  - the five patched BODY_XPATH expressions become five TIERS; within a
  *    tier the FIRST matching element in document order wins (the
  *    `(…)[1]` in each expression), and a lower tier always beats a
  *    higher one no matter where it sits in the document;
  *  - candidate elements are `article|div|main|section` (plus the bare
  *    `article` element as tier 2 and `main` as part of tier 5, exactly
  *    the reference's expressions);
  *  - class/id tests are XPath `contains()`/`=`/`starts-with()` on the
  *    RAW attribute value, including the `translate()` case folds the
  *    reference patches in (`translate(@id,"B","b")` for articlebody,
  *    `FULTEX` for fulltext, `CM`/`CP` for main-content/page-content —
  *    the reference's `contains(translate(@class,"B","b"),"articleBody")`
  *    branch can never match its own un-translated needle and is
  *    faithfully dead here too);
  *  - the matched container's content is returned with NOISE SUBTREES
  *    pruned (script/style/head/nav/header/footer/aside/form/iframe/…,
  *    trafilatura's cleaning list) — nesting-aware whole-subtree removal,
  *    comments dropped, raw-text elements scanned opaquely;
  *  - no tier matches → the whole document is returned noise-pruned (the
  *    trafilatura fallback when no body expression hits).
  *
  * [[MainText]] composes this with the line-level density filter (link
  * density + length / punctuation keep rule) and the favor_recall
  * fallback (an empty extraction retries on [[pruneAll]] of the whole
  * page) to get the full "html in, main text out" contract. A regex
  * cannot express any of this (nesting-aware skip, first-match-per-tier
  * priority), hence a hand-written scan.
  */
object MainContainer {
  import StripHtmlSelectors.{isNameStart, tagName, rawTextEnd, skipSubtree, VoidTags, RawTextTags}

  /** Whole document, noise-pruned: script/style/head/nav/header/footer/
    * aside/… subtrees and comments drop, and link-farm blocks drop
    * wholesale ([[dropLinkFarms]]); everything else passes through. The
    * recall fallback of [[MainText]] (trafilatura's favor_recall baseline
    * retry, which still runs its own link-density deletion).
    */
  def pruneAll(s: String): String = dropLinkFarms(prune(s, 0, s.length))

  /** Block elements subject to the link-density test — the container-like
    * elements trafilatura's `delete_by_link_density` stage examines (lists
    * and generic block containers; `p` is deliberately out — a high-density
    * paragraph is already a single line the line filter drops, and dropping
    * borderline paragraphs element-wise would cost prose recall).
    */
  private val FarmTags = Set("div", "ul", "ol", "dl", "table")

  /** A block whose non-whitespace visible text is MORE than this fraction
    * inside anchors is a link farm and drops whole. Matches the line
    * filter's default `maxLinkDensity` so the two tiers share one notion
    * of "mostly links"; fixed like trafilatura's own element thresholds.
    */
  private[functions] val FarmLinkDensity = 0.5

  /** Candidate [[FarmTags]] nested deeper than this inside other farm
    * candidates are not density-checked (their content just stays, for
    * the line filter to judge). Real pages sit far under this; the cap
    * exists because each candidate costs one subtree scan, so a HOSTILE
    * page of 100k nested divs would otherwise cost O(n·depth) — a
    * quadratic task-staller of exactly the class the other kernels clamp
    * (hostile Content-Length, 2^31-pixel headers). With the cap the pass
    * is O(n·cap) worst-case, linear on real markup.
    */
  private[functions] val FarmDepthCap = 40

  /** ELEMENT-level link-density pruning — trafilatura's
    * `delete_by_link_density` stage (the lxml pipeline driven by
    * trafilatura_extract.py:121 `trafilatura.extract(...,
    * favor_recall=True)` deletes list/container elements whose text is
    * dominated by link text). The line-level filter alone diverges on a
    * farm that embeds ONE prose-shaped low-density line (the line
    * survives; trafilatura drops the whole element) — this pass closes
    * that divergence: a [[FarmTags]] subtree whose aggregate density
    * exceeds [[FarmLinkDensity]] is removed wholesale, nesting-aware, so
    * nothing inside it ever reaches the line filter. A KEPT block's
    * children are still examined (the scan continues inside it), so a
    * farm nested in prose drops without taking the prose with it.
    * Extent and density come from ONE combined walk per candidate
    * ([[subtreeEndFarm]]), depth-capped by [[FarmDepthCap]].
    */
  private[functions] def dropLinkFarms(content: String): String = {
    val s = content
    val n = s.length
    val out = new java.lang.StringBuilder(n)
    var farmDepth = 0 // how many KEPT farm candidates we are inside
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 3 < n && s.charAt(i + 1) == '!' &&
          s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
        // comments are already gone after prune(); pass through defensively
        val end = s.indexOf("-->", i + 4)
        val stop = if (end < 0) n else end + 3
        out.append(s, i, stop); i = stop
      } else if (c == '<' && i + 1 < n && s.charAt(i + 1) == '/') {
        // close tags copy verbatim; only the farm-depth tracker reads them.
        // The tracker is deliberately name-blind: ANY FarmTags close
        // decrements, and an unclosed kept candidate never decrements, so
        // on malformed markup the depth cap can engage at the wrong level
        // — in the SAFE direction (blocks go unexamined and are KEPT, the
        // keep-on-uncertainty bias this kernel applies everywhere). Exact
        // per-name depth would need an open-tag stack for no fidelity
        // gain on real markup, where candidates nest properly.
        val tagEnd = { val e = s.indexOf('>', i); if (e < 0) n - 1 else e }
        if (i + 2 < n && isNameStart(s.charAt(i + 2)) &&
            FarmTags.contains(tagName(s, i + 2, tagEnd)) && farmDepth > 0)
          farmDepth -= 1
        out.append(s, i, tagEnd + 1); i = tagEnd + 1
      } else if (c == '<' && i + 1 < n && isNameStart(s.charAt(i + 1))) {
        val tagEnd = { val e = s.indexOf('>', i); if (e < 0) n - 1 else e }
        val name = tagName(s, i + 1, tagEnd)
        val selfClosing = (tagEnd > i && s.charAt(tagEnd - 1) == '/' ||
          VoidTags.contains(name)) && !RawTextTags.contains(name)
        if (RawTextTags.contains(name) && !selfClosing) {
          val end = math.min(rawTextEnd(s, tagEnd + 1, name), n)
          out.append(s, i, end); i = end
        } else if (FarmTags.contains(name) && !selfClosing) {
          val verdict =
            if (farmDepth < FarmDepthCap) subtreeEndFarm(s, tagEnd + 1, name)
            else -1L // too deep: keep unexamined
          if (verdict >= 0L && (verdict & 1L) == 1L) {
            val contentEnd = (verdict >>> 1).toInt
            i = if (contentEnd >= n) n
                else { val e = s.indexOf('>', contentEnd); if (e < 0) n else e + 1 }
          } else {
            out.append(s, i, tagEnd + 1); i = tagEnd + 1; farmDepth += 1
          }
        } else { out.append(s, i, tagEnd + 1); i = tagEnd + 1 }
      } else { out.append(c); i += 1 }
    }
    out.toString
  }

  /** Combined subtree walk for a farm candidate opened just before
    * `from`: finds the same-name close (counting same-name nesting, like
    * [[subtreeContentEnd]]) AND accumulates the link-density counters in
    * the same pass — non-whitespace visible chars total vs inside `<a>`
    * spans (anchor open/close tracked by depth; a stray close never goes
    * negative). Packed return (thread-safe, allocation-free):
    * `(contentEnd << 1) | farmBit`.
    */
  private def subtreeEndFarm(s: String, from: Int, name: String): Long = {
    val n = s.length
    var depth = 1
    var total = 0L
    var link = 0L
    var anchorDepth = 0
    var end = n
    var i = from
    var scanning = true
    while (scanning && i < n) {
      val c = s.charAt(i)
      if (c == '<' && i + 3 < n && s.charAt(i + 1) == '!' &&
          s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
        val e2 = s.indexOf("-->", i + 4)
        i = if (e2 < 0) n else e2 + 3
      } else if (c == '<' && i + 1 < n &&
          (isNameStart(s.charAt(i + 1)) || s.charAt(i + 1) == '/')) {
        val close = s.charAt(i + 1) == '/'
        val nameFrom = if (close) i + 2 else i + 1
        if (nameFrom < n && isNameStart(s.charAt(nameFrom))) {
          val tagEnd = { val e = s.indexOf('>', i); if (e < 0) n - 1 else e }
          val t = tagName(s, nameFrom, tagEnd)
          val selfClosing = (tagEnd > i && s.charAt(tagEnd - 1) == '/' ||
            VoidTags.contains(t)) && !RawTextTags.contains(t)
          if (t == name) {
            if (close) { depth -= 1; if (depth == 0) { end = i; scanning = false } }
            else if (!selfClosing) depth += 1
          }
          if (scanning) {
            if (t == "a") {
              if (close) { if (anchorDepth > 0) anchorDepth -= 1 }
              // HTML forbids nested anchors, and lxml (trafilatura's
              // parser) implicitly CLOSES an open <a> when the next <a>
              // starts — so an open while already inside an anchor pins
              // depth at 1 rather than incrementing. Otherwise one stray
              // unclosed <a> followed by a normal <a>…</a> would leave
              // depth > 0 forever and count all trailing plain text as
              // link text, over-dropping the block.
              else if (!selfClosing) anchorDepth = 1
            }
            i = if (!close && !selfClosing && RawTextTags.contains(t))
                  math.min(rawTextEnd(s, tagEnd + 1, t), n)
                else tagEnd + 1
          }
        } else i += 1
      } else {
        if (!c.isWhitespace) { total += 1; if (anchorDepth > 0) link += 1 }
        i += 1
      }
    }
    // A NEVER-CLOSED candidate (end == n) is not allowed to be a farm:
    // its "subtree" is everything to end-of-input, so a link-heavy
    // unclosed <ul>/<div> would silently delete all following document
    // text. lxml (trafilatura's parser) auto-closes such elements at the
    // parent boundary and keeps the trailing prose — keeping here matches
    // that, and the line filter still drops the actual link lines.
    val farm = end < n &&
      total > 0 && link.toDouble > total.toDouble * FarmLinkDensity
    (end.toLong << 1) | (if (farm) 1L else 0L)
  }

  /** Elements whose subtrees are never content — trafilatura's manual
    * cleaning list (aside/embed/footer/form/head/iframe/menu/object/
    * script) plus the structural chrome its discard rules drop
    * (nav/header/style/noscript and the media/control elements). `figure`
    * stays: favor_recall=True keeps captions.
    */
  private val NoiseTags = Set(
    "script", "style", "noscript", "head", "nav", "header", "footer",
    "aside", "form", "iframe", "svg", "embed", "object", "menu",
    "template", "button", "canvas", "audio", "video")

  private val SectionTags = Set("article", "div", "main", "section")

  /** Pruned main-container content of one HTML document (see object doc). */
  def select(html: UTF8String): UTF8String =
    UTF8String.fromString(selectText(html.toString))

  def selectText(s: String): String = {
    val n = s.length
    // ---- pass 1: first candidate per tier, document order ----------------
    var bestTier = Int.MaxValue
    var bestFrom = -1 // content start (just after the open tag's '>')
    var bestName: String = null
    var i = 0
    while (i < n && bestTier > 1) {
      val c = s.charAt(i)
      if (c == '<' && i + 3 < n && s.charAt(i + 1) == '!' &&
          s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
        val end = s.indexOf("-->", i + 4)
        i = if (end < 0) n else end + 3
      } else if (c == '<' && i + 1 < n && isNameStart(s.charAt(i + 1))) {
        val tagEnd = { val e = s.indexOf('>', i); if (e < 0) n - 1 else e }
        val name = tagName(s, i + 1, tagEnd)
        val selfClosing = (tagEnd > i && s.charAt(tagEnd - 1) == '/' ||
          VoidTags.contains(name)) && !RawTextTags.contains(name)
        if (RawTextTags.contains(name) && !selfClosing) {
          i = rawTextEnd(s, tagEnd + 1, name)
        } else if (NoiseTags.contains(name) && !selfClosing) {
          // a candidate inside chrome is not a candidate (trafilatura
          // prunes these before body selection)
          i = skipSubtree(s, tagEnd + 1, name)
        } else {
          if (!selfClosing && (SectionTags.contains(name) || name == "main")) {
            val t = tierOf(name, s, i + 1 + name.length, tagEnd)
            if (t < bestTier) {
              bestTier = t; bestFrom = tagEnd + 1; bestName = name
            }
          }
          i = tagEnd + 1
        }
      } else i += 1
    }
    // ---- pass 2: slice the winning subtree (or whole doc), prune noise --
    val (from, until) =
      if (bestFrom < 0) (0, n)
      else (bestFrom, subtreeContentEnd(s, bestFrom, bestName))
    dropLinkFarms(prune(s, from, until))
  }

  /** Index of the '<' of the matching close tag (content end), counting
    * same-name nesting; never-closed → end of input.
    */
  private[functions] def subtreeContentEnd(s: String, from: Int, name: String): Int = {
    val n = s.length
    var depth = 1
    var i = from
    while (i < n) {
      val lt = s.indexOf('<', i)
      if (lt < 0) return n
      if (s.startsWith("<!--", lt)) {
        val end = s.indexOf("-->", lt + 4)
        i = if (end < 0) n else end + 3
      } else {
        val close = lt + 1 < n && s.charAt(lt + 1) == '/'
        val nameFrom = if (close) lt + 2 else lt + 1
        if (nameFrom < n && isNameStart(s.charAt(nameFrom))) {
          val tagEnd = { val e = s.indexOf('>', lt); if (e < 0) n - 1 else e }
          val t = tagName(s, nameFrom, tagEnd)
          val selfClosing = (s.charAt(tagEnd - 1) == '/' || VoidTags.contains(t)) &&
            !RawTextTags.contains(t)
          if (t == name) {
            if (close) { depth -= 1; if (depth == 0) return lt }
            else if (!selfClosing) depth += 1
          }
          i = if (!close && !selfClosing && RawTextTags.contains(t))
                rawTextEnd(s, tagEnd + 1, t)
              else tagEnd + 1
        } else i = lt + 1
      }
    }
    n
  }

  /** Copy s[from, until) dropping noise subtrees and comments. */
  private def prune(s: String, from: Int, until: Int): String = {
    val out = new java.lang.StringBuilder(until - from)
    var i = from
    while (i < until) {
      val c = s.charAt(i)
      if (c == '<' && i + 3 < until && s.charAt(i + 1) == '!' &&
          s.charAt(i + 2) == '-' && s.charAt(i + 3) == '-') {
        val end = s.indexOf("-->", i + 4)
        i = if (end < 0 || end + 3 > until) until else end + 3
      } else if (c == '<' && i + 1 < until && isNameStart(s.charAt(i + 1))) {
        val tagEnd = { val e = s.indexOf('>', i); if (e < 0) until - 1 else math.min(e, until - 1) }
        val name = tagName(s, i + 1, tagEnd)
        val selfClosing = (tagEnd > i && s.charAt(tagEnd - 1) == '/' ||
          VoidTags.contains(name)) && !RawTextTags.contains(name)
        if (NoiseTags.contains(name)) {
          i = if (selfClosing) tagEnd + 1
              else if (RawTextTags.contains(name)) math.min(rawTextEnd(s, tagEnd + 1, name), until)
              else math.min(skipSubtree(s, tagEnd + 1, name), until)
        } else {
          out.append(s, i, tagEnd + 1); i = tagEnd + 1
        }
      } else {
        out.append(c); i += 1
      }
    }
    out.toString
  }

  // ---- the patched BODY_XPATH tier predicates ----------------------------

  /** Attr slots: 0=id, 1=class, 2=itemprop, 3=role (same attr scanning
    * discipline as [[StripHtmlSelectors.matches]]).
    */
  private def parseAttrs(s: String, from: Int, tagEnd: Int): Array[String] = {
    val res = new Array[String](4)
    if (from >= tagEnd) return res
    val attrs = s.substring(from, tagEnd)
    var k = 0
    while (k < attrs.length) {
      while (k < attrs.length && !isNameStart(attrs.charAt(k))) k += 1
      val nameStart = k
      while (k < attrs.length && (attrs.charAt(k).isLetterOrDigit ||
        attrs.charAt(k) == '-' || attrs.charAt(k) == '_')) k += 1
      val name = attrs.substring(nameStart, k).toLowerCase
      while (k < attrs.length && attrs.charAt(k).isWhitespace) k += 1
      var value: String = null
      if (k < attrs.length && attrs.charAt(k) == '=') {
        k += 1
        while (k < attrs.length && attrs.charAt(k).isWhitespace) k += 1
        if (k < attrs.length && (attrs.charAt(k) == '"' || attrs.charAt(k) == '\'')) {
          val q = attrs.charAt(k); k += 1
          val vStart = k
          while (k < attrs.length && attrs.charAt(k) != q) k += 1
          value = attrs.substring(vStart, k)
          if (k < attrs.length) k += 1
        } else {
          val vStart = k
          while (k < attrs.length && !attrs.charAt(k).isWhitespace) k += 1
          var vEnd = k
          if (vEnd == attrs.length && vEnd > vStart && attrs.charAt(vEnd - 1) == '/')
            vEnd -= 1
          value = attrs.substring(vStart, vEnd)
        }
      }
      name match {
        case "id" => res(0) = if (value == null) null else value.trim
        case "class" => res(1) = value
        case "itemprop" => res(2) = value
        case "role" => res(3) = value
        case _ => ()
      }
      if (nameStart == k) k += 1
    }
    res
  }

  private def containsAny(v: String, needles: Array[String]): Boolean = {
    var i = 0
    while (i < needles.length) { if (v.contains(needles(i))) return true; i += 1 }
    false
  }

  /** XPath translate(v, chars, lowercase(chars)) — fold only the listed
    * uppercase chars to lowercase, as the reference's expressions do.
    */
  private def fold(v: String, chars: String): String = {
    val b = new java.lang.StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      b.append(if (chars.indexOf(c) >= 0) c.toLower else c)
      i += 1
    }
    b.toString
  }

  private val T1Class = Array("post-text", "post_text", "post-body",
    "post-entry", "postentry", "post-content", "post_content", "postcontent",
    "postContent", "article-text", "articletext", "articleText",
    "entry-content", "article-content", "article__content", "article-body",
    "article__body", "ArticleContent", "page-content", "text-content",
    "body-text", "article__container", "art-content")
  private val T1Id = Array("entry-content", "article-content",
    "article__content", "article-body", "article__body", "body-text",
    "art-content")
  private val T3Class = Array("post-bodycopy", "storycontent",
    "story-content", "theme-content", "blog-content", "section-content",
    "single-content", "single-post", "main-column", "wpb_text_column",
    "story-body", "field-body")
  private val T4Class = Array("content-main", "content_main",
    "content-body", "content-area", "content__body")
  private val T4Id = Array("content-main", "content-body", "contentBody")

  /** The five patched BODY_XPATH expressions as tiers 1-5;
    * Int.MaxValue = not a candidate.
    */
  private def tierOf(name: String, s: String, attrFrom: Int, tagEnd: Int): Int = {
    val a = parseAttrs(s, attrFrom, tagEnd)
    val id = if (a(0) == null) "" else a(0)
    val cls = if (a(1) == null) "" else a(1)
    val itemprop = if (a(2) == null) "" else a(2)
    val role = if (a(3) == null) "" else a(3)
    val sect = SectionTags.contains(name)

    if (sect && (
        cls == "post" || cls == "entry" ||
        containsAny(cls, T1Class) || containsAny(id, T1Id) ||
        itemprop == "articleBody" ||
        fold(id, "B").contains("articlebody") ||
        id == "articleContent")) return 1

    if (name == "article") return 2

    if (sect && (
        containsAny(cls, T3Class) ||
        cls == "postarea" || cls == "art-postcontent" ||
        id.startsWith("primary") || cls.startsWith("article ") ||
        cls == "text" || id == "article" || cls == "cell" ||
        id == "story" || cls == "story" ||
        fold(cls, "FULTEX").contains("fulltext") ||
        role == "article")) return 3

    if (sect && (
        containsAny(id, T4Id) || containsAny(cls, T4Class) ||
        fold(id, "CM").contains("main-content") ||
        fold(cls, "CM").contains("main-content") ||
        fold(cls, "CP").contains("page-content") ||
        id == "content" || cls == "content")) return 4

    if ((name == "article" || name == "div" || name == "section") &&
        (cls.startsWith("main") || id.startsWith("main") ||
          role.startsWith("main"))) return 5
    if (name == "main") return 5

    Int.MaxValue
  }
}
