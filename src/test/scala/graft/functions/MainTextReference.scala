package graft.functions

import graft.functions.MainText.{AnchorRe, BlockCloseRe, BlockOpenRe, SpanBreakRe}
import graft.functions.TextFns.{HtmlTagRe, zsTrim}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The Column-expression formulation of main-content extraction that the
  * [[MainText]] kernel replaced, kept as the differential reference: five
  * whole-document `regexp_replace` passes, then per-line `transform` /
  * `filter` lambdas, and for the full extraction a CASE WHEN over the
  * container and the chrome-pruned page. Every function here is Spark's
  * own, so agreement pins the kernel to Spark's regex, split, trim and
  * code-point length semantics (which the DuckDB twins were written
  * against).
  */
object MainTextReference {

  def mainText(html: Column, minChars: Int = 30, maxLinkDensity: Double = 0.5): Column = {
    val marked = regexp_replace(
      regexp_replace(html, BlockCloseRe + "|" + BlockOpenRe, "\n"),
      AnchorRe, "\u0001$1\u0002")
    val repairOnce: Column => Column =
      c => regexp_replace(c, SpanBreakRe, "$1\u0002\n\u0001")
    val repaired = repairOnce(repairOnce(marked))
    val lines = split(regexp_replace(repaired, HtmlTagRe, ""), "\n")
    val spanRe = "\\x01[^\\x02]*\\x02"
    val markRe = "[\\x01\\x02]"
    val scored = transform(lines, l => {
      val vis = zsTrim(regexp_replace(l, markRe, ""))
      val linkLen = length(l) - length(regexp_replace(l, spanRe, "")) -
        size(regexp_extract_all(l, lit(spanRe), lit(0))) * 2
      val keep = length(vis) > 0 &&
        linkLen.cast("double") <= length(vis) * lit(maxLinkDensity) &&
        (length(vis) >= minChars || vis.rlike("(?d)[.!?]$"))
      struct(vis.as("t"), keep.as("keep"))
    })
    zsTrim(array_join(
      transform(filter(scored, c => c.getField("keep")), c => c.getField("t")), "\n"))
  }

  def mainTextBlocks(html: Column, minChars: Int = 30, maxLinkDensity: Double = 0.5): Column = {
    val extracted = mainText(container(html), minChars, maxLinkDensity)
    when(length(extracted) > 0, extracted)
      .otherwise(mainText(pruneChrome(html), minChars, maxLinkDensity))
  }

  def container(html: Column): Column =
    GraftSqlBridge.column(HtmlPass(GraftSqlBridge.expression(html), wholePage = false))

  def pruneChrome(html: Column): Column =
    GraftSqlBridge.column(HtmlPass(GraftSqlBridge.expression(html), wholePage = true))
}

/** [[MainContainer.select]] (or, `wholePage`, [[MainContainer.pruneAll]])
  * as an interpreted expression.
  */
private case class HtmlPass(child: Expression, wholePage: Boolean)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val html = input.asInstanceOf[UTF8String]
    if (wholePage) UTF8String.fromString(MainContainer.pruneAll(html.toString))
    else MainContainer.select(html)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
