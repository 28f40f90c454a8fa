package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for word n-gram construction — the shingle
  * step of the text-dedup family (n-gram Jaccard, MinHash).
  *
  * The higher-order formulation (`transform(sequence(...), i =>
  * concat_ws("_", element_at(tokens, i)...))` + `array_distinct`) is
  * INTERPRETED: every gram walks an expression tree with boxed index
  * arithmetic, and the dedup re-hashes the whole array afterwards. This
  * expression runs one tight loop over the token array inside whole-stage
  * codegen, deduplicating on the fly with first-occurrence order — the
  * exact order/content `array_distinct` produces, so swapping
  * implementations cannot change any result downstream.
  */
case class WordNgrams(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-gram width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    WordNgrams.build(input.asInstanceOf[ArrayData], n)

  // The generated code calls the same primitive kernel as the interpreted
  // path (static forwarder on the companion class), so the two paths are
  // bit-identical by construction.
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordNgrams.build($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Native winnowing fingerprints (Schleimer et al., SIGMOD'03): hash every
  * k-CHAR gram of the text, slide a window of `w` hashes, keep each
  * window's minimum, dedupe with first-occurrence order.
  *
  * Exactly the semantics of the HOF formulation in the test-side
  * `TextReference.docFingerprintsHof` (its parity cross-check), including
  * the clamped bounds that make it TOTAL on short input — but the
  * interpreted transform/slice/array_min tree walks ~6k boxed windows per
  * document (measured ~50 s for one sf0.01 pass) where this kernel is one
  * primitive loop. Hash parity with Spark's `hash` (murmur3, seed 42) is
  * byte-exact via the same Murmur3_x86_32 over the substring bytes.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int) extends UnaryExpression {
  require(k >= 1 && w >= 1, "k-gram width and window must be >= 1")

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    WinnowFingerprints.compute(input.asInstanceOf[UTF8String], k, w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFingerprints.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Occurrences of a consecutive token run (`phrase`) inside a token array —
  * the positional core of an ES `match_phrase` query (slop 0). Counts EVERY
  * starting position (overlapping runs included: "a a a" contains "a a"
  * twice), which is the unambiguous definition both the Spark side and the
  * DuckDB oracle can reproduce exactly. One primitive scan per row inside
  * whole-stage codegen — the HOF formulation (`filter(sequence(...))`) walks
  * interpreted per position.
  */
case class CountTokenRun(child: Expression, phrase: Seq[String]) extends UnaryExpression {
  require(phrase.nonEmpty, "phrase must have at least one token")

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<string>, got $t")
  }

  @transient private lazy val utf8Phrase: Array[UTF8String] =
    phrase.map(UTF8String.fromString).toArray

  override def nullSafeEval(input: Any): Any =
    CountTokenRun.count(input.asInstanceOf[ArrayData], utf8Phrase)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val phraseRef = ctx.addReferenceObj("phrase", utf8Phrase, "org.apache.spark.unsafe.types.UTF8String[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CountTokenRun.count($c, $phraseRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CountTokenRun {
  /** Shared primitive kernel: for each start position, compare the next
    * |phrase| tokens; count matches (overlaps included).
    */
  def count(arr: ArrayData, phrase: Array[UTF8String]): Long = {
    val n = arr.numElements()
    val m = phrase.length
    var c = 0L
    var i = 0
    while (i + m <= n) {
      var j = 0
      var ok = true
      while (ok && j < m) {
        if (!phrase(j).equals(arr.getUTF8String(i + j))) ok = false
        j += 1
      }
      if (ok) c += 1
      i += 1
    }
    c
  }
}

/** Native in-bucket pair expansion — the shared kernel of every
  * collect_list-based candidate generator (MinHash bands, embedding LSH
  * buckets, shared fingerprints): all ordered (id1 < id2 by POSITION) pairs
  * of a sorted id array as `struct<id1:long, id2:long>` elements.
  *
  * The HOF formulation (`flatten(transform(ids, (x,i) =>
  * transform(slice(ids, i+2, …), y => struct(x, y))))`) is interpreted and
  * allocates a nested array per element; this kernel emits the identical
  * structs in the identical order from one primitive double loop inside
  * whole-stage codegen. Buckets are `maxBucket`-capped by every caller, so
  * the n·(n−1)/2 output is bounded by construction.
  */
case class SortedIdPairs(child: Expression) extends UnaryExpression {

  override def dataType: DataType = SortedIdPairs.Schema

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    SortedIdPairs.build(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SortedIdPairs.build($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SortedIdPairs {
  val Schema: DataType = ArrayType(StructType(Seq(
    StructField("id1", LongType, nullable = false),
    StructField("id2", LongType, nullable = false))), containsNull = false)

  /** Shared primitive kernel for interpreted eval and codegen: pairs in the
    * order (0,1), (0,2) … (0,n−1), (1,2) … — exactly the order the HOF
    * twin's flatten produces (its parity spec).
    */
  def build(arr: ArrayData): GenericArrayData = {
    val n = arr.numElements()
    // pair count in Long first: 65537 ids would wrap n*(n-1)/2 negative in
    // Int and die in `new Array` — fail with the actual contract instead
    // (callers bucket-cap their groups; this documents the kernel's bound)
    val numPairs = n.toLong * (n - 1) / 2
    require(numPairs <= Int.MaxValue,
      s"sorted_id_pairs: $n ids -> $numPairs pairs exceeds one array; cap the bucket")
    val out = new Array[Any](numPairs.toInt)
    var k = 0
    var i = 0
    while (i < n) {
      val a = arr.getLong(i)
      var j = i + 1
      while (j < n) {
        out(k) = new GenericInternalRow(Array[Any](a, arr.getLong(j)))
        k += 1
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }
}

object WinnowFingerprints {
  /** Shared primitive kernel for interpreted eval and codegen. Hashes each
    * k-gram's bytes IN PLACE via a char→byte offset index (one pass over
    * the UTF-8 bytes), so the hot loop performs zero allocations — a
    * 6000-char doc costs 6000 murmur calls over the original buffer, not
    * 6000 substring copies. Byte-identical to hashing
    * `substringSQL(i+1, k)` because both hash exactly the bytes of chars
    * [i, i+k).
    */
  def compute(t: UTF8String, k: Int, w: Int): GenericArrayData = {
    val n = t.numChars()
    val base = t.getBaseObject
    val baseOff = t.getBaseOffset
    // char -> byte offset index (UTF-8 chars are variable width)
    val offs = new Array[Int](n + 1)
    var bi = 0
    var ci = 0
    while (ci < n) {
      offs(ci) = bi
      bi += UTF8String.numBytesForFirstByte(t.getByte(bi))
      ci += 1
    }
    offs(n) = t.numBytes
    val numK = math.max(1, n - k + 1) // clamped: total on short input
    val hashes = new Array[Int](numK)
    var i = 0
    while (i < numK) {
      val endChar = math.min(n, i + k)
      hashes(i) = org.apache.spark.unsafe.hash.Murmur3_x86_32
        .hashUnsafeBytes(base, baseOff + offs(i), offs(endChar) - offs(i), 42)
      i += 1
    }
    val numW = math.max(1, numK - w + 1)
    val out = new java.util.LinkedHashSet[Any]
    var j = 0
    while (j < numW) {
      var m = Int.MaxValue
      var x = j
      val end = math.min(numK, j + w)
      while (x < end) { if (hashes(x) < m) m = hashes(x); x += 1 }
      out.add(Int.box(m))
      j += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object WordNgrams {
  private val Sep = UTF8String.fromString("_")

  /** One pass over the token array: join each window of `n` tokens with "_",
    * keep first occurrences only (LinkedHashSet — the order and content of
    * `array_distinct`). Tokens are expected non-null (split() output).
    */
  def build(arr: ArrayData, n: Int): GenericArrayData = {
    val num = arr.numElements()
    val out = new java.util.LinkedHashSet[UTF8String]
    var i = 0
    while (i + n <= num) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out.add(UTF8String.concatWs(Sep, parts: _*))
      i += 1
    }
    new GenericArrayData(out.toArray.asInstanceOf[Array[Any]])
  }

  /** [[build]] WITH multiplicity — every window, duplicates kept in
    * position order. The counting form the repetition-quality gates need
    * (a deduped gram list cannot yield occurrence counts).
    */
  def buildAll(arr: ArrayData, n: Int): GenericArrayData = {
    val num = arr.numElements()
    val len = math.max(0, num - n + 1)
    val out = new Array[Any](len)
    var i = 0
    while (i + n <= num) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** [[WordNgrams]] without the dedup — every n-gram window with
  * multiplicity, for occurrence counting (top/duplicate n-gram char
  * fractions). Same static-forwarder codegen pattern.
  */
case class WordNgramsAll(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, "n-gram width must be >= 1")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    WordNgrams.buildAll(input.asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordNgrams.buildAll($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** fnmatch glob → Java regex as a native expression, so robots RULES READ
  * FROM DATA (not driver-side constants) get the exact `applies_to`
  * wildcard semantics of dags/lib/robots_txt.py:22: `*` any run, `?` one
  * char, `[seq]`/`[!seq]` classes, trailing `$` exact match, implied
  * trailing `*` otherwise. The translation core is the single shared
  * implementation — `SyncOps.ploneSearch` (driver-side rule seqs) calls
  * `translate` directly, so column-path and constant-path semantics cannot
  * diverge.
  * Foldable on literal input; codegen calls the same static kernel as the
  * interpreted path.
  */
case class GlobRegex(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    GlobRegex.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GlobRegex.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GlobRegex {
  def compute(glob: UTF8String): UTF8String =
    UTF8String.fromString(translate(glob.toString))

  /** The reference's RuleLine.applies_to wildcard semantics (see the case
    * class scaladoc), shared by the native expression and driver-side
    * rule seqs.
    */
  def translate(rule: String): String = {
    val (core, exact) =
      if (rule.endsWith("$")) (rule.dropRight(1), true) else (rule, false)
    val sb = new StringBuilder
    var i = 0
    while (i < core.length) {
      core(i) match {
        case '*' => sb.append(".*")
        case '?' => sb.append('.')
        case '[' =>
          // fnmatch class, ported from CPython fnmatch.translate: ONLY a
          // leading ! negates (a leading ^ is a LITERAL caret), a ] right
          // after the (optional) ! is literal, an unterminated [ is a
          // literal bracket. The chunk pass below mirrors translate's
          // range handling: reversed ranges like [z-a] are DROPPED (the
          // class becomes never-match "(?!)" when nothing is left) instead
          // of reaching Java's Pattern.compile, which would throw on them
          // — a hostile rule read from data must never kill the job. Java
          // needs more in-class escaping than Python: '[' (class union),
          // ']' (Java rejects a bare first-position ]), '&' (intersection)
          // — all literal in fnmatch.
          var j = i + 1
          if (j < core.length && core(j) == '!') j += 1
          if (j < core.length && core(j) == ']') j += 1
          while (j < core.length && core(j) != ']') j += 1
          if (j >= core.length) sb.append("\\[")
          else {
            val neg = core(i + 1) == '!'
            val bodyStart = if (neg) i + 2 else i + 1
            // split the body on range hyphens (a hyphen in first position
            // is literal — the scan starts one past the first body char)
            val chunks = scala.collection.mutable.ArrayBuffer.empty[String]
            var ci = bodyStart
            var k = bodyStart + 1
            var scanning = bodyStart < j
            while (scanning) {
              val h = core.indexOf('-', k)
              if (h < 0 || h >= j) scanning = false
              else { chunks += core.substring(ci, h); ci = h + 1; k = h + 3 }
            }
            val lastChunk = core.substring(ci, j)
            if (lastChunk.nonEmpty) chunks += lastChunk
            else if (chunks.nonEmpty) chunks(chunks.length - 1) += "-"
            // drop reversed (empty) ranges, merging around them — exactly
            // CPython translate's loop
            var kk = chunks.length - 1
            while (kk > 0) {
              if (chunks(kk - 1).nonEmpty && chunks(kk).nonEmpty &&
                  chunks(kk - 1).last > chunks(kk).head) {
                chunks(kk - 1) = chunks(kk - 1).dropRight(1) + chunks(kk).drop(1)
                chunks.remove(kk)
              }
              kk -= 1
            }
            val stuff = chunks
              .map(_.replace("\\", "\\\\").replace("[", "\\[")
                .replace("]", "\\]").replace("-", "\\-"))
              .mkString("-")
              .replace("&", "\\&").replace("~", "\\~").replace("|", "\\|")
            if (stuff.isEmpty) sb.append(if (neg) "." else "(?!)")
            else {
              val first =
                if (!neg && stuff.startsWith("^")) "\\^" + stuff.drop(1)
                else stuff
              sb.append('[')
              if (neg) sb.append('^')
              sb.append(first).append(']')
            }
            i = j
          }
        case c if "\\.{}()+-^$|]".contains(c) => sb.append('\\').append(c)
        case c => sb.append(c)
      }
      i += 1
    }
    val quoted = sb.toString
    if (exact || core.endsWith("*")) s"^$quoted$$" else s"^$quoted.*"
  }
}
