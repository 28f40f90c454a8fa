package graft.functions

import graft.SparkSpec
import graft.functions.TextFns._
import org.apache.spark.sql.functions._

class TextExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("native WordNgrams matches the interpreted HOF formulation exactly") {
    // Real document texts + hand-made edge cases: duplicate grams (order and
    // dedup must match array_distinct), exactly-n tokens, fewer-than-n.
    val docs = graft.Tables.documents(spark, sfDir)
      .select(col("doc_id"), spaceTokens(col("text")).as("w"))
      .unionByName(Seq(
        (900001L, Seq("a", "b", "a", "b", "a", "b")), // every gram duplicated
        (900002L, Seq("x", "y", "z")), // exactly n tokens -> one gram
        (900003L, Seq("x", "y")) // fewer than n -> empty
      ).toDF("doc_id", "w"))
    // The HOF form is only defined for size >= n (callers filter first; its
    // sequence() underflows otherwise) — parity is asserted on that domain.
    val both = docs.filter(size(col("w")) >= 3).select(
      col("doc_id"),
      wordNgrams(col("w"), 3).as("native"),
      TextReference.wordNgramsHof(col("w"), 3).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0L,
      "native and HOF n-grams must agree element-for-element, order included")
    val edge = docs.filter(col("doc_id") >= 900001L).orderBy("doc_id")
      .select(wordNgrams(col("w"), 3).as("native")).collect().map(_.getSeq[String](0))
    assert(edge(0) === Seq("a_b_a", "b_a_b"))
    assert(edge(1) === Seq("x_y_z"))
    // the native form is total: fewer than n tokens yields an empty array
    assert(edge(2) === Seq.empty)
  }

  test("native WinnowFingerprints matches the interpreted HOF formulation exactly") {
    import graft.operators.TextAnalysis
    val docs = graft.Tables.documents(spark, sfDir).select("doc_id", "text")
      .unionByName(Seq(
        (900001L, "exactly39chars_0123456789012345678901234"), // one window only
        (900002L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa") // degenerate repeats
      ).toDF("doc_id", "text"))
    for ((k, w) <- Seq((7, 4), (30, 10))) {
      def fps(df: org.apache.spark.sql.DataFrame) =
        df.orderBy("doc_id").select("doc_id", "fingerprints")
          .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toSeq
      val native = fps(TextAnalysis.docFingerprints(docs, "text", k, w))
      val hof = fps(TextReference.docFingerprintsHof(docs, "text", k, w))
      assert(native === hof, s"winnowing parity failed for k=$k w=$w")
    }
  }

  test("native expressions match HOF forms on randomized multibyte inputs") {
    import graft.operators.TextAnalysis
    // Winnowing hashes bytes in place through a char→byte index — multibyte
    // text is exactly where that could diverge from the HOF's
    // code-point substr, so the randomized sweep mixes 1-, 2-, and 3-byte
    // characters freely.
    val alphabet = "ab déü 漢字 xyz€ "
    val rnd = new scala.util.Random(7)
    val rows = (0 until 200).map { i =>
      val len = rnd.nextInt(120)
      (i.toLong, (0 until len).map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString)
    }
    val docs = rows.toDF("doc_id", "text")
    def fps(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id").select("doc_id", "fingerprints")
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toSeq
    assert(fps(TextAnalysis.docFingerprints(docs, "text")) ===
      fps(TextReference.docFingerprintsHof(docs, "text")),
      "winnowing parity must hold on multibyte text")

    val toks = docs.select(col("doc_id"), spaceTokens(col("text")).as("w"))
      .filter(size(col("w")) >= 3)
    assert(toks
      .filter(wordNgrams(col("w"), 3) =!= TextReference.wordNgramsHof(col("w"), 3))
      .count() === 0L, "n-gram parity must hold on multibyte tokens")
  }

  test("CountTokenRun counts consecutive runs incl. overlaps and multibyte tokens") {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    val spark2 = spark
    import spark2.implicits._
    def runs(tokens: Seq[String], phrase: Seq[String]): Long = {
      val df = Seq(Tuple1(tokens)).toDF("toks")
      df.select(GraftSqlBridge.column(graft.functions.CountTokenRun(
        GraftSqlBridge.expression(col("toks")), phrase)).as("c"))
        .collect().head.getLong(0)
    }
    assert(runs(Seq("a", "b", "a", "b"), Seq("a", "b")) === 2L)
    assert(runs(Seq("a", "a", "a"), Seq("a", "a")) === 2L, "overlapping runs count")
    assert(runs(Seq("a", "x", "b"), Seq("a", "b")) === 0L, "non-consecutive is no match")
    assert(runs(Seq("ü", "日本", "ü", "日本"), Seq("ü", "日本")) === 2L, "multibyte parity")
    assert(runs(Seq("a"), Seq("a", "b")) === 0L, "phrase longer than doc")
    // parity with a driver-side sliding-window count on random input
    val rnd = new scala.util.Random(11)
    val toks = Seq.fill(200)(Seq("x", "y", "z")(rnd.nextInt(3)))
    val expected = toks.sliding(2).count(_ == Seq("x", "y")).toLong
    assert(runs(toks, Seq("x", "y")) === expected)
  }

  test("WordNgrams survives both codegen and interpreted evaluation") {
    // Force the interpreted path by evaluating the expression directly.
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(
      Array[Any]("a", "b", "c", "d").map(s => UTF8String.fromString(s.toString)))
    val got = WordNgrams.build(arr, 2).array.map(_.toString).toSeq
    assert(got === Seq("a_b", "b_c", "c_d"))
  }

  test("WordNgramsAll keeps multiplicity in position order") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val arr = new GenericArrayData(
      Array[Any]("a", "b", "a", "b").map(s => UTF8String.fromString(s.toString)))
    assert(WordNgrams.buildAll(arr, 2).array.map(_.toString).toSeq ===
      Seq("a_b", "b_a", "a_b"))
    // deduped sibling keeps first occurrences only
    assert(WordNgrams.build(arr, 2).array.map(_.toString).toSeq ===
      Seq("a_b", "b_a"))
    // shorter than n → empty, not negative
    assert(WordNgrams.buildAll(new GenericArrayData(
      Array[Any](UTF8String.fromString("x"))), 3).array.isEmpty)
  }

  test("repetitionQuality gates fire on planted repetition") {
    import org.apache.spark.sql.functions._
    val docs = spark.createDataFrame(Seq(
      (1L, ('a' to 'z').combinations(2).take(60)
        .map(_.mkString).mkString(" ")), // 60 distinct words, no repetition
      (2L, "unique line one\nrepeat me now\nrepeat me now\nrepeat me now"),
      (3L, "spam spam spam spam spam spam spam spam spam spam")
    )).toDF("doc_id", "text")
    val out = graft.operators.TextAnalysis.repetitionQuality(docs, "text")
      .orderBy("doc_id").collect()
    assert(out(0).getAs[Boolean]("repetition_keep"))
    // 2 of 4 lines are repeats → dup_line_frac 0.5 > 0.30
    assert(out(1).getAs[Double]("dup_line_frac") === 0.5)
    assert(!out(1).getAs[Boolean]("repetition_keep"))
    // one bigram covers nearly all chars → top_2gram_frac ≈ 9*8/49
    assert(out(2).getAs[Double]("top_2gram_frac") > 0.20)
    assert(!out(2).getAs[Boolean]("repetition_keep"))
  }
}
