package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The interpreted higher-order formulations that the native `WordNgrams`
  * and `WinnowFingerprints` kernels replaced, kept as the parity references
  * `TextExpressionsSpec` compares them against (identical output order and
  * content).
  */
object TextReference {

  /** `TextFns.wordNgrams` as `transform`/`concat_ws` over token positions
    * (~4× slower per gram). Defined for size >= n only: callers filter
    * first, or `sequence()` underflows.
    */
  def wordNgramsHof(tokens: Column, n: Int): Column = {
    val idx = sequence(lit(1), size(tokens) - (n - 1))
    array_distinct(transform(idx, i =>
      concat_ws("_", (0 until n).map(o => element_at(tokens, i + o)): _*)))
  }

  /** `TextAnalysis.docFingerprints` with the k-gram and window loops as
    * `transform`/`slice`/`array_min`.
    * Bounds are clamped to ≥ 1 so the expression is TOTAL on any row: the
    * length filter removes short docs semantically, but Catalyst may still
    * EVALUATE the expression on them (an inferred generator predicate
    * shares the subexpression and subexpression elimination runs it before
    * conjunct short-circuiting; unclamped, sequence(1, negative) descends
    * through 0 into slice's illegal-start error).
    */
  def docFingerprintsHof(docs: DataFrame, textCol: String, k: Int = 7, w: Int = 4): DataFrame = {
    val t = col(textCol)
    val kgrams = transform(sequence(lit(1), greatest(lit(1), length(t) - (k - 1))),
      i => hash(t.substr(i, lit(k))))
    docs
      .filter(length(t) >= k + w - 1) // need at least one full window
      .withColumn("kg", kgrams)
      .withColumn(
        "fingerprints",
        array_distinct(
          transform(sequence(lit(1), greatest(lit(1), size(col("kg")) - (w - 1))), j =>
            array_min(slice(col("kg"), j, lit(w))))))
      .drop("kg")
  }
}
