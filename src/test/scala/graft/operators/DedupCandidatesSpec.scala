package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The shared steps of the near-dup pair family: the MinHash shingle path
  * against an independent window formulation, and the one bucket-candidate
  * step with its degenerate-bucket guard and pair multiplicity.
  */
class DedupCandidatesSpec extends SparkSpec {
  import spark.implicits._

  /** Hostile shingle inputs: repeated grams, exactly n and fewer than n
    * tokens, double-space runs (empty tokens), Zs-edged and Zs-inside
    * text, non-ASCII tokens, empty and null text.
    */
  private val hostile: Seq[(Long, String)] = Seq(
    1L -> "a b c a b c a b c a b c",
    2L -> "x y z",
    3L -> "x y",
    4L -> "solo",
    5L -> "a  b   c d  e",
    6L -> "\u00A0\u2003lead and trail\u3000zs \u3000",
    7L -> "inner\u00A0nbsp stays one token",
    8L -> "  ",
    9L -> "",
    10L -> null,
    11L -> "naïve café 🙂 日本 naïve café 🙂 日本",
    12L -> "x y z")

  private def docs = hostile.toDF("doc_id", "text")

  test("minhash bands over kernel shingles equal the bands over window shingles") {
    val n = DedupOps.MinhashN
    val kernel = DedupOps.shingleRows(docs, n)
    val window = DedupReference.ngramRows(docs, n)
    // the corpus exercises the multiset-vs-set seam: the window path keeps
    // every occurrence, the kernel only distinct grams
    assert(window.count() > window.distinct().count())
    assert(kernel.count() === kernel.distinct().count())
    def sets(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("doc_id").agg(array_sort(collect_set(col("g"))).as("gs"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSeq).toMap
    assert(sets(kernel) === sets(window))
    // docs under n tokens, blank, empty and null text shingle to nothing;
    // double spaces give empty tokens inside grams on both paths
    assert(sets(kernel).keySet === Set(1L, 2L, 5L, 6L, 7L, 11L, 12L))
    assert(sets(kernel)(5L).contains("a__b"))

    def bands(g: org.apache.spark.sql.DataFrame) =
      DedupOps.minhashBands(g, DedupOps.MinhashHashes, DedupOps.MinhashBands)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val k = bands(kernel)
    assert(k.size === 7 * DedupOps.MinhashBands)
    assert(k === bands(window))
  }

  test("bucketCandidates keeps a bucket of exactly maxBucket, sheds one more, keeps multiplicity") {
    val maxBucket = 4
    val rows = Seq(
      // exactly maxBucket ids, given out of order
      ("full", 4L), ("full", 2L), ("full", 3L), ("full", 1L),
      // maxBucket + 1 ids: shed
      ("over", 10L), ("over", 11L), ("over", 12L), ("over", 13L), ("over", 14L),
      // a singleton emits nothing
      ("single", 20L),
      // one id pair shared by two buckets
      ("twice_a", 31L), ("twice_a", 30L), ("twice_b", 30L), ("twice_b", 31L))
      .toDF("key", "id")
    val got = DedupOps.bucketCandidates(rows, Seq("key"), "id", maxBucket)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val full = for (a <- 1L to 4L; b <- a + 1 to 4L) yield (a, b)
    assert(got === (full ++ Seq((30L, 31L), (30L, 31L))).sorted)
  }
}
