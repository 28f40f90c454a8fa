package graft.operators

import graft.functions.NumFns.roundHalfUp
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reference formulations `DedupOpsSpec` checks the shipped dedup kernels
  * against: the interpreted pair expansion behind `bucketPairs`, the
  * all-pairs n-gram Jaccard join that `ngramJaccardPairsPrefix` must
  * reproduce bit for bit, per-hash MinHash signatures for the estimation
  * spec, and the window-built shingle rows the MinHash n-gram spec
  * compares the `wordNgrams` kernel against.
  */
object DedupReference {

  /** Interpreted HOF twin of `DedupOps.bucketPairs` (the native
    * `SortedIdPairs` kernel): identical structs in identical order.
    */
  def bucketPairsHof(sortedIds: Column): Column =
    explode(flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + 2, size(sortedIds)), y =>
        struct(x.as("id1"), y.as("id2"))))))

  /** Word-3-gram Jaccard pairs ≥ τ within (lang, source) blocks — the
    * all-pairs self-join form. EXACT but quadratic per block: the small-SF
    * cross-check for `DedupOps.ngramJaccardPairsPrefix`, which computes the
    * identical result with a linear candidate plan and is what
    * `qNgramJaccard` runs.
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, tau: Double, blockCols: Seq[String]): DataFrame = {
    val grams = docs
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .withColumn("grams", wordNgrams(col("w"), n))
      .select((Seq("doc_id", "grams") ++ blockCols).map(col): _*)
    // Alias-based self-join (not renamed projections): both sides stay
    // canonically identical, so Spark's ReuseExchange materializes the
    // shuffled gram table ONCE — the n-gram construction is the expensive
    // part and would otherwise run twice. The shuffle_hash hint matters:
    // size stats undercount the built gram arrays, and the resulting
    // broadcast join would construct them single-threaded on the driver.
    val cond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    val inter = size(array_intersect(col("g1"), col("g2")))
    val jac = inter / (size(col("g1")) + size(col("g2")) - inter).cast("double")
    grams.hint("shuffle_hash").as("a").join(grams.hint("shuffle_hash").as("b"), cond)
      .select(
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.grams").as("g1"), col("b.grams").as("g2"))
      .withColumn("jaccard", roundHalfUp(jac, 6))
      .filter(col("jaccard") >= tau)
      .select("id1", "id2", "jaccard")
  }

  /** MinHash signatures: sig[i] = min over shingles of murmur3(shingle, i).
    * Expression-tree form (one array traversal per hash function);
    * `DedupOps.minhashBands` is the high-throughput path that ships.
    */
  def minhashSignature(grams: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(grams, g => hash(g, lit(i))))): _*)

  /** One row per word n-gram OCCURRENCE: (doc_id, g), built with
    * posexplode + `lead` windows over each doc's space tokens — an
    * independent formulation of the shingles `DedupOps.minhashPairs` takes
    * from the `wordNgrams` kernel (which keeps distinct grams only).
    */
  def ngramRows(docs: DataFrame, n: Int): DataFrame = {
    val byDocPos = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("tok") +: (1 until n).map(o => lead("tok", o).over(byDocPos))
    docs
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), size(col("w")).as("nw"), posexplode(col("w")).as(Seq("pos", "tok")))
      .withColumn("g", concat_ws("_", parts: _*))
      .filter(col("pos") <= col("nw") - n) // last n-1 positions have no full gram
      .select("doc_id", "g")
  }
}
