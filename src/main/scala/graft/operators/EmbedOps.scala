package graft.operators

import graft.functions.NumFns.roundHalfUp
import graft.Tables
import graft.functions.VectorFns.dot_product
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Passage→embedding attach plumbing — the Spark twin of the reference's NLP
  * sidecar round-trip (dags/normalizers/lib/nlp.py:100
  * `add_embeddings_to_doc`: POST the doc's passage texts to an embedding
  * service, then match each returned (text, embedding) pair back onto the
  * passages by TEXT EQUALITY).
  *
  * The encoder is a deterministic STUB (the real 768-d model lives behind an
  * external service); the Spark-side plumbing is the production shape:
  *  - encode DISTINCT texts only — a boilerplate passage repeated across
  *    millions of docs is embedded once, which is where the money goes at
  *    100 TB (the reference re-encodes per doc);
  *  - attach is one equi-join on the text key, broadcast when the distinct
  *    side is small. A real deployment swaps `stubEmbedding` for a batched
  *    model call (mapInPandas / mapPartitions over the distinct texts) and
  *    the surrounding plan is unchanged.
  */
/** The pluggable encoder hook — the seam where a real model plugs in
  * (nlp.py:100 posts passage texts to a SentenceTransformer service and
  * gets 768-d vectors back). Implementations wrap whatever produces
  * vectors — an ONNX session opened per executor, an HTTP batch client,
  * a JNI tokenizer+model — and the Spark plumbing around them
  * ([[EmbedOps.encodeDistinctWith]]) stays fixed: distinct texts only,
  * bounded batches, one task-side instance via serialization.
  *
  * Contract: one vector per input text, in input order, each of length
  * [[dim]] — float32, the wire format embedding models emit (half the
  * bytes of double at 100 TB scale; graft's vector math casts up to
  * double where it needs to).
  */
trait Encoder extends Serializable {
  def dim: Int
  def encode(batch: Seq[String]): Seq[Array[Float]]
}

object Encoder {

  /** The default deterministic stub as an [[Encoder]] — the same
    * xxhash64-derived formula as [[EmbedOps.stubEmbedding]] (computed via
    * the identical Spark hash so the two paths describe one model), cast
    * to float32 at the boundary like a real encoder would.
    */
  def stub(dimensions: Int): Encoder = new Encoder {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.sql.types.{IntegerType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val dim: Int = dimensions
    def encode(batch: Seq[String]): Seq[Array[Float]] = batch.map { text =>
      Array.tabulate(dim) { i =>
        // xxhash64(text, i) with Spark's seed chaining (seed 42, each arg
        // hashed with the running value as seed) — bit-identical to the
        // column form
        var h = XxHash64Function.hash(UTF8String.fromString(text), StringType, 42L)
        h = XxHash64Function.hash(i, IntegerType, h)
        val m = 2000000L
        (((h % m + m) % m).toDouble / 1000000.0 - 1.0).toFloat
      }
    }
  }
}

object EmbedOps {

  /** Deterministic stub embedding: component i is xxhash64(text, i) scaled
    * into [-1, 1). A pure codegen'd expression tree — no UDF, no RNG.
    */
  def stubEmbedding(text: Column, dim: Int): Column =
    array((0 until dim).map(i =>
      (pmod(xxhash64(text, lit(i)), lit(2000000)).cast("double") / 1000000.0) - 1.0): _*)

  /** Encode each distinct text once through a pluggable [[Encoder]] —
    * the production path for a real model: `mapPartitions` over the
    * DISTINCT texts, `batchSize`-bounded batches (an encoder sees at most
    * that many texts per call, so task memory is bounded no matter the
    * partition size), one deserialized encoder instance per task. The
    * surrounding plan is identical to the stub path: distinct → encode →
    * equi-join attach.
    */
  def encodeDistinctWith(passages: DataFrame, textCol: String,
      encoder: Encoder, batchSize: Int = 64): DataFrame = {
    val spark = passages.sparkSession
    import spark.implicits._
    require(batchSize > 0, "batchSize must be positive")
    val enc = encoder
    passages.select(col(textCol).cast("string")).distinct().as[String]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val vecs = enc.encode(batch)
          require(vecs.length == batch.length,
            s"encoder returned ${vecs.length} vectors for ${batch.length} texts")
          batch.iterator.zip(vecs.iterator)
        }
      }
      .toDF(textCol, "embedding")
  }

  /** Encode each distinct passage text once (the batched service call). */
  def encodeDistinct(passages: DataFrame, textCol: String, dim: Int): DataFrame =
    passages.select(col(textCol)).distinct()
      .withColumn("embedding", stubEmbedding(col(textCol), dim))

  /** nlp.py:114 semantics: each passage gets the embedding whose text equals
    * the passage text (left join — a text the encoder failed to return
    * leaves the passage embedding NULL rather than dropping the passage,
    * matching the reference's no-match behavior).
    */
  def attachEmbeddings(passages: DataFrame, encoded: DataFrame, textCol: String): DataFrame =
    passages.join(encoded, Seq(textCol), "left")

  /** queries() wrapper: split documents into passages, encode distinct
    * texts, attach. Emits per-passage stats (dims + rounded L2 norm via the
    * codegen'd DotProduct expression) instead of raw float arrays so the
    * result is hash-comparable.
    */
  def qEmbedAttach(s: SparkSession, d: String): DataFrame = {
    val passages = NormOps.textPassages(
      Tables.documents(s, d), "text", splitLength = 60, overlap = 15)
    val encoded = encodeDistinct(passages, "passage", dim = 64)
    attachEmbeddings(passages, encoded, "passage")
      .select(
        col("doc_id"), col("passage_id"),
        size(col("embedding")).cast("long").as("n_dims"),
        roundHalfUp(
          sqrt(dot_product(col("embedding"), col("embedding"))), 4).as("norm"))
      .orderBy("doc_id", "passage_id")
  }

  // ---------------------------------------------------------- semantic_search

  /** The reference's end-user flow, end to end (searchui → nlp searchlib:
    * embed the query, rank docs by their best-matching PASSAGE embedding):
    * documents → passages → distinct-encode → attach → cosine against the
    * query vector → best passage per doc → top-k docs.
    *
    * The query vector is `stubEmbedding(lit(query))` — a FOLDABLE expression
    * tree, so Catalyst constant-folds it and the scoring pass is one corpus
    * scan with zero joins on the query side. Ranking is a partial-agg
    * `groupBy(doc).max` + TakeOrderedAndProject: no global sort, no shuffle
    * beyond the per-doc max. A real deployment swaps the stub for a model
    * call on BOTH sides (distinct passages + the one query string) and the
    * plan shape is unchanged — at 100 TB you'd route the scan through the
    * persisted IVF index (`AnnOps.ivf2QueryIndex`) instead of scoring every
    * passage; this operator is the exact-baseline twin of that path.
    */
  def semanticSearchTopK(docs: DataFrame, queryText: String, k: Int,
      dim: Int = 64, splitLength: Int = 60, overlap: Int = 15): DataFrame = {
    val passages = NormOps.textPassages(docs, "text", splitLength, overlap)
    val encoded = encodeDistinct(passages, "passage", dim)
    val attached = attachEmbeddings(passages, encoded, "passage")
    val qv = stubEmbedding(lit(queryText), dim)
    topDocsByBestPassage(attached,
      graft.functions.VectorFns.cosine_sim(col("embedding"), qv), k)
  }

  /** [[semanticSearchTopK]] with a pluggable [[Encoder]] on BOTH sides:
    * the distinct passages encode through `encodeDistinctWith` and the
    * one query string encodes driver-side (a single-text batch), entering
    * the plan as a literal vector — so the scoring pass is still one
    * corpus scan with zero query-side joins, whatever the model is.
    */
  def semanticSearchTopKWith(docs: DataFrame, queryText: String, k: Int,
      encoder: Encoder, splitLength: Int = 60, overlap: Int = 15,
      batchSize: Int = 64): DataFrame = {
    val passages = NormOps.textPassages(docs, "text", splitLength, overlap)
    val encoded = encodeDistinctWith(passages, "passage", encoder, batchSize)
    val attached = attachEmbeddings(passages, encoded, "passage")
    val qv = encoder.encode(Seq(queryText)).head.map(_.toDouble)
    topDocsByBestPassage(attached, graft.functions.VectorFns.cosine_sim(
      col("embedding").cast("array<double>"), typedLit(qv)), k)
  }

  /** The scoring tail both searches share: score every attached passage
    * with `cos`, keep each doc's best passage, return the top-k docs.
    */
  private def topDocsByBestPassage(attached: DataFrame, cos: Column, k: Int): DataFrame =
    attached
      .withColumn("cos", cos)
      // a zero-vector passage has no cosine (NaN, which Spark's max would
      // treat as the LARGEST value and poison the doc's best_cos) — drop
      // it; n_passages counts scorable passages
      .filter(!isnan(col("cos")))
      .groupBy("doc_id")
      .agg(roundHalfUp(max(col("cos")), 4).as("best_cos"),
        count(lit(1)).as("n_passages"))
      .orderBy(desc("best_cos"), col("doc_id"))
      .limit(k)

  def qSemanticSearch(s: SparkSession, d: String): DataFrame =
    semanticSearchTopK(Tables.documents(s, d),
      queryText = "aggregate data pipelines merge documents", k = 20)
}
