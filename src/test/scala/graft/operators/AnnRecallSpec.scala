package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** Recall@10 floors for the ANN paths the registered queries ship, on a
  * planted-cluster corpus (`AnnReference.writePlantedClusters`) where each
  * query's exact top-10 is its own cluster. The testdata embeddings are
  * near-random, so a floor there measures the corpus's lack of structure
  * more than the quantizer; here a broken router or codebook shows.
  *
  * Every path runs at its registered parameters (the q* wrappers in
  * `AnnOps`): cell target, coarse and fine probe widths from the corpus
  * size, default trainCap and PQ shape, and the registered query set —
  * every 100th vector, of which ann_pq takes the first 8 to bound its
  * exhaustive scan.
  * Each floor is the measured recall rounded down to the next 0.05; the
  * pipeline is deterministic, so a drop below it is a change in the code.
  */
class AnnRecallSpec extends SparkSpec with BeforeAndAfterAll {
  private val k = 10
  private val clusters = 1455
  private val n = clusters.toLong * AnnReference.PlantedClusterSize
  private val cprobe = AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n))
  private val nprobeF = AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget)

  // Noise 0.5 keeps each query's exact top-10 its own cluster (the first
  // test asserts it) while clusters straddle fine-cell boundaries, so the
  // probe width matters: probing only the query's own coarse and fine cell
  // measured recall 0.45 here, against 0.93 at the registered widths.
  private val dir = java.nio.file.Files.createTempDirectory("graft-ann-planted").toString
  private lazy val vecs = {
    AnnReference.writePlantedClusters(spark, dir, clusters, noise = 0.5)
    AnnOps.corpus(spark, dir)
  }
  private lazy val queries = vecs.filter(col("vec_id") % 100 === 0)
  private val pqQueries = 8 // qAnnPq's bound: the first 8 queries by id
  private lazy val exact = pairs(AnnOps.bruteTopK(vecs, queries, k))
  private lazy val idx = AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget)

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    finally super.afterAll()

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("planted corpus: exact top-10 is each query's own cluster, the registered probe reads <= 10%") {
    val size = AnnReference.PlantedClusterSize
    val siblings = (0L until n by 100L).flatMap { q =>
      val c0 = q / size * size
      (c0 until c0 + size).filter(_ != q).map(q -> _)
    }.toSet
    assert(exact === siblings, "exact top-10 must be exactly each query's cluster siblings")
    // the candidates a query reranks: the populations of its probed cells
    val cells = AnnOps.ivf2Assign(vecs, idx).groupBy("gcid", "fcid").count()
    val (coarseDf, fineDf) = AnnOps.ivf2LiteralDfs(spark, idx)
    val read = AnnOps.ivf2Probe(queries, coarseDf, fineDf, cprobe, nprobeF)
      .join(cells, Seq("gcid", "fcid"))
      .groupBy("query_id").agg(sum("count").as("cands"))
      .collect().map(_.getLong(1))
    val mean = read.sum.toDouble / read.length
    info(f"probe reads mean ${mean / n}%.4f, max ${read.max.toDouble / n}%.4f of the corpus " +
      s"(cprobe $cprobe, nprobeF $nprobeF, ${idx.totalCells} cells)")
    assert(mean <= 0.10 * n, s"registered probe reads $mean of $n vectors on average")
  }

  // (registered query, its path, recall@10 floor)
  private val paths: Seq[(String, () => DataFrame, Double)] = Seq(
    ("ann_ivf", () => AnnOps.ivf2ProbeTopK(vecs, queries, k, idx, cprobe, nprobeF), 0.90),
    // both quantizer levels trained on a quarter of the corpus; the
    // inverted file still assigns every vector
    ("ann_ivf (sampled training, trainCap = n/4)", () => AnnOps.ivf2ProbeTopK(vecs, queries, k,
      AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget, trainCap = (n / 4).toInt),
      cprobe, nprobeF), 0.90),
    ("ann_ivf_index", () => {
      AnnOps.ivf2SaveIndex(vecs, s"$dir/ivf_index", n)
      AnnOps.ivf2QueryIndex(spark, s"$dir/ivf_index", queries, k, cprobe, nprobeF)
    }, 0.90),
    ("ann_ivfpq", () => {
      val (pqIdx, books) = AnnOps.ivfpqTrainAll(vecs, n)
      AnnOps.ivfpqTopK(vecs, queries, k, pqIdx, books, cprobe, nprobeF)
    }, 0.85),
    ("ann_ivfpq_index", () => {
      AnnOps.ivfpqSaveIndex(vecs, s"$dir/ivfpq_index", n)
      AnnOps.ivfpqQueryIndex(spark, s"$dir/ivfpq_index", queries, k, cprobe, nprobeF)
    }, 0.85),
    ("ann_pq", () => {
      val books = AnnOps.pqCodebooks(vecs)
      AnnOps.pqAdcTopK(AnnOps.pqEncode(vecs, books),
        queries.orderBy("vec_id").limit(pqQueries), books, k)
    }, 0.80))

  /** Recall@10 of every path, computed concurrently: each path is a chain
    * of small training jobs whose driver round-trips leave the local
    * cores idle when the paths run one after another.
    */
  private lazy val recalls: Map[String, Double] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    exact; idx // shared inputs, built once before the paths fork
    Await.result(Future.traverse(paths) { case (name, run, _) =>
      Future {
        val got = pairs(run())
        val want = if (name != "ann_pq") exact else exact.filter(_._1 < 100L * pqQueries)
        name -> got.intersect(want).size.toDouble / want.size
      }
    }, scala.concurrent.duration.Duration.Inf).toMap
  }

  for ((name, _, floor) <- paths)
    test(s"$name recall@10 on planted clusters holds its floor") {
      val recall = recalls(name)
      info(f"$name recall@10 = $recall%.4f (floor $floor)")
      assert(recall >= floor, s"$name recall@10 $recall below its floor $floor")
    }
}
