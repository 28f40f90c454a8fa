package graftbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.Tables
import graft.functions._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Single-thread microbenchmarks of the `graft.functions` kernels, in ns
  * per row, on the run's own generated rows. The kernels with a plain
  * Scala entry point are called in a loop on this thread; cosine and
  * nearest-centroid exist only as codegen expressions, so they are timed
  * as a one-column noop projection over a cached single partition (one
  * task), median of three.
  */
object Kernels {
  private val MaxDocs = 2000

  def all(spark: SparkSession, data: String): Map[String, Double] = {
    val docs = Tables.documents(spark, data).select("doc_id", "text", "source")
      .orderBy("doc_id").limit(MaxDocs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

    // the page shapes of main_text_blocks and norm_strip_selectors
    val pages = docs.map { case (id, text, src) => UTF8String.fromString(
      s"<html><head><title>Doc $id</title></head><body><header><nav><a href='/'>Home</a>" +
      s"</nav></header><div class='sidebar'><p>Related reading teaser.</p></div>" +
      s"<div class='article-content'><h1>Doc $id</h1><p>$text</p><p>Published by $src " +
      s"as document $id with a closing sentence.</p></div><footer><p>All rights " +
      s"reserved.</p></footer></body></html>") }
    val stripPages = docs.map { case (_, text, _) => UTF8String.fromString(
      "<html><body><nav id=\"portal-globalnav\"><a href=\"/\">Home</a></nav>" +
      s"<div class=\"eea banner\">Banner text here</div><p>$text</p>" +
      "<footer class=\"footer\">Copyright</footer></body></html>") }
    val sels = StripHtmlSelectors.parse(Seq("#portal-globalnav", ".eea.banner", ".footer"))

    // WARC files of 20 response records each, octet-framed
    val warcs = docs.grouped(20).map { group =>
      group.map { case (id, text, src) =>
        val http = s"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<html>doc $id $text</html>"
        s"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: https://$src.example.eu/d/$id\r\n" +
          s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Type: application/http;msgtype=response\r\n" +
          s"Content-Length: ${http.getBytes(UTF_8).length}\r\n\r\n$http\r\n\r\n"
      }.mkString.getBytes(UTF_8)
    }.toArray

    // a Bloom filter over a third of the URL hashes, probed with all of them
    val hashes = docs.map { case (id, _, src) =>
      scala.util.hashing.MurmurHash3.stringHash(s"https://$src.example.eu/docs/$id.html")
        .toLong * 0x9E3779B97F4A7C15L }
    val (bits, k) = BloomFns.bloomParams(math.max(1, hashes.length / 3), 0.01)
    val bloom = new Array[Byte](4 + (bits / 8).toInt)
    java.nio.ByteBuffer.wrap(bloom).putInt(k)
    hashes.indices.filter(_ % 3 == 0).foreach(i => BloomKernel.set(bloom, hashes(i)))

    val tokens = docs.map { case (_, text, _) =>
      new GenericArrayData(text.split(" ").map(UTF8String.fromString).asInstanceOf[Array[Any]]) }

    // 16 copies of the embeddings, so per-row cost outweighs the job's own
    val vecs = Tables.embeddings(spark, data)
      .select(col("embedding").cast("array<double>").as("v"), explode(sequence(lit(1), lit(16))))
      .select("v").coalesce(1).cache()
    val nVecs = vecs.count()
    val q = vecs.first().getSeq[Double](0)
    // the first 64 vectors stand in for trained centroids
    val cents = vecs.take(64).map(_.getSeq[Double](0).toArray).toSeq
    def projection(c: Column): Double = {
      val df = vecs.select(c.as("k"))
      Harness.noop(df)
      val times = (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        Harness.noop(df)
        (System.nanoTime() - t0).toDouble / nVecs
      }
      times.sorted.apply(1)
    }

    val out = Map(
      "main_container_ns" -> perRow(pages.length)(pages.foreach(MainContainer.select)),
      "strip_selectors_ns" -> perRow(stripPages.length)(
        stripPages.foreach(StripHtmlSelectors.strip(_, sels))),
      "warc_parse_ns" -> perRow(docs.length)(warcs.foreach(WarcParse.parse)),
      "bloom_probe_ns" -> perRow(hashes.length)(hashes.foreach(BloomKernel.probe(bloom, _))),
      "word_ngrams_ns" -> perRow(tokens.length)(tokens.foreach(WordNgrams.build(_, 3))),
      "cosine_ns" -> projection(VectorFns.cosine_sim(col("v"), typedLit(q))),
      "nearest_centroid_ns" -> projection(VectorFns.nearest_centroid(col("v"), cents)))
    vecs.unpersist(true)
    out
  }

  /** ns per row of `f` over `rows` rows, timed for 0.3 s after 0.2 s of
    * warm-up (so the JIT has compiled the kernel).
    */
  private def perRow(rows: Int)(f: => Unit): Double = {
    def loop(budgetNs: Long): (Long, Int) = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < 3 || System.nanoTime() - t0 < budgetNs) { f; n += 1 }
      (System.nanoTime() - t0, n)
    }
    loop(200000000L)
    val (ns, n) = loop(300000000L)
    ns.toDouble / (n.toLong * rows)
  }
}
