package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions register cosine_sim / dot_product as SQL functions") {
    // Extensions only apply at session instantiation, so force a NEW session
    // (clearing the active/default ones); the SparkContext is shared with
    // other suites and must NOT be stopped here. SharedSpark creates it,
    // whichever suite runs first: its conf also sizes the JVM-wide codegen
    // cache, which the first compile fixes for good.
    SharedSpark.spark
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .appName("graft-ext-test").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT cosine_sim(array(1d, 0d), array(1d, 0d)) AS self,
          |       dot_product(array(1d, 2d, 3d), array(4d, 5d, 6d)) AS dot,
          |       word_ngrams(array('a', 'b', 'c', 'b', 'c'), 2) AS grams,
          |       count_token_run(array('a', 'b', 'a', 'b'), array('a', 'b')) AS runs,
          |       size(winnow_fingerprints('abcdefghij', 3, 2)) AS nfp""".stripMargin)
        .collect()(0)
      assert(r.getDouble(0) === 1.0)
      assert(r.getDouble(1) === 32.0)
      assert(r.getSeq[String](2) === Seq("a_b", "b_c", "c_b"))
      assert(r.getLong(3) === 2L)
      assert(r.getInt(4) > 0, "winnow_fingerprints must yield fingerprints via SQL")
      // the bloom pair end-to-end in SQL: build over 3 urls, probe member + non-member
      val b = spark.sql(
        """SELECT bloom_might_contain(xxhash64('u1'), b) AS hit,
          |       bloom_might_contain(xxhash64('not-there-xyz'), b) AS miss
          |FROM (SELECT bloom_build(xxhash64(u), 8192, 7) AS b
          |      FROM VALUES ('u1'), ('u2'), ('u3') AS t(u))""".stripMargin)
        .collect()(0)
      assert(b.getBoolean(0), "member must probe true")
      assert(!b.getBoolean(1), "a fresh key should probe false at this sizing")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }

  test("extensions register glob_regex / warc_parse / gunzip") {
    SharedSpark.spark
    val prevDefault = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .appName("graft-ext-test2").master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      // \r\n must be REAL bytes, not SQL escapes — build the record in Scala
      val warc = "WARC/1.0\r\nWARC-Type: resource\r\n" +
        "WARC-Target-URI: https://a.eu/x\r\nContent-Length: 2\r\n\r\nhi"
      val row = spark.sql(
        s"""SELECT glob_regex('/docs/*.pdf$$') AS rx,
           |  warc_parse(cast('${warc.replace("\r\n", "\\r\\n")}' AS BINARY)) AS recs
           |""".stripMargin.replace("\\r\\n", "\r\n"))
        .collect().head
      assert(row.getAs[String]("rx") == "^/docs/.*\\.pdf$")
      val rec = row.getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("recs").head
      assert(rec.getAs[String]("target_uri") == "https://a.eu/x")
      assert(new String(rec.getAs[Array[Byte]]("payload")) == "hi")
      val gz = spark.sql(
        "SELECT cast(gunzip(cast('' AS BINARY)) AS STRING) AS e").collect().head
      assert(gz.getAs[String]("e") == "", "gunzip of empty input yields empty bytes")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
    }
  }
}
