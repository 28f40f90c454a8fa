package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session — Spark
  * startup dominates test wall-time otherwise).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val b = SparkSession.builder()
    GraftSession.StatusStoreCaps.foreach { case (k, v) => b.config(k, v) }
    val s = b
      .appName("graft-test")
      // local[4, 2]: maxFailures=2, i.e. ONE task retry — production has
      // task retries, and the encoder-seam spec (EmbedOpsSpec) kills a
      // task mid-encode to assert the distinct-encode path stays
      // exactly-once per text at the RESULT level over an at-least-once
      // transport. Deterministic task failures still fail the job (the
      // retry hits the same condition), so throw-asserting specs are
      // unaffected beyond one extra attempt.
      .master("local[4, 2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SharedSpark.spark
  val sfDir = "/root/testdata/sf0.001"

  def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
}
