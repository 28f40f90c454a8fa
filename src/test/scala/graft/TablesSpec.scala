package graft

import graft.operators.Relational
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Timestamp-portability guard for the `Tables.events` loader
  * (Tables.scala): the driver's events.parquet has arrived in THREE
  * physical `ts` encodings across environments — INT64 TIMESTAMP(NANOS)
  * (read as a raw long under `nanosAsLong`), µs TIMESTAMP_NTZ
  * (isAdjustedToUTC=false under `inferTimestampNTZ`), and plain µs
  * TimestampType — and a silent drift between them cost round 11 its
  * green board. This spec writes the SAME instants in all three physical
  * forms to temp dirs and pins the loader contract:
  *
  *   1. every form loads as TimestampType;
  *   2. every form yields the IDENTICAL instants (µs-exact);
  *   3. q10 (lag+cumsum) and q13 (session_window) produce identical
  *      sessions over every form;
  *   4. the NTZ relabel stays instant-preserving even when the CALLER's
  *      session runs non-UTC (the loader pins UTC for the cast's
  *      analysis), and the caller's timezone setting is restored after
  *      the load — a table read must not mutate session state.
  */
class TablesSpec extends SparkSpec {

  /** One user's events: a 30-min-boundary gap, a >30-min gap, and a
    * second user interleaved — enough to make q10/q13 sessions
    * non-trivial. Micros chosen off the whole-second grid to catch
    * truncation bugs.
    */
  private val baseMicros = 1735689600000000L // 2025-01-01T00:00:00Z
  private val eventRows: Seq[(Long, Long, Long, String, Double, String)] =
    Seq(
      (1L, baseMicros + 123456L, 1L, "view", 1.0, "{}"),
      (2L, baseMicros + 1800L * 1000000L + 123456L, 1L, "view", 2.0, "{}"),
      (3L, baseMicros + 7200L * 1000000L, 1L, "purchase", 3.0, "{}"),
      (4L, baseMicros + 999999L, 2L, "view", 4.0, "{}"),
      (5L, baseMicros + 4000L * 1000000L, 2L, "click", 5.0, "{}"))

  /** Write the fixture events as (form -> dir) in the three physical
    * encodings. The micros-long base frame is the source of truth;
    * each writer only relabels/rescales it.
    */
  private lazy val dirs: Map[String, String] = {
    import spark.implicits._
    val base = eventRows
      .toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"tables-$tag").toString

    // (a) INT64 nano count: what `nanosAsLong` delivers for a parquet
    // TIMESTAMP(NANOS) column — Spark 4 cannot WRITE nanos, so write the
    // long form the reader branch actually sees.
    val nanosDir = tmp("nanos")
    base.withColumn("ts", (col("ts_us") * 1000L).cast(LongType)).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$nanosDir/events.parquet")

    // (b) µs TIMESTAMP_NTZ: wall-clock column, isAdjustedToUTC=false.
    // Session is UTC here, so the NTZ wall-clock written IS the instant.
    val ntzDir = tmp("ntz")
    base.withColumn("ts", timestamp_micros(col("ts_us")).cast(TimestampNTZType)).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ntzDir/events.parquet")

    // (c) plain µs TimestampType (instant-annotated, isAdjustedToUTC=true).
    val ltzDir = tmp("ltz")
    base.withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$ltzDir/events.parquet")

    Map("nanos" -> nanosDir, "ntz" -> ntzDir, "ltz" -> ltzDir)
  }

  private def instants(dir: String): Map[Long, Long] =
    Tables.events(spark, dir)
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("events loader yields TimestampType for all three physical ts forms") {
    // Sanity: the three writes really produced three DIFFERENT raw types,
    // otherwise this spec guards one branch three times.
    assert(spark.read.parquet(s"${dirs("nanos")}/events.parquet").schema("ts").dataType === LongType)
    assert(spark.read.parquet(s"${dirs("ntz")}/events.parquet").schema("ts").dataType === TimestampNTZType)
    assert(spark.read.parquet(s"${dirs("ltz")}/events.parquet").schema("ts").dataType === TimestampType)
    dirs.foreach { case (form, d) =>
      assert(Tables.events(spark, d).schema("ts").dataType === TimestampType,
        s"loader must normalize the $form form to TimestampType")
    }
  }

  test("all three physical forms load to µs-identical instants") {
    val expected = eventRows.map(r => r._1 -> r._2).toMap
    dirs.foreach { case (form, d) =>
      assert(instants(d) === expected, s"$form instants drifted")
    }
  }

  test("q10 and q13 sessions are identical across all three physical forms") {
    def canon(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val q10 = dirs.map { case (form, d) => form -> canon(Relational.q10Sessionize(spark, d)) }
    val q13 = dirs.map { case (form, d) => form -> canon(Relational.q13SessionWindow(spark, d)) }
    assert(q10("ntz") === q10("nanos"), "q10: ntz vs nanos diverged")
    assert(q10("ltz") === q10("nanos"), "q10: ltz vs nanos diverged")
    assert(q13("ntz") === q13("nanos"), "q13: ntz vs nanos diverged")
    assert(q13("ltz") === q13("nanos"), "q13: ltz vs nanos diverged")
    // And the two sessionizers agree on session count per user.
    assert(q10("nanos").size === q13("nanos").size)
  }

  test("concurrent NTZ loads on a shared session: no timezone mutation, identical instants") {
    // The loader builds its normalization Cast with an explicit timeZoneId;
    // a conf-pinning implementation would race here (save/restore from two
    // threads can leave the session permanently UTC) and any concurrently
    // analyzed TZ-sensitive expression would capture the wrong zone.
    val expected = eventRows.map(r => r._1 -> r._2).toMap
    dirs // fixture write under UTC first
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "Australia/Adelaide")
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val threads = (1 to 6).map { tid =>
        new Thread(() => {
          try {
            var i = 0
            while (i < 5) {
              if (instants(dirs("ntz")) != expected)
                errors.add(s"thread $tid iteration $i: instants drifted")
              i += 1
            }
          } catch { case e: Throwable => errors.add(s"thread $tid: $e") }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join(120000))
      assert(errors.isEmpty, s"concurrent loads failed: ${errors.toArray.mkString("; ")}")
      assert(spark.conf.get("spark.sql.session.timeZone") === "Australia/Adelaide",
        "a concurrent load mutated the caller's session timezone")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("NTZ relabel stays instant-preserving under a non-UTC caller session, which keeps its timezone") {
    val expected = eventRows.map(r => r._1 -> r._2).toMap
    dirs // force the fixture WRITE under the suite's UTC session first
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      // The load itself must pin UTC for the NTZ cast's analysis...
      val got = instants(dirs("ntz"))
      assert(got === expected,
        "NTZ relabel shifted instants under a non-UTC session — the loader's TZ pin is broken")
      // ...and must NOT leak that pin into the caller's session state.
      assert(spark.conf.get("spark.sql.session.timeZone") === "America/New_York",
        "Tables.events mutated the caller's session timezone")
      // The timezone-agnostic branches are unaffected by the caller's TZ too.
      assert(instants(dirs("nanos")) === expected)
      assert(instants(dirs("ltz")) === expected)
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("an IVF index rebuilt at the same path is re-resolved for the next query") {
    import graft.operators.AnnOps
    val vecs = AnnOps.corpus(spark, sfDir)
    val n = vecs.count()
    val (cprobe, nprobeF) =
      (AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n)), AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget))
    val dir = java.nio.file.Files.createTempDirectory("tables-ivf").toString
    def query(parity: Int) =
      AnnOps.ivf2QueryIndex(spark, dir, vecs.filter(col("vec_id") % 2 === parity),
        k = 10, cprobe, nprobeF)
        .select("neighbor_id").collect().map(_.getLong(0) % 2).toSet
    def resolved = Tables.parquet(spark, s"$dir/inverted")
    try {
      AnnOps.ivf2SaveIndex(vecs.filter(col("vec_id") % 2 === 0), dir, n / 2)
      assert(query(0) === Set(0L))
      val first = resolved
      assert(resolved eq first, "an unchanged index must be served from the memo")
      // overwrite deletes and rewrites every part of the index in place
      AnnOps.ivf2SaveIndex(vecs.filter(col("vec_id") % 2 === 1), dir, n - n / 2)
      assert(query(1) === Set(1L), "the next query must see the rebuilt index")
      assert(!(resolved eq first), "the rebuilt index must be resolved again")
    } finally {
      Tables.relationCache.keySet.removeIf(_._2.startsWith(dir))
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("rewriting a table in place leaves one memo entry for that path") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dir = java.nio.file.Files.createTempDirectory("tables-memo").toString
    val path = s"$dir/documents.parquet"
    def entries = Tables.relationCache.keySet.asScala.count(_._2 == path)
    try {
      Seq(1L).toDF("doc_id").write.parquet(path)
      assert(Tables.documents(spark, dir).count() === 1L)
      // overwrite recreates the table directory, which changes its mtime
      Seq(1L, 2L, 3L).toDF("doc_id").write.mode("overwrite").parquet(path)
      assert(Tables.documents(spark, dir).count() === 3L,
        "the rewritten table must not be served from the old entry")
      assert(entries === 1, "the superseded (mtime, len) entry must be dropped")
    } finally {
      Tables.relationCache.keySet.removeIf(_._2 == path)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }
}
