package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Typed loaders for the test corpus (TPC-H-ish star schema + `events`
  * stream table + `documents`/`embeddings` for the LLM-pipeline operators).
  *
  * All reads are plain parquet scans so Catalyst predicate/projection
  * pushdown applies; never cache here — operators decide.
  */
object Tables {
  /** Resolved-relation memo: `spark.read.parquet` costs ~85 ms per call on
    * this JVM (file listing + footer schema read), and every registered
    * query re-resolves its tables on every invocation — ~600 resolutions
    * per bench. This caches the resolved PLAN (the DataFrame handle), not
    * data: every action still scans the parquet files, so no result is
    * ever reused across runs. It is the same lever as Spark's own
    * per-session file-listing cache for catalog tables
    * (`spark.sql.hive.filesourcePartitionFileCacheSize`); bare-path reads
    * just don't get it for free. One entry per (session, path), stamped
    * with the file's (mtime, length): rewriting a table at the same path
    * replaces its entry, so tests that regenerate fixtures in place stay
    * correct and superseded plans do not pile up. Sessions are compared by
    * identity, and entries of stopped SparkContexts are dropped on every
    * resolve (a stopped session's plans must not leak into a new one).
    */
  private[graft] val relationCache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (Long, Long, DataFrame)]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` through the memo above. Besides the
    * corpus tables, persisted index parts resolve here: a query over an
    * index reads its parts once per session, and rebuilding the index in
    * place changes the parts' stamps, so the next query resolves them
    * again.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val (mtime, len) =
      try {
        val p = new org.apache.hadoop.fs.Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        val st = fs.getFileStatus(p)
        (st.getModificationTime, st.getLen)
      } catch { case _: Throwable => (-1L, -1L) }
    relationCache.keySet.removeIf(_._1.sparkContext.isStopped)
    relationCache.compute((spark, path), (_, old) =>
      if (old != null && old._1 == mtime && old._2 == len) old
      else (mtime, len, spark.read.parquet(path)))._3
  }

  def region(s: SparkSession, d: String): DataFrame     = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = table(s, d, "lineitem")
  /** events.parquet stores `ts` as INT64 TIMESTAMP(NANOS), which Spark 4.x
    * only reads as a raw long (`nanosAsLong`, set here defensively for
    * sessions not built via GraftSession — it is a runtime-settable legacy
    * conf). Convert once at the loader boundary so downstream operators see a
    * true TimestampType. `div` keeps the ns→µs division in integer space;
    * a double round-trip would lose precision at 1e18-ns magnitudes.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        // nanosAsLong delivers INT64 TIMESTAMP(NANOS) as a raw nano count;
        // timestamp_micros is timezone-agnostic (an instant in, an instant
        // out), so no TZ pin is needed on this branch.
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // Parquet µs/ms columns without isAdjustedToUTC read as TIMESTAMP_NTZ
        // under spark.sql.parquet.inferTimestampNTZ (the default in some
        // environments). Type-strict call sites (`unix_micros`, session
        // windows with timezone semantics) reject NTZ, so normalize here.
        // The NTZ->TimestampType cast reinterprets the wall-clock under a
        // timezone — only under UTC is it a pure relabel of the same
        // instant. Build the Cast with an EXPLICIT timeZoneId (which
        // ResolveTimeZone leaves untouched) instead of pinning the session
        // conf around analysis: no session state is mutated at all, and
        // concurrent loads on a shared session cannot race a save/restore
        // into leaving the caller's timezone permanently overwritten.
        import org.apache.spark.sql.graftbridge.GraftSqlBridge
        raw.withColumn("ts", GraftSqlBridge.column(
          org.apache.spark.sql.catalyst.expressions.Cast(
            GraftSqlBridge.expression(col("ts")),
            org.apache.spark.sql.types.TimestampType,
            timeZoneId = Some("UTC"))))
      case _ => raw // already TimestampType (re-written snapshots etc.)
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Exact row count of a parquet table from file FOOTERS — a driver-side
    * metadata read, zero Spark jobs (parquet stores per-file record counts;
    * this is what `SELECT count(*)` metadata-only optimizations read too).
    * Used by data-dependent plan parameters (e.g. LSH bit width) that must
    * not trigger an eager corpus scan at DataFrame-construction time.
    * Handles both a single parquet file and a directory of part files.
    */
  def rowCountFromFooters(s: SparkSession, dir: String, name: String): Long = {
    val conf = s.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(s"$dir/$name.parquet")
    val fs = root.getFileSystem(conf)
    val status = fs.getFileStatus(root)
    val files =
      if (status.isDirectory) {
        // Recurse: partitioned layouts (e.g. ivf2SaveIndex's partitionBy
        // output) nest part files under key=value directories — a one-level
        // listing would return an empty list and a silent row count of 0.
        // Hidden/staging segments (_temporary, .spark-staging-*, _SUCCESS)
        // left by in-flight or failed writes must NOT count: Spark's own
        // readers skip paths with a '_'/'.'-prefixed segment, and counting
        // them would silently inflate data-dependent plan parameters
        // (e.g. LSH bit widths).
        def hidden(p: org.apache.hadoop.fs.Path): Boolean = {
          var cur = p
          while (cur != null && cur != root) {
            val n = cur.getName
            if (n.startsWith("_") || n.startsWith(".")) return true
            cur = cur.getParent
          }
          false
        }
        val it = fs.listFiles(root, true)
        val buf = scala.collection.mutable.ArrayBuffer.empty[org.apache.hadoop.fs.FileStatus]
        while (it.hasNext) {
          val f = it.next()
          if (f.isFile && f.getPath.getName.endsWith(".parquet") && !hidden(f.getPath))
            buf += f
        }
        buf.toSeq
      } else Seq(status)
    // A present-but-empty dataset (a directory holding only _SUCCESS /
    // staging leftovers) legitimately has zero rows — return 0 rather than
    // throw. A WRONG path still fails loud: getFileStatus above raises
    // FileNotFoundException before we get here.
    files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(f, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getRecordCount finally reader.close()
    }.sum
  }
}
