package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * Tuned for the test harness (`local[N]`, N from SPARK_GRAFT_CPUS) but every
  * setting is the one you'd ship to a 1000-executor cluster, with
  * `shuffle.partitions` sized to cores (cluster: 2-3x total cores):
  * AQE (runtime coalescing + skew-join splitting), broadcast joins for dims,
  * UTC session time.
  *
  * Spark's generated-code cache holds [[CodegenCacheEntries]] classes
  * instead of its default 100. The graftbench working sets are ~127
  * distinct classes for llm_curate and fewer than 100 for crawl_refresh;
  * one sf0.001 `graft.Bench` run over every registered query compiles
  * ~1,130 with an unbounded cache. At 100 entries (four LRU segments of
  * 25) every steady-state llm_curate pass recompiled 84-99 classes of
  * identical source. `spark.sql.codegen.cache.maxEntries` is a static
  * conf, and the cache is JVM-wide and sized once, from the active
  * session's conf, when Spark first generates code: the setting takes
  * effect only when this builder creates the JVM's first session, and
  * `getOrCreate` on an existing session ignores it.
  *
  * Spark's live status stores (SQL executions, jobs, stages, tasks per
  * stage) fill even with the UI off, and by default keep 1,000 / 1,000 /
  * 1,000 / 100,000 entries: a long-lived session retained ~1.1 MB of
  * driver heap per llm_curate pass. Nothing in graft reads them, so
  * [[StatusStoreCaps]] keeps a few passes' worth.
  */
object GraftSession {

  /** Codegen cache capacity: the whole registered suite with headroom for
    * the cache's four-segment split.
    */
  val CodegenCacheEntries = 2048

  /** Caps on the live status stores (static confs, read when the
    * SparkContext starts): about two llm_curate passes of executions,
    * jobs and stages (7, 30 and 50 per pass at sf0.001), and tasks per
    * stage.
    */
  val StatusStoreCaps: Seq[(String, Long)] = Seq(
    "spark.sql.ui.retainedExecutions" -> 16L,
    "spark.ui.retainedJobs" -> 64L,
    "spark.ui.retainedStages" -> 128L,
    "spark.ui.retainedTasks" -> 256L)

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession
      .builder()
      .appName(appName)
    // Respect an externally-provided master (spark-submit / cluster); only
    // fall back to local[N] for the bare-JVM test harness.
    if (!sys.props.contains("spark.master") && !sys.env.contains("SPARK_MASTER"))
      b.master(s"local[$cpus]")
    StatusStoreCaps.foreach { case (k, v) => b.config(k, v) }
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      // The driver-generated events.parquet stores ts as INT64
      // TIMESTAMP(NANOS); Spark 4.x refuses that physical type unless it is
      // read as a raw long (Tables.events converts nanos -> TimestampType
      // once at the loader boundary).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
