package graft

import org.apache.spark.sql.graftbridge.CompileCount

/** The codegen cache holds the benchmark workloads' working set: once
  * every class a query needs has been compiled, running the query again
  * generates identical source and compiles nothing. Spark's default
  * capacity (100 entries) cannot hold the nine queries together, so a
  * second run recompiles classes the first one already compiled.
  */
class CodegenCacheSpec extends SparkSpec {

  // graftbench's crawl_refresh and llm_curate queries, in workload order
  private val workloadQueries = Seq(
    "frontier_bloom", "warc_parse", "main_text_blocks", "norm_strip_selectors",
    "es_bulk_format",
    "dedup_exact", "dedup_cluster", "sample_bottomk", "ann_ivf_index")

  private def runAll(): Unit = workloadQueries.foreach { q =>
    SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
  }

  test("a second run of the nine workload queries compiles no new classes") {
    val (_, first) = CompileCount(runAll())
    val (_, second) = CompileCount(runAll())
    assert(second == 0, s"second run compiled $second classes (first run: $first)")
  }
}
