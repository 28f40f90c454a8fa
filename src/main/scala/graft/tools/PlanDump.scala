package graft.tools

import graft.{GraftSession, SparkEntry}

/** Writes `.explain("formatted")` output for named registered queries to
  * files — the plan evidence the optimization rounds commit under
  * plans/<round>/. Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> <q1>[,<q2>...]
  * writes <outDir>/<query>_<suffix>.txt per query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qnames) = args.take(4)
    val spark = GraftSession.get("graft-plandump")
    // A dump must show every field: at Spark's default (25) a long literal
    // such as semantic_search's stub embedding is cut to "... N more
    // fields", which can hide a difference between two dumps. Set here
    // rather than in GraftSession, where it would lengthen every explain
    // string Spark posts.
    spark.conf.set("spark.sql.debug.maxToStringFields", Int.MaxValue.toString)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qnames.split(",").foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"PLAN $n -> $outDir/${n}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
