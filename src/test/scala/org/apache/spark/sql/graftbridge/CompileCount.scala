package org.apache.spark.sql.graftbridge

import org.apache.spark.metrics.source.CodegenMetrics

/** Counts the generated classes Janino compiles while a block runs: the
  * delta of the JVM-wide compilation-time histogram's sample count
  * (`CodegenMetrics` is `private[spark]`, which is why this lives in
  * Spark's package). Every thread's compiles count, so the block must be
  * the only Spark work running.
  */
object CompileCount {
  def apply[T](body: => T): (T, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val out = body
    (out, compiles.getCount - before)
  }
}
