package org.apache.spark.sql.graftbridge

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Counts the SQL executions that start while a block runs. The listener
  * bus is drained through its `private[spark]` handle (which is why this
  * lives in Spark's package) before the block, so that no earlier start
  * is counted, and after it, so that every start of the block is seen.
  * Every thread's executions count, so the block must be the only Spark
  * work running.
  */
object SqlExecCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val starts = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => starts.incrementAndGet()
        case _ =>
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.listenerBus.waitUntilEmpty()
      (out, starts.get)
    } finally sc.removeSparkListener(listener)
  }
}
