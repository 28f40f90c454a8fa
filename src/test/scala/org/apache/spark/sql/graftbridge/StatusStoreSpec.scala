package org.apache.spark.sql.graftbridge

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.{GraftSession, SparkEntry, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.{SQLExecutionUIData, SparkListenerSQLExecutionStart}
import org.apache.spark.status.{ElementTrackingStore, JobDataWrapper, StageDataWrapper}

/** A long-lived session's status stores stay within [[GraftSession]]'s
  * caps. The store and its cleanup worker are `private[spark]` (which is
  * why this lives in Spark's package).
  */
class StatusStoreSpec extends SparkSpec {

  test("repeated llm_curate passes keep the status stores within the caps") {
    val sc = spark.sparkContext
    val (execs, jobs, stages) = (new AtomicInteger, new AtomicInteger, new AtomicInteger)
    val listener = new SparkListener {
      // a job records every stage it names, the skipped ones too
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        stages.addAndGet(e.stageInfos.size)
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => execs.incrementAndGet()
        case _ =>
      }
    }
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(listener)
    try {
      for (_ <- 1 to 3; q <- Seq("dedup_exact", "dedup_cluster", "sample_bottomk", "ann_ivf_index"))
        SparkEntry.queries(q)(spark, sfDir).write.format("noop").mode("overwrite").save()
      sc.listenerBus.waitUntilEmpty()
    } finally sc.removeSparkListener(listener)
    // the store trims itself on its single worker thread; a task queued
    // behind the pending trims runs once they are done
    val store = sc.statusStore.store.asInstanceOf[ElementTrackingStore]
    val trimmed = new CountDownLatch(1)
    store.doAsync(trimmed.countDown())
    assert(trimmed.await(60, TimeUnit.SECONDS))
    val caps = GraftSession.StatusStoreCaps.toMap
    for ((what, started, kept, cap) <- Seq(
        ("executions", execs.get, store.count(classOf[SQLExecutionUIData]),
          caps("spark.sql.ui.retainedExecutions")),
        ("jobs", jobs.get, store.count(classOf[JobDataWrapper]), caps("spark.ui.retainedJobs")),
        ("stages", stages.get, store.count(classOf[StageDataWrapper]), caps("spark.ui.retainedStages")))) {
      info(s"$what: $started started, $kept kept, cap $cap")
      assert(started > cap, s"$what: $started started never reach the cap $cap")
      assert(kept <= cap, s"$what: $kept kept over the cap $cap")
    }
  }
}
