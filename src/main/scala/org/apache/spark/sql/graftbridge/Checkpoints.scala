package org.apache.spark.sql.graftbridge

import org.apache.spark.rdd.{RDD, ReliableRDDCheckpointData}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.LogicalRDD

/** The one place graft truncates lineage and frees what that stored.
  *
  * The mode follows the SparkContext's checkpoint dir, so the caller's
  * Spark config decides it. With no dir (the default, and every
  * single-JVM session) a checkpoint is a `localCheckpoint`. Its blocks live
  * in executor storage and are lost with the executor. With a dir, set
  * through `spark.checkpoint.dir` or `SparkContext.setCheckpointDir`, it is
  * a reliable checkpoint written under that dir, which survives executor
  * loss on a cluster.
  */
object Checkpoints {
  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Checkpoint `ds`. `eager` is honoured on the local path only: a
    * reliable checkpoint is always eager. A lazy one writes its files in a
    * second job after the consuming action and so computes the plan twice.
    */
  def apply[T](ds: Dataset[T], eager: Boolean = true): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isEmpty) ds.localCheckpoint(eager)
    else ds.checkpoint(eager = true)

  /** Compute every partition of `ds` and return its row count. Over a
    * checkpoint, or a narrow plan on one (a filter, a projection), this is
    * ONE job, and for a lazy checkpoint it is the action that materializes
    * it. `Dataset.count()` plans a partial + final aggregate across an
    * exchange, which AQE runs as two jobs; counting the rows of the
    * executed RDD needs no shuffle.
    */
  def materialize(ds: Dataset[_]): Long = ds.queryExecution.toRdd.count()

  /** The RDDs behind every checkpointed leaf of the Dataset's plan. Spark
    * wraps a checkpoint in a `LogicalRDD` leaf and exposes no public way
    * to free its storage deterministically: `Dataset.unpersist` only talks
    * to the CacheManager, and the ContextCleaner frees the blocks only
    * after GC collects the plan, an unbounded delay on a long-lived
    * session.
    */
  def rdds(ds: Dataset[_]): Seq[RDD[InternalRow]] =
    ds.queryExecution.analyzed.collect {
      case lr: LogicalRDD if lr.rdd.checkpointData.isDefined => lr.rdd
    }

  /** Free the storage of every checkpointed leaf in the plan: the local
    * blocks, and for reliable leaves their `rdd-<id>` directory too.
    * Checkpoint lineage is truncated, so a later action on ANY Dataset
    * that shares one of these leaves fails instead of recomputing — call
    * it only once everything derived from them is dead. Each leaf must be
    * materialized already. Local blocks go through `sc.unpersistRDD`,
    * which skips `RDD.unpersist`'s per-RDD "cannot be recomputed" warning.
    */
  def release(ds: Dataset[_]): Unit = {
    val sc = ds.sparkSession.sparkContext
    val leaves = rdds(ds)
    leaves.foreach { rdd =>
      assert(rdd.isCheckpointed, s"RDD ${rdd.id} released before its checkpoint materialized")
      sc.unpersistRDD(rdd.id, blocking = false)
      if (rdd.isReliablyCheckpointed) ReliableRDDCheckpointData.cleanCheckpoint(sc, rdd.id)
    }
    if (leaves.nonEmpty)
      log.debug(s"released checkpoint RDDs ${leaves.map(_.id).mkString(",")}")
  }
}
