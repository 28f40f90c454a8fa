package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Dataset, SparkSession}

/** Test scope for reliable-checkpoint mode on the shared SparkContext.
  * [[Checkpoints]] picks its mode from the context's checkpoint dir, so a
  * dir left behind would flip every later suite into reliable mode. The
  * scope sets a fresh temp dir, and on exit clears it again through the
  * `private[spark]` setter (which is why this lives in Spark's package)
  * and deletes the files.
  */
object ReliableCheckpoints {
  def apply[T](spark: SparkSession)(body: => T): T = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty, "the context already has a checkpoint dir")
    val root = java.nio.file.Files.createTempDirectory("graft-ckpt").toFile
    try {
      sc.setCheckpointDir(root.toString)
      body
    } finally {
      sc.checkpointDir = None
      org.apache.commons.io.FileUtils.deleteDirectory(root)
    }
  }

  /** Ids of the RDDs that have an `rdd-<id>` directory under the current
    * checkpoint dir.
    */
  def onDisk(spark: SparkSession): Set[Int] = {
    val dir = new Path(spark.sparkContext.getCheckpointDir.get)
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath.getName).collect { case s"rdd-$id" => id.toInt }.toSet
  }

  /** Ids of the checkpointed leaves of the Dataset's plan. */
  def leaves(ds: Dataset[_]): Set[Int] = Checkpoints.rdds(ds).map(_.id).toSet
}
