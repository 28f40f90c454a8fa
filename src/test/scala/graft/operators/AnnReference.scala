package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Plain-Scala references for the ANN specs: the inverse of
  * `AnnOps.quantizeEmbeddings`, a driver-side Lloyd trainer that the
  * Spark quantizers must equal bit for bit, and a planted-cluster corpus
  * whose exact neighbors are known by construction.
  */
object AnnReference {

  /** Members per planted cluster: k + 1 at k = 10, so a member's exact
    * top-10 (self excluded) is its own cluster.
    */
  val PlantedClusterSize = 11

  /** Write `<dir>/embeddings.parquet` in the corpus schema (vec_id,
    * embedding array<float> of 64 dims, label) with `clusters` planted
    * clusters: cluster c holds vec_ids 11c .. 11c + 10 and is labelled c.
    * A member is its cluster's center plus per-member noise of amplitude
    * `noise`;
    * each center component is a uniform [-1, 1) draw from xxhash64 of
    * (c, dim), each noise component one from xxhash64 of (vec_id, dim,
    * "noise"). Every row is a pure function of its id, so the table is
    * the same under any partitioning, and no plan carries its data.
    */
  def writePlantedClusters(spark: SparkSession, dir: String, clusters: Int,
      noise: Double): Unit = {
    // top 53 bits of the hash as a double in [0, 2), shifted to [-1, 1)
    def uniform(h: Column): Column =
      shiftrightunsigned(h, 11).cast("double") * lit(math.pow(2, -52)) - lit(1.0)
    spark.range(clusters.toLong * PlantedClusterSize)
      .select(col("id").as("vec_id"), (col("id") / PlantedClusterSize).cast("long").as("c"))
      .select(col("vec_id"), col("c").cast("int").as("label"),
        array((0 until 64).map { d =>
          uniform(xxhash64(col("c"), lit(d))) +
            lit(noise) * uniform(xxhash64(col("vec_id"), lit(d), lit("noise")))
        }: _*).cast("array<float>").as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** Dequantize back to doubles: v_i ≈ code_i × scale / 127. */
  def dequantizeEmbeddings(df: DataFrame): DataFrame =
    df.withColumn("v_deq",
      transform(col("q_codes"), c => c.cast("double") * col("q_scale") / lit(127.0)))

  /** Seed order key: Spark's `xxhash64` of a long column (seed 42), then
    * the id.
    */
  def hashOrder(id: Long): (Long, Long) =
    (XxHash64Function.hash(id, LongType, 42L), id)

  /** Index of the first maximal dot product of `x` against `cents` —
    * ascending-index accumulation from 0.0, first max wins.
    */
  def nearest(x: Array[Double], cents: IndexedSeq[Array[Double]]): Int = {
    val dots = cents.map { c =>
      var d = 0.0
      var i = 0
      while (i < math.min(x.length, c.length)) { d += x(i) * c(i); i += 1 }
      d
    }
    dots.indices.foldLeft(0)((best, j) => if (dots(j) > dots(best)) j else best)
  }

  /** Lloyd over `points` (vec_id, vector), one group:
    *  - seeds: the `k` points first in [[hashOrder]];
    *  - assignment: first-max dot; with `euclid`, the vector gains a
    *    trailing 1.0 and each centroid a trailing −‖c‖²/2 (argmin L2);
    *  - update: members in vec_id order, component-wise left fold from
    *    0.0, one division by the member count. A centroid that draws no
    *    member is dropped; the survivors keep their order.
    */
  def lloyd(points: Seq[(Long, Array[Double])], k: Int, iters: Int,
      euclid: Boolean): IndexedSeq[Array[Double]] = {
    val dim = points.head._2.length
    var cents = points
      .sortBy { case (id, _) => hashOrder(id) }
      .take(k).map(_._2).toIndexedSeq
    for (_ <- 0 until iters) {
      val mats =
        if (!euclid) cents
        else cents.map(c => c :+ -(0.5 * c.foldLeft(0.0)((n, x) => n + x * x)))
      val cells = points.groupBy { case (_, v) =>
        nearest(if (euclid) v :+ 1.0 else v, mats)
      }
      cents = cells.toIndexedSeq.sortBy(_._1).map { case (_, members) =>
        val sum = members.sortBy(_._1).foldLeft(Array.fill(dim)(0.0)) {
          case (acc, (_, v)) => acc.zip(v).map { case (a, b) => a + b }
        }
        sum.map(_ / members.size)
      }
    }
    cents
  }
}
