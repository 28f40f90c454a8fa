package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Inverse of `AnnOps.quantizeEmbeddings`, used by `AnnOpsSpec` to rank on
  * the int8 codes and compare against the exact ranking.
  */
object AnnReference {

  /** Dequantize back to doubles: v_i ≈ code_i × scale / 127. */
  def dequantizeEmbeddings(df: DataFrame): DataFrame =
    df.withColumn("v_deq",
      transform(col("q_codes"), c => c.cast("double") * col("q_scale") / lit(127.0)))
}
