package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materialize a K×-scaled twin of a testdata scale-factor directory so the
  * FULL Bench suite can run at an sf1-equivalent size (every table is
  * written, so every query scales). Usage:
  * `runMain graft.ReplicateSf <srcDir> <dstDir> <k>`.
  *
  * Replicas are key-shifted so join/group keys stay distinct and
  * DECORRELATED — document words get a per-replica suffix and embeddings
  * are rotated — so similarity structure grows linearly (each replica
  * holds its own dups; no cross-replica pairs). Dimension tables (region,
  * nation) are copied as-is: scaling facts against fixed dims is exactly
  * the 100 TB shape (a dim that fits in a broadcast at sf0.1 still does at
  * sf1000).
  */
object ReplicateSf {
  def main(args: Array[String]): Unit = {
    val Array(src, dst, kStr) = args.take(3)
    val k = kStr.toInt
    val spark = GraftSession.get("graft-replicate-sf")

    val Shift = 10000000L

    def replicate(name: String)(mk: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$name.parquet")
      val out = (0 until k).map(r => mk(base, r)).reduce(_ unionByName _)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: ${out.count()} rows")
    }
    def copy(name: String): Unit = {
      spark.read.parquet(s"$src/$name.parquet")
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"$name: copied")
    }

    replicate("documents") { (df, r) =>
      // Replica 0 is VERBATIM; replicas 1..k−1 suffix every word so they
      // share zero n-grams with each other and with replica 0 (the
      // decorrelation — similarity structure grows linearly, no
      // cross-replica pairs). Keeping one verbatim replica preserves the
      // fixed query VOCABULARY: search_bm25/search_match/multi_match terms
      // still hit replica-0 docs, so the ×K twins compare non-empty search
      // results (at ×100 the suffixed form compared 0 = 0 rows — an
      // agreement, not evidence).
      val text =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1r$r")
      df.select(
        (col("doc_id") + lit(r * Shift)).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicate("embeddings") { (df, r) =>
      val v = col("embedding")
      // Decorrelation must hold at ANY k: rotations alone cycle after
      // dim=64 replicas (the original r%16 scheme silently aliased
      // replicas 16 apart at k>16, planting spurious cross-replica
      // cosine-1 pairs), so replicas 64..127 additionally NEGATE the
      // rotated vector — an aliased rotation then lands at cosine −1,
      // the far side of every similarity threshold. k ≤ 128 replicas
      // stay pairwise non-identical; the generator refuses beyond that
      // rather than quietly re-correlating.
      require(k <= 128, s"embedding decorrelation supports k <= 128, got $k")
      val rot = r % 64
      val rotated =
        if (rot == 0) v
        else concat(slice(v, rot + 1, 64 - rot), slice(v, 1, rot))
      val decorrelated =
        if (r < 64) rotated
        else transform(rotated, x => -x) // one-off generator, not a query path
      df.select(
        (col("vec_id") + lit(r * Shift)).as("vec_id"),
        decorrelated.as("embedding"),
        col("label"))
    }
    replicate("events") { (df, r) =>
      df.select(
        (col("event_id") + lit(r * Shift)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(r * Shift)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    replicate("orders") { (df, r) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(r * Shift))
        .withColumn("o_custkey", col("o_custkey") + lit(r * Shift))
    }
    replicate("customer") { (df, r) =>
      df.withColumn("c_custkey", col("c_custkey") + lit(r * Shift))
    }
    replicate("lineitem") { (df, r) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(r * Shift))
        .withColumn("l_partkey", col("l_partkey") + lit(r * 1000000L))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * 100000L))
    }
    replicate("part") { (df, r) =>
      df.withColumn("p_partkey", col("p_partkey") + lit(r * 1000000L))
    }
    replicate("supplier") { (df, r) =>
      df.withColumn("s_suppkey", col("s_suppkey") + lit(r * 100000L))
    }
    copy("nation")
    copy("region")
    spark.stop()
  }
}
