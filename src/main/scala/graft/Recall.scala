package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Recall-tracking main: measures the approximate operators' recall
  * against their exact counterparts and writes one JSON record
  * (`RECALL.json`, plus the same line on stdout) so recall trends across
  * rounds as a diff — the spec assertions (AnnOpsSpec / DedupOpsSpec)
  * gate on fixed thresholds and would hide a drift from, say, 0.94 to
  * 0.72 as a still-above-threshold pass.
  *
  * FLOOR POLICY: every floor is PER-SCALE where the measured record is —
  * a single small-scale number silently breaking at the third decade is
  * exactly what round 19's ann_lsh miss looked like. Floors live next to
  * the operators they gate (`AnnOps.annLshFloor` keys on the corpus-sized
  * bucket width) and THIS MAIN EXITS NON-ZERO on any miss at the scale it
  * ran, so a breach fails the round battery loudly instead of sitting in
  * a green record.
  *
  * Families measured (same parameters as their specs):
  *  - `ann_lsh`: lshTopK recall@10 vs bruteTopK at the registered
  *    corpus-sized width; floor = `AnnOps.annLshFloor(bits)` (0.9 through
  *    13-bit widths — measured 1.0 / 0.94 / 0.95 — stepping to 0.8 at
  *    wider widths where the three-ring probed mass decays: measured
  *    0.823 at the 15-bit third decade; the 100 TB path is IVF-PQ, LSH is
  *    the hyperplane alternative);
  *  - `ann_ivf2` (REGISTERED config): the two-level quantizer at the
  *    gate's corpus-sized parameters, trained ONCE, plus the per-nprobeF
  *    recall/wall curve (4/8/16/32). Trend only, stated honestly: at
  *    fixed candidate volume recall on this NEAR-RANDOM synthetic corpus
  *    necessarily decays as the corpus grows (no cluster structure for
  *    the quantizer to exploit — the worst case for any sublinear ANN);
  *  - `ann_ivfpq`: recall@10 of the registered RESIDUAL composition and
  *    of the r19 raw-codebook composition at identical bytes (trend: the
  *    residual lift Jégou §IV predicts — measured 0.28 → 0.42 at sf0.01).
  *    The IVF, IVF-PQ and PQ floors live in the test-side planted-cluster
  *    spec (AnnRecallSpec), where each query's exact top-10 is known and
  *    a floor measures the quantizer rather than this corpus's lack of
  *    structure;
  *  - `dedup_semantic`: planted-duplicate recall with floor 1.0 (cos=1
  *    pairs share a centroid by construction). The planted set needs NO
  *    quadratic all-pairs reference — it is known by construction as
  *    (id, id+plantedOffset) for id % 11 == 0 — so this floor is enforced
  *    at EVERY scale including the big twins where GRAFT_RECALL_ANN_ONLY
  *    skips only the exact tau-pair reference (sem_pair_recall, the one
  *    number that genuinely needs all-pairs).
  */
object Recall {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption
      .orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.01")
    val spark: SparkSession = GraftSession.get("graft-recall")

    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    val vecs = operators.AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val exactTopK = pairSet(operators.AnnOps.bruteTopK(vecs, queries, k = 10)
      .select("query_id", "neighbor_id"))
    // the REGISTERED configuration: corpus-sized bucket width, same as
    // qAnnLsh — the floor must track what the gate query actually runs
    val lshBits = operators.AnnOps.annLshBits(
      Tables.rowCountFromFooters(spark, sfDir, "embeddings"))
    val lshFloor = operators.AnnOps.annLshFloor(lshBits)
    val lsh = pairSet(operators.AnnOps.lshTopK(vecs, queries, k = 10, bits = lshBits)
      .select("query_id", "neighbor_id"))
    // -1.0 = undefined (empty denominator on a degenerate corpus) — kept
    // finite so RECALL.json stays valid JSON (bare NaN/Infinity is not)
    def ratio(hit: Int, total: Int): Double =
      if (total == 0) -1.0 else hit.toDouble / total
    val lshRecall = ratio(lsh.intersect(exactTopK).size, exactTopK.size)

    // Registered two-level config + the nprobeF recall/wall curve: the
    // default must be chosen from data, not convention. The quantizer
    // trains ONCE — training cost is constant across nprobeF, so folding
    // it into every point would drown the probe-cost signal the curve
    // exists to show; it lands as its own train_wall_s field instead.
    // Each point then runs the SAME query set against the shared index
    // and times only the probe+rerank action.
    val ops = operators.AnnOps
    val n = Tables.rowCountFromFooters(spark, sfDir, "embeddings")
    val tTrain0 = System.nanoTime()
    val idx2 = ops.ivf2Train(vecs, n, ops.IvfCellTarget)
    val ivfTrainWall = (System.nanoTime() - tTrain0) / 1e9
    val cprobe = ops.ivf2Cprobe(ops.ivf2Ncoarse(n))
    val nprobeF = ops.ivf2NprobeF(ops.IvfCellTarget)
    val ivf2 = pairSet(ops.ivf2ProbeTopK(vecs, queries, k = 10, idx2,
      cprobe, nprobeF).select("query_id", "neighbor_id"))
    val ivf2Recall = ratio(ivf2.intersect(exactTopK).size, exactTopK.size)
    val ivfCurve = Seq(4, 8, 16, 32).map { np =>
      val t0 = System.nanoTime()
      val pairs = pairSet(ops.ivf2ProbeTopK(vecs, queries, k = 10, idx2,
        cprobe, nprobeF = np).select("query_id", "neighbor_id"))
      val wall = (System.nanoTime() - t0) / 1e9
      (np, ratio(pairs.intersect(exactTopK).size, exactTopK.size), wall)
    }

    // IVF-PQ at identical 4 bytes/vector: the registered residual
    // composition vs the raw-codebook one — the Jégou §IV lift as a
    // standing trend, on the SAME trained two-level index.
    val ivfpqRes = pairSet(ops.ivfpqTopK(vecs, queries, k = 10, idx2,
      ops.ivfpqBooks(vecs, idx2), cprobe, nprobeF)
      .select("query_id", "neighbor_id"))
    val ivfpqRaw = pairSet(ops.ivfpqTopK(vecs, queries, k = 10, idx2,
      ops.pqCodebooks(vecs), cprobe, nprobeF, residual = false)
      .select("query_id", "neighbor_id"))
    val ivfpqResRecall = ratio(ivfpqRes.intersect(exactTopK).size, exactTopK.size)
    val ivfpqRawRecall = ratio(ivfpqRaw.intersect(exactTopK).size, exactTopK.size)

    // SemDeDup: the planted reference is known BY CONSTRUCTION — ids with
    // vec_id % 11 == 0 (nonzero vectors: a zero vector has no cosine and
    // both engines exclude it by design) pair with id + plantedOffset at
    // cos = 1 — so planted recall needs no all-pairs baseline and runs at
    // every scale. GRAFT_RECALL_ANN_ONLY skips only the exact tau-pair
    // reference (quadratic by definition, unaffordable at the ×100 twin).
    val annOnly = sys.env.contains("GRAFT_RECALL_ANN_ONLY")
    val planted = operators.DedupOps.plantedEmbeddings(spark, sfDir)
    val off = operators.DedupOps.plantedOffset(n)
    val plantedPairs = vecs
      .filter(col("vec_id") % 11 === 0 &&
        graft.functions.VectorFns.dot_product(col("v"), col("v")) > 0.0)
      .select(col("vec_id"), (col("vec_id") + off).as("clone_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val semPairs = pairSet(operators.DedupOps.semanticDedupPairs(planted,
      tau = 0.95, nOverride = Some(n * 12L / 11L)).select("id1", "id2"))
    val exactPairs = if (annOnly) Set.empty[(Long, Long)] else
      pairSet(operators.DedupOps.embeddingPairs(planted, tau = 0.95)
      .select("id1", "id2"))
    val semPlantedRecall =
      ratio(plantedPairs.intersect(semPairs).size, plantedPairs.size)
    val semPairRecall =
      if (annOnly) -1.0 else ratio(semPairs.intersect(exactPairs).size, exactPairs.size)
    val semSubsetOk = annOnly || semPairs.subsetOf(exactPairs)

    // Floor enforcement — the fail-loud contract. A -1.0 (undefined on a
    // degenerate corpus) is not a miss.
    val misses = Seq(
      ("ann_lsh", lshRecall, lshFloor),
      ("sem_planted", semPlantedRecall, 1.0)
    ).filter { case (_, r, f) => r >= 0.0 && r < f }

    def fnum(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val record =
      s"""{"sf":"$sfDir","k":10,"n_queries":${queries.count()},""" +
      s""""ann_lsh_recall":${fnum(lshRecall)},"ann_lsh_floor":$lshFloor,""" +
      s""""ann_lsh_bits":$lshBits,""" +
      s""""ann_ivf2_recall":${fnum(ivf2Recall)},""" +
      s""""ann_ivf2_cprobe":$cprobe,"ann_ivf2_nprobef":$nprobeF,""" +
      s""""ann_ivf2_cells":${idx2.totalCells},""" +
      s""""ann_ivf2_train_wall_s":${fnum(ivfTrainWall)},""" +
      s""""ann_ivf2_curve":[""" + ivfCurve.map { case (np, r, w) =>
        s"""{"nprobef":$np,"recall":${fnum(r)},"wall_s":${fnum(w)}}"""
      }.mkString(",") + "]," +
      s""""ann_ivfpq_recall":${fnum(ivfpqResRecall)},""" +
      s""""ann_ivfpq_raw_recall":${fnum(ivfpqRawRecall)},""" +
      s""""exact_topk_pairs":${exactTopK.size},""" +
      s""""sem_planted_recall":${fnum(semPlantedRecall)},"sem_planted_floor":1.0,""" +
      s""""sem_pair_recall":${fnum(semPairRecall)},""" +
      s""""sem_subset_ok":$semSubsetOk,""" +
      s""""exact_tau_pairs":${if (annOnly) -1 else exactPairs.size},""" +
      s""""planted_pairs":${plantedPairs.size},""" +
      s""""floor_misses":[${misses.map(m => s""""${m._1}"""").mkString(",")}]}"""
    // GRAFT_RECALL_OUT lets the sf0.1 sweep land as its own standing
    // record (RECALL_sf0.1.json) without clobbering the canonical sf0.01
    // RECALL.json the round recipe refreshes.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(
        sys.env.getOrElse("GRAFT_RECALL_OUT", "RECALL.json")),
      record.getBytes("UTF-8"))
    System.err.flush()
    println(record)
    spark.stop()
    if (misses.nonEmpty) {
      System.err.println(s"[recall] FLOOR MISS: " + misses.map {
        case (name, r, f) => s"$name ${fnum(r)} < $f"
      }.mkString("; "))
      sys.exit(1)
    }
  }
}
