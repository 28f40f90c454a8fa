package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class AnnOpsSpec extends SparkSpec {

  test("embedding loads are physical-width portable: float32 and float64 parquet rank identically") {
    // The events table's physical-form drift cost round 11 its green board;
    // embeddings carry the same risk class — the driver writes list<float>
    // today, but a rewritten snapshot (or a driver change) could land
    // float64. The consumption boundary (AnnOps.corpus) element-casts to
    // double, which must make both forms rank IDENTICALLY: float32 values
    // widen exactly, so same instants-in, same ranks-out.
    val base = Tables.embeddings(spark, sfDir).limit(200)
    def tmp(tag: String): String =
      java.nio.file.Files.createTempDirectory(s"emb-$tag").toString
    val f32 = tmp("f32")
    base.write.mode("overwrite").parquet(s"$f32/embeddings.parquet")
    val f64 = tmp("f64")
    base.withColumn("embedding",
        transform(col("embedding"), x => x.cast("double")))
      .write.mode("overwrite").parquet(s"$f64/embeddings.parquet")
    // sanity: the two temp dirs really carry different physical widths
    import org.apache.spark.sql.types._
    def elemType(d: String): DataType =
      spark.read.parquet(s"$d/embeddings.parquet").schema("embedding")
        .dataType.asInstanceOf[ArrayType].elementType
    assert(elemType(f32) === FloatType && elemType(f64) === DoubleType)
    def run(d: String): Seq[(Long, Long, Long, Double)] =
      AnnOps.qAnnTopK(spark, d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(run(f32) === run(f64),
      "float32 and float64 embedding parquet must produce identical rankings")
  }

  test("lshTopK recall vs brute force beats random candidate selection") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val exact = AnnOps.bruteTopK(vecs, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the REGISTERED configuration (corpus-sized bucket width, like
    // qAnnLsh and Recall) — a floor on a config the gate doesn't run
    // would track nothing
    val bits = AnnOps.annLshBits(
      graft.Tables.rowCountFromFooters(spark, sfDir, "embeddings"))
    val approx = AnnOps.lshTopK(vecs, queries, k = 10, bits = bits)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"LSH recall@10 = $recall%.3f (${approx.size} approx pairs, ${exact.size} exact)")
    // This corpus's true top-10 neighbors sit at cosine ~0.3 (near-random
    // vectors) — the hard regime for sign-LSH. 8 tables at the corpus-
    // sized width with 1- and 2-bit multiprobe measures 1.0 here and at
    // sf0.01, 0.94 at sf0.1 (RECALL.json's three-scale sweep, round 18;
    // the round's sf10 probe is what forced corpus-sized widths) — the
    // pipeline is deterministic, so the floor tracks the worst measured
    // point (0.94) with a small regeneration margin, not the old 0.7
    // bring-up value a 20-point regression could hide under.
    assert(recall >= 0.9, s"LSH recall $recall below 0.9 (found ${approx.size} pairs)")
  }

  test("lshTopK always finds an exact duplicate (identical buckets in every table)") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val clone = vecs.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("label"), col("v"))
    val got = AnnOps.lshTopK(vecs.unionByName(clone), clone, k = 1).collect()
    assert(got.length === 1 && got(0).getAs[Long]("neighbor_id") === 0L)
    assert(got(0).getAs[Double]("cos_sim") === 1.0)
  }

  test("corpus smaller than k returns every corpus row per query, no errors") {
    // the k > |corpus| boundary: top-k must degrade to "all neighbors",
    // identically for brute force and every ANN path
    // every path excludes the query's self-match (queries are corpus
    // members by construction), so k=10 over a 3-vector corpus caps at 2
    val vecs = AnnOps.corpus(spark, sfDir).filter(col("vec_id") < 3)
    val queries = vecs.filter(col("vec_id") === 0)
    def neighbors(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.collect().map(_.getAs[Long]("neighbor_id")).toSeq.sorted
    assert(neighbors(AnnOps.bruteTopK(vecs, queries, k = 10)) === Seq(1L, 2L))
    // full-width two-level IVF and IVF-PQ (every coarse and fine cell
    // probed) and the exhaustive PQ scan see every row → both other rows
    val (idx, residualBooks) = AnnOps.ivfpqTrainAll(vecs, 3L)
    val (cprobe, nprobeF) = (idx.coarse.size, idx.totalCells)
    assert(neighbors(AnnOps.ivf2ProbeTopK(vecs, queries, k = 10, idx, cprobe, nprobeF))
      === Seq(1L, 2L), "ivf2ProbeTopK")
    assert(neighbors(AnnOps.ivfpqTopK(vecs, queries, k = 10, idx, residualBooks,
      cprobe, nprobeF)) === Seq(1L, 2L), "ivfpqTopK")
    val books = AnnOps.pqCodebooks(vecs)
    assert(neighbors(AnnOps.pqAdcTopK(AnnOps.pqEncode(vecs, books), queries, books, k = 10))
      === Seq(1L, 2L), "pqAdcTopK")
    // LSH stays approximate even here: near-random vectors may share no
    // bucket with the query in any table — a subset of the exact result,
    // never more, and no error
    val lsh = AnnOps.lshTopK(vecs, queries, k = 10).collect()
    assert(lsh.length <= 2 &&
      lsh.map(_.getAs[Long]("neighbor_id")).toSet.subsetOf(Set(1L, 2L)))
  }

  test("brute-force top-1 of a planted duplicate is the duplicate itself") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val spark2 = spark
    import spark2.implicits._
    // plant an exact copy of vec 0 with id 99999
    val clone = vecs.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("label"), col("v"))
    val exact = AnnOps.bruteTopK(vecs.unionByName(clone), clone, k = 1).collect()
    assert(exact.length === 1)
    assert(exact(0).getAs[Long]("neighbor_id") === 0L)
    assert(exact(0).getAs[Double]("cos_sim") === 1.0)
  }

  test("nearestCentroid expression agrees with the Lloyd min_by assignment") {
    import graft.functions.VectorFns.dot_product
    val vecs = AnnOps.corpus(spark, sfDir)
    val cents = AnnOps.ivf2Train(vecs, vecs.count(), AnnOps.IvfCellTarget).coarse
    val spark2 = spark
    import spark2.implicits._
    val centDf = cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("dense_cid", "cv")
    val viaJoin = vecs.crossJoin(broadcast(centDf))
      .groupBy("vec_id")
      .agg(min_by(col("dense_cid"),
        struct((-dot_product(col("v"), col("cv"))).as("d"), col("dense_cid"))).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaExpr = vecs
      .select(col("vec_id"), AnnOps.nearestCentroid(col("v"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaExpr === viaJoin, "expression argmin must equal join/min_by argmin")
  }

  test("persisted two-level IVF index reproduces the in-memory plan and prunes to probed cells") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val n = vecs.count()
    val (cprobe, nprobeF) =
      (AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n)), AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-index").toString
    try {
      AnnOps.ivf2SaveIndex(vecs, dir, n)
      val viaIndex = AnnOps.ivf2QueryIndex(spark, dir, queries, k = 10, cprobe, nprobeF)
      // training is deterministic, so a second ivf2Train yields the
      // bit-identical index the save path trained
      val direct = AnnOps.ivf2ProbeTopK(vecs, queries, k = 10,
        AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget), cprobe, nprobeF)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows(viaIndex) === rows(direct),
        "persisted-index query must equal the in-memory plan bit for bit")
      // The probe join must dynamically prune the cid partitions: the scan
      // plans only probed cell directories, not the whole inverted file.
      // sparkPlan (pre-AQE) — AdaptiveSparkPlanExec hides its subtree from collect
      val scan = viaIndex.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("inverted") => f
      }.head
      assert(scan.partitionFilters.exists(_.toString.toLowerCase.contains("dynamicpruning")),
        s"inverted-file scan must carry a dynamic pruning filter, got: ${scan.partitionFilters}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("persisted IVF-PQ index: bit-equal to in-memory, DPP-pruned, codes not vectors") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val n = vecs.count()
    val (cprobe, nprobeF) =
      (AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n)), AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget))
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-index").toString
    try {
      AnnOps.ivfpqSaveIndex(vecs, dir, n)
      val viaIndex = AnnOps.ivfpqQueryIndex(spark, dir, queries, k = 10, cprobe, nprobeF)
      // training is deterministic: a second train reproduces the saved
      // index + codebooks bit for bit
      val idx = AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget)
      val direct = AnnOps.ivfpqTopK(vecs, queries, k = 10, idx,
        AnnOps.ivfpqBooks(vecs, idx), cprobe, nprobeF)
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(rows(viaIndex) === rows(direct),
        "persisted IVF-PQ query must equal the in-memory composition bit for bit")
      // the inverted file must carry CODES only — no float vector column
      val invSchema = spark.read.parquet(s"$dir/inverted").schema.fieldNames.toSet
      assert(invSchema === Set("vec_id", "pq_codes", "cid"),
        s"coded inverted file must not persist vectors, got $invSchema")
      // and the probe must dynamically prune the cid partitions
      val scan = viaIndex.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.toString.contains("inverted") => f
      }.head
      assert(scan.partitionFilters.exists(_.toString.toLowerCase.contains("dynamicpruning")),
        s"coded inverted scan must carry a dynamic pruning filter, got: ${scan.partitionFilters}")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("residual IVF-PQ recall at identical bytes is at least the raw composition's") {
    // Jégou §IV: codes spent on the residual describe position-within-cell
    // instead of re-describing cell position — at the same 4 bytes/vector
    // the reconstruction is strictly finer-grained. Measured recall@10 of
    // both compositions against the exact ranking; the residual form must
    // not regress below raw (RECALL.json trends the actual lift).
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val n = vecs.count()
    val (cprobe, nprobeF) =
      (AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n)), AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget))
    val exact = AnnOps.bruteTopK(vecs, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val idx = AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget)
    def recallOf(residual: Boolean): Double = {
      val books =
        if (residual) AnnOps.ivfpqBooks(vecs, idx) else AnnOps.pqCodebooks(vecs)
      val got = AnnOps.ivfpqTopK(vecs, queries, k = 10, idx, books,
        cprobe, nprobeF, residual = residual)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      got.intersect(exact).size.toDouble / exact.size
    }
    val raw = recallOf(residual = false)
    val res = recallOf(residual = true)
    info(f"IVF-PQ recall@10 raw=$raw%.3f residual=$res%.3f (same 4 bytes/vector)")
    assert(res >= raw, s"residual recall $res must not regress below raw $raw")
  }

  test("NearestCentroidDyn kernel agrees with the literal NearestCentroid kernel") {
    // The two-level fine assignment rides the dynamic (matrix-as-column)
    // kernel; its argmax and tie semantics must be bit-equal to the
    // literal kernel the coarse level uses — same matrix in, same ids
    // out, including ±0.0 ties.
    val spark2 = spark
    import spark2.implicits._
    val vecs = AnnOps.corpus(spark, sfDir)
    val cents = AnnOps.ivf2Train(vecs, vecs.count(), AnnOps.IvfCellTarget).coarse
    val matDf = Seq(Tuple1(cents.map(_.toSeq))).toDF("mats")
    val viaDyn = vecs.crossJoin(broadcast(matDf))
      .select(col("vec_id"),
        graft.functions.VectorFns.nearest_centroid_dyn(col("v"), col("mats")).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaLit = vecs
      .select(col("vec_id"), AnnOps.nearestCentroid(col("v"), cents).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(viaDyn === viaLit, "dynamic and literal kernels must agree on every row")
  }

  test("ivf2Train is bit-identical under any input partitioning") {
    // The two-level trainer inherits the coarse Lloyd's determinism
    // contract: coarse + fine centroids must not move by a bit when the
    // corpus arrives in different partition layouts (the property the
    // DuckDB twins — and a 1000-executor cluster — rest on). A plain
    // double avg() in the Lloyd update fails this (scan-order accumulation).
    val vecs = AnnOps.corpus(spark, sfDir)
    val n = vecs.count()
    def bits(cs: Seq[Array[Double]]): Seq[Seq[Long]] =
      cs.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))
    def levels(df: org.apache.spark.sql.DataFrame): (Seq[Seq[Long]], Seq[(Int, Seq[Seq[Long]])]) = {
      val idx = AnnOps.ivf2Train(df, n, AnnOps.IvfCellTarget)
      (bits(idx.coarse), idx.fine.map { case (g, cs) => g -> bits(cs) })
    }
    val base = levels(vecs)
    assert(base._2.exists(_._2.size > 1),
      "sf corpus must exercise a genuinely multi-fine-cell index (k_g > 1)")
    assert(levels(vecs.repartition(3)) === base,
      "3-partition layout must not move a coarse or fine centroid bit")
    assert(levels(vecs.repartition(17, col("vec_id"))) === base,
      "17-partition key layout must not move a coarse or fine centroid bit")
    assert(levels(vecs.orderBy(desc("vec_id"))) === base,
      "reversed scan order must not move a coarse or fine centroid bit")
  }

  test("ivf2ProbeTopK always finds an exact duplicate") {
    // An identical vector shares both the coarse and fine cell of its
    // twin deterministically (same kernels, same dots), so even the
    // narrowest probe that includes the query's own cell finds it.
    val vecs = AnnOps.corpus(spark, sfDir)
    val clone = vecs.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("label"), col("v"))
    val all = vecs.unionByName(clone)
    val idx = AnnOps.ivf2Train(all, 501L, AnnOps.IvfCellTarget)
    val rows = AnnOps.ivf2ProbeTopK(all, clone, k = 1, idx,
      cprobe = 1, nprobeF = 1).collect()
    assert(rows.length === 1 && rows(0).getAs[Long]("neighbor_id") === 0L,
      "identical vector shares the query's own nearest cell even at nprobeF=1")
    assert(rows(0).getAs[Double]("cos_sim") === 1.0)
  }

  test("pqCodebooks: bit-deterministic, Euclidean assignment, codes in range") {
    val vecs = AnnOps.corpus(spark, sfDir)
    def bits(df: org.apache.spark.sql.DataFrame) =
      AnnOps.pqCodebooks(df).map(_.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits)))
    val base = bits(vecs)
    assert(bits(vecs.repartition(3)) === base,
      "PQ training must not move a bit under repartitioning")
    val books = AnnOps.pqCodebooks(vecs)
    val enc = AnnOps.pqReconError(AnnOps.pqEncode(vecs, books), books)
    val rows = enc.select("vec_id", "pq_codes", "recon_sqerr").collect()
    assert(rows.forall(_.getSeq[Int](1).forall(c => c >= 0 && c < 16)),
      "every code addresses its 16-entry codebook")
    assert(rows.forall(_.getDouble(2) >= 0.0), "squared error is non-negative")
    // Euclidean, not max-dot: a vector equal to a NEGATED codebook entry
    // must still pick the CLOSEST centroid, which max-dot would rank last.
    val spark2 = spark
    import spark2.implicits._
    val c0 = books(0)(0) // first subspace, first centroid
    val probe = Seq((1L, (c0 ++ Array.fill(56)(0.0)).toSeq)).toDF("vec_id", "v")
    val code = AnnOps.pqEncode(probe, books).select("pq_codes")
      .collect()(0).getSeq[Int](0)
    assert(code(0) === 0, "a vector AT centroid 0 encodes to code 0 (L2 argmin)")
  }

  test("pqAdcTopK recall vs exact ranking (compressed exhaustive search)") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val exact = AnnOps.bruteTopK(vecs, queries, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val books = AnnOps.pqCodebooks(vecs)
    val adc = AnnOps.pqAdcTopK(AnnOps.pqEncode(vecs, books), queries, books, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(adc).size.toDouble / exact.size
    info(f"PQ-ADC recall@10 = $recall%.3f (m=8, k=16 — 4 bytes/vector)")
    // 16x compression on a NEAR-RANDOM corpus is the hard regime for any
    // reconstruction-based scorer; the floor pins against regression, not
    // against the (documented) information loss of 4-bit codes
    assert(recall >= 0.2, s"PQ-ADC recall $recall below 0.2")
  }

  test("ivfpqTopK: probed-cells-only ADC agrees with full ADC on shared candidates") {
    // The RAW composition's contract (residual = false — pqAdcTopK has no
    // residual form to compare against): candidate generation narrows to
    // probed cells, scoring is IDENTICAL to the exhaustive ADC — so every
    // (query, neighbor) the composed path returns must carry the exact
    // score the full scan assigns it, and an identical planted vector
    // (same cell, same codes) must still surface at rank 1.
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0)
    val n = vecs.count()
    val idx = AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget)
    val books = AnnOps.pqCodebooks(vecs)
    val composed = AnnOps.ivfpqTopK(vecs, queries, k = 10, idx, books,
      AnnOps.ivf2Cprobe(AnnOps.ivf2Ncoarse(n)), AnnOps.ivf2NprobeF(AnnOps.IvfCellTarget),
      residual = false)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val full = AnnOps.pqAdcTopK(AnnOps.pqEncode(vecs, books), queries, books, k = 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(composed.nonEmpty)
    composed.foreach { case (pair, score) =>
      assert(full.get(pair).contains(score),
        s"composed score for $pair must equal the exhaustive ADC score")
    }
    val clone = vecs.filter(col("vec_id") === 0)
      .select(lit(99999L).as("vec_id"), col("label"), col("v"))
    val all = vecs.unionByName(clone)
    val idx2 = AnnOps.ivf2Train(all, n + 1, AnnOps.IvfCellTarget)
    // registered (residual) form: an identical vector shares the cell,
    // hence the fine centroid, hence the residual — and so the codes
    val books2 = AnnOps.ivfpqBooks(all, idx2)
    val hit = AnnOps.ivfpqTopK(all, clone, k = 1, idx2, books2,
      cprobe = 1, nprobeF = 1).collect()
    assert(hit.length === 1 && hit(0).getAs[Long]("neighbor_id") === 0L,
      "an identical vector shares cell AND codes — rank 1 even at nprobeF=1")
  }

  test("pqEncode gives identical codes to identical vectors (dedup-stable compression)") {
    val vecs = AnnOps.corpus(spark, sfDir)
    val books = AnnOps.pqCodebooks(vecs)
    val clone = vecs.filter(col("vec_id") === 3)
      .select(lit(99999L).as("vec_id"), col("label"), col("v"))
    val both = AnnOps.pqEncode(vecs.unionByName(clone), books)
      .filter(col("vec_id").isin(3L, 99999L))
      .select("pq_codes").collect().map(_.getSeq[Int](0))
    assert(both.length === 2 && both(0) === both(1))
  }

  test("hyperplanes are deterministic across invocations") {
    val a = AnnOps.hyperplanes(2, 4, 8)
    val b = AnnOps.hyperplanes(2, 4, 8)
    assert(a.flatten.flatten == b.flatten.flatten)
  }

  test("quantizeEmbeddings: top-k on dequantized int8 codes tracks the exact ranking") {
    import org.apache.spark.sql.functions._
    val vecs = AnnOps.corpus(spark, sfDir)
    val queries = vecs.filter(col("vec_id") % 100 === 0).limit(8)
    val k = 10
    val exact = AnnOps.bruteTopK(vecs, queries, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val deq = AnnReference.dequantizeEmbeddings(
      AnnOps.quantizeEmbeddings(vecs, "v"))
      .select(col("vec_id"), col("v_deq").as("v"))
    val qdeq = AnnReference.dequantizeEmbeddings(
      AnnOps.quantizeEmbeddings(queries, "v"))
      .select(col("vec_id"), col("v_deq").as("v"))
    val approx = AnnOps.bruteTopK(deq, qdeq, k)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(f"int8 recall@$k = $recall%.3f")
    assert(recall >= 0.9, f"int8 quantization recall@$k $recall%.3f below 0.9")
    // scale/codes invariants: codes bounded by ±127, zero vector safe
    val spark2 = spark
    import spark2.implicits._
    val z = AnnOps.quantizeEmbeddings(
      Seq((1L, Seq(0.0, 0.0)), (2L, Seq(-2.0, 1.0))).toDF("vec_id", "v"), "v")
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Int]]("q_codes").toSeq).toMap
    assert(z(1L) == Seq(0, 0), "zero vector quantizes to zero codes")
    assert(z(2L) == Seq(-127, 64), "symmetric scale: max |v| maps to ±127")
  }

  test("ivfpqTrainAll is bit-identical to the separated ivf2Train + ivfpqBooks") {
    // The shared-sample trainer must be an OPTIMIZATION, not a semantic
    // change: the codebooks' sample is the trainCap hash-smallest rows of
    // the residual corpus, and residual encoding preserves vec_id, so
    // residuals OF the shared sample == the sample of the residuals. This
    // pins that equivalence bit for bit (index levels and every codebook
    // double), including under a trainCap SMALLER than the corpus — the
    // regime where sharing could plausibly diverge.
    val vecs = AnnOps.corpus(spark, sfDir)
    val n = graft.Tables.rowCountFromFooters(spark, sfDir, "embeddings")
    for (cap <- Seq(100000, 300)) {
      val idxSep = AnnOps.ivf2Train(vecs, n, AnnOps.IvfCellTarget, trainCap = cap)
      val booksSep = AnnOps.ivfpqBooks(vecs, idxSep, trainCap = cap)
      val (idxAll, booksAll) =
        AnnOps.ivfpqTrainAll(vecs, n, AnnOps.IvfCellTarget, trainCap = cap)
      def bitsIdx(i: AnnOps.Ivf2Index): Seq[Seq[Long]] =
        (i.coarse ++ i.fine.flatMap(_._2))
          .map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))
      def bitsBooks(b: IndexedSeq[IndexedSeq[Array[Double]]]): Seq[Seq[Long]] =
        b.flatten.map(_.toSeq.map(java.lang.Double.doubleToRawLongBits))
      assert(idxAll.fine.map(_._1) === idxSep.fine.map(_._1),
        s"cap=$cap: coarse cell ids diverge")
      assert(bitsIdx(idxAll) === bitsIdx(idxSep),
        s"cap=$cap: index centroids diverge bit-wise")
      assert(bitsBooks(booksAll) === bitsBooks(booksSep),
        s"cap=$cap: codebooks diverge bit-wise")
    }
  }
}
