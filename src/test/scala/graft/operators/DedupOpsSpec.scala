package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ReliableCheckpoints

class DedupOpsSpec extends SparkSpec {
  import spark.implicits._

  private val vocab = Seq("alpha", "beta", "gamma", "delta", "eps", "zeta",
    "eta", "theta", "iota", "kappa", "lambda", "mu")

  /** Deterministic pseudo-random doc of `n` words seeded by `seed` (a real
    * PRNG stream — an arithmetic formula here yields cyclic word sequences,
    * making docs with different seeds rotations of each other and thus
    * genuine near-duplicates).
    */
  private def doc(seed: Int, n: Int = 60): String = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
  }

  test("dedupExact groups normalized copies and keeps the smallest id") {
    val df = Seq(
      (1L, "Hello World"), (2L, "  hello world "), (3L, "different"))
      .toDF("doc_id", "text")
    val got = DedupOps.dedupExact(df, "doc_id", "text")
      .orderBy("doc_id")
      .select("doc_id", "keep_id", "is_dup")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.toSeq === Seq((1L, 1L, false), (2L, 1L, true), (3L, 3L, false)))
  }

  test("minhashPairs finds planted near-duplicates and skips unrelated docs") {
    val base = doc(1, 80)
    val near = base.split(" ").drop(3).mkString(" ") // drop 3 of 80 words
    val rows = Seq(
      (1L, base), (2L, near), (3L, doc(2, 80)), (4L, doc(3, 80)))
      .toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(rows, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "planted near-dup must be found")
    assert(!pairs.exists(p => p._2 == 3L || p._1 == 3L), "unrelated doc must not pair")
  }

  test("minhashPairs with a reliable checkpoint dir keeps its two checkpoints on disk") {
    val base = doc(1, 80)
    val rows = Seq(
      (1L, base), (2L, base.split(" ").drop(3).mkString(" ")), (3L, doc(2, 80)))
      .toDF("doc_id", "text")
    val local = DedupOps.minhashPairs(rows, tau = 0.5).collect().toSet
    ReliableCheckpoints(spark) {
      val out = DedupOps.minhashPairs(rows, tau = 0.5)
      assert(out.collect().toSet === local)
      // the candidate pairs and the candidates' gram sets back the result
      assert(ReliableCheckpoints.leaves(out).size === 2)
      assert(ReliableCheckpoints.onDisk(spark) === ReliableCheckpoints.leaves(out))
    }
  }

  test("minhash signature similarity approximates true Jaccard") {
    val base = doc(5, 100)
    val near = base.split(" ").drop(5).mkString(" ")
    val df = Seq((1L, base), (2L, near)).toDF("doc_id", "text")
      .withColumn("w", split(col("text"), " "))
      .withColumn("grams", graft.functions.TextFns.wordNgrams(col("w"), 3))
      .withColumn("sig", DedupOps.minhashSignature(col("grams"), 64))
    val Array(a, b) = df.orderBy("doc_id").select("sig", "grams").collect()
    val sigA = a.getSeq[Int](0); val sigB = b.getSeq[Int](0)
    val gA = a.getSeq[String](1).toSet; val gB = b.getSeq[String](1).toSet
    val est = sigA.zip(sigB).count(p => p._1 == p._2).toDouble / 64
    val truth = gA.intersect(gB).size.toDouble / gA.union(gB).size
    assert(math.abs(est - truth) < 0.25, s"minhash est $est vs true $truth")
  }

  test("simhashPairs finds small mutations via pigeonhole blocks") {
    val base = doc(7, 80)
    val mutated = {
      val w = base.split(" "); w(10) = "changedword"; w.mkString(" ")
    }
    val rows = Seq(
      (1L, base), (2L, mutated), (3L, doc(8, 80)))
      .toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(rows, maxHamming = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "one-word mutation should stay within hamming budget")
  }

  test("minhash boilerplate guard drops oversized buckets but keeps real dups") {
    // 30 docs sharing one boilerplate text (a degenerate bucket of 30) plus
    // one genuine near-dup pair of a distinct doc.
    val boiler = (0 until 30).map(i => (100L + i, doc(99, 80)))
    val base = doc(42, 80)
    val near = base.split(" ").drop(2).mkString(" ")
    val rows = (boiler ++ Seq((1L, base), (2L, near))).toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(rows, tau = 0.5, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "genuine near-dup must survive the guard")
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L),
      "boilerplate bucket (30 > maxBucket) must be dropped")
  }

  test("minhash tau boundary: a pair at exactly its Jaccard is kept, just above dropped") {
    // the exact-verify filter is rounded-jaccard >= tau — measure the
    // planted pair's TRUE gram Jaccard and probe both sides of it
    val base = doc(13, 100)
    val near = base.split(" ").drop(10).mkString(" ")
    val df = Seq((1L, base), (2L, near)).toDF("doc_id", "text")
    val sets = df.withColumn("w", split(col("text"), " "))
      .withColumn("grams", graft.functions.TextFns.wordNgrams(col("w"), 3))
      .orderBy("doc_id").select("grams").collect()
      .map(_.getSeq[String](0).toSet)
    val j = sets(0).intersect(sets(1)).size.toDouble /
      sets(0).union(sets(1)).size
    val jr = math.rint(j * 1e6) / 1e6 // the operator rounds to 6 decimals
    assert(DedupOps.minhashPairs(df, tau = jr).count() == 1,
      "equality at the threshold must keep the pair")
    assert(DedupOps.minhashPairs(df, tau = jr + 1e-6).count() == 0,
      "one ulp above the pair's similarity must drop it")
  }

  test("sub-n-gram docs produce no minhash candidates and no errors") {
    // 1- and 2-word docs have no 3-grams: they must vanish from banding
    // (never pair, not even with each other) while normal dups still pair
    val base = doc(21, 80)
    val near = base.split(" ").drop(2).mkString(" ")
    val df = Seq(
      (1L, "one"), (2L, "two words"), (3L, "two words"),
      (4L, base), (5L, near)).toDF("doc_id", "text")
    val pairs = DedupOps.minhashPairs(df, tau = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((4L, 5L)))
  }

  test("simhash hamming boundary: exactly maxHamming kept, one below dropped") {
    val base = doc(17, 80)
    val mutated = {
      val w = base.split(" ")
      w(5) = "alpha"; w(25) = "beta"; w(45) = "gamma"
      w.mkString(" ")
    }
    val df = Seq((1L, base), (2L, mutated)).toDF("doc_id", "text")
    // measure the pair's true hamming with an unconstrained budget
    val h = DedupOps.simhashPairs(df, maxHamming = 64)
      .head.getAs[Long]("hamming")
    assert(h >= 1, s"a 3-word mutation must flip at least one bit (got $h)")
    assert(DedupOps.simhashPairs(df, maxHamming = h.toInt).count() == 1,
      "equality at the hamming budget must keep the pair")
    assert(DedupOps.simhashPairs(df, maxHamming = h.toInt - 1).count() == 0,
      "one below the pair's hamming must drop it")
  }

  test("docs shorter than the fingerprint k-gram produce no pairs and no errors") {
    // k=30 chars: a doc shorter than one k-gram has no fingerprints;
    // a genuine shared-passage pair must still be found alongside them
    val shared = doc(31, 60)
    val df = Seq(
      (1L, "tiny"), (2L, "short doc"),
      (3L, s"${doc(32, 40)} $shared"),
      (4L, s"$shared ${doc(33, 40)}")).toDF("doc_id", "text")
    val pairs = DedupOps.fingerprintPairs(df, k = 30, w = 10, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((3L, 4L)))
  }

  test("identical docs have identical simhash (hamming 0)") {
    val rows = Seq((1L, doc(9)), (2L, doc(9))).toDF("doc_id", "text")
    val got = DedupOps.simhashPairs(rows, maxHamming = 0).collect()
    assert(got.length === 1 && got(0).getAs[Long]("hamming") === 0L)
  }

  test("simhash boilerplate guard drops oversized block buckets but keeps real dups") {
    // 30 identical docs share every 16-bit block value (a degenerate bucket
    // of 30 in all four blocks) — the guard must shed them; a genuine
    // one-word mutation pair of a distinct doc must survive.
    val boiler = (0 until 30).map(i => (100L + i, doc(99, 80)))
    val base = doc(42, 80)
    val mutated = { val w = base.split(" "); w(10) = "changedword"; w.mkString(" ") }
    val rows = (boiler ++ Seq((1L, base), (2L, mutated))).toDF("doc_id", "text")
    val pairs = DedupOps.simhashPairs(rows, maxHamming = 12, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "genuine near-dup must survive the guard")
    assert(!pairs.exists(p => p._1 >= 100L || p._2 >= 100L),
      "boilerplate bucket (30 > maxBucket) must be dropped")
  }

  test("fingerprintPairs finds docs sharing a long substring amid unrelated text") {
    // doc 1 and doc 2 share one long quoted passage inside otherwise
    // different documents — whole-doc Jaccard is low, but the shared run
    // guarantees shared winnowing fingerprints. doc 3 is unrelated. Words
    // are per-stream unique (the shared `vocab` of `doc()` would collide at
    // the character-k-gram level across every document).
    def words(tag: String, n: Int) = (0 until n).map(i => s"$tag$i").mkString(" ")
    val quote = words("quoted", 40)
    val rows = Seq(
      (1L, words("one", 60) + " " + quote + " " + words("uno", 60)),
      (2L, words("two", 60) + " " + quote + " " + words("dos", 60)),
      (3L, words("three", 160)))
      .toDF("doc_id", "text")
    val pairs = DedupOps.fingerprintPairs(rows, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "the quoted passage must pair the two docs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc must not pair")
  }

  test("prefix-filter equivalence: ngramJaccardPairsPrefix == all-pairs ngramJaccardPairs") {
    // Real planted corpus (sf0.001) AND a generated corpus with rotations /
    // deletions — the prefix-filtered linear plan must reproduce the exact
    // quadratic result bit for bit.
    val planted = DedupOps.plantedCorpus(spark, sfDir)
    def result(df: org.apache.spark.sql.DataFrame, f: (org.apache.spark.sql.DataFrame, Int, Double, Seq[String]) => org.apache.spark.sql.DataFrame) =
      f(df, 3, 0.4, Seq("lang", "source")).orderBy("id1", "id2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(result(planted, DedupOps.ngramJaccardPairsPrefix) ===
      result(planted, DedupOps.ngramJaccardPairs))

    val gen = (0 until 20).map { i =>
      val base = doc(i % 5, 60) // 4 docs per seed → guaranteed dup clusters
      val text = if (i >= 15) base.split(" ").drop(i - 14).mkString(" ") else base
      (i.toLong, "en", s"src${i % 2}", text)
    }.toDF("doc_id", "lang", "source", "text")
    assert(result(gen, DedupOps.ngramJaccardPairsPrefix) ===
      result(gen, DedupOps.ngramJaccardPairs))
  }

  test("semanticDedupPairs: a subset of the exact pairs with full recall on planted dups") {
    // SemDeDup centroid blocking: every emitted pair must also be in the
    // exact blocked result (the verify stage is identical, candidates can
    // only shrink), and planted exact duplicates — cos = 1, same centroid
    // by construction — must ALL surface.
    val vecs = DedupOps.plantedEmbeddings(spark, sfDir)
    val exact = DedupOps.embeddingPairs(vecs, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = DedupOps.semanticDedupPairs(vecs, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(sem.subsetOf(exact), s"semantic pairs not a subset: ${(sem -- exact).take(3)}")
    val off = DedupOps.plantedOffset(
      graft.Tables.rowCountFromFooters(spark, sfDir, "embeddings"))
    val planted = exact.filter { case (a, b) => b == a + off }
    assert(planted.nonEmpty && planted.subsetOf(sem),
      s"planted duplicates missing: ${(planted -- sem).take(3)}")
  }

  test("semanticDedupPairs at the tau boundary: rounding decides inclusion exactly") {
    val spark2 = spark
    import spark2.implicits._
    // three planted pairs in mutually orthogonal 2-d subspaces of R^64:
    // cos 0.9503 (above tau), cos 0.94999 (rounds to exactly tau → kept:
    // the filter is >=), cos 0.9497 (below after rounding). nlist=1 puts
    // everything in one cell so only the verify stage decides.
    def vec(axis: Int, c: Double, partner: Int): Array[Double] = {
      val v = new Array[Double](64)
      if (c == 1.0) v(axis) = 1.0
      else { v(axis) = c; v(partner) = math.sqrt(1 - c * c) }
      v
    }
    val rows = Seq(
      (10L, vec(10, 1.0, 11)), (11L, vec(10, 0.9503, 11)),
      (20L, vec(20, 1.0, 21)), (21L, vec(20, 0.94999, 21)),
      (30L, vec(30, 1.0, 31)), (31L, vec(30, 0.9497, 31)))
    val vecs = rows.toDF("vec_id", "v").withColumn("label", lit("x"))
    val got = DedupOps.semanticDedupPairs(vecs, tau = 0.95, dim = 64,
      ncoarseOverride = Some(1), target = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got.keySet == Set((10L, 11L), (20L, 21L)),
      s"tau+eps kept, exactly-tau-after-rounding kept, tau-eps dropped: $got")
    assert(got((20L, 21L)) == 0.95, "the boundary pair reports exactly tau")
  }

  test("semanticDedupPairs straddling a centroid boundary: blocking misses what the exact path finds") {
    val spark2 = spark
    import spark2.implicits._
    // two angular clusters in the (e0, e1) plane: A around 0-14deg (plus a
    // member at 40deg), B around 76-90deg (plus one at 50deg). The 40/50
    // pair has cos(10deg) = 0.985 >= tau but sits in DIFFERENT cells —
    // centroid blocking must miss it (the SemDeDup trade), the exact
    // blocked path must find it. Ids are assigned by the trainer's own
    // hash order so k-means initializes one centroid per cluster.
    val order = spark.range(18)
      .orderBy(xxhash64(col("id")), col("id")).as[Long].collect()
    val anglesA = Seq(0, 2, 4, 6, 8, 10, 12, 14, 40).map(_.toDouble)
    val anglesB = Seq(90, 88, 86, 84, 82, 80, 78, 76, 50).map(_.toDouble)
    def vecAt(deg: Double): Array[Double] = {
      val v = new Array[Double](64)
      v(0) = math.cos(math.toRadians(deg)); v(1) = math.sin(math.toRadians(deg))
      v
    }
    val assign = (order(0) -> anglesA.head) +: (order(1) -> anglesB.head) +:
      (order.slice(2, 10).zip(anglesA.tail) ++ order.slice(10, 18).zip(anglesB.tail))
    val idAt40 = assign.find(_._2 == 40.0).get._1
    val idAt50 = assign.find(_._2 == 50.0).get._1
    val vecs = assign.toSeq.map { case (id, deg) => (id, vecAt(deg)) }
      .toDF("vec_id", "v").withColumn("label", lit("x"))
    val exact = DedupOps.embeddingPairs(vecs, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = DedupOps.semanticDedupPairs(vecs, tau = 0.95, dim = 64,
      ncoarseOverride = Some(2), target = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val straddle = (math.min(idAt40, idAt50), math.max(idAt40, idAt50))
    assert(exact.contains(straddle), "cos(10deg)=0.985 >= tau in the exact path")
    assert(!sem.contains(straddle),
      "the cross-cell pair is the documented blocking miss at the boundary")
    assert(sem.subsetOf(exact) && sem.nonEmpty,
      "within-cluster near-dups still surface through the cells")
  }

  test("LSH equivalence: embeddingPairsLsh == exact blocked embeddingPairs") {
    val planted = DedupOps.plantedEmbeddings(spark, sfDir)
    def res(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("id1", "id2")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val exact = res(DedupOps.embeddingPairs(planted, tau = 0.95))
    val lsh = res(DedupOps.embeddingPairsLsh(planted, tau = 0.95))
    assert(exact.nonEmpty, "planted corpus must contain near-dup pairs")
    assert(lsh === exact)
  }

  test("native bucketPairs kernel matches the interpreted HOF form") {
    // Randomized sweep over bucket sizes incl. the 0/1 degenerate cases
    // (empty pair sets) — identical structs in identical order.
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(7)
    val buckets = (0 until 50).map { i =>
      val n = rnd.nextInt(12)
      (i, Seq.fill(n)(rnd.nextLong().abs).sorted)
    }
    val df = buckets.toDF("bucket", "ids")
    def pairs(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      df.select(col("bucket"), f(col("ids")).as("p"))
        .select(col("bucket"), col("p.id1"), col("p.id2"))
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
    assert(pairs(DedupOps.bucketPairs) === pairs(DedupOps.bucketPairsHof))
  }

  test("qDedupEmbedding plan construction triggers zero Spark jobs") {
    // Bits now come from parquet footers (driver metadata read), so building
    // the DataFrame must not run the old eager count(). `spark.read.parquet`
    // itself launches a schema-inference job, so the invariant is: building
    // the registered query costs exactly the jobs of a plainly-lazy read of
    // the same table — zero EXTRA jobs.
    val tracker = spark.sparkContext.statusTracker
    def jobsDuring(f: => Unit): Int = {
      val before = tracker.getJobIdsForGroup(null).length
      f
      tracker.getJobIdsForGroup(null).length - before
    }
    val lazyJobs = jobsDuring { DedupOps.plantedEmbeddings(spark, sfDir) }
    var df: org.apache.spark.sql.DataFrame = null
    val qJobs = jobsDuring { df = DedupOps.qDedupEmbedding(spark, sfDir) }
    assert(qJobs === lazyJobs,
      s"plan construction ran ${qJobs - lazyJobs} extra Spark job(s) beyond the lazy read")
    assert(df.columns.toSeq === Seq("id1", "id2", "cos_sim"))
  }

  test("footer row count matches a real count and derived bits match the count path") {
    val n = graft.Tables.rowCountFromFooters(spark, sfDir, "embeddings")
    assert(n === graft.Tables.embeddings(spark, sfDir).count())
    assert(DedupOps.lshBits(n * 12L / 11L, 8) ===
      DedupOps.lshBits(DedupOps.plantedEmbeddings(spark, sfDir).count(), 8))
  }

  test("embeddingPairsLsh never crosses labels (bucket key includes label)") {
    // Two identical-direction vectors with DIFFERENT labels: cos = 1 but the
    // exact blocked form excludes them, so the LSH form must too.
    val v = (0 until 64).map(_.toDouble)
    val rows = Seq(
      (1L, "a", v), (2L, "b", v), (3L, "a", v.map(_ * 1.01)))
      .toDF("vec_id", "label", "v")
    val pairs = DedupOps.embeddingPairsLsh(rows, tau = 0.95)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs === Set((1L, 3L)), s"expected only the same-label pair, got $pairs")
  }

  test("spanDedup: cross-doc span keeps first occurrence; within-doc repetition collapses") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "Alpha one. Shared a. Shared b. Shared c. Omega one."),
      (2L, "Beta two. Shared a. Shared b. Shared c. Omega two."),
      // the same 3-sentence run twice INSIDE one doc: second occurrence goes
      (3L, "Rep x. Rep y. Rep z. Rep x. Rep y. Rep z.")
    ).toDF("doc_id", "text")
    val out = DedupOps.spanDedup(docs, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text_deduped")).toMap
    assert(out(1L) == "Alpha one. Shared a. Shared b. Shared c. Omega one.",
      "global first occurrence keeps the shared span")
    assert(out(2L) == "Beta two. Omega two.",
      "later doc loses exactly the shared three sentences")
    assert(out(3L) == "Rep x. Rep y. Rep z.",
      "a span repeated within one doc keeps only its first occurrence")
  }
}
