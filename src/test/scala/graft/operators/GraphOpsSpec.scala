package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Checkpoints, JobCount, ReliableCheckpoints}

class GraphOpsSpec extends SparkSpec {

  test("connectedComponents collapses chains past one hop and keeps islands apart") {
    val spark2 = spark
    import spark2.implicits._
    // chain 1-2-3-4 (labels must propagate 3 hops), island {10,11}, singleton edge 20-21
    val edges = Seq((2L, 1L), (3L, 2L), (4L, 3L), (10L, 11L), (21L, 20L))
      .toDF("src", "dst")
    val got = GraphOps.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(1L) === 1L && got(2L) === 1L && got(3L) === 1L && got(4L) === 1L,
      "chain must collapse to the minimum id")
    assert(got(10L) === 10L && got(11L) === 10L)
    assert(got(20L) === 20L && got(21L) === 20L)
    assert(got.size === 8)
  }

  test("connectedComponentsWithStats reports non-convergence instead of lying") {
    val spark2 = spark
    import spark2.implicits._
    // a 12-hop chain cannot converge in 2 iterations of min-label
    // propagation — the flag must say so (a silent partial result here
    // would make keepCanonical keep the wrong doc)
    val chain = (1L until 13L).map(i => (i, i + 1)).toDF("src", "dst")
    val (partial, convergedEarly, itersEarly) =
      GraphOps.connectedComponentsWithStats(chain, maxIter = 2)
    assert(!convergedEarly && itersEarly === 2)
    assert(partial.filter(col("comp") =!= 1L).count() > 0,
      "an unconverged run leaves non-minimal labels (that is WHY the flag matters)")
    val (full, converged, iters) = GraphOps.connectedComponentsWithStats(chain)
    // 12 rounds carry label 1 from node 1 to node 13 (the fused first
    // round counts as one), and the 13th finds no change
    assert(converged && iters === 13)
    assert(full.filter(col("comp") =!= 1L).count() === 0)
  }

  test("dedupClusterQuery surfaces non-convergence as a result column") {
    val spark2 = spark
    import spark2.implicits._
    // the query path must carry the flag relationally — a WARN log line in
    // a batch job is invisible to the downstream keep-canonical step
    val base = (0L until 200L).toDF("doc_id")
    val partial = GraphOps.dedupClusterQuery(base, maxIter = 1)
    assert(partial.select("converged").head.getBoolean(0) === false)
    val full = GraphOps.dedupClusterQuery(base)
    assert(full.select("converged").head.getBoolean(0) === true)
    assert(full.filter(col("converged") =!= true).count() === 0)
  }

  /** Driver-side reference components: union-find over the edge list,
    * each node labelled with the minimum id of its component.
    */
  private def refComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      // the smaller root wins, so every root is its component's minimum
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toSeq.map(v => v -> find(v)).toMap
  }

  test("connectedComponents matches a driver-side union-find on a seeded random graph") {
    val spark2 = spark
    import spark2.implicits._
    val rnd = new scala.util.Random(20261017L)
    // ids drawn from a shuffled pool, so a chain's minimum sits anywhere
    // along it and labels must travel both ways
    val ids = rnd.shuffle((1L to 5000L).toVector).iterator
    def take(n: Int) = Vector.fill(n)(ids.next())
    val chains = Seq.fill(8)(take(2 + rnd.nextInt(14)))
      .flatMap(c => c.zip(c.tail))
    val stars = Seq.fill(6)(take(2 + rnd.nextInt(9)))
      .flatMap(s => s.tail.map(s.head -> _))
    val islands = Seq.fill(10)(take(2)).map(p => p(0) -> p(1))
    val loners = take(3)
    val selfLoops = loners.map(v => v -> v) ++ Seq(chains.head._1 -> chains.head._1)
    val base = chains ++ stars ++ islands ++ selfLoops
    val noise = rnd.shuffle(base).take(20) ++ rnd.shuffle(base).take(20).map(_.swap)
    val edges = rnd.shuffle(base ++ noise)
    val (out, converged, _) = GraphOps.connectedComponentsWithStats(
      edges.toDF("src", "dst").repartition(3), maxIter = 64)
    assert(converged)
    val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === refComponents(edges))
    // a node whose only edge is a self-loop is its own one-node component
    loners.foreach(v => assert(got(v) === v))
  }

  test("dedupClusterQuery construction runs a bounded number of Spark jobs") {
    val spark2 = spark
    import spark2.implicits._
    // 200 docs: 40 five-doc stars, and every 35th doc links its star to
    // the previous one, so labels settle in round 2 and round 3 observes
    // no change. Round 1 runs the edge repartition, the edge cache and the
    // probe; rounds 2 and 3 each run the label-state shuffle, the
    // aggregate shuffle and the probe.
    val base = (0L until 200L).toDF("doc_id")
    val (q, jobs) = JobCount(spark)(GraphOps.dedupClusterQuery(base))
    assert(q.filter(!col("converged")).isEmpty)
    assert(jobs === 9, s"dedupClusterQuery construction ran $jobs jobs")
  }

  test("connectedComponents converges with a reliable checkpoint dir") {
    val spark2 = spark
    import spark2.implicits._
    ReliableCheckpoints(spark) {
      val chain = (1L until 13L).map(i => (i, i + 1)).toDF("src", "dst")
      val (out, converged, iters) = GraphOps.connectedComponentsWithStats(chain)
      assert(converged && iters > 1)
      assert(out.filter(col("comp") =!= 1L).count() === 0)
      // every superseded round's directory is gone: only the result's
      // backing checkpoint stays on disk, and release deletes it too
      val backing = ReliableCheckpoints.leaves(out)
      assert(backing.size === 1)
      assert(ReliableCheckpoints.onDisk(spark) === backing)
      Checkpoints.release(out)
      assert(ReliableCheckpoints.onDisk(spark).isEmpty)
    }
  }

  test("pageRank with a reliable checkpoint dir keeps one round on disk and the same ranks") {
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L)).toDF("src", "dst")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val local = ranks(GraphOps.pageRank(e, iters = 6))
    ReliableCheckpoints(spark) {
      val out = GraphOps.pageRank(e, iters = 6)
      assert(ranks(out) == local)
      assert(ReliableCheckpoints.leaves(out).size === 1)
      assert(ReliableCheckpoints.onDisk(spark) === ReliableCheckpoints.leaves(out))
    }
  }

  test("keepCanonical removes exactly the non-canonical cluster members") {
    // exact-dup pairs over the planted corpus: every planted copy
    // (id+1000000, trailing whitespace) must vanish, its original must
    // survive, and docs outside any cluster are untouched.
    val corpus = DedupOps.plantedCorpus(spark, sfDir)
    val pairs = DedupOps.dedupExact(corpus, "doc_id", "text")
      .filter(col("is_dup"))
      .select(col("keep_id").as("src"), col("doc_id").as("dst"))
    val comps = GraphOps.connectedComponents(pairs)
    val kept = GraphOps.keepCanonical(corpus, comps, "doc_id")
    val keptIds = kept.select("doc_id").collect().map(_.getLong(0)).toSet
    val exactCopies = corpus.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L)
      .select("doc_id").collect().map(_.getLong(0))
    assert(exactCopies.nonEmpty)
    exactCopies.foreach { c =>
      assert(!keptIds.contains(c), s"exact copy $c must be dropped")
      assert(keptIds.contains(c - 1000000L), s"original of $c must survive")
    }
    assert(kept.count() === corpus.count() - exactCopies.length,
      "only the non-canonical members disappear")
  }

  test("clustering real minhash pairs keeps every planted dup with its original") {
    // End-to-end: near-dup PAIRS from the planted corpus → components →
    // each planted copy (id+1000000 / id+2000000) lands in its original's
    // cluster, and the original (minimum id) is the canonical doc.
    val pairs = DedupOps.minhashPairs(DedupOps.plantedCorpus(spark, sfDir))
      .select(col("id1").as("src"), col("id2").as("dst"))
    val comp = GraphOps.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val planted = comp.keys.filter(_ >= 1000000L)
    assert(planted.nonEmpty, "planted dups must appear in the pair graph")
    planted.foreach { p =>
      val orig = p % 1000000L
      assert(comp.contains(orig) && comp(p) === comp(orig),
        s"planted $p must share a cluster with original $orig")
      assert(comp(p) <= orig, "canonical id is the cluster minimum")
    }
  }

  /** Driver-side reference PageRank for tiny fixtures — plain Scala loops,
    * same update rule, used to pin the distributed plan to known answers.
    */
  private def refPageRank(edges: Seq[(Long, Long)], iters: Int,
      d: Double = 0.85): Map[Long, Double] = {
    val e = edges.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct.sorted
    val n = nodes.size
    val out = e.groupBy(_._1).view.mapValues(_.size.toDouble).toMap
    var r = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val dm = nodes.filterNot(out.contains).map(r).sum
      val contrib = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / out(s) }.sum).toMap
      r = nodes.map(v =>
        v -> ((1.0 - d) / n + d * (contrib.getOrElse(v, 0.0) + dm / n))).toMap
    }
    r
  }

  test("pageRank matches the reference update rule on a known graph with a dangling node") {
    val spark2 = spark
    import spark2.implicits._
    // 1→2, 2→{1,3}, 3→1, 4→3; node 5 is reachable (3→5) but emits nothing
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (4L, 3L), (3L, 5L))
    val got = GraphOps.pageRank(e.toDF("src", "dst"), iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = refPageRank(e, iters = 10)
    assert(got.keySet == want.keySet)
    got.foreach { case (id, pr) =>
      assert(math.abs(pr - want(id)) < 1e-12, s"node $id: $pr vs ${want(id)}")
    }
    // mass conservation: the dangling redistribution keeps Σrank = 1
    assert(math.abs(got.values.sum - 1.0) < 1e-9)
    // node 4 has no in-links → the minimum rank (teleport + its dangling-
    // mass share only; NOT the bare teleport floor — dm redistributes to
    // every node including the unlinked one)
    assert(got.minBy(_._2)._1 == 4L)
    assert(got(4L) > 0.15 / 5, "dangling mass share must lift the floor")
  }

  test("pageRank is invariant to input partitioning and parallel-edge duplication") {
    val spark2 = spark
    import spark2.implicits._
    val e = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L))
    val base = GraphOps.pageRank(e.toDF("src", "dst"), iters = 5)
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e9)).toMap
    val dup = GraphOps.pageRank(
      (e ++ e ++ e).toDF("src", "dst").repartition(7), iters = 5)
      .collect().map(r => r.getLong(0) -> math.rint(r.getDouble(1) * 1e9)).toMap
    assert(base == dup, "distinct() must collapse parallel edges; partitioning must not matter")
  }
}
