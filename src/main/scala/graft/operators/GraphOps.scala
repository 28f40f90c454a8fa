package graft.operators

import graft.functions.NumFns.roundHalfUp
import graft.Tables
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Graph-shaped lookups over an (s, p, o) triples table — the Spark twin of
  * the reference's RDF taxonomy/obligation refresh DAGs
  * (dags/d0_update_obligations.py:15 `updateNormObj`: parse the obligations
  * + instruments RDF, run a SPARQL join, store the obligation → instrument
  * lookup used by the normalizers' value maps).
  *
  * SPARQL basic graph patterns map mechanically onto triples-table joins:
  * a `?s a <Class>` pattern is a semi-join against (p = rdf:type,
  * o = Class) rows, a link pattern is an equi-join on the subject/object,
  * and OPTIONAL clauses are left joins. Each pattern touches only its
  * predicate's slice of the table (predicate pushdown prunes the scan), and
  * the result is the tiny lookup side a later `normMaps` broadcast join
  * consumes — the graph never materializes as driver state.
  */
object GraphOps {

  val TypePred = "a"

  /** The obligation→instrument lookup join (d0_update_obligations.py:20):
    * subjects typed Obligation, linked by `instrument` to subjects typed
    * Instrument, with OPTIONAL instrument label and identifier.
    * Output: (obligation, instrument, label, identifier) — label/identifier
    * NULL when absent, like SPARQL OPTIONAL.
    */
  def obligationLookup(triples: DataFrame): DataFrame = {
    def typed(cls: String) = triples
      .filter(col("p") === TypePred && col("o") === cls)
      .select(col("s"))
    val links = triples.filter(col("p") === "instrument")
      .select(col("s").as("obligation"), col("o").as("instrument"))
    val labels = triples.filter(col("p") === "label")
      .select(col("s").as("instrument"), col("o").as("label"))
    val idents = triples.filter(col("p") === "identifier")
      .select(col("s").as("instrument"), col("o").as("identifier"))
    links
      .join(typed("Obligation").withColumnRenamed("s", "obligation"), Seq("obligation"), "left_semi")
      .join(typed("Instrument").withColumnRenamed("s", "instrument"), Seq("instrument"), "left_semi")
      .join(labels, Seq("instrument"), "left")
      .join(idents, Seq("instrument"), "left")
      .select("obligation", "instrument", "label", "identifier")
  }

  /** queries() wrapper: synthesizes a deterministic triples graph from the
    * documents table — one Obligation per doc linked to one of 20
    * Instruments; labels exist for 2/3 of instruments and identifiers for
    * 1/2 (both OPTIONAL paths exercised), plus noise triples that the type
    * semi-joins must ignore.
    */
  def qGraphObligations(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = Tables.documents(s, d).select(id)
    val instr = concat(lit("instr"), id % 20)
    val obligations = docs.select(concat(lit("obl"), id).as("s"), lit(TypePred).as("p"), lit("Obligation").as("o"))
    val links = docs.select(concat(lit("obl"), id).as("s"), lit("instrument").as("p"), instr.as("o"))
    val instruments = docs.filter(id < 20)
      .select(concat(lit("instr"), id).as("s"), lit(TypePred).as("p"), lit("Instrument").as("o"))
    val labels = docs.filter(id < 20 && id % 3 =!= 0)
      .select(concat(lit("instr"), id).as("s"), lit("label").as("p"),
        concat(lit("Instrument "), id).as("o"))
    val idents = docs.filter(id < 20 && id % 2 === 0)
      .select(concat(lit("instr"), id).as("s"), lit("identifier").as("p"),
        concat(lit("ID-"), id).as("o"))
    // noise: untyped subjects with instrument links must not appear
    val noise = docs.select(concat(lit("noise"), id).as("s"), lit("instrument").as("p"), instr.as("o"))
    val triples = obligations.unionByName(links).unionByName(instruments)
      .unionByName(labels).unionByName(idents).unionByName(noise)
    obligationLookup(triples).orderBy("obligation", "instrument")
  }

  // ------------------------------------------------------------- dedup_cluster

  /** Connected components over an undirected edge set by iterative MIN-LABEL
    * PROPAGATION — the step every dedup pipeline needs after pair
    * generation: near-dup PAIRS form chains (A~B, B~C with A,C below the
    * pair threshold), and keep-one-per-cluster requires the transitive
    * closure, not the pairs. Labels converge in O(diameter) rounds — dup
    * clusters are shallow (a handful of hops), so the loop runs 2-4 times
    * in practice, each a linear pass.
    *
    * Catalyst plans the edge input once and the result once; the rounds
    * are plain RDD jobs over `(id, label)` longs, so a round costs no
    * analysis, no AQE planning and no SQL execution — only its one job.
    * The edges become an adjacency of distinct neighbours, hash
    * partitioned as wide as the edge input and persisted for the loop.
    * Round 1 needs no shuffle (label = least of the node's id and its
    * neighbours' ids); every later round pairs each partition's adjacency
    * with its labels (no shuffle) and sends the labels through one
    * min-combining shuffle. Each round is checkpointed
    * ([[Checkpoints]]), and its changed-labels count is the action that
    * materializes the checkpoint; the superseded round is released right
    * after. The last round's checkpoint backs the result, so at return
    * exactly one checkpoint is pinned. `maxIter` (>= 1, the fused round
    * counts as iteration 1) bounds the loop against pathological chains
    * (a 100 TB run would switch to the large-star/small-star contraction
    * at extreme diameters — same contract, fewer rounds).
    *
    * `src` and `dst` must be bigint; an edge with a null end is dropped.
    * Output: (id, comp) for every node that appears in an edge, comp = the
    * minimum id reachable from the node.
    */
  def connectedComponents(edges: DataFrame, maxIter: Int = 20): DataFrame = {
    val (out, converged, iters) = connectedComponentsWithStats(edges, maxIter)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents did not converge after $iters iterations " +
          s"(maxIter=$maxIter): labels are partially propagated — deep " +
          "chains may carry non-minimal component ids. Raise maxIter or " +
          "switch to star contraction for extreme diameters.")
    out
  }

  /** Same as [[connectedComponents]] but also reports whether the labels
    * CONVERGED within `maxIter` and how many iterations ran — callers that
    * feed a keep-canonical decision (where a silently-unconverged label
    * would keep the wrong doc) can branch on the flag instead of trusting
    * the result blindly.
    */
  def connectedComponentsWithStats(
      edges: DataFrame, maxIter: Int = 20): (DataFrame, Boolean, Int) = {
    require(maxIter >= 1, s"connectedComponents needs maxIter >= 1, got $maxIter")
    for (c <- Seq("src", "dst"); t = edges.schema(c).dataType)
      require(t == LongType, s"connectedComponents needs a bigint `$c` column, got ${t.sql}")
    // The edge plan runs once, as the first round's shuffle input; toRdd
    // plans it without opening a SQL execution.
    val input = edges.select("src", "dst").queryExecution.toRdd
    val part = new HashPartitioner(math.max(1, input.getNumPartitions))
    // Both directions of every edge, hashed to their node's partition, where
    // they become that partition's one Adjacency block.
    val adj = input
      .flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) Iterator.empty
        else { val (s, d) = (r.getLong(0), r.getLong(1)); Iterator((s, d), (d, s)) }
      }
      .partitionBy(part)
      .mapPartitions(pairs => Iterator.single(adjacency(pairs)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // A round's labels are checkpointed as (id, comp) rows, the form the
    // result's LogicalRDD reads. Partition p holds the rows of adj's block p
    // in the block's order, so rounds pair a node with its label by
    // position; the block's ids are sorted, so a recomputed block keeps
    // that order.
    //
    // Round 1, fused: every node starts labelled with its own id, so its
    // first label is the least of its id and its neighbours' ids, and the
    // changed labels are those that differ from the id.
    var state = Checkpoints(adj.mapPartitions { blocks =>
      val a = blocks.next()
      a.ids.indices.iterator.map(i => InternalRow(a.ids(i), math.min(a.ids(i), a.nbrs(i).min)))
    })
    var changed = state.filter(r => r.getLong(0) != r.getLong(1)).count()
    var iter = 1
    while (changed != 0L && iter < maxIter) {
      // Every node sends its label to itself and to each neighbour; the
      // least label per receiver is kept before and after the shuffle. The
      // count of labels that moved is the round's one action, and it
      // materializes the round's checkpoint.
      val sent = adj.zipPartitions(state) { (blocks, rows) =>
        val a = blocks.next()
        minLabels { send =>
          for (i <- a.ids.indices) {
            val c = rows.next().getLong(1)
            send(a.ids(i), c)
            a.nbrs(i).foreach(send(_, c))
          }
        }.iterator
      }.partitionBy(part)
      val next = Checkpoints(adj.zipPartitions(sent) { (blocks, got) =>
        val best = minLabels(send => got.foreach { case (id, c) => send(id, c) })
        blocks.next().ids.iterator.map(id => InternalRow(id, best(id)))
      })
      changed = next.zipPartitions(state)((n, p) =>
        n.zip(p).filter { case (a, b) => a.getLong(1) != b.getLong(1) }).count()
      Checkpoints.release(state)
      state = next
      iter += 1
    }
    adj.unpersist(blocking = false)
    (Checkpoints.dataFrame(edges.sparkSession, state, LabelSchema), changed == 0L, iter)
  }

  private val LabelSchema = StructType.fromDDL("id BIGINT NOT NULL, comp BIGINT NOT NULL")

  /** One partition of the undirected graph: its node ids, ascending, and
    * each node's distinct neighbours. A partition is one object, not one
    * record per node, so caching it does not size thousands of records.
    */
  private final class Adjacency(val ids: Array[Long], val nbrs: Array[Array[Long]]) extends Serializable

  private def adjacency(pairs: Iterator[(Long, Long)]): Adjacency = {
    val m = mutable.LongMap.empty[mutable.ArrayBuilder.ofLong]
    pairs.foreach { case (s, d) => m.getOrElseUpdate(s, new mutable.ArrayBuilder.ofLong) += d }
    val ids = m.keys.toArray.sorted
    new Adjacency(ids, ids.map(m(_).result().distinct))
  }

  /** The least label each id is sent by `emit`. */
  private def minLabels(emit: ((Long, Long) => Unit) => Unit): mutable.LongMap[Long] = {
    val best = mutable.LongMap.empty[Long]
    emit { (id, c) => if (c < best.getOrElseUpdate(id, c)) best(id) = c }
    best
  }

  /** Apply cluster resolution to the corpus: drop every non-canonical
    * cluster member (id ≠ comp), keep canonical docs and all unclustered
    * docs — the final "return the deduplicated corpus" step after any pair
    * generator + `connectedComponents`. One anti-join on the id; the
    * comps side is candidates-only (≪ corpus at scale).
    */
  def keepCanonical(docs: DataFrame, comps: DataFrame, idCol: String): DataFrame =
    docs.join(
      comps.filter(col("id") =!= col("comp")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  // ---------------------------------------------------------------- crawl_rank

  /** PageRank over a directed link graph by POWER ITERATION — the classic
    * crawl-prioritization / URL-quality signal (Page et al. 1999; what
    * large web-corpus pipelines compute over the hyperlink graph to rank
    * frontier URLs and weight training documents — the reference's
    * sitemap-driven frontier has no ranking step, but a 100 TB crawl
    * corpus needs one, same as CommonCrawl publishes host-level ranks).
    *
    * Semantics: parallel edges count once (callers pass a distinct edge
    * set or accept the implicit distinct); nodes = every id appearing as
    * src or dst; rank init = 1/N; per iteration
    *
    *   rank'(v) = (1−d)/N + d · ( Σ_{u→v} rank(u)/outdeg(u) + DM/N )
    *
    * where DM = Σ rank(u) over DANGLING nodes (no out-edges) — their mass
    * redistributes uniformly, keeping Σ rank = 1 invariant. Fixed
    * `iters` (power iteration converges geometrically at rate d; crawl
    * ordering needs relative ranks, so a handful of rounds suffices and
    * the loop is oracle-reproducible — no float-convergence probe).
    *
    * Scale shape: the edge⋈outdeg table is built ONCE and persisted (it
    * is the loop invariant); each iteration is one equi-join of ranks
    * onto it + one partial-agg sum shuffled on dst, plus two 1-row
    * broadcast aggregates (N, dangling mass) — never a collect. Hub
    * pages skew the dst shuffle; AQE skew-split handles it (same watch
    * as perplexity_bucket's word join). The rounds stay a Dataset loop:
    * moving them to RDD jobs would change the float summation order of
    * the ranks. Lineage is truncated per round, since chained round plans
    * grow the logical tree with every iteration, and each SQL execution
    * re-analyzes it and renders its explain string on the driver. The
    * checkpoint is LAZY, materialized by the next round's dangling-mass
    * probe — one job per round; see [[Checkpoints]] for the reliable
    * mode. Superseded rounds are released explicitly, so at return only
    * the final round's checkpoint is pinned.
    *
    * Output: (id, rank) for every node, full precision (callers round).
    */
  def pageRank(edges: DataFrame, iters: Int, damping: Double = 0.85): DataFrame = {
    require(iters >= 1, s"pageRank needs iters >= 1, got $iters")
    // The distinct edge table feeds THREE loop invariants (out-degrees,
    // node set, edge⋈outdeg); persisting it makes the dedup shuffle run
    // once instead of once per invariant materialization.
    val e = edges.select(col("src"), col("dst")).distinct().persist()
    val outDeg = e.groupBy("src").agg(count(lit(1)).as("odeg"))
    // Cached pre-partitioned by src: the per-round contribs join re-reads
    // this side every iteration, and InMemoryRelation preserves the
    // repartition's hash layout — only the (much smaller) rank state
    // exchanges per round, not the edge table.
    val linkW = e.join(outDeg, "src").repartition(col("src")).persist()
    // Nodes carry their DANGLING flag in the iteration state, computed by
    // one left join here: the earlier form re-derived the dangling set
    // every round as an anti-join of ranks against out-degrees, which
    // re-ran the edge-distinct + degree aggregation per iteration (the
    // dominant crawl_rank cost — the loop body is otherwise one join +
    // one partial-agg shuffle). With the flag in the checkpointed state
    // the per-round dangling mass is a filter + 1-row aggregate.
    val nodes = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
      .join(outDeg.select(col("src").as("id"), lit(true).as("has_out")),
        Seq("id"), "left")
      .select(col("id"), col("has_out").isNull.as("dang"))
      .persist()
    // N collected once as a plan literal (one count over the persisted
    // node set — the same scalar every iteration used): the earlier form
    // recomputed and re-broadcast the 1-row count table every round.
    // Long literal, so the division promotes exactly like the previous
    // double/long-column arithmetic — bit-identical ranks.
    val n = nodes.count()
    // No checkpoint on the initial state: it is a pure projection of the
    // persisted node table (iteration 1 reads the cache; every later
    // round reads the previous round's checkpoint).
    var ranks =
      nodes.select(col("id"), (lit(1.0) / lit(n)).as("rank"), col("dang"))
    // Dangling mass as a collected scalar, injected as a literal (the
    // broadcast-crossJoin form paid a broadcast build + nested-loop stage
    // per round for the same single double). ONE job per round: the
    // checkpoint is LAZY and the next round's dangling-mass aggregate is
    // the action that materializes it (the earlier eager checkpoint +
    // separate dm job paid two driver round-trips per round). Float
    // semantics are unchanged: the aggregate is the identical plan over
    // the identical checkpointed state, only the job boundary moved.
    var dm = ranks.filter(col("dang"))
      .agg(coalesce(sum("rank"), lit(0.0))).head.getDouble(0)
    for (i <- 1 to iters) {
      val prev = ranks
      ranks = Checkpoints(pageRankStep(nodes, n, linkW, prev, dm, damping), eager = false)
      if (i < iters)
        dm = ranks.filter(col("dang"))
          .agg(coalesce(sum("rank"), lit(0.0))).head.getDouble(0)
      else Checkpoints.materialize(ranks) // the final round, before the caches drop
      // Round i is fully stored (the action above computed every
      // partition and doCheckpoint truncated its lineage), so round i−1's
      // blocks are released EXPLICITLY instead of pinning storage until
      // GC — bounded-storage contract: at return only the final round's
      // checkpoint is pinned, freed by the ContextCleaner when the result
      // is dropped (or via Checkpoints.release).
      if (i > 1) Checkpoints.release(prev)
    }
    nodes.unpersist(false)
    linkW.unpersist(false)
    e.unpersist(false)
    ranks.select("id", "rank")
  }

  /** One power-iteration update — factored out so plan audits can inspect
    * the ITERATION plan (the checkpointed loop flattens each round to an
    * ExistingRDD scan, hiding the join/agg shape from the final plan).
    * `nodes` and `ranks` carry the precomputed `dang` flag (see
    * [[pageRank]]); `n` is the node count as a literal.
    */
  private[graft] def pageRankStep(nodes: DataFrame, n: Long,
      linkW: DataFrame, ranks: DataFrame, dm: Double,
      damping: Double): DataFrame = {
    val d = lit(damping)
    // Node rows ride through the SAME aggregation as the edge
    // contributions instead of a per-round nodes⋈contribs join:
    // contribution rows carry (id=dst, c=rank/odeg, dang=null), node rows
    // carry (id, c=null, dang) — sum() ignores the null c (merging a null
    // partial is a no-op, so the contribution sums stay BIT-IDENTICAL to
    // the join form), max() picks each id's one non-null dang. One exchange per
    // round, no broadcast build job — and at 100 TB the union scales
    // where broadcasting a corpus-sized node table could not.
    val contribs = linkW
      .join(ranks.select(col("id").as("src"), col("rank")), "src")
      .select(col("dst").as("id"), (col("rank") / col("odeg")).as("c"),
        lit(null).cast("boolean").as("dang"))
    nodes
      .select(col("id"), lit(null).cast("double").as("c"), col("dang"))
      .unionByName(contribs)
      .groupBy("id")
      .agg(sum(col("c")).as("c"), max(col("dang")).as("dang"))
      .select(col("id"),
        ((lit(1.0) - d) / lit(n) +
          d * (coalesce(col("c"), lit(0.0)) + lit(dm) / lit(n)))
          .as("rank"),
        col("dang"))
  }

  /** queries() wrapper: a deterministic 2-out-regular link graph over the
    * documents table — doc i links to (i·31+7) mod N and (i·17+3) mod N
    * (id-space shifted by min(doc_id)); docs with id ≡ 9 (mod 10) emit
    * NOTHING, so the graph has real dangling nodes and the
    * mass-redistribution term is exercised, not just defined. 3 power
    * iterations, rank rounded to 6.
    */
  def qCrawlRank(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select(col("doc_id"))
    val stats = base.agg(count(lit(1)).as("n"), min("doc_id").as("mn"))
    val srcs = base.crossJoin(broadcast(stats)).filter(col("doc_id") % 10 =!= 9)
    def dst(a: Int, b: Int) =
      col("mn") + ((col("doc_id") - col("mn")) * a + b) % col("n")
    val e0 = srcs.select(col("doc_id").as("src"), dst(31, 7).as("dst"))
      .unionByName(srcs.select(col("doc_id").as("src"), dst(17, 3).as("dst")))
    val edges = e0.filter(col("src") =!= col("dst"))
    pageRank(edges, iters = 3)
      .select(col("id"), roundHalfUp(col("rank"), 6).as("rank"))
      .orderBy("id")
  }

  /** queries() wrapper: a deterministic edge set over the documents table —
    * 5-node stars (doc → doc − doc%5) with every-35th docs linking two
    * adjacent stars into one component (so labels must propagate across
    * hops, not just one join). Canonical doc = minimum id per cluster, the
    * keep-rule every dedup pipeline applies.
    */
  def qDedupCluster(s: SparkSession, d: String): DataFrame =
    dedupClusterQuery(Tables.documents(s, d).select(col("doc_id")))

  /** The dedup_cluster query body, `maxIter` exposed so a spec can force
    * non-convergence. The `converged` column carries the loop's convergence
    * flag into the RESULT — a WARN log line in a 100 TB batch job is a line
    * nobody reads; downstream keep-canonical steps must be able to gate on
    * the flag relationally.
    */
  def dedupClusterQuery(base: DataFrame, maxIter: Int = 20): DataFrame = {
    val id = col("doc_id")
    // Star and link edges from ONE scan of `base`: each doc emits its star
    // edge and, every 35th doc, a link edge (a null element otherwise,
    // dropped with the star's self-edges by the src ≠ dst filter).
    val edges = base.select(explode(array(
        struct(id.as("src"), (id - id % 5).as("dst")),
        when(id % 35 === 0 && id >= 5, struct(id.as("src"), (id - 5).as("dst")))
      )).as("e"))
      .select("e.src", "e.dst")
      .filter(col("src") =!= col("dst"))
    val (comps, converged, _) = connectedComponentsWithStats(edges, maxIter)
    comps
      .select(col("id").as("doc_id"), col("comp").as("cluster_id"),
        (col("id") === col("comp")).as("is_canonical"),
        lit(converged).as("converged"))
      .orderBy("doc_id")
  }
}
