package graft.operators

import graft.functions.NumFns.roundHalfUp
import graft.Tables
import graft.functions.TextFns._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Checkpoints

/** Deduplication family for a training-data pipeline: exact, n-gram Jaccard,
  * MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * The 100 TB contract (SURVEY §3): candidate generation is always a single
  * shuffle on a blocking key (content hash / LSH band-bucket / SimHash block /
  * label block) and verification happens only within candidate groups —
  * never an all-pairs cross join. AQE skew-join handles pathological buckets
  * (e.g. a boilerplate shingle that lands millions of docs in one band).
  */
object DedupOps {

  /** In-bucket ordered pair expansion shared by the collect_list-based
    * candidate generators (minhash bands, embedding LSH buckets, shared
    * fingerprints): all (id1 < id2) pairs of a sorted id array as structs.
    * Backed by the native codegen'd `SortedIdPairs` kernel (one primitive
    * double loop); `bucketPairsHof` below is the interpreted reference
    * formulation its parity spec checks against.
    */
  private[operators] def bucketPairs(sortedIds: Column): Column = {
    import org.apache.spark.sql.graftbridge.GraftSqlBridge
    explode(GraftSqlBridge.column(
      graft.functions.SortedIdPairs(GraftSqlBridge.expression(sortedIds))))
  }

  /** Interpreted HOF twin of `bucketPairs` — parity-spec reference only. */
  private[operators] def bucketPairsHof(sortedIds: Column): Column =
    explode(flatten(transform(sortedIds, (x, i) =>
      transform(slice(sortedIds, i + 2, size(sortedIds)), y =>
        struct(x.as("id1"), y.as("id2"))))))

  // -------------------------------------------------------------- dedup_exact

  /** Exact dedup: md5 of whitespace/case-normalized text, keep the smallest
    * id per hash group. One shuffle on the hash. Every row keeps its verdict
    * (keep_id, is_dup) so downstream filters are a cheap projection.
    */
  def dedupExact(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = md5(lower(zsTrim(col(textCol))))
    val byHash = Window.partitionBy("content_hash")
    docs
      .withColumn("content_hash", h)
      .withColumn("keep_id", min(col(idCol)).over(byHash))
      .withColumn("is_dup", col(idCol) =!= col("keep_id"))
  }

  /** Planted-duplicate corpus shared by the text-dedup wrappers: the base
    * documents plus exact copies (id+1000000, trailing whitespace — exercises
    * normalization) of every 7th doc, plus near-copies (id+2000000, first 5
    * words dropped) of every 9th doc.
    */
  def plantedCorpus(s: SparkSession, d: String): DataFrame = {
    val base = Tables.documents(s, d).select("doc_id", "lang", "source", "text")
    val exact = base.filter(col("doc_id") % 7 === 0)
      .select((col("doc_id") + 1000000).as("doc_id"), col("lang"), col("source"),
        concat(col("text"), lit(" ")).as("text"))
    val near = base.filter(col("doc_id") % 9 === 0)
      .select((col("doc_id") + 2000000).as("doc_id"), col("lang"), col("source"),
        array_join(slice(spaceTokens(col("text")), 6, 100000), " ").as("text"))
    base.unionByName(exact).unionByName(near)
  }

  def qDedupExact(s: SparkSession, d: String): DataFrame =
    dedupExact(plantedCorpus(s, d), "doc_id", "text")
      .select("doc_id", "content_hash", "keep_id", "is_dup")
      .orderBy("doc_id")

  // ------------------------------------------------------------ ngram_jaccard

  /** Word-3-gram Jaccard pairs ≥ τ within (lang, source) blocks — the
    * all-pairs self-join form. EXACT but quadratic per block: this is the
    * small-SF cross-check used by the prefix-filter equivalence spec, NOT
    * the registered query (`ngramJaccardPairsPrefix` below computes the
    * identical result with a linear candidate plan and is what
    * `qNgramJaccard` runs).
    */
  def ngramJaccardPairs(docs: DataFrame, n: Int, tau: Double, blockCols: Seq[String]): DataFrame = {
    val grams = docs
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .withColumn("grams", wordNgrams(col("w"), n))
      .select((Seq("doc_id", "grams") ++ blockCols).map(col): _*)
    // Alias-based self-join (not renamed projections): both sides stay
    // canonically identical, so Spark's ReuseExchange materializes the
    // shuffled gram table ONCE — the n-gram construction is the expensive
    // part and would otherwise run twice. The shuffle_hash hint matters:
    // size stats undercount the built gram arrays, and the resulting
    // broadcast join would construct them single-threaded on the driver.
    val cond = blockCols
      .map(c => col(s"a.$c") === col(s"b.$c"))
      .reduce(_ && _) && col("a.doc_id") < col("b.doc_id")
    val inter = size(array_intersect(col("g1"), col("g2")))
    val jac = inter / (size(col("g1")) + size(col("g2")) - inter).cast("double")
    grams.hint("shuffle_hash").as("a").join(grams.hint("shuffle_hash").as("b"), cond)
      .select(
        col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        col("a.grams").as("g1"), col("b.grams").as("g2"))
      .withColumn("jaccard", roundHalfUp(jac, 6))
      .filter(col("jaccard") >= tau)
      .select("id1", "id2", "jaccard")
  }

  /** Exact n-gram Jaccard pairs ≥ τ via PREFIX FILTERING — the AllPairs /
    * PPJoin candidate scheme (Bayardo et al., WWW'07; Xiao et al., ICDE'08).
    * Same result set as `ngramJaccardPairs`, bit for bit, but the plan is
    * linear: no all-pairs join anywhere.
    *
    * Principle: order every doc's gram set by a global total order
    * (document-frequency ascending, rarest first; ties on the gram). If
    * |s1 ∩ s2| ≥ α then the first |s_i| − α + 1 grams of each side must
    * share a gram. Jaccard ≥ τ implies |s1 ∩ s2| ≥ ⌈τ·max(|s1|,|s2|)⌉ ≥
    * ⌈τ·|s_i|⌉, so indexing each doc's first |s| − ⌈τ·|s|⌉ + 1 grams and
    * equi-joining on the gram is a complete candidate generator. Common
    * grams rank late in every doc's order, so posting lists for prefix
    * grams stay short — candidates grow ~linearly with the corpus, and the
    * size filter (Jaccard ≥ τ forces |s1|,|s2| within a 1/τ factor) prunes
    * the rest. Exact verification then runs only on candidate docs (the
    * same semi-join pattern as `minhashPairs`).
    *
    * Shuffle budget: one groupBy on the gram (document frequency — partial
    * aggregation combines map-side, so a boilerplate gram that appears in
    * millions of docs still costs one row per input partition on the wire;
    * a window on the gram key would instead colocate every occurrence in a
    * single unsplittable task), one join of the counts back onto the gram
    * rows (AQE splits any residual skewed partition — something window
    * partitions never get), one doc-keyed partial-agg collect whose sorted
    * per-doc array serves BOTH the prefix index and the verify stage's
    * gram sets (per-doc array_sort replaces the earlier full-table window
    * sorts), one equi-join on (gram, block), one distinct — all linear in
    * corpus size. Survives a 100× scale-up.
    */
  def ngramJaccardPairsPrefix(docs: DataFrame, n: Int, tau: Double, blockCols: Seq[String]): DataFrame = {
    val setRows = docs
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .select(col("doc_id") +: blockCols.map(col) :+ explode(wordNgrams(col("w"), n)).as("g"): _*)
    // Every join that carries a DERIVED table (gram counts, prefix rows,
    // collect_set arrays) is pinned to shuffle_hash: size stats undercount
    // generated rows/arrays, so the planner's broadcast choice flips
    // run-to-run — and an accidental broadcast of a corpus-sized side
    // serializes it through the driver (the r2 lesson, now applied to all
    // four candidate/verify joins, which removes the bench variance).
    // Only candIds (small by construction) is left eligible to broadcast.
    val dfCounts = setRows.groupBy("g").agg(count(lit(1)).as("df"))
    // Per-doc (df, g) orders via ONE partial-agg collect + a codegen'd
    // array_sort — struct comparison is field-lexicographic, i.e. exactly
    // the (df ASC, g ASC) total order the prefix scheme needs. The earlier
    // form ranked with TWO window passes over the full gram table (a count
    // and a row_number, each sorting every (doc_id, df, g) row through the
    // big sort machinery — the measured bottleneck); per-doc arrays sort
    // ~|doc| elements per row in parallel instead, and the SAME array
    // serves both the prefix index (a native GetArrayStructFields + slice
    // + explode — no interpreted lambda) and the verify stage's gram sets
    // (grams are distinct per doc by construction, so the sorted g field
    // IS the gram set; array_intersect is order-insensitive).
    val perDoc = setRows
      .join(dfCounts.hint("shuffle_hash"), Seq("g"))
      .groupBy((Seq("doc_id") ++ blockCols).map(col): _*)
      .agg(array_sort(collect_list(struct(col("df"), col("g")))).as("sg"))
      .withColumn("sz", size(col("sg")).cast("long"))
    val prefixLen = (col("sz") - ceil(col("sz") * tau) + 1).cast("int")
    val prefix = perDoc
      .select((Seq("doc_id", "sz") ++ blockCols).map(col) :+
        explode(slice(col("sg").getField("g"), lit(1), prefixLen)).as("g"): _*)
    val cond = blockCols.map(c => col(s"a.$c") === col(s"b.$c"))
      .foldLeft(col("a.g") === col("b.g"))(_ && _) &&
      col("a.doc_id") < col("b.doc_id") &&
      least(col("a.sz"), col("b.sz")) >= greatest(col("a.sz"), col("b.sz")) * tau
    // The candidate pair table is TINY by construction (near-dup pairs ≪
    // corpus) but is referenced three times downstream (the verify join
    // plus both branches of candIds) — an eager checkpoint truncates
    // the lineage so the whole prefix-index subtree is planned and
    // executed ONCE instead of being re-inlined per reference (the
    // un-truncated plan re-derived the gram pipeline ~5×: 322 KB of
    // physical plan and ~130 exchanges at the gate corpus).
    val cand = Checkpoints(prefix.hint("shuffle_hash").as("a")
      .join(prefix.hint("shuffle_hash").as("b"), cond)
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .distinct())
    // Exact verify only for candidate docs — identical formula to the
    // all-pairs form. The gram sets are REBUILT from the candidate docs
    // (semi-join first, then one narrow wordNgrams projection): the old
    // perDoc-semi formulation re-derived the whole corpus gram pipeline
    // (dfCounts groupBy + join + collect) a second time, because nothing
    // materializes perDoc between the two references. wordNgrams is
    // distinct-by-construction and array_intersect/size are
    // order-insensitive, so the raw gram array verifies bit-identically
    // to the df-sorted sg.g projection — and candidates ≪ corpus, so the
    // rebuild is linear in candidates instead of a second corpus pass.
    // Checkpointed for the same reason as `cand`: g1 and g2 are two
    // references (one materialization instead of two corpus scans).
    val candIds = cand.select(col("id1").as("doc_id"))
      .union(cand.select(col("id2"))).distinct()
    val gramSets = Checkpoints(docs
      .join(candIds, Seq("doc_id"), "left_semi")
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), wordNgrams(col("w"), n).as("grams")))
    val inter = size(array_intersect(col("g1"), col("g2")))
    val jac = inter / (size(col("g1")) + size(col("g2")) - inter).cast("double")
    cand
      .join(gramSets.select(col("doc_id").as("id1"), col("grams").as("g1")).hint("shuffle_hash"), "id1")
      .join(gramSets.select(col("doc_id").as("id2"), col("grams").as("g2")).hint("shuffle_hash"), "id2")
      .withColumn("jaccard", roundHalfUp(jac, 6))
      .filter(col("jaccard") >= tau)
      .select("id1", "id2", "jaccard")
  }

  def qNgramJaccard(s: SparkSession, d: String): DataFrame =
    ngramJaccardPairsPrefix(plantedCorpus(s, d), n = 3, tau = 0.4, blockCols = Seq("lang", "source"))
      .orderBy("id1", "id2")

  // ------------------------------------------------------------- dedup_minhash

  /** MinHash signatures: sig[i] = min over shingles of murmur3(shingle, i).
    * Expression-tree form (one array traversal per hash function) — used by
    * the estimation spec; `minhashBands` below is the high-throughput path.
    */
  def minhashSignature(grams: Column, numHashes: Int): Column =
    array((0 until numHashes).map(i =>
      array_min(transform(grams, g => hash(g, lit(i))))): _*)

  /** (doc_id, band, band_hash) from (doc_id, g) shingle rows: murmur3 each
    * shingle ONCE, then `numHashes` cheap permuted-min aggregates with
    * map-side partial aggregation (one shuffle on doc_id), then fold each
    * band's mins into one band hash. Fully codegen'd; partial mins combine
    * before the shuffle, so network volume is docs × numHashes ints
    * regardless of document length.
    */
  def minhashBands(gramRows: DataFrame, numHashes: Int, bands: Int): DataFrame = {
    val rows = numHashes / bands
    val exploded = gramRows
      .select(col("doc_id"), hash(col("g")).cast("long").as("gh"))
    // Permutations beyond the base murmur are the multiply-add universal
    // family h_i(x) = (a_i·x + b_i) mod 2^32 (a_i odd), seeded and
    // deterministic. Two long ops each — inlining 64 murmur bodies instead
    // blows the aggregate update method past the JIT threshold and the whole
    // stage drops to interpreted bytecode (~4× slower end-to-end).
    val rnd = new scala.util.Random(0x5eed)
    val minAggs = (0 until numHashes).map { i =>
      val a = rnd.nextInt().toLong | 1L
      val b = rnd.nextInt().toLong
      min((col("gh") * a + b).bitwiseAND(lit(0xFFFFFFFFL))).as(s"m$i")
    }
    val mins = exploded.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*)
    mins.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        hash(lit(b) +: (0 until rows).map(r => col(s"m${b * rows + r}")): _*)): _*))
        .as(Seq("band", "band_hash")))
  }

  /** MinHash + LSH banding near-dup pairs:
    * shingle → `numHashes` minhashes → `bands` bands of `numHashes/bands`
    * rows → explode to (band, band_hash) keys → self-join on the band key
    * (THE one shuffle) → distinct candidate pairs → verify exact Jaccard ≥
    * τ on the shingle sets. Candidate volume is linear in docs × bands, not
    * quadratic — the scale path for text near-dup at 100 TB.
    */
  /** One row per word n-gram: (doc_id, g). Built with posexplode + `lead`
    * windows instead of higher-order array functions — HOFs are interpreted
    * in Spark and dominate runtime (~10s of a 12s pipeline at sf0.1); this
    * path is whole-stage-codegen end to end. The window's doc_id shuffle is
    * reused by every downstream doc_id aggregation, so the op still costs
    * one logical shuffle.
    */
  def ngramRows(docs: DataFrame, n: Int): DataFrame = {
    val byDocPos = Window.partitionBy("doc_id").orderBy("pos")
    val parts = col("tok") +: (1 until n).map(o => lead("tok", o).over(byDocPos))
    docs
      .withColumn("w", spaceTokens(col("text")))
      .filter(size(col("w")) >= n)
      .select(col("doc_id"), size(col("w")).as("nw"), posexplode(col("w")).as(Seq("pos", "tok")))
      .withColumn("g", concat_ws("_", parts: _*))
      .filter(col("pos") <= col("nw") - n) // last n-1 positions have no full gram
      .select("doc_id", "g")
  }

  def minhashPairs(
      docs: DataFrame,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 16,
      tau: Double = 0.4,
      maxBucket: Int = 1000): DataFrame = {
    val gramRows = ngramRows(docs, n)
    val banded = minhashBands(gramRows, numHashes, bands)
    // Pairs per bucket via collect_list instead of a self-join: the band
    // lineage is computed once (a self-join would run it for both sides) and
    // the only shuffle is the bucket groupBy. Buckets are tiny (near-dup
    // groups), so in-bucket pair expansion is cheap.
    //
    // `maxBucket` is the boilerplate guard: a band whose bucket collects
    // more than `maxBucket` docs is a degenerate shingle cluster ("click
    // here to accept cookies…") whose pair count grows quadratically — the
    // standard web-dedup practice (and the skew story at 100 TB) is to drop
    // the bucket; its members still pair through their other `bands-1`
    // bands whenever they are genuine near-duplicates.
    // Candidate pairs are tiny (near-dup groups) but referenced three
    // times downstream — an eager checkpoint truncates the lineage so
    // the banding subtree plans and runs once (same rationale as
    // ngramJaccardPairsPrefix's checkpoint).
    val cand = Checkpoints(banded
      .groupBy("band", "band_hash")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(bucketPairs(array_sort(col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct())
    // Exact-verify gram sets are built ONLY for candidate docs — and the
    // semi-join now sits BELOW the ngram window: filtering `docs` first
    // means the second pass's posexplode + lead window runs over
    // candidate docs only, instead of re-deriving the full-corpus
    // gramRows subtree (whole-corpus window sort) that nothing had
    // materialized between the two references. Per-doc rows are
    // unchanged (the window partitions by doc_id, so dropping whole docs
    // cannot move any gram), hence collect_set is bit-identical.
    // Checkpointed because g1 and g2 are two references.
    val candIds = cand.select(col("id1").as("doc_id"))
      .union(cand.select(col("id2"))).distinct()
    val gramSets = Checkpoints(
      ngramRows(docs.join(candIds, Seq("doc_id"), "left_semi"), n)
        .groupBy("doc_id")
        .agg(collect_set(col("g")).as("grams")))
    val g1 = gramSets.select(col("doc_id").as("id1"), col("grams").as("g1"))
    val g2 = gramSets.select(col("doc_id").as("id2"), col("grams").as("g2"))
    val inter = size(array_intersect(col("g1"), col("g2")))
    val jac = inter / (size(col("g1")) + size(col("g2")) - inter).cast("double")
    cand
      .join(g1, "id1")
      .join(g2, "id2")
      .withColumn("jaccard", roundHalfUp(jac, 6))
      .filter(col("jaccard") >= tau)
      .select("id1", "id2", "jaccard")
  }

  def qDedupMinhash(s: SparkSession, d: String): DataFrame =
    minhashPairs(plantedCorpus(s, d)).orderBy("id1", "id2")

  // ------------------------------------------------------------- dedup_simhash

  /** (doc_id, simhash) — 64-bit SimHash: bit b is the sign of
    * Σ_tokens (±1 by bit b of xxhash64(token)). Scalar codegen path: explode
    * tokens, xxhash64 each ONCE, 64 conditional-sum aggregates (map-side
    * partial agg, one shuffle on doc_id), then fold the 64 sums into a long.
    * Docs with zero tokens vanish with their empty explode — same contract
    * as the reference's empty-doc skip.
    */
  def simhashTable(docs: DataFrame, textCol: String): DataFrame = {
    val exploded = docs
      .select(col("doc_id"), explode(spaceTokens(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitAggs = (0 until 64).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$b"))
    exploded
      .groupBy("doc_id")
      .agg(bitAggs.head, bitAggs.tail: _*)
      .select(
        col("doc_id"),
        (0 until 64).foldLeft(lit(0L)) { (acc, b) =>
          acc.bitwiseOR(when(col(s"b$b") >= 0, lit(1L << b)).otherwise(0L))
        }.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ `maxHamming`, candidates
    * via the 4×16-bit pigeonhole: distance ≤ 3 ⟹ at least one of the four
    * 16-bit blocks is equal, so candidate generation is one shuffle on
    * (block, value) instead of all-pairs.
    *
    * `maxBucket` is the degenerate-block guard (same pattern as
    * `minhashPairs`): a block value shared by more than `maxBucket` docs
    * (e.g. near-empty documents whose sparse token sums all land on the
    * same sign pattern) would expand quadratically, so the bucket is
    * dropped. Recall note, stated honestly: a pair at Hamming ≤ 2 always
    * has ≥ 2 equal blocks and survives any single dropped bucket, but a
    * pair whose 3 differing bits land in 3 DIFFERENT blocks has exactly one
    * equal block — if that one value is degenerate, the pair is lost. That
    * is the same recall-for-robustness trade `minhashPairs` makes (a doc
    * whose only collisions are boilerplate buckets is indistinguishable
    * from boilerplate), and the guard can be disabled with a large
    * `maxBucket` when exactness matters more than skew safety.
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3, maxBucket: Int = 1000): DataFrame = {
    // The signature table is referenced by THREE downstream subtrees (the
    // degenerate-bucket count, and both sides of the candidate
    // self-join): un-materialized, each re-inlined the 64-aggregate
    // simhash computation plus the corpus token explode (a 117 KB
    // physical plan, 20 exchanges, and 2-3 executions of the most
    // expensive stage). An eager checkpoint runs it ONCE; the table
    // is 16 bytes/doc — negligible storage next to the corpus at any
    // scale (same trade as the family's candidate checkpoints, and the
    // blocks are freed by the ContextCleaner when the result is
    // dropped, or explicitly via Checkpoints.release).
    val sh = Checkpoints(simhashTable(docs, "text"))
    val blocked = sh.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(i =>
        shiftright(col("simhash"), i * 16).bitwiseAND(0xFFFFL)): _*))
        .as(Seq("block", "block_val")))
    // Degenerate buckets are identified with a partial-aggregating count
    // (tiny result — only values shared by >maxBucket docs) broadcast into
    // an anti-join; the candidate join itself stays the codegen'd equi-join
    // with both sides sharing one exchange of the blocked table.
    val big = blocked
      .groupBy("block", "block_val").agg(count(lit(1)).as("bn"))
      .filter(col("bn") > maxBucket)
      .select("block", "block_val")
    val pruned = blocked.join(broadcast(big), Seq("block", "block_val"), "left_anti")
    val cand = pruned.as("x")
      .join(pruned.as("y"), Seq("block", "block_val"))
      .filter(col("x.doc_id") < col("y.doc_id"))
      .select(
        col("x.doc_id").as("id1"), col("y.doc_id").as("id2"),
        col("x.simhash").as("sh1"), col("y.simhash").as("sh2"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sh1").bitwiseXOR(col("sh2"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select("id1", "id2", "hamming")
  }

  def qDedupSimhash(s: SparkSession, d: String): DataFrame =
    simhashPairs(plantedCorpus(s, d)).orderBy("id1", "id2")

  // ---------------------------------------------------------- dedup_embedding

  /** Clone-id offset for the planted embedding mutants: 100000 rounded UP
    * to clear the corpus — a FIXED +100000 collides with real vec_ids once
    * the corpus passes 100k vectors (the ×100 replicate twin has 200k), at
    * which point "planted pair" and "natural pair" ids alias and every
    * planted-recall number is polluted. Pure integer arithmetic from the
    * base count; the twins re-derive it as
    * `100000 * ((count(*) + 99999) // 100000)`, and at every corpus ≤ 100k
    * (all the small-SF gates) it is exactly the historical 100000, so
    * standing records are unchanged.
    */
  def plantedOffset(n: Long): Long =
    100000L * ((math.max(1L, n) + 99999L) / 100000L)

  /** Embedding corpus with planted near-duplicates: every 11th vector is
    * re-added (id + [[plantedOffset]]) scaled by 1.01 — cosine ≈ 1, so
    * thresholding must recover exactly these pairs plus any natural
    * near-dups.
    */
  def plantedEmbeddings(s: SparkSession, d: String): DataFrame = {
    val off = plantedOffset(Tables.rowCountFromFooters(s, d, "embeddings"))
    val base = Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
    val mut = base.filter(col("vec_id") % 11 === 0)
      .select((col("vec_id") + off).as("vec_id"), col("label"),
        transform(col("v"), x => x * 1.01).as("v"))
    base.unionByName(mut)
  }

  /** Cosine near-dup pairs ≥ τ within `label` blocks (blocked cross join —
    * the exact small-SF cross-check used by the LSH equivalence spec, NOT
    * the registered query; `embeddingPairsLsh` below is what
    * `qDedupEmbedding` runs). Similarity runs through the codegen'd
    * `CosineSim` expression — the interpreted `aggregate(zip_with(...))`
    * formulation computes the same doubles ~5× slower.
    */
  def embeddingPairs(vecs: DataFrame, tau: Double): DataFrame = {
    val a = vecs.select(col("label"), col("vec_id").as("id1"), col("v").as("v1"))
    val b = vecs.select(col("label"), col("vec_id").as("id2"), col("v").as("v2"))
    a.join(b, Seq("label"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos_sim", roundHalfUp(
        graft.functions.VectorFns.cosine_sim(col("v1"), col("v2")), 4))
      // !isnan is load-bearing: Spark orders NaN ABOVE every double, so a
      // zero-vector pair's 0/0 cosine would pass >= tau — while the DuckDB
      // twin's x/0 is NULL and drops. Cosine is undefined for zero
      // vectors; exclude them on both sides.
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= tau)
      .select("id1", "id2", "cos_sim")
  }

  /** Cosine near-dup pairs ≥ τ within `label` blocks with candidates from
    * random-hyperplane LSH buckets — the linear-candidate scale form of the
    * blocked cross-join baseline ([[semanticDedupPairs]]'s two-level
    * centroid cells are the density-following production path; hyperplanes
    * are data-blind but need no training pass). Three properties make it a
    * plan and not a disguised cross join:
    *
    *  - **Bucket width scales with the corpus.** `bits` defaults to
    *    ⌈log₂(N / targetBucket)⌉ (clamped to [8, 20]), so the expected
    *    bucket population stays ≈ `targetBucket` no matter how much data
    *    arrives — candidate volume is ~tables · N · targetBucket / 2, i.e.
    *    LINEAR in N, where a fixed bit width would be N²/2^bits.
    *  - **`maxBucket` cap** (same guard as `minhashPairs`): a bucket that
    *    still collects more than `maxBucket` vectors (a direction cluster —
    *    real embeddings are not uniform) is dropped; genuine near-dups in it
    *    survive through their other `tables − 1` tables.
    *  - **`label` is part of the bucket key**, so candidates never cross
    *    labels — identical semantics to the exact blocked form above (the
    *    LSH equivalence spec asserts result equality at small SF).
    *
    * Recall: a pair at cos = 1 (planted duplicates) collides in EVERY table
    * deterministically. At the τ = 0.95 boundary (per-hyperplane agreement
    * 0.898) collision probability is 1 − (1 − 0.898^bits)^tables — e.g.
    * 0.988 at bits = 8, tables = 8 — and rises steeply toward 1 as cos → 1
    * (0.9995 at cos = 0.99): the dup-regime pairs this operator exists for
    * are caught; boundary-grazing pairs degrade gracefully and can be
    * bought back with more tables.
    *
    * The one corpus shuffle is the (table, bucket, label) groupBy; in-bucket
    * pair expansion via collect_list runs on ≤ maxBucket ids; exact cosine
    * verification touches candidates only, and vectors stay out of the
    * shuffle (ids pair first, arrays join back after the distinct).
    */
  def embeddingPairsLsh(
      vecs: DataFrame,
      tau: Double,
      tables: Int = 8,
      bitsOverride: Option[Int] = None,
      dim: Int = 64,
      targetBucket: Int = 8,
      maxBucket: Int = 1000): DataFrame = {
    // NOTE: deriving bits runs ONE eager count() over the input lineage per
    // invocation — the price of a data-dependent plan parameter (the same
    // stats pass AQE pays). Callers that know their corpus size — or can
    // read it from parquet footers (`Tables.rowCountFromFooters`, zero
    // jobs) the way `qDedupEmbedding` does — should pass `bitsOverride`
    // to keep the builder fully lazy.
    val bits = bitsOverride.getOrElse(lshBits(vecs.count(), targetBucket))
    // planes from the fixed pool (first `bits` of each table) so the set
    // a corpus sees is a prefix of the set every other corpus size sees —
    // see AnnOps.LshMaxBits
    val planes = AnnOps.hyperplanes(tables, AnnOps.LshMaxBits, dim).map(_.take(bits))
    val bucketed = vecs.select(
      col("vec_id"), col("label"),
      posexplode(array(planes.map(p => AnnOps.bucketOf(col("v"), p)): _*))
        .as(Seq("table", "bucket")))
    val cand = bucketed
      .groupBy("table", "bucket", "label")
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(bucketPairs(array_sort(col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .distinct()
    cand
      .join(vecs.select(col("vec_id").as("id1"), col("v").as("v1")), "id1")
      .join(vecs.select(col("vec_id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("cos_sim", roundHalfUp(
        graft.functions.VectorFns.cosine_sim(col("v1"), col("v2")), 4))
      // !isnan is load-bearing: Spark orders NaN ABOVE every double, so a
      // zero-vector pair's 0/0 cosine would pass >= tau — while the DuckDB
      // twin's x/0 is NULL and drops. Cosine is undefined for zero
      // vectors; exclude them on both sides.
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= tau)
      .select("id1", "id2", "cos_sim")
  }

  /** Bucket bit width for a corpus of `n` vectors: ⌈log₂(n / targetBucket)⌉
    * clamped to [8, 20] — expected bucket population ≈ targetBucket
    * regardless of corpus size, so candidate volume stays linear in n.
    *
    * Computed as ⌈log₂⌈n/targetBucket⌉⌉ in INTEGER arithmetic
    * ([[AnnOps.ceilLog2]]): equivalent to the real-division form —
    * 2^k ≥ x ⇔ 2^k ≥ ⌈x⌉ for integer 2^k — without the float-log
    * last-ulp seam a DuckDB twin would otherwise have to reproduce.
    */
  def lshBits(n: Long, targetBucket: Int): Int = {
    val m = (math.max(1L, n) + targetBucket - 1) / targetBucket
    math.max(8, math.min(20, AnnOps.ceilLog2(m)))
  }

  /** Registered query: bits come from the parquet FOOTER row count (driver
    * metadata read — building this DataFrame runs zero Spark jobs), scaled
    * by 12/11 for the planted every-11th mutants. Only the log₂ magnitude
    * matters, so the approximation cannot move the clamped bit width.
    */
  def qDedupEmbedding(s: SparkSession, d: String): DataFrame = {
    val n = Tables.rowCountFromFooters(s, d, "embeddings") * 12L / 11L
    embeddingPairsLsh(plantedEmbeddings(s, d), tau = 0.95,
      bitsOverride = Some(lshBits(n, targetBucket = 8)))
      .orderBy("id1", "id2")
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023): k-means-cluster
    * the embeddings with the IVF quantizer, expand candidate pairs ONLY
    * within a cluster cell, exact-verify by cosine ≥ τ — the published
    * recipe for pruning semantically redundant web-scale training data.
    *
    * Centroid blocking vs [[embeddingPairsLsh]]'s hyperplane blocking:
    * identical verify stage, different candidate generator. Clusters
    * follow the DATA's density (Lloyd iterations on the corpus), where
    * hyperplanes are data-blind — a near-dup pair that straddles an
    * unlucky hyperplane still shares a cell. A planted exact duplicate
    * (cos = 1) maps to the same centroid deterministically, so recall on
    * exact dups is 1 by construction; `label` stays in the cell key so
    * candidates never cross labels (same semantics as the exact blocked
    * [[embeddingPairs]], which the equivalence spec compares against).
    *
    * At scale: cells come from the TWO-LEVEL quantizer
    * ([[AnnOps.ivf2Train]]) — coarse routing via the ≤512-row literal
    * kernel, fine cells sized ⌈n_g / [[SemCellTarget]]⌉ per coarse cell
    * from exact corpus counts, so total cells track the corpus with NO
    * global cap (the flat quantizer's 512-cell ceiling bound at sf10:
    * one decade further its within-cell pair expansion went quadratic
    * again). Assignment is one projection + one broadcast join; the ONLY
    * corpus shuffle is the cell groupBy, `maxBucket` sheds degenerate
    * density cells (the same guard as the minhash/simhash/LSH family),
    * and within-cell pair expansion uses the native SortedIdPairs kernel
    * ([[bucketPairs]]).
    */
  def semanticDedupPairs(vecs: DataFrame, tau: Double,
      nOverride: Option[Long] = None, target: Int = SemCellTarget,
      iters: Int = 2, dim: Int = 64, maxBucket: Int = 1000,
      ncoarseOverride: Option[Int] = None): DataFrame = {
    // Deriving the coarse cell count runs ONE eager count() when the
    // caller does not know its corpus size; registered queries pass
    // nOverride from parquet footers (zero jobs — see qDedupSemantic).
    val n = nOverride.getOrElse(vecs.count())
    val idx = AnnOps.ivf2Train(vecs, n, target, iters, dim,
      ncoarseOverride = ncoarseOverride)
    val cand = AnnOps.ivf2Assign(vecs, idx)
      .groupBy("gcid", "fcid", "label")
      .agg(collect_list(col("vec_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(bucketPairs(array_sort(col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
    // no distinct(): each vec_id lands in exactly ONE (gcid, fcid, label)
    // group, so candidate pairs are unique by construction — unlike the
    // multi-table LSH path, where the same pair surfaces from several
    // tables and the dedup shuffle is load-bearing
    cand
      .join(vecs.select(col("vec_id").as("id1"), col("v").as("v1")), "id1")
      .join(vecs.select(col("vec_id").as("id2"), col("v").as("v2")), "id2")
      .withColumn("cos_sim", roundHalfUp(
        graft.functions.VectorFns.cosine_sim(col("v1"), col("v2")), 4))
      // !isnan is load-bearing: Spark orders NaN ABOVE every double, so a
      // zero-vector pair's 0/0 cosine would pass >= tau — while the DuckDB
      // twin's x/0 is NULL and drops. Cosine is undefined for zero
      // vectors; exclude them on both sides.
      .filter(!isnan(col("cos_sim")) && col("cos_sim") >= tau)
      .select("id1", "id2", "cos_sim")
  }

  /** SemDeDup fine-cell population target: ~256 vectors per cell, so the
    * within-cell pair expansion stays ~n × 256 at ANY corpus size (total
    * cells ≈ ⌈n/256⌉ with no cap — the two-level quantizer's point).
    */
  val SemCellTarget = 256

  def qDedupSemantic(s: SparkSession, d: String): DataFrame = {
    // Planted corpus size estimate: footer count × 12/11 for the
    // every-11th mutants, in INTEGER arithmetic — and the twin derives
    // the SAME estimate as (count(*) * 12) // 11 over the base table, so
    // the coarse cell count can never diverge at a clamp boundary (the
    // two sides need PARITY, not exactness; footer count == the twin's
    // count(*) exactly, so the derived estimates are identical).
    val n = Tables.rowCountFromFooters(s, d, "embeddings") * 12L / 11L
    semanticDedupPairs(plantedEmbeddings(s, d), tau = 0.95,
      nOverride = Some(n))
      .orderBy("id1", "id2")
  }

  // -------------------------------------------------------- dedup_fingerprint

  /** Substring-level near-dup pairs: documents sharing ≥ `minShared`
    * winnowing fingerprints (`TextAnalysis.docFingerprints`) — the scalable
    * stand-in for suffix-array substring dedup: a shared run of ≥ k+w−1
    * characters guarantees ONE shared fingerprint, so with the default
    * `minShared = 3` the pairing guarantee applies to runs long enough for
    * ≥ 3 distinct window minima (in practice a few times k+w−1 — winnowing
    * density is ~2/(w+1) fingerprints per position; set `minShared = 1` for
    * the strict single-fingerprint guarantee at the cost of noisier pairs).
    * Either way a long quoted or boilerplate passage pairs two documents
    * even when their WHOLE-doc similarity is far below any Jaccard
    * threshold (the case `ngram_jaccard` and `minhashPairs` deliberately
    * ignore).
    *
    * Same plan contract as the rest of the family: one shuffle on the
    * fingerprint value, `maxBucket` drops degenerate fingerprints (a hash
    * shared by half the web is boilerplate, not quotation), in-bucket pair
    * expansion, and the per-pair shared-fingerprint count IS the
    * verification — no second pass over text.
    *
    * Parameter scale matters: k is CHARACTERS of shared run per k-gram, and
    * the shared-substring guarantee is k+w−1 chars. Short k (7) makes every
    * common English 7-char run a bucket and candidate volume explodes on
    * real text; the defaults (k=30, w=10 → 39-char guaranteed runs,
    * ~6 word spans) sit near the span lengths published training-data
    * substring-dedup uses, where cross-document collisions mean actual
    * shared text.
    */
  /** Corpus-sized winnowing window for the PAIRING path: w = 10 through
    * 2^16 docs, +4 per corpus doubling past it, capped at 58. Fingerprint
    * density is ~2/(w+1) per character, so the candidate volume per doc
    * (the cost the sf10 decade probe measured — 83 fingerprints/doc and
    * 46M candidate pairs at 571k docs, wall ×9.19/decade with NO bucket
    * anywhere near maxBucket: the constant, not the asymptote) shrinks as
    * the corpus grows, while the guaranteed shared-run length k+w−1 rises
    * from 39 chars (≤65k docs — all small-SF gates unchanged) to 55 at
    * ~1M, 87 at the cap: at web scale a SHORT shared run is idiom, not
    * copying — published substring dedup (Lee et al. 2022) keys on
    * 50-token ≈ 250-char spans. Integer arithmetic; the twin re-derives
    * it as `least(58, 10 + 4 * greatest(0, length(bin(count(*) - 1)) -
    * 16))` in a prm CTE.
    */
  def fingerprintW(n: Long): Int =
    math.min(58, 10 + 4 * math.max(0, AnnOps.ceilLog2(math.max(1L, n)) - 16))

  def fingerprintPairs(
      docs: DataFrame,
      k: Int = 30,
      w: Int = 10,
      minShared: Int = 3,
      maxBucket: Int = 200): DataFrame = {
    val fps = TextAnalysis.docFingerprints(docs, "text", k, w)
      .select(col("doc_id"), explode(col("fingerprints")).as("fp"))
    fps
      .groupBy("fp")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
      .select(bucketPairs(array_sort(col("ids"))).as("p"))
      .select(col("p.id1"), col("p.id2"))
      .groupBy("id1", "id2")
      .agg(count(lit(1)).as("shared_fps")) // fingerprints are distinct per doc
      .filter(col("shared_fps") >= minShared)
  }

  def qDedupFingerprint(s: SparkSession, d: String): DataFrame =
    fingerprintPairs(plantedCorpus(s, d),
      w = fingerprintW(Tables.rowCountFromFooters(s, d, "documents")))
      .orderBy("id1", "id2")

  // ----------------------------------------------------------------- span_dedup

  /** C4's three-sentence-span dedup (Raffel et al. 2020: "we removed any
    * three-sentence span that occurred more than once in the dataset",
    * keeping one occurrence — the passage-level exact dedup between
    * line_dedup's lines and minhash's whole docs): sentences split by
    * `splitRegex`, sliding `spanLen`-sentence spans, a span seen >1×
    * keeps only its first occurrence (global (doc_id, position) order) and
    * every other occurrence deletes its covered sentences; docs re-join
    * from the survivors in original order (a fully-deduped doc keeps an
    * emptied row, mirroring line_dedup's contract).
    *
    * Plan: per-doc windows build spans (docs are small — the window
    * partition is one doc), ONE span-key partial-agg groupBy finds counts
    * + first occurrence, victims explode to covered positions and leave in
    * a LEFT ANTI join, reassembly is one doc-key groupBy. No global sort,
    * no span-key window; the span table is the only corpus-sized shuffle.
    */
  def spanDedup(docs: DataFrame, textCol: String, idCol: String,
      splitRegex: String = "(?<=[.!?])\\s+", spanLen: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos0")
    val sents = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), splitRegex)).as(Seq("pos0", "sent")))
      .filter(zsTrim(col("sent")) =!= "")
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "pos", "sent")
    val wp = Window.partitionBy("doc_id").orderBy("pos")
    val spans = (1 until spanLen)
      .foldLeft(sents.withColumn("span", col("sent"))) { (df, i) =>
        df.withColumn("span",
          concat_ws(" ", col("span"), lead(col("sent"), i).over(wp)))
          .withColumn(s"__ok$i", lead(col("sent"), i).over(wp).isNotNull)
      }
      .filter((1 until spanLen).map(i => col(s"__ok$i")).reduce(_ && _))
      .select(col("doc_id"), col("pos"), col("span"))
    val bySpan = spans.groupBy("span").agg(
      count(lit(1)).as("c"),
      min(struct(col("doc_id"), col("pos"))).as("keeper"))
    val victims = spans
      .join(bySpan, Seq("span"))
      .filter(col("c") > 1 &&
        !(col("doc_id") === col("keeper.doc_id") && col("pos") === col("keeper.pos")))
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (spanLen - 1))).as("del_pos"))
      .distinct()
    // Explicit aliases: both sides descend from `docs`, and unaliased
    // sents("doc_id") === victims("doc_id") resolves only through Spark's
    // trivially-true-equals self-join heuristic (and WARNs every run).
    val survivors = sents.alias("sents").join(victims.alias("victims"),
      col("sents.doc_id") === col("victims.doc_id") &&
        col("sents.pos") === col("victims.del_pos"),
      "left_anti")
    val rebuilt = survivors
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("pos"), col("sent"))))
          .getField("sent")).as("t"))
    docs.select(col(idCol).as("doc_id"))
      .join(rebuilt, Seq("doc_id"), "left")
      .withColumn("text_deduped", coalesce(col("t"), lit("")))
      .drop("t")
  }

  /** queries() wrapper: 8 '|'-separated sentences per doc — positions 2-4
    * shared corpus-wide (sentence text keyed by position only), the rest
    * unique per doc — so exactly one three-sentence span duplicates across
    * every doc and only the global first occurrence keeps it. The '|'
    * split regex keeps the oracle inside RE2 (DuckDB has no lookbehind);
    * the default sentence regex is spec-covered.
    */
  def qSpanDedup(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val sent = (k: Int) =>
      if (k >= 2 && k <= 4) concat(lit(s"shared sentence $k"))
      else concat(lit(s"sent $k of doc "), id)
    val text = concat_ws("|", (0 until 8).map(sent): _*)
    spanDedup(
      Tables.documents(s, d).select(id, text.as("text")),
      "text", "doc_id", splitRegex = "\\|")
      .orderBy("doc_id")
  }
}
