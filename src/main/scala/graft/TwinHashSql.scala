package graft

/** DuckDB-SQL twins of the two hash kernels the signature-dedup family is
  * built on — Spark's `Murmur3_x86_32` (the `hash()` function, seed 42) and
  * Spark's `XXH64` (the `xxhash64()` function, seed 42) — restated as pure
  * SQL integer arithmetic, plus the four twin queries
  * (dedup_minhash / dedup_simhash / doc_fingerprint / dedup_fingerprint)
  * built on them. With these, the near-dup signature tier is adjudicated by
  * the same rows/schema/hash oracle gate as the relational operators: the
  * DuckDB side re-derives every minhash permutation, band hash, SimHash bit
  * sum and winnowing window from the raw text, byte for byte.
  *
  * Both kernels follow the public Apache Spark implementations
  * (`org.apache.spark.unsafe.hash.Murmur3_x86_32` / `XXH64`), including
  * Spark's deviations from the canonical algorithms:
  *  - murmur3 processes tail bytes one-per-round as SIGN-EXTENDED ints
  *    (standard murmur3 accumulates up to 3 tail bytes into one k1);
  *  - multi-argument `hash(a, b, ...)` chains the per-value hashes by
  *    seeding each with the previous result (int values via `hashInt`,
  *    long values via `hashLong` low-word-first).
  * Arithmetic notes: 32-bit ops run on BIGINT with `% 2^32` masking
  * (HUGEINT for the one var×const multiply that can exceed 63 bits);
  * 64-bit ops run on HUGEINT with constant multipliers split into hi/lo
  * 32-bit halves so no product exceeds int128; XOR drops to BIGINT
  * two's-complement and back. Verified byte-exact against `hash()` /
  * `xxhash64()` on empty/ASCII/multi-byte/non-BMP strings across lengths
  * 0..100 (all four tail paths and the ≥32-byte XXH64 stripe loop).
  *
  * The emitted SQL leans on DuckDB lateral column aliases (a later SELECT
  * item may reference an earlier alias), which keeps each hash application
  * one CTE instead of a 30-stage chain.
  */
object TwinHashSql {
  private val M64 = "18446744073709551616" // 2^64
  private val M32 = "4294967296" // 2^32

  // ------------------------------------------------ murmur3 x86_32 pieces

  /** (x * c) mod 2^32 for BIGINT x in [0, 2^32); the product can exceed
    * 2^63 so it routes through HUGEINT.
    */
  private def mult32(x: String, c: Long): String =
    s"((($x)::HUGEINT * $c) % $M32)::BIGINT"

  private def rotl32(x: String, r: Int): String =
    s"(((($x) << $r) | (($x) >> ${32 - r})) & 4294967295)"

  private def mixK1(k: String): String =
    mult32(rotl32(mult32(k, 3432918353L), 15), 461845907L)

  private def mixH1(h: String, k: String): String =
    s"((${rotl32(s"xor($h, $k)", 13)}) * 5 + 3864292196) % $M32"

  /** fmix32 as four lateral aliases; returns (aliasDefs, finalName). */
  private def fmix32(p: String, h: String, len: String): (Seq[String], String) = {
    val defs = Seq(
      s"xor($h, $len) AS ${p}g1",
      s"${mult32(s"xor(${p}g1, ${p}g1 >> 16)", 2246822507L)} AS ${p}g2",
      s"${mult32(s"xor(${p}g2, ${p}g2 >> 13)", 3266489909L)} AS ${p}g3",
      s"xor(${p}g3, ${p}g3 >> 16) AS ${p}g4")
    (defs, s"${p}g4")
  }

  /** Byte i (1-based) of the UTF-8 encoding held in hex column `hx`. */
  private def byteAt(hx: String, i: String): String =
    s"('0x' || substr($hx, 2*($i)-1, 2))::BIGINT"

  /** CTE chain computing Spark `hash(incol)` (murmur3, seed 42) over
    * `src` as signed-int-in-BIGINT column `out`; the final CTE is named
    * `cte` and all other columns pass through.
    *
    * The byte-fold lands in its own MATERIALIZED stage: DuckDB expands
    * lateral aliases (and single-use CTEs) by SUBSTITUTION, so a chain of
    * aliases that each reference their predecessor twice re-evaluates the
    * expensive fold exponentially many times — materializing after the
    * fold makes every downstream reference a column read. (Measured: the
    * inlined form cost ~0.25 ms/row; staged, the fold runs once.)
    */
  def mm32Cte(cte: String, src: String, incol: String, out: String): String = {
    val p = s"__${cte}_"
    val hx = s"${p}hx"
    val block = (0 until 4)
      .map(o => s"${byteAt(hx, s"4*j+${o + 1}")} * ${1L << (8 * o)}")
      .mkString("(", " + ", ")")
    val tb = byteAt(hx, "i+1")
    val signedByte = s"(CASE WHEN $tb >= 128 THEN $tb + 4294967040 ELSE $tb END)"
    val (fm, fmOut) = fmix32(p, s"${p}h0", s"${p}nb")
    s"""${cte}_m0 AS MATERIALIZED (SELECT *,
  hex($incol) AS $hx,
  strlen($incol) AS ${p}nb
 FROM $src),
${cte}_m1 AS MATERIALIZED (SELECT *,
  list_reduce(list_prepend(42::BIGINT, list_concat(
      list_transform(range(0, ${p}nb // 4), j -> ${mixK1(block)}),
      list_transform(range(${p}nb - ${p}nb % 4, ${p}nb), i -> ${mixK1(signedByte)}))),
    (h, k) -> (${mixH1("h", "k")})::BIGINT) AS ${p}h0
 FROM ${cte}_m0),
$cte AS MATERIALIZED (SELECT *,
  ${fm.mkString(",\n  ")},
  CASE WHEN $fmOut >= 2147483648 THEN $fmOut - $M32 ELSE $fmOut END AS $out
 FROM ${cte}_m1)"""
  }

  /** CTE chain computing the Spark multi-argument murmur chain
    * `hash(intCol, longCols: _*)` (seed 42) over `src` as column `out` —
    * the band-hash fold of `DedupOps.minhashBands`. The value stays in
    * unsigned [0, 2^32) form: it is only ever a bucket GROUP BY key, and
    * signedness is a bijection. Each per-value hash step is its own
    * MATERIALIZED CTE: DuckDB expands lateral aliases (and plain CTEs) by
    * substitution, and the five chained fmix rounds would otherwise
    * exceed the binder's recursion depth; materialization resets the
    * expansion at each step. The final CTE is named `cte`.
    */
  def hashChainCte(cte: String, src: String, intCol: String,
      longCols: Seq[String], out: String): String = {
    val p = s"__${cte}_"
    // step 0: hashInt(intCol, 42)
    val (f0, f0out) = fmix32(s"${p}i0", s"${p}a0", "4")
    val step0 = s"""${cte}_s0 AS MATERIALIZED (SELECT *,
  ${mixK1(s"($intCol)")} AS ${p}k0,
  ${mixH1("42", s"${p}k0")} AS ${p}a0,
  ${f0.mkString(",\n  ")},
  $f0out AS ${p}h0
 FROM $src)"""
    // step i+1: hashLong(m_i, h_i) — low 32-bit word then high word
    val steps = longCols.zipWithIndex.map { case (m, i) =>
      val name = if (i == longCols.size - 1) cte else s"${cte}_s${i + 1}"
      val (fi, fiout) = fmix32(s"${p}f$i", s"${p}hh$i", "8")
      val outCol = if (i == longCols.size - 1) out else s"${p}h${i + 1}"
      s"""$name AS MATERIALIZED (SELECT *,
  ${mixK1(s"(($m) & 4294967295)")} AS ${p}kl$i,
  ${mixK1(s"((($m) >> 32) & 4294967295)")} AS ${p}kh$i,
  (${mixH1(s"${p}h$i", s"${p}kl$i")})::BIGINT AS ${p}hl$i,
  (${mixH1(s"${p}hl$i", s"${p}kh$i")})::BIGINT AS ${p}hh$i,
  ${fi.mkString(",\n  ")},
  $fiout AS $outCol
 FROM ${if (i == 0) s"${cte}_s0" else s"${cte}_s$i"})"""
    }
    (step0 +: steps).mkString(",\n")
  }

  // ------------------------------------------------------- XXH64 pieces

  private val P1 = -7046029288634856825L // 0x9E3779B185EBCA87
  private val P2 = -4417276706812531889L // 0xC2B2AE3D27D4EB4F
  private val P3 = 1609587929392839161L
  private val P4 = -8796714831421723037L // 0x85EBCA77C2B2AE63
  private val P5 = 2870177450012600261L

  private def u64(l: Long): String = java.lang.Long.toUnsignedString(l)

  /** (x * c) mod 2^64 for HUGEINT x in [0, 2^64) and constant c, with c
    * split into 32-bit halves so no intermediate exceeds int128.
    */
  private def mulc64(x: String, c: Long): String = {
    val chi = c >>> 32
    val clo = c & 0xFFFFFFFFL
    if (chi == 0) s"((($x) * $clo) % $M64)"
    else s"(((($x) * $clo) % $M64) + (((($x) % $M32) * $chi) % $M32) * $M32) % $M64"
  }

  private def rotl64(x: String, r: Int): String =
    s"(((($x) * ${java.lang.Long.toUnsignedString(1L << r)}) % $M64 + ($x) // ${java.lang.Long.toUnsignedString(1L << (64 - r))}) % $M64)"

  private def toS64(v: String): String =
    s"(CASE WHEN ($v) >= 9223372036854775808 THEN (($v) - $M64)::BIGINT ELSE ($v)::BIGINT END)"

  private def xor64(a: String, b: String): String = {
    val x = s"xor(${toS64(a)}, ${toS64(b)})"
    s"(CASE WHEN $x < 0 THEN $x::HUGEINT + $M64 ELSE $x::HUGEINT END)"
  }

  private def addm64(a: String, b: String): String = s"((($a) + ($b)) % $M64)"

  /** xxh64 round: rotl64(acc + inp*P2, 31) * P1, all mod 2^64. */
  private def xxRound(acc: String, inp: String): String =
    mulc64(rotl64(addm64(acc, mulc64(inp, P2)), 31), P1)

  /** One CTE computing Spark `xxhash64(incol)` (seed 42) over `src` as
    * signed BIGINT column `out`. Mirrors Spark's XXH64.hashUnsafeBytes:
    * 32-byte stripes into four accumulators (when length ≥ 32) + merge
    * rounds, then remaining 8-byte words, one optional 4-byte word, then
    * single bytes, then the avalanche.
    */
  def xxh64Cte(cte: String, src: String, incol: String, out: String): String = {
    val p = s"__${cte}_"
    val hx = s"${p}hx"
    def leWord(base: String): String = (0 until 8)
      .map(o => s"${byteAt(hx, s"($base)+${o + 1}")}::HUGEINT * ${1L << (8 * o)}")
      .mkString("(", " + ", ")")
    val stripe = "abcd".zipWithIndex
      .map { case (f, o) => s"'$f': ${leWord(s"32*j+${8 * o}")}" }
      .mkString("{", ", ", "}")
    val init = s"{'a': ${u64(42L + P1 + P2)}::HUGEINT, 'b': ${u64(42L + P2)}::HUGEINT, " +
      s"'c': 42::HUGEINT, 'd': ${u64(42L - P1)}::HUGEINT}"
    val red = "abcd".map(f => s"'$f': ${xxRound(s"h.$f", s"x.$f")}").mkString("{", ", ", "}")
    // struct_extract, not dot access: `__x_v.a` would bind as table.column
    def vf(f: Char): String = s"struct_extract(${p}v, '$f')"
    val h0Stripe = addm64(
      addm64(rotl64(vf('a'), 1), rotl64(vf('b'), 7)),
      addm64(rotl64(vf('c'), 12), rotl64(vf('d'), 18)))
    // merge round: h = (h ^ round(0, v)) * P1 + P4  (mod 2^64)
    def mergeRound(h: String, f: Char): String =
      addm64(mulc64(xor64(h, xxRound("0::HUGEINT", vf(f))), P1), u64(P4))
    val int4 = (0 until 4)
      .map(o => s"${byteAt(hx, s"${p}ib+${o + 1}")}::HUGEINT * ${1L << (8 * o)}")
      .mkString("(", " + ", ")")
    val wStep = addm64(mulc64(rotl64(xor64("h", "k"), 27), P1), u64(P4))
    val bStep = mulc64(rotl64(xor64("h", "k"), 11), P1)
    // One MATERIALIZED stage per chained step: DuckDB expands lateral
    // aliases by SUBSTITUTION, so the h0→h8 chain in one SELECT would
    // re-evaluate each predecessor ~18× per level (measured: >10 ms/row
    // inlined). Materializing makes every reference a column read; the
    // avalanche tail (t1..t4) is cheap column arithmetic and can share
    // one stage.
    s"""${cte}_x0 AS MATERIALIZED (SELECT *,
  hex($incol) AS $hx,
  strlen($incol) AS ${p}nb,
  strlen($incol) // 32 AS ${p}ns
 FROM $src),
${cte}_x1 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}ns > 0 THEN list_reduce(list_prepend($init,
      list_transform(range(0, ${p}ns), j -> $stripe)), (h, x) -> $red)
    ELSE NULL END AS ${p}v
 FROM ${cte}_x0),
${cte}_x2 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}ns > 0 THEN $h0Stripe ELSE ${u64(42L + P5)}::HUGEINT END AS ${p}h0
 FROM ${cte}_x1),
${cte}_x3 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}ns > 0 THEN ${mergeRound(s"${p}h0", 'a')} ELSE ${p}h0 END AS ${p}h1
 FROM ${cte}_x2),
${cte}_x4 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}ns > 0 THEN ${mergeRound(s"${p}h1", 'b')} ELSE ${p}h1 END AS ${p}h2
 FROM ${cte}_x3),
${cte}_x5 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}ns > 0 THEN ${mergeRound(s"${p}h2", 'c')} ELSE ${p}h2 END AS ${p}h3
 FROM ${cte}_x4),
${cte}_x6 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}ns > 0 THEN ${mergeRound(s"${p}h3", 'd')} ELSE ${p}h3 END AS ${p}h4
 FROM ${cte}_x5),
${cte}_x7 AS MATERIALIZED (SELECT *,
  list_reduce(list_prepend(${addm64(s"${p}h4", s"${p}nb::HUGEINT")},
      list_transform(range(4*${p}ns, ${p}nb // 8), j -> ${xxRound("0::HUGEINT", leWord("8*j"))})),
    (h, k) -> $wStep) AS ${p}h6,
  (${p}nb // 8) * 8 AS ${p}ib
 FROM ${cte}_x6),
${cte}_x8 AS MATERIALIZED (SELECT *,
  CASE WHEN ${p}nb % 8 >= 4
    THEN ${addm64(mulc64(rotl64(xor64(s"${p}h6", mulc64(int4, P1)), 23), P2), u64(P3))}
    ELSE ${p}h6 END AS ${p}h7,
  CASE WHEN ${p}nb % 8 >= 4 THEN ${p}ib + 4 ELSE ${p}ib END AS ${p}ib2
 FROM ${cte}_x7),
${cte}_x9 AS MATERIALIZED (SELECT *,
  list_reduce(list_prepend(${p}h7,
      list_transform(range(${p}ib2, ${p}nb), i -> ${mulc64(byteAt(hx, "i+1") + "::HUGEINT", P5)})),
    (h, k) -> $bStep) AS ${p}h8
 FROM ${cte}_x8),
${cte}_xA AS MATERIALIZED (SELECT *,
  ${xor64(s"${p}h8", s"${p}h8 // 8589934592")} AS ${p}t1
 FROM ${cte}_x9),
${cte}_xB AS MATERIALIZED (SELECT *,
  ${xor64(mulc64(s"${p}t1", P2), s"(${mulc64(s"${p}t1", P2)}) // 536870912")} AS ${p}t3
 FROM ${cte}_xA),
$cte AS MATERIALIZED (SELECT *,
  ${toS64(xor64(mulc64(s"${p}t3", P3), s"(${mulc64(s"${p}t3", P3)}) // $M32"))} AS $out
 FROM ${cte}_xB)"""
  }

  // --------------------------------------------------- shared corpus SQL

  /** The planted-duplicate corpus of `DedupOps.plantedCorpus`, text-only
    * projection (same construction as the green dedup_exact/ngram_jaccard
    * twins).
    */
  private val corpusCte: String =
    """base AS (SELECT doc_id, text FROM documents /*GRAFT_DOC_SAMPLE*/),
corpus AS (
  SELECT doc_id, text FROM base
  UNION ALL SELECT doc_id + 1000000, text || ' ' FROM base WHERE doc_id % 7 = 0
  UNION ALL SELECT doc_id + 2000000,
    coalesce(array_to_string(list_slice(string_split(trim(text),' '), 6, 100000), ' '), '')
    FROM base WHERE doc_id % 9 = 0)"""

  /** Distinct word-3-gram sets per doc (the green ngram_jaccard recipe). */
  private val gramSetCte: String =
    """g AS (SELECT doc_id,
       list_distinct(list_transform(range(1, len(w) - 1),
         i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS grams
     FROM (SELECT doc_id, string_split(trim(text), ' ') AS w FROM corpus)
     WHERE len(w) >= 3)"""

  // ------------------------------------------------------- dedup_minhash

  /** The multiply-add permutation constants of `DedupOps.minhashBands` —
    * the SAME `scala.util.Random(0x5eed)` draw order, so the twin's
    * permutations are identical by construction.
    */
  private def minhashPerms(numHashes: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(0x5eed)
    (0 until numHashes).map { _ =>
      val a = rnd.nextInt().toLong | 1L
      val b = rnd.nextInt().toLong
      (a, b)
    }
  }

  /** Twin of `DedupOps.qDedupMinhash` (n=3, 64 hashes, 16 bands of 4,
    * τ=0.4, maxBucket=1000): re-derives murmur gram hashes, the 64
    * permuted mins, the 16 murmur-chain band hashes, the bucket pairing
    * with the degenerate-bucket guard, and the exact-Jaccard verify.
    */
  val dedupMinhash: String = {
    val perms = minhashPerms(64)
    val minAggs = perms.zipWithIndex
      .map { case ((a, b), i) => s"min(((gh * ($a) + ($b)) & 4294967295)) AS m$i" }
      .mkString(",\n    ")
    val bandStructs = (0 until 16)
      .map(b => s"{'band': $b, 'x0': m${4 * b}, 'x1': m${4 * b + 1}, " +
        s"'x2': m${4 * b + 2}, 'x3': m${4 * b + 3}}")
      .mkString("[\n      ", ",\n      ", "]")
    s"""WITH $corpusCte,
$gramSetCte,
gr AS (SELECT doc_id, unnest(grams) AS gram FROM g),
${mm32Cte("mh", "gr", "gram", "gh")},
mins AS (SELECT doc_id,
    $minAggs
  FROM mh GROUP BY doc_id),
bx AS (SELECT doc_id, unnest($bandStructs, recursive := true) FROM mins),
${hashChainCte("bh", "bx", "band", Seq("x0", "x1", "x2", "x3"), "band_hash")},
bc AS (SELECT doc_id, band, band_hash,
    count(*) OVER (PARTITION BY band, band_hash) AS bn FROM bh),
cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
  FROM bc a JOIN bc b ON a.band = b.band AND a.band_hash = b.band_hash
    AND a.doc_id < b.doc_id
  WHERE a.bn <= 1000)
SELECT id1, id2, jaccard FROM (
  SELECT id1, id2,
    floor(CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
      / (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)))
      * 1000000.0 + 0.5) / 1000000.0 AS jaccard
  FROM cand JOIN g ga ON ga.doc_id = id1 JOIN g gb ON gb.doc_id = id2)
WHERE jaccard >= 0.4 ORDER BY id1, id2"""
  }

  // ------------------------------------------------------- dedup_simhash

  /** Twin of `DedupOps.qDedupSimhash` (64-bit SimHash over xxhash64 word
    * hashes, 4×16-bit pigeonhole blocks, Hamming ≤ 3, maxBucket=1000).
    */
  val dedupSimhash: String = {
    val bitSums = (0 until 64)
      .map(b => s"sum(CASE WHEN ((xh >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS bs$b")
      .mkString(",\n    ")
    val fold = (0 until 64).map { b =>
      val bit = if (b == 63) "(-9223372036854775807 - 1)" else s"${1L << b}"
      s"(CASE WHEN bs$b >= 0 THEN $bit ELSE 0 END)"
    }.grouped(4).map(_.mkString(" + ")).mkString("\n      + ")
    val blockStructs = (0 until 4)
      .map(i => s"{'block': $i, 'block_val': ((simhash >> ${16 * i}) & 65535)}")
      .mkString("[", ", ", "]")
    s"""WITH $corpusCte,
tok AS (SELECT doc_id, unnest(string_split(trim(text), ' ')) AS tok FROM corpus),
${xxh64Cte("sx", "tok", "tok", "xh")},
bits AS (SELECT doc_id,
    $bitSums
  FROM sx GROUP BY doc_id),
sh AS (SELECT doc_id, CAST($fold AS BIGINT) AS simhash FROM bits),
bl AS (SELECT doc_id, simhash, unnest($blockStructs, recursive := true) FROM sh),
pr AS (SELECT * FROM (
    SELECT doc_id, simhash, block, block_val,
      count(*) OVER (PARTITION BY block, block_val) AS bn FROM bl)
  WHERE bn <= 1000),
cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
    a.simhash AS sh1, b.simhash AS sh2
  FROM pr a JOIN pr b ON a.block = b.block AND a.block_val = b.block_val
    AND a.doc_id < b.doc_id)
SELECT id1, id2, hamming FROM (
  SELECT id1, id2, CAST(bit_count(xor(sh1, sh2)) AS BIGINT) AS hamming FROM cand)
WHERE hamming <= 3 ORDER BY id1, id2"""
  }

  // ----------------------------------------------------- doc_fingerprint

  /** Winnowing fingerprint summary twin (`TextAnalysis.qDocFingerprint`,
    * k=7, w=4 over raw documents): murmur k-gram hashes in original
    * position order, per-window minima, distinct-count/min/max.
    */
  val docFingerprint: String = winnowSql(
    src = "(SELECT doc_id, text FROM documents)",
    k = 7, w = 4,
    tail = """fps AS (SELECT doc_id,
    list_distinct([list_min(kg[j:j+3]) for j in range(1, len(kg) - 2)]) AS f
  FROM kgl)
SELECT doc_id, CAST(len(f) AS BIGINT) AS n_fingerprints,
  CAST(list_min(f) AS BIGINT) AS fp_min,
  CAST(list_max(f) AS BIGINT) AS fp_max
FROM fps ORDER BY doc_id""",
    withCorpus = false)

  /** Winnowing pair twin (`DedupOps.qDedupFingerprint`, k=30, CORPUS-SIZED
    * w = DedupOps.fingerprintW re-derived in the prw CTE from the base
    * `documents` count with the same integer formula — `length(bin(n-1))`
    * is ⌈log₂ n⌉ by bit length, never float log2 cross-engine —
    * minShared=3, maxBucket=200 over the planted corpus): shared
    * fingerprint buckets → ordered pairs → shared-count threshold. The
    * winnowing window slice and the length gate both read prw.wv as a
    * joined COLUMN (DuckDB lambdas reject subqueries, columns are fine).
    */
  val dedupFingerprint: String = {
    val k = 30
    s"""WITH $corpusCte,
prw AS (SELECT least(58, 10 + 4 * greatest(0, length(bin(count(*) - 1)) - 16)) AS wv
  FROM documents),
d AS (SELECT doc_id, text FROM corpus, prw WHERE length(text) >= ${k - 1} + prw.wv),
pos AS (SELECT doc_id, unnest(range(1, length(text) - ${k - 2})) AS i, text FROM d),
sub AS (SELECT doc_id, i, substr(text, i::INT, $k) AS kgs FROM pos),
${mm32Cte("wf", "sub", "kgs", "kh")},
kgl AS (SELECT doc_id, list(kh ORDER BY i) AS kg FROM wf GROUP BY doc_id),
fps AS (SELECT doc_id,
    list_distinct([list_min(kg[j:j + prw.wv - 1]) for j in range(1, len(kg) - (prw.wv - 2))]) AS f
  FROM kgl, prw),
fpr AS (SELECT doc_id, unnest(f) AS fp FROM fps),
fb AS (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS bn FROM fpr),
pairs AS (SELECT a.doc_id AS id1, b.doc_id AS id2
  FROM fb a JOIN fb b ON a.fp = b.fp AND a.doc_id < b.doc_id
  WHERE a.bn BETWEEN 2 AND 200)
SELECT id1, id2, CAST(count(*) AS BIGINT) AS shared_fps
FROM pairs GROUP BY id1, id2 HAVING count(*) >= 3 ORDER BY id1, id2"""
  }

  /** Shared winnowing scaffold: position explode → k-char substrings →
    * murmur hashes → per-doc ordered hash list `kg`; `tail` continues from
    * CTE `kgl(doc_id, kg)`. The length filter (≥ k+w−1, one full window)
    * matches `TextAnalysis.docFingerprints`.
    */
  private def winnowSql(src: String, k: Int, w: Int, tail: String,
      withCorpus: Boolean): String = {
    val lead = if (withCorpus) s"WITH $corpusCte,\n" else "WITH "
    s"""${lead}d AS (SELECT doc_id, text FROM $src WHERE length(text) >= ${k + w - 1}),
pos AS (SELECT doc_id, unnest(range(1, length(text) - ${k - 2})) AS i, text FROM d),
sub AS (SELECT doc_id, i, substr(text, i::INT, $k) AS kgs FROM pos),
${mm32Cte("wf", "sub", "kgs", "kh")},
kgl AS (SELECT doc_id, list(kh ORDER BY i) AS kg FROM wf GROUP BY doc_id),
$tail"""
  }

  // ------------------------------------------------------ sample_bottomk

  /** Twin of `TextAnalysis.qSampleBottomK`: the seedless bottom-k sample
    * re-derived from the splitmix64 finalizer (`BottomKSample.mix`) in
    * pure SQL — per source, the 10 ids with the SIGNED-smallest hash,
    * emitted in hash order. splitmix64 is a bijection on 64-bit ints, so
    * distinct ids never tie.
    */
  val sampleBottomK: String = {
    // x = (id + C1) mod 2^64; x = ((x ^ x>>>30) * C2); x = ((x ^ x>>>27) * C3); h = x ^ x>>>31
    val c1 = u64(0x9e3779b97f4a7c15L)
    s"""WITH ids AS (SELECT source, doc_id FROM documents),
sm0 AS MATERIALIZED (SELECT *,
  ((CASE WHEN doc_id < 0 THEN doc_id::HUGEINT + $M64 ELSE doc_id::HUGEINT END) + $c1) % $M64 AS x0
 FROM ids),
sm1 AS MATERIALIZED (SELECT *, ${mulc64(xor64("x0", s"x0 // ${1L << 30}"), 0xbf58476d1ce4e5b9L)} AS x1 FROM sm0),
sm2 AS MATERIALIZED (SELECT *, ${mulc64(xor64("x1", s"x1 // ${1L << 27}"), 0x94d049bb133111ebL)} AS x2 FROM sm1),
sm3 AS MATERIALIZED (SELECT *, ${toS64(xor64("x2", s"x2 // ${u64(1L << 31)}"))} AS h FROM sm2),
rk AS (SELECT source, doc_id, h,
    row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM sm3)
SELECT source,
  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY h) AS sample_ids,
  CAST(count(*) AS BIGINT) AS n_sampled
FROM rk WHERE rn <= 10 GROUP BY source ORDER BY source"""
  }

  // ------------------------------------------------------------- ann_lsh

  /** Twin of `AnnOps.qAnnLsh`: the seeded ±1 hyperplanes are re-drawn by
    * the SAME `AnnOps.hyperplanes(8, 5, 64)` call at twin-generation time
    * (identical by construction, like the minhash permutations) and baked
    * into the SQL as constant lists; the twin re-derives every
    * sign-projection bucket, the 1- and 2-bit-flip multiprobe, the candidate
    * join and the exact cosine rerank. The projection guards NaN
    * explicitly (`NOT isnan`): Java's `NaN >= 0` is false while DuckDB
    * orders NaN above every double.
    */
  val annLsh: String = {
    // the FULL plane pool (AnnOps.LshMaxBits per table) baked once; the
    // corpus-sized width is a bit-MASK of the pool bucket, so one static
    // twin serves every corpus size — exactly how the Spark side slices
    // the same pool (AnnOps.lshTopK)
    val planes = operators.AnnOps.hyperplanes(
      tables = 8, bits = operators.AnnOps.LshMaxBits, dim = 64)
    def planeList(h: Array[Double]): String =
      h.map(x => if (x > 0) "1.0" else "-1.0").mkString("[", ",", "]")
    def bucketExpr(tbl: Seq[Array[Double]]): String =
      tbl.zipWithIndex.map { case (h, b) =>
        val proj = s"list_sum(list_transform(range(1, 65), i -> v[i] * (${planeList(h)})[i]))"
        s"(CASE WHEN NOT isnan($proj) AND $proj >= 0 THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    val structs = planes.zipWithIndex
      .map { case (tbl, t) => s"{'tbl': $t, 'bkt': ${bucketExpr(tbl)}}" }
      .mkString("[\n      ", ",\n      ", "]")
    // bits = AnnOps.annLshBits(count, 8) re-derived in pure integer SQL:
    // ceil-div by the target bucket, ceil-log2 via bin() bit length,
    // clamped [5, 20]
    s"""WITH base AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
prm AS (SELECT greatest(5, least(20,
        length(bin(((count(*) + 7) // 8) - 1)))) AS bits FROM base),
n AS (SELECT vec_id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM base),
cb0 AS MATERIALIZED (SELECT vec_id, unnest($structs, recursive := true) FROM base),
cb AS MATERIALIZED (SELECT vec_id, tbl,
       bkt & ((1 << (SELECT bits FROM prm)) - 1) AS bkt FROM cb0),
pb AS (SELECT cb.vec_id AS query_id, cb.tbl, xor(cb.bkt, u.f) AS bkt
       FROM cb, prm, unnest(list_prepend(0::BIGINT, list_concat(list_concat(
         list_transform(range(0, prm.bits), b -> 1::BIGINT << b),
         flatten(list_transform(range(0, prm.bits), a ->
           list_transform(range(a + 1, prm.bits), b ->
             (1::BIGINT << a) | (1::BIGINT << b))))),
         -- third probe ring from 10 bits up (AnnOps.lshTopK flips)
         CASE WHEN prm.bits >= 10 THEN
           flatten(flatten(list_transform(range(0, prm.bits), a ->
             list_transform(range(a + 1, prm.bits), b ->
               list_transform(range(b + 1, prm.bits), c ->
                 (1::BIGINT << a) | (1::BIGINT << b) | (1::BIGINT << c))))))
         ELSE []::BIGINT[] END))) AS u(f)
       WHERE cb.vec_id % 100 = 0),
cand AS (SELECT DISTINCT pb.query_id, cb.vec_id AS neighbor_id
         FROM pb JOIN cb ON cb.tbl = pb.tbl AND cb.bkt = pb.bkt
         WHERE cb.vec_id <> pb.query_id),
p AS (SELECT query_id, neighbor_id,
        list_sum(list_transform(range(1, 65), i -> a.v[i] * b.v[i])) / (a.nrm * b.nrm) AS cos_raw
      FROM cand JOIN n a ON a.vec_id = neighbor_id JOIN n b ON b.vec_id = query_id),
r AS (SELECT query_id, neighbor_id, cos_raw,
        CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS "rank"
      FROM p WHERE cos_raw IS NOT NULL)
SELECT query_id, neighbor_id, "rank", floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank""""
  }

  // ------------------------------------------- stub-embedding twins

  /** CTE chain computing Spark's chained-int hash step — the second link
    * of `xxhash64(text, i)`: `XXH64.hashInt(iCol, seed = seedCol)` where
    * `seedCol` is the (signed BIGINT) string hash from [[xxh64Cte]].
    * Mirrors the public Spark implementation: h = seed + P5 + 4;
    * h ^= (i & 0xFFFFFFFF)·P1; h = rotl(h,23)·P2 + P3; avalanche. One
    * MATERIALIZED stage per chained step (the substitution rule). The
    * final CTE is named `cte` with signed BIGINT column `out`. Verified
    * byte-exact against pyspark `xxhash64(text, i)` for i ∈ {0,1,7,63}
    * over empty/ASCII/multi-byte/non-BMP/100-char strings.
    */
  def xxhashIntCte(cte: String, src: String, seedCol: String, iCol: String,
      out: String): String = {
    val p = s"__${cte}_"
    val ux = s"(CASE WHEN $seedCol < 0 THEN ($seedCol)::HUGEINT + $M64 " +
      s"ELSE ($seedCol)::HUGEINT END)"
    s"""${cte}_i0 AS MATERIALIZED (SELECT *,
  ${addm64(addm64(ux, u64(P5)), "4")} AS ${p}h0,
  ${mulc64(s"($iCol)::HUGEINT", P1)} AS ${p}k
 FROM $src),
${cte}_i1 AS MATERIALIZED (SELECT *,
  ${addm64(mulc64(rotl64(xor64(s"${p}h0", s"${p}k"), 23), P2), u64(P3))} AS ${p}h2
 FROM ${cte}_i0),
${cte}_i2 AS MATERIALIZED (SELECT *, ${xor64(s"${p}h2", s"${p}h2 // 8589934592")} AS ${p}f1 FROM ${cte}_i1),
${cte}_i3 AS MATERIALIZED (SELECT *, ${mulc64(s"${p}f1", P2)} AS ${p}f2 FROM ${cte}_i2),
${cte}_i4 AS MATERIALIZED (SELECT *, ${xor64(s"${p}f2", s"${p}f2 // 536870912")} AS ${p}f3 FROM ${cte}_i3),
${cte}_i5 AS MATERIALIZED (SELECT *, ${mulc64(s"${p}f3", P3)} AS ${p}f4 FROM ${cte}_i4),
$cte AS MATERIALIZED (SELECT *, ${toS64(xor64(s"${p}f4", s"${p}f4 // $M32"))} AS $out FROM ${cte}_i5)"""
  }

  /** Shared scaffold for the two stub-embedding twins: the green
    * text_passages recipe (60-word windows, stride 45), then per DISTINCT
    * passage text the 64 `EmbedOps.stubEmbedding` components — component i
    * is `pmod(xxhash64(text, i), 2e6)/1e6 − 1`, re-derived here as the
    * [[xxh64Cte]] string hash chained through [[xxhashIntCte]]. Ends at
    * CTE `comps(passage, i, comp)`; `pas(doc_id, passage_id, passage)`
    * also remains in scope. The BIGINT→DOUBLE cast, the 1e6 division and
    * the −1.0 are all exactly-rounded IEEE ops, so `comp` is bit-identical
    * to Spark's.
    */
  private val stubEmbeddingCtes: String =
    s"""pw AS (SELECT doc_id, string_split(trim(text), ' ') AS w FROM documents),
pe AS (SELECT doc_id, w, unnest(range(0, len(w), 45)) AS start FROM pw),
pas AS (SELECT doc_id,
    CAST(start // 45 AS BIGINT) AS passage_id,
    array_to_string(list_slice(w, start + 1, start + 60), ' ') AS passage
  FROM pe),
dp AS (SELECT DISTINCT passage FROM pas),
${xxh64Cte("eh", "dp", "passage", "xh")},
ei AS (SELECT passage, xh, unnest(range(0, 64)) AS i FROM eh),
${xxhashIntCte("ec", "ei", "xh", "i", "ch")},
comps AS (SELECT passage, i,
    (((ch % 2000000) + 2000000) % 2000000)::DOUBLE / 1000000.0 - 1.0 AS comp
  FROM ec)"""

  /** Strict left-fold sum of an ordered per-group double list — the same
    * accumulation order as the `DotProduct`/`CosineSim` java loop (a
    * plain `SUM()` aggregate would sum in scan order, which is
    * partition-dependent; the fold is bit-deterministic).
    */
  private def orderedSum(expr: String): String =
    s"list_reduce(list_prepend(0.0::DOUBLE, list(($expr) ORDER BY i)), (a, x) -> a + x)"

  /** Twin of `EmbedOps.qEmbedAttach` (dim=64 stub encoder over 60/15
    * passages): per-passage dims + half-up-rounded L2 norm, the norm²
    * re-derived as the ordered component-square fold.
    */
  val embedAttach: String =
    s"""WITH $stubEmbeddingCtes,
nrm AS (SELECT passage, sqrt(${orderedSum("comp * comp")}) AS nrm
  FROM comps GROUP BY passage)
SELECT p.doc_id, p.passage_id, 64::BIGINT AS n_dims,
  floor(nrm * 10000.0 + 0.5) / 10000.0 AS norm
FROM pas p JOIN nrm ON nrm.passage = p.passage
ORDER BY doc_id, passage_id"""

  /** Twin of `EmbedOps.qSemanticSearch` (k=20, the constant query text of
    * the registered query). The query vector is re-derived at
    * twin-generation time by the same public `XxHash64Function` chain the
    * stub expression folds to, and baked in as exact round-trip double
    * literals; √Σq² is likewise precomputed with `CosineSim`'s own
    * accumulation order. Cosine = orderedDot / (√Σx² · √q-norm), the
    * exact operation order of the codegen'd `CosineSim`.
    */
  val semanticSearch: String = {
    import org.apache.spark.sql.catalyst.expressions.XxHash64Function
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.{IntegerType, StringType}
    val query = "aggregate data pipelines merge documents"
    val h0 = XxHash64Function.hash(UTF8String.fromString(query), StringType, 42L)
    val qv = (0 until 64).map { i =>
      val h = XxHash64Function.hash(i, IntegerType, h0)
      (((h % 2000000) + 2000000) % 2000000).toDouble / 1000000.0 - 1.0
    }
    var ny = 0.0
    qv.foreach(x => ny += x * x) // CosineSim's loop order
    val sqrtNy = math.sqrt(ny)
    val qvl = qv.map(x => s"($x)::DOUBLE").mkString("[", ", ", "]")
    s"""WITH $stubEmbeddingCtes,
sc AS (SELECT passage,
    ${orderedSum("comp * comp")} AS nx,
    ${orderedSum(s"comp * ($qvl)[i + 1]")} AS dot
  FROM comps GROUP BY passage),
cs AS (SELECT passage, dot / (sqrt(nx) * ($sqrtNy)::DOUBLE) AS cos FROM sc)
SELECT doc_id,
  floor(max(cos) * 10000.0 + 0.5) / 10000.0 AS best_cos,
  CAST(count(*) AS BIGINT) AS n_passages
FROM pas p JOIN cs ON cs.passage = p.passage
WHERE NOT isnan(cos)
GROUP BY doc_id
ORDER BY best_cos DESC, doc_id LIMIT 20"""
  }

  // ------------------------------------------------- IVF / Lloyd twins

  /** CTE chain computing Spark `xxhash64(longCol)` (seed 42) over `src`
    * as signed BIGINT column `out` — the single-long path
    * `XXH64.hashLong`: h = seed + P5 + 8; k = rotl(l·P2, 31)·P1;
    * h = rotl(h ^ k, 27)·P1 + P4; avalanche. Verified byte-exact against
    * pyspark `xxhash64(CAST(v AS BIGINT))` for 0 / 5 / 42 / 123456789 /
    * 2^40+7 / −3. One MATERIALIZED stage per chained step (the
    * substitution rule).
    */
  def xxhashLongCte(cte: String, src: String, lCol: String, out: String): String = {
    val p = s"__${cte}_"
    val ul = s"(CASE WHEN $lCol < 0 THEN ($lCol)::HUGEINT + $M64 " +
      s"ELSE ($lCol)::HUGEINT END)"
    s"""${cte}_l0 AS MATERIALIZED (SELECT *,
  ${addm64(addm64("42::HUGEINT", u64(P5)), "8")} AS ${p}h0,
  ${mulc64(rotl64(mulc64(ul, P2), 31), P1)} AS ${p}k
 FROM $src),
${cte}_l1 AS MATERIALIZED (SELECT *,
  ${addm64(mulc64(rotl64(xor64(s"${p}h0", s"${p}k"), 27), P1), u64(P4))} AS ${p}h2
 FROM ${cte}_l0),
${cte}_l2 AS MATERIALIZED (SELECT *, ${xor64(s"${p}h2", s"${p}h2 // 8589934592")} AS ${p}f1 FROM ${cte}_l1),
${cte}_l3 AS MATERIALIZED (SELECT *, ${mulc64(s"${p}f1", P2)} AS ${p}f2 FROM ${cte}_l2),
${cte}_l4 AS MATERIALIZED (SELECT *, ${xor64(s"${p}f2", s"${p}f2 // 536870912")} AS ${p}f3 FROM ${cte}_l3),
${cte}_l5 AS MATERIALIZED (SELECT *, ${mulc64(s"${p}f3", P3)} AS ${p}f4 FROM ${cte}_l4),
$cte AS MATERIALIZED (SELECT *, ${toS64(xor64(s"${p}f4", s"${p}f4 // $M32"))} AS $out FROM ${cte}_l5)"""
  }

  /** 64-dim dot product as DuckDB `list_sum` over the zipped products —
    * verified bit-identical to the codegen'd `DotProduct` loop (strict
    * left fold from +0.0; DuckDB's list_sum is the same strict fold,
    * probed over 2000 random 64-vectors with zero mismatches, and the
    * green ann_topk / dedup_embedding twins rest on the same identity).
    */
  private def dotSql(a: String, b: String, dim: Int = 64): String =
    s"list_sum(list_transform(range(1, ${dim + 1}), i -> $a[i] * $b[i]))"

  /** Assignment SORT KEY against centroid `c`: plain max-dot for the IVF
    * family (near-equal-norm corpus), or the EUCLIDEAN argmin for PQ —
    * via the augmented form argmin‖x−c‖² = argmax(x·c − ‖c‖²/2), whose
    * norm term is the same ascending left-fold sum the Spark side bakes
    * into the augmented centroid (0.5 is a power of two: the multiply is
    * exact on both engines).
    */
  private def assignKeySql(v: String, c: String, dim: Int, euclid: Boolean): String =
    if (!euclid) dotSql(v, c, dim)
    else s"(${dotSql(v, c, dim)} - 0.5 * list_sum(list_transform($c, x -> x * x)))"

  /** Lloyd-trained IVF quantizer re-derived in SQL — the twin of
    * `AnnOps`' one-group Lloyd (`flatLloyd`; deterministic since the
    * ordered-fold update: sample/seed order by xxhash64(vec_id), per-
    * iteration assignment = max-dot/min-cid, update mean = ordered left
    * fold over members sorted by vec_id, one closing division). Emits
    * CTEs over corpus CTE `src(vec_id, v)` ending in
    * `${cte}_cf(cid, cv)` — the trained quantizer, densely re-indexed in
    * cid order exactly like `Ivf2Index.coarse`. `iters` is unrolled (one
    * assignment + one update CTE pair per pass). The `+ 0.0` on the
    * assignment sort key collapses IEEE −0.0 (see AnnOps.noNegZero): the
    * engines disagree on ±0 order, both tie-break on cid once
    * normalized. `nlistSql` is a scalar SQL expression (typically a
    * subquery over a params CTE deriving the corpus-sized cell count
    * from `count(*)` — the same integer formula the Spark side computes
    * from parquet footers), so one static twin serves every scale.
    */
  private def lloydCtes(cte: String, src: String, nlistSql: String,
      iters: Int = 2, trainCap: Int = 100000, dim: Int = 64,
      euclid: Boolean = false): String = {
    val p = cte
    val hash = xxhashLongCte(s"${p}_h", src, "vec_id", s"${p}_hv")
    val seed =
      s"""${p}_ord AS MATERIALIZED (SELECT vec_id, v,
  row_number() OVER (ORDER BY ${p}_hv, vec_id) AS rn FROM ${p}_h),
${p}_samp AS MATERIALIZED (SELECT vec_id, v FROM ${p}_ord WHERE rn <= $trainCap),
${p}_c0 AS MATERIALIZED (SELECT CAST(rn - 1 AS BIGINT) AS cid, v AS cv
  FROM ${p}_ord WHERE rn <= ($nlistSql))"""
    val passes = (1 to iters).map { i =>
      s"""${p}_a$i AS MATERIALIZED (
  SELECT vec_id, v, cid FROM (
    SELECT s.vec_id, s.v, c.cid,
      row_number() OVER (PARTITION BY s.vec_id
        ORDER BY (-(${assignKeySql("s.v", "c.cv", dim, euclid)}) + 0.0::DOUBLE) ASC, c.cid ASC) AS arn
    FROM ${p}_samp s CROSS JOIN ${p}_c${i - 1} c)
  WHERE arn = 1),
${p}_c$i AS MATERIALIZED (
  SELECT cid, list(m ORDER BY pos) AS cv FROM (
    SELECT cid, pos,
      list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY vec_id)), (acc, t) -> acc + t)
        / count(*) AS m
    FROM (SELECT cid, vec_id, t.i AS pos, v[t.i] AS x
          FROM ${p}_a$i, unnest(range(1, ${dim + 1})) AS t(i))
    GROUP BY cid, pos)
  GROUP BY cid)"""
    }
    val dense =
      s"""${p}_cf AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY cid) - 1 AS BIGINT) AS cid, cv
  FROM ${p}_c$iters)"""
    (hash +: seed +: passes :+ dense).mkString(",\n")
  }

  /** Corpus assignment to the trained quantizer — the twin of
    * `AnnOps.nearestCentroid` (`array_position(dots, array_max(dots))`:
    * first index attaining the max = min cid among dots EQUAL to the
    * max; `=` treats ±0.0 equal in both engines, so no normalization is
    * needed on the equality path). Emits CTEs ending in
    * `${cte}(vec_id, cid)`.
    */
  private def assignCtes(cte: String, src: String, cents: String,
      dim: Int = 64, euclid: Boolean = false): String =
    s"""${cte}_d AS MATERIALIZED (
  SELECT b.vec_id, c.cid, ${assignKeySql("b.v", "c.cv", dim, euclid)} AS dt
  FROM $src b CROSS JOIN $cents c),
${cte}_m AS (SELECT vec_id, max(dt) AS md FROM ${cte}_d GROUP BY vec_id),
$cte AS MATERIALIZED (
  SELECT d.vec_id, min(d.cid) AS cid
  FROM ${cte}_d d JOIN ${cte}_m m ON m.vec_id = d.vec_id AND d.dt = m.md
  GROUP BY d.vec_id)"""

  /** Fine level of the two-level quantizer re-derived in SQL — the twin of
    * `AnnOps.ivf2Train` steps 2-5 + the fine half of `ivf2Assign`. Expects
    * the coarse prefix `cp` already emitted over corpus CTE `src(vec_id,
    * v)`: `${cp}_ord` (hash-ranked sample order from [[lloydCtes]]),
    * `${cp}_cf` (trained coarse quantizer) and `$casn(vec_id, cid)` (corpus
    * coarse assignment from [[assignCtes]]). Emits CTEs ending in
    * `${p}_all(gcid, fcid, cv)` — every fine centroid, densely indexed per
    * coarse cell with the coarse-centroid fallback for sample-empty cells —
    * and `${p}_asn(vec_id, gcid, fcid)` — the corpus cell assignment.
    *
    * Step mirror: per-coarse-cell fine counts k_g = clamp(1, 512,
    * ⌈n_g/target⌉) from the EXACT corpus assignment counts; fine seeds =
    * each cell's k_g hash-smallest sample members (rank by the global
    * sample order restricted to the cell — identical to (xxhash64, vec_id)
    * within the cell); `iters` grouped Lloyd passes where assignment joins
    * fine centroids on gcid (argmax dot, ties to min SPARSE fcid — the
    * Spark kernel's first-position tie over matrices held in sparse-fcid
    * order) and the update mean is the same ordered vec_id fold as the
    * coarse level, grouped by (gcid, fcid).
    */
  private def twoLevelCtes(p: String, src: String, cp: String, casn: String,
      target: Int, iters: Int = 2, trainCap: Int = 100000): String = {
    val seed =
      s"""${p}_kg AS MATERIALIZED (
  SELECT cid AS gcid, greatest(1, least(512, (count(*) + ${target - 1}) // $target)) AS kgn
  FROM $casn GROUP BY cid),
${p}_sr AS MATERIALIZED (
  SELECT a.cid AS gcid, o.vec_id, o.v,
    row_number() OVER (PARTITION BY a.cid ORDER BY o.rn) AS crn
  FROM ${cp}_ord o JOIN $casn a ON a.vec_id = o.vec_id
  WHERE o.rn <= $trainCap),
${p}_c0 AS MATERIALIZED (
  SELECT s.gcid, CAST(s.crn - 1 AS BIGINT) AS fcid, s.v AS cv
  FROM ${p}_sr s JOIN ${p}_kg k ON k.gcid = s.gcid WHERE s.crn <= k.kgn)"""
    val passes = (1 to iters).map { i =>
      s"""${p}_a$i AS MATERIALIZED (
  SELECT vec_id, v, gcid, fcid FROM (
    SELECT s.vec_id, s.v, s.gcid, c.fcid,
      row_number() OVER (PARTITION BY s.vec_id
        ORDER BY (-(${dotSql("s.v", "c.cv")}) + 0.0::DOUBLE) ASC, c.fcid ASC) AS arn
    FROM ${p}_sr s JOIN ${p}_c${i - 1} c ON c.gcid = s.gcid)
  WHERE arn = 1),
${p}_c$i AS MATERIALIZED (
  SELECT gcid, fcid, list(m ORDER BY pos) AS cv FROM (
    SELECT gcid, fcid, pos,
      list_reduce(list_prepend(0.0::DOUBLE, list(x ORDER BY vec_id)), (acc, t) -> acc + t)
        / count(*) AS m
    FROM (SELECT gcid, fcid, vec_id, t.i AS pos, v[t.i] AS x
          FROM ${p}_a$i, unnest(range(1, 65)) AS t(i))
    GROUP BY gcid, fcid, pos)
  GROUP BY gcid, fcid)"""
    }
    val tail =
      s"""${p}_dense AS MATERIALIZED (
  SELECT gcid, CAST(row_number() OVER (PARTITION BY gcid ORDER BY fcid) - 1 AS BIGINT) AS fcid, cv
  FROM ${p}_c$iters),
${p}_all AS MATERIALIZED (
  SELECT k.gcid, COALESCE(f.fcid, 0::BIGINT) AS fcid, COALESCE(f.cv, g.cv) AS cv
  FROM ${p}_kg k JOIN ${cp}_cf g ON g.cid = k.gcid
  LEFT JOIN ${p}_dense f ON f.gcid = k.gcid),
${p}_ad AS MATERIALIZED (
  SELECT b.vec_id, a.cid AS gcid, f.fcid, ${dotSql("b.v", "f.cv")} AS dt
  FROM $src b JOIN $casn a ON a.vec_id = b.vec_id
  JOIN ${p}_all f ON f.gcid = a.cid),
${p}_am AS (SELECT vec_id, max(dt) AS md FROM ${p}_ad GROUP BY vec_id),
${p}_asn AS MATERIALIZED (
  SELECT d.vec_id, d.gcid, min(d.fcid) AS fcid
  FROM ${p}_ad d JOIN ${p}_am m ON m.vec_id = d.vec_id AND d.dt = m.md
  GROUP BY d.vec_id, d.gcid)"""
    (seed +: passes :+ tail).mkString(",\n")
  }

  /** Twin of `AnnOps.qAnnIvf` — the TWO-LEVEL quantizer re-derived in
    * full: coarse cell count nc = clamp(4, 512, ⌈n/1024⌉) and coarse
    * probe width cp = max(8, nc/4) from count(*) in the prm CTE (the same
    * integer formulas as AnnOps.ivf2Ncoarse / ivf2Cprobe; fine probe
    * width is the fixed-candidate-volume constant 16 = ivf2NprobeF(100);
    * iters=2, k=10, queries = vec_id % 100 = 0). Coarse Lloyd training +
    * corpus assignment ([[lloydCtes]]/[[assignCtes]]), then the grouped
    * fine level ([[twoLevelCtes]], target 100); probe = top-cp coarse
    * cells per query by (dot desc, gcid), then top-16 of THEIR fine cells
    * by (dot desc, gcid, fcid); exact cosine rerank over probed cells
    * only. Norms and cosines use the same list_sum fold as the green
    * ann_topk/dedup_embedding twins; `+ 0.0` collapses −0.0 in every
    * float sort key exactly as the Spark side does.
    */
  val annIvf: String = {
    s"""WITH base AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
prm AS (SELECT greatest(4, least(512, (count(*) + 1023) // 1024)) AS nc,
        greatest(8, greatest(4, least(512, (count(*) + 1023) // 1024)) // 4) AS cp
        FROM base),
${lloydCtes("lv", "base", "SELECT nc FROM prm")},
${assignCtes("asn", "base", "lv_cf")},
${twoLevelCtes("tl", "base", "lv", "asn", target = 100)},
nrm AS (SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM base),
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id % 100 = 0 /*GRAFT_QUERY_SAMPLE*/),
prg AS MATERIALIZED (
  SELECT query_id, gcid, qv FROM (
    SELECT q.query_id, g.cid AS gcid, q.qv,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY (${dotSql("q.qv", "g.cv")} + 0.0::DOUBLE) DESC, g.cid ASC) AS prn
    FROM q CROSS JOIN lv_cf g)
  WHERE prn <= (SELECT cp FROM prm)),
prf AS MATERIALIZED (
  SELECT query_id, gcid, fcid, qv FROM (
    SELECT p.query_id, f.gcid, f.fcid, p.qv,
      row_number() OVER (PARTITION BY p.query_id
        ORDER BY (${dotSql("p.qv", "f.cv")} + 0.0::DOUBLE) DESC, f.gcid ASC, f.fcid ASC) AS frn
    FROM prg p JOIN tl_all f ON f.gcid = p.gcid)
  WHERE frn <= 16),
cand AS MATERIALIZED (
  SELECT pr.query_id, a.vec_id AS neighbor_id,
    ((${dotSql("b.v", "pr.qv")}) / (na.nrm * nq.nrm) + 0.0::DOUBLE) AS cos_raw
  FROM prf pr JOIN tl_asn a ON a.gcid = pr.gcid AND a.fcid = pr.fcid
  JOIN base b ON b.vec_id = a.vec_id
  JOIN nrm na ON na.vec_id = a.vec_id
  JOIN nrm nq ON nq.vec_id = pr.query_id
  WHERE a.vec_id <> pr.query_id),
r AS (SELECT query_id, neighbor_id, cos_raw,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM cand WHERE cos_raw IS NOT NULL)
SELECT query_id, neighbor_id, "rank", floor(cos_raw * 10000.0 + 0.5) / 10000.0 AS cos_sim
FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank""""
  }

  /** Twin of `AnnOps.qEmbedPq` (m=8 subspaces of 8 dims, k=16 centroids
    * each, iters=2): all eight per-subspace Lloyd trainings re-run in SQL
    * over the SLICED corpus (DuckDB list slices are inclusive:
    * v[lo:lo+7] is the 8-dim subvector), with the EUCLIDEAN assignment
    * key (dot − 0.5·normsq — the twin of the Spark side's augmented-dot
    * kernel form), then per-vector codes joined across subspaces and the
    * squared reconstruction error folded per-dimension then per-subspace
    * in the same left-to-left order as the Spark aggregate/reduce chain.
    */
  private val PqM = 8
  private val PqSd = 8
  private val PqK = 16

  /** The 8 per-subspace PQ training + corpus-assignment CTE blocks,
    * shared by [[embedPq]] and [[annPq]] (raw vectors, src = base) and
    * [[annIvfPq]] (RESIDUAL vectors, src = rbase).
    */
  private def pqTrainCtes(src: String = "base"): String = (0 until PqM).map { s =>
    val lo = s * PqSd + 1
    s"""bs$s AS (SELECT vec_id, v[$lo:${lo + PqSd - 1}] AS v FROM $src),
${lloydCtes(s"pq$s", s"bs$s", PqK.toString, dim = PqSd, euclid = true)},
${assignCtes(s"pa$s", s"bs$s", s"pq${s}_cf", dim = PqSd, euclid = true)}"""
  }.mkString(",\n")

  /** Per-vector joins fetching each subspace's code + chosen centroid. */
  private def pqJoinSql(vecExpr: String = "b.vec_id"): String = (0 until PqM).map { s =>
    s"  JOIN pa$s ON pa$s.vec_id = $vecExpr\n" +
    s"  JOIN pq${s}_cf c$s ON c$s.cid = pa$s.cid"
  }.mkString("\n")

  /** The m-term ADC reconstruction inner product of query column `qv`
    * against the joined chosen centroids — left-assoc sum of 8-dim
    * left-fold dots, the twin of the Spark expression chain. `lead`
    * prepends extra terms INSIDE the left-assoc chain (the residual
    * form's q·c_fine — the Spark side folds it first, so the SQL must
    * too: IEEE addition is order-sensitive).
    */
  private def pqAdcSql(qv: String, lead: Seq[String] = Nil): String =
    (lead ++ (0 until PqM).map { s =>
      val off = s * PqSd
      s"list_sum(list_transform(range(1, ${PqSd + 1}), i -> $qv[$off + i] * c$s.cv[i]))"
    }).mkString("(", "\n      + ", ")")

  val embedPq: String = {
    val codes = (0 until PqM).map(s => s"pa$s.cid").mkString(" || ',' || ")
    val err = (0 until PqM).map { s =>
      s"list_sum(list_transform(range(1, ${PqSd + 1}), i -> (bs$s.v[i] - c$s.cv[i]) * (bs$s.v[i] - c$s.cv[i])))"
    }.mkString("(", "\n      + ", ")")
    val bsJoins = (0 until PqM)
      .map(s => s"  JOIN bs$s ON bs$s.vec_id = b.vec_id").mkString("\n")
    s"""WITH base AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
${pqTrainCtes()}
SELECT vec_id, codes, floor(recon_raw * 1000000.0 + 0.5) / 1000000.0 AS recon_sqerr
FROM (
  SELECT b.vec_id, $codes AS codes,
    $err AS recon_raw
  FROM base b
${pqJoinSql()}
$bsJoins)
ORDER BY vec_id"""
  }

  /** Twin of `AnnOps.qAnnPq` (ADC top-10 over the m=8 × k=16 codes,
    * queries = vec_id % 100 = 0): the same 8 trainings + assignments as
    * [[embedPq]], then per (query, candidate) the m-term reconstruction
    * inner product — each term the 8-dim left-fold dot of the query
    * sub-slice against the CHOSEN centroid, summed left-to-right exactly
    * like the Spark expression chain — ranked per query with −0.0
    * normalized and the neighbor_id tie-break.
    */
  val annPq: String = {
    val adc = pqAdcSql("q.qv")
    s"""WITH base AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
${pqTrainCtes()},
q AS (SELECT vec_id AS query_id, v AS qv FROM base
      WHERE vec_id % 100 = 0 ORDER BY vec_id LIMIT 8),
scored AS MATERIALIZED (
  SELECT q.query_id, b.vec_id AS neighbor_id,
    ($adc + 0.0::DOUBLE) AS adc_raw
  FROM base b
${pqJoinSql()}
  CROSS JOIN q
  WHERE b.vec_id <> q.query_id),
r AS (SELECT query_id, neighbor_id, adc_raw,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_raw DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT query_id, neighbor_id, "rank", floor(adc_raw * 1000000.0 + 0.5) / 1000000.0 AS adc_score
FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank""""
  }

  /** Twin of `AnnOps.qAnnIvfPq` — the IVF-PQ composition re-derived
    * whole: the two-level quantizer training + corpus assignment (the
    * same CTEs as [[annIvf]]), the RESIDUAL corpus r = x − c_fine(x)
    * (one list_transform subtraction over the joined fine centroid —
    * Jégou 2011 §IV), ALL EIGHT PQ codebook trainings + code assignments
    * over the residuals (the same CTE emitters as [[embedPq]]/[[annPq]],
    * src = rbase), the coarse+fine probe carrying the probed fine
    * centroid, and the ADC score q·c_fine + q·r̂ computed ONLY for
    * vectors in probed cells — the q·c_fine dot leads the left-assoc
    * term chain exactly like the Spark fold. Candidate generation by
    * cells, scoring by codes, exactly the Spark plan.
    */
  val annIvfPq: String = {
    s"""WITH base AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
prm AS (SELECT greatest(4, least(512, (count(*) + 1023) // 1024)) AS nc,
        greatest(8, greatest(4, least(512, (count(*) + 1023) // 1024)) // 4) AS cp
        FROM base),
${lloydCtes("lv", "base", "SELECT nc FROM prm")},
${assignCtes("asn", "base", "lv_cf")},
${twoLevelCtes("tl", "base", "lv", "asn", target = 100)},
rbase AS MATERIALIZED (
  SELECT b.vec_id, list_transform(range(1, 65), i -> b.v[i] - f.cv[i]) AS v
  FROM base b JOIN tl_asn a ON a.vec_id = b.vec_id
  JOIN tl_all f ON f.gcid = a.gcid AND f.fcid = a.fcid),
${pqTrainCtes("rbase")},
q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id % 100 = 0 /*GRAFT_QUERY_SAMPLE*/),
prg AS MATERIALIZED (
  SELECT query_id, gcid, qv FROM (
    SELECT q.query_id, g.cid AS gcid, q.qv,
      row_number() OVER (PARTITION BY q.query_id
        ORDER BY (${dotSql("q.qv", "g.cv")} + 0.0::DOUBLE) DESC, g.cid ASC) AS prn
    FROM q CROSS JOIN lv_cf g)
  WHERE prn <= (SELECT cp FROM prm)),
prf AS MATERIALIZED (
  SELECT query_id, gcid, fcid, qv, fcv FROM (
    SELECT p.query_id, f.gcid, f.fcid, p.qv, f.cv AS fcv,
      row_number() OVER (PARTITION BY p.query_id
        ORDER BY (${dotSql("p.qv", "f.cv")} + 0.0::DOUBLE) DESC, f.gcid ASC, f.fcid ASC) AS frn
    FROM prg p JOIN tl_all f ON f.gcid = p.gcid)
  WHERE frn <= 16),
scored AS MATERIALIZED (
  SELECT pr.query_id, a.vec_id AS neighbor_id,
    (${pqAdcSql("pr.qv", Seq(dotSql("pr.qv", "pr.fcv")))} + 0.0::DOUBLE) AS adc_raw
  FROM prf pr
  JOIN tl_asn a ON a.gcid = pr.gcid AND a.fcid = pr.fcid
${pqJoinSql("a.vec_id")}
  WHERE a.vec_id <> pr.query_id),
r AS (SELECT query_id, neighbor_id, adc_raw,
    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adc_raw DESC, neighbor_id) AS BIGINT) AS "rank"
  FROM scored)
SELECT query_id, neighbor_id, "rank", floor(adc_raw * 1000000.0 + 0.5) / 1000000.0 AS adc_score
FROM r WHERE "rank" <= 10 ORDER BY query_id, "rank""""
  }

  /** Twin of `DedupOps.qDedupSemantic` (planted corpus; TWO-LEVEL
    * quantizer with coarse count nc = clamp(4, 512, ⌈n̂/1024⌉) where n̂
    * is the SAME integer estimate the Spark side derives from parquet
    * footers — (count(*) × 12) // 11 over the base table, so a clamp
    * boundary can never split the engines — and fine counts from the
    * exact corpus assignment at target 256 = DedupOps.SemCellTarget;
    * iters=2, τ=0.95, maxBucket=1000): same coarse+fine Lloyd over the
    * planted corpus, candidate pairs only within a (gcid, fcid, label)
    * group of size in (1, maxBucket], exact cosine ≥ τ on the
    * half-up-rounded value — the corpus construction matches the green
    * dedup_embedding twin.
    */
  val dedupSemantic: String = {
    s"""WITH b0 AS (SELECT vec_id, label,
        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
po AS (SELECT 100000 * ((count(*) + 99999) // 100000) AS off FROM b0),
corpus AS (
  SELECT vec_id, label, v FROM b0
  UNION ALL SELECT vec_id + (SELECT off FROM po), label,
    list_transform(v, x -> x * CAST(1.01 AS DOUBLE)) FROM b0 WHERE vec_id % 11 = 0),
prm AS (SELECT greatest(4, least(512, (((count(*) * 12) // 11) + 1023) // 1024)) AS nc FROM b0),
${lloydCtes("lv", "corpus", "SELECT nc FROM prm")},
${assignCtes("asn", "corpus", "lv_cf")},
${twoLevelCtes("tl", "corpus", "lv", "asn", target = 256)},
cells AS (SELECT a.vec_id, a.gcid, a.fcid, c.label, c.v
  FROM tl_asn a JOIN corpus c ON c.vec_id = a.vec_id),
sz AS (SELECT gcid, fcid, label, count(*) AS n FROM cells GROUP BY gcid, fcid, label),
ok AS (SELECT gcid, fcid, label FROM sz WHERE n > 1 AND n <= 1000),
nrm AS (SELECT vec_id, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM corpus),
pairs AS (
  SELECT a.vec_id AS id1, b.vec_id AS id2,
    floor((${dotSql("a.v", "b.v")}) / (n1.nrm * n2.nrm) * 10000.0 + 0.5) / 10000.0 AS cos_sim
  FROM cells a
  JOIN cells b ON b.gcid = a.gcid AND b.fcid = a.fcid
    AND b.label = a.label AND b.vec_id > a.vec_id
  JOIN ok ON ok.gcid = a.gcid AND ok.fcid = a.fcid AND ok.label = a.label
  JOIN nrm n1 ON n1.vec_id = a.vec_id
  JOIN nrm n2 ON n2.vec_id = b.vec_id)
SELECT id1, id2, cos_sim FROM pairs
WHERE cos_sim IS NOT NULL AND cos_sim >= 0.95
ORDER BY id1, id2"""
  }
}
