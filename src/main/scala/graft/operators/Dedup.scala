package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import scala.util.hashing.MurmurHash3

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), MinHash+LSH banded near-dup, SimHash, and
  * exact n-gram Jaccard. All designed for 100 TB: every candidate
  * generation step is a bucketed equi-join (never an all-pairs cross
  * join); exact verification runs only on candidate pairs.
  */
object Dedup {

  /** Word 3-shingles of a space-separated text column as an array
    * column — guarded so <3-word docs yield an empty array (Spark's
    * `sequence(1,0)` would otherwise produce a DESCENDING sequence). */
  def shingles3(text: Column): Column = {
    val w = split(text, " ")
    when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2))))
      .otherwise(array().cast("array<string>"))
  }

  /** Exact n-gram Jaccard similarity of two texts: |A∩B| / |A∪B| over
    * distinct 3-shingles — integer set sizes, so the division is the
    * only float op (bit-identical across engines). */
  def jaccard3(a: Column, b: Column): Column = {
    val sa = array_distinct(shingles3(a))
    val sb = array_distinct(shingles3(b))
    size(array_intersect(sa, sb)).cast("double") /
      size(array_union(sa, sb))
  }

  /** Asymmetric shingle CONTAINMENT |A∩B| / |A| (Broder 1997's
    * containment vs resemblance): a short document pasted inside a
    * long one scores ~1.0 here while Jaccard dilutes toward
    * |A|/|B| — the metric an exact-substring/quotation audit wants.
    * Empty shingle sets score 0 (sub-3-word docs contain nothing).
    *
    * For ONE metric per row this composes fine; computing SEVERAL
    * metrics over the same pair must instead stage the distinct
    * shingle sets (and their intersection) as projection columns and
    * divide sizes directly — each helper call builds its own shingle
    * subtree with fresh lambda ids, which codegen subexpression
    * elimination cannot unify (the dd_containment entry documents the
    * 12-copies plan the one-select spelling produced). */
  def containment3(a: Column, b: Column): Column = {
    val sa = array_distinct(shingles3(a))
    val sb = array_distinct(shingles3(b))
    when(size(sa) === 0, lit(0.0)).otherwise(
      size(array_intersect(sa, sb)).cast("double") / size(sa))
  }

  /** MinHash+LSH near-duplicate pairs: shingle → minhash → band →
    * bucket-join → exact-Jaccard verify, with r-row banded signatures.
    *
    * Why not MLlib's MinHashLSH: its approxSimilarityJoin buckets on
    * SINGLE minhash values (r=1 per table), so any popular shingle that
    * is the minimum for many documents creates one giant bucket and a
    * quadratic candidate set (measured 20× slower on the testdata
    * corpus). Banding r minhashes per signature makes a collision
    * require r simultaneous matches — P(candidate) = 1-(1-s^r)^b, a
    * sharp threshold — so buckets stay tiny and the bucket equi-join is
    * linear. Candidates then get the exact Jaccard on the shingle sets;
    * `threshold` caps the returned Jaccard DISTANCE (1 − similarity).
    *
    * Input must have columns (id: long, text: string). All hashes are
    * xxhash64 with the band/row index mixed in — deterministic across
    * runs and partitionings. */
  /** Stable 64-bit string hash from two seeded 32-bit murmurs — used by
    * the UDF hot loops (deterministic across runs and partitionings). */
  private def hash64(s: String, seed: Int): Long =
    (MurmurHash3.stringHash(s, seed).toLong << 32) ^
      (MurmurHash3.stringHash(s, seed ^ 0x9e3779b9).toLong & 0xffffffffL)

  /** Distinct word 3-shingles, tight-loop version for the hash
    * pipelines (same semantics as [[shingles3]], which stays a Column
    * expression for the oracle-checked Jaccard query). */
  private[graft] def shingleSet(text: String): Array[String] = {
    // split with limit -1: Java's default drops trailing empty tokens,
    // but Spark SQL split and DuckDB string_split keep them — the
    // Column twin shingles3 and the dd_ngram_jaccard oracle would
    // disagree on texts with trailing spaces otherwise
    val w = text.split(" ", -1)
    if (w.length < 3) Array.empty
    else {
      val set = new scala.collection.mutable.LinkedHashSet[String]
      var i = 0
      while (i <= w.length - 3) {
        set += (w(i) + " " + w(i + 1) + " " + w(i + 2)); i += 1
      }
      set.toArray
    }
  }

  /** DuckDB spelling of [[shingleSet]] over a word-list expression `w`
    * (a `string_split(text, ' ')`): the distinct word 3-shingles —
    * DuckDB slices are 1-based and inclusive, so `w[i:i+2]` is three
    * words — and the empty list below 3 words. One spelling for every
    * oracle that replays the shingle kernel. */
  def sqlShingles3(w: String): String =
    s"list_distinct(list_transform(range(1, len($w) - 1), i -> array_to_string($w[i:i+2], ' ')))"

  /** DuckDB spelling of [[jaccardSim]] over two shingle lists:
    * |A∩B| / |A∪B| as one double division of integer set sizes, and 0
    * for two empty sets. */
  def sqlJaccard(a: String, b: String): String =
    s"coalesce(CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"len(list_distinct(list_concat($a, $b))), 0.0)"

  /** DuckDB query of (id_a, id_b, dist = 1 − [[sqlJaccard]]) over the
    * pairs of rows of tables `a` and `b`, each (id, s) with `s` a
    * distinct shingle list, that share a shingle; `a == b` gives each
    * unordered pair once, id_a < id_b. Each list unnests to (id, n,
    * shingle) rows and a join on the shingle counts k = |A∩B| per
    * pair, so na + nb − k is the integer |A∪B| and the division is
    * [[sqlJaccard]]'s. A pair sharing no shingle is at dist 1.0, so a
    * threshold below 1 keeps the same pairs as the all-pairs
    * [[sqlJaccard]], without scoring every pair. */
  def sqlJaccardPairs(a: String, b: String): String = {
    def rows(t: String) = s"(SELECT id, len(s) AS n, unnest(s) AS g FROM $t)"
    val (prefix, join) =
      if (a == b) (s"WITH u AS MATERIALIZED ${rows(a)}\n",
        "u x JOIN u y ON x.g = y.g AND x.id < y.id")
      else ("", s"${rows(a)} x JOIN ${rows(b)} y ON x.g = y.g")
    prefix +
      s"""SELECT x.id AS id_a, y.id AS id_b,
         |  1.0 - CAST(count(*) AS DOUBLE) / (x.n + y.n - count(*)) AS dist
         |FROM $join
         |GROUP BY x.id, y.id, x.n, y.n""".stripMargin
  }

  /** n minhashes of a shingle set. One base hash per shingle, then n
    * cheap avalanche mixes — the standard trick. A UDF rather than
    * aggregate/zip_with builtins: higher-order-function lambdas
    * evaluate interpreted (outside whole-stage codegen), which measured
    * ~20 s for this corpus at sf0.1 vs well under 1 s in a JVM loop. */
  private def minhashSig(shingles: Array[String], nHash: Int): Array[Long] = {
    val out = Array.fill(nHash)(Long.MaxValue)
    for (s <- shingles) {
      val base = hash64(s, 0x51ab)
      var i = 0
      while (i < nHash) {
        var h = base ^ (0x9e3779b97f4a7c15L * (i + 1))
        h ^= (h >>> 33); h *= 0xff51afd7ed558ccdL; h ^= (h >>> 33)
        if (h < out(i)) out(i) = h
        i += 1
      }
    }
    out
  }

  /** (band index, band signature) keys: signature = hash over the
    * band's r minhashes. Raw-JVM form so MinhashMarginSpec can assert
    * banding recall pair-by-pair under the SAME fixed hash family the
    * plan uses. */
  private[graft] def bandKeys(text: String, bands: Int,
      rowsPerBand: Int): Seq[(Int, Long)] = {
    // docs with no shingles (<3 words) have NO band keys: their
    // untouched all-MaxValue signatures would otherwise all collide
    // into one quadratic bucket — and a 3-gram near-dup relation is
    // undefined for them anyway. Shingle once: this is the per-row
    // hot loop of the dedup path, and shingling dominates it.
    val sh = shingleSet(text)
    if (sh.isEmpty) Seq.empty[(Int, Long)]
    else {
      val mh = minhashSig(sh, bands * rowsPerBand)
      (0 until bands).map { b =>
        var h = 0x27d4eb2fL * (b + 1)
        var r = 0
        while (r < rowsPerBand) {
          h ^= mh(b * rowsPerBand + r)
          h *= 0xc2b2ae3d27d4eb4fL; h ^= (h >>> 29)
          r += 1
        }
        (b, h)
      }
    }
  }

  val bandKeysUdf = udf(bandKeys _)

  /** Distinct 3-shingle set statistics of a text pair in ONE tight JVM
    * pass: (|A|, |B|, |A∩B|) as struct fields (_1, _2, _3); |A∪B| is
    * |A|+|B|−|A∩B| by inclusion-exclusion, so every containment /
    * resemblance metric derives from these three ints with the float
    * division left to codegen. Semantics match the [[shingles3]]
    * Column spelling exactly (same split-with-empties, same n−2
    * shingle count, distinct-set sizes — asserted pair-for-pair vs the
    * expression twin in PipelineOpsSpec). A UDF for the same reason as
    * [[minhashSig]]: the staged higher-order-function spelling
    * evaluates interpreted and re-materializes both shingle ARRAYS per
    * row — measured 1.75 s vs 0.06 s for dd_containment's audit slice
    * at sf0.1 (32×; plans/r18/dd_containment_*.txt). */
  private def shingleStats3(a: String, b: String): (Int, Int, Int) = {
    val sa = shingleSet(a)
    val sb = shingleSet(b)
    val bSet = new java.util.HashSet[String](math.max(8, sb.length * 2))
    var i = 0
    while (i < sb.length) { bSet.add(sb(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < sa.length) { if (bSet.contains(sa(i))) inter += 1; i += 1 }
    (sa.length, sb.length, inter)
  }

  val shingleStats3Udf = udf(shingleStats3 _).withName("shingle_stats3")

  /** Lee et al. span-removal cover in ONE tight per-doc pass (r18
    * optimization): given a doc's tokens (1-based positions) and its
    * duplicate-gram start positions, token p is covered iff some start
    * s lies in [p−(l−1), p] — exactly the
    * `max(when(is_start, p)).over(range [−(l−1), 0]).isNotNull` window
    * the relational spelling evaluated per exploded token. Returns
    * (n_tokens, n_removed, clean_text) with clean_text the uncovered
    * tokens joined by single spaces in position order. The relational
    * cover (posexplode every token + per-doc range window + struct
    * collect/sort/transform reassembly) was the measured hot half of
    * pl_suffix_dedup (~0.85 s of 1.47 s at sf0.1); the two-pointer
    * loop is O(tokens + starts) per doc with no exploded exchange
    * rows. Equivalence is pinned by PipelineOpsSpec's span-removal
    * fixtures and the unchanged DuckDB oracle. */
  private def spanRemoveStats(ws: Array[String], dupStarts: Array[Long],
      l: Int): (Long, Long, String) = {
    // Array params, not Seq (r19): the Seq spelling deserialized as
    // immutable.List, so ws(p - 1) below was an O(p) walk — O(tokens²)
    // per doc on exactly the long documents the span cover exists for.
    val starts = dupStarts.sorted
    val n = ws.length
    var removed = 0L
    val sb = new java.lang.StringBuilder
    var first = true
    var win = 0
    var p = 1
    while (p <= n) {
      while (win < starts.length && starts(win) < p - (l - 1)) win += 1
      if (win < starts.length && starts(win) <= p) removed += 1
      else {
        if (!first) sb.append(' ')
        sb.append(ws(p - 1))
        first = false
      }
      p += 1
    }
    (n.toLong, removed, sb.toString)
  }

  val spanRemoveUdf = udf(spanRemoveStats _).withName("span_remove_stats")

  /** Exact edit-distance ≤ 1 verifier (r18 optimization): returns 0
    * (equal), 1 (one edit), −1 (distance > 1) — value-identical to
    * `levenshtein(a, b, 1)` for EVERY string pair, because ED ≤ 1 has
    * a closed form: equality; one substitution (equal lengths, exactly
    * one mismatched code point); or one indel (lengths differ by 1,
    * prefix + shifted-suffix match). The builtin's banded DP allocates
    * and walks per call — measured 2 µs/pair over the fuzzy join's
    * ~10⁶ candidates (its stage 3.43 s vs 1.68 s with this, sf0.1;
    * output rows identical). Code-point based, matching
    * UTF8String.levenshteinDistance on astral chars; nulls report −1,
    * reproducing the builtin's null-comparison drop at the ≥ 0 keep. */
  private[graft] def editDistanceLe1(a: String, b: String): Int = {
    if (a == null || b == null) -1
    else if (a == b) 0
    else {
      val ac = a.codePoints.toArray
      val bc = b.codePoints.toArray
      val la = ac.length
      val lb = bc.length
      if (la == lb) {
        var i = 0; var diff = 0
        while (i < la && diff < 2) { if (ac(i) != bc(i)) diff += 1; i += 1 }
        if (diff == 1) 1 else -1
      } else if (math.abs(la - lb) == 1) {
        val (s, l) = if (la < lb) (ac, bc) else (bc, ac)
        var i = 0
        while (i < s.length && s(i) == l(i)) i += 1
        var ok = true
        var j = i
        while (j < s.length && ok) { if (s(j) != l(j + 1)) ok = false; j += 1 }
        if (ok) 1 else -1
      } else -1
    }
  }

  val editDistanceLe1Udf = udf(editDistanceLe1 _).withName("edit_distance_le1")

  def minHashPairs(docs: DataFrame, threshold: Double,
      bands: Int = 6, rowsPerBand: Int = 3): DataFrame = {
    val sigs = docs.select(col("id"),
      explode(bandKeysUdf(col("text"), lit(bands), lit(rowsPerBand))).as("bk"))

    // bucket equi-join on (band, signature); only ids travel through
    // the explode+shuffle — shingle sets are joined back just for the
    // verified candidates (at 100 TB, never ship payloads to buckets)
    val a = sigs.select(col("id").as("id_a"), col("bk"))
    val b = sigs.select(col("id").as("id_b"), col("bk"))
    val candidates = a.join(b, "bk")
      .where(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b") // a pair can collide in >1 band

    // exact verify: join texts back for the (few) candidates and run
    // the tight-loop Jaccard on each pair — the interpreted shingles3
    // Column HOF over every doc was the remaining hot spot
    val t = docs.select(col("id"), col("text"))
    candidates
      .join(t.select(col("id").as("id_a"), col("text").as("text_a")), "id_a")
      .join(t.select(col("id").as("id_b"), col("text").as("text_b")), "id_b")
      .withColumn("jaccard_dist",
        lit(1.0) - jaccardTextUdf(col("text_a"), col("text_b")))
      .where(col("jaccard_dist") <= threshold)
      .select("id_a", "id_b", "jaccard_dist")
  }

  /** Asymmetric MinHash+LSH probe of a DELTA corpus against a BASE
    * corpus — the incremental-ingest shape: the base side's band
    * signatures are a precomputable, persistable INDEX (at 100 TB the
    * accumulated corpus signs once and stores (band, sig, id) —
    * ~48 bytes/doc — not on every increment), the delta side signs
    * only the new arrivals, and the bucket equi-join generates
    * delta×base candidates ONLY: no base-base pair is ever formed, so
    * re-deduping yesterday's corpus against itself — the quadratic
    * rework a symmetric [[minHashPairs]] over base ∪ delta would do —
    * never happens. Candidate verification joins texts back for the
    * (few) candidates exactly as in the symmetric operator. Both
    * inputs need columns (id: long, text: string); returns
    * (delta_id, base_id, jaccard_dist ≤ threshold). */
  def minHashPairsAgainst(delta: DataFrame, base: DataFrame,
      threshold: Double, bands: Int = 6, rowsPerBand: Int = 3): DataFrame = {
    def sigs(df: DataFrame, idAs: String) = df.select(col("id").as(idAs),
      explode(bandKeysUdf(col("text"), lit(bands), lit(rowsPerBand))).as("bk"))
    val candidates = sigs(delta, "delta_id").join(sigs(base, "base_id"), "bk")
      .select("delta_id", "base_id")
      .dropDuplicates("delta_id", "base_id") // a pair can collide in >1 band
    candidates
      .join(delta.select(col("id").as("delta_id"), col("text").as("text_d")), "delta_id")
      .join(base.select(col("id").as("base_id"), col("text").as("text_b")), "base_id")
      .withColumn("jaccard_dist",
        lit(1.0) - jaccardTextUdf(col("text_d"), col("text_b")))
      .where(col("jaccard_dist") <= threshold)
      .select("delta_id", "base_id", "jaccard_dist")
  }

  /** Exact 3-shingle Jaccard of two raw texts (tight-loop twin of
    * [[jaccard3]]; same integer set sizes → bit-identical quotient).
    * Used on LSH candidate pairs and wherever the Column-HOF version's
    * interpreted evaluation would dominate. */
  def jaccardText(a: Column, b: Column): Column = jaccardTextUdf(a, b)

  /** Raw-JVM twin for callers outside Column reach (the streaming
    * index's in-state candidate verification). Same integer set sizes
    * → bit-identical quotient with the UDF/HOF spellings. */
  private[graft] def jaccardSim(a: String, b: String): Double = {
    // One membership-counting pass (r19, guide §1.2): shingleSet already
    // returns distinct shingles, so |A∩B| is countable against one
    // HashSet without materializing two immutable Sets plus their
    // intersection set per call (the former toSet/intersect spelling —
    // interleaved A/B on the dd_components verify stage: 0.96 → 0.78 s
    // at sf0.1, 1404 output rows identical). Value-identical by
    // construction: same shingle universe, same counts, same ratio.
    val sa = shingleSet(a)
    val sb = shingleSet(b)
    val bs = new java.util.HashSet[String](math.max(8, sb.length * 2))
    var i = 0
    while (i < sb.length) { bs.add(sb(i)); i += 1 }
    var inter = 0
    i = 0
    while (i < sa.length) { if (bs.contains(sa(i))) inter += 1; i += 1 }
    val union = sa.length + sb.length - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  private val jaccardTextUdf = udf(jaccardSim _)

  /** 64-bit SimHash of the word tokens: per token a stable 64-bit hash
    * (xxhash64); bit i votes +1/-1 weighted by token occurrence; the
    * sign vector re-packs into a BIGINT. Pure per-row array math — no
    * shuffle; candidates come from equality on 16-bit bands. */
  // Array param (r19): the Seq spelling built an immutable.List per
  // row (a cons cell per token) just to foreach it once.
  private val simHashUdf = udf((tokens: Array[String]) => {
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = hash64(t, 0x7a3c)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) out |= (1L << i); i += 1 }
    out
  })

  /** A UDF, not an aggregate/zip_with builtin combo: the 64-way bit
    * loop inside a higher-order-function lambda evaluates interpreted
    * (HOFs sit outside whole-stage codegen) and measured ~16 s at
    * sf0.1; the JVM loop is ~100× cheaper. Sign-bit packing: bit i set
    * iff the i-th vote is positive (an opaque 64-bit fingerprint). */
  def simHash64(text: Column): Column = simHashUdf(split(text, " "))

  /** The b-th 16-bit band of a 64-bit simhash (b in 0..3) — the LSH
    * bucketing key for hamming-distance candidates. */
  def simHashBand(h: Column, b: Int): Column =
    shiftright(h, b * 16).bitwiseAND(0xffffL)

  /** Hamming-LSH band geometry — Manku's block design (WWW'07 §3) as
    * an ENGINE PARAMETER (VERDICT r17 #1): the 64-bit fingerprint is
    * split into `blocks.length` contiguous bit blocks (LSB-first
    * widths), and each of the C(B, k) tables keys on the
    * concatenation of a distinct (B−k)-subset of blocks. A pair
    * within Hamming ≤ k flips bits in ≤ k blocks, so at least one
    * keyed (B−k)-subset is untouched and the pair collides in that
    * table — the pigeonhole recall guarantee, derived from the
    * parameters instead of hard-coded. Per-table random-collision
    * volume is ~n²/2^keyBits, so widening keys with log₂ n keeps
    * candidates ∝ n — the knob the fixed 4×16 design lacked (the sf30
    * rung measured its n²/2^16 saturation: ~5×10⁸ candidate rows /
    * ~50 GB shuffle at 4.5M video frames). B=4, k=3 with 16-bit
    * blocks IS the legacy design, bit-for-bit. */
  final case class BandGeometry(blocks: Seq[Int], k: Int) {
    require(blocks.sum == 64 && blocks.forall(_ > 0) &&
      k >= 1 && blocks.length > k, s"bad geometry: blocks=$blocks k=$k")
    /** LSB offset of each block. */
    val offsets: Seq[Int] = blocks.scanLeft(0)(_ + _).init
    /** One LSH table per (B−k)-subset of blocks, lexicographic — for
      * B=4, k=3 exactly the legacy single-block band order. */
    val combos: Seq[Seq[Int]] =
      blocks.indices.combinations(blocks.length - k).map(_.toSeq).toSeq
    val nTables: Int = combos.length
    /** Narrowest table key in bits — the sizing input: random
      * collisions per table ≈ n² / 2^minKeyBits. */
    val minKeyBits: Int = combos.map(_.map(blocks).sum).min
    /** Packed key of table `t` for fingerprint `ph` — the JVM twin of
      * the Column and SQL spellings (spec parity anchor). Blocks pack
      * LSB-first in combo order; OR over disjoint bit ranges. */
    def key(ph: Long, t: Int): Long = {
      var acc = 0; var out = 0L
      combos(t).foreach { b =>
        out |= ((ph >>> offsets(b)) & ((1L << blocks(b)) - 1)) << acc
        acc += blocks(b)
      }
      out
    }
  }

  /** The legacy 4×16 single-block geometry (B=4, k=3) — the default
    * everywhere; its table keys equal [[simHashBand]] exactly. The
    * fixed-band media oracles replay it through [[bandSqlCte]], whose
    * [[bandSqlValues]] rows for this geometry are the single-block
    * bands `(ph >> 16b) & 65535` (pinned in BandGeometrySpec).
    * Right up to ~65k items; larger corpora size up via
    * [[geometryFor]]. */
  val Geometry4x16: BandGeometry = BandGeometry(Seq(16, 16, 16, 16), 3)

  private val LadderB = Seq(4, 5, 6, 8)
  private def blocksFor(bCount: Int): Seq[Int] = {
    val base = 64 / bCount
    val rem = 64 % bCount
    Seq.tabulate(bCount)(i => if (i < rem) base + 1 else base)
  }

  /** The geometry sizing rule, applied at pipeline-DESIGN time the
    * way production LSH tables are sized for their corpus: the
    * smallest ladder geometry whose narrowest key still carries
    * ≥ ⌈log₂ n⌉ bits, so per-table random collisions stay ≤ ~1 per
    * item and total candidate volume is ∝ n · nTables. Ladder at
    * k=3: B=4 → 16-bit keys / 4 tables (n ≤ 65k); B=5 → ≥25-bit / 10
    * (n ≤ 33M); B=6 → ≥31-bit / 20 (n ≤ 2G); B=8 → 40-bit / 56
    * beyond. An oracle-replayed entry pins ONE geometry (chosen for
    * its design corpus) because the replay SQL is static text. */
  def geometryFor(n: Long, k: Int = 3): BandGeometry = {
    require(k == 3, s"ladder is derived for the Hamming<=3 guarantee, got k=$k")
    val need = // ceil(log2 n), clamped so n<=2 asks for 1 bit
      64 - java.lang.Long.numberOfLeadingZeros(math.max(n - 1, 1L))
    LadderB.iterator.map(b => BandGeometry(blocksFor(b), k))
      .find(_.minKeyBits >= need.toInt)
      .getOrElse(BandGeometry(blocksFor(LadderB.last), k))
  }

  /** Column spelling of [[BandGeometry.key]] — stays inside
    * whole-stage codegen (shift/mask/or literals only). */
  private def bandKeyCol(ph: Column, g: BandGeometry, t: Int): Column = {
    var acc = 0
    var out: Column = lit(0L)
    g.combos(t).foreach { b =>
      val ext = shiftright(ph, g.offsets(b))
        .bitwiseAND(lit((1L << g.blocks(b)) - 1))
      out = out.bitwiseOR(shiftleft(ext, acc))
      acc += g.blocks(b)
    }
    out
  }

  /** The exploded (band, bv) struct column for a geometry — the
    * blocking-key generator shared by the hammingBandPairs family. */
  private def bandStructs(ph: Column, g: BandGeometry): Column =
    explode(array((0 until g.nTables).map(t =>
      struct(lit(t).as("band"), bandKeyCol(ph, g, t).as("bv"))): _*))

  /** DuckDB replay of a [[BandGeometry]]: a VALUES relation
    * `t(b, o0, m0, f0, o1, m1, f1, o2, m2, f2)` to cross-join against
    * the fingerprint rows, with the key spelled by [[bandSqlKey]].
    * `+` with power-of-two factors ≡ the engine's shiftleft/OR
    * because block bit ranges are disjoint; unused slots mask to 0.
    * Supports ≤3-block keys (every B ≤ 6 ladder rung — all the
    * oracle-replayed scales). Generated from the SAME geometry object
    * the engine runs, so the two spellings cannot drift. */
  def bandSqlValues(g: BandGeometry): String = {
    require(g.combos.forall(_.length <= 3),
      s"SQL replay supports <=3-block keys, geometry has ${g.combos.head.length}")
    val rows = g.combos.zipWithIndex.map { case (combo, t) =>
      var acc = 0
      val slots = combo.map { b =>
        val f = 1L << acc
        acc += g.blocks(b)
        (g.offsets(b), (1L << g.blocks(b)) - 1, f)
      }
      val padded = slots ++ Seq.fill(3 - slots.length)((0, 0L, 0L))
      s"($t, ${padded.map { case (o, m, f) => s"$o, $m, $f" }.mkString(", ")})"
    }
    s"(VALUES ${rows.mkString(",\n   ")}) t(b, o0, m0, f0, o1, m1, f1, o2, m2, f2)"
  }

  /** The key expression over [[bandSqlValues]]' columns. */
  def bandSqlKey(ph: String): String =
    s"((($ph >> t.o0) & t.m0) * t.f0 + (($ph >> t.o1) & t.m1) * t.f1" +
      s" + (($ph >> t.o2) & t.m2) * t.f2)"

  /** The media oracles' band rows: CTE `bands`(id, keys…, ph, b, k),
    * one row per fingerprint of `from`(id, keys…, ph) and table of
    * `g` — the SQL twin of [[hammingBandPairs]]' blocking keys. */
  def bandSqlCte(from: String, keys: Seq[String] = Nil,
      g: BandGeometry = Geometry4x16): String =
    s"""bands AS MATERIALIZED (SELECT id, ${keys.map(_ + ", ").mkString}ph, t.b,
       |   ${bandSqlKey("ph")} AS k
       | FROM $from, ${bandSqlValues(g)})""".stripMargin

  /** Candidate pairs sharing at least one 16-bit band, verified by
    * hamming distance (bit_count of XOR) ≤ maxHamming. The band join is
    * an equi-join on (band index, band value) after a 4× explode. */
  def simHashPairs(docs: DataFrame, maxHamming: Int): DataFrame =
    hammingBandPairs(
      docs.select(col("id"), simHash64(col("text")).as("ph")), maxHamming)

  /** Banded Hamming near-dup pairs over ANY precomputed 64-bit
    * fingerprint column — the LSH step shared by SimHash (text) and
    * dHash (image payloads, mm_near_dup): [[BandGeometry]] table keys
    * (default the 4×16 legacy design; size with [[geometryFor]] for
    * the corpus), a key equi-join (never all-pairs; only ids and the
    * 8-byte fingerprints travel), then the exact Hamming verify on
    * the candidates. Complete for Hamming ≤ geom.k by the pigeonhole
    * derivation at [[BandGeometry]]; pairs at k+1..maxHamming are
    * returned when any table collides. Input columns:
    * (id: long, ph: long). */
  def hammingBandPairs(hashes: DataFrame, maxHamming: Int,
      geom: BandGeometry = Geometry4x16): DataFrame = {
    val banded = hashes.select(col("id"), col("ph"),
      bandStructs(col("ph"), geom).as("bk"))
    val a = banded.select(col("id").as("id_a"), col("ph").as("ph_a"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("ph").as("ph_b"), col("bk"))
    a.join(b, "bk")
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long").as("hamming"))
      .distinct() // a pair can match in >1 band
      .where(col("hamming") <= maxHamming)
  }

  /** Asymmetric banded Hamming probe of a DELTA fingerprint set
    * against a BASE fingerprint index — [[minHashPairsAgainst]]'s
    * media twin, closing the incremental-ingest matrix for the
    * perceptual-hash modalities (image dHash, audio energy-envelope,
    * per-frame video via pre-flattened (id, ph) rows): band keys on
    * both sides, a (band, value) equi-join that forms delta×base
    * candidates ONLY — the base is never re-probed against itself,
    * and at 100 TB its 4 band keys per fingerprint are a precomputed
    * stored index (~40 bytes/item) — then the exact Hamming verify on
    * the candidates. Same recall contract as [[hammingBandPairs]]:
    * complete for Hamming ≤ 3 by Manku's pigeonhole, best-effort at
    * 4..maxHamming. Only ids + 8-byte fingerprints travel. Input
    * columns both sides: (id: long, ph: long); returns (delta_id,
    * base_id, hamming ≤ maxHamming). */
  def hammingBandPairsAgainst(delta: DataFrame, base: DataFrame,
      maxHamming: Int, geom: BandGeometry = Geometry4x16): DataFrame = {
    def banded(df: DataFrame, idAs: String, phAs: String) =
      df.select(col("id").as(idAs), col("ph").as(phAs),
        bandStructs(col("ph"), geom).as("bk"))
    banded(delta, "delta_id", "ph_d").join(banded(base, "base_id", "ph_b"), "bk")
      // fingerprints stay in the dedup key (ADVICE r17 #4): if ids ever
      // alias across items within a side, equal-hamming collisions must
      // collapse exactly as the oracle's DISTINCT (id, id, pd, pb) does
      .select(col("delta_id"), col("base_id"), col("ph_d"), col("ph_b"))
      .distinct() // a pair can collide in >1 band
      .select(col("delta_id"), col("base_id"),
        bit_count(col("ph_d").bitwiseXOR(col("ph_b"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Banded Hamming near-dup pairs over SEQUENCES of 64-bit
    * fingerprints (one per video frame — mm_video_near_dup): the band
    * key gains the frame index, so candidates must collide on the SAME
    * frame's band — temporal alignment is part of the identity, the
    * way real video fingerprinting keys (frame_no, phash) — and a
    * pair must agree on total frame count. Exact verify on candidates
    * only: total Hamming over the aligned sequences ≤ maxHamming.
    * Recall: a pair whose sequences share ANY frame with per-frame
    * Hamming ≤ 3 is guaranteed a colliding band on that frame
    * (Manku's pigeonhole per frame) — in particular any pair with an
    * untouched frame. Only ids + 8-byte hashes travel; candidate
    * pairs join back to the (id, f, ph) frame table, never to
    * payloads. Input columns: (id: long, nf: long, f: long, ph: long)
    * — one row per frame.
    *
    * The plan references `framed` four times (two self-join sides +
    * two verify join-backs), so a decode-expensive input re-runs its
    * scan per reference: at production scale, land the fingerprint
    * table first (the S5 materialized-cache pattern — fingerprints
    * are 8 bytes/frame, trivially cheaper than re-decoding payloads)
    * and pass the landed frame. The gate entry keeps the chain live
    * so the oracle replays one plan end-to-end. */
  def hammingBandPairsFramed(framed: DataFrame, maxHamming: Int,
      geom: BandGeometry = Geometry4x16): DataFrame = {
    val banded = framed.select(col("id"), col("nf"), col("f"),
      bandStructs(col("ph"), geom).as("bk"))
    val a = banded.select(col("id").as("id_a"), col("nf").as("nf_a"),
      col("f"), col("bk"))
    val b = banded.select(col("id").as("id_b"), col("nf").as("nf_b"),
      col("f"), col("bk"))
    val cand = a.join(b, Seq("f", "bk"))
      .where(col("id_a") < col("id_b") && col("nf_a") === col("nf_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val fa = framed.select(col("id").as("id_a"), col("nf"), col("f"),
      col("ph").as("ph_a"))
    val fb = framed.select(col("id").as("id_b"), col("f"), col("ph").as("ph_b"))
    cand.join(fa, "id_a").join(fb, Seq("id_b", "f"))
      .groupBy("id_a", "id_b")
      .agg(max(col("nf")).as("n_frames"),
        sum(bit_count(col("ph_a").bitwiseXOR(col("ph_b"))).cast("long")).as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Asymmetric FRAMED banded Hamming probe — [[hammingBandPairsAgainst]]
    * lifted to fingerprint SEQUENCES (one 64-bit hash per video frame),
    * closing the incremental-ingest matrix for the temporal modality:
    * a media increment's frame hashes probe the accumulated corpus
    * through (frame, table-key) equi-join candidates — temporal
    * alignment is part of the blocking identity, equal total frame
    * counts required, and the base's band keys are a precomputable
    * stored index at 100 TB — then the exact verify sums Hamming over
    * the aligned frames of candidate pairs only. Delta×base
    * candidates ONLY; the base is never re-probed against itself.
    * Recall: any pair sharing a frame with per-frame Hamming ≤ geom.k
    * (in particular any UNTOUCHED frame) is guaranteed a colliding
    * key on that frame. Input both sides: (id, nf, f, ph) — one row
    * per frame; returns (delta_id, base_id, n_frames, hamming). */
  def hammingBandPairsFramedAgainst(delta: DataFrame, base: DataFrame,
      maxHamming: Int, geom: BandGeometry = Geometry4x16): DataFrame = {
    def banded(df: DataFrame, idAs: String, nfAs: String) =
      df.select(col("id").as(idAs), col("nf").as(nfAs), col("f"),
        bandStructs(col("ph"), geom).as("bk"))
    val cand = banded(delta, "delta_id", "nf_d")
      .join(banded(base, "base_id", "nf_b"), Seq("f", "bk"))
      .where(col("nf_d") === col("nf_b"))
      .select(col("delta_id"), col("base_id")).distinct()
    val fd = delta.select(col("id").as("delta_id"), col("nf"), col("f"),
      col("ph").as("ph_d"))
    val fb = base.select(col("id").as("base_id"), col("f"),
      col("ph").as("ph_b"))
    cand.join(fd, "delta_id").join(fb, Seq("base_id", "f"))
      .groupBy("delta_id", "base_id")
      .agg(max(col("nf")).as("n_frames"),
        sum(bit_count(col("ph_d").bitwiseXOR(col("ph_b"))).cast("long"))
          .as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  /** Fuzzy (edit-distance ≤ 1) self-join by FastSS deletion-
    * neighborhood blocking (Bocek et al. 2007): each string emits
    * itself plus its delete-one variants as blocking keys; two strings
    * within ED 1 are GUARANTEED to share a key, so the key equi-join
    * has no false negatives and the codegen'd levenshtein on the join
    * output removes false positives. Returns (id_a, id_b, dist) with
    * id_a < id_b, deduped AFTER the verify — survivors are (long,
    * long, long) rows, so the dedup exchange never carries strings.
    *
    * `maxKeyFreq` is the ENFORCED volume bound: a key shared by f
    * strings yields f(f−1)/2 candidates, so keys with f > maxKeyFreq
    * are dropped from blocking via a BROADCAST anti-join (the heavy
    * set is tiny by construction). Pairs meeting ONLY on a heavy key
    * are lost — the documented recall trade under a mass-duplication
    * bomb; exact dedup upstream owns that regime. Input columns:
    * (id: long, s: string). */
  def fuzzyEditPairs(df: DataFrame, maxKeyFreq: Long): DataFrame =
    fuzzyEditPairsAudited(df, maxKeyFreq)._1

  /** Delete-one blocking keys as a tight JVM loop (the DESIGN.md
    * interpreted-HOF rule: a transform/sequence/substring lambda chain
    * evaluates interpreted per element — A/B at sf0.1 measured the
    * whole operator 5.3 s → 4.4 s swapping it for this UDF, and the
    * explode runs TWICE per call, see below). LinkedHashSet dedupes
    * run-repeat variants exactly as array_distinct did (first
    * occurrence kept; downstream census/joins are order-insensitive
    * anyway), so the key SET — which j_fuzzy_cap_audit hash-pins
    * through its census counts — is unchanged. */
  private val deleteOneKeys = udf((s: String) => {
    // null text: emit no keys — the row drops at the explode, exactly
    // what the previous expression spelling did (explode of a null
    // array); without this a null NPEs the task (r12 self-review)
    if (s == null) Array.empty[String]
    else {
      val out = new java.util.LinkedHashSet[String]()
      out.add(s)
      val n = s.length
      var i = 0
      while (i < n) { out.add(s.substring(0, i) + s.substring(i + 1)); i += 1 }
      out.toArray(new Array[String](out.size))
    }
  })

  /** [[fuzzyEditPairs]] WITH its recall-cap audit as a companion frame
    * (VERDICT r11 #6 — the library surface must expose the trade, not
    * only the separate gate entry): returns (pairs, audit) where
    * `audit` is one BIGINT row over the operator's own blocking-key
    * census — total keys, keys the cap refuses, the key-row mass they
    * carry (the upper bound on lost candidate generation), and the
    * observed max frequency. A caller that joins under a
    * mass-duplication regime reads `n_capped_keys > 0` here instead of
    * having to know a second query exists. */
  def fuzzyEditPairsAudited(df: DataFrame, maxKeyFreq: Long): (DataFrame, DataFrame) = {
    // NOT pinned: the frequency pass and the anti-join each re-run the
    // explode (scan-stage map work at sf0.1) — a pin would replace the
    // source's parquet statistics with an unknown-size RDD scan,
    // degrading every downstream join choice, to save less than it
    // costs
    val keys = df.select(col("id"), col("s"),
      explode(deleteOneKeys(col("s"))).as("k"))
    val census = keys.groupBy("k").agg(count(lit(1)).as("kf"))
    val heavy = census.where(col("kf") > maxKeyFreq)
    val kept = keys.join(broadcast(heavy.select(col("k"))), Seq("k"), "left_anti")
    val pairs = groupedVerifiedPairs(kept)
    // the audit rides the SAME census lineage the cap enforcement
    // reads — by construction it cannot disagree with what the join
    // actually dropped
    val audit = census
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("kf") > maxKeyFreq, 1L).otherwise(0L)).as("n_capped_keys"),
        sum(when(col("kf") > maxKeyFreq, col("kf")).otherwise(0L)).as("capped_key_rows"),
        max(col("kf")).as("max_kf"))
    (pairs, audit)
  }

  /** Candidate generation + exact ED ≤ 1 verify per blocking key in
    * ONE map-side pass over the grouped key (r19 optimization, guide
    * §2.4 — VERDICT r18 #4): the former spelling equi-joined the kept
    * keys frame with itself on k (both sides sorted + 10⁶ wide
    * candidate rows materialized, one UDF invocation per candidate)
    * before the survivor dedup. Grouping instead collects each key's
    * (id, s) lists — state bounded by maxKeyFreq, the cap upstream
    * already enforces — and a single tight-loop UDF call per key
    * generates, verifies and filters its i<j pairs, so only ED ≤ 1
    * SURVIVORS (long, long, long) ever leave the map side. The two
    * collect_lists fill from the same per-group row stream, so ids/ss
    * stay index-aligned. Pair set identical to the join spelling
    * ([[joinVerifiedPairs]] kept as the equivalence reference;
    * FuzzyCapSpec pins grouped == join on adversarial data). */
  private[graft] def groupedVerifiedPairs(kept: DataFrame): DataFrame =
    kept.groupBy("k")
      .agg(collect_list(col("id")).as("ids"), collect_list(col("s")).as("ss"))
      .select(explode(fuzzyGroupPairsUdf(col("ids"), col("ss"))).as("pr"))
      .select(col("pr._1").as("id_a"), col("pr._2").as("id_b"),
        col("pr._3").as("dist"))
      .distinct()

  /** All verified pairs of one blocking key's members: i<j over the
    * aligned (ids, ss) lists, closed-form ED ≤ 1 verify inline, only
    * survivors emitted in canonical (min id, max id) order. Work per
    * key is the same f(f−1)/2 verifies the equi-join's output rows
    * paid — minus the join row materialization and the per-candidate
    * UDF call overhead. */
  private[graft] val fuzzyGroupPairsUdf =
    // Array params, not Seq (r19): Seq UDF params deserialize as
    // immutable.List, making ids(i)/ss(j) O(n) walks inside the i<j
    // double loop (O(n³) per key) plus a boxed cons cell per element;
    // the arrays are O(1)-indexed and the long ids arrive primitive.
    udf((ids: Array[Long], ss: Array[String]) => {
      val n = ids.length
      val out = Array.newBuilder[(Long, Long, Long)]
      var i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val a = ids(i); val b = ids(j)
          if (a != b) {
            val d = editDistanceLe1(ss(i), ss(j))
            if (d >= 0) out += (if (a < b) (a, b, d.toLong) else (b, a, d.toLong))
          }
          j += 1
        }
        i += 1
      }
      out.result()
    }).withName("fuzzy_group_pairs")

  /** The pre-r19 candidate equi-join + per-candidate verify spelling —
    * kept (unused by the query path) as the equivalence REFERENCE the
    * FuzzyCapSpec grouped-vs-join pin executes. Same contract as
    * [[groupedVerifiedPairs]]: input (id, s, k), output deduped
    * (id_a < id_b, dist). */
  private[graft] def joinVerifiedPairs(kept: DataFrame): DataFrame = {
    val a = kept.select(col("id").as("id_a"), col("s").as("s_a"), col("k"))
    val b = kept.select(col("id").as("id_b"), col("s").as("s_b"), col("k"))
    a.join(b, "k").where(col("id_a") < col("id_b"))
      // EXACT ED ≤ 1 verify via the closed form (r18; previously the
      // thresholded `levenshtein(s_a, s_b, 1)` DP — [[editDistanceLe1]]
      // is value-identical; returns −1 past the threshold, hence the
      // >= 0 keep)
      .withColumn("dist", editDistanceLe1Udf(col("s_a"), col("s_b")))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
      .distinct()
  }

  /** The standalone cap AUDIT for [[fuzzyEditPairs]] — "a bound that
    * throttles recall must be observable, never silent": the
    * [[fuzzyEditPairsAudited]] companion frame on its own (the
    * j_fuzzy_cap_audit gate entry's surface). The r11 sf0.3 rehearsal
    * motivated this: verbatim-tripled identities pushed 1500 keys past
    * the cap (max 114 vs 38 at sf0.1) and the recall trade bound for
    * the first time — this audit makes that a monitored number instead
    * of a post-hoc diagnosis. */
  def fuzzyCapAudit(df: DataFrame, maxKeyFreq: Long): DataFrame =
    fuzzyEditPairsAudited(df, maxKeyFreq)._2
}
