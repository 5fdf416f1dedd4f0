package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The shared deterministic-permutation key used by `pl_epoch_shard`
  * (per-epoch training shuffle) and `pl_domain_cap` (per-domain
  * keep-K selection): a Hull–Dobell full-period LCG mod m = 2^31.
  * With c odd and a−1 divisible by every prime factor of m (and by 4,
  * since 4 | m), x → (a·x + c) mod m is a BIJECTION on [0, m) — so
  * distinct inputs below 2^31 get collision-free pseudo-random keys,
  * with no RNG state, no coordinator, and no materialized permutation
  * table (LcgProps proves bijectivity and the Scala/SQL parity).
  *
  * SCOPE OF THE BIJECTION CLAIM (r6 advisor): collision-freedom holds
  * for ids DISTINCT MOD 2^31 — inputs ≥ 2^31 wrap, so id and
  * id + 2^31 share a key. A >2.1B-doc corpus (or sparse 64-bit ids)
  * therefore gets key COLLISIONS, never wrong results: every consumer
  * orders by the composite (key, id), which stays a total
  * deterministic order under collisions — colliding ids sort adjacent
  * (slightly less mixed) instead of nondeterministically. The shard
  * assignment (key mod 64) stays uniform either way. Upgrade path if
  * true 64-bit bijectivity is ever required: a multiply-xorshift
  * mixer (splitmix64-style) — needs wrapping 64-bit multiply, which
  * Spark's non-ANSI mode has but checked-arithmetic oracles do not,
  * hence the oracle-expressible 2^31 variant here.
  *
  * All arithmetic stays exact in BIGINT — max product a·(m−1) ≈
  * 2.37e18 < 2^63 — and both Spark and DuckDB compute it
  * bit-identically; the oracles spell it through [[sqlKey]] and
  * [[sqlKey2]], which write the constants out as their own literals.
  */
object Lcg {
  val M: Long = 2147483648L // 2^31
  val A: Long = 1103515245L // a-1 = 4 * 275878811 — Hull–Dobell ok
  val C: Long = 12345L      // odd

  /** Column form: the permutation key of a non-negative BIGINT input
    * (inputs ≥ 2^31 wrap onto [0, 2^31) first — documented at both
    * call sites). */
  def key(x: Column): Column = pmod(pmod(x, lit(M)) * A + C, lit(M))

  /** Scala twin for specs/brute-force oracles — keep in lockstep.
    * floorMod, not %: the Column form uses pmod and lands in [0, M)
    * for ALL inputs; Scala's signed % would diverge on negative ids
    * (r13 ADVICE latent — no current caller passes them, but the
    * documented lockstep must hold on the full domain). */
  def key(x: Long): Long =
    Math.floorMod(Math.floorMod(x, M) * A + C, M)

  /** A SECOND, independent Hull–Dobell pair (Numerical Recipes'
    * ranqd1 constants): a2−1 = 4·416131, c2 odd, max product
    * a2·(m−1) ≈ 3.6e15 < 2^63. Used as the within-granule tie-break
    * for the A-ES samplers: when [[key]] folded to 2^20 granules
    * collides (possible past ~1M docs), ordering ties by key2 —
    * another full permutation, decorrelated from key — instead of by
    * raw doc_id removes the low-id selection bias a doc_id tie-break
    * carries (r12 ADVICE latent, closed r13). */
  val A2: Long = 1664525L
  val C2: Long = 1013904223L

  /** Column form of the tie-break permutation. */
  def key2(x: Column): Column = pmod(pmod(x, lit(M)) * A2 + C2, lit(M))

  /** Scala twin — keep in lockstep with [[key2]] (floorMod, see [[key]]). */
  def key2(x: Long): Long =
    Math.floorMod(Math.floorMod(x, M) * A2 + C2, M)

  /** DuckDB replay of [[key]] over a non-negative BIGINT expression `x`
    * (SQL `%` is `pmod` there). It reads none of the constants above, so
    * an oracle built from it stays an independent check. */
  def sqlKey(x: String): String =
    s"((($x) % 2147483648) * 1103515245 + 12345) % 2147483648"

  /** DuckDB replay of [[key2]], the same way as [[sqlKey]]. */
  def sqlKey2(x: String): String =
    s"((($x) % 2147483648) * 1664525 + 1013904223) % 2147483648"
}
