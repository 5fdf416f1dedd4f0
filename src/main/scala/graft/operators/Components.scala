package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over an undirected edge list — the clustering
  * step a production dedup pipeline runs AFTER near-dup pair
  * generation (LSH emits pairwise matches; near-duplication is not
  * transitive, so keeping one doc per *component* of the match graph
  * is the actual dedup semantics, e.g. A~B and B~C must collapse to
  * one cluster even when A~C fails the threshold).
  *
  * Algorithm: alternating large-star / small-star rounds (Kiveris,
  * Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected Components
  * in MapReduce and Beyond", SoCC 2014). Unlike naive min-label
  * propagation — O(graph diameter) shuffle rounds, fatal on the long
  * chains real dup graphs contain — the alternating star rounds
  * converge in O(log n) rounds regardless of diameter.
  *
  * 100 TB design notes:
  *  - every shuffle carries (long, long) pairs only — never payloads;
  *  - the per-node neighborhood minimum is a `groupBy().agg(min)` —
  *    partially aggregatable, so map-side combine absorbs the skew a
  *    high-degree star center would otherwise create (no
  *    collect_list of neighbor arrays anywhere);
  *  - each round's result is localCheckpoint'ed: iterative plans nest
  *    their predecessor, so without lineage truncation the logical
  *    plan grows exponentially with rounds (caching alone does NOT
  *    truncate it). Rounds are few (O(log n)) and edge rows tiny, so
  *    the handful of pinned checkpoint blocks per run is bounded; a
  *    cluster deployment would use reliable checkpoints instead. The
  *    convergence probe (count + order-insensitive checksum) rides
  *    the pin's own materializing job via `observe()` — one job per
  *    round, not pin + a separate aggregate.
  */
object Components {

  /** One large-star round over canonically oriented edges (u > v).
    * Every node attaches its strictly-LARGER neighbors to the minimum
    * of its closed neighborhood. */
  private[graft] def largeStar(e: DataFrame): DataFrame = {
    val bidir = e.select(col("u"), col("v"))
      .unionAll(e.select(col("v").as("u"), col("u").as("v")))
    val mins = bidir.groupBy("u").agg(min(col("v")).as("mv"))
      .select(col("u"), least(col("u"), col("mv")).as("m"))
    bidir.join(mins, "u")
      .where(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v")) // v > u ≥ m ⇒ oriented
      .where(col("u") =!= col("v"))
    // no distinct here: smallStar's groupBy-min is duplicate-insensitive
    // and its own final distinct dedups the round's output — dropping
    // the intermediate exchange saves one full shuffle per round
  }

  /** One small-star round: every node attaches its smaller-or-equal
    * neighbors (and itself) to its minimum neighbor. Input and output
    * are canonically oriented (u > v). */
  private[graft] def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy("u").agg(min(col("v")).as("m"))
    e.join(mins, "u")
      .select(col("v").as("n"), col("m"))
      .unionAll(mins.select(col("u").as("n"), col("m")))
      .where(col("n") =!= col("m"))
      .select(greatest(col("n"), col("m")).as("u"),
        least(col("n"), col("m")).as("v"))
      .distinct()
  }

  /** Connected components of the graph given by `edges` (columns
    * (u: long, v: long); orientation, duplicates and self-loops are
    * normalized away). Returns (id, component) for every vertex that
    * appears in an edge, where component = the minimum vertex id of
    * its component. Isolated vertices don't appear (callers union
    * them back with component = id). */
  private val probeSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Pin a round frame AND collect its convergence probe (row count +
    * order-insensitive xxhash64 sum) in the SAME materializing action
    * (r10 verdict #2): `observe()` attaches a CollectMetrics node whose
    * accumulators fill during the pin's own job, so each round runs ONE
    * job instead of pin + a separate checksum aggregate.
    *
    * Deliberately the STRING-named observe overload, NOT an
    * `Observation` object: the object overload lazily instantiates the
    * session's non-serializable ObservationManager, and from then on
    * ANY closure capturing the SparkSession fails Task-serialization —
    * MLlib's LogisticRegressionModel.trainingSummary holds the session
    * and rides the scoring UDF's closure, so one Observation here broke
    * every later ml_* entry in the same session (found by the r11 full
    * gate; the metrics come from `queryExecution.observedMetrics` after
    * the eager pin action instead). The persist fallback pin mode runs
    * its action on a DIFFERENT QueryExecution (count() re-plans), so
    * its accumulators don't land here — that path falls back to the
    * former separate aggregate (cluster-without-checkpoint-dir only;
    * local and checkpoint-dir modes stay single-job). */
  private[graft] def pinWithChecksum(df: DataFrame,
      release: Option[DataFrame] = None): (DataFrame, (Long, Long)) = {
    val name = s"cc_probe_${probeSeq.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)).as("n"),
      coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)).as("chk"))
    val pinned = graft.Graft.pin(observed, release)
    observed.queryExecution.observedMetrics.get(name) match {
      case Some(row) => (pinned, (row.getLong(0), row.getLong(1)))
      case None =>
        val r = pinned
          .agg(count(lit(1)), coalesce(sum(xxhash64(col("u"), col("v"))), lit(0L)))
          .head()
        (pinned, (r.getLong(0), r.getLong(1)))
    }
  }

  private val MaxRounds = 25

  def connectedComponents(edges: DataFrame): DataFrame = {
    var (cur, curChk) = pinWithChecksum(edges
      .select(col("u").cast("long").as("u"), col("v").cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct())
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxRounds) {
      val (next, nextChk) = pinWithChecksum(smallStar(largeStar(cur)), Some(cur))
      converged = nextChk == curChk
      cur = next
      curChk = nextChk
      rounds += 1
    }
    require(converged, s"connectedComponents did not converge in $MaxRounds rounds")
    // Fixed point of the star rounds: every edge is (member, root) with
    // root = min id of the component. Roots name their own component.
    cur.select(col("u").as("id"), col("v").as("component"))
      .unionAll(cur.select(col("v").as("id"), col("v").as("component")))
      .distinct()
  }
}
