package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Synchronous label-propagation community detection (Raghavan et al.
  * 2007, made deterministic) — the community/clustering pass a
  * crawl-curation pipeline runs beside link authority ([[PageRank]])
  * and dup-components ([[Components]]): group sources that trade/link
  * within the same neighborhood so sampling quotas can be set per
  * community rather than per node.
  *
  * Determinism (the classic LPA pitfalls, closed): labels start as node
  * ids; each SYNCHRONOUS round every node adopts the most frequent
  * label among its in-neighbors with ties broken by SMALLEST label —
  * no random visit order, no random tie coin, so every round is a pure
  * function of the previous one and an external oracle replays it
  * bit-for-bit. The adopt step is spelled max(struct(count, −label)):
  * lexicographic struct max == "count desc, label asc first", the same
  * total order the oracle's row_number window uses.
  *
  * 100 TB plan shape: per round, one edges ⨝ labels equi-join on src
  * (the label frame is one row per NODE — broadcast-sized relative to
  * edges, exactly like PageRank's rank frame) feeding two
  * partially-aggregated groupBys: (dst, label) count, then per-dst
  * struct-max. Map-side combine absorbs hub skew; the shuffles carry
  * (long, long, long) rows only. The label frame is checkpointed per
  * round ([[Components]] discipline) so plans stay shallow at any
  * round count; the edge list is pinned once.
  */
object LabelProp {

  /** (node, label) after `rounds` synchronous adoption rounds over the
    * directed edge list (columns src, dst; duplicates removed). Nodes
    * with no in-edges keep their own id (feed a bidirected graph if
    * every node must hear its neighbors, as the gate entry does).
    * `assumeDistinct` as in [[PageRank.pageRank]]: an already-deduped
    * edge frame skips the defensive full-edge shuffle. Pins on
    * [[PageRank.PinEvery]]'s cadence: the label lineage is linear (each
    * round references the previous labels once), so a few rounds chain
    * into one job; the last round always pins. */
  def labelPropagate(edges: DataFrame, rounds: Int,
      assumeDistinct: Boolean = false): DataFrame = {
    val e0 = edges
      .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    val e = graft.Graft.pin(if (assumeDistinct) e0 else e0.distinct())
    val nodes = graft.Graft.pin(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct())

    var labels = nodes.select(col("node"), col("node").as("label"))
    var lastPin: Option[DataFrame] = None // superseded-round release (persist mode)
    for (i <- 1 to rounds) {
      val counts = e.join(labels, e("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
      val adopted = counts
        .groupBy(col("dst").as("node"))
        .agg(max(struct(col("c"), (-col("label")).as("nl"))).as("m"))
        .select(col("node"), (-col("m.nl")).as("label"))
      val next = nodes.join(adopted.select(col("node").as("anode"), col("label")),
          nodes("node") === col("anode"), "left")
        .select(nodes("node"),
          coalesce(col("label"), nodes("node")).as("label"))
      labels = if (i % PageRank.PinEvery == 0 || i == rounds) {
        val p = graft.Graft.pin(next, release = lastPin)
        lastPin = Some(p); p
      } else next
    }
    labels
  }
}
