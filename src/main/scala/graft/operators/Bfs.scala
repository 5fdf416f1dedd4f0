package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bounded-hop BFS shortest paths by iterative min-distance relaxation —
  * the reachability/radius primitive behind crawl-frontier scheduling
  * and link-graph quality features (hop distance from trusted seeds is
  * the classic TrustRank-style signal).
  *
  * All-integer arithmetic, so results hash-compare exactly against a
  * chained-CTE oracle replaying the same relaxation.
  *
  * Plan shape per round: ONE edges ⨝ dist equi-join on src + ONE
  * partially-aggregated groupBy(node) min — both exchanges carry
  * (long, int) pairs; map-side combine absorbs hub in-degree skew. The
  * dist frame is localCheckpointed each round so lineage stays linear
  * (the r6 Components pattern). This is Bellman–Ford-style full
  * relaxation: every settled node re-propagates each round, which is
  * the right trade at small `maxHops` (no frontier bookkeeping, one
  * less join); for deep traversals at 100 TB, keep only the
  * just-settled frontier (dist == round) as the join input — same
  * shape, strictly smaller inputs — at the cost of an extra filter.
  */
object Bfs {

  /** (node, dist) for every node within `maxHops` of a seed, dist =
    * exact hop count (seeds at 0). Nodes further than `maxHops` are
    * absent — callers left-join and coalesce to their unreached
    * sentinel. `edges` is directed (src, dst); pass both directions
    * for an undirected traversal. Every round joins `edges` again, so a
    * caller whose edge set is a plan (not a pin or a local relation)
    * pins it first — once, where it also feeds the caller's own node
    * census. The seed frame is not pinned: round 1's pin materializes
    * it with the first relaxation. */
  def hopDistances(edges: DataFrame, seeds: DataFrame, maxHops: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
    var dist = seeds.select(col("node").cast("long").as("node"), lit(0).as("dist")).distinct()
    for (_ <- 1 to maxHops) {
      val relaxed = e.join(dist, e("src") === dist("node"))
        .select(col("dst").as("node"), (col("dist") + 1).as("dist"))
      dist = graft.Graft.pin(dist.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist")), release = Some(dist))
    }
    dist
  }
}
