package graft.plans

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}

/** Deterministic per-execution plan metrics (VERDICT r12 #1): the
  * bench record's wall-times move with host load, but WHAT a plan did
  * — how many exchanges it ran, how many rows/bytes crossed them,
  * whether anything spilled — is a property of code + data. A run
  * beside a CPU burner moves the seconds and leaves these counts
  * unchanged. [[graft.Bench]] folds them per entry into the full bench
  * record so `tools/bench_compare.py` can flag a plan regression (a new
  * exchange, a shuffle that grew 10×) against the committed
  * PLAN_BASELINE.json EXACTLY, before any seconds-based signal.
  *
  * Collection is a read of the executed plan's own SQLMetric values
  * after each action (QueryExecutionListener.onSuccess) — zero extra
  * Spark actions, zero timing impact inside the measured window (the
  * listener fires on the async bus; Bench drains the bus outside the
  * timer). The walk resolves AQE wrappers (AdaptiveSparkPlanExec →
  * final plan, QueryStageExec → materialized stage), skips
  * ReusedExchangeExec subtrees (work happened once — counting the
  * reuse would double-book), and recurses into subquery plans. */
object PlanMetrics {

  /** JSON field order for the per-entry record. The tail past
    * [[StreamOffset]] is the streaming vector
    * ([[graft.streaming.StreamMetrics.Keys]]) — zero for batch-only
    * entries; the batch slots are zero for pure-streaming actions. */
  val StreamOffset: Int = 6
  val Keys: Seq[String] = Seq(
    "exchanges", "broadcasts", "shuffle_rows", "shuffle_bytes",
    "spill_bytes", "scans") ++ graft.streaming.StreamMetrics.Keys

  /** A full-width vector carrying one streaming-query vector in the
    * streaming slots (batch slots zero). */
  def ofStreamVector(v: Array[Long]): Array[Long] = {
    val acc = new Array[Long](Keys.length)
    var i = 0
    while (i < v.length && StreamOffset + i < acc.length) {
      acc(StreamOffset + i) = v(i); i += 1
    }
    acc
  }

  /** Metric vector of one executed plan, aligned with [[Keys]].
    * shuffle_rows/bytes are read only off ShuffleExchangeLike nodes
    * (a mirror key elsewhere would double-count); spill is summed
    * wherever a node reports it (sort/agg/join). Negative SQLMetric
    * sentinels (unset size metrics) clamp to 0. */
  def of(plan: SparkPlan): Array[Long] = {
    val acc = new Array[Long](Keys.length)
    def metric(p: SparkPlan, key: String): Long =
      p.metrics.get(key).map(m => math.max(m.value, 0L)).getOrElse(0L)
    def visit(p: SparkPlan): Unit = {
      p match {
        case _: ShuffleExchangeLike =>
          acc(0) += 1
          acc(2) += metric(p, "shuffleRecordsWritten")
          acc(3) += metric(p, "shuffleBytesWritten")
        case _: BroadcastExchangeLike => acc(1) += 1
        case _ => p.getClass.getSimpleName match {
          case "FileSourceScanExec" | "BatchScanExec" => acc(5) += 1
          case _ => ()
        }
      }
      acc(4) += metric(p, "spillSize")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: ReusedExchangeExec => Nil
        case _ => p.children
      }
      kids.foreach(visit)
      p.subqueries.foreach(visit)
    }
    visit(plan)
    acc
  }

  /** a + b, element-wise — the fold for multi-action entries. */
  def add(a: Array[Long], b: Array[Long]): Array[Long] =
    Array.tabulate(math.max(a.length, b.length)) { i =>
      (if (i < a.length) a(i) else 0L) + (if (i < b.length) b(i) else 0L)
    }
}
