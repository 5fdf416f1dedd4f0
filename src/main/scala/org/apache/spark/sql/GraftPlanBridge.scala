package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{LocalTableScanExec, SortExec, UnsafeExternalRowSorter}

/** The `private[sql]` doorways this library uses — every Spark-native
  * library that ships its own plan nodes opens the same doors (a bridge
  * object inside `org.apache.spark.sql`). Nothing else in the library
  * reaches past the public surface.
  *
  *  - [[ofRows]]: constructing a DataFrame from a custom
  *    [[LogicalPlan]] node ([[graft.plans.TopKPerGroupNode]]) has no
  *    public API.
  *  - [[partitionSorter]]: the spill-backed sorter
  *    [[graft.plans.TopKPerGroupExec]] degrades to when per-partition
  *    group cardinality exceeds its in-memory budget. `SortExec
  *    .createSorter` is the exact factory SortExec's own doExecute
  *    uses — radix/prefix setup, TaskMemoryManager registration and
  *    spill thresholds included — so the fallback inherits Spark's
  *    memory accounting instead of reimplementing it. The
  *    LocalTableScanExec child is a schema carrier only (createSorter
  *    reads `child.output`); nothing is executed through it.
  *  - [[drainListenerBus]]: Bench attributes QueryExecutionListener
  *    callbacks (plan-metric reads) to the entry that just ran; the
  *    listener fires on the ASYNC shared bus, so without a drain a
  *    callback could land after the next entry starts and book its
  *    metrics to the wrong name. `LiveListenerBus.waitUntilEmpty` is
  *    the exact flush Spark's own test harness uses; it has no public
  *    twin. Called OUTSIDE the timed window only.
  *  - [[nativeColumn]]: a Column over a library Catalyst expression
  *    ([[graft.plans.CentsSum]], [[graft.plans.Cents]], the JDK calls
  *    and assembler inputs of `Model.score`) without going through
  *    `GraftExtensions`' function registry, so `Tables.dsum` works in
  *    any session. Column ↔ Expression conversion has no public API. */
object GraftPlanBridge {
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def nativeColumn(inputs: Column*)(build: Seq[Expression] => Expression): Column =
    classic.ExpressionUtils.column(build(inputs.map(classic.ExpressionUtils.expression)))

  def partitionSorter(output: Seq[Attribute],
      order: Seq[SortOrder]): UnsafeExternalRowSorter =
    SortExec(order, global = false, LocalTableScanExec(output, Nil, None))
      .createSorter()
}
