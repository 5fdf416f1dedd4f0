package perfbench

import java.util.Properties
import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory span store of a traced run. Listeners book every event to
  * the entry tag (`"<pass>/<entry>"`) carried by the job's local
  * property [[Trace.TagKey]]; the store is read only after the run, so
  * nothing is written out while passes are timed.
  *
  * Spark instantiates the three listener classes below from static
  * configuration (`spark.extraListeners`,
  * `spark.sql.queryExecutionListeners`,
  * `spark.sql.streaming.streamingQueryListeners`), once per context or
  * per session. Sessions made with `newSession()` therefore get their
  * own instances, and all of them forward here. */
object Trace {
  val TagKey = "perfbench.entry"
  val PhaseKey = "perfbench.phase"

  /** Listener callbacks are ignored while this is false, so one JVM
    * can alternate untraced and traced passes. */
  @volatile var enabled = false

  /** Tag of the entry running now; used for events that carry no job
    * properties (SQL executions). The harness drains the listener bus
    * before it changes the tag, so no callback reads a stale value. */
  @volatile var currentTag: String = null

  private val counters = mutable.HashMap.empty[String, mutable.HashMap[String, Double]]
  private val triggerMs = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val stageTag = mutable.HashMap.empty[Int, String]
  private val stageKind = mutable.HashMap.empty[Int, String]
  private val stageFirstLaunch = mutable.HashMap.empty[Int, Long]
  private val jobInfo = mutable.HashMap.empty[Int, (String, String, Long)]
  private val streamTag = mutable.HashMap.empty[java.util.UUID, String]
  private var unbooked = 0L

  def add(tag: String, key: String, v: Double): Unit = synchronized {
    if (tag != null) {
      val m = counters.getOrElseUpdate(tag, mutable.HashMap.empty)
      m(key) = m.getOrElse(key, 0.0) + v
    }
  }

  /** Counters of one entry tag (empty if nothing was booked). */
  def of(tag: String): Map[String, Double] = synchronized {
    counters.get(tag).map(_.toMap).getOrElse(Map.empty)
  }

  def triggers(tag: String): Seq[Double] = synchronized {
    triggerMs.get(tag).map(_.toSeq).getOrElse(Nil)
  }

  def unbookedJobs: Long = synchronized(unbooked)

  /** Classify a job by its call site: the short form names the user
    * frame that started it, the long form holds the stack below it. */
  private[perfbench] def jobKind(short: String, long: String): String = {
    val method = short.takeWhile(_ != ' ')
    if (short.contains("Pin.scala") || long.contains("graft.Graft$.pin")) "pin"
    else if (long.contains("org.apache.spark.ml.") || long.contains("org.apache.spark.mllib.")) "mllib"
    else if (Set("collect", "collectAsList", "head", "first", "take", "takeAsList",
        "tail", "toLocalIterator", "collectAsMap")(method)) "collect"
    else "other"
  }

  // ----------------------------------------------------------- scheduler

  private[perfbench] def jobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties).getOrElse(new Properties)
    val tag = props.getProperty(TagKey)
    if (tag == null) { unbooked += 1; return }
    // the result stage is created last, so it has the highest id
    val kind = e.stageInfos.sortBy(-_.stageId).headOption
      .fold("other")(r => jobKind(r.name, r.details))
    jobInfo(e.jobId) = (tag, kind, e.time)
    add(tag, "jobs", 1)
    if (props.getProperty(PhaseKey) == "build") add(tag, "build_jobs", 1)
    kind match {
      case "pin" => add(tag, "pin_jobs", 1)
      case "mllib" => add(tag, "mllib_jobs", 1)
      case "collect" => add(tag, "collect_jobs", 1)
      case _ => ()
    }
    e.stageIds.foreach { s => stageTag(s) = tag; stageKind(s) = kind }
  }

  private[perfbench] def jobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (tag, kind, t0) =>
      val s = (e.time - t0) / 1000.0
      if (kind == "pin") add(tag, "pin_s", s)
      if (kind == "mllib") add(tag, "mllib_s", s)
    }
  }

  private[perfbench] def taskStart(e: SparkListenerTaskStart): Unit = synchronized {
    val t = e.taskInfo.launchTime
    stageFirstLaunch(e.stageId) = stageFirstLaunch.get(e.stageId).fold(t)(math.min(_, t))
  }

  private[perfbench] def stageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageTag.get(id).foreach { tag =>
      add(tag, "stages", 1)
      for (sub <- e.stageInfo.submissionTime; first <- stageFirstLaunch.get(id))
        add(tag, "stage_wait_ms", math.max(0L, first - sub).toDouble)
    }
    stageFirstLaunch.remove(id)
  }

  private[perfbench] def taskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTag.get(e.stageId).foreach { tag =>
      add(tag, "tasks", 1)
      if (!e.taskInfo.successful) add(tag, "task_failures", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(tag, "task_run_s", m.executorRunTime / 1000.0)
        add(tag, "task_cpu_s", m.executorCpuTime / 1e9)
        add(tag, "task_deser_ms", m.executorDeserializeTime.toDouble)
        add(tag, "scan_rows", m.inputMetrics.recordsRead.toDouble)
        add(tag, "shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(tag, "shuffle_fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
        add(tag, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        if (stageKind.get(e.stageId).contains("collect"))
          add(tag, "collect_result_bytes", m.resultSize.toDouble)
      }
    }
  }

  // ------------------------------------------------------- SQL / streams

  private[perfbench] def sqlExec(qe: QueryExecution): Unit = {
    val tag = currentTag
    if (tag != null) {
      add(tag, "sql_execs", 1)
      add(tag, "plan_ms", qe.tracker.phases.values.map(_.durationMs).sum.toDouble)
      val v = graft.plans.PlanMetrics.of(qe.executedPlan)
      add(tag, "exchanges", v(0).toDouble)
      add(tag, "broadcasts", v(1).toDouble)
      add(tag, "scan_bytes", scanFileBytes(qe.executedPlan).toDouble)
    }
  }

  /** Bytes of the files the plan's file scans selected (the scan
    * nodes' `filesSize` metric), walked as [[graft.plans.PlanMetrics]]
    * walks a plan: through AQE wrappers and subqueries, not into reused
    * exchanges. Task input metrics would not do: Parquet reads are not
    * all counted on the task thread. */
  private[perfbench] def scanFileBytes(plan: SparkPlan): Long = {
    val own = plan match {
      case s: FileSourceScanExec => s.metrics.get("filesSize").fold(0L)(m => math.max(m.value, 0L))
      case _ => 0L
    }
    val kids = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case _: ReusedExchangeExec => Nil
      case p => p.children
    }
    own + (kids ++ plan.subqueries).map(scanFileBytes).sum
  }

  private[perfbench] def streamStarted(id: java.util.UUID): Unit = {
    val tag = SparkContext.getOrCreate().getLocalProperty(TagKey)
    synchronized { if (tag != null) streamTag(id) = tag }
  }

  private[perfbench] def streamProgress(p: org.apache.spark.sql.streaming.StreamingQueryProgress): Unit = {
    val tag = synchronized(streamTag.get(p.runId)).orNull
    if (tag != null) {
      def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      add(tag, "mb_batches", 1)
      add(tag, "mb_addbatch_ms", d("addBatch"))
      add(tag, "mb_planning_ms", d("queryPlanning"))
      add(tag, "mb_commit_ms", d("walCommit") + d("commitOffsets"))
      p.stateOperators.foreach { s =>
        add(tag, "state_rows", s.numRowsUpdated.toDouble)
        add(tag, "state_commit_ms", s.commitTimeMs.toDouble)
      }
      synchronized {
        triggerMs.getOrElseUpdate(tag, mutable.ArrayBuffer.empty) += d("triggerExecution")
      }
    }
  }
}

/** Scheduler listener (`spark.extraListeners`). */
class JobTrace extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = if (Trace.enabled) Trace.jobStart(e)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (Trace.enabled) Trace.jobEnd(e)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (Trace.enabled) Trace.stageCompleted(e)
  override def onTaskStart(e: SparkListenerTaskStart): Unit = if (Trace.enabled) Trace.taskStart(e)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (Trace.enabled) Trace.taskEnd(e)
}

/** Catalyst listener (`spark.sql.queryExecutionListeners`). */
class SqlTrace extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) Trace.sqlExec(qe)
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
}

/** Micro-batch listener (`spark.sql.streaming.streamingQueryListeners`). */
class StreamTrace extends StreamingQueryListener {
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    if (Trace.enabled) Trace.streamStarted(e.runId)
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    if (Trace.enabled) Trace.streamProgress(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
}
