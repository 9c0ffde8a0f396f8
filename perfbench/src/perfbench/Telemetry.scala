package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters of the Spark jobs one phase of one query ran. */
final class StageWork {
  var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
  var taskRunMs = 0L; var taskCpuNs = 0L; var gcMs = 0L
  var inputBytes = 0L; var shuffleReadBytes = 0L; var shuffleWriteBytes = 0L
  var spillBytes = 0L; var peakExecMem = 0L
  var outputBytes = 0L; var recordsWritten = 0L
  /** (job id, start ms, end ms) of each job, for the job spans. */
  val jobSpans = mutable.ArrayBuffer.empty[(Int, Long, Long)]
}

/** Plan shape and planning cost of the QueryExecution that ran a phase. */
final case class PlanStats(
    analysisMs: Long, optimizationMs: Long, planningMs: Long,
    exchanges: Int, broadcastExchanges: Int, reusedExchanges: Int,
    smj: Int, shj: Int, bhj: Int,
    wscgStages: Int, wscgPipelineMs: Long, fallbackExprs: Int)

object PlanStats extends AdaptiveSparkPlanHelper {
  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  /** Counts over the final adaptive plan, subqueries included. */
  def of(qe: QueryExecution): PlanStats = {
    val nodes: Seq[SparkPlan] =
      collectWithSubqueries(qe.executedPlan) { case p => p }
    def count(f: PartialFunction[SparkPlan, Unit]) = nodes.count(f.isDefinedAt)
    val wscg = nodes.collect { case w: WholeStageCodegenExec => w }
    PlanStats(
      phaseMs(qe, "analysis"), phaseMs(qe, "optimization"), phaseMs(qe, "planning"),
      count { case _: ShuffleExchangeExec => },
      count { case _: BroadcastExchangeExec => },
      count { case _: ReusedExchangeExec => },
      count { case _: SortMergeJoinExec => },
      count { case _: ShuffledHashJoinExec => },
      count { case _: BroadcastHashJoinExec => },
      wscg.size,
      wscg.map(_.metrics.get("pipelineTime").map(_.value).getOrElse(0L)).sum,
      nodes.map(_.expressions.map(_.collect { case e: CodegenFallback => e }.size).sum).sum)
  }

  /** True for the benchmark's own `noop` write. */
  def isNoopWrite(qe: QueryExecution): Boolean = qe.logical match {
    case w: V2WriteCommand => w.table match {
      case r: DataSourceV2Relation => r.table.name == "noop-table"
      case _ => false
    }
    case _ => false
  }
}

object Telemetry {
  /** Whole-stage and expression classes Spark's codegen has compiled. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}

/** One streaming micro-batch, as its progress event reports it. */
final case class BatchStats(inputRows: Long, triggerMs: Long,
                            stateRows: Long, stateMemBytes: Long, queryId: String)

/** The listeners the runner registers on the session while it traces:
  * Spark jobs and tasks, query executions, and streaming progress. Events
  * arrive on Spark's listener bus; the runner drains the bus at every
  * phase boundary and then takes what arrived with [[take]], so each event
  * belongs to the phase that was running when it was posted.
  */
final class Telemetry extends SparkListener {
  private val work = mutable.HashMap.empty[String, StageWork]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val executions = mutable.HashMap.empty[String, List[QueryExecution]]
  private val batches = mutable.HashMap.empty[String, List[BatchStats]]

  /** The phase the runner is in; jobs whose group the runner did not set
    * (streaming micro-batches set their own) are charged to it. */
  @volatile var phase: String = ""

  private def groupOf(props: java.util.Properties): String = {
    val g = Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(_.startsWith(Runner.GroupPrefix)).getOrElse(phase)
  }
  private def at(group: String) = work.getOrElseUpdate(group, new StageWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = groupOf(e.properties)
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => if (!stageGroup.contains(s)) stageGroup(s) = g)
    val w = at(g)
    w.jobs += 1
    w.jobSpans += ((e.jobId, e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.remove(e.jobId).foreach { g =>
      val spans = at(g).jobSpans
      val i = spans.indexWhere(_._1 == e.jobId)
      if (i >= 0) spans(i) = spans(i).copy(_3 = e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(g => at(g).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = at(stageGroup.getOrElse(e.stageId, phase))
    w.tasks += 1
    if (!e.taskInfo.successful) w.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.taskRunMs += m.executorRunTime
      w.taskCpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.inputBytes += m.inputMetrics.bytesRead
      w.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.peakExecMem = math.max(w.peakExecMem, m.peakExecutionMemory)
      w.outputBytes += m.outputMetrics.bytesWritten
      w.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  val executionListener: QueryExecutionListener = new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  val streamingListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val b = BatchStats(p.numInputRows, trigger,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.memoryUsedBytes).sum, p.id.toString)
      Telemetry.this.synchronized { batches(phase) = b :: batches.getOrElse(phase, Nil) }
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    executions(phase) = qe :: executions.getOrElse(phase, Nil)
  }

  /** Jobs, query executions (latest first) and streaming batches that
    * `group` recorded; forgets them. */
  def take(group: String): (StageWork, Seq[QueryExecution], Seq[BatchStats]) = synchronized {
    (work.remove(group).getOrElse(new StageWork),
      executions.remove(group).getOrElse(Nil),
      batches.remove(group).getOrElse(Nil).reverse)
  }

  /** Forgets what `group` recorded. */
  def discard(group: String): Unit = { take(group); () }
}
