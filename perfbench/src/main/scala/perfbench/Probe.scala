package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{DataSourceScanExec, QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-job-group totals of the job, stage and task events Spark posts. */
final class GroupStats {
  val jobs = mutable.ArrayBuffer.empty[(Int, Long, Long)] // (id, start ms, end ms)
  var stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, shuffleRecords, spill = 0L
  var waitMs = 0L

  def toJson: String = {
    val js = jobs.map { case (id, s, e) => s"[$id,$s,$e]" }.mkString("[", ",", "]")
    s"""{"jobs":$js,"stages":$stages,"tasks":$tasks,"cpu_ns":$cpuNs,"run_ms":$runMs,""" +
      s""""gc_ms":$gcMs,"shuffle_write":$shuffleWrite,"shuffle_read":$shuffleRead,""" +
      s""""shuffle_records":$shuffleRecords,"spill":$spill,"wait_ms":$waitMs}"""
  }
}

/** A SparkListener the benchmark registers from outside graft. It
  * aggregates job, stage and task metrics per job group, so each
  * operation (whose id is its job group) gets its own counters. */
final class GroupListener extends SparkListener {
  val groups = new ConcurrentHashMap[String, GroupStats]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()

  private def stats(g: String): GroupStats = groups.computeIfAbsent(g, _ => new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    jobGroup.put(e.jobId, g)
    e.stageIds.foreach(stageGroup.put(_, g))
    val st = stats(g)
    st.synchronized { st.jobs += ((e.jobId, e.time, -1L)) }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val st = stats(jobGroup.getOrDefault(e.jobId, "none"))
    st.synchronized {
      val i = st.jobs.indexWhere(_._1 == e.jobId)
      if (i >= 0) st.jobs(i) = st.jobs(i).copy(_3 = e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, Long.box(t)))
    val st = stats(stageGroup.getOrDefault(e.stageInfo.stageId, "none"))
    st.synchronized { st.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val st = stats(stageGroup.getOrDefault(e.stageId, "none"))
    st.synchronized {
      st.tasks += 1
      st.cpuNs += m.executorCpuTime
      st.runMs += m.executorRunTime
      st.gcMs += m.jvmGCTime
      st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      st.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      st.spill += m.diskBytesSpilled
      val submit = stageSubmit.get(e.stageId)
      if (submit != null) st.waitMs += math.max(0L, e.taskInfo.launchTime - submit.longValue)
    }
  }
}

/** Operator counts of executed plans, summed over every query
  * execution an operation triggered. */
final case class PlanCounts(exchanges: Int = 0, broadcasts: Int = 0, broadcastBytes: Long = 0,
                            smj: Int = 0, wscg: Int = 0, cacheScans: Int = 0,
                            scanBytes: Long = 0, scanRows: Long = 0,
                            analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0) {
  def +(o: PlanCounts): PlanCounts = PlanCounts(exchanges + o.exchanges,
    broadcasts + o.broadcasts, broadcastBytes + o.broadcastBytes, smj + o.smj, wscg + o.wscg,
    cacheScans + o.cacheScans, scanBytes + o.scanBytes, scanRows + o.scanRows,
    analysisMs + o.analysisMs, optimizationMs + o.optimizationMs, planningMs + o.planningMs)

  def toJson: String =
    s"""{"exchanges":$exchanges,"broadcast_exchanges":$broadcasts,"broadcast_bytes":$broadcastBytes,""" +
      s""""smj":$smj,"wscg_stages":$wscg,"cache_scans":$cacheScans,"scan_bytes":$scanBytes,""" +
      s""""scan_rows":$scanRows,"analysis_ms":$analysisMs,"optimization_ms":$optimizationMs,""" +
      s""""planning_ms":$planningMs}"""
}

object PlanWalk {
  private def metric(p: SparkPlan, name: String): Long =
    p.metrics.get(name).map(_.value).getOrElse(0L)

  /** Walk a final (post-AQE) physical plan, including query stages,
    * reused exchanges and subqueries. */
  def count(plan: SparkPlan): PlanCounts = {
    var c = PlanCounts()
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case r: ReusedExchangeExec => walk(r.child)
        case i: InMemoryTableScanExec =>
          c = c.copy(cacheScans = c.cacheScans + 1, scanRows = c.scanRows + metric(i, "numOutputRows"))
        case _ =>
          p match {
            case _: ShuffleExchangeLike => c = c.copy(exchanges = c.exchanges + 1)
            case b: BroadcastExchangeLike =>
              c = c.copy(broadcasts = c.broadcasts + 1,
                broadcastBytes = c.broadcastBytes + metric(b, "dataSize"))
            case _: SortMergeJoinExec => c = c.copy(smj = c.smj + 1)
            case _: WholeStageCodegenExec => c = c.copy(wscg = c.wscg + 1)
            case f: DataSourceScanExec =>
              c = c.copy(scanBytes = c.scanBytes + metric(f, "filesSize"),
                scanRows = c.scanRows + metric(f, "numOutputRows"))
            case _ =>
          }
          p.children.foreach(walk)
      }
      p.subqueries.foreach(walk)
    }
    walk(plan)
    c
  }

  /** `QueryPlanningTracker` phase times of one query execution. */
  def phases(qe: QueryExecution): PlanCounts = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
    PlanCounts(analysisMs = ms("analysis"), optimizationMs = ms("optimization"),
      planningMs = ms("planning"))
  }
}

/** Collects the query executions that finish while an operation runs
  * (actions inside a query's build, the write of an ETL job). Only
  * used where one client runs at a time, so time order attributes
  * each execution to the operation in flight. */
final class ExecutionLog extends QueryExecutionListener {
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[PlanCounts]()
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    done.add(PlanWalk.count(qe.executedPlan) + PlanWalk.phases(qe))
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  def drain(): PlanCounts = {
    var c = PlanCounts()
    var x = done.poll()
    while (x != null) { c = c + x; x = done.poll() }
    c
  }
}
