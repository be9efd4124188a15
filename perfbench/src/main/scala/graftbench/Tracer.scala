package graftbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed operation: three child spans (build, plan, exec) in
  * nanoseconds plus their epoch-millisecond boundaries, so Spark job
  * intervals (reported in epoch ms) can be intersected with them.
  */
final case class OpRec(idx: Int, name: String, kind: String,
    startMs: Long, planStartMs: Long, execStartMs: Long, endMs: Long,
    buildNs: Long, planNs: Long, execNs: Long, ok: Boolean, err: String) {
  def latencyMs: Double = (buildNs + planNs + execNs) / 1e6
}

/** Scan-node counters read off an executed physical plan. */
final case class ScanStats(files: Long, rows: Long, metadataMs: Long) {
  def +(o: ScanStats): ScanStats =
    ScanStats(files + o.files, rows + o.rows, metadataMs + o.metadataMs)
}

object ScanStats extends AdaptiveSparkPlanHelper {
  val zero: ScanStats = ScanStats(0, 0, 0)

  def of(plan: SparkPlan): ScanStats =
    collectWithSubqueries(plan) { case s: FileSourceScanExec => s }.map { s =>
      def m(n: String): Long = s.metrics.get(n).map(_.value).getOrElse(0L)
      ScanStats(m("numFiles"), m("numOutputRows"), m("metadataTime"))
    }.foldLeft(zero)(_ + _)
}

/** Every listener the traced run registers: a SparkListener (jobs,
  * stages, task metrics), a QueryExecutionListener (planning phases and
  * scan counters per executed query) and a StreamingQueryListener
  * (trigger phases). Events only accumulate in memory here; `summary`
  * turns them into per-layer figures once the run is over.
  */
class Tracer extends SparkListener {
  import Tracer._

  private val jobs = mutable.Map[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()
  private val taskTotals = mutable.Map[Int, TaskTotals]() // by job id
  private val stagesDone = mutable.ArrayBuffer[Int]() // job id of each completed stage
  private var queries = Vector.empty[QeRec]
  private var triggers = Vector.empty[Trigger]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs(e.jobId) = Job(e.jobId, e.time, -1L,
      prop(OpProp).map(_.toInt).getOrElse(-1), prop(PhaseProp).getOrElse(""))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageJob.get(e.stageInfo.stageId).foreach(stagesDone += _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { j =>
      val t = taskTotals.getOrElseUpdate(j, new TaskTotals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.inputBytes += m.inputMetrics.bytesRead
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String) = phases.get(p).map(_.durationMs).getOrElse(0L)
    val at = if (phases.isEmpty) System.currentTimeMillis() else phases.values.map(_.startTimeMs).min
    val scan = try ScanStats.of(qe.executedPlan) catch { case _: Throwable => ScanStats.zero }
    val rec = QeRec(at, ms("analysis"), ms("optimization"), ms("planning"), scan)
    synchronized { queries :+= rec }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val at = java.time.Instant.parse(e.progress.timestamp).toEpochMilli
      Tracer.this.synchronized { triggers :+= Trigger(at, d) }
    }
  }

  /** Per-layer figures over the measured loop `[loopStart, loopEnd]`
    * (epoch ms). Additive figures are divided by `passes`, so they read
    * "per pass" like wall_s. Jobs whose operation tag is missing, or
    * names an operation that was not running when the job started
    * (a thread that inherited a stale tag), count as untagged.
    */
  def summary(ops: Seq[OpRec], loopStart: Long, loopEnd: Long, passes: Int,
      cores: Int): Map[String, Double] = synchronized {
    val inLoop = jobs.values.filter(j => j.startMs >= loopStart && j.startMs <= loopEnd).toSeq
    val byIdx = ops.map(o => o.idx -> o).toMap
    def tagged(j: Job) = byIdx.get(j.op).exists(o => j.startMs >= o.startMs && j.startMs <= o.endMs)
    def intervals(js: Seq[Job]) =
      js.map(j => (j.startMs, if (j.endMs < 0) loopEnd else j.endMs))
    val all = intervals(inLoop)
    val execSpanMs = ops.map(_.execNs / 1e6).sum
    val execInJob = ops.map(o => covered(all, o.execStartMs, o.endMs).toDouble
      .min(o.execNs / 1e6)).sum
    val opOutside = ops.map(o => math.max(0.0, o.latencyMs - covered(all, o.startMs, o.endMs))).sum
    val tt = inLoop.flatMap(j => taskTotals.get(j.id))
    val loopMs = math.max(1L, loopEnd - loopStart)
    val qs = queries.filter(q => q.atMs >= loopStart && q.atMs <= loopEnd)
    val scan = qs.map(_.scan).foldLeft(ScanStats.zero)(_ + _)
    val trig = triggers.filter(t => t.atMs >= loopStart && t.atMs <= loopEnd)
    def phase(k: String) = trig.map(_.durations.getOrElse(k, 0L)).sum.toDouble
    val outsideTrigger = ops.map { o =>
      val mine = trig.filter(t => t.atMs >= o.startMs && t.atMs <= o.endMs)
      if (mine.isEmpty) 0.0
      else math.max(0.0, o.latencyMs - mine.map(_.durations.getOrElse("triggerExecution", 0L)).sum)
    }.sum
    val loopJobs = inLoop.map(_.id).toSet
    val stageCount = stagesDone.count(loopJobs)
    val p = passes.toDouble
    Map(
      "operators.build_ms" -> ops.map(_.buildNs / 1e6).sum / p,
      "operators.build_jobs" -> inLoop.count(j => j.phase == "build" && tagged(j)) / p,
      "plans.plan_ms" -> ops.map(_.planNs / 1e6).sum / p,
      "plans.analysis_ms" -> qs.map(_.analysisMs).sum / p,
      "plans.optimization_ms" -> qs.map(_.optimizationMs).sum / p,
      "plans.planning_ms" -> qs.map(_.planningMs).sum / p,
      "scan.files_read" -> scan.files / p,
      "scan.bytes_read" -> tt.map(_.inputBytes).sum / p,
      "scan.rows_out" -> scan.rows / p,
      "scan.metadata_ms" -> scan.metadataMs / p,
      "exec.exec_ms" -> execSpanMs / p,
      "exec.jobs" -> inLoop.size / p,
      "exec.stages" -> stageCount / p,
      "exec.tasks" -> tt.map(_.tasks).sum / p,
      "exec.in_job_ms" -> execInJob / p,
      "exec.outside_job_ms" -> (execSpanMs - execInJob) / p,
      "exec.op_outside_job_ms" -> opOutside / p,
      "exec.untagged_jobs" -> inLoop.count(j => !tagged(j)) / p,
      "exec.executor_run_ms" -> tt.map(_.runMs).sum / p,
      "exec.executor_cpu_ms" -> tt.map(_.cpuNs).sum / 1e6 / p,
      "exec.executor_gc_ms" -> tt.map(_.gcMs).sum / p,
      "exec.core_busy_frac" -> tt.map(_.runMs).sum.toDouble / (loopMs * cores),
      "exec.shuffle_read_bytes" -> tt.map(_.shuffleRead).sum / p,
      "exec.shuffle_write_bytes" -> tt.map(_.shuffleWrite).sum / p,
      "exec.spill_bytes" -> tt.map(_.spill).sum / p,
      "streaming.triggers" -> trig.size / p,
      "streaming.trigger_ms" -> phase("triggerExecution") / p,
      "streaming.addBatch_ms" -> phase("addBatch") / p,
      "streaming.queryPlanning_ms" -> phase("queryPlanning") / p,
      "streaming.walCommit_ms" -> phase("walCommit") / p,
      "streaming.commitOffsets_ms" -> phase("commitOffsets") / p,
      "streaming.outside_trigger_ms" -> outsideTrigger / p)
  }

  /** Jobs started inside `[from, to]` and their intervals, for the lake
    * write-side figures. */
  def jobsIn(from: Long, to: Long): Seq[(Long, Long)] = synchronized {
    jobs.values.filter(j => j.startMs >= from && j.startMs <= to)
      .map(j => (j.startMs, if (j.endMs < 0) to else j.endMs)).toSeq
  }

  /** Jobs tagged with operation `idx`, for the span file. */
  def opJobs(idx: Int): Int = synchronized { jobs.values.count(_.op == idx) }
}

object Tracer {
  val OpProp = "graftbench.op"
  val PhaseProp = "graftbench.phase"

  final case class Job(id: Int, startMs: Long, endMs: Long, op: Int, phase: String)
  final class TaskTotals {
    var tasks, runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, inputBytes = 0L
  }
  final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long, scan: ScanStats)
  final case class Trigger(atMs: Long, durations: Map[String, Long])

  /** Milliseconds of `[from, to]` covered by the union of `iv`. */
  def covered(iv: Seq[(Long, Long)], from: Long, to: Long): Long = {
    val clipped = iv.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
