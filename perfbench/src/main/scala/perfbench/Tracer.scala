package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Records Spark jobs, SQL executions and Dataset actions through
  * Spark's public listener APIs. Nothing in the engine is touched: a
  * job's module is the innermost `graft.*` frame of the call site that
  * Spark stores with its SQL execution (`details`), or with its final
  * stage when the job runs outside SQL (GraphX, RDD checkpoints).
  *
  * Events arrive on Spark's listener thread; the harness reads the
  * recorded state only after draining the bus. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  final class Job(val id: Int, val submitMs: Long, val execId: Long,
                  val module: String, val schemaJob: Boolean) {
    var endMs = submitMs
    var stages, tasks = 0
    var cpuNs, shuffleWrite, shuffleRead, spill, scanned, written = 0L
  }

  final class Exec(val id: Long, val startMs: Long, val module: String,
                   val smallLoop: Boolean, val interpreted: Boolean) {
    var plan: Option[SparkPlanInfo] = None
    var filesWritten = 0L
  }

  val jobs = mutable.ArrayBuffer.empty[Job]
  val execs = mutable.LinkedHashMap.empty[Long, Exec]
  val actions = mutable.ArrayBuffer.empty[Action]
  private val jobById = mutable.Map.empty[Int, Job]
  private val stageJob = mutable.Map.empty[Int, Job]
  private val filesMetric = mutable.Map.empty[Long, Exec]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val execId = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong).getOrElse(-1L)
    val last = e.stageInfos.maxByOption(_.stageId)
    val module = execs.get(execId).map(_.module)
      .getOrElse(last.map(s => moduleOf(s.details)).getOrElse(NoModule))
    val schema = execId < 0 && last.exists(_.name.startsWith(SchemaJobPrefix))
    val job = new Job(e.jobId, e.time, execId, module, schema)
    jobs += job
    jobById(e.jobId) = job
    e.stageIds.foreach(stageJob(_) = job)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobById.remove(e.jobId).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageJob.get(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (job <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      job.tasks += 1
      job.cpuNs += m.executorCpuTime
      job.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      job.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      job.spill += m.diskBytesSpilled
      job.scanned += m.inputMetrics.bytesRead
      job.written += m.outputMetrics.bytesWritten
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      val conf = s.modifiedConfigs
      val ex = new Exec(s.executionId, s.time, moduleOf(s.details),
        conf.get("spark.sql.adaptive.enabled").contains("false"),
        conf.get("spark.sql.codegen.wholeStage").contains("false"))
      execs(s.executionId) = ex
      setPlan(ex, s.sparkPlanInfo)
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      execs.get(u.executionId).foreach(setPlan(_, u.sparkPlanInfo))
    case a: SparkListenerDriverAccumUpdates =>
      for ((acc, v) <- a.accumUpdates; ex <- filesMetric.get(acc))
        ex.filesWritten += v
    case _ =>
  }

  private def setPlan(ex: Exec, plan: SparkPlanInfo): Unit = {
    ex.plan = Some(plan)
    nodes(plan).flatMap(_.metrics).filter(_.name == "number of written files")
      .foreach(m => filesMetric(m.accumulatorId) = ex)
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = record(funcName, qe)

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = record(funcName, qe)

  /** Catalyst time of one action: its analysis, optimization and
    * planning phases, dated by the end of the last of them. */
  private def record(funcName: String, qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.filter { case (k, _) => CatalystPhases(k) }
    if (phases.nonEmpty) actions += Action(
      phases.values.map(_.endTimeMs).max,
      phases.values.map(p => (p.endTimeMs - p.startTimeMs) * 1000000L).sum,
      funcName)
  }
}

object Tracer {
  final case class Action(atMs: Long, planNs: Long, name: String)

  val NoModule = "none"
  val OtherModule = "other"

  /** The engine modules a job is attributed to, by package-qualified
    * object name below `graft.`; every class under `graft.builder`
    * counts as `builder`. */
  val Modules: Seq[String] = Seq("builder", "algos.Traversals",
    "algos.GraphOps", "algos.LinkAnalysis", "ext.Dedup", "ext.Similarity",
    "ext.Clustering", "ext.TextOps", "ext.Multimodal", "ext.Sampling",
    "viz.VizData", "streaming.EventStreams", "SparkEntry")
  private val ModuleSet = Modules.toSet

  private val CatalystPhases = Set("analysis", "optimization", "planning")

  /** Final-stage name of the job Spark runs to read a parquet file's
    * schema while a DataFrame is created, outside any SQL execution. */
  private val SchemaJobPrefix = "parquet at "

  private val Frame = """^(?:at\s+)?(?:\S*/)?graft\.([A-Za-z0-9_.$]+)\.[^.(]+\(.*""".r

  /** Innermost listed module in a call-site stack (one frame a line,
    * innermost first); `other` if only unlisted `graft` frames appear,
    * `none` if no `graft` frame does. */
  def moduleOf(details: String): String = {
    val frames = Option(details).getOrElse("").linesIterator.map(_.trim)
      .collect { case Frame(cls) => cls }.map { cls =>
        val name = cls.takeWhile(_ != '$')
        if (name.startsWith("builder.")) "builder" else name
      }.toSeq
    frames.find(ModuleSet).getOrElse(
      if (frames.nonEmpty) OtherModule else NoModule)
  }

  def nodes(p: SparkPlanInfo): Seq[SparkPlanInfo] =
    p +: p.children.flatMap(nodes)
}
