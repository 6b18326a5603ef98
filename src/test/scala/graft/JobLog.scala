package graft

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What a block of code asked Spark to do, for job-budget
  * specs: every job it ran, the Dataset actions behind them ("count",
  * "localCheckpoint", "collect", ...), and how many tasks wrote output
  * records. */
object JobLog {
  /** A job named by its final stage's call site; `sql` says whether it
    * ran inside a SQL execution (a footer-inference schema job does
    * not), `desc` is its `spark.job.description` (null when unset —
    * a kernel round sets `<kernel>/round <r>`). Jobs that adaptive
    * execution submits from its own threads carry no useful call
    * site, so specs count actions by name. */
  final case class Job(name: String, sql: Boolean, desc: String = null) {
    /** The job Spark runs to read parquet footers while a DataFrame is
      * created. */
    def schemaJob: Boolean = !sql && name.startsWith("parquet at ")
  }
  final case class Log(jobs: Seq[Job], actions: Seq[String], writeTasks: Int)

  def apply[A](spark: SparkSession)(body: => A): (A, Log) = {
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    TestListenerBus.drain(sc)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val actions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val writeTasks = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val props = Option(e.properties)
        jobs.add(Job(e.stageInfos.maxBy(_.stageId).name,
          props.exists(_.getProperty("spark.sql.execution.id") != null),
          props.map(_.getProperty("spark.job.description")).orNull))
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null &&
            e.taskMetrics.outputMetrics.recordsWritten > 0)
          writeTasks.incrementAndGet()
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        actions.add(f)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        actions.add(f)
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    try {
      val out = body
      TestListenerBus.drain(sc)
      (out, Log(jobs.asScala.toSeq, actions.asScala.toSeq, writeTasks.get))
    } finally {
      spark.listenerManager.unregister(qeListener)
      sc.removeSparkListener(listener)
    }
  }
}
