package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The one listener for what a query cost: jobs, stages and tasks, shuffle
  * and spill bytes, failed stages, per-call-site job time and per-stage
  * wall/CPU, plus JIT and GC ms read at snapshot time. Take a [[snapshot]]
  * before and after an action; their difference is that action's cost.
  */
final class QueryTrace private (sc: SparkContext) extends SparkListener {
  import QueryTrace._

  // written on the listener-bus thread, read by snapshot(): both under `this`
  private var totals = Totals()
  private val started = scala.collection.mutable.Map[Int, (Long, String)]()
  private val sqlSites = scala.collection.mutable.Map[String, String]()
  private val stageSites = scala.collection.mutable.Map[Int, String]()

  // A SQL execution's description is the call site of the action that
  // started it; its jobs may be submitted from AQE's stage threads, whose
  // own call site is a thread-pool frame. Other jobs take the name of their
  // result stage (created last, so the highest id), which is their call site.
  // A stage is named after the job that submitted it.
  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart => sqlSites(s.executionId.toString) = s.description
      case s: SparkListenerSQLExecutionEnd => sqlSites.remove(s.executionId.toString)
      case _ =>
    }
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    val site = Option(j.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(sqlSites.get)
      .getOrElse(j.stageInfos.maxByOption(_.stageId).fold("?")(_.name))
    started(j.jobId) = (j.time, site)
    j.stageIds.foreach(stageSites(_) = site)
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    started.remove(j.jobId).foreach { case (t0, site) =>
      val (n, ms) = totals.sites.getOrElse(site, (0, 0L))
      totals = totals.copy(sites = totals.sites.updated(site, (n + 1, ms + j.time - t0)))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val si = s.stageInfo
    val m = Option(si.taskMetrics) // null for a stage that never started
    def sum(f: org.apache.spark.executor.TaskMetrics => Long) = m.fold(0L)(f)
    totals = totals.copy(stageLog = totals.stageLog :+ Stage(si.stageId,
      stageSites.remove(si.stageId).getOrElse(si.name), si.numTasks,
      sum(x => x.outputMetrics.recordsWritten + x.shuffleWriteMetrics.recordsWritten),
      sum(_.shuffleReadMetrics.totalBytesRead), sum(_.shuffleWriteMetrics.bytesWritten),
      sum(_.diskBytesSpilled),
      (for (b <- si.submissionTime; e <- si.completionTime) yield e - b).getOrElse(0L),
      sum(_.executorRunTime), sum(_.executorCpuTime) / 1000000L, si.failureReason))
  }

  /** Cumulative totals once every event already posted has been handled. */
  def snapshot(): Totals = {
    org.apache.spark.graft.ListenerBusDrain.waitUntilEmpty(sc)
    val (jit, gc) = jitGcMs()
    synchronized(totals.copy(jitMs = jit, gcMs = gc))
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object QueryTrace {

  /** One completed stage: `rows` written (output + shuffle), shuffle and
    * spill bytes, summed task run and CPU ms (a 32-wide 0.1 s stage reads
    * 3.2 s of task time while costing 0.1 s of wall).
    */
  final case class Stage(id: Int, name: String, tasks: Int, rows: Long, shuffleRead: Long,
      shuffleWrite: Long, spill: Long, wallMs: Long, runMs: Long, cpuMs: Long,
      failure: Option[String])

  /** Counters since the listener started, or — after `-` — between two
    * snapshots. `sites` maps a job's call site to (jobs, summed job ms).
    */
  final case class Totals(jobs: Long = 0, jitMs: Long = 0, gcMs: Long = 0,
      sites: Map[String, (Int, Long)] = Map.empty, stageLog: Vector[Stage] = Vector.empty) {
    def stages: Long = stageLog.size
    def tasks: Long = stageLog.map(_.tasks.toLong).sum
    def shuffleRead: Long = stageLog.map(_.shuffleRead).sum
    def shuffleWrite: Long = stageLog.map(_.shuffleWrite).sum
    def spill: Long = stageLog.map(_.spill).sum
    def failedStages: Long = stageLog.count(_.failure.isDefined)

    def -(before: Totals): Totals = Totals(jobs - before.jobs,
      jitMs - before.jitMs, gcMs - before.gcMs,
      sites.flatMap { case (site, (n, ms)) =>
        val (n0, ms0) = before.sites.getOrElse(site, (0, 0L))
        if (n > n0) Some(site -> (n - n0, ms - ms0)) else None
      },
      stageLog.drop(before.stageLog.size))

    /** The cost fields of a Bench telemetry line. Per-query deltas of JIT
      * and GC ms attribute a slow query to compilation/GC churn in-band;
      * job count is the driver-environment scale lever (each job pays a
      * scheduler round-trip), so a job-count regression is a one-line diff.
      */
    def summary: String =
      f"jit +$jitMs%dms gc +$gcMs%dms  jobs $jobs%d stages $stages%d tasks $tasks%d  " +
        f"shuffle r/w $shuffleRead%d/$shuffleWrite%d B  spill $spill%d B"
  }

  /** Registers a new trace on `spark`'s context. */
  def apply(spark: SparkSession): QueryTrace = {
    val t = new QueryTrace(spark.sparkContext)
    spark.sparkContext.addSparkListener(t)
    t
  }

  /** Cumulative JIT compilation ms and GC ms of this JVM. */
  private def jitGcMs(): (Long, Long) = {
    import java.lang.management.ManagementFactory
    import scala.jdk.CollectionConverters._
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(0L)(_.getTotalCompilationTime)
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum
    (jit, gc)
  }
}
