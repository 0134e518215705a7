package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Spark's own accounting of the work, read through the public listener
  * APIs: one [[SparkListener]] for jobs, stages and tasks, one
  * [[QueryExecutionListener]] for planning time. Registered only in a
  * traced run; nothing inside the engine is instrumented.
  *
  * Events arrive on Spark's listener bus thread; readers call
  * [[awaitQuiet]] first and then take consistent copies. */
final class SparkTrace(spark: SparkSession) {
  import SparkTrace._

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val firstLaunch = mutable.HashMap.empty[Int, Long]
  private val queries = mutable.ArrayBuffer.empty[Query]
  private val executionSites = mutable.HashMap.empty[Long, String]
  private var events = 0L

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => SparkTrace.this.synchronized {
        events += 1
        // the action's call site; a nested execution keeps its root's
        val root = s.rootExecutionId.flatMap(executionSites.get)
        executionSites(s.executionId) = root.getOrElse(s.description)
      }
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = SparkTrace.this.synchronized {
      events += 1
      // a job an SQL action runs on another thread (adaptive query stages,
      // broadcasts) carries a pool thread's call site: take its action's
      val props = Option(e.properties)
      val site = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSites.get(id.toLong))
        .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
        .getOrElse(e.stageInfos.maxBy(_.stageId).name)
      jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds, site)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = SparkTrace.this.synchronized {
      events += 1
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(end = e.time))
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = SparkTrace.this.synchronized {
      events += 1
      val t = e.taskInfo.launchTime
      firstLaunch(e.stageId) = firstLaunch.get(e.stageId).fold(t)(math.min(_, t))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = SparkTrace.this.synchronized {
      events += 1
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) stages(i.stageId) = Stage(
        id = i.stageId, submit = i.submissionTime.getOrElse(-1L), tasks = i.numTasks,
        runMs = m.executorRunTime, cpuMs = m.executorCpuTime / 1e6,
        inputRows = m.inputMetrics.recordsRead, inputBytes = m.inputMetrics.bytesRead,
        shuffleReadRecords = m.shuffleReadMetrics.recordsRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        shuffleWriteRecords = m.shuffleWriteMetrics.recordsWritten,
        resultBytes = m.resultSize, gcMs = m.jvmGCTime,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val planMs = Seq("analysis", "optimization", "planning").flatMap(ph.get).map(_.durationMs).sum
      val start = if (ph.isEmpty) System.currentTimeMillis() else ph.values.map(_.startTimeMs).min
      SparkTrace.this.synchronized {
        events += 1
        queries += Query(start, planMs)
      }
    }
  }

  def start(): this.type = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    this
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until no event has arrived for `quietMs` (the bus has drained
    * what the finished work posted), at most `maxMs`. */
  def awaitQuiet(quietMs: Long = 300L, maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var last = synchronized(events)
    var since = System.currentTimeMillis()
    while (System.currentTimeMillis() - since < quietMs && System.currentTimeMillis() < deadline) {
      Thread.sleep(25)
      val now = synchronized(events)
      if (now != last) { last = now; since = System.currentTimeMillis() }
    }
  }

  /** A consistent copy of everything recorded so far. */
  def snapshot(): Snapshot = synchronized {
    Snapshot(jobs.values.toVector, stages.toMap, firstLaunch.toMap, queries.toVector)
  }
}

object SparkTrace {
  final case class Job(id: Int, submit: Long, end: Long, stageIds: Seq[Int], callSite: String) {
    def ms: Long = if (end >= submit) end - submit else 0L
  }
  final case class Stage(id: Int, submit: Long, tasks: Int, runMs: Long,
                         cpuMs: Double, inputRows: Long, inputBytes: Long,
                         shuffleReadRecords: Long, shuffleWriteBytes: Long,
                         shuffleWriteRecords: Long, resultBytes: Long, gcMs: Long,
                         spillBytes: Long)
  final case class Query(start: Long, planMs: Long)

  final case class Snapshot(jobs: Vector[Job], stages: Map[Int, Stage],
                            firstLaunch: Map[Int, Long], queries: Vector[Query]) {
    /** Jobs submitted inside [from, to]. */
    def jobsIn(from: Long, to: Long): Vector[Job] = jobs.filter(j => j.submit >= from && j.submit <= to)

    /** Stages that ran for `js`, each counted once (a stage a later job
      * reuses is skipped there and has no second completion). */
    def stagesOf(js: Seq[Job]): Vector[Stage] =
      js.flatMap(_.stageIds).distinct.flatMap(stages.get).toVector

    /** Time tasks of each stage waited after the stage was submitted,
      * summed over `ss` (stages of one request run one after another). */
    def taskWaitMs(ss: Seq[Stage]): Long =
      ss.flatMap(s => firstLaunch.get(s.id).map(l => math.max(0L, l - s.submit))).sum
  }
}
