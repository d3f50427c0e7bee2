package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer attribution from outside the engine: one SparkListener and one
  * QueryExecutionListener. Every job, stage and planning phase is
  * attributed to the operation whose local-property tag it carries
  * (`Trace.TagKey`, set by the harness around each call), or, for work
  * submitted without the tag, to the operation whose wall-clock window
  * holds it. Spans are kept in memory; the harness reads them after the
  * listener bus drains.
  */
object Trace {
  val TagKey = "graftbench.tag"

  final case class JobRec(id: Int, tag: Option[String], start: Long,
      var end: Long, stageIds: Seq[Int], var site: String, callSite: String,
      execId: Option[Long])

  final class StageRec(val id: Int, val tag: Option[String], val name: String,
      var site: String, val viaStore: Boolean) {
    var submit = 0L; var complete = 0L; var tasks = 0
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var delayMs = 0L
    var inBytes = 0L; var inRows = 0L; var scanTasks = 0
    var shWrite = 0L; var shRead = 0L; var fetchWaitMs = 0L; var spill = 0L
    var outBytes = 0L; var outRows = 0L
  }

  final case class PlanRec(start: Long, end: Long, ms: Long, phases: Map[String, Long])

  /** The first graft frame of a long call site, as a source base name:
    * the file that issued the job, even when a library (spark.ml) sits
    * between it and the scheduler. Jobs issued by the harness itself
    * (the output fold) carry the harness file name. */
  def siteOf(longForm: String): String = {
    val frames = longForm.split("\n").map(_.trim).filter(_.nonEmpty)
    def file(f: String): String = {
      val open = f.lastIndexOf('('); val colon = f.lastIndexOf(':')
      if (open >= 0 && colon > open) f.substring(open + 1, colon).stripSuffix(".scala")
      else if (open >= 0) f.substring(open + 1).stripSuffix(")").stripSuffix(".scala")
      else "unknown"
    }
    frames.find(_.startsWith("graft."))
      .orElse(frames.find(_.startsWith("graftbench.")))
      .map(file).getOrElse(Unknown)
  }
  val Unknown = "unknown"
}

final class Trace extends SparkListener with QueryExecutionListener {
  import Trace._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val stages = mutable.LinkedHashMap.empty[Int, StageRec]
  val plans = mutable.ArrayBuffer.empty[PlanRec]
  /** SQL execution id -> (root execution id, issuing file): jobs that
    * AQE submits from its own threads carry no graft frame, but their
    * execution's start event holds the caller's call site. */
  val executions = mutable.HashMap.empty[Long, (Long, String)]
  private val stageTag = mutable.HashMap.empty[Int, Option[String]]
  private val jobById = mutable.HashMap.empty[Int, JobRec]

  private def tagOf(p: Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(TagKey)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The result stage (highest id) carries the job's call site.
    val result = e.stageInfos.maxBy(_.stageId)
    val tag = tagOf(e.properties)
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .map(_.toLong)
    val rec = JobRec(e.jobId, tag, e.time, e.time, e.stageInfos.map(_.stageId),
      siteOf(result.details), result.name, exec)
    e.stageInfos.foreach(s => stageTag(s.stageId) = tag)
    jobs += rec; jobById(e.jobId) = rec
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobById.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    val tag = tagOf(e.properties).orElse(stageTag.getOrElse(i.stageId, None))
    val rec = new StageRec(i.stageId, tag, i.name, siteOf(i.details),
      i.details.contains("graft.sources.SessionStore"))
    rec.submit = i.submissionTime.getOrElse(System.currentTimeMillis())
    stages(i.stageId) = rec
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- stages.get(e.stageId); m <- Option(e.taskMetrics)) {
      val info = e.taskInfo
      s.tasks += 1
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.delayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      s.inBytes += m.inputMetrics.bytesRead
      s.inRows += m.inputMetrics.recordsRead
      if (m.inputMetrics.bytesRead > 0) s.scanTasks += 1
      s.shWrite += m.shuffleWriteMetrics.bytesWritten
      s.shRead += m.shuffleReadMetrics.totalBytesRead
      s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      s.spill += m.diskBytesSpilled
      s.outBytes += m.outputMetrics.bytesWritten
      s.outRows += m.outputMetrics.recordsWritten
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      executions(s.executionId) = (s.rootExecutionId.getOrElse(s.executionId), siteOf(s.details))
    }
    case _ =>
  }

  /** Resolve sites left unknown by a job's own stack through its SQL
    * execution (or that execution's root), then give stages their job's. */
  def resolveSites(): Unit = synchronized {
    def execSite(id: Long): Option[String] = executions.get(id).flatMap { case (root, site) =>
      if (site != Unknown) Some(site) else executions.get(root).map(_._2).filter(_ != Unknown)
    }
    jobs.foreach(j => if (j.site == Unknown) j.execId.flatMap(execSite).foreach(j.site = _))
    val jobOfStage = jobs.flatMap(j => j.stageIds.map(_ -> j)).toMap
    stages.values.foreach(s => if (s.site == Unknown) jobOfStage.get(s.id).foreach(j => s.site = j.site))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
    record(qe)

  private def record(qe: QueryExecution): Unit = synchronized {
    val phases = qe.tracker.phases
    if (phases.nonEmpty) {
      val wanted = phases.filter { case (k, _) =>
        k == "analysis" || k == "optimization" || k == "planning" }
      plans += PlanRec(phases.values.map(_.startTimeMs).min,
        phases.values.map(_.endTimeMs).max,
        wanted.values.map(_.durationMs).sum, wanted.map { case (k, v) => k -> v.durationMs }.toMap)
    }
  }
}
