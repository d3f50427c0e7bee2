package graftbench

import scala.collection.mutable

/** Reduces a Trace to per-operation layer counters and a span list.
  * Each operation window (tag, start, end) owns the jobs and stages that
  * carry its tag, and any untagged job, stage or planning phase that
  * starts inside it. Spans: operation -> job -> stage, with planning
  * phases as children of the operation. */
object Layers {

  private def union(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    covered + (curE - curS)
  }

  def apply(t: Trace, windows: Seq[(String, Long, Long)], cpus: Int)
      : (Map[String, Map[String, Any]], Seq[Map[String, Any]]) = t.synchronized {
    t.resolveSites()
    def inWindow(ms: Long): Option[String] =
      windows.find { case (_, s, e) => ms >= s && ms <= e }.map(_._1)
    val jobTag = t.jobs.map(j => j.id -> j.tag.orElse(inWindow(j.start))).toMap
    val stageJob = t.jobs.flatMap(j => j.stageIds.map(_ -> j.id)).toMap
    def stageTag(s: Trace.StageRec): Option[String] =
      s.tag.orElse(stageJob.get(s.id).flatMap(jobTag)).orElse(inWindow(s.submit))
    val stagesByTag = t.stages.values.groupBy(stageTag)
    val jobsByTag = t.jobs.groupBy(j => jobTag(j.id))
    val plansByTag = t.plans.groupBy(p => inWindow(p.start))

    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    val perOp = windows.map { case (tag, start, end) =>
      val wall = math.max(1L, end - start)
      val jobs = jobsByTag.getOrElse(Some(tag), Nil).toSeq
      val stages = stagesByTag.getOrElse(Some(tag), Nil).toSeq
      val plans = plansByTag.getOrElse(Some(tag), Nil).toSeq
      val jobCover = union(jobs.map(j => (math.max(j.start, start), math.min(j.end, end)))
        .filter { case (s, e) => e > s })
      val runMs = stages.map(_.runMs).sum
      val sinkWrites = stages.filter(s => s.outBytes > 0 && !s.viaStore)
      val ckptJobs = jobs.filter(j => j.callSite.startsWith("localCheckpoint") ||
        j.callSite.startsWith("checkpoint"))
      val ckptStages = ckptJobs.flatMap(_.stageIds).toSet
      val opName = tag.split("/").last
      val sites = mutable.LinkedHashMap.empty[String, (Int, Long)]
      jobs.foreach(j => sites(j.site) = sites.getOrElse(j.site, (0, 0L)) match { case (n, r) => (n + 1, r) })
      stages.foreach(s => sites(s.site) = sites.getOrElse(s.site, (0, 0L)) match { case (n, r) => (n, r + s.runMs) })
      val m = Map[String, Any](
        "wall_ms" -> wall,
        "driver.gap_ms" -> (wall - jobCover),
        "plan.ms" -> plans.map(_.ms).sum,
        "sched.jobs" -> jobs.size,
        "sched.stages" -> stages.size,
        "sched.tasks" -> stages.map(_.tasks).sum,
        "sched.delay_ms" -> stages.map(_.delayMs).sum,
        "exec.run_ms" -> runMs,
        "exec.cpu_ms" -> stages.map(_.cpuNs).sum / 1e6,
        "exec.gc_ms" -> stages.map(_.gcMs).sum,
        "scan.bytes" -> stages.map(_.inBytes).sum,
        "scan.rows" -> stages.map(_.inRows).sum,
        "scan.tasks" -> stages.map(_.scanTasks).sum,
        "shuffle.write_bytes" -> stages.map(_.shWrite).sum,
        "shuffle.read_bytes" -> stages.map(_.shRead).sum,
        "shuffle.fetch_wait_ms" -> stages.map(_.fetchWaitMs).sum,
        "spill.bytes" -> stages.map(_.spill).sum,
        "sink.rows" -> sinkWrites.map(_.outRows).sum,
        "sink.run_ms" -> sinkWrites.map(_.runMs).sum,
        "checkpoint.jobs" -> ckptJobs.size,
        "checkpoint.run_ms" -> stages.filter(s => ckptStages(s.id)).map(_.runMs).sum,
        // The CCD kernel runs pipelined with the ARD scan: the
        // changedetection stages that read input are the kernel's stages.
        "ccd.run_ms" -> (if (opName == "changedetection") stages.filter(_.inBytes > 0).map(_.runMs).sum else 0L),
        "sites" -> sites.map { case (f, (n, r)) => f -> Map("jobs" -> n, "run_ms" -> r) }.toMap)
      spans += Map("kind" -> "op", "id" -> tag, "parent" -> null, "start" -> start, "end" -> end)
      jobs.foreach { j =>
        spans += Map("kind" -> "job", "id" -> s"job${j.id}", "parent" -> tag,
          "start" -> j.start, "end" -> j.end, "site" -> j.site, "name" -> j.callSite)
      }
      stages.foreach { s =>
        val parent = stageJob.get(s.id).map(j => s"job$j").getOrElse(tag)
        spans += Map("kind" -> "stage", "id" -> s"stage${s.id}", "parent" -> parent,
          "start" -> s.submit, "end" -> math.max(s.submit, s.complete), "site" -> s.site,
          "name" -> s.name, "tasks" -> s.tasks, "run_ms" -> s.runMs)
      }
      plans.foreach { p =>
        spans += Map("kind" -> "plan", "parent" -> tag, "start" -> p.start, "end" -> p.end,
          "ms" -> p.ms, "phases" -> p.phases)
      }
      tag -> m
    }
    val untagged = t.jobs.count(j => jobTag(j.id).isEmpty)
    (perOp.toMap + ("_trace" -> Map("untagged_jobs" -> untagged, "jobs" -> t.jobs.size)), spans.toSeq)
  }
}
