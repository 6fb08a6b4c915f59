package perfbench

import scala.collection.mutable

/** Per-layer numbers for a set of bench job spans, from the spans and the
  * [[LayerListener]]'s records. Names follow the repo's modules, with
  * Spark's own layers (plans, scheduler, tasks, shuffle, memory) beneath. */
object Layers {

  /** One traced pass: its jobs' layers plus the pass-level GC reading. */
  def of(tr: Tracer, l: LayerListener, p: Main.PassRec, w: Workload,
      cpus: Int): Map[String, Double] = {
    val jobs = tr.children(p.span.id).filter(_.name == "job")
    val streams = p.facts.filter { case (j, _) => w.streamJobs(j) }.values.toSeq
    def stream(k: String): Double = streams.map(_(k)).sum
    val streamWall = jobs.filter(j => w.streamJobs(j.attrs("job").toString))
      .flatMap(j => tr.children(j.id).filter(_.name == "action")).map(_.seconds).sum
    ofJobs(tr, l, jobs, w, cpus) ++ Map(
      "memory.gc_s" -> p.gcS,
      "jvm.jit_s" -> p.jitS,
      "streaming.batches" -> stream("batches"),
      "streaming.latest_offset_ms" -> stream("latest_offset_ms"),
      "streaming.add_batch_ms" -> stream("add_batch_ms"),
      "streaming.wal_commit_ms" -> stream("wal_commit_ms"),
      "streaming.state_rows" -> stream("state_rows"),
      "streaming.state_mem_bytes" -> stream("state_mem_bytes"),
      "streaming.rows_per_s" ->
        (if (streamWall > 0) stream("rows") / streamWall else 0.0),
      "streaming.batch_p50_ms" -> Stats.median(streams.map(_("batch_p50_ms"))))
  }

  private def kidsOf(t: Tracer, id: Long): Seq[Span] = t.children(id)

  def ofJobs(t: Tracer, l: LayerListener, jobs: Seq[Span], w: Workload,
      cpus: Int): Map[String, Double] = l.synchronized {
    val kids = jobs.map(j => j -> kidsOf(t, j.id)).toMap
    def named(n: String) = kids.values.flatten.filter(_.name == n).toSeq
    val construct = named("construct")
    val action = named("action")
    val reclaim = named("reclaim")
    val spanIds = (jobs.map(_.id) ++ kids.values.flatten.map(_.id)).toSet
    val constructIds = construct.map(_.id).toSet
    val sparkJobs = l.jobSpan.filter { case (_, s) => spanIds(s) }
    val stages = l.stages.filter(s => spanIds(s.span)).toSeq
    val stageIds = stages.map(_.stageId).toSet
    val tasks = l.tasks.filter(t => stageIds(t.stageId)).toSeq
    val plans = l.plans.filter(p => jobs.exists(_.contains(p.startMs))).toSeq
    val jobWall = (construct ++ action).map(_.seconds).sum

    // action wall time during which no task of the action was running
    val outside = action.map { a =>
      val ids = stages.filter(_.span == a.id).map(_.stageId).toSet
      val iv = tasks.filter(t => ids(t.stageId))
        .map(t => (math.max(t.launchMs, a.startNs / 1000000L),
          math.min(t.finishMs, a.endNs / 1000000L)))
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L
      var curS, curE = -1L
      iv.foreach { case (s, e) =>
        if (curS < 0) { curS = s; curE = e }
        else if (s > curE) { covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curS >= 0) covered += curE - curS
      math.max(0.0, a.seconds - covered / 1e3)
    }.sum

    // mr: the harness's MapReduce jobs only
    val mrJobs = jobs.filter(j => w.mrJobs(j.attrs("job").toString))
    val mr = mutable.Map("mr.input_s" -> 0.0, "mr.map_stage_s" -> 0.0,
      "mr.reduce_stage_s" -> 0.0, "mr.commit_s" -> 0.0)
    mrJobs.foreach { j =>
      val ids = (j.id +: kidsOf(t, j.id).map(_.id)).toSet
      val st = stages.filter(s => ids(s.span))
      val mapStages = tasks.filter(_.mapTask).map(_.stageId).toSet
      if (st.nonEmpty) {
        mr("mr.input_s") += (st.map(_.submitMs).min - j.startNs / 1000000L) / 1e3
        st.foreach { s =>
          val k = if (mapStages(s.stageId)) "mr.map_stage_s" else "mr.reduce_stage_s"
          mr(k) += (s.completeMs - s.submitMs) / 1e3
        }
        kidsOf(t, j.id).find(_.name == "action").foreach { a =>
          mr("mr.commit_s") += math.max(0L, a.endNs / 1000000L - st.map(_.completeMs).max) / 1e3
        }
      }
    }

    def sumL(f: TaskRec => Long): Double = tasks.map(f).map(_.toDouble).sum
    val runS = sumL(_.runMs) / 1e3
    val cpuS = sumL(_.cpuNs) / 1e9
    Map(
      "queries.construct_s" -> construct.map(_.seconds).sum,
      "queries.construct_jobs" -> sparkJobs.count { case (_, s) => constructIds(s) }.toDouble,
      "operators.cached_bytes" -> construct.map(attr(_, "cached_bytes")).maxOption.getOrElse(0.0),
      "operators.cached_rdds" -> construct.map(attr(_, "cached_rdds")).maxOption.getOrElse(0.0),
      "caches.reclaim_s" -> reclaim.map(_.seconds).sum,
      "caches.reclaimed_rdds" -> reclaim.map(attr(_, "reclaimed_rdds")).sum,
      "plans.actions" -> plans.size.toDouble,
      "plans.analysis_ms" -> plans.map(_.analysisMs.toDouble).sum,
      "plans.optimization_ms" -> plans.map(_.optimizationMs.toDouble).sum,
      "plans.planning_ms" -> plans.map(_.planningMs.toDouble).sum,
      "plans.fallback_exprs" -> plans.map(_.fallbackExprs.toDouble).sum,
      "scheduler.jobs" -> sparkJobs.size.toDouble,
      "scheduler.stages" -> stages.size.toDouble,
      "scheduler.tasks" -> tasks.size.toDouble,
      "scheduler.outside_tasks_s" -> outside,
      "tasks.run_s" -> runS,
      "tasks.cpu_s" -> cpuS,
      "tasks.cpu_over_run" -> (if (runS > 0) cpuS / runS else 0.0),
      "tasks.deser_s" -> sumL(_.deserMs) / 1e3,
      "tasks.slot_busy_frac" ->
        (if (jobWall > 0) sumL(t => t.finishMs - t.launchMs) / 1e3 / (cpus * jobWall) else 0.0),
      "shuffle.write_bytes" -> sumL(_.shuffleWriteBytes),
      "shuffle.read_bytes" -> sumL(_.shuffleReadBytes),
      "shuffle.records" -> sumL(_.shuffleRecords),
      "shuffle.fetch_wait_s" -> sumL(_.fetchWaitMs) / 1e3,
      "shuffle.write_s" -> sumL(_.shuffleWriteNs) / 1e9,
      "memory.spill_disk_bytes" -> sumL(_.spillDisk),
      "memory.spill_mem_bytes" -> sumL(_.spillMem),
      "memory.peak_exec_bytes" -> tasks.map(_.peakExec.toDouble).maxOption.getOrElse(0.0),
      "sources.input_bytes" -> sumL(_.inputBytes),
      "sources.input_records" -> sumL(_.inputRecords)) ++ mr
  }

  private def attr(s: Span, k: String): Double = s.attrs.get(k) match {
    case Some(n: Int) => n.toDouble
    case Some(n: Long) => n.toDouble
    case _ => 0.0
  }
}
