package graft.perfbench

/** Per-layer metrics of the traced passes, each as a mean per pass. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2)
      else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def metrics(r: Runner, l: LayerListener): Seq[(String, Double)] = {
    val traced = r.passes.filter(_.traced).map(_.pass).toSet
    val n = math.max(traced.size, 1).toDouble
    def phase(ph: Option[String]): String => Boolean = {
      case Group(p, _, x) => traced(p) && ph.forall(_ == x)
      case _ => false
    }
    val all = l.total(phase(None))
    val construct = l.total(phase(Some("construct")))
    val exec = l.total(phase(Some("exec")))
    val spans = r.spans.filter(s => traced(s.pass))
    def spanS(name: String) =
      spans.filter(_.name == name).map(_.seconds).sum / n
    val selfS = Span.selfSeconds(r.spans.toSeq)
    val mb = 1048576.0
    val actionS = spanS("exec.action")
    // pass 1 is the untraced lead-in of Main.tracedSchedule
    val (tw, uw) = r.passes.filter(_.pass > 1).partition(_.traced)
    Seq(
      "queries.construct_s" -> spanS("queries.construct"),
      "queries.construct_jobs" -> construct.jobs / n,
      "plan.analysis_s" -> all.analysisMs / 1e3 / n,
      "plan.optimizer_s" -> all.optimizerMs / 1e3 / n,
      "plan.physical_s" -> all.physicalMs / 1e3 / n,
      "plan.executions" -> all.executions / n,
      "exec.jobs" -> all.jobs / n,
      "exec.stages" -> all.stages / n,
      "exec.tasks" -> all.tasks / n,
      "exec.sched_delay_s" -> all.schedDelayMs / 1e3 / n,
      "exec.action_s" -> actionS,
      "exec.task_run_s" -> all.runMs / 1e3 / n,
      "exec.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "exec.task_gc_s" -> all.gcMs / 1e3 / n,
      "exec.busy_frac" -> exec.runMs / 1e3 / n / (actionS * 4),
      "exec.failed_tasks" -> all.failedTasks / n,
      "shuffle.write_mb" -> all.shuffleWriteBytes / mb / n,
      "shuffle.read_mb" -> all.shuffleReadBytes / mb / n,
      "shuffle.fetch_wait_s" -> all.fetchWaitMs / 1e3 / n,
      "spill.mem_mb" -> all.memSpill / mb / n,
      "spill.disk_mb" -> all.diskSpill / mb / n,
      "input.mb" -> all.inputBytes / mb / n,
      "input.rows" -> all.inputRows / n,
      "output.mb" -> all.outputBytes / mb / n,
      "output.rows" -> all.outputRows / n,
      "cache.peak_mb" -> r.cachePeakBytes / mb,
      "cache.blocks_left" ->
        (if (r.blocksLeft.isEmpty) 0.0 else r.blocksLeft.sum.toDouble / r.blocksLeft.size),
      "cache.release_s" -> spanS("cache.release"),
      "span.key_self_s" ->
        spans.filter(_.name == "key").map(s => selfS(s.id)).sum / n,
      "trace.overhead_frac" ->
        (median(tw.map(_.wallS).toSeq) / median(uw.map(_.wallS).toSeq) - 1))
  }
}
