package perfbench

/** Per-layer metric names and their values for one traced compare. */
object Layers {
  private val perPhase: Seq[(String, String)] = Seq(
    "wall_s" -> "s", "driver_s" -> "s", "jobs" -> "count", "stages" -> "count",
    "tasks" -> "count", "task_cpu_s" -> "s", "task_run_s" -> "s", "gc_s" -> "s",
    "shuffle_write_mb" -> "MB", "shuffle_read_mb" -> "MB", "spill_mb" -> "MB",
    "input_mb" -> "MB")
  private val perCompare: Seq[(String, String)] = Seq(
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s",
    "catalyst.planning_s" -> "s", "plan.exchanges" -> "count", "plan.smj" -> "count",
    "plan.bhj" -> "count", "plan.codegen_stages" -> "count")
  private val units: Map[String, String] =
    (for (p <- Harness.Phases; (c, u) <- perPhase) yield s"$p.$c" -> u).toMap ++ perCompare

  val names: Seq[String] =
    (for (p <- Harness.Phases; (c, _) <- perPhase) yield s"$p.$c") ++ perCompare.map(_._1)

  def unit(name: String): String = units(name)

  /** Seconds of `[startMs, endMs]` covered by at least one job span. */
  private def covered(spans: Seq[(Long, Long)], startMs: Long, endMs: Long): Double = {
    val clipped = spans.map { case (s, e) => (math.max(s, startMs), math.min(e, endMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    for ((s, e) <- clipped) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  def phase(t: Harness.Timing, w: PhaseWork): Map[String, Double] = {
    val p = t.name
    Map(
      s"$p.wall_s" -> t.wallS,
      s"$p.driver_s" -> math.max(0.0, t.wallS - covered(w.jobSpans.toSeq, t.startMs, t.endMs)),
      s"$p.jobs" -> w.jobs.toDouble,
      s"$p.stages" -> w.stages.toDouble,
      s"$p.tasks" -> w.tasks.toDouble,
      s"$p.task_cpu_s" -> w.taskCpuNs / 1e9,
      s"$p.task_run_s" -> w.taskRunMs / 1e3,
      s"$p.gc_s" -> w.gcMs / 1e3,
      s"$p.shuffle_write_mb" -> w.shuffleWriteBytes / 1e6,
      s"$p.shuffle_read_mb" -> w.shuffleReadBytes / 1e6,
      s"$p.spill_mb" -> w.spillBytes / 1e6,
      s"$p.input_mb" -> w.inputBytes / 1e6)
  }

  def perRep(timings: Seq[Harness.Timing], work: Work, plan: PlanWork): Map[String, Double] =
    timings.flatMap(t => phase(t, work.phases.getOrElse(t.name, new PhaseWork))).toMap ++ Map(
      "catalyst.analysis_s" -> plan.analysisMs / 1e3,
      "catalyst.optimization_s" -> plan.optimizationMs / 1e3,
      "catalyst.planning_s" -> plan.planningMs / 1e3,
      "plan.exchanges" -> plan.exchanges.toDouble,
      "plan.smj" -> plan.smj.toDouble,
      "plan.bhj" -> plan.bhj.toDouble,
      "plan.codegen_stages" -> plan.codegenStages.toDouble)
}
