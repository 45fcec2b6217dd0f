package perfbench

/** Per-layer figures shared by the workloads, read from the trace. */
object Layers {

  private def isPrefix(s: Span): Boolean = s.name.startsWith("prefix.")

  /** Construction, Catalyst and scheduler figures per operation, over
    * the operation spans `ops`. Prefix materializations (made only to
    * split self time) are left out. */
  def opWork(c: Ctx, ops: Seq[Span]): Unit = {
    val tr = c.tr
    val res = c.res
    val n = math.max(1, ops.size).toDouble
    val works = ops.map(tr.workUnder(_, isPrefix))
    val constructs = ops.flatMap(tr.under(_, isPrefix).filter(_.name == "construct"))
    res.put("construct.ms", constructs.map(_.ms).sum / n)
    res.put("construct.jobs",
      constructs.map(s => tr.workUnder(s).jobs).sum / n)
    res.put("catalyst.analysis_ms", works.map(_.analysisMs).sum / n)
    res.put("catalyst.optimizer_ms", works.map(_.optimizerMs).sum / n)
    res.put("catalyst.planning_ms", works.map(_.planningMs).sum / n)
    res.put("sched.jobs_per_op", works.map(_.jobs).sum / n)
    res.put("sched.stages_per_op", works.map(_.stages).sum / n)
    res.put("sched.tasks_per_op", works.map(_.tasks).sum / n)
    res.put("sched.task_max_median_ratio",
      Stats.median(works.map(_.taskRatio)))
  }

  /** Tracing overhead: traced operation time (net of the prefix
    * materializations) against untraced operations of the same run. */
  def overhead(c: Ctx, traced: collection.Seq[Double],
      untraced: collection.Seq[Double]): Unit = {
    val u = Stats.median(untraced)
    c.res.put("trace.overhead_pct", 100.0 * (Stats.median(traced) - u) / u)
    c.res.put("trace.traced_ops", traced.size.toDouble)
  }

  /** Self time, and the shuffle, spill and task ratio of `spans`,
    * reported under `layer`. */
  def shuffleWork(c: Ctx, layer: String, spans: Seq[Span], selfMs: Double): Unit = {
    val ws = spans.map(c.tr.workUnder(_))
    c.res.put(s"$layer.self_ms", selfMs)
    c.res.put(s"$layer.shuffle_write_bytes", ws.map(_.shuffleWrite).sum.toDouble)
    c.res.put(s"$layer.spill_bytes", ws.map(_.spill).sum.toDouble)
    c.res.put(s"$layer.task_max_median_ratio",
      if (ws.isEmpty) 0.0 else ws.map(_.taskRatio).max)
  }
}
