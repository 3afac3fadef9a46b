package perfbench

import scala.collection.mutable

/** Per-layer numbers of the traced run, computed from the recorded spans. */
object Layers {

  def fromSpans(t: Tracer, reps: Seq[Main.Rep], nproc: Int, codegenNs: Long, c: Ctx): Map[String, Double] = {
    val spans = t.allSpans
    val self = Tracer.selfTimes(spans)
    val out = mutable.LinkedHashMap.empty[String, Double]
    val tracedReps = spans.filter(_.kind == "rep")
    val ids = tracedReps.map(_.id).toSet
    val ops = spans.filter(s => s.kind == "op" && ids(s.trace))
    val jobs = spans.filter(s => s.kind == "job" && ids(s.trace))
    val stages = spans.filter(s => s.kind == "stage" && ids(s.trace))
    val nReps = math.max(1, tracedReps.size).toDouble
    val nOps = math.max(1, ops.size).toDouble
    def sum(k: String) = stages.map(_.attrs.getOrElse(k, 0.0)).sum
    val repMs = tracedReps.map(_.dur).sum / 1e6

    val inReps = t.plans.filter { case (start, _) =>
      tracedReps.exists(r => start >= r.start && start <= r.end)
    }
    out("spark.plan_ms") = inReps.map(_._2).sum / nOps
    out("spark.codegen_ms") = codegenNs / 1e6 / nOps
    val jobsByOp = jobs.groupBy(_.parent)
    val gaps = ops.flatMap(o => jobsByOp.get(o.id).map(js => (js.map(_.start).min - o.start) / 1e6))
    out("spark.submit_gap_ms") = if (gaps.isEmpty) 0.0 else gaps.sum / gaps.size
    out("spark.jobs") = jobs.size / nOps
    out("spark.tasks") = sum("tasks") / nOps
    out("spark.task_busy_ratio") = if (repMs > 0) sum("run_ms") / (repMs * nproc) else 0.0
    out("spark.sched_delay_ms") = if (sum("tasks") > 0) sum("sched_delay_ms") / sum("tasks") else 0.0
    out("spark.gc_ratio") = if (sum("run_ms") > 0) sum("gc_ms") / sum("run_ms") else 0.0
    out("spark.shuffle_write_bytes") = sum("shuffle_write_bytes") / nReps
    out("spark.shuffle_read_bytes") = sum("shuffle_read_bytes") / nReps
    out("spark.fetch_wait_ms") = sum("fetch_wait_ms") / nReps
    out("spark.spill_bytes") = sum("spill_bytes") / nReps
    val skews = stages.filter(s => s.attrs.getOrElse("tasks", 0.0) >= 2 &&
      s.attrs.getOrElse("task_median_ms", 0.0) > 0)
      .map(s => s.attrs("task_max_ms") / s.attrs("task_median_ms"))
    out("spark.task_skew") = if (skews.isEmpty) 0.0 else skews.max
    out("tableio.bytes_written") = sum("bytes_written") / nReps
    out("tableio.write_task_s") = sum("write_run_ms") / 1000.0 / nReps

    // best time of each leaf over every measured rep, traced or not
    Main.bestOf(reps).foreach { case (name, best) =>
      if (name.startsWith("query.")) out(s"${name}_s") = best
    }
    // the kernel's share of executor task time (curate_bulk)
    out("spark.task_ms_per_rep") = sum("run_ms") / nReps

    val traced = reps.filter(_.traced).map(_.wallS)
    val untraced = reps.filter(!_.traced).map(_.wallS)
    if (traced.nonEmpty && untraced.nonEmpty)
      out("trace.overhead_ms") = (Stats.median(traced) - Stats.median(untraced)) * 1000
    spans.find(_.kind == "workload").foreach { root =>
      val covered = (root.dur - self(root.id)).toDouble / math.max(1L, root.dur)
      out("trace.coverage") = covered
      c.check("trace_coverage", covered >= 1 - Main.CoverageTolerance,
        f"children cover $covered%.4f of the workload span")
    }
    val repCovered = tracedReps.map(r => r.dur - self(r.id)).sum.toDouble /
      math.max(1L, tracedReps.map(_.dur).sum)
    c.check("rep_coverage", tracedReps.isEmpty || repCovered >= 1 - 2 * Main.CoverageTolerance,
      f"ops cover $repCovered%.4f of the traced reps")
    out.toMap
  }
}
