package graftbench

import scala.jdk.CollectionConverters._

import Tracer.median

/** Per-layer metrics. `All` is the full table every traced run prints
  * (0 for a layer the workload never calls); `Common` is the part every
  * gated workload exercises, which goes into the result object.
  */
object Layers {
  val Common: Seq[(String, String)] = Seq(
    "construct.ms" -> "ms", "construct.jobs" -> "count",
    "plan.ms" -> "ms", "plan.exchanges" -> "count",
    "exec.jobs" -> "count", "exec.stages" -> "count", "exec.tasks" -> "count",
    "exec.job_ms" -> "ms", "exec.task_run_s" -> "s", "exec.task_cpu_s" -> "s",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "exec.input_bytes" -> "bytes",
    "exec.storage_mem_bytes" -> "bytes", "driver.idle_ms" -> "ms",
    "jvm.gc_ms" -> "ms", "gen_s" -> "s", "bench.self_ms" -> "ms")

  val All: Seq[(String, String)] = Common ++ Seq(
    "trace.spans" -> "count",
    "registry.read_build_ms" -> "ms", "registry.read_build_jobs" -> "count",
    "registry.sync_s" -> "s",
    "index.read_build_ms" -> "ms", "index.build_s" -> "s",
    "index.files_kept" -> "count", "index.files_total" -> "count",
    "prune.files_kept" -> "count", "prune.files_total" -> "count",
    "panel.tail_ms" -> "ms", "panel.severity_ms" -> "ms", "panel.series_ms" -> "ms",
    "panel.search_ms" -> "ms", "panel.lookup_ms" -> "ms", "panel.attrs_ms" -> "ms",
    "serving.flush_s" -> "s", "serving.flush_rows" -> "rows",
    "serving.flush_quarantined" -> "count",
    "lake.files_active" -> "count", "lake.bytes_per_row" -> "bytes",
    "maint.run_s" -> "s", "maint.files_before" -> "count", "maint.files_after" -> "count",
    "operators.build_ms" -> "ms", "operators.build_jobs" -> "count",
    "operators.edges_s" -> "s", "operators.dedup_pairs" -> "count",
    "operators.linededup_s" -> "s", "operators.curate_s" -> "s", "operators.pipeline_s" -> "s")

  /** Medians of the tracer's timing samples and the listener's per-op
    * means (ops of `kinds` only), merged with workload-specific values.
    */
  def collect(t: Tracer, kinds: Set[String], constructJobs: String,
              extra: Map[String, Double]): Seq[Metric] = {
    val ops = t.ops.toArray(Array.empty[OpRecord]).toSeq.filter(o => kinds(o.kind))
    val base = scala.collection.mutable.Map[String, Double]()
    Seq("construct.ms", "registry.read_build_ms", "index.read_build_ms", "operators.build_ms",
      "serving.flush_s",
      "registry.sync_s", "index.build_s", "maint.run_s", "operators.edges_s",
      "operators.linededup_s", "operators.curate_s", "operators.pipeline_s")
      .foreach(n => if (t.values(n).nonEmpty) base(n) = median(t.values(n)))
    Seq("tail", "severity", "series", "search", "lookup", "attrs").foreach { p =>
      val xs = ops.filter(_.kind == p).map(_.wallMs)
      if (xs.nonEmpty) base(s"panel.${p}_ms") = median(xs)
    }
    // a mean: the planning tracker that curate's writes report through
    // counts whole milliseconds, and a median of those repeats exactly
    val plans = t.values("plan.ms")
    if (plans.nonEmpty) base("plan.ms") = plans.sum / plans.size
    if (t.values("serving.flush_rows").nonEmpty) base("serving.flush_rows") = median(t.values("serving.flush_rows"))
    if (t.traced && ops.nonEmpty) {
      t.listener.foreach(_.settle())
      val per = ops.map { o =>
        val x = t.opExec(o)
        val c = t.opExec(o, "construct")
        val busy = Tracer.union(x.jobIntervals.values.toSeq.map { case (s, e) =>
          (math.max(s, o.startMs), math.min(if (e == Long.MaxValue) o.endMs else e, o.endMs)) })
        val jobMs = x.jobIntervals.values.map { case (s, e) => (if (e == Long.MaxValue) o.endMs else e) - s }.sum
        Map("exec.jobs" -> x.jobs.toDouble, "exec.stages" -> x.stages.toDouble,
          "exec.tasks" -> x.tasks.toDouble, "exec.job_ms" -> jobMs.toDouble,
          "exec.task_run_s" -> x.taskRunMs / 1e3, "exec.task_cpu_s" -> x.taskCpuNs / 1e9,
          "exec.shuffle_read_bytes" -> x.shuffleRead.toDouble,
          "exec.shuffle_write_bytes" -> x.shuffleWrite.toDouble,
          "exec.spill_bytes" -> x.spill.toDouble, "exec.input_bytes" -> x.input.toDouble,
          constructJobs -> c.jobs.toDouble, "construct.jobs" -> c.jobs.toDouble,
          "driver.idle_ms" -> math.max(0.0, o.wallMs - busy))
      }
      per.head.keys.foreach(k => base(k) = per.map(_(k)).sum / per.size)
      base("plan.exchanges") = t.exchanges.values.asScala.map(_.intValue).sum
      val self = t.selfTimesMs()
      base("bench.self_ms") = kinds.toSeq.flatMap(self.get).sum / ops.size
      base("trace.spans") = t.spans.size.toDouble
    }
    val all = base ++ extra
    All.map { case (n, u) => Metric(n, all.getOrElse(n, 0.0), u) }
  }
}
