package perfbench

/** Per-layer metrics, computed from the traced run's spans and the Spark
  * work the listener attributed to them. Every traced run reports every
  * name in [[Layers.names]]; a layer a workload does not call reads 0. */
object Layers {
  val names: Seq[(String, String)] = Seq(
    "extract.run_s" -> "s", "extract.pages_per_s" -> "1/s",
    "ingest.read_staged_s" -> "s", "ingest.quarantine_ratio" -> "ratio",
    "pipeline.run_s" -> "s", "pipeline.jobs" -> "count", "pipeline.new_event_ratio" -> "ratio",
    "store.write_s" -> "s", "store.read_s" -> "s",
    "serve.warm_build_s" -> "s", "serve.warm_write_s" -> "s", "serve.warm_jobs" -> "count",
    "serve.cache_payload_ms" -> "ms", "serve.events_by_date_ms" -> "ms",
    "sources.kv_get_ms" -> "ms", "sources.kv_bytes_written_mb" -> "MB",
    "vector.search_ms" -> "ms", "vector.index_build_s" -> "s",
    "vector.similar_recall" -> "ratio",
    "plans.plan_share" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_cpu_s" -> "s", "spark.cpu_util" -> "ratio", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.gc_s" -> "s", "spark.peak_exec_mem_mb" -> "MB",
    "ops.failed_frac" -> "ratio",
    "trace.overhead_frac" -> "ratio", "trace.ab_diff_frac" -> "ratio",
    "trace.root_self_s" -> "s")

  private def med(t: Tracer, name: String): Double =
    Stats.median(t.allSpans.filter(_.name == name).map(_.seconds))

  /** Spark counters over the traced operations; `opSeconds` is their
    * summed wall time. */
  def spark(t: Tracer, r: Report, opSeconds: Double, cpus: Int): Unit = {
    t.drain()
    val w = t.workOf(_ => true)
    r.layer("spark.jobs", w.jobs, "count")
    r.layer("spark.stages", w.stages, "count")
    r.layer("spark.tasks", w.tasks, "count")
    r.layer("spark.task_cpu_s", w.taskCpuNs / 1e9, "s")
    r.layer("spark.cpu_util", if (opSeconds > 0) w.taskCpuNs / 1e9 / (opSeconds * cpus) else 0, "ratio")
    r.layer("spark.shuffle_write_mb", w.shuffleWriteBytes / 1e6, "MB")
    r.layer("spark.spill_mb", w.spillBytes / 1e6, "MB")
    r.layer("spark.gc_s", w.gcMs / 1e3, "s")
    r.layer("spark.peak_exec_mem_mb", w.peakExecMem / 1e6, "MB")
    r.layer("plans.plan_share", if (opSeconds > 0) w.planNs / 1e9 / opSeconds else 0, "ratio")
  }

  /** Tracing overhead, two ways: the tracer's measured cost as a share of
    * the traced operations' time, and the difference between the medians
    * of the traced and the untraced operations of the same run. */
  def overhead(t: Tracer, r: Report, tracedSeconds: Double, traced: Seq[Double],
               untraced: Seq[Double]): Unit = {
    r.layer("trace.overhead_frac", if (tracedSeconds > 0) t.costSeconds / tracedSeconds else 0, "ratio")
    val u = Stats.median(untraced)
    if (traced.nonEmpty && untraced.nonEmpty)
      r.layer("trace.ab_diff_frac", (Stats.median(traced) - u) / u, "ratio")
  }

  /** The median self time of the operations' root spans: the part of an
    * operation no layer span covers. */
  def rootSelf(t: Tracer, r: Report, root: String => Boolean): Unit = {
    val self = t.selfTimes
    r.layer("trace.root_self_s", Stats.median(
      t.allSpans.filter(s => s.parent == 0 && root(s.name)).map(s => self(s.id))), "s")
  }

  def daily(t: Tracer, r: Report, days: Seq[Etl.DayResult], kvBytes: Seq[Long],
            pages: Long): Unit = {
    val ex = med(t, "extract.run")
    r.layer("extract.run_s", ex, "s")
    r.layer("extract.pages_per_s", if (ex > 0) pages / ex else 0, "1/s")
    r.layer("ingest.read_staged_s", med(t, "ingest.read_staged"), "s")
    def ratio(a: String, b: Map[String, Long] => Long) =
      Stats.median(days.map(d => d.summary(a).toDouble / b(d.summary)))
    // fixed by the input (the checks hold them to the planted rates)
    r.layer("ingest.quarantine_ratio", ratio("events_quarantined",
      s => s("events_quarantined") + s("events_validated")), "ratio")
    r.layer("pipeline.new_event_ratio", ratio("events_created", _("events_validated")), "ratio")
    r.layer("pipeline.run_s", med(t, "pipeline.run"), "s")
    t.drain()
    val pipelineSpans = t.allSpans.filter(_.name == "pipeline.run")
    r.layer("pipeline.jobs", Stats.median(pipelineSpans.map(s =>
      t.workOf(_.id == s.id).jobs.toDouble)), "count")
    r.layer("store.write_s", med(t, "store.write"), "s")
    r.layer("store.read_s", med(t, "store.read"), "s")
    r.layer("serve.warm_build_s", med(t, "serve.warm_build"), "s")
    r.layer("serve.warm_write_s", med(t, "serve.warm_write"), "s")
    r.layer("serve.warm_jobs", Stats.median(t.allSpans.filter(_.name == "serve.warm_write")
      .map(s => t.workOf(_.id == s.id).jobs.toDouble)), "count")
    r.layer("sources.kv_bytes_written_mb", Stats.median(kvBytes.map(_ / 1e6)), "MB")
  }

  /** Report exactly [[names]], in order: a layer the workload does not
    * call reads 0. */
  def complete(r: Report): Unit = {
    val got = r.layerMetrics.toMap
    r.layerMetrics.clear()
    names.foreach { case (n, u) =>
      r.layer(n, got.get(n).map(_._1).filterNot(_.isNaN).getOrElse(0.0), u)
    }
  }

  def spansJson(t: Tracer): String = {
    val self = t.selfTimes
    t.allSpans.map { s =>
      s"""{"id": ${s.id}, "name": ${Json.str(s.name)}, "parent": ${s.parent}, """ +
        s""""request": ${s.request}, "start_ns": ${s.start}, "end_ns": ${s.end}, """ +
        s""""self_s": ${Json.num(self(s.id))}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
