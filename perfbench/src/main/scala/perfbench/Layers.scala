package perfbench

/** The per-layer metric catalogue. Every traced run emits all of it, on
  * every workload: a stage a workload never calls reports 0 (it did no
  * work there), so one layer's numbers line up across workloads. */
object Layers {
  val MarketvizStages: Seq[String] = Seq(
    "marketviz.ingest", "sources.store.merge", "marketviz.index",
    "marketviz.export", "sources.store.compact", "sources.store.read",
    "marketviz.analytics.stats", "marketviz.analytics.changes",
    "marketviz.analytics.pie", "marketviz.analytics.asof",
    "marketviz.analytics.point")

  val CurationStages: Seq[String] = Seq(
    "pipeline.scan_feature", "pipeline.dedup.exact", "pipeline.shingle",
    "pipeline.dedup.band", "pipeline.dedup.confirm", "pipeline.dedup.components",
    "pipeline.decontaminate", "pipeline.select", "pipeline.redact_chunk",
    "pipeline.pack", "sources.tar.sink")

  val Stages: Seq[String] = MarketvizStages ++ CurationStages

  /** (name, unit) of the counts that are not per-stage timings. */
  val Extras: Seq[(String, String)] = Seq(
    "sources.store.bytes_written_per_row" -> "B",
    "sources.store.files" -> "count",
    "marketviz.analytics.rows_read_per_row_out" -> "ratio",
    "pipeline.dedup.candidates" -> "count",
    "pipeline.dedup.max_bucket" -> "count",
    "pipeline.dedup.confirm_yield" -> "ratio",
    "sources.tar.mb" -> "MB",
    "spark.jobs_per_unit" -> "count",
    "spark.tasks_per_unit" -> "count",
    "spark.idle_frac" -> "ratio",
    "trace.coverage" -> "ratio",
    "trace.overhead_frac" -> "ratio")

  /** Stage timings and listener counts for every catalogued stage, in
    * catalogue order, then the extras the workload did not set. */
  def emit(r: Tracer.LayerReport, extras: Map[String, Double], out: Outcome): Unit = {
    Stages.foreach { st =>
      val s = r.stages.get(st)
      out.layer(s"$st.s", s.map(_.wall).getOrElse(0.0), "s")
      out.layer(s"$st.jobs", s.map(_.jobs).getOrElse(0.0), "count")
      out.layer(s"$st.task_ms", s.map(_.taskMs).getOrElse(0.0), "ms")
    }
    val common = Map(
      "spark.jobs_per_unit" -> r.jobsPerUnit,
      "spark.tasks_per_unit" -> r.tasksPerUnit,
      "spark.idle_frac" -> r.idleFrac,
      "trace.coverage" -> r.coverage,
      "trace.overhead_frac" -> r.overheadFrac)
    Extras.foreach { case (name, unit) =>
      out.layer(name, extras.getOrElse(name, common.getOrElse(name, 0.0)), unit)
    }
  }
}
