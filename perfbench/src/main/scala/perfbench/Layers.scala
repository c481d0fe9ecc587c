package perfbench

/** The per-layer metrics of the traced run: their names, units, and how
  * a run's jobs and spans roll up into them.
  */
object Layers {
  /** Modules whose jobs are reported by call-site attribution.
    * `functions` only defines Catalyst expressions and starts no job, so
    * it is timed by direct calls instead (`functions.centroid_s`,
    * `functions.cosine_s`).
    */
  val Modules: Seq[String] = Seq("rules", "eval", "orchestrator", "sink", "ops")

  val OrchestratorStages: Seq[String] =
    Seq("source_agg_dq", "source_query_dq", "row_dq", "final_agg_dq", "final_query_dq")

  /** Every per-layer metric, in output order, with its unit. */
  val Catalog: Seq[(String, String)] =
    Seq("session.start_s" -> "s", "session.first_action_s" -> "s",
      "rules.load_s" -> "s", "rules.validate_s" -> "s",
      "eval.row_mask_s" -> "s", "eval.agg_s" -> "s", "eval.query_s" -> "s") ++
    OrchestratorStages.map(s => s"orchestrator.${s}_s" -> "s") ++
    Seq("orchestrator.unstaged_s" -> "s", "orchestrator.jobs_per_run" -> "count",
      "orchestrator.cache_left_bytes" -> "bytes",
      "sink.bytes_written" -> "bytes", "sink.bytes_per_input_byte" -> "ratio",
      "sink.files_written" -> "count",
      "ops.v6_stages_s" -> "s", "ops.v6_summary_s" -> "s", "ops.topk_s" -> "s",
      "ops.topk_shuffle_records_per_result" -> "ratio", "ops.cache_left_bytes" -> "bytes",
      "functions.centroid_s" -> "s", "functions.cosine_s" -> "s") ++
    Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_wall_s" -> "s",
      s"$m.executor_s" -> "s", s"$m.shuffle_bytes" -> "bytes")) ++
    Seq("unattributed.executor_share" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
      "spark.executor_run_s" -> "s", "spark.executor_cpu_s" -> "s", "spark.gc_s" -> "s",
      "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_records" -> "count",
      "spark.spill_bytes" -> "bytes", "spark.task_skew" -> "ratio",
      "spark.driver_gap_s" -> "s", "spark.busy_frac" -> "ratio",
      "trace.overhead_ratio" -> "ratio")

  /** Spans the workloads open, by the metric they feed. */
  private val SpanMetrics = Map(
    "rules.load" -> "rules.load_s",
    "ops.v6_stages" -> "ops.v6_stages_s",
    "ops.v6_summary" -> "ops.v6_summary_s",
    "ops.topk" -> "ops.topk_s")

  /** One traced run's job-level metrics. `extra` carries the workload's
    * own values; `topk.results` (queries·k) and `input.bytes` there are
    * the bases of two ratios.
    */
  def perRun(jobs: Seq[JobRec], stageTasks: Map[Int, Seq[Long]], runStartMs: Long,
             runEndMs: Long, wall: Double, spans: Map[String, Double],
             extra: Map[String, Double]): Map[String, Double] = {
    val run = jobs.filter(_.phase == Tracer.RunPhase)
    def sum(js: Seq[JobRec])(f: JobRec => Double): Double = js.map(f).sum
    val exec = sum(run)(_.executorRunMs / 1e3)
    val byModule = Modules.flatMap { m =>
      val js = run.filter(_.module == m)
      Seq(s"$m.jobs" -> js.size.toDouble,
        s"$m.job_wall_s" -> sum(js)(_.wallMs(runEndMs) / 1e3),
        s"$m.executor_s" -> sum(js)(_.executorRunMs / 1e3),
        s"$m.shuffle_bytes" -> sum(js)(_.shuffleWriteBytes.toDouble))
    }
    val unattributed = sum(run.filter(_.module == Attribution.Unattributed))(_.executorRunMs / 1e3)
    val stages = run.flatMap(_.stageIds).distinct.flatMap(s => stageTasks.get(s))
    val skew = stages.filter(_.size >= 2).map { ts =>
      ts.max.toDouble / math.max(1.0, Main.median(ts.map(_.toDouble)))
    }.maxOption.getOrElse(1.0)
    // union of job intervals inside the run window: time some job ran
    val busyMs = run.map(j => (math.max(j.start, runStartMs), math.min(
        if (j.end < 0) runEndMs else j.end, runEndMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
      .foldLeft((0L, Long.MinValue)) { case ((acc, reach), (a, b)) =>
        if (b <= reach) (acc, reach) else (acc + b - math.max(a, reach), b)
      }._1 / 1e3
    val written = sum(run)(_.bytesWritten.toDouble)
    val topkShuffle = sum(run.filter(_.span == "ops.topk"))(_.shuffleRecords.toDouble)
    val spanned = SpanMetrics.collect { case (s, m) if spans.contains(s) => m -> spans(s) }
    val unstaged = spans.get("orchestrator.run").map { r =>
      "orchestrator.unstaged_s" -> (r - OrchestratorStages.map(s =>
        extra.getOrElse(s"orchestrator.${s}_s", 0.0)).sum)
    }
    extra ++ byModule ++ spanned ++ unstaged ++ Seq(
      "unattributed.executor_share" -> (if (exec > 0) unattributed / exec else 0.0),
      "orchestrator.jobs_per_run" -> run.count(_.span == "orchestrator.run").toDouble,
      "sink.bytes_written" -> written,
      "sink.bytes_per_input_byte" -> written / math.max(1.0, extra.getOrElse("input.bytes", 0.0)),
      "ops.topk_shuffle_records_per_result" ->
        extra.get("topk.results").map(r => topkShuffle / r).getOrElse(0.0),
      "spark.jobs" -> run.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> run.map(_.tasks).sum.toDouble,
      "spark.executor_run_s" -> exec,
      "spark.executor_cpu_s" -> sum(run)(_.executorCpuNs / 1e9),
      "spark.gc_s" -> sum(run)(_.gcMs / 1e3),
      "spark.shuffle_write_bytes" -> sum(run)(_.shuffleWriteBytes.toDouble),
      "spark.shuffle_records" -> sum(run)(_.shuffleRecords.toDouble),
      "spark.spill_bytes" -> sum(run)(_.spillBytes.toDouble),
      "spark.task_skew" -> skew,
      "spark.driver_gap_s" -> math.max(0.0, wall - busyMs),
      "spark.busy_frac" -> math.min(1.0, busyMs / wall))
  }

  /** Medians over the traced runs, plus the once-per-invocation values;
    * a layer a workload does not touch reads 0.
    */
  def report(runs: Seq[Map[String, Double]], direct: Map[String, Double],
             sessionStart: Double, firstAction: Double,
             overhead: Double): Seq[(String, Double, String)] = {
    val fixed = direct ++ Map("session.start_s" -> sessionStart,
      "session.first_action_s" -> firstAction, "trace.overhead_ratio" -> overhead)
    Catalog.map { case (name, unit) =>
      val v = fixed.getOrElse(name, {
        val xs = runs.flatMap(_.get(name))
        if (xs.isEmpty) 0.0 else Main.median(xs)
      })
      (name, v, unit)
    }
  }
}
