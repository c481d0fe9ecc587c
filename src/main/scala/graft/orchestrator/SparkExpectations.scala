package graft.orchestrator

import graft.eval._
import graft.model._
import graft.rules.{CompositeQuerySplitter, RulesReader}
import graft.sink.{ErrorWriter, StatsBuilder, TableWriter, WriterConfig}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Run configuration (subset of the reference's user_config surface). */
final case class DqConfig(
    params: Map[String, String] = Map.empty,
    /** drop the meta/action columns from the returned final DataFrame. */
    cleanFinalDf: Boolean = true,
    writeErrorTablePath: Option[String] = None,
    writeTargetTablePath: Option[String] = None,
    /** write the final frame to the catalog table `targetTable` itself —
      * the reference's `write_to_table=True` (expectations.py:893).
      */
    writeToTable: Boolean = false,
    /** write error rows to [[errorTableName]], defaulting to the
      * reference's `{targetTable}_error` (utils/reader.py:295).
      */
    writeErrorTable: Boolean = false,
    errorTableName: Option[String] = None,
    /** auto-persist run statistics to this catalog table on success AND
      * rule-failure abort (the reference's collect_statistics decorator,
      * sinks/utils/collect_statistics.py:21-50). When detailed stats /
      * query outputs are enabled, successful runs also write
      * `{statsTable}_detailed` and `{statsTable}_querydq_output`
      * (writer.py:504-622,420-502). Writes use mergeSchema so the stats
      * schema can evolve.
      */
    statsTable: Option[String] = None,
    statsWriter: WriterConfig = WriterConfig(mode = "append"),
    errorWriter: WriterConfig = WriterConfig(mode = "overwrite"),
    targetWriter: WriterConfig = WriterConfig(mode = "overwrite"),
    /** notification fan-out around the run (reference: the
      * send_notification / threshold / ignore-rule decorators,
      * notifications/push/spark_expectations_notify.py:42-388).
      */
    notifier: Option[graft.notify.Notifier] = None,
    /** break the upstream plan before the pipeline (reference's
      * temp-table write+readback, core/expectations.py:492-521; the
      * checkpoint variant is the idiomatic Spark equivalent).
      */
    planBreak: PlanBreak = PlanBreak.Off,
    /** per-rule detailed stats (source/target actual values), the
      * `<stats>_detailed` table inputs (reference: writer.py:504-622).
      */
    enableDetailedStats: Boolean = false,
    /** capture each composite query_dq sub-query's rows for the
      * query-output table (reference: actions.py:302-424 +
      * writer.py:420-502), for rules with enable_querydq_custom_output.
      */
    enableQueryDqDetailedResult: Boolean = false,
    /** Name of the temp view registered over the post-row_dq frame for
      * target-stage query_dq SQL, defaulting to the reference's
      * `{table-last-segment}_view` (core/expectations.py:941). The
      * engine's own `{base}_target` view is always registered too.
      */
    targetTableView: Option[String] = None,
    /** free-form job metadata stamped on the stats row and detailed
      * stats (reference: se_job_metadata / dq_job_metadata_info columns,
      * sinks/utils/writer.py:619,951).
      */
    jobMetadata: Option[String] = None,
    /** how pipeline counts (input/error/output/per-rule) are produced —
      * see [[CountsMode]]. Defaults to the dedicated fused aggregate.
      */
    countsMode: CountsMode = CountsMode.FusedAggregate,
    /** build the observability report table over the run's detailed
      * stats + query outputs and expose it as [[DqResult.reportDf]]
      * (reference: writer.py:706-722 under
      * `se_enable_obs_dq_report_result`). Implies detailed stats.
      */
    enableObsReport: Boolean = false,
    /** additionally send the three-section report alert through the
      * notifier (reference: writer.py:724-728 + alert.prep_report_data
      * under `se_dq_obs_alert_flag`; only meaningful with
      * [[enableObsReport]]).
      */
    enableObsAlert: Boolean = false)

/** Strategy for producing the run's counts and per-rule summaries. */
sealed trait CountsMode
object CountsMode {
  /** One dedicated aggregate job over the masked frame (still far
    * cheaper than the reference's ≥3 separate count jobs).
    */
  case object FusedAggregate extends CountsMode
  /** Zero extra jobs: the same aggregate expressions ride the final
    * frame as `Dataset.observe` metrics, so the target-table write (or
    * any first action on the final frame) yields every count as a side
    * effect of work the run does anyway. Requires a batch run with a
    * configured `writeTargetTablePath` and NO fail-action row rules —
    * a fail gate needs counts BEFORE the write, so such runs fall back
    * to [[FusedAggregate]] automatically. Threshold/ignore notifications
    * consequently fire after the write instead of before it.
    */
  case object OnWrite extends CountsMode
}

/** One captured sub-query result for the query-output table
  * (reference 9-column schema, docs/user_guide/data_quality_metrics
  * .md:168-180).
  */
final case class QueryOutput(
    runId: String,
    productId: String,
    tableName: String,
    rule: String,
    columnName: String,
    alias: String,
    dqType: String, // source_dq | target_dq
    output: String,
    runDate: java.sql.Timestamp)

sealed trait PlanBreak
object PlanBreak {
  case object Off extends PlanBreak
  /** `df.localCheckpoint()` — cuts lineage without a round-trip table. */
  case object Checkpoint extends PlanBreak
  /** Write to `<path>` and read back (reference behavior). */
  final case class TempTable(path: String) extends PlanBreak
}

/** Everything a run produced. */
final case class DqResult(
    finalDf: DataFrame,
    errorDf: DataFrame,
    stats: DqStats,
    sourceAggResults: Seq[Map[String, String]],
    sourceQueryResults: Seq[Map[String, String]],
    targetAggResults: Seq[Map[String, String]],
    targetQueryResults: Seq[Map[String, String]],
    rowSummaries: Seq[RuleFailureSummary],
    statuses: Map[String, String],
    sourceDetailedStats: Seq[DetailedStat] = Seq.empty,
    targetDetailedStats: Seq[DetailedStat] = Seq.empty,
    queryOutputs: Seq[QueryOutput] = Seq.empty,
    /** releases the pipeline's persisted intermediate; a constructor
      * field (not a post-construction var) so `copy()`/serialization
      * can't silently reset it to a no-op and leak the persisted frame.
      */
    cleanup: () => Unit = () => (),
    /** non-blocking validation findings from the run's pre-flight rule
      * check (reference: _check_invalid_rules logs-and-continues,
      * core/expectations.py:416-441 + the
      * invalid_rules_do_not_raise_exception test).
      */
    validationWarnings: Seq[graft.rules.RuleValidator.Violation] = Seq.empty,
    /** The observability report table (reference
      * `dq_obs_report_dataframe`, report.py:340) — populated when
      * [[DqConfig.enableObsReport]] is set.
      */
    reportDf: Option[DataFrame] = None) {
  /** The `<stats>_detailed` table: source/target sides full-outer joined
    * on the reference's 6 keys (sinks/utils/writer.py:504-622).
    */
  def detailedStatsDf(spark: SparkSession): DataFrame =
    graft.sink.StatsBuilder.detailedStats(spark, sourceDetailedStats,
      targetDetailedStats, stats.jobMetadata)

  /** Release the pipeline's persisted intermediate once finalDf/errorDf
    * have been consumed (writes done, counts taken). Safe anytime —
    * later actions just recompute from source.
    */
  def unpersist(): Unit = cleanup()
}

/** The five-stage DQ pipeline
  * (reference: core/expectations.py:893-1032 + utils/regulate_flow.py:47-158):
  *
  *   1. source agg_dq    (batch only)
  *   2. source query_dq  (batch only)
  *   3. row_dq           → error extraction → fail/drop enforcement
  *   4. target agg_dq    (on surviving rows)
  *   5. target query_dq
  *
  * then stats assembly — stats are produced on success AND on rule-failure
  * abort (reference: sinks/utils/collect_statistics.py:21-50).
  *
  * Scale notes: row rules evaluate in one projection (single scan);
  * the row-dq result is persisted once before its ≥3 consumers (error
  * write, error count, output count, final write) — the reference re-runs
  * the upstream plan for each; agg rules for a stage batch into one job.
  */
final class SparkExpectations(
    val productId: String,
    val targetTable: String,
    rules: Seq[Rule],
    config0: DqConfig = DqConfig()) {

  // the observability report is BUILT FROM the detailed rows, so the
  // report flag implies them (the reference reaches writer.py:706 only
  // on the detailed-stats path)
  private val config: DqConfig =
    if (config0.enableObsReport && !config0.enableDetailedStats)
      config0.copy(enableDetailedStats = true)
    else config0

  /** Every rule, active or not, with its {param}s substituted once. */
  private val substituted: Seq[Rule] =
    rules.map(RulesReader.substituteParams(_, config.params))

  // composite query_dq expectations are split at prep time, like the
  // reference's reader (utils/reader.py:183-259): the stored expectation
  // becomes the base with {alias} → (sql) substituted
  private val querySplits: Seq[(Rule, CompositeQuerySplitter.SplitQuery)] =
    substituted.filter(r => r.ruleType == RuleType.QueryDq.name && r.isActive)
      .map(r => r -> CompositeQuerySplitter.split(r.expectation, r.queryDqDelimiter))

  private val grouped: Map[RuleType, Seq[Rule]] =
    RuleType.all.map { t =>
      t -> (if (t == RuleType.QueryDq)
        querySplits.map { case (r, split) => r.copy(expectation = split.baseExpectation) }
      else substituted.filter(r => r.ruleType == t.name && r.isActive))
    }.toMap

  /** alias → sub-query SQL per composite query_dq rule (pre-split). */
  private val querySubQueries: Map[String, Map[String, String]] =
    querySplits.collect {
      case (r, split) if split.subQueries.nonEmpty => r.rule -> split.subQueries
    }.toMap

  val settings: ExecutionSettings = RulesReader.executionSettings(grouped)

  def run(inputDf: DataFrame): DqResult = {
    if (inputDf == null)
      throw new graft.model.DqDataFrameNotReturnedException(
        "error occurred while processing spark expectations due to given " +
          "dataframe is not type of dataframe")
    val spark = inputDf.sparkSession
    val ctx   = RunContext.create(productId, targetTable)
    val streaming = inputDf.isStreaming

    val df = if (streaming) inputDf else config.planBreak match {
      case PlanBreak.Off        => inputDf
      case PlanBreak.Checkpoint => inputDf.localCheckpoint()
      case PlanBreak.TempTable(path) =>
        val cols = inputDf.columns
        inputDf.write.mode("overwrite").parquet(path)
        spark.read.parquet(path).select(cols.map(org.apache.spark.sql.functions.col): _*)
    }

    var statuses = Map(
      "run_status" -> StageStatus.Passed,
      "source_agg_dq" -> StageStatus.Skipped, "source_query_dq" -> StageStatus.Skipped,
      "row_dq" -> StageStatus.Skipped,
      "final_agg_dq" -> StageStatus.Skipped, "final_query_dq" -> StageStatus.Skipped)
    var timings = Map.empty[String, Double]
    def timed[T](stage: String)(body: => T): T = {
      val t0 = System.nanoTime()
      try body finally { timings += stage -> (System.nanoTime() - t0) / 1e9 }
    }

    // pre-flight rule validation is NON-BLOCKING, like the reference's
    // _check_invalid_rules (core/expectations.py:416-441): violations
    // are logged and surfaced on the result; the run continues, and a
    // genuinely unevaluable expression still fails at its own stage.
    // validate AFTER param substitution, like the reference's reader
    // (a {param} the caller actually supplied must not read as a
    // missing composite key; one they forgot genuinely is a violation),
    // then live-probe the statically-clean row/agg rules against the
    // actual input schema — the reference's
    // `df.selectExpr(expectation).limit(1)` check
    // (validate_rules.py:331), done here by analysis only (no job)
    val validationWarnings = scala.util.Try {
      val static = graft.rules.RuleValidator.validate(spark, substituted)
      val flagged = static.map(_.rule.rule).toSet
      static ++ graft.rules.RuleValidator.probe(df,
        substituted.filter(r => r.isActive && !flagged.contains(r.rule)))
    }.getOrElse(Seq.empty)
    if (validationWarnings.nonEmpty)
      System.err.println(s"[graft] ${validationWarnings.size} rule(s) failed " +
        "validation (non-blocking): " +
        validationWarnings.map(v => s"${v.rule.rule}: ${v.problem}").mkString("; "))

    config.notifier.foreach(_.onStart(productId, targetTable))
    // input count comes from the row-stage's single aggregate when row
    // rules run; only rule-sets without row rules need a dedicated count
    var inputCount = 0L
    if (!streaming) df.createOrReplaceTempView(ctx.sourceView)
    // both the engine's `{base}_target` and the reference-named view, so
    // rules written for the reference run unchanged
    def registerTargetViews(finalDf: DataFrame): Unit = {
      finalDf.createOrReplaceTempView(ctx.targetView)
      finalDf.createOrReplaceTempView(
        config.targetTableView.getOrElse(s"${ctx.viewBase}_view"))
    }

    // each run agg/query stage's result maps, keyed by its status key
    var stageResults = Map.empty[String, Seq[Map[String, String]]]
    def results(statusKey: String) = stageResults.getOrElse(statusKey, Seq.empty)
    var rowSummaries = Seq.empty[RuleFailureSummary]
    // per-rule detailed stats, source- and target-side, joinable on the
    // reference's 6 keys via StatsBuilder.detailedStats
    var sourceDetails, targetDetails = Seq.empty[DetailedStat]
    var pipelineCleanup: () => Unit = () => ()
    var queryOutputs = Seq.empty[QueryOutput]
    def captureQueryOutputs(qRules: Seq[Rule], dqType: String): Unit =
      if (config.enableQueryDqDetailedResult)
        queryOutputs ++= qRules
          .filter(r => r.enableQuerydqCustomOutput && querySubQueries.contains(r.rule))
          .flatMap { r =>
            querySubQueries(r.rule).map { case (alias, sql) =>
              val rows = spark.sql(sql).collect()
              QueryOutput(ctx.runId, productId, targetTable, r.rule, r.columnName,
                alias, dqType,
                rows.map(_.toSeq.mkString("[", ",", "]")).mkString(";"), ctx.runDate)
            }
          }
    /** One agg_dq/query_dq stage: evaluate (one job), record detailed
      * stats and query outputs, then enforce. Reference stage-status
      * semantics (utils/regulate_flow.py:150-156 + conftest golden
      * matrix): a stage reports Failed ONLY when its fail-action
      * enforcement aborts the run; rules failing with ignore/drop leave
      * the stage Passed (their outcomes live in the per-rule results).
      */
    def ruleStage(statusKey: String, label: String, stageRules: Seq[Rule],
                  frame: DataFrame): Unit = timed(statusKey) {
      val source = statusKey.startsWith("source")
      val outcomes = RuleStageEvaluator.run(frame, stageRules, config.enableDetailedStats)
      val details = outcomes.flatMap(o => o.actual.map { a =>
        DetailedStat(ctx.runId, productId, targetTable, o.rule.ruleType,
          o.rule.rule, o.rule.columnName, o.rule.expectation, o.rule.tag,
          o.rule.description, o.status, actualValue = a.value,
          expectedValue = a.expected, actualOutcome = o.status,
          expectedOutcome = "pass", failedRowCount = 0L)
      })
      if (source) sourceDetails ++= details else targetDetails ++= details
      captureQueryOutputs(stageRules.filter(_.ruleType == RuleType.QueryDq.name),
        if (source) "source_dq" else "target_dq")
      stageResults += statusKey -> outcomes.map(_.resultMap)
      val failed = outcomes.collect {
        case o if !o.passed && o.rule.actionIfFailed == "fail" => o.rule.rule
      }
      if (failed.nonEmpty) {
        statuses += statusKey -> StageStatus.Failed
        throw new DqRuleFailedException(
          s"job failed: $label rules with action 'fail' failed: " + failed.mkString(", "),
          failed)
      }
      statuses += statusKey -> StageStatus.Passed
    }
    var errorDf = df.limit(0)
    var errorCount = 0L
    var outputCount = 0L
    def buildStats(): DqStats = StatsBuilder.build(ctx, inputCount, errorCount,
      outputCount, grouped, results("source_agg_dq"), results("source_query_dq"),
      rowSummaries, results("final_agg_dq"), results("final_query_dq"),
      statuses, timings, config.jobMetadata)
    var finalDf = df
    // CountsMode.OnWrite: the observation riding the final frame, plus
    // the rules to decode it with; harvested after the target write (or
    // best-effort on the abort path)
    var pendingCounts: Option[org.apache.spark.sql.Observation] = None
    // the persisted masked frame backing an OnWrite observation — the
    // abort path's exact-count fallback when the observation never fired
    var pendingMasked: Option[DataFrame] = None
    val rowRulesAll = grouped(RuleType.RowDq)
    def harvestCounts(pc: MaskedRowDqEvaluator.PipelineCounts): Unit = {
      inputCount = pc.inputRows
      errorCount = pc.errorRows
      outputCount = pc.outputRows
      rowSummaries = ErrorWriter.summariesFromCounts(pc, rowRulesAll)
      config.notifier.foreach { n =>
        n.onThresholdBreach(productId, targetTable,
          rowSummaries.filter(_.thresholdBreached(inputCount)), inputCount)
        n.onIgnoreRuleFailures(rowRulesAll,
          rowSummaries.filter(_.failedRowCount > 0).map(_.rule).toSet)
      }
    }
    def harvest(metrics: Map[String, Any]): Unit =
      harvestCounts(MaskedRowDqEvaluator.countsFromMetrics(rowRulesAll, metrics))
    // Bounded observation harvest, shared by the success and abort
    // paths: the observation listener posts asynchronously, and a writer
    // path that fails to propagate observed metrics (an exotic V2 sink,
    // or a rule that never flowed through the node) must degrade to the
    // exact fused aggregate over the still-persisted frame — never hang
    // on an unbounded obs.get.
    def harvestObserved(obs: org.apache.spark.sql.Observation): Unit = {
      val harvested =
        try {
          scala.concurrent.Await.ready(obs.future,
            scala.concurrent.duration.Duration(5, "seconds"))
          harvest(obs.get); true
        } catch {
          case _: java.util.concurrent.TimeoutException => false
          case _: InterruptedException =>
            Thread.currentThread().interrupt(); false
        }
      if (!harvested) pendingMasked.foreach { m =>
        harvestCounts(MaskedRowDqEvaluator.pipelineCounts(m, rowRulesAll))
      }
    }
    def writeErrors(e: DataFrame): Unit = {
      config.writeErrorTablePath.foreach(p =>
        TableWriter.writePath(e, p, config.errorWriter))
      if (config.writeErrorTable)
        TableWriter.write(e, config.errorTableName.getOrElse(
          SparkExpectations.defaultErrorTable(targetTable)), config.errorWriter)
    }
    /** agg_dq expectations as per-micro-batch observed metrics. Rules
      * CollectMetrics can't host (DISTINCT aggregates, subqueries,
      * non-deterministic fns throw at analysis) are skipped one by one —
      * for those the reference's skipped-on-streaming contract stands
      * instead of the whole run crashing.
      */
    def attachStreamingAggObserve(frame: DataFrame, name: String,
                                  aggRules: Seq[Rule]): DataFrame = {
      if (aggRules.isEmpty) return frame
      def cols(rs: Seq[Rule]) = rs.map(r =>
        when(expr(r.expectation), lit("pass")).otherwise(lit("fail")).as(r.rule))
      val all = cols(aggRules)
      scala.util.Try(frame.observe(name, all.head, all.tail: _*)).getOrElse {
        val keep = aggRules.filter(r => scala.util.Try(
          frame.observe(s"${name}_probe_${r.rule}", cols(Seq(r)).head)).isSuccess)
        val kc = cols(keep)
        if (kc.isEmpty) frame else frame.observe(name, kc.head, kc.tail: _*)
      }
    }

    try {
      // stages 1/2: source agg_dq, source query_dq (batch only — the
      // reference skips them on streaming)
      val aggRules = grouped(RuleType.AggDq)
      val queryRules = grouped(RuleType.QueryDq)
      if (!streaming && settings.sourceAggDq)
        ruleStage("source_agg_dq", "source agg_dq",
          aggRules.filter(_.enableForSourceDqValidation), df)
      if (!streaming && settings.sourceQueryDq)
        ruleStage("source_query_dq", "source query_dq",
          queryRules.filter(_.enableForSourceDqValidation), spark.range(1).toDF())

      // stage 3: row_dq — bitmask evaluation (see MaskedRowDqEvaluator):
      // rules compile to long bitmasks (codegen, 8 bytes/row cached);
      // meta maps are rebuilt only for the error subset.
      val rowRules = grouped(RuleType.RowDq)
      if (settings.rowDq) timed("row_dq") {
        var masked = MaskedRowDqEvaluator.run(df, rowRules)
        // streaming runs report batch counts as 0 (reference semantics),
        // but the SAME count aggregate rides every micro-batch as a named
        // observed metric — graft.streaming.StreamingDqMetricsListener
        // decodes it per batch, giving streaming DQ the stats the
        // reference only has in batch mode, at no extra pass
        if (streaming) {
          masked = masked.observe(SparkExpectations.StreamingObservationName,
            MaskedRowDqEvaluator.pipelineAgg(rowRules))
          // agg_dq on streams: the reference skips these entirely (a
          // stream can't run a global aggregate), but per-micro-batch
          // they are just more observed metrics — source-side rules
          // evaluate over the batch's pre-drop rows here; target-side
          // rules attach to the kept frame below
          masked = attachStreamingAggObserve(masked,
            SparkExpectations.StreamingSourceAggObservationName,
            grouped(RuleType.AggDq).filter(_.enableForSourceDqValidation))
        }
        // batch runs persist the masked frame before its consumers —
        // fixes the reference's known repeated-evaluation inefficiency
        // (BASELINE.md)
        val persisted =
          if (!streaming) {
            // close over a stable val: `masked` is reassigned below in
            // OnWrite mode, and unpersisting the observe-wrapped frame
            // would miss the cache entry and leak it
            val handle = masked
            handle.persist(StorageLevel.MEMORY_AND_DISK)
            pipelineCleanup = () => { handle.unpersist(); () }
            handle
          } else masked
        val maskCols = MaskedRowDqEvaluator.maskColNames(rowRules.size)

        // OnWrite counting needs the target write as its carrier action
        // and cannot run a fail gate before that write — fall back to
        // the fused aggregate when either precondition is missing
        val observeCounts = !streaming &&
          config.countsMode == CountsMode.OnWrite &&
          (config.writeTargetTablePath.isDefined || config.writeToTable) &&
          rowRules.forall(_.actionIfFailed != "fail")

        if (!streaming && !observeCounts) {
          // ONE aggregate yields input/error/output counts + per-rule
          // failed counts (and materializes the cache for consumers below)
          val pc = MaskedRowDqEvaluator.pipelineCounts(persisted, rowRules)
          errorDf = ErrorWriter.errorRowsMasked(persisted, rowRules, ctx)
          writeErrors(errorDf)
          harvestCounts(pc)
          // fail gate from the summaries already in hand — no extra job;
          // nothing is written on abort, so output reports 0
          val failFailed = rowSummaries.filter(s =>
            s.actionIfFailed == "fail" && s.failedRowCount > 0)
          if (failFailed.nonEmpty) {
            outputCount = 0L
            statuses += "row_dq" -> StageStatus.Failed
            throw new DqRuleFailedException(
              s"job failed: row_dq rules with action 'fail' failed: " +
                failFailed.map(_.rule).mkString(", "),
              failFailed.map(_.rule))
          }
        } else if (observeCounts) {
          // zero extra jobs: the same count aggregate rides the final
          // frame as an observed metric (collected by whichever downstream
          // action runs first — target agg/query stage or the write);
          // error rows are still extracted from the persisted frame
          val obs = org.apache.spark.sql.Observation(s"graft_counts_${ctx.runId}")
          masked = persisted.observe(obs, MaskedRowDqEvaluator.pipelineAgg(rowRules))
          pendingCounts = Some(obs)
          pendingMasked = Some(persisted)
          errorDf = ErrorWriter.errorRowsMasked(persisted, rowRules, ctx)
          writeErrors(errorDf)
        }

        var kept = masked.filter(
          !MaskedRowDqEvaluator.hasFailedAction(rowRules, "drop"))
        if (streaming)
          // target-side agg_dq per micro-batch: over the batch's rows
          // that survived the drop filter
          kept = attachStreamingAggObserve(kept,
            SparkExpectations.StreamingTargetAggObservationName,
            grouped(RuleType.AggDq).filter(_.enableForTargetDqValidation))
        finalDf =
          if (config.cleanFinalDf) kept.drop(maskCols: _*)
          else kept
            .withColumn(MaskedRowDqEvaluator.MetaCol,
              MaskedRowDqEvaluator.metaColumn(rowRules))
            .withColumn(MaskedRowDqEvaluator.ActionCol,
              MaskedRowDqEvaluator.actionsColumn(rowRules))
            .drop(maskCols: _*)
        // Passed even with error rows: ignore/drop failures don't fail
        // the stage (reference golden matrix, conftest.py case 0/1)
        statuses += "row_dq" -> StageStatus.Passed
        if (!streaming) registerTargetViews(finalDf)
      } else if (!streaming) {
        // no row stage: input is still counted eagerly, but output stays 0
        // — the reference only sets output_count in _run_row_dq
        // (conftest.py agg-only cases expect output_count=0)
        inputCount = df.count()
        registerTargetViews(finalDf)
      } else {
        // streaming with no row stage: agg_dq metrics still ride each
        // micro-batch (pre- and post-drop rows are the same frame)
        val aggR = grouped(RuleType.AggDq)
        finalDf = attachStreamingAggObserve(
          attachStreamingAggObserve(df,
            SparkExpectations.StreamingSourceAggObservationName,
            aggR.filter(_.enableForSourceDqValidation)),
          SparkExpectations.StreamingTargetAggObservationName,
          aggR.filter(_.enableForTargetDqValidation))
      }

      // stage 4/5: target-side agg/query on the surviving rows
      if (!streaming && settings.rowDq && settings.targetAggDq)
        ruleStage("final_agg_dq", "target agg_dq",
          aggRules.filter(_.enableForTargetDqValidation), finalDf)
      if (!streaming && settings.rowDq && settings.targetQueryDq)
        ruleStage("final_query_dq", "target query_dq",
          queryRules.filter(_.enableForTargetDqValidation), spark.range(1).toDF())

      // batch-only sinks: a streaming final frame is written via
      // StreamingWriter by the caller (df.write crashes on streams)
      if (!streaming) {
        config.writeTargetTablePath.foreach(p =>
          TableWriter.writePath(finalDf, p, config.targetWriter))
        if (config.writeToTable)
          TableWriter.write(finalDf, targetTable, config.targetWriter)
      }

      // OnWrite counts: the write (or an earlier target-stage action)
      // has flowed every row through the observe node — collect now,
      // bounded (a sink that never propagates metrics degrades to the
      // fused-aggregate fallback instead of hanging)
      pendingCounts.foreach(harvestObserved)
    } catch {
      case e: DqRuleFailedException =>
        statuses += "run_status" -> StageStatus.Failed
        // OnWrite abort (target agg/query fail gate): that stage's own
        // action normally flowed through the observe node, so its
        // metrics arrive without any new job — but the observation
        // listener posts asynchronously, and a query_dq rule touching
        // only the source view never flows through at all, so wait
        // bounded and fall through to the lazy count on timeout
        pendingCounts.foreach(harvestObserved)
        // a source agg/query rule with action 'fail' aborts before the
        // row-stage's fused aggregate has counted the input; count it
        // here (lazily, abort path only) so stats-on-abort match the
        // reference's eager-count behavior (expectations.py:960)
        if (!streaming && inputCount == 0L) inputCount = df.count()
        // stats must still be assembled AND persisted on failure
        // (collect_statistics.py:21-50 wraps success and failure alike)
        val stats = buildStats()
        // the failure notification and the DqRunAbortedException must
        // survive a broken stats sink — log the write failure instead of
        // letting it replace the real abort cause
        config.statsTable.foreach(t =>
          try TableWriter.writeStats(
            StatsBuilder.toDataFrame(spark, stats), t, config.statsWriter)
          catch { case scala.util.control.NonFatal(w) =>
            System.err.println(s"[graft] stats write to '$t' failed on abort path: $w")
          })
        config.notifier.foreach(_.onFailure(productId, targetTable, e.getMessage))
        throw new DqRunAbortedException(e, stats)
      // the reference's send_notification_decorator notifies on ANY
      // error, not just rule failures (spark_expectations_notify.py) —
      // unexpected analysis/write failures must alert too
      case scala.util.control.NonFatal(e) =>
        config.notifier.foreach(_.onFailure(productId, targetTable, e.toString))
        throw e
    }

    val stats = buildStats()
    config.notifier.foreach(_.onCompletion(stats))

    if (config.enableDetailedStats) {
      val byRule = grouped(RuleType.RowDq).map(r => r.rule -> r).toMap
      sourceDetails ++= rowSummaries.flatMap(s => byRule.get(s.rule).map { r =>
        DetailedStat(ctx.runId, productId, targetTable, r.ruleType, r.rule,
          r.columnName, r.expectation, r.tag, r.description,
          status = if (s.failedRowCount > 0) "fail" else "pass",
          actualValue = s.failedRowCount.toString,
          expectedValue = "0 failed rows",
          actualOutcome = if (s.failedRowCount > 0) "fail" else "pass",
          expectedOutcome = "pass",
          failedRowCount = s.failedRowCount)
      })
    }

    // auto-persisted stats tables (success path; the abort path wrote
    // its stats row inside the catch). A failing stats sink after an
    // otherwise-green run must still alert — the reference's
    // send_notification_decorator notifies on ANY error
    try config.statsTable.foreach { t =>
      TableWriter.writeStats(StatsBuilder.toDataFrame(spark, stats), t,
        config.statsWriter)
      if (config.enableDetailedStats)
        TableWriter.writeStats(
          StatsBuilder.detailedStats(spark, sourceDetails, targetDetails,
            config.jobMetadata),
          s"${t}_detailed", config.statsWriter)
      if (config.enableQueryDqDetailedResult && queryOutputs.nonEmpty)
        TableWriter.writeStats(spark.createDataFrame(queryOutputs),
          s"${t}_querydq_output", config.statsWriter)
    } catch {
      case scala.util.control.NonFatal(w) =>
        config.notifier.foreach(_.onFailure(productId, targetTable, w.toString))
        throw w
    }

    // observability report + alert (reference writer.py:706-728): built
    // AFTER the stats sinks so a failing report cannot mask a green run's
    // persisted stats, from the same detailed rows the sinks saw
    val reportDf =
      if (config.enableObsReport) {
        val rep = graft.sink.Report.build(spark, ctx,
          (sourceDetails ++ targetDetails).toSeq,
          graft.sink.Report.pairQueryOutputs(queryOutputs), inputCount)
        if (config.enableObsAlert) config.notifier.foreach(_.onObsReport(
          s"DQ Report for $productId / $targetTable",
          graft.sink.Report.alertEmailHtml(spark, rep,
            s"DQ Report for $productId / $targetTable")))
        Some(rep)
      } else None

    DqResult(finalDf, errorDf, stats, results("source_agg_dq"),
      results("source_query_dq"), results("final_agg_dq"),
      results("final_query_dq"), rowSummaries, statuses, sourceDetails,
      targetDetails, queryOutputs, pipelineCleanup, validationWarnings,
      reportDf)
  }
}

/** Wraps a rule-failure abort together with the stats that were still
  * assembled (the reference writes stats on success AND failure).
  */
final class DqRunAbortedException(cause: DqRuleFailedException, val stats: DqStats)
  extends RuntimeException(cause.getMessage, cause)

object SparkExpectations {
  /** The reference's default error-table naming: `{target}_error`
    * (utils/reader.py:295, test_default_error_table_naming).
    */
  def defaultErrorTable(targetTable: String): String = s"${targetTable}_error"

  /** Name of the observed-metrics block attached to streaming row_dq
    * frames (decoded by graft.streaming.StreamingDqMetricsListener).
    */
  val StreamingObservationName = "graft_dq_metrics"
  /** Per-micro-batch agg_dq status blocks (source-side: the batch's
    * pre-drop rows; target-side: its post-drop survivors).
    */
  val StreamingSourceAggObservationName = "graft_agg_dq_source"
  val StreamingTargetAggObservationName = "graft_agg_dq_target"

  /** Build from a rules DataFrame (any source), reference-style. */
  def fromRulesDf(spark: SparkSession, rulesDf: DataFrame, productId: String,
                  targetTable: String, config: DqConfig = DqConfig()): SparkExpectations = {
    val filtered = RulesReader.filterRules(rulesDf, productId, targetTable)
    val rules = RulesReader.toDataset(spark, filtered).collect().toSeq
    new SparkExpectations(productId, targetTable, rules, config)
  }
}
