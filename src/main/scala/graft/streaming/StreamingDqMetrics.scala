package graft.streaming

import graft.eval.MaskedRowDqEvaluator
import graft.eval.MaskedRowDqEvaluator.PipelineCounts
import graft.model.Rule
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-micro-batch DQ counts for streaming runs.
  *
  * The streaming orchestrator path keeps the reference's contract
  * (stats report 0 on streams, drop-only enforcement,
  * core/expectations.py:523-546,960) but attaches the batch pipeline's
  * count aggregate to every micro-batch as a named observed metric
  * (`SparkExpectations.StreamingObservationName`). Register this
  * listener with `spark.streams.addListener` and every processed batch
  * delivers input/error/dropped/per-rule counts — computed inside the
  * micro-batch's own pass, no second job, no state on the driver path.
  *
  * Rule-failure alerting on streams falls out for free: pass an
  * `onBatch` callback and fan out to a notifier when a batch's counts
  * breach a threshold.
  */
final class StreamingDqMetricsListener(
    rules: Seq[Rule],
    observationName: String =
      graft.orchestrator.SparkExpectations.StreamingObservationName,
    /** restrict to one named query when several streams share the
      * session (matches `StreamingConfig.queryName`); None = any.
      */
    queryName: Option[String] = None,
    onBatch: (Long, PipelineCounts) => Unit = (_, _) => ())
  extends StreamingQueryListener {

  // the orchestrator builds the per-rule counts from ACTIVE row_dq rules
  // only — decode against the same subset so callers can pass their
  // full rule list without positionally misassigning per-rule counts
  private val rowRules = rules.filter(r =>
    r.ruleType == graft.model.RuleType.RowDq.name && r.isActive)

  private val lock = new Object
  private var batches = Vector.empty[(Long, PipelineCounts)]
  private var aggBatches = Vector.empty[(Long, String, Map[String, String])]

  /** (batchId, counts) in arrival order. */
  def perBatch: Seq[(Long, PipelineCounts)] = lock.synchronized(batches)

  /** Per-micro-batch agg_dq outcomes: (batchId, side, rule → status)
    * where side is "source_dq" (pre-drop rows) or "target_dq" (post-drop
    * survivors). The reference cannot evaluate agg_dq on streams at all;
    * here each batch's global aggregates are observed metrics of that
    * batch's own pass.
    */
  def aggPerBatch: Seq[(Long, String, Map[String, String])] =
    lock.synchronized(aggBatches)

  /** Counts accumulated across all observed batches. */
  def total: PipelineCounts = lock.synchronized {
    batches.map(_._2).foldLeft(PipelineCounts(0L, 0L, 0L, Map.empty)) { (a, b) =>
      PipelineCounts(
        a.inputRows + b.inputRows,
        a.errorRows + b.errorRows,
        a.dropFailedRows + b.dropFailedRows,
        (a.perRule.keySet ++ b.perRule.keySet).map(k =>
          k -> (a.perRule.getOrElse(k, 0L) + b.perRule.getOrElse(k, 0L))).toMap)
    }
  }

  override def onQueryStarted(
      event: StreamingQueryListener.QueryStartedEvent): Unit = ()

  override def onQueryProgress(
      event: StreamingQueryListener.QueryProgressEvent): Unit =
    if (queryName.forall(n => Option(event.progress.name).contains(n))) {
      val om = event.progress.observedMetrics
      val row = om.get(observationName)
      if (row != null) {
        val metrics = row.schema.fieldNames.zip(row.toSeq).toMap[String, Any]
        val pc = MaskedRowDqEvaluator.countsFromMetrics(rowRules, metrics)
        // callback BEFORE publishing to perBatch: a caller polling
        // perBatch must be able to assume the batch's alerting ran
        onBatch(event.progress.batchId, pc)
        lock.synchronized { batches :+= (event.progress.batchId, pc) }
      }
      import graft.orchestrator.SparkExpectations.{
        StreamingSourceAggObservationName, StreamingTargetAggObservationName}
      Seq(StreamingSourceAggObservationName -> "source_dq",
          StreamingTargetAggObservationName -> "target_dq").foreach {
        case (block, side) =>
          val r = om.get(block)
          if (r != null) {
            val statuses = r.schema.fieldNames.zip(r.toSeq)
              .map { case (k, v) => k -> String.valueOf(v) }.toMap
            lock.synchronized {
              aggBatches :+= ((event.progress.batchId, side, statuses))
            }
          }
      }
    }

  override def onQueryTerminated(
      event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}

object StreamingDqMetricsListener {
  /** Listener that fans each micro-batch's threshold breaches and
    * ignore-rule failures out to `notifier` — streaming runs get the
    * same alerting the batch pipeline fires, evaluated per batch.
    */
  def withNotifier(rules: Seq[Rule], notifier: graft.notify.Notifier,
                   productId: String, table: String,
                   queryName: Option[String] = None): StreamingDqMetricsListener =
    new StreamingDqMetricsListener(rules, queryName = queryName,
      onBatch = (_, pc) => {
        val summaries = graft.sink.ErrorWriter.summariesFromCounts(pc, rules)
        notifier.onThresholdBreach(productId, table,
          summaries.filter(_.thresholdBreached(pc.inputRows)), pc.inputRows)
        notifier.onIgnoreRuleFailures(rules,
          summaries.filter(_.failedRowCount > 0).map(_.rule).toSet)
      })

  /** A micro-batch's counts as a reference-shaped stats record: run
    * context stamped at batch time, row summaries from the observed
    * counts, `{"batch_id":N}` in the job metadata. Agg/query stages
    * report Skipped — their per-batch outcomes live on `aggPerBatch`.
    */
  def batchStats(rules: Seq[Rule], productId: String, table: String,
                 batchId: Long, pc: PipelineCounts): graft.model.DqStats = {
    import graft.model.RuleType
    val active = rules.filter(_.isActive)
    val grouped = RuleType.all.map(t =>
      t -> active.filter(_.ruleType == t.name)).toMap
    graft.sink.StatsBuilder.build(
      graft.model.RunContext.create(productId, table),
      pc.inputRows, pc.errorRows, pc.outputRows, grouped,
      Seq.empty, Seq.empty,
      graft.sink.ErrorWriter.summariesFromCounts(pc,
        grouped(RuleType.RowDq)),
      Seq.empty, Seq.empty,
      Map("run_status" -> "Passed",
        "source_agg_dq" -> "Skipped", "source_query_dq" -> "Skipped",
        "row_dq" -> "Passed",
        "final_agg_dq" -> "Skipped", "final_query_dq" -> "Skipped"),
      Map.empty, Some(s"""{"batch_id":$batchId}"""))
  }

  /** Dedicated writer thread for [[withStatsTable]]: onQueryProgress
    * runs on the streaming listener BUS thread, and a blocking Spark
    * table write there backs up the bus — Spark drops progress events
    * when the bus queue fills, silently losing per-batch stats rows for
    * EVERY listener in the session. Writes are handed off here instead
    * (serialized, which an append-mode stats table wants anyway).
    */
  private lazy val statsExecutor =
    java.util.concurrent.Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-streaming-stats-writer")
      t.setDaemon(true); t
    })

  /** Block until every stats write submitted so far has completed —
    * call before reading the stats table (tests) or at shutdown.
    * Returns false on timeout.
    */
  def awaitStatsWrites(timeoutSeconds: Int = 60): Boolean =
    try {
      statsExecutor.submit(new Runnable { def run(): Unit = () })
        .get(timeoutSeconds, java.util.concurrent.TimeUnit.SECONDS)
      true
    } catch { case _: java.util.concurrent.TimeoutException => false }

  /** Listener that appends one stats row per processed micro-batch to
    * `statsTable` — continuous DQ observability the reference's
    * streaming mode (zero counts, no stats) does not have. The write
    * runs on [[statsExecutor]], not the listener bus thread.
    */
  def withStatsTable(rules: Seq[Rule],
                     spark: org.apache.spark.sql.SparkSession,
                     statsTable: String, productId: String, table: String,
                     writer: graft.sink.WriterConfig =
                       graft.sink.WriterConfig(mode = "append"),
                     queryName: Option[String] = None): StreamingDqMetricsListener =
    new StreamingDqMetricsListener(rules, queryName = queryName,
      onBatch = (batchId, pc) => {
        // stamp the stats row NOW (batch arrival order) so queued writes
        // carry the right context even if the writer thread lags
        val stats = batchStats(rules, productId, table, batchId, pc)
        statsExecutor.submit(new Runnable {
          def run(): Unit =
            // a transient sink failure must not lose the batch from
            // perBatch/aggPerBatch — log and move on
            try graft.sink.TableWriter.writeStats(
              graft.sink.StatsBuilder.toDataFrame(spark, stats),
              statsTable, writer)
            catch { case scala.util.control.NonFatal(w) =>
              System.err.println(
                s"[graft] streaming stats write to '$statsTable' failed for batch $batchId: $w")
            }
        })
        ()
      })
}
