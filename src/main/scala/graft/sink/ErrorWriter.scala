package graft.sink

import graft.model.{Rule, RuleFailureSummary, RunContext}
import graft.eval.MaskedRowDqEvaluator
import java.util.Locale
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Error-row extraction, error-table shaping, and per-rule failure
  * summarization (reference: sinks/utils/writer.py:1011-1158).
  */
object ErrorWriter {

  val RunIdCol   = "meta_dq_run_id"
  val RunDateCol = "meta_dq_run_datetime"

  /** Rows with at least one failed row rule, plus run metadata columns —
    * the error-table shape (reference: sinks/utils/writer.py:1031-1049).
    * The filter is a bitwise test on the masks; the reference-shaped
    * meta maps are decoded from the bits, and the mask columns dropped.
    */
  def errorRowsMasked(masked: DataFrame, rules: Seq[Rule], ctx: RunContext): DataFrame = {
    import graft.eval.MaskedRowDqEvaluator._
    masked
      .filter(anyFailed(rules))
      .withColumn(MetaCol, metaColumn(rules))
      .drop(maskColNames(rules.size): _*)
      .withColumn(RunIdCol, lit(ctx.runId))
      .withColumn(RunDateCol, lit(ctx.runDate))
  }

  /** Zero-filled per-rule failure summaries from the pipeline counts
    * (reference: sinks/utils/writer.py:1071-1158, which explodes the
    * error rows and groups by rule instead).
    */
  def summariesFromCounts(pc: MaskedRowDqEvaluator.PipelineCounts,
                          rules: Seq[Rule]): Seq[RuleFailureSummary] =
    rules.map { r =>
      RuleFailureSummary(
        rule = r.rule, ruleType = r.ruleType, actionIfFailed = r.actionIfFailed,
        tag = r.tag, description = r.description, columnName = r.columnName,
        failedRowCount = pc.perRule.getOrElse(r.rule, 0L),
        errorDropThreshold = r.errorDropThreshold,
        enableErrorDropAlert = r.enableErrorDropAlert)
    }

  /** Threshold check rows for stats + alerting
    * (reference: sinks/utils/writer.py:1160-1209).
    */
  def thresholds(summaries: Seq[RuleFailureSummary], inputCount: Long)
      : Seq[Map[String, String]] =
    summaries.map { s =>
      Map(
        "rule"              -> s.rule,
        "action_if_failed"  -> s.actionIfFailed,
        "description"       -> s.description,
        "rule_type"         -> s.ruleType,
        "error_drop_threshold" -> s.errorDropThreshold.toString,
        "error_drop_percentage" -> "%.2f".formatLocal(Locale.ROOT, s.failedPct(inputCount)),
        "failed_row_count"  -> s.failedRowCount.toString,
        "threshold_breached" -> s.thresholdBreached(inputCount).toString)
    }
}

/** Batch table sink — a thin, config-driven `DataFrameWriter` chain
  * (reference: sinks/utils/writer.py:242-292).
  */
final case class WriterConfig(
    format: String = "parquet",
    mode: String = "append",
    partitionBy: Seq[String] = Seq.empty,
    bucketBy: Option[(Int, Seq[String])] = None,
    sortBy: Seq[String] = Seq.empty,
    options: Map[String, String] = Map.empty)

/** Bounded retry with exponential backoff (x2 per attempt, capped) —
  * the reference's streaming-table wait loop
  * (sinks/utils/writer.py:46-128). The sleeper is injectable so specs
  * prove the backoff schedule without real waits.
  */
object Backoff {
  def retry[T](maxRetries: Int = 3, initialWaitMs: Long = 500,
               maxWaitMs: Long = 10000, sleep: Long => Unit = Thread.sleep)
              (attempt: () => Option[T]): Option[T] = {
    var wait = initialWaitMs
    var tries = 0
    while (tries < maxRetries) {
      attempt() match {
        case some @ Some(_) => return some
        case None =>
          tries += 1
          if (tries < maxRetries) {
            sleep(wait)
            wait = math.min(wait * 2, maxWaitMs)
          }
      }
    }
    None
  }
}

object TableWriter {

  /** Formats that address the target table as a WRITER OPTION + save()
    * instead of the catalog's saveAsTable — the reference's BigQuery
    * branch (sinks/utils/writer.py:264-267:
    * `.format("bigquery").option("table", t).save()`). The marker
    * option lets tests (and other external-catalog connectors with the
    * same shape) opt into the branch without being named here.
    */
  private val optionTableFormats = Set("bigquery")
  val OptionTableSinkMarker = "graft.option_table_sink"

  private def usesOptionTable(cfg: WriterConfig): Boolean =
    optionTableFormats.contains(cfg.format.toLowerCase) ||
      cfg.options.get(OptionTableSinkMarker).contains("true")

  def write(df: DataFrame, table: String, cfg: WriterConfig): Unit = {
    var w = df.write.mode(cfg.mode).format(cfg.format)
      .options(cfg.options - OptionTableSinkMarker)
    if (cfg.partitionBy.nonEmpty) w = w.partitionBy(cfg.partitionBy: _*)
    if (usesOptionTable(cfg)) {
      w.option("table", table).save()
    } else {
      cfg.bucketBy.foreach { case (n, cols) =>
        w = w.bucketBy(n, cols.head, cols.tail: _*)
        if (cfg.sortBy.nonEmpty) w = w.sortBy(cfg.sortBy.head, cfg.sortBy.tail: _*)
      }
      w.saveAsTable(table)
    }
  }

  def writePath(df: DataFrame, path: String, cfg: WriterConfig): Unit = {
    var w = df.write.mode(cfg.mode).format(cfg.format).options(cfg.options)
    if (cfg.partitionBy.nonEmpty) w = w.partitionBy(cfg.partitionBy: _*)
    w.save(path)
  }

  /** Post-write table property stamp
    * (reference: sinks/utils/writer.py:146-158 ALTER TABLE ... SET TBLPROPERTIES).
    */
  def stampProductId(spark: SparkSession, table: String, productId: String): Unit =
    spark.sql(s"ALTER TABLE $table SET TBLPROPERTIES ('product_id' = '$productId')")

  /** Streaming-safe property stamp: a just-started stream's target table
    * may not exist until its first micro-batch commits, so wait for it
    * with capped exponential backoff, then stamp product_id only when
    * absent or different; gives up quietly after `maxRetries` like the
    * reference (sinks/utils/writer.py:46-128 never fails the run over a
    * property stamp). Returns true when the property is in place.
    */
  def stampProductIdWithRetry(spark: SparkSession, table: String, productId: String,
                              maxRetries: Int = 3, initialWaitMs: Long = 500,
                              maxWaitMs: Long = 10000,
                              sleep: Long => Unit = Thread.sleep): Boolean =
    Backoff.retry(maxRetries, initialWaitMs, maxWaitMs, sleep) { () =>
      try {
        val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
        if (!props.get("product_id").contains(productId))
          stampProductId(spark, table, productId)
        Some(true)
      } catch { case scala.util.control.NonFatal(_) => None }
    }.getOrElse(false)

  /** Stats-table write with `mergeSchema=true` defaulted (unless the
    * caller set it) so the stats schema can evolve across library
    * versions without breaking the sink
    * (reference: sinks/utils/writer.py:146-158 auto-mergeSchema).
    */
  def writeStatsPath(df: DataFrame, path: String, cfg: WriterConfig): Unit =
    writePath(df, path, withMergeSchema(cfg))

  def writeStats(df: DataFrame, table: String, cfg: WriterConfig): Unit =
    write(df, table, withMergeSchema(cfg))

  private def withMergeSchema(cfg: WriterConfig): WriterConfig =
    if (cfg.options.contains("mergeSchema")) cfg
    else cfg.copy(options = cfg.options + ("mergeSchema" -> "true"))
}
