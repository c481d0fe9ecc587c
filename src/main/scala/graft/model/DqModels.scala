package graft.model

/** Per-stage status, mirroring the reference status map values
  * {Passed, Failed, Skipped} (core/context.py).
  */
object StageStatus {
  val Passed  = "Passed"
  val Failed  = "Failed"
  val Skipped = "Skipped"
}

/** Which stages run for this rule set — the "execution settings" aggregate
  * (reference: utils/reader.py:381-417). Derived driver-side from the
  * grouped rules rather than a Spark agg when rules are already collected.
  */
final case class ExecutionSettings(
    rowDq: Boolean,
    sourceAggDq: Boolean,
    targetAggDq: Boolean,
    sourceQueryDq: Boolean,
    targetQueryDq: Boolean
)

/** Per-rule failure summary used for stats + threshold alerting
  * (reference: sinks/utils/writer.py:1071-1209).
  */
final case class RuleFailureSummary(
    rule: String,
    ruleType: String,
    actionIfFailed: String,
    tag: String,
    description: String,
    columnName: String,
    failedRowCount: Long,
    errorDropThreshold: Int,
    enableErrorDropAlert: Boolean
) {
  def failedPct(inputCount: Long): Double =
    if (inputCount == 0) 0.0 else failedRowCount.toDouble / inputCount * 100.0
  def thresholdBreached(inputCount: Long): Boolean =
    enableErrorDropAlert && failedPct(inputCount) > errorDropThreshold
}

/** The one-row-per-run statistics record
  * (reference: sinks/utils/writer.py:801-966 and
  * docs/user_guide/data_quality_metrics.md:14-37).
  */
final case class DqStats(
    productId: String,
    tableName: String,
    inputCount: Long,
    errorCount: Long,
    outputCount: Long,
    outputPercentage: Double,
    successPercentage: Double,
    errorPercentage: Double,
    sourceAggDqResults: Seq[Map[String, String]],
    sourceQueryDqResults: Seq[Map[String, String]],
    rowDqResSummary: Seq[Map[String, String]],
    rowDqErrorThreshold: Seq[Map[String, String]],
    dqStatus: Map[String, String],
    dqRunTime: Map[String, Double],
    dqRulesCount: Map[String, Map[String, Long]],
    targetAggDqResults: Seq[Map[String, String]],
    targetQueryDqResults: Seq[Map[String, String]],
    runId: String,
    runDate: java.sql.Timestamp,
    /** free-form job metadata (reference: se_job_metadata on the stats
      * write, sinks/utils/writer.py:951).
      */
    jobMetadata: Option[String] = None
)

/** One row per rule per run for the `<stats>_detailed` table
  * (reference: sinks/utils/writer.py:390-405,527-568).
  */
final case class DetailedStat(
    runId: String,
    productId: String,
    tableName: String,
    ruleType: String,
    rule: String,
    columnName: String,
    expectation: String,
    tag: String,
    description: String,
    status: String,
    actualValue: String,
    expectedValue: String,
    actualOutcome: String,
    expectedOutcome: String,
    failedRowCount: Long
)

/** Immutable run context threaded through stages — replaces the
  * reference's 3k-LoC mutable god-object (core/context.py:18-196).
  */
final case class RunContext(
    productId: String,
    targetTable: String,
    runId: String,
    runDate: java.sql.Timestamp
) {
  /** Base name used for temp views: last dot-segment of the target table. */
  def viewBase: String = targetTable.split('.').last
  def sourceView: String = s"${viewBase}_source"
  def targetView: String = s"${viewBase}_target"
}

object RunContext {
  def create(productId: String, targetTable: String,
             clock: () => Long = () => System.currentTimeMillis()): RunContext = {
    val ts = new java.sql.Timestamp(clock())
    RunContext(productId, targetTable,
      runId = s"${productId}_${java.util.UUID.randomUUID()}", runDate = ts)
  }
}

/** Raised when a rule with action_if_failed='fail' fails
  * (reference: SparkExpectOrFailException, utils/actions.py:666-686).
  */
final class DqRuleFailedException(msg: String, val failedRules: Seq[String])
  extends RuntimeException(msg)
