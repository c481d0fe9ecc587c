package graft.model

import org.apache.spark.sql.types._

/** Rule types supported by the engine.
  *
  * Semantics follow the reference DQ gate
  * (spark_expectations/utils/reader.py:355-358): rules are grouped by type
  * and evaluated in five stages (source agg/query, row, target agg/query).
  */
sealed abstract class RuleType(val name: String)
object RuleType {
  case object RowDq   extends RuleType("row_dq")
  case object AggDq   extends RuleType("agg_dq")
  case object QueryDq extends RuleType("query_dq")

  val all: Seq[RuleType] = Seq(RowDq, AggDq, QueryDq)
  def fromString(s: String): RuleType = s.trim.toLowerCase match {
    case "row_dq"   => RowDq
    case "agg_dq"   => AggDq
    case "query_dq" => QueryDq
    case other      => throw new DqInvalidRuleTypeException(s"unknown rule_type: $other")
  }
}

/** Per-rule enforcement action (reference: utils/actions.py:613-690). */
sealed abstract class ActionIfFailed(val name: String)
object ActionIfFailed {
  case object Fail   extends ActionIfFailed("fail")
  case object Drop   extends ActionIfFailed("drop")
  case object Ignore extends ActionIfFailed("ignore")

  def fromString(s: String): ActionIfFailed = s.trim.toLowerCase match {
    case "fail"   => Fail
    case "drop"   => Drop
    case "ignore" => Ignore
    case other    => throw new DqUserInputOrConfigInvalidException(s"unknown action_if_failed: $other")
  }
}

/** A single declarative data-quality rule.
  *
  * Mirrors the reference's fixed 17-column rules schema
  * (spark_expectations/rules/plugins/_flatten.py:50-112) as a typed case
  * class; `expectation` is an arbitrary Spark SQL boolean expression
  * (row/agg) or a SELECT statement (query_dq).
  */
final case class Rule(
    productId: String,
    tableName: String,
    ruleType: String,
    rule: String,
    columnName: String,
    expectation: String,
    actionIfFailed: String = "ignore",
    tag: String = "",
    description: String = "",
    enableForSourceDqValidation: Boolean = true,
    enableForTargetDqValidation: Boolean = true,
    isActive: Boolean = true,
    enableErrorDropAlert: Boolean = false,
    errorDropThreshold: Int = 100,
    queryDqDelimiter: String = "@",
    enableQuerydqCustomOutput: Boolean = false,
    priority: String = "medium"
) {
  def typedRuleType: RuleType       = RuleType.fromString(ruleType)
  def typedAction: ActionIfFailed   = ActionIfFailed.fromString(actionIfFailed)

  /** MD5 identity hash, matching the reference's appended `id_hash` column
    * (core/expectations.py:106-126): md5(concat_ws('|', product_id,
    * table_name, rule, rule_type)) over trimmed, null-coalesced parts.
    */
  def idHash: String =
    Md5.hex(Seq(productId, tableName, rule, ruleType).map(s => Option(s).getOrElse("").trim).mkString("|"))

  /** MD5 of the expectation text (core/expectations.py:106-126). */
  def expectationHash: String = Md5.hex(Option(expectation).getOrElse("").trim)
}

object Rule {
  /** The fixed 17-column rules-table schema
    * (reference: rules/plugins/_flatten.py:50-112).
    */
  val schema: StructType = StructType(Seq(
    StructField("product_id", StringType, nullable = false),
    StructField("table_name", StringType, nullable = false),
    StructField("rule_type", StringType, nullable = false),
    StructField("rule", StringType, nullable = false),
    StructField("column_name", StringType),
    StructField("expectation", StringType),
    StructField("action_if_failed", StringType),
    StructField("tag", StringType),
    StructField("description", StringType),
    StructField("enable_for_source_dq_validation", BooleanType),
    StructField("enable_for_target_dq_validation", BooleanType),
    StructField("is_active", BooleanType),
    StructField("enable_error_drop_alert", BooleanType),
    StructField("error_drop_threshold", IntegerType),
    StructField("query_dq_delimiter", StringType),
    StructField("enable_querydq_custom_output", BooleanType),
    StructField("priority", StringType)
  ))

  /** Priority ordering for notification filtering (low < medium < high). */
  val priorityRank: Map[String, Int] = Map("low" -> 0, "medium" -> 1, "high" -> 2)
}

object Md5 {
  def hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }
}
