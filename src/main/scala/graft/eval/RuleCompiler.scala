package graft.eval

import graft.model.Rule
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles a [[graft.model.Rule]] into a Catalyst `Column`.
  *
  * The core operator of the engine (reference: utils/actions.py:497-516):
  * every rule becomes `when(expr(expectation), <props+pass>).otherwise(
  * <props+fail>)`; all rules of a type are applied in ONE projection so N
  * rules cost a single scan. Everything compiles to built-in expressions —
  * zero UDFs — so whole-stage codegen handles the CASE WHEN chain.
  */
object RuleCompiler {

  /** The 10 rule properties carried in each result map
    * (reference: utils/actions.py:74-99,507-516).
    */
  def propEntries(r: Rule): Seq[(String, String)] = Seq(
    "rule_type"        -> r.ruleType,
    "rule"             -> r.rule,
    "action_if_failed" -> r.actionIfFailed,
    "tag"              -> r.tag,
    "description"      -> r.description,
    "column_name"      -> r.columnName,
    "priority"         -> r.priority,
    "id_hash"          -> r.idHash,
    "expectation_hash" -> r.expectationHash
  )

  private def mapLiteral(entries: Seq[(String, String)]): Column =
    map(entries.flatMap { case (k, v) => Seq(lit(k), lit(Option(v).getOrElse(""))) }: _*)

  /** Result column name for a rule (reference aliases `{rule_type}_{rule}`). */
  def resultColName(r: Rule): String = s"${r.ruleType}_${r.safeName}"

  /** `when(expr(e), passMap).otherwise(failMap)` — one per rule.
    * A NULL expectation result counts as a failure (SQL three-valued logic
    * collapses to the otherwise branch), matching the reference.
    */
  def ruleColumn(r: Rule): Column = {
    val props = propEntries(r)
    val pass  = mapLiteral(props :+ ("status" -> "pass"))
    val fail  = mapLiteral(props :+ ("status" -> "fail"))
    when(expr(r.expectation), pass).otherwise(fail).alias(resultColName(r))
  }

  /** Collapse per-rule map columns into `meta_{rule_type}_results`,
    * keeping every rule map (agg/query stages, where pass results also
    * feed detailed stats).
    */
  def collapseAll(ruleCols: Seq[String]): Column =
    array(ruleCols.map(col): _*)
}
