package graft.eval

import graft.model.Rule

/** The rule properties every reference-shaped result map carries: the
  * agg/query stage maps ([[RuleOutcome.resultMap]], built on the driver)
  * and the row stage's failed-rule maps ([[MaskedRowDqEvaluator.metaColumn]],
  * decoded from the mask).
  */
object RuleCompiler {

  /** The 9 rule properties of a result map; with `status`, its 10 keys
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
}
