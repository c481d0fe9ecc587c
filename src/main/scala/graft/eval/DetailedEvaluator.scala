package graft.eval

import graft.model.Rule
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Detailed agg/query evaluation: splits an expectation into
  * (aggregate-expression, comparator, bound[s]), computes the actual
  * aggregate value with Spark, and re-checks the comparison driver-side.
  *
  * Reference: utils/actions.py:122-301 with the regexes from
  * config/user_config.py:105-115. The reference re-evaluates the
  * comparator with a second Spark job; here the comparison happens on the
  * driver (same result, one job saved).
  */
object DetailedAggEvaluator {

  /** `<agg expr> between <lo> and <hi>` (case-insensitive). */
  private val BetweenRe =
    """(?is)^\s*(.+?)\s+between\s+(.+?)\s+and\s+(.+?)\s*$""".r

  /** `<agg expr> <cmp> <bound>` where cmp ∈ {>=, <=, >, <, =, ==, !=, <>}. */
  private val CmpRe =
    """(?s)^\s*(.+?)\s*(>=|<=|!=|<>|==|=|>|<)\s*(.+?)\s*$""".r

  final case class Detail(
      rule: Rule,
      actualValue: Any,
      expectedDescription: String,
      status: String
  )

  def parse(expectation: String): Option[(String, String, Seq[String])] =
    expectation match {
      case BetweenRe(agg, lo, hi) => Some((agg, "between", Seq(lo, hi)))
      case CmpRe(agg, cmp, bound) => Some((agg, cmp, Seq(bound)))
      case _                      => None
    }

  /** One batched aggregation job for ALL rules: for each rule, two
    * columns — the aggregate's actual value (stringified for the detail
    * row) and the FULL expectation evaluated as a Spark boolean
    * expression. Comparing in Spark rather than coercing driver-side
    * keeps non-numeric aggregates exact: `min(str) < 'B'`,
    * `max(dt) >= current_date()` (the reference's
    * test_agg_rule_for_non_int_column matrix) compare as their native
    * types; a driver-side toDouble would mark every such rule "fail".
    */
  def run(df: DataFrame, rules: Seq[Rule]): Seq[Detail] = {
    val parsed = rules.map(r => r -> parse(r.expectation))
    val evaluable = parsed.collect { case (r, Some(p)) => (r, p) }
    if (evaluable.isEmpty) return Seq.empty
    val cols = evaluable.zipWithIndex.flatMap { case ((r, (agg, _, _)), i) =>
      Seq(expr(agg).cast("string").alias(s"a_$i"),
        expr(r.expectation).alias(s"ok_$i"))
    }
    val row = df.select(cols: _*).head()
    evaluable.zipWithIndex.map { case ((r, (_, cmp, boundStrs)), i) =>
      val actual = row.get(2 * i)
      val ok     = !row.isNullAt(2 * i + 1) && row.getBoolean(2 * i + 1)
      Detail(r, actual, s"$cmp ${boundStrs.mkString(" and ")}",
        if (ok) "pass" else "fail")
    }
  }
}
