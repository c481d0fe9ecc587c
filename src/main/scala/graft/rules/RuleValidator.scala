package graft.rules

import graft.model.Rule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.analysis.{UnresolvedFunction, UnresolvedAttribute}
import org.apache.spark.sql.functions.expr

/** Static + live rule validation on Spark's own SQL parser — replaces the
  * reference's sqlglot pass (utils/validate_rules.py:41-588):
  *
  *   - action_if_failed ∈ {fail, drop, ignore}
  *   - row_dq: parses as an expression, is NOT a SELECT statement, and
  *     contains no aggregate function outside a subquery (window
  *     aggregates like `count(*) over (...)` are allowed)
  *   - agg_dq: parses and DOES contain an aggregate function
  *   - query_dq: every part of the (possibly composite) expectation
  *     parses as a valid SELECT when wrapped
  *   - optional live probe: `df.select(expr(e))` analyzed (not executed)
  *     against the actual input schema
  *
  * Violations are returned, not thrown — the reference logs warnings and
  * continues (core/expectations.py:957-958).
  */
object RuleValidator {

  final case class Violation(rule: Rule, problem: String)

  private val aggFunctions = Set(
    "sum", "count", "avg", "mean", "min", "max", "stddev", "stddev_pop",
    "stddev_samp", "variance", "var_pop", "var_samp", "percentile",
    "percentile_approx", "approx_count_distinct", "collect_list",
    "collect_set", "corr", "covar_pop", "covar_samp", "first", "last",
    "kurtosis", "skewness", "median", "mode", "any_value", "count_if",
    "bool_and", "bool_or", "sum_distinct", "array_agg")

  /** Aggregate calls in the expression tree, EXCLUDING those inside
    * subqueries or window specs. Parsed (unresolved) trees carry
    * UnresolvedFunction; analyzed trees carry AggregateExpression.
    */
  private def topLevelAggs(e: Expression): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.WindowExpression
    def walk(x: Expression): Seq[String] = x match {
      case _: SubqueryExpression => Seq.empty // scalar subqueries may aggregate
      case _: WindowExpression   => Seq.empty // windowed aggs are row-level
      case f: UnresolvedFunction
        if aggFunctions.contains(f.nameParts.last.toLowerCase) =>
        Seq(f.nameParts.last.toLowerCase) ++ f.children.flatMap(walk)
      case a: AggregateExpression => Seq(a.aggregateFunction.prettyName)
      case other => other.children.flatMap(walk)
    }
    walk(e)
  }

  private def parseExpression(spark: SparkSession, s: String): Either[String, Expression] =
    try Right(spark.sessionState.sqlParser.parseExpression(s))
    catch { case e: Exception => Left(s"parse error: ${e.getMessage.linesIterator.next()}") }

  /** Whole-keyword match — a row_dq expression like `with_tax > 0` or
    * `selected IS NOT NULL` starts with an identifier, not a statement.
    */
  private def isSelect(s: String): Boolean =
    s.trim.toLowerCase.matches("(?s)^(select|with)\\b.*")

  def validateOne(spark: SparkSession, r: Rule): Seq[Violation] = {
    val v = Seq.newBuilder[Violation]
    if (!Set("fail", "drop", "ignore").contains(r.actionIfFailed))
      v += Violation(r, s"invalid action_if_failed '${r.actionIfFailed}'")

    r.ruleType match {
      case "row_dq" =>
        if (isSelect(r.expectation))
          v += Violation(r, "row_dq expectation must be an expression, not a SELECT statement")
        else parseExpression(spark, r.expectation) match {
          case Left(err) => v += Violation(r, err)
          case Right(e) =>
            val aggs = topLevelAggs(e)
            if (aggs.nonEmpty)
              v += Violation(r,
                s"row_dq expectation contains aggregate function(s) outside a subquery/window: ${aggs.distinct.mkString(", ")}")
        }
      case "agg_dq" =>
        parseExpression(spark, r.expectation) match {
          case Left(err) => v += Violation(r, err)
          case Right(e) =>
            if (topLevelAggs(e).isEmpty)
              v += Violation(r, "agg_dq expectation must contain an aggregate function")
        }
      case "query_dq" =>
        val split = CompositeQuerySplitter.split(r.expectation, r.queryDqDelimiter)
        // placeholders still present after alias substitution mean the
        // composite is missing that key (reference:
        // test_composite_missing_key_returns_invalid) — params were
        // substituted before validation, like the reference's reader
        // identifier-shaped placeholders only — `{2}` inside an rlike
        // pattern is a regex quantifier, not a composite key. Scan the
        // sub-queries too: a leftover {key} inside a sub-query's SQL
        // would otherwise surface only as a runtime parse error
        val leftover = (split.baseExpectation +: split.subQueries.values.toSeq)
          .flatMap("\\{([A-Za-z_][A-Za-z0-9_]*)\\}".r
            .findAllMatchIn(_).map(_.group(1))).distinct
        if (leftover.nonEmpty)
          v += Violation(r,
            s"composite query_dq references missing key(s): ${leftover.mkString(", ")}")
        // each sub-query must be a real SELECT ... FROM statement
        // (reference: test_composite_subquery_not_select_from)
        split.subQueries.foreach { case (alias, sql) =>
          val lower = sql.trim.toLowerCase
          if (!lower.matches("(?s)^(select|with)\\b.*") ||
              !lower.matches("(?s).*\\bfrom\\b.*"))
            v += Violation(r,
              s"composite sub-query '$alias' must be a SELECT ... FROM statement")
        }
        val parts = split.baseExpectation +: split.subQueries.values.toSeq
        parts.foreach { p =>
          val sql = if (isSelect(p)) p else s"SELECT ($p) AS output"
          try spark.sessionState.sqlParser.parsePlan(sql)
          catch { case e: Exception =>
            v += Violation(r, s"query_dq parse error: ${e.getMessage.linesIterator.next()}")
          }
        }
      case other =>
        v += Violation(r, s"unknown rule_type '$other'")
    }
    v.result()
  }

  /** Live probe: analyze (not execute) each row/agg expectation against the
    * actual input schema, catching missing columns / type errors
    * (reference probes with `df.select(expr(e)).limit(1)`). All row rules
    * are analyzed in one select and all agg rules in another (the two
    * cannot share one); only a type whose combined analysis throws is
    * re-probed rule by rule, so the violations are those of a per-rule
    * probe.
    */
  def probe(df: DataFrame, rules: Seq[Rule]): Seq[Violation] = {
    def analyzes(rs: Seq[Rule]): Boolean =
      try { df.select(rs.map(r => expr(r.expectation)): _*).queryExecution.analyzed; true }
      catch { case _: Exception => false }
    val perRule = Set("row_dq", "agg_dq").filter { t =>
      val rs = rules.filter(_.ruleType == t)
      rs.nonEmpty && !analyzes(rs)
    }
    rules.filter(r => perRule(r.ruleType)).flatMap { r =>
      try { df.select(expr(r.expectation)).queryExecution.analyzed; None }
      catch { case e: Exception =>
        Some(Violation(r, s"probe failed: ${e.getMessage.linesIterator.next()}"))
      }
    }
  }

  def validate(spark: SparkSession, rules: Seq[Rule]): Seq[Violation] =
    rules.flatMap(validateOne(spark, _))

  /** Strict mode: throw the reference's per-type exception for the
    * FIRST violation (exceptions.py:62-81 — invalid action/config maps
    * to the user-input class, an invalid expectation to its rule-type's
    * class). [[validate]] stays the log-and-continue form.
    */
  def validateOrThrow(spark: SparkSession, rules: Seq[Rule]): Unit =
    validate(spark, rules).headOption.foreach { v =>
      import graft.model._
      val msg = s"rule '${v.rule.rule}': ${v.problem}"
      if (v.problem.startsWith("invalid action_if_failed"))
        throw new DqUserInputOrConfigInvalidException(msg)
      v.rule.ruleType match {
        case "row_dq"   => throw new DqInvalidRowDqExpectationException(msg)
        case "agg_dq"   => throw new DqInvalidAggDqExpectationException(msg)
        case "query_dq" => throw new DqInvalidQueryDqExpectationException(msg)
        case _          => throw new DqInvalidRuleTypeException(msg)
      }
    }
}
