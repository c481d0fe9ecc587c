package graft.eval

import graft.SparkSpec
import graft.model.Rule

/** Detailed agg evaluation: actual values from the same select as the
  * verdicts ([[RuleStageEvaluator]]).
  */
class DetailedEvaluatorSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(1, 2, 3, 4).toDF("x")

  test("parse splits comparator and between forms") {
    RuleStageEvaluator.parse("sum(x) > 20") shouldBe Some(("sum(x)", ">", Seq("20")))
    RuleStageEvaluator.parse("avg(x) between 1 and 5") shouldBe
      Some(("avg(x)", "between", Seq("1", "5")))
    RuleStageEvaluator.parse("max(x) <= 4") shouldBe Some(("max(x)", "<=", Seq("4")))
    // comparators inside parentheses or literals are not the split point
    RuleStageEvaluator.parse("count(case when l_quantity > 45 then 1 end) = 0") shouldBe
      Some(("count(case when l_quantity > 45 then 1 end)", "=", Seq("0")))
    RuleStageEvaluator.parse("min(if(a<0,1,0)) = 0") shouldBe
      Some(("min(if(a<0,1,0))", "=", Seq("0")))
    RuleStageEvaluator.parse("max(s) >= 'a<b'") shouldBe Some(("max(s)", ">=", Seq("'a<b'")))
    RuleStageEvaluator.parse("sum(case when x between 1 and 2 then 1 end) BETWEEN 0 AND 3") shouldBe
      Some(("sum(case when x between 1 and 2 then 1 end)", "between", Seq("0", "3")))
    // no top-level split, or an aggregate part that does not parse
    RuleStageEvaluator.parse("(sum(x) > 20)") shouldBe None
    RuleStageEvaluator.parse("case when sum(x) > 1 then true end") shouldBe None
  }

  test("parse skips backslash-escaped quotes inside string literals") {
    RuleStageEvaluator.parse("""sum(if(c = 'a\'', 1, 0)) > 2""") shouldBe
      Some(("""sum(if(c = 'a\'', 1, 0))""", ">", Seq("2")))
    RuleStageEvaluator.parse("""count(case when name = 'O\'Brien' then 1 end) = 0""") shouldBe
      Some(("""count(case when name = 'O\'Brien' then 1 end)""", "=", Seq("0")))
  }

  test("run computes actual values and statuses in one job") {
    val rules = Seq(
      Rule("p", "t", "agg_dq", "sum10", "x", "sum(x) = 10"),
      Rule("p", "t", "agg_dq", "avg_band", "x", "avg(x) between 2 and 3"),
      Rule("p", "t", "agg_dq", "max_bad", "x", "max(x) > 100"))
    val outcomes = RuleStageEvaluator.run(df, rules, detailed = true)
    val byRule = outcomes.map(o => o.rule.rule -> o).toMap
    byRule("sum10").status shouldBe "pass"
    byRule("sum10").actual shouldBe Some(ActualValue("10", "= 10"))
    byRule("avg_band").status shouldBe "pass"
    byRule("avg_band").actual shouldBe Some(ActualValue("2.5", "between 2 and 3"))
    byRule("max_bad").status shouldBe "fail"
    byRule("max_bad").actual.map(_.value.toDouble) shouldBe Some(4.0)
    RuleStageEvaluator.run(df, rules, detailed = false).map(o => (o.status, o.actual)) shouldBe
      outcomes.map(o => (o.status, None))
  }
}
