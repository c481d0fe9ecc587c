package graft.eval

import graft.SparkSpec
import graft.model.Rule

class DetailedEvaluatorSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq(1, 2, 3, 4).toDF("x")

  test("parse splits comparator and between forms") {
    DetailedAggEvaluator.parse("sum(x) > 20") shouldBe Some(("sum(x)", ">", Seq("20")))
    DetailedAggEvaluator.parse("avg(x) between 1 and 5") shouldBe
      Some(("avg(x)", "between", Seq("1", "5")))
    DetailedAggEvaluator.parse("max(x) <= 4") shouldBe Some(("max(x)", "<=", Seq("4")))
  }

  test("run computes actual values and statuses in one job") {
    val rules = Seq(
      Rule("p", "t", "agg_dq", "sum10", "x", "sum(x) = 10"),
      Rule("p", "t", "agg_dq", "avg_band", "x", "avg(x) between 2 and 3"),
      Rule("p", "t", "agg_dq", "max_bad", "x", "max(x) > 100"))
    val details = DetailedAggEvaluator.run(df, rules)
    val byRule = details.map(d => d.rule.rule -> d).toMap
    byRule("sum10").status shouldBe "pass"
    byRule("sum10").actualValue.toString.toDouble shouldBe 10.0
    byRule("avg_band").status shouldBe "pass"
    byRule("max_bad").status shouldBe "fail"
    byRule("max_bad").actualValue.toString.toDouble shouldBe 4.0
  }
}
