package graft.eval

import graft.SparkSpec
import graft.model.Rule
import org.apache.spark.sql.functions._

class EvaluatorsSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq((0, 1, "a"), (1, 2, "b"), (2, 3, "c"))
    .toDF("row_id", "col1", "col2")

  test("AggDqEvaluator evaluates global aggregates in one projection") {
    val rules = Seq(
      Rule("p1", "t1", "agg_dq", "sum_ok", "col1", "sum(col1) = 6"),
      Rule("p1", "t1", "agg_dq", "max_bad", "col1", "max(col1) > 10"))
    val res = AggDqEvaluator.run(df, rules)
    res.map(m => m("rule") -> m("status")).toMap shouldBe
      Map("sum_ok" -> "pass", "max_bad" -> "fail")
  }

  test("QueryDqEvaluator runs scalar subqueries once on a 1-row frame") {
    df.createOrReplaceTempView("ev_test_src")
    val rules = Seq(
      Rule("p1", "t1", "query_dq", "cnt_ok", "",
        "(select count(*) from ev_test_src) = 3"),
      Rule("p1", "t1", "query_dq", "cnt_bad", "",
        "(select count(*) from ev_test_src) > 100"))
    val res = QueryDqEvaluator.run(spark, rules)
    res.map(m => m("rule") -> m("status")).toMap shouldBe
      Map("cnt_ok" -> "pass", "cnt_bad" -> "fail")
  }
}
