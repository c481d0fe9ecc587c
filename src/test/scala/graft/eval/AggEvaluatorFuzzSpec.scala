package graft.eval

import graft.SparkSpec
import graft.model.Rule

/** Seeded fuzz over the agg stage: random data × random aggregate
  * expectations must produce the SAME pass/fail from
  *   (a) AggDqEvaluator (the stage gate's result maps),
  *   (b) the detailed evaluation (verdicts + actual values, one select),
  *       and
  *   (c) an independent driver-side evaluation
  * — including null aggregates (empty/all-null columns ⇒ null verdict ⇒
  * fail) and between forms — and every actual value must equal the
  * driver-side aggregate.
  */
class AggEvaluatorFuzzSpec extends SparkSpec {
  import spark.implicits._

  private type Truth = Seq[(Int, Option[Int])] => Option[Double]
  // aggregate pool: (sql fragment, driver-side value; None = SQL NULL)
  private val aggs: Seq[(String, Truth)] = Seq(
    ("sum(col1)", rs => if (rs.isEmpty) None else Some(rs.map(_._1.toDouble).sum)),
    ("min(col1)", rs => rs.map(_._1.toDouble).minOption),
    ("max(col2)", rs => { val v = rs.flatMap(_._2); if (v.isEmpty) None else Some(v.max.toDouble) }),
    ("sum(col2)", rs => { val v = rs.flatMap(_._2); if (v.isEmpty) None else Some(v.map(_.toDouble).sum) }),
    ("count(col2)", rs => Some(rs.count(_._2.nonEmpty).toDouble)),
    ("count(*)", rs => Some(rs.size.toDouble)))

  test("fuzz: coarse gate, detailed comparator, and driver truth agree (30 trials)") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 30) {
      val n = rnd.nextInt(30) // 0 included: empty input ⇒ null aggregates
      val rows = Seq.fill(n)((rnd.nextInt(20) - 5,
        if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(20) - 5)))
      val df = rows.toDF("col1", "col2")

      val rules = (0 until 1 + rnd.nextInt(4)).map { i =>
        val (aggSql, truth) = aggs(rnd.nextInt(aggs.size))
        val (expectation, expected) =
          if (rnd.nextInt(5) == 0) {
            val lo = rnd.nextInt(20) - 10; val hi = lo + rnd.nextInt(15)
            (s"$aggSql between $lo and $hi",
              truth(rows).exists(a => a >= lo && a <= hi))
          } else {
            val bound = rnd.nextInt(20) - 5
            val cmp = Seq(">", ">=", "<", "<=")(rnd.nextInt(4))
            val ok = truth(rows).exists { a => cmp match {
              case ">" => a > bound; case ">=" => a >= bound
              case "<" => a < bound; case _ => a <= bound
            }}
            (s"$aggSql $cmp $bound", ok)
          }
        (Rule("p", "t", "agg_dq", s"r$i", "c", expectation, "ignore"), (expected, truth(rows)))
      }

      val coarse = AggDqEvaluator.run(df, rules.map(_._1))
        .map(m => m("rule") -> m("status")).toMap
      val detailed = RuleStageEvaluator.run(df, rules.map(_._1), detailed = true)
        .map(o => o.rule.rule -> o).toMap
      rules.foreach { case (r, (expected, actual)) =>
        withClue(s"trial $trial '${r.expectation}' over $n rows: ") {
          coarse(r.rule) shouldBe (if (expected) "pass" else "fail")
          detailed(r.rule).status shouldBe coarse(r.rule)
          detailed(r.rule).actual.map(a =>
            if (a.value == "null") None else Some(a.value.toDouble)) shouldBe Some(actual)
        }
      }
    }
  }
}
