package graft.eval

import graft.SparkSpec
import graft.model.{Rule, RunContext}
import graft.sink.ErrorWriter
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType, StringType}

class MaskedEvaluatorSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq((0, 1, "a"), (1, 2, "b"), (2, 3, "c"))
    .toDF("row_id", "col1", "col2")

  private def rr(name: String, e: String, action: String = "ignore") =
    Rule("p", "t", "row_dq", name, "col1", e, action)

  /** The per-rule fold `metaColumn` replaced: one `CASE WHEN` plus one
    * `map(...)` per rule, evaluated from the expectations themselves.
    */
  private def oracleMeta(rules: Seq[Rule]): Column =
    array_compact(array(rules.map { r =>
      val props = RuleCompiler.propEntries(r) :+ ("status" -> "fail")
      when(expr(r.expectation), lit(null).cast("map<string,string>"))
        .otherwise(map(props.flatMap { case (k, v) =>
          Seq(lit(k), lit(Option(v).getOrElse(""))) }: _*))
    }: _*))

  test("mask bits match per-rule failures; NULL counts as failure") {
    val rules = Seq(rr("gt1", "col1 > 1"), rr("null_rule", "CAST(NULL AS BOOLEAN)"))
    val out = MaskedRowDqEvaluator.run(df, rules).orderBy("row_id")
      .select(col("meta_dq_fail_mask_0")).collect().map(_.getLong(0))
    // bit0 = gt1 failed, bit1 = null rule (always fails)
    out shouldBe Array(1L | 2L, 2L, 2L)
  }

  test("pipelineCounts matches plain-SQL CASE WHEN sums") {
    val rules = Seq(rr("gt1", "col1 > 1", "drop"), rr("lt3", "col1 < 3"),
      rr("null_rule", "CASE WHEN col1 = 2 THEN NULL ELSE true END"))
    val pc = MaskedRowDqEvaluator.pipelineCounts(MaskedRowDqEvaluator.run(df, rules), rules)
    df.createOrReplaceTempView("masked_counts_src")
    val fails = rules.map(r => s"CASE WHEN ${r.expectation} THEN 0 ELSE 1 END")
    val sql = spark.sql(s"""SELECT count(*),
        sum(CASE WHEN ${fails.mkString(" + ")} > 0 THEN 1 ELSE 0 END),
        sum(${fails.head}), ${fails.map(f => s"sum($f)").mkString(", ")}
      FROM masked_counts_src""").head()
    pc.inputRows shouldBe sql.getLong(0)
    pc.errorRows shouldBe sql.getLong(1)
    pc.dropFailedRows shouldBe sql.getLong(2)
    pc.perRule shouldBe rules.zipWithIndex.map { case (r, i) => r.rule -> sql.getLong(3 + i) }.toMap
    pc.errorRows shouldBe 3 // every row fails something; row 1 only the NULL rule
  }

  test("metaColumn rebuilds the reference-shaped failed maps") {
    val rules = Seq(rr("gt1", "col1 > 1", "drop"), rr("lt3", "col1 < 3"))
    val masked = MaskedRowDqEvaluator.run(df, rules)
    val metas = masked
      .withColumn("meta", MaskedRowDqEvaluator.metaColumn(rules))
      .orderBy("row_id")
      .select(transform(col("meta"), m => element_at(m, "rule")))
      .collect().map(_.getSeq[String](0).toList)
    metas shouldBe Array(List("gt1"), Nil, List("lt3"))
    val m = masked.withColumn("meta", MaskedRowDqEvaluator.metaColumn(rules))
      .filter(col("row_id") === 0)
      .select(element_at(col("meta"), 1)).head().getMap[String, String](0)
    m("status") shouldBe "fail"
    m("action_if_failed") shouldBe "drop"
    m("id_hash") shouldBe rules.head.idHash
  }

  test("metaColumn equals the CASE WHEN oracle at 0, 1, 64, 65, 256 rules") {
    // v is NULL on every 10th row, so each rule is true, false or NULL
    val data = spark.range(0, 2000, 1, 2)
      .select(col("id"), when(col("id") % 10 === 0, lit(null)).otherwise(col("id") % 13).as("v"))
    val metaType = ArrayType(MapType(StringType, StringType, valueContainsNull = true),
      containsNull = false)
    Seq(0, 1, 64, 65, 256).foreach { n =>
      val rules = (0 until n).map(i =>
        rr(s"r_$i", s"v % ${2 + i % 5} <> ${i % 3}", Seq("ignore", "drop", "fail")(i % 3)))
      val out = MaskedRowDqEvaluator.run(data, rules)
        .select(MaskedRowDqEvaluator.metaColumn(rules).as("got"), oracleMeta(rules).as("want"))
      out.schema("got").dataType shouldBe metaType
      // zero rules: the oracle's empty array() has no map element type
      if (n > 0) out.schema("want").dataType shouldBe metaType
      val want = if (n == 0) lit("[]") else to_json(col("want"))
      val rows = out.select(to_json(col("got")), want).collect()
      rows.foreach(r => r.getString(0) shouldBe r.getString(1))
      if (n > 0) rows.exists(_.getString(0) != "[]") shouldBe true
    }
  }

  test("errorRowsMasked costs O(chunks) expressions, not O(rules)") {
    // masks are plain columns here, so the plan holds only the decoder
    def exprNodes(n: Int): Int = {
      val rules = (0 until n).map(i => rr(s"r_$i", "col1 > 0"))
      val masked = spark.range(10).select(col("id") +:
        MaskedRowDqEvaluator.maskColNames(n).map(c => col("id").as(c)): _*)
      ErrorWriter.errorRowsMasked(masked, rules, RunContext.create("p", "t"))
        .queryExecution.analyzed
        .collect { case p => p.expressions.map(_.collect { case e => e }.size).sum }.sum
    }
    exprNodes(256) should be <= exprNodes(64) + 100
  }

  test("hasFailedAction distinguishes actions; absent action is never true") {
    val rules = Seq(rr("gt1", "col1 > 1", "drop"), rr("lt3", "col1 < 3", "ignore"))
    val masked = MaskedRowDqEvaluator.run(df, rules)
    masked.filter(MaskedRowDqEvaluator.hasFailedAction(rules, "drop"))
      .select("row_id").collect().map(_.getInt(0)) shouldBe Array(0)
    masked.filter(MaskedRowDqEvaluator.hasFailedAction(rules, "fail"))
      .count() shouldBe 0
  }

  test("chunking handles more than 64 rules") {
    // 70 rules: rule i fails exactly on rows where col1 <= i % 3
    val rules = (0 until 70).map(i => rr(s"r_$i", s"col1 > ${i % 3}"))
    val masked = MaskedRowDqEvaluator.run(df, rules)
    masked.columns should contain allOf ("meta_dq_fail_mask_0", "meta_dq_fail_mask_1")
    // rule i fails on rows with col1 <= i%3; col1 ∈ {1,2,3}
    val pc = MaskedRowDqEvaluator.pipelineCounts(masked, rules)
    pc.errorRows shouldBe 2 // col1=1 and col1=2 fail some rule; col1=3 passes all
    pc.perRule("r_0") shouldBe 0  // col1 > 0 never fails
    pc.perRule("r_1") shouldBe 1  // col1 > 1 fails col1=1
    pc.perRule("r_2") shouldBe 2  // col1 > 2 fails col1∈{1,2}
    pc.perRule("r_69") shouldBe 0 // 69%3=0 → col1 > 0 never fails
    val meta65 = masked.withColumn("meta", MaskedRowDqEvaluator.metaColumn(rules))
      .filter(col("row_id") === 0) // col1=1 fails all rules with i%3 >= 1
      .select(transform(col("meta"), m => element_at(m, "rule")))
      .head().getSeq[String](0)
    meta65 should contain ("r_65") // 65%3=2 → fails on col1=1; lives in chunk 2
  }

  test("counts on empty input are zero-filled") {
    val rules = Seq(rr("gt1", "col1 > 1"))
    val masked = MaskedRowDqEvaluator.run(df.filter(col("col1") > 100), rules)
    val pc = MaskedRowDqEvaluator.pipelineCounts(masked, rules)
    pc.inputRows shouldBe 0
    pc.errorRows shouldBe 0
    pc.perRule shouldBe Map("gt1" -> 0L)
  }
}
