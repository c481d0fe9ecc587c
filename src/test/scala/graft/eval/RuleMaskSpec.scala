package graft.eval

import graft.SparkSpec
import graft.model.Rule
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.debug.codegenStringSeq
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** `RuleMask` (the per-chunk mask) and `MaskCounts` (every pipeline
  * count in one aggregate): generated methods stay under the JIT's
  * huge-method limit, masks equal the plain `CASE WHEN` fold in every
  * evaluation mode, and the three count readers decode one array.
  */
class RuleMaskSpec extends SparkSpec with BeforeAndAfterAll {

  private val root = java.nio.file.Files.createTempDirectory("graft_rule_mask")

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(root.toFile)
    finally super.afterAll()

  /** 4000 rows with nullable numeric and string columns, read back from
    * parquet so projections run in whole-stage codegen over a scan (a
    * local Seq would be folded into a LocalRelation and interpreted).
    */
  private lazy val data: DataFrame = {
    val path = s"$root/data"
    spark.range(0, 4000, 1, 4).select(
      col("id"),
      when(col("id") % 11 === 0, lit(null)).otherwise(col("id") % 50).cast("int").as("q"),
      ((col("id") * 37) % 1000 / 10.0).as("p"),
      when(col("id") % 13 === 0, lit(null))
        .otherwise(element_at(array(lit("A"), lit("N"), lit("R"), lit("X")),
          (col("id") % 4 + 1).cast("int"))).as("flag"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(concat(lit("w"), (col("id") % 9).cast("string"), lit(" tail"))).as("note"),
      (col("id") % 3 === 0).as("ok"))
      .write.mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }

  private def rr(i: Int, e: String) =
    Rule("p", "t", "row_dq", s"r_$i", "q", e, if (i % 3 == 0) "drop" else "ignore")

  /** Seeded mix of comparisons, IN lists, null checks, LIKE, boolean
    * columns and cross-column arithmetic (repeated subexpressions) —
    * every kind yields true, false and NULL across the rows.
    */
  private def seededRules(n: Int, seed: Long): Seq[Rule] = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val k = rnd.nextInt(50)
      rr(i, rnd.nextInt(7) match {
        case 0 => s"q > $k"
        case 1 => s"flag IN ('A', 'N'${if (k % 2 == 0) ", 'R'" else ""})"
        case 2 => if (k % 2 == 0) "note IS NOT NULL" else "q IS NULL"
        case 3 => s"note LIKE 'w${k % 9}%'"
        case 4 => s"(q * 2 + p) > ${k * 3}"
        case 5 => if (k % 3 == 0) "CAST(NULL AS BOOLEAN)" else "ok"
        case _ => s"p BETWEEN ${k % 20} AND ${k % 20 + 40} OR q % 5 = ${k % 5}"
      })
    }
  }

  /** The mask fold `RuleMask` replaced: one `CASE WHEN` per rule. */
  private def caseWhenFold(rules: Seq[Rule]): Seq[Column] =
    rules.grouped(64).zipWithIndex.map { case (chunk, ci) =>
      chunk.zipWithIndex.map { case (r, bit) =>
        when(expr(r.expectation), lit(0L)).otherwise(lit(1L << bit))
      }.reduce(_ bitwiseOR _).as(s"fold_$ci")
    }.toSeq

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val before = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("every generated method of the 256-rule mask stays under the huge-method limit") {
    val rules = seededRules(256, 1L)
    val masked = MaskedRowDqEvaluator.run(data, rules)
    val stages = codegenStringSeq(masked.queryExecution.executedPlan)
    stages should not be empty
    val maxMethod = stages.map(_._3.maxMethodCodeSize).max
    info(s"largest generated method: $maxMethod bytes over ${stages.size} stage(s)")
    stages.map(_._2).mkString should include ("ruleMaskGroup")
    withClue(s"largest generated method: $maxMethod bytes: ") {
      maxMethod should be < CodeGenerator.DEFAULT_JVM_HUGE_METHOD_LIMIT
    }
  }

  test("RuleMask equals the CASE WHEN fold with and without codegen") {
    val modes = Seq(
      "whole-stage" -> Seq("spark.sql.codegen.wholeStage" -> "true"),
      "expression codegen" -> Seq("spark.sql.codegen.wholeStage" -> "false"),
      "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))
    for ((mode, conf) <- modes; n <- Seq(1, 63, 64, 65, 256)) withConf(conf: _*) {
      val rules = seededRules(n, n.toLong)
      val input = data.filter(col("id") >= 0)
      val masks = MaskedRowDqEvaluator.maskColNames(n).map(col)
      val rows = MaskedRowDqEvaluator.run(input, rules)
        .select(masks ++ caseWhenFold(rules): _*).collect()
      val chunks = masks.size
      withClue(s"$mode, $n rules: ") {
        rows.length shouldBe 4000
        rows.foreach { r =>
          (0 until chunks).map(r.getLong) shouldBe (0 until chunks).map(c => r.getLong(chunks + c))
        }
        // some row passes, some fails each kind of rule: the masks are not trivial
        rows.map(_.getLong(0)).distinct.length should be > 1
      }
    }
  }

  test("a group reading more inputs than a method can take is generated inline") {
    // 8 rules x 20 distinct nullable long columns: 160 inputs, over the
    // JVM's 255 parameter slots once each value and null flag is passed
    val path = s"$root/wide"
    spark.range(0, 200, 1, 2).select(col("id") +: (0 until 160).map(c =>
      when(col("id") % (c + 2) === 0, lit(null)).otherwise(col("id") * c).as(s"c$c")): _*)
      .write.mode("overwrite").parquet(path)
    val wide = spark.read.parquet(path)
    val rules = (0 until 8).map(g =>
      rr(g, (0 until 20).map(c => s"c${g * 20 + c}").mkString(" + ") + s" > ${g * 500}"))
    // 162 output fields: lift the whole-stage field cap so the group is
    // generated inside a whole-stage stage
    withConf("spark.sql.codegen.maxFields" -> "1000") {
      val masked = MaskedRowDqEvaluator.run(wide, rules)
      val code = codegenStringSeq(masked.queryExecution.executedPlan).map(_._2).mkString
      code should include ("|= 1L << 7;")
      code should not include "ruleMaskGroup"
      val rows = masked.select(col(s"${MaskedRowDqEvaluator.MaskPrefix}0") +:
        caseWhenFold(rules): _*).collect()
      rows.foreach(r => r.getLong(0) shouldBe r.getLong(1))
      rows.map(_.getLong(0)).distinct.length should be > 1
    }
  }

  test("window and IN-subquery rules evaluate inside the mask") {
    data.createOrReplaceTempView("rule_mask_data")
    spark.range(3).select(col("id").cast("int").as("q_ok"))
      .createOrReplaceTempView("rule_mask_allowed")
    // ids below 100 share their window partition with a neighbour
    val pk = "CASE WHEN id < 100 THEN id DIV 2 ELSE id END"
    val rules = Seq(
      rr(0, s"count(*) OVER (PARTITION BY $pk) = 1"),
      rr(1, "q % 4 IN (SELECT q_ok FROM rule_mask_allowed)"),
      rr(2, "p > 20"))
    val got = MaskedRowDqEvaluator.run(data, rules)
      .select(col("id"), col(s"${MaskedRowDqEvaluator.MaskPrefix}0"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = spark.sql(
      s"""SELECT id,
         |  CASE WHEN count(*) OVER (PARTITION BY $pk) = 1 THEN 0 ELSE 1 END
         |  + CASE WHEN q % 4 IN (SELECT q_ok FROM rule_mask_allowed) THEN 0 ELSE 2 END
         |  + CASE WHEN p > 20 THEN 0 ELSE 4 END AS m
         |FROM rule_mask_data""".stripMargin)
      .collect().map(r => r.getLong(0) -> r.getInt(1).toLong).toMap
    got shouldBe want
    got.values.toSet.size should be > 4
  }

  test("the counts plan holds one aggregate function at any rule count") {
    for (n <- Seq(5, 65, 256)) {
      val rules = seededRules(n, 7L)
      val plan = MaskedRowDqEvaluator.run(data, rules)
        .agg(MaskedRowDqEvaluator.pipelineAgg(rules)).queryExecution.optimizedPlan
      val aggFns = plan.flatMap(_.expressions.flatMap(_.collect {
        case a: AggregateExpression => a }))
      withClue(s"$n rules: ") { aggFns.size shouldBe 1 }
    }
  }

  test("fused aggregate, OnWrite observation and streaming listener decode the same counts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.streaming.{StreamingConfig, StreamingDqMetricsListener, StreamingWriter}
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val rows = (0 until 300).map(i => (i, i % 17))
    val rules = (0 until 70).map(i =>
      rr(i, if (i % 5 == 0) s"value <> ${i % 17}" else s"id % ${i % 7 + 2} <> 0"))
    // driver-side truth
    def fails(r: Rule, id: Int, v: Int): Boolean = {
      val i = r.rule.stripPrefix("r_").toInt
      if (i % 5 == 0) v == i % 17 else id % (i % 7 + 2) == 0
    }
    val failed = rows.map { case (id, v) => rules.filter(fails(_, id, v)) }
    val truth = MaskedRowDqEvaluator.PipelineCounts(rows.size.toLong,
      failed.count(_.nonEmpty).toLong,
      failed.count(_.exists(_.actionIfFailed == "drop")).toLong,
      rules.map(r => r.rule -> rows.count { case (id, v) => fails(r, id, v) }.toLong).toMap)

    val batch = rows.toDF("id", "value").repartition(3)
    val fused = MaskedRowDqEvaluator.pipelineCounts(
      MaskedRowDqEvaluator.run(batch, rules), rules)

    val obs = org.apache.spark.sql.Observation("rule_mask_counts")
    MaskedRowDqEvaluator.run(batch, rules)
      .observe(obs, MaskedRowDqEvaluator.pipelineAgg(rules))
      .write.format("noop").mode("overwrite").save()
    val observed = MaskedRowDqEvaluator.countsFromMetrics(rules, obs.get)

    val mem = MemoryStream[(Int, Int)]
    val res = new graft.orchestrator.SparkExpectations("p", "t", rules)
      .run(mem.toDF().toDF("id", "value"))
    val listener = new StreamingDqMetricsListener(rules)
    spark.streams.addListener(listener)
    val dir = s"$root/stream"
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    val streamed = try {
      mem.addData(rows: _*)
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.perBatch.isEmpty && System.nanoTime() < deadline) Thread.sleep(100)
      listener.total
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }

    fused shouldBe truth
    observed shouldBe truth
    streamed shouldBe truth
  }
}
