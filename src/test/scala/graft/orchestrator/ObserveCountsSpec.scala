package graft.orchestrator

import graft.SparkSpec
import graft.model.Rule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import java.util.concurrent.atomic.AtomicInteger

/** CountsMode.OnWrite: pipeline counts ride the final frame as
  * `Dataset.observe` metrics, so the target write (work the run does
  * anyway) yields input/error/output/per-rule counts with ZERO dedicated
  * count jobs — one step beyond the fused aggregate, which itself
  * replaced the reference's ≥3 separate count jobs
  * (core/expectations.py:960,660; writer.py:1061).
  */
class ObserveCountsSpec extends SparkSpec {
  import spark.implicits._

  private val P = "p1"
  private val T = "obs_tbl"

  private def input = Seq((1, "a", 4), (2, "b", 5), (3, "c", 6), (4, "d", 7))
    .toDF("col1", "col2", "col3")

  private def rules = Seq(
    Rule(P, T, "row_dq", "col1_gt1", "col1", "col1 > 1", "drop"),
    Rule(P, T, "row_dq", "col3_gt4", "col3", "col3 > 4", "ignore"),
    Rule(P, T, "row_dq", "col1_gt3", "col1", "col1 > 3", "ignore"))

  /** Runs `body` with a job-start counter attached; returns (result,
    * jobs). The listener bus posts asynchronously, so poll until the
    * count is stable before detaching.
    */
  private def countingJobs[T](body: => T): (T, Int) = {
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = body
      var last = -1
      var stable = 0
      val deadline = System.nanoTime() + 10e9.toLong
      while (stable < 3 && System.nanoTime() < deadline) {
        val now = jobs.get()
        if (now == last) stable += 1 else { stable = 0; last = now }
        Thread.sleep(100)
      }
      (res, jobs.get())
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("detailed stats add no job to the source and target agg stages") {
    val withAgg = rules ++ Seq(
      Rule(P, T, "agg_dq", "sum_pos", "col1", "sum(col1) > 0"),
      Rule(P, T, "agg_dq", "max_band", "col3", "max(col3) between 5 and 6"))
    def run(detailed: Boolean) = countingJobs {
      val r = new SparkExpectations(P, T, withAgg,
        DqConfig(enableDetailedStats = detailed)).run(input)
      r.unpersist()
      r
    }
    val (plain, plainJobs) = run(detailed = false)
    val (detailed, detailedJobs) = run(detailed = true)
    detailed.sourceDetailedStats.filter(_.ruleType == "agg_dq")
      .map(d => d.rule -> d.actualValue).toMap shouldBe
      Map("sum_pos" -> "10", "max_band" -> "7")
    detailed.targetDetailedStats.map(d => d.rule -> d.actualValue).toMap shouldBe
      Map("sum_pos" -> "9", "max_band" -> "7")
    detailed.sourceAggResults shouldBe plain.sourceAggResults
    detailedJobs shouldBe plainJobs
  }

  test("OnWrite counts match FusedAggregate exactly and skip the count job") {
    val root = java.nio.file.Files.createTempDirectory("graft_obs").toString
    def cfg(mode: CountsMode, sub: String) = DqConfig(
      writeErrorTablePath = Some(s"$root/$sub/error"),
      writeTargetTablePath = Some(s"$root/$sub/target"),
      countsMode = mode)

    val se1 = new SparkExpectations(P, T, rules, cfg(CountsMode.FusedAggregate, "fused"))
    val (r1, fusedJobs) = countingJobs(se1.run(input))
    r1.unpersist()
    val se2 = new SparkExpectations(P, T, rules, cfg(CountsMode.OnWrite, "obs"))
    val (r2, obsJobs) = countingJobs(se2.run(input))
    r2.unpersist()

    // identical counts, summaries, statuses
    r2.stats.inputCount shouldBe r1.stats.inputCount
    r2.stats.errorCount shouldBe r1.stats.errorCount
    r2.stats.outputCount shouldBe r1.stats.outputCount
    r1.stats.inputCount shouldBe 4
    r1.stats.errorCount shouldBe 3 // rows 1 (both gt1+gt4), 2, 3 fail something
    r1.stats.outputCount shouldBe 3 // only row 1 dropped
    r2.rowSummaries.map(s => s.rule -> s.failedRowCount).toMap shouldBe
      r1.rowSummaries.map(s => s.rule -> s.failedRowCount).toMap
    r2.statuses shouldBe r1.statuses

    // identical sink contents
    spark.read.parquet(s"$root/obs/target").select("col1")
      .collect().map(_.getInt(0)).toSet shouldBe
      spark.read.parquet(s"$root/fused/target").select("col1")
        .collect().map(_.getInt(0)).toSet
    spark.read.parquet(s"$root/obs/error").count() shouldBe
      spark.read.parquet(s"$root/fused/error").count()

    // the whole point: at least the dedicated count job disappears
    withClue(s"fused=$fusedJobs observe=$obsJobs: ") {
      obsJobs should be < fusedJobs
    }
  }

  test("OnWrite falls back to the fused gate when a fail-action row rule exists") {
    val root = java.nio.file.Files.createTempDirectory("graft_obs_fail").toString
    val failRules = rules :+
      Rule(P, T, "row_dq", "col1_gt9", "col1", "col1 > 9", "fail")
    val se = new SparkExpectations(P, T, failRules, DqConfig(
      writeTargetTablePath = Some(s"$root/target"),
      countsMode = CountsMode.OnWrite))
    val ex = intercept[DqRunAbortedException] { se.run(input) }
    // fail gate ran BEFORE the write: nothing written, counts complete
    new java.io.File(s"$root/target").exists() shouldBe false
    ex.stats.inputCount shouldBe 4
    ex.stats.errorCount shouldBe 4 // every row fails col1_gt9
    ex.stats.outputCount shouldBe 0
  }

  test("OnWrite abort at the target agg stage still reports row counts") {
    val root = java.nio.file.Files.createTempDirectory("graft_obs_agg").toString
    val aggRules = rules :+ Rule(P, T, "agg_dq", "sum_never", "col1",
      "sum(col1) > 1000", "fail",
      enableForSourceDqValidation = false, enableForTargetDqValidation = true)
    val se = new SparkExpectations(P, T, aggRules, DqConfig(
      writeTargetTablePath = Some(s"$root/target"),
      countsMode = CountsMode.OnWrite))
    val ex = intercept[DqRunAbortedException] { se.run(input) }
    // the target-agg action flowed through the observe node, so the row
    // counts are available on the abort path without a new job
    ex.stats.inputCount shouldBe 4
    ex.stats.errorCount shouldBe 3
    ex.stats.outputCount shouldBe 3
  }

  test("writeToTable targets the catalog; error table defaults to {target}_error") {
    val tables = Seq("obs_cat_tbl", "obs_cat_tbl_error")
    try {
      val se = new SparkExpectations("p1", "obs_cat_tbl", rules, DqConfig(
        writeToTable = true, writeErrorTable = true,
        countsMode = CountsMode.OnWrite))
      val res = se.run(input)
      res.stats.outputCount shouldBe 3
      spark.table("obs_cat_tbl").count() shouldBe 3
      // the reference's default naming (reader.py:295): {target}_error
      spark.table("obs_cat_tbl_error").count() shouldBe 3
      spark.table("obs_cat_tbl_error").columns should contain ("meta_row_dq_results")
      res.unpersist()
    } finally tables.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("OnWrite without a target write path falls back to the fused aggregate") {
    val se = new SparkExpectations(P, T, rules,
      DqConfig(countsMode = CountsMode.OnWrite))
    val res = se.run(input)
    res.stats.inputCount shouldBe 4
    res.stats.errorCount shouldBe 3
    res.stats.outputCount shouldBe 3
    res.unpersist()
  }
}
