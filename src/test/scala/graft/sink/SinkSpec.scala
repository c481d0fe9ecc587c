package graft.sink

import graft.SparkSpec
import graft.eval.MaskedRowDqEvaluator
import graft.model.{Rule, RuleFailureSummary, RunContext}
import java.util.Locale
import org.apache.spark.sql.functions._

class SinkSpec extends SparkSpec {
  import spark.implicits._

  private val df = Seq((0, 1), (1, 2), (2, 3)).toDF("row_id", "col1")
  private val rules = Seq(
    Rule("p", "t", "row_dq", "gt1", "col1", "col1 > 1", "ignore",
      enableErrorDropAlert = true, errorDropThreshold = 10),
    Rule("p", "t", "row_dq", "gt9", "col1", "col1 > 9", "ignore"))

  private def summaries(rs: Seq[Rule]) = ErrorWriter.summariesFromCounts(
    MaskedRowDqEvaluator.pipelineCounts(MaskedRowDqEvaluator.run(df, rs), rs), rs)

  test("errorRows keeps failing rows with run metadata columns") {
    val ctx = RunContext.create("p", "t")
    val err = ErrorWriter.errorRowsMasked(MaskedRowDqEvaluator.run(df, rules), rules, ctx)
    err.count() shouldBe 3 // every row fails gt9
    err.columns should contain allOf (ErrorWriter.RunIdCol, ErrorWriter.RunDateCol)
    err.select(ErrorWriter.RunIdCol).head().getString(0) shouldBe ctx.runId
  }

  test("errorRowsMasked attaches only failed maps and drops the mask columns") {
    val rs = Seq(rules.head, rules.head.copy(rule = "lt3", expectation = "col1 < 3"))
    val err = ErrorWriter.errorRowsMasked(MaskedRowDqEvaluator.run(df, rs), rs,
      RunContext.create("p", "t"))
    err.columns.toSeq shouldBe Seq("row_id", "col1", MaskedRowDqEvaluator.MetaCol,
      ErrorWriter.RunIdCol, ErrorWriter.RunDateCol)
    err.orderBy("row_id")
      .select(col("row_id"), transform(col(MaskedRowDqEvaluator.MetaCol), m => element_at(m, "rule")))
      .collect().map(r => r.getInt(0) -> r.getSeq[String](1).toList) shouldBe
      Array(0 -> List("gt1"), 2 -> List("lt3")) // row 1 (col1=2) passes both
  }

  test("summarize zero-fills rules without failures") {
    val gt0 = rules.head.copy(rule = "gt0", expectation = "col1 > 0")
    summaries(rules :+ gt0).map(s => s.rule -> s.failedRowCount) shouldBe
      Seq("gt1" -> 1L, "gt9" -> 3L, "gt0" -> 0L)
  }

  test("thresholds computes pct and breach flags") {
    val th = ErrorWriter.thresholds(summaries(rules), inputCount = 3)
    val byRule = th.map(m => m("rule") -> m).toMap
    byRule("gt1")("error_drop_percentage") shouldBe "33.33"
    byRule("gt1")("threshold_breached") shouldBe "true"  // 33% > 10, alert enabled
    byRule("gt9")("threshold_breached") shouldBe "false" // alert not enabled
  }

  test("thresholds writes error_drop_percentage with a '.' under any default locale") {
    val failing = RuleFailureSummary("r", "row_dq", "ignore", "", "", "c",
      failedRowCount = 1, errorDropThreshold = 10, enableErrorDropAlert = true)
    val saved = Locale.getDefault(Locale.Category.FORMAT)
    Locale.setDefault(Locale.Category.FORMAT, Locale.GERMANY)
    try ErrorWriter.thresholds(Seq(failing), inputCount = 3)
      .head("error_drop_percentage") shouldBe "33.33"
    finally Locale.setDefault(Locale.Category.FORMAT, saved)
  }

  test("stats pct rounds to 2 decimals") {
    StatsBuilder.pct(1, 3) shouldBe 33.33
    StatsBuilder.pct(2, 3) shouldBe 66.67
    StatsBuilder.pct(0, 0) shouldBe 0.0
  }

  test("kafka payload is one JSON value column per stats row") {
    val statsDf = Seq(("p", 3L, 1L)).toDF("product_id", "input_count", "error_count")
    val payload = StatsBuilder.toKafkaPayload(statsDf)
    payload.columns.toSeq shouldBe Seq("value")
    val json = payload.head().getString(0)
    json should include (""""product_id":"p"""")
    json should include (""""input_count":3""")
  }

  test("kafka payload nests JSON job metadata as an object, not an escaped string") {
    // reference: kafka_writer.py:47-57 se_job_metadata struct conversion
    val statsDf = Seq(("p", """{"team":"core","batch_id":3}"""))
      .toDF("product_id", "se_job_metadata")
    val json = StatsBuilder.toKafkaPayload(statsDf).head().getString(0)
    json should include (""""se_job_metadata":{"batch_id":3,"team":"core"}""")
    json should not include "\\\"team\\\""
    // non-JSON metadata passes through as a plain string
    val plain = Seq(("p", "ad-hoc run")).toDF("product_id", "se_job_metadata")
    StatsBuilder.toKafkaPayload(plain).head().getString(0) should
      include (""""se_job_metadata":"ad-hoc run"""")
  }

  test("TableWriter.writePath round-trips with partitioning") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tw").toString + "/out"
    TableWriter.writePath(df.withColumn("part", $"col1" % 2), dir,
      WriterConfig(mode = "overwrite", partitionBy = Seq("part")))
    val back = spark.read.parquet(dir)
    back.count() shouldBe 3
    back.columns should contain("part")
  }

  test("Backoff.retry doubles waits, caps them, and stops on success") {
    var sleeps = Seq.empty[Long]
    var calls = 0
    val out = Backoff.retry(maxRetries = 5, initialWaitMs = 500,
      maxWaitMs = 1500, sleep = sleeps :+= _) { () =>
      calls += 1
      if (calls < 4) None else Some("ok")
    }
    out shouldBe Some("ok")
    calls shouldBe 4
    sleeps shouldBe Seq(500L, 1000L, 1500L) // x2 growth, capped at max
  }

  test("stampProductIdWithRetry waits for a late table, then stamps once") {
    var sleeps = Seq.empty[Long]
    val table = "graft_stamp_test"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    // first attempt fails (table missing yet — the streaming-sink race);
    // the injected sleeper "creates" the table, emulating the first
    // micro-batch committing while we back off
    val ok = TableWriter.stampProductIdWithRetry(spark, table, "prod9",
      maxRetries = 3, initialWaitMs = 500, sleep = { ms =>
        sleeps :+= ms
        if (spark.catalog.tableExists(table) == false)
          df.write.saveAsTable(table)
      })
    ok shouldBe true
    sleeps shouldBe Seq(500L) // exactly one backoff before success
    val props = spark.sql(s"SHOW TBLPROPERTIES $table").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    props.get("product_id") shouldBe Some("prod9")
    // idempotent: already-correct property is left alone, still true
    TableWriter.stampProductIdWithRetry(spark, table, "prod9",
      sleep = _ => fail("should not back off when the table exists")) shouldBe true
    spark.sql(s"DROP TABLE $table")
  }

  test("stampProductIdWithRetry gives up quietly when the table never appears") {
    var sleeps = Seq.empty[Long]
    val ok = TableWriter.stampProductIdWithRetry(spark, "graft_never_exists",
      "p", maxRetries = 3, initialWaitMs = 500, sleep = sleeps :+= _)
    ok shouldBe false
    sleeps shouldBe Seq(500L, 1000L) // maxRetries-1 backoffs, no throw
  }

  test("writeStatsPath lets the stats schema evolve across appends") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stats").toString + "/stats"
    val v1 = Seq(("p", 3L)).toDF("product_id", "input_count")
    TableWriter.writeStatsPath(v1, dir, WriterConfig(mode = "overwrite"))
    // a later library version adds a column — the append must succeed
    val v2 = Seq(("p", 4L, "host1")).toDF("product_id", "input_count", "hostname")
    TableWriter.writeStatsPath(v2, dir, WriterConfig(mode = "append"))
    val back = spark.read.option("mergeSchema", "true").parquet(dir)
    back.count() shouldBe 2
    back.columns.sorted.toSeq shouldBe Seq("hostname", "input_count", "product_id")
  }

  test("option-table formats write via option(table)+save, not saveAsTable") {
    RecordingSink.last = None
    TableWriter.write(df, "proj.dataset.tbl", WriterConfig(
      format = classOf[RecordingSink].getName,
      mode = "append",
      options = Map(TableWriter.OptionTableSinkMarker -> "true", "x" -> "y")))
    val (mode, params, rows) = RecordingSink.last.getOrElse(fail("sink not invoked"))
    mode.toLowerCase should include ("append")
    params("table") shouldBe "proj.dataset.tbl" // the BigQuery-branch shape
    params("x") shouldBe "y"
    params.contains(TableWriter.OptionTableSinkMarker) shouldBe false
    rows shouldBe 3
  }

  test("WrappedDataFrameWriter builds a WriterConfig with the reference's chain") {
    val cfg = WrappedDataFrameWriter().mode("overwrite").format("parquet")
      .partitionBy("date", "region").option("compression", "gzip")
      .options("path" -> "/tmp/out", "inferSchema" -> "true")
      .bucketBy(4, "country", "city").sortBy("city")
      .build()
    cfg.mode shouldBe "overwrite"
    cfg.format shouldBe "parquet"
    cfg.partitionBy shouldBe Seq("date", "region")
    cfg.options shouldBe Map("compression" -> "gzip", "path" -> "/tmp/out", "inferSchema" -> "true")
    cfg.bucketBy shouldBe Some((4, Seq("country", "city")))
    cfg.sortBy shouldBe Seq("city")
  }

  test("WrappedDataFrameWriter rejects bucketBy with delta at build()") {
    // reference test_delta_bucketby_exception: fail fast in the builder
    val ex = intercept[IllegalArgumentException] {
      WrappedDataFrameWriter().mode("append").format("delta")
        .bucketBy(10, "a", "b").build()
    }
    ex.getMessage should include ("Bucketing is not supported for delta tables")
  }

  test("scoped secrets backend resolves scope/key via the injected lookup") {
    import graft.config.SecretsBackend
    val b = new SecretsBackend.ScopedBackend((scope, key) =>
      if (scope == "dq" && key == "smtp_password") Some("s3cret") else None)
    b.get("dq/smtp_password") shouldBe Some("s3cret")
    b.get("other/smtp_password") shouldBe None
    b.get("no-slash") shouldBe None
    SecretsBackend.register(b)
    SecretsBackend("scoped").get("dq/smtp_password") shouldBe Some("s3cret")
  }

  test("detailedStats full-outer joins source and target sides") {
    import graft.model.DetailedStat
    val ctx = RunContext.create("p", "t")
    def ds(rule: String, status: String) = DetailedStat(
      ctx.runId, "p", "t", "agg_dq", rule, "c", "sum(c)>0", "tag", "d",
      status, "5", ">0", "", "", 0L)
    val out = StatsBuilder.detailedStats(spark,
      sourceDetails = Seq(ds("r1", "pass"), ds("r2", "fail")),
      targetDetails = Seq(ds("r1", "pass")))
    out.count() shouldBe 2
    val r1 = out.filter($"rule" === "r1").head()
    r1.getAs[String]("status") shouldBe "pass"
    r1.getAs[String]("targetStatus") shouldBe "pass"
    val r2 = out.filter($"rule" === "r2").head()
    r2.getAs[String]("targetStatus") shouldBe null
  }

  test("toReferenceDataFrame emits the reference stats-table schema") {
    import graft.model.{RuleType, RunContext, Rule}
    val ctx = RunContext.create("p1", "db.tbl")
    val rules: Map[RuleType, Seq[Rule]] = Map(
      RuleType.RowDq -> Seq(
        Rule("p1", "db.tbl", "row_dq", "r1", "c", "c > 0", "drop"),
        Rule("p1", "db.tbl", "row_dq", "r2", "c", "c < 9", "ignore")),
      RuleType.AggDq -> Seq(
        Rule("p1", "db.tbl", "agg_dq", "a1", "c", "sum(c) > 0", "ignore")))
    val stats = StatsBuilder.build(ctx, 100, 10, 90, rules,
      Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty,
      Map("run_status" -> "Passed"), Map("row_dq" -> 1.5),
      jobMetadata = Some("""{"team":"dq"}"""))
    val df = StatsBuilder.toReferenceDataFrame(spark, stats, dqEnv = "dev")
    df.columns.toSeq shouldBe Seq(
      "product_id", "table_name", "input_count", "error_count", "output_count",
      "output_percentage", "success_percentage", "error_percentage",
      "source_agg_dq_results", "final_agg_dq_results",
      "source_query_dq_results", "final_query_dq_results",
      "row_dq_res_summary", "row_dq_error_threshold",
      "dq_status", "dq_run_time", "dq_rules",
      "meta_dq_run_id", "meta_dq_run_date", "meta_dq_run_datetime",
      "dq_env", "se_job_metadata")
    val r = df.head()
    r.getAs[String]("product_id") shouldBe "p1"
    r.getAs[Long]("input_count") shouldBe 100L
    r.getAs[Float]("output_percentage") shouldBe 90.0f
    r.getAs[Map[String, Map[String, Int]]]("dq_rules")("rules") shouldBe
      Map("num_row_dq_rules" -> 2, "num_dq_rules" -> 3)
    r.getAs[String]("dq_env") shouldBe "dev"
    r.getAs[String]("se_job_metadata") shouldBe """{"team":"dq"}"""
    r.getAs[String]("meta_dq_run_id") shouldBe stats.runId
  }

  test("job metadata stamps the stats row and every detailed row") {
    // reference: se_job_metadata on the stats write (writer.py:951) and
    // dq_job_metadata_info on detailed rows (writer.py:619)
    import graft.model.{DetailedStat, RuleType, RunContext}
    val ctx = RunContext.create("p", "t")
    val meta = """{"team":"dq","pipeline":"nightly"}"""
    val stats = StatsBuilder.build(ctx, 10, 1, 9,
      Map.empty[RuleType, Seq[graft.model.Rule]].withDefaultValue(Seq.empty),
      Seq.empty, Seq.empty, Seq.empty, Seq.empty, Seq.empty,
      Map.empty, Map.empty, jobMetadata = Some(meta))
    stats.jobMetadata shouldBe Some(meta)
    val statsRow = StatsBuilder.toDataFrame(spark, stats).head()
    statsRow.getAs[String]("jobMetadata") shouldBe meta

    val ds = DetailedStat(ctx.runId, "p", "t", "agg_dq", "r1", "c", "e",
      "tag", "d", "pass", "5", ">0", "", "", 0L)
    val det = StatsBuilder.detailedStats(spark, Seq(ds), Seq.empty, Some(meta))
    det.head().getAs[String]("jobMetadataInfo") shouldBe meta
    // absent metadata -> null column, not a missing column
    StatsBuilder.detailedStats(spark, Seq(ds), Seq.empty)
      .head().getAs[String]("jobMetadataInfo") shouldBe null
  }
}
