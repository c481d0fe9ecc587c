package graft.streaming

import graft.SparkSpec
import graft.model.Rule
import graft.orchestrator.SparkExpectations
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger

class StreamingSpec extends SparkSpec {

  test("trigger parsing covers all four trigger kinds") {
    StreamingWriter.parseTrigger("once") shouldBe Trigger.Once()
    StreamingWriter.parseTrigger("availableNow") shouldBe Trigger.AvailableNow()
    StreamingWriter.parseTrigger("processingTime=10 seconds") shouldBe
      Trigger.ProcessingTime("10 seconds")
    StreamingWriter.parseTrigger("5 seconds") shouldBe Trigger.ProcessingTime("5 seconds")
  }

  test("checkpoint path suffixes per table") {
    StreamingWriter.checkpointPath("/cp/", "db.tbl", "_checkpoint") shouldBe
      "/cp/db/tbl_checkpoint"
  }

  test("sessionization splits a user's events at the gap") {
    import spark.implicits._
    def ts(min: Int) = new java.sql.Timestamp(3600_000L * 24 + min * 60_000L)
    // user 1: two sessions (gap 40min > 30); user 2: one session
    val evs = Seq((1L, ts(0), 10.0), (1L, ts(10), 5.0), (1L, ts(50), 2.0), (2L, ts(5), 7.0))
      .toDF("user_id", "ts", "value")
    Sessionize.batch(evs, gapMinutes = 30)
      .orderBy("user_id", "session_start").collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getDouble(4))) shouldBe
      Array((1L, 2L, 15.0), (1L, 1L, 2.0), (2L, 1L, 7.0))
  }

  test("streaming row_dq enforces drop-only through a full micro-batch run") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[(Int, Int)]
    mem.addData((1, 5), (2, 50), (3, 7))
    val streamDf = mem.toDF().toDF("id", "value")
    streamDf.isStreaming shouldBe true

    val rules = Seq(
      Rule("p", "t", "row_dq", "cap", "value", "value <= 10", "drop"),
      // agg rules must be skipped on streaming — would throw otherwise
      Rule("p", "t", "agg_dq", "sum", "value", "sum(value) < 0", "fail"))
    val res = new SparkExpectations("p", "t", rules).run(streamDf)
    res.finalDf.isStreaming shouldBe true
    res.stats.inputCount shouldBe 0 // counts forced to 0 on streams

    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(trigger = Some("availableNow"), checkpointRoot = Some(s"$dir/cp")))
    q.awaitTermination(30000)
    val out = spark.read.parquet(s"$dir/out")
    out.select("id").collect().map(_.getInt(0)).sorted shouldBe Array(1, 3)
  }

  test("queryStatus + stopQuery mirror the reference across a query's life") {
    // reference: get_streaming_query_status / stop_streaming_query
    // (writer.py:1211-1313) against a LIVE micro-batch query
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Int]
    val dir = java.nio.file.Files.createTempDirectory("graft_qstatus").toString
    val q = StreamingWriter.startToPath(mem.toDF().toDF("v"), s"$dir/out",
      StreamingConfig(queryName = Some("status_probe"),
        checkpointRoot = Some(s"$dir/cp")))
    try {
      mem.addData(1, 2, 3)
      q.processAllAvailable()
      val st = StreamingWriter.queryStatus(q)
      st("status") shouldBe "active"
      st("is_active") shouldBe true
      st("query_id") shouldBe q.id.toString
      st("run_id") shouldBe q.runId.toString
      st("name") shouldBe "status_probe"
      st("batch_id").asInstanceOf[Long] should be >= 0L
      st should contain key "batch_duration"
      st should contain key "timestamp"
    } finally {
      // graceful stop with await — the reference's timeout branch
      StreamingWriter.stopQuery(q, timeoutSeconds = Some(30)) shouldBe true
    }
    q.isActive shouldBe false
    val st2 = StreamingWriter.queryStatus(q)
    st2("status") shouldBe "inactive"
    st2("is_active") shouldBe false
    st2.contains("error") shouldBe false // clean stop carries no error
    // stop is idempotent / never-throwing, incl. the None contract
    StreamingWriter.stopQuery(q) shouldBe true
    StreamingWriter.stopQuery(null) shouldBe true
    StreamingWriter.queryStatus(null)("status") shouldBe "not_running"
  }

  test("queryStatus surfaces the exception of a query that died") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val mem = MemoryStream[Int]
    val dir = java.nio.file.Files.createTempDirectory("graft_qerr").toString
    // assert_true throws inside the batch -> the query terminates failed
    val failing = mem.toDF().toDF("v")
      .selectExpr("assert_true(v < 10) AS ok", "v")
    val q = StreamingWriter.startToPath(failing, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    mem.addData(50)
    intercept[Exception] { q.processAllAvailable() }
    val deadline = System.nanoTime() + 30e9.toLong
    while (q.isActive && System.nanoTime() < deadline) Thread.sleep(50)
    q.isActive shouldBe false
    val st = StreamingWriter.queryStatus(q)
    st("status") shouldBe "inactive"
    st should contain key "error"
    st("error").toString.toLowerCase should include ("assert")
    // stopping the corpse is still a success, not a throw
    StreamingWriter.stopQuery(q, timeoutSeconds = Some(5)) shouldBe true
  }

  test("streaming row_dq reports per-batch counts via observed metrics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.orchestrator.SparkExpectations
    val mem = MemoryStream[(Int, Int)]
    val streamDf = mem.toDF().toDF("id", "value")
    val rules = Seq(
      Rule("p", "t", "row_dq", "cap", "value", "value <= 10", "drop"),
      Rule("p", "t", "row_dq", "pos", "id", "id > 1", "ignore"))
    val res = new SparkExpectations("p", "t", rules).run(streamDf)
    res.stats.inputCount shouldBe 0 // stats stay 0 on streams (reference)

    val listener = new StreamingDqMetricsListener(rules)
    spark.streams.addListener(listener)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_obs").toString
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    try {
      mem.addData((1, 5), (2, 50), (3, 7))
      q.processAllAvailable()
      mem.addData((4, 100), (5, 1))
      q.processAllAvailable()
      // progress events post asynchronously — wait for both batches
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.perBatch.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)

      listener.perBatch.size shouldBe 2
      // batch 1: (1,5) fails pos; (2,50) fails cap->drop; (3,7) clean
      listener.perBatch.head._2.inputRows shouldBe 3
      listener.perBatch.head._2.errorRows shouldBe 2
      listener.perBatch.head._2.dropFailedRows shouldBe 1
      // batch 2: (4,100) fails cap->drop; (5,1) clean
      val t = listener.total
      t.inputRows shouldBe 5
      t.errorRows shouldBe 3
      t.dropFailedRows shouldBe 2
      t.outputRows shouldBe 3
      t.perRule shouldBe Map("cap" -> 2L, "pos" -> 1L)
      // the sink saw exactly the kept rows
      spark.read.parquet(s"$dir/out").select("id")
        .collect().map(_.getInt(0)).sorted shouldBe Array(1, 3, 5)
      // status helpers (reference writer.py:1211-1313 getters)
      StreamingWriter.lastProgressJson(q) shouldBe defined
      noException should be thrownBy StreamingWriter.processedRowsPerSecond(q)
      noException should be thrownBy StreamingWriter.inputRowsPerSecond(q)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming threshold breaches page the notifier per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.orchestrator.SparkExpectations
    import graft.notify.{InMemoryNotifier, Notifier}
    val mem = MemoryStream[(Int, Int)]
    val streamDf = mem.toDF().toDF("id", "value")
    val rules = Seq(
      Rule("p", "t", "row_dq", "cap", "value", "value <= 10", "drop",
        enableErrorDropAlert = true, errorDropThreshold = 25))
    val res = new SparkExpectations("p", "t", rules).run(streamDf)

    val inMem = new InMemoryNotifier
    val listener = StreamingDqMetricsListener.withNotifier(
      rules, new Notifier(Seq(inMem)), "p", "t")
    spark.streams.addListener(listener)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_thr").toString
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    try {
      mem.addData((1, 50), (2, 5)) // 50% failed > 25% threshold -> page
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.perBatch.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      inMem.sent.map(_.kind) should contain ("threshold")
      inMem.sent.filter(_.kind == "threshold").head.body should include ("cap")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming agg_dq evaluates per micro-batch as observed metrics") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.orchestrator.SparkExpectations
    val mem = MemoryStream[(Int, Int)]
    val streamDf = mem.toDF().toDF("id", "value")
    val rules = Seq(
      Rule("p", "t", "row_dq", "cap", "value", "value <= 10", "drop"),
      // source-side: over each batch's pre-drop rows
      Rule("p", "t", "agg_dq", "batch_sum", "value", "sum(value) <= 60",
        enableForSourceDqValidation = true, enableForTargetDqValidation = false),
      // target-side: over the batch's post-drop survivors
      Rule("p", "t", "agg_dq", "kept_max", "value", "max(value) <= 10",
        enableForSourceDqValidation = false, enableForTargetDqValidation = true))
    val res = new SparkExpectations("p", "t", rules).run(streamDf)

    // the FULL rule list (agg rules included): the listener must filter
    // to active row_dq rules itself or per-rule counts misassign
    val listener = new StreamingDqMetricsListener(rules)
    spark.streams.addListener(listener)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_agg").toString
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    try {
      mem.addData((1, 12), (2, 50)) // batch sum 62 > 60 -> source fail; 12,50 dropped
      q.processAllAvailable()
      mem.addData((3, 1), (4, 2)) // batch sum 3 -> pass; survivors max 2 -> pass
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.aggPerBatch.size < 4 && System.nanoTime() < deadline)
        Thread.sleep(100)

      val bySide = listener.aggPerBatch.groupBy(_._2)
      val src = bySide("source_dq").sortBy(_._1).map(_._3)
      src.head shouldBe Map("batch_sum" -> "fail")
      src(1) shouldBe Map("batch_sum" -> "pass")
      val tgt = bySide("target_dq").sortBy(_._1).map(_._3)
      // batch 1 survivors: none (12 and 50 both dropped) -> max is null -> fail
      tgt.head shouldBe Map("kept_max" -> "fail")
      tgt(1) shouldBe Map("kept_max" -> "pass")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("streaming stats table gets one reference-shaped row per micro-batch") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.orchestrator.SparkExpectations
    val mem = MemoryStream[(Int, Int)]
    val rules = Seq(Rule("p", "t", "row_dq", "cap", "value", "value <= 10", "drop"))
    val res = new SparkExpectations("p", "t", rules).run(
      mem.toDF().toDF("id", "value"))
    val listener = StreamingDqMetricsListener.withStatsTable(
      rules, spark, "stream_stats", "p", "t")
    spark.streams.addListener(listener)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_stats").toString
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    try {
      mem.addData((1, 5), (2, 50))
      q.processAllAvailable()
      mem.addData((3, 7))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.perBatch.size < 2 && System.nanoTime() < deadline)
        Thread.sleep(100)
      // writes run on the dedicated stats-writer thread, off the
      // listener bus — drain before reading the table
      StreamingDqMetricsListener.awaitStatsWrites() shouldBe true
      val stats = spark.table("stream_stats")
      stats.count() shouldBe 2
      stats.select("inputCount").collect().map(_.getLong(0)).sorted shouldBe Array(1L, 2L)
      stats.select("jobMetadata").collect().map(_.getString(0)).sorted shouldBe
        Array("""{"batch_id":0}""", """{"batch_id":1}""")
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
      spark.sql("DROP TABLE IF EXISTS stream_stats")
    }
  }

  test("streaming agg_dq metrics attach even without row rules; unhostable rules are skipped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.orchestrator.SparkExpectations
    val mem = MemoryStream[(Int, Int)]
    val streamDf = mem.toDF().toDF("id", "value")
    val rules = Seq(
      // no row_dq rules at all — the agg metrics must still attach
      Rule("p", "t", "agg_dq", "batch_n", "id", "count(id) >= 2",
        enableForSourceDqValidation = true, enableForTargetDqValidation = false),
      // DISTINCT aggregates can't live in CollectMetrics — this rule
      // must be skipped (reference contract: skipped on streaming), not
      // crash the run
      Rule("p", "t", "agg_dq", "distinct_ids", "id", "count(distinct id) > 0",
        enableForSourceDqValidation = true, enableForTargetDqValidation = false))
    val res = new SparkExpectations("p", "t", rules).run(streamDf)
    res.finalDf.isStreaming shouldBe true

    val listener = new StreamingDqMetricsListener(rules)
    spark.streams.addListener(listener)
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_agg_only").toString
    val q = StreamingWriter.startToPath(res.finalDf, s"$dir/out",
      StreamingConfig(checkpointRoot = Some(s"$dir/cp")))
    try {
      mem.addData((1, 5), (2, 6))
      q.processAllAvailable()
      val deadline = System.nanoTime() + 30e9.toLong
      while (listener.aggPerBatch.isEmpty && System.nanoTime() < deadline)
        Thread.sleep(100)
      val src = listener.aggPerBatch.filter(_._2 == "source_dq").map(_._3)
      src should have size 1
      src.head shouldBe Map("batch_n" -> "pass") // distinct rule skipped
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
  }

  test("WrappedDataFrameStreamWriter builds a StreamingConfig with the reference's chain") {
    // reference test_stream_writer_* matrix: every chained setter lands
    // in the built config, and partitionBy calls ACCUMULATE
    val cfg = WrappedDataFrameStreamWriter()
      .outputMode("append")
      .format("parquet")
      .queryName("test_query")
      .trigger("processingTime=10 seconds")
      .option("checkpointLocation", "/path/to/checkpoint")
      .options("maxFilesPerTrigger" -> "100")
      .partitionBy("date")
      .partitionBy("region", "country")
      .build()
    cfg.outputMode shouldBe "append"
    cfg.format shouldBe "parquet"
    cfg.queryName shouldBe Some("test_query")
    cfg.trigger shouldBe Some("processingTime=10 seconds")
    cfg.partitionBy shouldBe Seq("date", "region", "country")
    cfg.options shouldBe Map(
      "checkpointLocation" -> "/path/to/checkpoint",
      "maxFilesPerTrigger" -> "100")
    // defaults-only build mirrors test_stream_writer_build_some_values
    val minimal = WrappedDataFrameStreamWriter().outputMode("complete").build()
    minimal.outputMode shouldBe "complete"
    minimal.queryName shouldBe None
    minimal.trigger shouldBe None
    minimal.partitionBy shouldBe empty
  }
}
