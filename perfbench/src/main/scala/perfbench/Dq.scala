package perfbench

import graft.eval.{AggDqEvaluator, MaskedRowDqEvaluator, QueryDqEvaluator}
import graft.model.Rule
import graft.orchestrator.{CountsMode, DqConfig, DqResult, SparkExpectations}
import graft.queries.DqQueries
import graft.rules.RuleValidator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** Seeded lineitem-shaped batch plus the orders and customer tables the
  * query rules join against. Every column is a pure function of the row
  * id and the seed, so the same seed gives the same batch at any
  * partitioning.
  */
final class LineitemGen(spark: SparkSession, seed: Long, val rows: Long, files: Int) {
  private val rnd = new scala.util.Random(seed)
  /** Share of rows repeating the previous row's (orderkey, linenumber). */
  val dupRate: Double = 0.008 + 0.004 * rnd.nextDouble()
  /** Share of rows with quantity / discount outside the rule bands. */
  val outOfRangeRate: Double = 0.08 + 0.04 * rnd.nextDouble()
  /** Share of rows with a returnflag outside ('A','N','R'). */
  val badFlagRate: Double = 0.003 + 0.002 * rnd.nextDouble()

  val orders: Long = rows / 4
  val customers: Long = 15000L

  private def u(salt: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000003L)).cast("double") / 1000003.0

  private def pick(salt: Int, values: Seq[String]) =
    element_at(array(values.map(lit): _*), (u(salt) * values.size).cast("int") + 1)

  def lineitem: DataFrame = {
    val dup = col("id") > 0 && u(1) < dupRate
    val key = when(dup, col("id") - 1).otherwise(col("id"))
    val qty = when(u(4) < outOfRangeRate, floor(u(5) * 5) + 46).otherwise(floor(u(5) * 45) + 1)
      .cast("double")
    spark.range(0, rows, 1, files).select(
      (key / 4).cast("long").as("l_orderkey"),
      floor(u(2) * 20000).cast("long").as("l_partkey"),
      floor(u(3) * 1000).cast("long").as("l_suppkey"),
      (pmod(key, lit(4L)) + 1).cast("int").as("l_linenumber"),
      qty.as("l_quantity"),
      round(qty * (lit(900.0) + u(6) * 2000), 2).as("l_extendedprice"),
      when(u(7) < outOfRangeRate, floor(u(8) * 5) + 6).otherwise(floor(u(8) * 6))
        .cast("double").divide(100).as("l_discount"),
      (floor(u(9) * 9) / 100).as("l_tax"),
      when(u(10) < badFlagRate, lit("X")).otherwise(pick(11, Seq("A", "N", "R"))).as("l_returnflag"),
      pick(12, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + floor(u(13) * 2500) * 86400).as("l_shipdate"),
      when(u(14) < 0.01, lit(null).cast("string"))
        .otherwise(pick(15, LineitemGen.ShipModes)).as("l_shipmode"),
      when(u(16) < 0.02, lit(null).cast("string"))
        .otherwise(concat_ws(" ", pick(17, LineitemGen.Words), pick(18, LineitemGen.Words),
          pick(19, LineitemGen.Words))).as("l_comment"))
  }

  def ordersDf: DataFrame =
    spark.range(0, orders, 1, files).select(
      col("id").as("o_orderkey"),
      floor(u(20) * customers).cast("long").as("o_custkey"),
      pick(21, Seq("O", "F", "P")).as("o_orderstatus"),
      round(u(22) * 400000, 2).as("o_totalprice"))

  def customerDf: DataFrame =
    spark.range(0, customers, 1, 1).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      floor(u(23) * 25).cast("int").as("c_nationkey"),
      round(u(24) * 11000 - 1000, 2).as("c_acctbal"))

  /** Writes the three tables as parquet under `dir`. */
  def write(dir: String): Unit = {
    lineitem.write.mode("overwrite").parquet(s"$dir/lineitem")
    ordersDf.write.mode("overwrite").parquet(s"$dir/orders")
    customerDf.write.mode("overwrite").parquet(s"$dir/customer")
  }
}

object LineitemGen {
  val ShipModes = Seq("AIR", "MAIL", "RAIL", "SHIP", "TRUCK", "FOB", "REG AIR")
  val Words = Seq("quick", "final", "bold", "express", "pending", "regular", "ironic",
    "silent", "careful", "furious", "even", "special", "blithe", "sly", "fluffy")

  /** Size of an sf0.05 lineitem table: half the sf0.1 batch, so a run
    * takes a few seconds at local[4] and 70 benchmark calls fit their
    * time budget.
    */
  val Sf005Rows = 300000L
}

/** Expected pipeline outcomes, computed with plain Spark SQL over the
  * generated batch (no library code involved).
  */
final case class DqExpected(
    input: Long, error: Long, output: Long, perRule: Map[String, Long],
    sourceAgg: Map[String, String], targetAgg: Map[String, String],
    query: Map[String, String])

object DqExpected {
  def compute(spark: SparkSession, view: String, rowRules: Seq[Rule],
              aggRules: Seq[Rule], queryRules: Seq[Rule]): DqExpected = {
    // one 0/1 failure flag per row rule (NULL counts as failed); "any
    // failed" is an n-ary greatest over flags, never a deep expression
    val fail = rowRules.map(r => s"CASE WHEN (${r.expectation}) THEN 0 ELSE 1 END")
    def anyOf(idx: Seq[Int], f: Int => String): String =
      if (idx.isEmpty) "0" else if (idx.size == 1) f(idx.head)
      else idx.map(f).mkString("greatest(", ", ", ")")
    val dropIdx = rowRules.indices.filter(i => rowRules(i).actionIfFailed == "drop")
    spark.sql(s"SELECT ${fail.zipWithIndex.map { case (e, i) => s"$e AS f$i" }.mkString(", ")} FROM $view")
      .createOrReplaceTempView("pb_flags")
    val row = spark.sql(
      s"""SELECT count(*), sum(${anyOf(rowRules.indices, i => s"f$i")}),
         |sum(1 - ${anyOf(dropIdx, i => s"f$i")})
         |${rowRules.indices.map(i => s", sum(f$i)").mkString} FROM pb_flags""".stripMargin).head()
    def l(i: Int) = if (row.isNullAt(i)) 0L else row.getLong(i)
    spark.sql(s"SELECT * FROM (SELECT *, ${anyOf(dropIdx, fail)} AS pb_drop FROM $view) WHERE pb_drop = 0")
      .createOrReplaceTempView("pb_kept")
    def statuses(rules: Seq[Rule], from: String): Map[String, String] =
      if (rules.isEmpty) Map.empty
      else {
        val cols = rules.zipWithIndex.map { case (r, i) =>
          s"CASE WHEN (${r.expectation}) THEN 'pass' ELSE 'fail' END AS s$i" }
        val r = spark.sql(s"SELECT ${cols.mkString(", ")} $from").head()
        rules.zipWithIndex.map { case (rule, i) => rule.rule -> r.getString(i) }.toMap
      }
    val e = DqExpected(l(0), l(1), l(2),
      rowRules.zipWithIndex.map { case (r, i) => r.rule -> l(3 + i) }.toMap,
      statuses(aggRules, s"FROM $view"), statuses(aggRules, "FROM pb_kept"),
      statuses(queryRules, ""))
    spark.catalog.dropTempView("pb_flags")
    spark.catalog.dropTempView("pb_kept")
    e
  }
}

/** Shared shape of the two DQ workloads: read the batch, build the
  * expectations from a rules DataFrame, run them, release the cache.
  */
abstract class DqWorkload(spark: SparkSession, o: Opts) extends Workload {
  protected val productId = "graft"
  protected val table = "lineitem"
  protected def rowRules: Seq[Rule]
  protected def aggRules: Seq[Rule] = Nil
  protected def queryRules: Seq[Rule] = Nil
  protected def config: DqConfig

  protected val inputDir = s"${o.scratch}/input"
  protected val outDir = s"${o.scratch}/out"
  protected def batchRows: Long = LineitemGen.Sf005Rows
  protected lazy val gen = new LineitemGen(spark, o.seed, batchRows, 2 * o.cores)
  private var expected: DqExpected = _
  private var rulesDf: DataFrame = _
  private lazy val lineitemBytes = Disk.bytes(s"$inputDir/lineitem")

  def rowsPerRun: Long = gen.rows

  def inputLabels: Map[String, Any] = Map(
    "lineitem_rows" -> gen.rows, "lineitem_bytes" -> lineitemBytes,
    "lineitem_files" -> Disk.dataFiles(s"$inputDir/lineitem", 0L),
    "orders_rows" -> gen.orders, "customer_rows" -> gen.customers,
    "row_rules" -> rowRules.size, "agg_rules" -> aggRules.size,
    "query_rules" -> queryRules.size,
    "dup_key_rate" -> gen.dupRate, "out_of_range_rate" -> gen.outOfRangeRate)

  def setup(): Unit = {
    gen.write(inputDir)
    registerViews()
    val e = DqExpected.compute(spark, "lineitem_src", rowRules, aggRules, queryRules)
    expected = if (o.injectWrongExpected) e.copy(error = e.error + 1) else e
    rulesDf = DqWorkload.rulesDf(spark, rowRules ++ aggRules ++ queryRules)
  }

  /** The batch, with the source views the query rules read. */
  private def registerViews(): DataFrame = {
    val li = spark.read.parquet(s"$inputDir/lineitem")
    li.createOrReplaceTempView("lineitem_src")
    spark.read.parquet(s"$inputDir/orders").createOrReplaceTempView("orders_src")
    spark.read.parquet(s"$inputDir/customer").createOrReplaceTempView("customer_src")
    li
  }

  def run(tr: Tracer): RunOut = {
    tr.phase(Tracer.RunPhase)
    val runStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val li = registerViews()
    val se = tr.span("rules.load") {
      SparkExpectations.fromRulesDf(spark, rulesDf, productId, table, config)
    }
    val res = tr.span("orchestrator.run") { se.run(li) }
    res.unpersist()
    val wall = (System.nanoTime() - t0) / 1e9
    tr.phase(Tracer.CheckPhase)
    val cacheLeft = Disk.cachedBytes(spark)
    val problems = check(res) ++ checkWrites(res)
    val layers = if (!tr.enabled) Map.empty[String, Double] else
      Layers.OrchestratorStages.map(s =>
        s"orchestrator.${s}_s" -> res.stats.dqRunTime.getOrElse(s, 0.0)).toMap ++ Map(
        "orchestrator.cache_left_bytes" -> cacheLeft.toDouble,
        "sink.files_written" -> writtenPaths.map(Disk.dataFiles(_, runStartMs)).sum.toDouble,
        "input.bytes" -> lineitemBytes.toDouble)
    RunOut(wall, problems, layers)
  }

  /** Directories the run writes (none for an evaluation-only run). */
  protected def writtenPaths: Seq[String] = Nil

  protected def checkWrites(res: DqResult): Seq[String] = Nil

  private def statusMap(rs: Seq[Map[String, String]]): Map[String, String] =
    rs.map(m => m.getOrElse("rule", "") -> m.getOrElse("status", "")).toMap

  private def check(res: DqResult): Seq[String] = {
    val p = mutable.ArrayBuffer.empty[String]
    def eq(what: String, got: Any, want: Any): Unit =
      if (got != want) p += s"$what: got $got, expected $want"
    val e = expected
    eq("input_count", res.stats.inputCount, e.input)
    eq("error_count", res.stats.errorCount, e.error)
    eq("output_count", res.stats.outputCount, e.output)
    eq("per_rule_failed", res.rowSummaries.map(s => s.rule -> s.failedRowCount).toMap, e.perRule)
    eq("source_agg_status", statusMap(res.sourceAggResults), e.sourceAgg)
    eq("target_agg_status", statusMap(res.targetAggResults), e.targetAgg)
    eq("source_query_status", statusMap(res.sourceQueryResults), e.query)
    eq("target_query_status", statusMap(res.targetQueryResults), e.query)
    eq("run_status", res.statuses.get("run_status"), Some("Passed"))
    p.toSeq
  }

  /** Each single layer called directly, three times, median seconds. */
  def directLayers(tr: Tracer): Map[String, Double] = {
    tr.phase("direct")
    val li = registerViews()
    val all = rowRules ++ aggRules ++ queryRules
    def med(body: => Any): Double = Main.median((0 until 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 })
    Map(
      "rules.validate_s" -> med {
        RuleValidator.validate(spark, all) ++ RuleValidator.probe(li, all)
      },
      "eval.row_mask_s" -> med {
        MaskedRowDqEvaluator.pipelineCounts(MaskedRowDqEvaluator.run(li, rowRules), rowRules)
      },
      "eval.agg_s" -> (if (aggRules.isEmpty) 0.0 else med { AggDqEvaluator.run(li, aggRules) }),
      "eval.query_s" -> (if (queryRules.isEmpty) 0.0 else med { QueryDqEvaluator.run(spark, queryRules) }))
  }
}

object DqWorkload {
  /** Rules in the fixed 17-column rules-table layout. */
  def rulesDf(spark: SparkSession, rules: Seq[Rule]): DataFrame = {
    val rows = rules.map(r => Row(r.productId, r.tableName, r.ruleType, r.rule, r.columnName,
      r.expectation, r.actionIfFailed, r.tag, r.description, r.enableForSourceDqValidation,
      r.enableForTargetDqValidation, r.isActive, r.enableErrorDropAlert, r.errorDropThreshold,
      r.queryDqDelimiter, r.enableQuerydqCustomOutput, r.priority))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), Rule.schema)
  }
}

/** The production shape: the canonical rule set (5 row rules with the
  * window PK rule and drop/ignore actions, 4 agg rules, 3 query rules),
  * counts observed on the target write, target + error + stats written.
  */
final class DqGateWrite(spark: SparkSession, o: Opts) extends DqWorkload(spark, o) {
  protected val rowRules: Seq[Rule] = DqQueries.rowRules
  override protected val aggRules: Seq[Rule] = DqQueries.aggRules
  override protected val queryRules: Seq[Rule] = DqQueries.queryRules
  private val statsTable = "perfbench_dq_stats"
  protected val config: DqConfig = DqConfig(
    countsMode = CountsMode.OnWrite,
    writeTargetTablePath = Some(s"$outDir/target"),
    writeErrorTablePath = Some(s"$outDir/error"),
    statsTable = Some(statsTable))

  override protected def writtenPaths: Seq[String] =
    Seq(s"$outDir/target", s"$outDir/error", s"${o.scratch}/warehouse/$statsTable")

  override protected def checkWrites(res: DqResult): Seq[String] = {
    val target = spark.read.parquet(s"$outDir/target").count()
    val error = spark.read.parquet(s"$outDir/error").count()
    Seq(
      if (target != res.stats.outputCount)
        Some(s"target table holds $target rows, output_count ${res.stats.outputCount}") else None,
      if (error != res.stats.errorCount)
        Some(s"error table holds $error rows, error_count ${res.stats.errorCount}") else None
    ).flatten
  }
}

/** 256 seeded row rules (4 mask chunks) over the lineitem columns, the
  * default fused-aggregate counting, no writes.
  */
final class DqWideEval(spark: SparkSession, o: Opts) extends DqWorkload(spark, o) {
  protected val rowRules: Seq[Rule] = WideRules.generate(o.seed, 256)
  protected val config: DqConfig = DqConfig()
  /** A quarter of the canonical batch: 256 rules cost many times the
    * canonical set per row, so a run stays a few seconds long.
    */
  override protected def batchRows: Long = LineitemGen.Sf005Rows / 4
}

/** Seeded row rules: comparisons, IN lists, null checks, LIKE and
  * cross-column arithmetic, with an ignore/drop mix. The mix of rule
  * forms is fixed (rule i has form i mod 14; forms 10-13 are drop rules
  * that fail rarely, so the batch keeps most of its rows); the seed
  * picks thresholds, list members and LIKE words, so every seed costs
  * about the same to evaluate.
  */
object WideRules {
  def generate(seed: Long, n: Int): Seq[Rule] = {
    val r = new scala.util.Random(seed * 31 + 7)
    def pct(lo: Double, hi: Double) = lo + (hi - lo) * r.nextDouble()
    def fmt(d: Double) = f"$d%.4f"
    def pickSome(xs: Seq[String], k: Int) = r.shuffle(xs).take(k).map(x => s"'$x'").mkString(", ")
    (0 until n).map { i =>
      val form = i % 14
      val drop = form >= 10
      val (column, expectation) = (if (drop) form + 90 else form) match {
        case 0 => "l_quantity" -> s"l_quantity <= ${r.nextInt(40) + 5}"
        case 1 => "l_extendedprice" -> s"l_extendedprice > ${fmt(pct(900, 60000))}"
        case 2 => "l_discount" -> s"l_discount BETWEEN 0 AND ${fmt(pct(0.02, 0.09))}"
        case 3 => "l_returnflag" -> s"l_returnflag IN (${pickSome(Seq("A", "N", "R"), 2)})"
        case 4 => "l_shipmode" -> s"l_shipmode IN (${pickSome(LineitemGen.ShipModes, 5)})"
        case 5 => "l_comment" -> s"l_comment LIKE '%${LineitemGen.Words(r.nextInt(LineitemGen.Words.size))}%'"
        case 6 => "l_comment" -> s"l_comment IS NOT NULL AND l_comment NOT LIKE '${LineitemGen.Words(r.nextInt(15))}%'"
        case 7 => "l_extendedprice" -> s"l_extendedprice * (1 - l_discount) > ${fmt(pct(1000, 50000))}"
        case 8 => "l_tax" -> s"l_quantity * l_tax < ${fmt(pct(0.5, 3.5))}"
        case 9 => "l_linenumber" -> s"l_linenumber IN (${r.shuffle(Seq(1, 2, 3, 4)).take(3).mkString(", ")})"
        case 100 => "l_quantity" -> s"l_quantity <= 50"
        case 101 => "l_comment" -> s"l_comment IS NOT NULL OR l_shipmode IS NOT NULL"
        case 102 => "l_extendedprice" ->
          s"l_extendedprice / l_quantity BETWEEN ${fmt(pct(890, 899))} AND ${fmt(pct(2901, 2910))}"
        case _ => "l_returnflag" -> s"l_returnflag <> 'X' OR l_quantity < ${r.nextInt(10) + 40}"
      }
      Rule("graft", "lineitem", "row_dq", f"w$i%03d", column, expectation,
        if (drop) "drop" else "ignore", "validity", s"seeded wide rule $i",
        errorDropThreshold = 50)
    }
  }
}
