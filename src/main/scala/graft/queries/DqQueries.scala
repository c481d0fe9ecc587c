package graft.queries

import graft.eval._
import graft.model._
import graft.orchestrator._
import graft.rules.RulesReader
import graft.sink.ErrorWriter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Queries exercising the DQ engine itself (SURVEY §2A operators #1-#23),
  * each with a DuckDB oracle re-expressing the semantics in ANSI SQL.
  *
  * The lineitem rule-set is chosen so every kind of outcome occurs in the
  * synthetic data: rules that always pass, rules that fail on a subset,
  * a window-function rule (PK uniqueness — the data has real duplicates),
  * and drop-action rules that shrink the output.
  */
object DqQueries {

  private val P = "graft"
  private val T = "lineitem"

  // --- the canonical row_dq rule set on lineitem (alphabetical by rule) ---
  val rowRules: Seq[Rule] = Seq(
    Rule(P, T, "row_dq", "disc_range", "l_discount",
      "l_discount BETWEEN 0 AND 0.05", "ignore", "validity",
      "discount within expected band", errorDropThreshold = 10,
      enableErrorDropAlert = true),
    Rule(P, T, "row_dq", "flag_domain", "l_returnflag",
      "l_returnflag IN ('A','N','R')", "ignore", "validity",
      "returnflag domain check", errorDropThreshold = 10,
      enableErrorDropAlert = true),
    Rule(P, T, "row_dq", "pk_unique", "l_orderkey",
      "count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1", "drop",
      "uniqueness", "primary key uniqueness via window",
      errorDropThreshold = 20, enableErrorDropAlert = true),
    Rule(P, T, "row_dq", "price_min", "l_extendedprice",
      "l_extendedprice > 1000", "ignore", "validity",
      "price above floor", errorDropThreshold = 5,
      enableErrorDropAlert = true),
    Rule(P, T, "row_dq", "q_max45", "l_quantity",
      "l_quantity <= 45", "drop", "accuracy", "quantity cap",
      errorDropThreshold = 15, enableErrorDropAlert = true)
  )

  val aggRules: Seq[Rule] = Seq(
    Rule(P, T, "agg_dq", "avg_qty", "l_quantity",
      "avg(l_quantity) BETWEEN 20 AND 30", "ignore", "accuracy", "avg quantity band"),
    Rule(P, T, "agg_dq", "distinct_flags", "l_returnflag",
      "count(distinct l_returnflag) = 3", "ignore", "validity", "flag cardinality"),
    Rule(P, T, "agg_dq", "max_disc", "l_discount",
      "max(l_discount) <= 0.05", "ignore", "validity", "max discount cap"),
    Rule(P, T, "agg_dq", "sum_qty_min", "l_quantity",
      "sum(l_quantity) > 1000", "ignore", "completeness", "total quantity floor")
  )

  val queryRules: Seq[Rule] = Seq(
    Rule(P, T, "query_dq", "li_orders_ri", "l_orderkey",
      "(select count(*) from lineitem_src l left join orders_src o on l.l_orderkey = o.o_orderkey where o.o_orderkey is null) = 0",
      "ignore", "integrity", "lineitem->orders referential integrity"),
    Rule(P, T, "query_dq", "orders_cust_ri", "o_custkey",
      "(select count(*) from orders_src o left join customer_src c on o.o_custkey = c.c_custkey where c.c_custkey is null) = 0",
      "ignore", "integrity", "orders->customer referential integrity"),
    Rule(P, T, "query_dq", "orders_rowcount", "",
      "(select count(*) from orders_src) BETWEEN 100 AND 10000000",
      "ignore", "completeness", "orders row count band")
  )

  /** The window PK-count column as a DuckDB CTE, shared by oracles that
    * need the window rule's outcome in a WHERE clause.
    */
  private val pkCte =
    "WITH t AS (SELECT *, count(*) OVER (PARTITION BY l_orderkey, l_linenumber) AS pkc FROM lineitem)"

  private val anyRowFail =
    "NOT(l_discount BETWEEN 0 AND 0.05) OR NOT(l_returnflag IN ('A','N','R')) " +
    "OR pkc <> 1 OR NOT(l_extendedprice > 1000) OR NOT(l_quantity <= 45)"

  /** Shared by dq_stats and dq_stats_observe — the full pipeline under
    * `config`, projected to the three counts; one body, one oracle, so
    * the two counting strategies can never silently diverge.
    */
  private def statsCountsFn(config: DqConfig)
      : (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
    (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val res = new SparkExpectations(P, T, rowRules ++ aggRules, config).run(li)
      try Seq((res.stats.inputCount, res.stats.errorCount, res.stats.outputCount))
        .toDF("input_count", "error_count", "output_count")
      finally res.unpersist()
    }

  private val statsOracle = s"""
      $pkCte
      SELECT
        (SELECT count(*) FROM lineitem) AS input_count,
        (SELECT count(*) FROM t WHERE $anyRowFail) AS error_count,
        (SELECT count(*) FROM t WHERE l_quantity <= 45 AND pkc = 1) AS output_count"""

  def all: Seq[QueryDef] = Seq(

    // -- operator #9/#10: single-projection row-rule evaluation (status
    // strings derived from the bitmask — pure codegen) ---------------------
    QueryDef("dq_row_flags", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val masked = MaskedRowDqEvaluator.run(li, rowRules)
      val statusCols = rowRules.zipWithIndex.map { case (r, i) =>
        when(shiftright(col(s"${MaskedRowDqEvaluator.MaskPrefix}${i / 64}"), i % 64)
          .bitwiseAND(lit(1L)) === 1L, lit("fail")).otherwise(lit("pass"))
          .as(s"s_${r.rule}")
      }
      masked.select(Seq(col("l_orderkey"), col("l_linenumber")) ++ statusCols: _*)
        .orderBy(("l_orderkey" +: "l_linenumber" +: rowRules.map(r => s"s_${r.rule}")).map(col): _*)
    }, Some("""
      SELECT l_orderkey, l_linenumber,
        CASE WHEN l_discount BETWEEN 0 AND 0.05 THEN 'pass' ELSE 'fail' END AS s_disc_range,
        CASE WHEN l_returnflag IN ('A','N','R') THEN 'pass' ELSE 'fail' END AS s_flag_domain,
        CASE WHEN count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1 THEN 'pass' ELSE 'fail' END AS s_pk_unique,
        CASE WHEN l_extendedprice > 1000 THEN 'pass' ELSE 'fail' END AS s_price_min,
        CASE WHEN l_quantity <= 45 THEN 'pass' ELSE 'fail' END AS s_q_max45
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, s_disc_range, s_flag_domain, s_pk_unique, s_price_min, s_q_max45""")),

    // -- operator #13/#20: error-row extraction (mask filter + meta
    // reconstruction on the failing subset only) --------------------------
    QueryDef("dq_row_errors", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val masked = MaskedRowDqEvaluator.run(li, rowRules)
      masked
        .filter(MaskedRowDqEvaluator.anyFailed(rowRules))
        .withColumn(MaskedRowDqEvaluator.MetaCol, MaskedRowDqEvaluator.metaColumn(rowRules))
        .select(col("l_orderkey"), col("l_linenumber"),
          array_join(sort_array(transform(col(MaskedRowDqEvaluator.MetaCol),
            m => element_at(m, "rule"))), ",").as("failed_rules"))
        .orderBy("l_orderkey", "l_linenumber", "failed_rules")
    }, Some(s"""
      $pkCte
      SELECT l_orderkey, l_linenumber, concat_ws(',',
        CASE WHEN NOT(l_discount BETWEEN 0 AND 0.05) THEN 'disc_range' END,
        CASE WHEN NOT(l_returnflag IN ('A','N','R')) THEN 'flag_domain' END,
        CASE WHEN pkc <> 1 THEN 'pk_unique' END,
        CASE WHEN NOT(l_extendedprice > 1000) THEN 'price_min' END,
        CASE WHEN NOT(l_quantity <= 45) THEN 'q_max45' END) AS failed_rules
      FROM t
      WHERE $anyRowFail
      ORDER BY l_orderkey, l_linenumber, failed_rules""")),

    // -- operators #17/#19: action resolution + drop filter (full run) -----
    QueryDef("dq_row_drop", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val se = new SparkExpectations(P, T, rowRules)
      val res = se.run(li)
      res.finalDf.select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity")
    }, Some(s"""
      $pkCte
      SELECT l_orderkey, l_linenumber, l_quantity FROM t
      WHERE l_quantity <= 45 AND pkc = 1
      ORDER BY l_orderkey, l_linenumber, l_quantity""")),

    // -- operator #21: error summarization (one aggregate over the masks) --
    QueryDef("dq_row_summary", (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val masked = MaskedRowDqEvaluator.run(li, rowRules)
      ErrorWriter.summariesFromCounts(
        MaskedRowDqEvaluator.pipelineCounts(masked, rowRules), rowRules)
        .map(x => (x.rule, x.failedRowCount))
        .toDF("rule", "failed_count").orderBy("rule")
    }, Some(s"""
      $pkCte
      SELECT 'disc_range' AS rule, count(*) FILTER (WHERE NOT(l_discount BETWEEN 0 AND 0.05)) AS failed_count FROM t
      UNION ALL SELECT 'flag_domain', count(*) FILTER (WHERE NOT(l_returnflag IN ('A','N','R'))) FROM t
      UNION ALL SELECT 'pk_unique', count(*) FILTER (WHERE pkc <> 1) FROM t
      UNION ALL SELECT 'price_min', count(*) FILTER (WHERE NOT(l_extendedprice > 1000)) FROM t
      UNION ALL SELECT 'q_max45', count(*) FILTER (WHERE NOT(l_quantity <= 45)) FROM t
      ORDER BY rule""")),

    // -- operator #22: threshold computation --------------------------------
    QueryDef("dq_threshold", (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      val inputCount = li.count()
      val masked = MaskedRowDqEvaluator.run(li, rowRules)
      ErrorWriter.summariesFromCounts(
        MaskedRowDqEvaluator.pipelineCounts(masked, rowRules), rowRules)
        .map(x => (x.rule, x.failedRowCount, x.failedRowCount * 100.0 / inputCount,
          x.errorDropThreshold, x.failedRowCount * 100.0 / inputCount > x.errorDropThreshold))
        .toDF("rule", "failed_count", "failed_pct", "threshold", "breached")
        .orderBy("rule")
    }, Some(s"""
      $pkCte, f AS (
        SELECT 'disc_range' AS rule, count(*) FILTER (WHERE NOT(l_discount BETWEEN 0 AND 0.05)) AS failed_count, 10 AS threshold FROM t
        UNION ALL SELECT 'flag_domain', count(*) FILTER (WHERE NOT(l_returnflag IN ('A','N','R'))), 10 FROM t
        UNION ALL SELECT 'pk_unique', count(*) FILTER (WHERE pkc <> 1), 20 FROM t
        UNION ALL SELECT 'price_min', count(*) FILTER (WHERE NOT(l_extendedprice > 1000)), 5 FROM t
        UNION ALL SELECT 'q_max45', count(*) FILTER (WHERE NOT(l_quantity <= 45)), 15 FROM t)
      SELECT rule, failed_count,
        failed_count * 100.0 / (SELECT count(*) FROM t) AS failed_pct,
        threshold,
        failed_count * 100.0 / (SELECT count(*) FROM t) > threshold AS breached
      FROM f ORDER BY rule""")),

    // -- operators #23/#32: full-pipeline stats counts ----------------------
    QueryDef("dq_stats", statsCountsFn(DqConfig()), Some(statsOracle)),

    // -- CountsMode.OnWrite: the SAME stats through zero count jobs ----------
    // (Dataset.observe metrics riding the target write; DuckDB checks the
    // observe path produces byte-identical counts to the fused aggregate)
    QueryDef("dq_stats_observe", (s, dir) => {
      val out = java.nio.file.Files.createTempDirectory("graft_obs_stats")
      try statsCountsFn(DqConfig(countsMode = CountsMode.OnWrite,
        writeTargetTablePath = Some(s"$out/target")))(s, dir)
      finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    }, Some(statsOracle)),

    // -- operator #11: agg-rule evaluation (one global aggregate) -----------
    QueryDef("dq_agg_check", (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      AggDqEvaluator.run(li, aggRules)
        .map(m => (m("rule"), m("status")))
        .toDF("rule", "status").orderBy("rule")
    }, Some("""
      SELECT 'avg_qty' AS rule, CASE WHEN (SELECT avg(l_quantity) FROM lineitem) BETWEEN 20 AND 30 THEN 'pass' ELSE 'fail' END AS status
      UNION ALL SELECT 'distinct_flags', CASE WHEN (SELECT count(distinct l_returnflag) FROM lineitem) = 3 THEN 'pass' ELSE 'fail' END
      UNION ALL SELECT 'max_disc', CASE WHEN (SELECT max(l_discount) FROM lineitem) <= 0.05 THEN 'pass' ELSE 'fail' END
      UNION ALL SELECT 'sum_qty_min', CASE WHEN (SELECT sum(l_quantity) FROM lineitem) > 1000 THEN 'pass' ELSE 'fail' END
      ORDER BY rule""")),

    // -- operator #12: query-rule evaluation (scalar subqueries, 1-row df) --
    QueryDef("dq_query_check", (s, dir) => {
      import s.implicits._
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem_src")
      Tables.load(s, dir, "orders").createOrReplaceTempView("orders_src")
      Tables.load(s, dir, "customer").createOrReplaceTempView("customer_src")
      QueryDqEvaluator.run(s, queryRules)
        .map(m => (m("rule"), m("status")))
        .toDF("rule", "status").orderBy("rule")
    }, Some("""
      SELECT 'li_orders_ri' AS rule, CASE WHEN (SELECT count(*) FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL) = 0 THEN 'pass' ELSE 'fail' END AS status
      UNION ALL SELECT 'orders_cust_ri', CASE WHEN (SELECT count(*) FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey WHERE c.c_custkey IS NULL) = 0 THEN 'pass' ELSE 'fail' END
      UNION ALL SELECT 'orders_rowcount', CASE WHEN (SELECT count(*) FROM orders) BETWEEN 100 AND 10000000 THEN 'pass' ELSE 'fail' END
      ORDER BY rule""")),

    // -- operator #15: detailed agg evaluation (actual values) --------------
    QueryDef("dq_agg_detail", (s, dir) => {
      import s.implicits._
      val li = Tables.load(s, dir, "lineitem")
      // actual values rendered as doubles for engine/oracle comparability;
      // sums/avgs computed over exact decimal to be order-insensitive
      val detailRules = Seq(
        Rule(P, T, "agg_dq", "avg_qty",
          "l_quantity", "CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE)/count(*) BETWEEN 20 AND 30"),
        Rule(P, T, "agg_dq", "distinct_flags",
          "l_returnflag", "CAST(count(distinct l_returnflag) AS DOUBLE) = 3"),
        Rule(P, T, "agg_dq", "max_disc",
          "l_discount", "max(l_discount) <= 0.05"))
      RuleStageEvaluator.run(li, detailRules, detailed = true)
        .flatMap(o => o.actual.map(a => (o.rule.rule, a.value.toDouble, o.status)))
        .toDF("rule", "actual_value", "status").orderBy("rule")
    }, Some("""
      SELECT 'avg_qty' AS rule,
             (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE)/count(*) FROM lineitem) AS actual_value,
             CASE WHEN (SELECT CAST(SUM(CAST(l_quantity AS DECIMAL(38,10))) AS DOUBLE)/count(*) FROM lineitem) BETWEEN 20 AND 30 THEN 'pass' ELSE 'fail' END AS status
      UNION ALL SELECT 'distinct_flags',
             (SELECT CAST(count(distinct l_returnflag) AS DOUBLE) FROM lineitem),
             CASE WHEN (SELECT count(distinct l_returnflag) FROM lineitem) = 3 THEN 'pass' ELSE 'fail' END
      UNION ALL SELECT 'max_disc',
             (SELECT max(l_discount) FROM lineitem),
             CASE WHEN (SELECT max(l_discount) FROM lineitem) <= 0.05 THEN 'pass' ELSE 'fail' END
      ORDER BY rule""")),

    // -- operator #6: MD5 hash projection over the rules table --------------
    QueryDef("dq_rules_hash", (s, dir) => {
      import s.implicits._
      val df = rowRules.map(r => (r.productId, r.tableName, r.rule, r.ruleType, r.expectation))
        .toDF("product_id", "table_name", "rule", "rule_type", "expectation")
      RulesReader.withHashColumns(df)
        .select("rule", "id_hash", "expectation_hash").orderBy("rule")
    }, Some("""
      SELECT rule,
             md5(concat_ws('|', trim(product_id), trim(table_name), trim(rule), trim(rule_type))) AS id_hash,
             md5(trim(expectation)) AS expectation_hash
      FROM (VALUES
        ('graft','lineitem','disc_range','row_dq','l_discount BETWEEN 0 AND 0.05'),
        ('graft','lineitem','flag_domain','row_dq','l_returnflag IN (''A'',''N'',''R'')'),
        ('graft','lineitem','pk_unique','row_dq','count(*) OVER (PARTITION BY l_orderkey, l_linenumber) = 1'),
        ('graft','lineitem','price_min','row_dq','l_extendedprice > 1000'),
        ('graft','lineitem','q_max45','row_dq','l_quantity <= 45')
      ) AS r(product_id, table_name, rule, rule_type, expectation)
      ORDER BY rule""")),

    // -- operator #7: rules null/empty audit --------------------------------
    QueryDef("dq_rules_audit", (s, dir) => {
      import s.implicits._
      val df = Seq(
        ("p1", "t1", "r1", "row_dq"),
        (null, "t1", "r2", "row_dq"),
        ("p1", "", "r3", null),
        ("p1", "t2", " ", "agg_dq"))
        .toDF("product_id", "table_name", "rule", "rule_type")
      val audit = RulesReader.nullEmptyAudit(df)
      Seq((audit("product_id"), audit("table_name"), audit("rule"), audit("rule_type")))
        .toDF("product_id", "table_name", "rule", "rule_type")
    }, Some("""
      SELECT
        count(*) FILTER (WHERE product_id IS NULL OR trim(product_id) = '') AS product_id,
        count(*) FILTER (WHERE table_name IS NULL OR trim(table_name) = '') AS table_name,
        count(*) FILTER (WHERE rule IS NULL OR trim(rule) = '') AS rule,
        count(*) FILTER (WHERE rule_type IS NULL OR trim(rule_type) = '') AS rule_type
      FROM (VALUES
        ('p1','t1','r1','row_dq'),
        (NULL,'t1','r2','row_dq'),
        ('p1','','r3',NULL),
        ('p1','t2',' ','agg_dq')
      ) AS t(product_id, table_name, rule, rule_type)""")),

    // -- operator #5: execution-settings aggregate ---------------------------
    QueryDef("dq_exec_settings", (s, dir) => {
      import s.implicits._
      val rules = rowRules ++ aggRules.map(_.copy(enableForSourceDqValidation = false)) ++ queryRules
      val df = rules.map(r => (r.ruleType, r.enableForSourceDqValidation, r.enableForTargetDqValidation))
        .toDF("rule_type", "enable_for_source_dq_validation", "enable_for_target_dq_validation")
      val es = RulesReader.executionSettingsAgg(df)
      Seq((es.rowDq, es.sourceAggDq, es.targetAggDq, es.sourceQueryDq, es.targetQueryDq))
        .toDF("row_dq", "source_agg_dq", "target_agg_dq", "source_query_dq", "target_query_dq")
    }, Some("""
      SELECT
        coalesce(bool_or(rule_type = 'row_dq'), false) AS row_dq,
        coalesce(bool_or(rule_type = 'agg_dq' AND src), false) AS source_agg_dq,
        coalesce(bool_or(rule_type = 'agg_dq' AND tgt), false) AS target_agg_dq,
        coalesce(bool_or(rule_type = 'query_dq' AND src), false) AS source_query_dq,
        coalesce(bool_or(rule_type = 'query_dq' AND tgt), false) AS target_query_dq
      FROM (VALUES
        ('row_dq', true, true), ('row_dq', true, true), ('row_dq', true, true),
        ('row_dq', true, true), ('row_dq', true, true),
        ('agg_dq', false, true), ('agg_dq', false, true), ('agg_dq', false, true), ('agg_dq', false, true),
        ('query_dq', true, true), ('query_dq', true, true), ('query_dq', true, true)
      ) AS t(rule_type, src, tgt)"""))
  )
}
