package graft.queries

import graft.eval.MaskedRowDqEvaluator
import graft.model.{DetailedStat, Rule, RunContext}
import graft.rules.{RuleLoaders, RuleValidator}
import graft.sink.{ErrorWriter, Report}
import org.apache.spark.sql.functions._

/** Oracle-checked queries over the round-2 engine surface: rule-file
  * loading (SURVEY §2A #34), static validation (#33), and the
  * observability report (#26/#36). Non-deterministic columns (run_id,
  * timestamps) are projected away so results hash-compare.
  */
object EngineExtQueries {

  private val rulesYaml =
    """product_id: graft
      |dq_env:
      |  dev:
      |    table_name: dev.lineitem
      |    action_if_failed: ignore
      |  prod:
      |    table_name: prod.lineitem
      |    action_if_failed: drop
      |    priority: high
      |rules:
      |  - rule: qty_cap
      |    rule_type: row_dq
      |    column_name: l_quantity
      |    expectation: "l_quantity <= 45"
      |  - rule: flags
      |    rule_type: agg_dq
      |    expectation: "count(distinct l_returnflag) = 3"
      |    action_if_failed: ignore
      |""".stripMargin

  /** 96 generated threshold rules — two mask chunks; scales the single
    * projection + single aggregate shape to wide rule sets.
    */
  private val wideRules: Seq[Rule] = (0 until 96).map { i =>
    val t = i / 2 + 1
    Rule("graft", "lineitem", "row_dq", f"w_$i%03d", "l_quantity", s"l_quantity <= $t")
  }

  def all: Seq[QueryDef] = Seq(

    // -- 96 rules in one projection + one aggregate (mask chunking) --------
    QueryDef("dq_wide_rules", (s, dir) => {
      import s.implicits._
      val li = Tables.loadSpread(s, dir, "lineitem")
      val masked = MaskedRowDqEvaluator.run(li, wideRules)
      ErrorWriter.summariesFromCounts(
        MaskedRowDqEvaluator.pipelineCounts(masked, wideRules), wideRules)
        .map(x => (x.rule, x.failedRowCount))
        .toDF("rule", "failed_count").orderBy("rule")
    }, Some((0 until 96).map { i =>
      val t = i / 2 + 1
      s"SELECT 'w_${"%03d".format(i)}' AS rule, count(*) FILTER (WHERE NOT(l_quantity <= $t)) AS failed_count FROM lineitem"
    }.mkString("", " UNION ALL ", " ORDER BY rule"))),

    // -- operator #34: YAML rule loading with dq_env selection -------------
    QueryDef("dq_rules_load", (s, dir) => {
      import s.implicits._
      val p = java.nio.file.Files.createTempFile("graft_rules", ".yaml")
      java.nio.file.Files.writeString(p, rulesYaml)
      val rules = RuleLoaders.load(p.toString, env = Some("PROD"))
      rules.map(r => (r.rule, r.tableName, r.ruleType, r.actionIfFailed, r.priority))
        .toDF("rule", "table_name", "rule_type", "action_if_failed", "priority")
        .orderBy("rule")
    }, Some("""
      SELECT * FROM (VALUES
        ('flags', 'prod.lineitem', 'agg_dq', 'ignore', 'high'),
        ('qty_cap', 'prod.lineitem', 'row_dq', 'drop', 'high')
      ) AS t(rule, table_name, rule_type, action_if_failed, priority)
      ORDER BY rule""")),

    // -- operator #33: static rule validation on Spark's parser ------------
    QueryDef("dq_validate", (s, dir) => {
      import s.implicits._
      val rules = Seq(
        Rule("p", "t", "row_dq", "ok_row", "c", "c1 > 1 AND c2 IS NOT NULL"),
        Rule("p", "t", "row_dq", "bad_agg_in_row", "c", "sum(c1) > 10"),
        Rule("p", "t", "row_dq", "ok_window", "c", "count(*) OVER (PARTITION BY k) = 1"),
        Rule("p", "t", "agg_dq", "bad_no_agg", "c", "c1 > 10"),
        Rule("p", "t", "agg_dq", "ok_agg", "c", "avg(c1) between 1 and 2"),
        Rule("p", "t", "query_dq", "ok_query", "c", "(select count(*) from x) > 0"),
        Rule("p", "t", "row_dq", "bad_action", "c", "c1 > 1", "explode"))
      val violations = RuleValidator.validate(s, rules)
        .map(v => v.rule.rule).distinct.sorted
      val verdict = rules.map(r => (r.rule, if (violations.contains(r.rule)) "invalid" else "valid"))
      verdict.toDF("rule", "verdict").orderBy("rule")
    }, Some("""
      SELECT * FROM (VALUES
        ('bad_action', 'invalid'), ('bad_agg_in_row', 'invalid'),
        ('bad_no_agg', 'invalid'), ('ok_agg', 'valid'),
        ('ok_query', 'valid'), ('ok_row', 'valid'), ('ok_window', 'valid')
      ) AS t(rule, verdict) ORDER BY rule""")),

    // -- operators #26/#36: report build + alert summaries over real data --
    QueryDef("dq_report", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      // one aggregate job for all three counts (input + per-rule failed),
      // the same fused-count shape as Evaluators.pipelineCounts
      val c = li.agg(
        count(lit(1)).as("n"),
        count_if(not(expr("l_quantity <= 45"))).as("f_qty"),
        count_if(not(expr("l_discount BETWEEN 0 AND 0.05"))).as("f_disc")).head()
      val (inputCount, failedQty, failedDisc) =
        (c.getLong(0), c.getLong(1), c.getLong(2))
      val ctx = RunContext.create("graft", "lineitem")
      def det(rule: String, colName: String, failed: Long) = DetailedStat(
        ctx.runId, "graft", "lineitem", "row_dq", rule, colName, "", "", "",
        if (failed == 0) "pass" else "fail", "", "", "", "", failed)
      val report = Report.build(s, ctx,
        details = Seq(det("qty_cap", "l_quantity", failedQty),
          det("disc_range", "l_discount", failedDisc)),
        queryRows = Seq(("rowcount_match", "", inputCount.toString, inputCount.toString)),
        inputCount = inputCount)
      report.select(col("rule"), col("status"), col("total_records"),
        col("failed_records"), col("valid_records"),
        col("success_percentage").cast("double").as("success_pct"))
        .orderBy("rule")
    }, Some("""
      WITH c AS (SELECT count(*) AS n,
          count(*) FILTER (WHERE NOT l_quantity <= 45) AS f_qty,
          count(*) FILTER (WHERE NOT (l_discount BETWEEN 0 AND 0.05)) AS f_disc
        FROM lineitem)
      SELECT rule, status, total_records, failed_records, valid_records,
        CAST(CAST(least(100.0, greatest(0.0, 100.0 * (total_records - failed_records) / total_records)) AS DECIMAL(20,2)) AS DOUBLE) AS success_pct
      FROM (
        SELECT 'disc_range' AS rule, CASE WHEN f_disc = 0 THEN 'pass' ELSE 'fail' END AS status,
               n AS total_records, f_disc AS failed_records, n - f_disc AS valid_records FROM c
        UNION ALL
        SELECT 'qty_cap', CASE WHEN f_qty = 0 THEN 'pass' ELSE 'fail' END, n, f_qty, n - f_qty FROM c
        UNION ALL
        SELECT 'rowcount_match', 'pass', n, 0, n FROM c)
      ORDER BY rule""")),

    // -- #36 alert rule summary over the same report -----------------------
    QueryDef("dq_report_summary", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      val c = li.agg(count(lit(1)).as("n"),
        count_if(not(expr("l_quantity <= 45"))).as("f_qty")).head()
      val (inputCount, failedQty) = (c.getLong(0), c.getLong(1))
      val ctx = RunContext.create("graft", "lineitem")
      val report = Report.build(s, ctx,
        details = Seq(DetailedStat(ctx.runId, "graft", "lineitem", "row_dq",
          "qty_cap", "l_quantity", "", "", "",
          if (failedQty == 0) "pass" else "fail", "", "", "", "", failedQty)),
        queryRows = Seq.empty, inputCount = inputCount)
      Report.ruleSummary(s, report)
        .select("product_id", "rule", "no_of_rules_executed", "overall_status", "status_summary")
        .orderBy("rule")
    }, Some("""
      SELECT 'graft' AS product_id, 'qty_cap' AS rule, CAST(1 AS BIGINT) AS no_of_rules_executed,
        CASE WHEN count(*) FILTER (WHERE NOT l_quantity <= 45) > 0 THEN 'FAIL' ELSE 'PASS' END AS overall_status,
        CASE WHEN count(*) FILTER (WHERE NOT l_quantity <= 45) > 0
             THEN 'Pass:0 / Fail:1' ELSE 'Pass:1 / Fail:0' END AS status_summary
      FROM lineitem""")),

    // -- SURVEY §7.5: one-pass profile, hash-exact metric subset -----------
    // mean (decimal division) and the sketch metrics (approx_distinct,
    // percentile_approx, stddev) are spec-bounded instead of oracle-
    // hashed: the sketches differ across engines by design, and decimal
    // division rounding differs between Spark and DuckDB. The five
    // metrics here are exact-arithmetic in both engines.
    QueryDef("profile_stats", (s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      graft.ops.Profile.profile(li,
          Seq("l_quantity", "l_extendedprice", "l_discount"), withSketches = false)
        .filter(col("metric") =!= "mean")
        .orderBy("column_name", "metric")
    }, Some {
      val metricSql = Map(
        "count" -> ((c: String) => s"CAST(count($c) AS DOUBLE)"),
        "null_count" -> ((c: String) => s"CAST(count(*) - count($c) AS DOUBLE)"),
        "min" -> ((c: String) => s"CAST(min($c) AS DOUBLE)"),
        "max" -> ((c: String) => s"CAST(max($c) AS DOUBLE)"),
        "sum" -> ((c: String) => s"CAST(sum(CAST($c AS DECIMAL(38,2))) AS DOUBLE)"))
      val selects = for {
        c <- Seq("l_quantity", "l_extendedprice", "l_discount")
        (m, f) <- metricSql
      } yield s"SELECT '$c' AS column_name, '$m' AS metric, ${f(c)} AS value FROM lineitem"
      selects.mkString("", " UNION ALL ", " ORDER BY column_name, metric")
    }),

    // -- profile drift, baseline vs current, oracle-exact ----------------
    // the profile-store endgame: two one-pass profiles (a quarter of the
    // orders standing in for "last month's snapshot") diffed by relative
    // change. Exact metrics only (mean excluded like profile_stats: the
    // engines round decimal quotients differently); min/max/null_count
    // agree across the halves so only count/sum drift — which pins the
    // tolerance filter from BOTH sides
    QueryDef("profile_drift", (s, dir) => {
      val li = Tables.loadSpread(s, dir, "lineitem")
      val cols = Seq("l_quantity", "l_extendedprice")
      val baseline = graft.ops.Profile.profile(
        li.filter(col("l_orderkey") % 4 === 0), cols, withSketches = false)
      val current = graft.ops.Profile.profile(li, cols, withSketches = false)
      graft.ops.Profile.drift(baseline, current, tolerance = 0.05)
        .filter(col("metric") =!= "mean")
        .orderBy("column_name", "metric")
    }, Some {
      val metricSql = Map(
        "count" -> ((c: String) => s"CAST(count($c) AS DOUBLE)"),
        "null_count" -> ((c: String) => s"CAST(count(*) - count($c) AS DOUBLE)"),
        "min" -> ((c: String) => s"CAST(min($c) AS DOUBLE)"),
        "max" -> ((c: String) => s"CAST(max($c) AS DOUBLE)"),
        "sum" -> ((c: String) => s"CAST(sum(CAST($c AS DECIMAL(38,2))) AS DOUBLE)"))
      def side(where: String) = (for {
        c <- Seq("l_quantity", "l_extendedprice")
        (m, f) <- metricSql
      } yield s"SELECT '$c' AS column_name, '$m' AS metric, ${f(c)} AS value FROM lineitem$where")
        .mkString(" UNION ALL ")
      s"""
      WITH base AS (${side(" WHERE l_orderkey % 4 = 0")}),
           cur AS (${side("")}),
           j AS (SELECT b.column_name, b.metric,
                   b.value AS baseline_value, c.value AS current_value,
                   CASE WHEN b.value = 0 AND c.value = 0 THEN CAST(0 AS DOUBLE)
                        WHEN b.value = 0 THEN CAST('infinity' AS DOUBLE)
                        ELSE abs(c.value - b.value) / abs(b.value) END AS rel_change
                 FROM base b JOIN cur c USING (column_name, metric))
      SELECT * FROM j WHERE rel_change > 0.05
      ORDER BY column_name, metric"""
    }),

    // -- equi-width histogram on the quantized integer grid (exact
    // bucket arithmetic — no double-division boundary flips;
    // Profile.histogram) --
    QueryDef("profile_hist", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      graft.ops.Profile.histogram(li, "l_extendedprice", bins = 20)
        .orderBy("bucket")
    }, Some("""
      WITH q AS (SELECT CAST(floor(l_extendedprice * 1e6) AS BIGINT) AS q
                 FROM lineitem WHERE l_extendedprice IS NOT NULL),
      b AS (SELECT min(q) AS qlo, max(q) AS qhi FROM q),
      h AS (SELECT ((q.q - b.qlo) * 20) // (b.qhi - b.qlo + 1) AS bucket,
              b.qlo AS qlo, b.qhi AS qhi
            FROM q, b)
      SELECT bucket,
        CAST(qlo + ((qhi - qlo + 1) * bucket) // 20 AS DOUBLE) / 1e6 AS lo,
        CAST(qlo + ((qhi - qlo + 1) * (bucket + 1)) // 20 AS DOUBLE) / 1e6 AS hi,
        count(*) AS n
      FROM h GROUP BY bucket, qlo, qhi ORDER BY bucket""")),

    // -- Pearson correlation from decimal-exact sufficient statistics,
    // folded through the identical double parse tree in both engines
    // (Profile.corrStats) --
    QueryDef("profile_corr", (s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
      graft.ops.Profile.corrStats(li, "l_quantity", "l_extendedprice")
    }, Some("""
      WITH s AS (SELECT count(*) AS n,
          CAST(sum(CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE) AS sx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE) AS sy,
          CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_quantity AS DECIMAL(19,2))) AS DOUBLE) AS sxx,
          CAST(sum(CAST(l_extendedprice AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE) AS syy,
          CAST(sum(CAST(l_quantity AS DECIMAL(19,2)) * CAST(l_extendedprice AS DECIMAL(19,2))) AS DOUBLE) AS sxy
        FROM lineitem
        WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL)
      SELECT n,
        (n * sxy - sx * sy) /
          (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) AS pearson_r
      FROM s"""))
  )
}
