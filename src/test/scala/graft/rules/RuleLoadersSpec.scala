package graft.rules

import graft.SparkSpec

class RuleLoadersSpec extends SparkSpec {

  private def write(name: String, content: String): String = {
    val p = java.nio.file.Files.createTempDirectory("graft_rules").resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }

  private val yamlSimple =
    """product_id: my_product
      |table_name: db.my_table
      |defaults:
      |  action_if_failed: drop
      |rules:
      |  - rule: col1_not_null
      |    rule_type: row_dq
      |    column_name: col1
      |    expectation: "col1 IS NOT NULL"
      |    tag: completeness
      |  - rule: sum_positive
      |    rule_type: agg_dq
      |    expectation: "sum(col1) > 0"
      |    action_if_failed: ignore
      |    priority: high
      |""".stripMargin

  test("YAML simple format: defaults merge + per-rule overrides") {
    val rules = RuleLoaders.load(write("r.yaml", yamlSimple))
    rules should have size 2
    val byName = rules.map(r => r.rule -> r).toMap
    byName("col1_not_null").productId shouldBe "my_product"
    byName("col1_not_null").tableName shouldBe "db.my_table"
    byName("col1_not_null").actionIfFailed shouldBe "drop" // from defaults
    byName("col1_not_null").priority shouldBe "medium"     // engine default
    byName("sum_positive").actionIfFailed shouldBe "ignore" // rule overrides default
    byName("sum_positive").priority shouldBe "high"
  }

  private val yamlEnv =
    """product_id: p
      |dq_env:
      |  DEV:
      |    table_name: dev.orders
      |    action_if_failed: ignore
      |  PROD:
      |    table_name: prod.orders
      |    action_if_failed: fail
      |    priority: high
      |rules:
      |  - rule: r1
      |    rule_type: row_dq
      |    expectation: "x > 0"
      |""".stripMargin

  test("dq_env selects environment config case-insensitively") {
    val dev = RuleLoaders.load(write("e.yaml", yamlEnv), env = Some("dev"))
    dev.head.tableName shouldBe "dev.orders"
    dev.head.actionIfFailed shouldBe "ignore"
    val prod = RuleLoaders.load(write("e2.yaml", yamlEnv), env = Some("PROD"))
    prod.head.tableName shouldBe "prod.orders"
    prod.head.actionIfFailed shouldBe "fail"
    prod.head.priority shouldBe "high"
  }

  test("dq_env without env option fails") {
    a[RuleFileException] should be thrownBy
      RuleLoaders.load(write("e3.yaml", yamlEnv))
  }

  test("unknown env lists available environments") {
    val ex = intercept[RuleFileException] {
      RuleLoaders.load(write("e4.yaml", yamlEnv), env = Some("QA"))
    }
    ex.getMessage should include ("DEV")
  }

  test("JSON loader produces identical rules") {
    val json =
      """{"product_id": "p", "table_name": "t",
        | "rules": [{"rule": "r1", "rule_type": "row_dq",
        |            "expectation": "x > 0", "error_drop_threshold": 7}]}""".stripMargin
    val rules = RuleLoaders.load(write("r.json", json))
    rules.head.errorDropThreshold shouldBe 7
    rules.head.expectation shouldBe "x > 0"
  }

  test("missing required fields / invalid rule_type are rejected") {
    a[RuleFileException] should be thrownBy RuleLoaders.flatten(
      Map("product_id" -> "p", "table_name" -> "t",
        "rules" -> List(Map("rule" -> "r1"))))
    a[RuleFileException] should be thrownBy RuleLoaders.flatten(
      Map("product_id" -> "p", "table_name" -> "t",
        "rules" -> List(Map("rule" -> "r1", "expectation" -> "x>0", "rule_type" -> "bogus"))))
    a[RuleFileException] should be thrownBy RuleLoaders.flatten(
      Map("table_name" -> "t", "rules" -> List.empty))
  }

  test("loadAsDataFrame yields the fixed 17-column schema") {
    val df = RuleLoaders.loadAsDataFrame(spark, write("r2.yaml", yamlSimple))
    df.schema shouldBe graft.model.Rule.schema
    df.count() shouldBe 2
  }
}

class RuleValidatorSpec extends SparkSpec {
  import graft.model.Rule

  private def r(t: String, e: String, action: String = "ignore") =
    Rule("p", "t", t, "r1", "c", e, action)

  test("valid row/agg/query rules produce no violations") {
    RuleValidator.validate(spark, Seq(
      r("row_dq", "col1 > 1 AND col2 IS NOT NULL"),
      r("row_dq", "count(*) OVER (PARTITION BY k) = 1"),
      r("agg_dq", "sum(col1) > 10"),
      r("query_dq", "(select count(*) from t1) = (select count(*) from t2)")
    )) shouldBe empty
  }

  test("row_dq with a top-level aggregate is flagged") {
    val v = RuleValidator.validate(spark, Seq(r("row_dq", "sum(col1) > 10")))
    v should have size 1
    v.head.problem should include ("aggregate")
  }

  test("row_dq that is a SELECT is flagged") {
    val v = RuleValidator.validate(spark, Seq(r("row_dq", "select * from t")))
    v.head.problem should include ("SELECT")
  }

  test("agg_dq without an aggregate is flagged") {
    val v = RuleValidator.validate(spark, Seq(r("agg_dq", "col1 > 10")))
    v.head.problem should include ("aggregate")
  }

  test("row_dq with aggregate inside scalar subquery is allowed") {
    RuleValidator.validate(spark, Seq(
      r("row_dq", "col1 > (select avg(col1) from t)"))) shouldBe empty
  }

  test("unparseable expressions and bad actions are flagged") {
    RuleValidator.validate(spark, Seq(r("row_dq", "col1 > (1"))) should not be empty
    RuleValidator.validate(spark,
      Seq(r("row_dq", "col1 > 1", action = "explode"))) should not be empty
  }

  test("composite query_dq with a missing alias key is flagged") {
    // reference: test_composite_missing_key_returns_invalid — the base
    // references {src} but only {tgt} is supplied
    val v = RuleValidator.validate(spark, Seq(
      r("query_dq", "({src}) = ({tgt})@tgt@select count(*) from t2")))
    v.map(_.problem).exists(_.contains("missing key(s): src")) shouldBe true
  }

  test("leftover placeholder inside a sub-query's SQL is flagged too") {
    // the base is clean but a sub-query still carries an unsubstituted
    // {table} — without the sub-query scan this only surfaced later as
    // a runtime parse/analysis error
    val v = RuleValidator.validate(spark, Seq(
      r("query_dq", "({a}) > 0@a@select count(*) from {table}")))
    v.map(_.problem).exists(_.contains("missing key(s): table")) shouldBe true
  }

  test("regex quantifier braces are not composite keys") {
    // `{2}` in an rlike pattern must not read as a missing alias
    RuleValidator.validate(spark, Seq(
      r("query_dq", "(select count(*) from t where x rlike 'a{2}') = 0"))) shouldBe empty
  }

  test("composite sub-query that is not SELECT...FROM is flagged") {
    // reference: test_composite_subquery_not_select_from
    val v = RuleValidator.validate(spark, Seq(
      r("query_dq", "({a}) > 0@a@count(*)")))
    v.map(_.problem).exists(_.contains("must be a SELECT ... FROM")) shouldBe true
    // a legitimate composite stays clean
    RuleValidator.validate(spark, Seq(
      r("query_dq", "({a}) > 0@a@select count(*) from t1"))) shouldBe empty
  }

  test("probe catches missing columns against the real schema") {
    import spark.implicits._
    val df = Seq((1, 2)).toDF("a", "b")
    val v = RuleValidator.probe(df, Seq(r("row_dq", "nope > 1")))
    v should have size 1
    v.head.problem should include ("probe failed")
    RuleValidator.probe(df, Seq(r("row_dq", "a > 1"))) shouldBe empty
  }

  test("batched probe yields exactly the per-rule probe's violations, in rule order") {
    import spark.implicits._
    val df = Seq((1, 2.0, "a"), (2, 3.0, "b")).toDF("id", "amount", "tag")
    def named(t: String, name: String, e: String) = r(t, e).copy(rule = name)
    val rules = Seq(
      named("row_dq", "ok_row", "id > 0"),
      named("agg_dq", "ok_agg", "sum(amount) > 1"),
      named("row_dq", "missing_col", "no_such_col > 0"),
      named("agg_dq", "bad_agg", "sum(amount) > 1 AND max(nope) > 0"),
      named("row_dq", "unparsable", "id > AND"),
      named("row_dq", "agg_in_row", "sum(amount) > 0"),
      named("agg_dq", "row_in_agg", "amount > 0"),
      named("query_dq", "query_not_probed", "(select count(*) from nowhere) > 0"),
      named("row_dq", "ok_window", "count(*) OVER (PARTITION BY tag) = 1"))
    val perRule = rules.flatMap(x => RuleValidator.probe(df, Seq(x)))
    perRule.map(_.rule.rule) shouldBe Seq("missing_col", "bad_agg", "unparsable")
    RuleValidator.probe(df, rules) shouldBe perRule
    // a clean set passes both combined analyses
    RuleValidator.probe(df, rules.filterNot(x => perRule.exists(_.rule == x))) shouldBe empty
  }
}
