package graft.eval

import graft.model.{Rule, RuleType}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Bitmask row-rule evaluation — the engine's one row-DQ representation.
  *
  * All row rules are applied in ONE projection over the input
  * (reference: utils/actions.py:497-516,598-599), but rule outcomes are
  * kept as N bits rather than the reference's per-row
  * `array<map<string,string>>`: each group of up to 64 rules compiles to
  * ONE long column, a [[RuleMask]] whose generated code stays in small
  * JIT-compilable methods — 8 bytes of DQ state per row. Every
  * downstream consumer (error filter, drop/fail gates) is a bitwise op,
  * every count comes from one [[MaskCounts]] aggregate, and the
  * reference-shaped meta maps and action lists are decoded from the
  * bits through one constant table per chunk ([[metaColumn]],
  * [[actionsColumn]]).
  *
  * Measured at sf0.1 (600k rows, 5 rules incl. a window rule): map-based
  * cache materialization 60 s → masked 2 s.
  */
object MaskedRowDqEvaluator {
  import org.apache.spark.sql.classic.GraftExpressionBridge.{column, expression}

  val MaskPrefix = "meta_dq_fail_mask_"
  /** The reference's failed-rule maps column. */
  val MetaCol = "meta_row_dq_results"
  /** The reference's per-row action list column. */
  val ActionCol = "meta_dq_actions"

  def numChunks(n: Int): Int = (n + 63) / 64
  def maskColNames(n: Int): Seq[String] = (0 until numChunks(n)).map(i => s"$MaskPrefix$i")

  /** Input + one long mask column per 64 rules; bit set ⇔ rule FAILED
    * (NULL expectation result counts as failure, like the reference).
    */
  def run(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.forall(_.ruleType == RuleType.RowDq.name), "row_dq rules only")
    if (rules.isEmpty) return df
    val maskCols = rules.grouped(64).zipWithIndex.map { case (chunk, ci) =>
      column(RuleMask(chunk.map(r => expression(expr(r.expectation)))))
        .as(s"$MaskPrefix$ci")
    }.toSeq
    df.select(col("*") +: maskCols: _*)
  }

  /** true ⇔ at least one rule failed on the row. */
  def anyFailed(rules: Seq[Rule]): Column =
    maskColNames(rules.size).map(c => col(c) =!= 0L).reduce(_ || _)

  /** Per chunk, the bits of the rules carrying `action`. */
  private def actionBits(rules: Seq[Rule], action: String): Seq[Long] =
    rules.grouped(64).map(_.zipWithIndex.collect {
      case (r, bit) if r.actionIfFailed == action => 1L << bit
    }.foldLeft(0L)(_ | _)).toSeq

  /** true ⇔ a failed rule on the row carries `action`. */
  def hasFailedAction(rules: Seq[Rule], action: String): Column = {
    val perChunk = actionBits(rules, action).zipWithIndex.filter(_._1 != 0L)
    if (perChunk.isEmpty) lit(false)
    else perChunk.map { case (m, ci) =>
      col(s"$MaskPrefix$ci").bitwiseAND(lit(m)) =!= 0L
    }.reduce(_ || _)
  }

  /** The reference's `meta_row_dq_results` type, exactly:
    * `array<map<string,string>>` with non-null elements.
    */
  private val MetaType =
    ArrayType(MapType(StringType, StringType, valueContainsNull = true), containsNull = false)
  /** `meta_dq_actions` keeps its `array<string>` schema with nullable
    * elements.
    */
  private val ActionsType = ArrayType(StringType, containsNull = true)

  private def utf8(v: String): UTF8String = UTF8String.fromString(Option(v).getOrElse(""))

  /** The per-rule `value`s of the rules whose bit is set, in rule order.
    * Each 64-rule chunk is ONE literal array filtered by that chunk's
    * mask, so the expression has O(chunks) nodes at any rule count.
    */
  private def decode(rules: Seq[Rule], tpe: ArrayType)(value: Rule => Any): Column =
    if (rules.isEmpty) column(Literal(new GenericArrayData(Array.empty[Any]), tpe))
    else concat(rules.grouped(64).zipWithIndex.map { case (chunk, ci) =>
      val table = column(Literal(new GenericArrayData(chunk.map(value).toArray), tpe))
      filter(table, (_, i) => bit_get(col(s"$MaskPrefix$ci"), i) === 1)
    }.toSeq: _*)

  /** The reference-shaped `meta_row_dq_results` column (failed-rule
    * maps, keys in [[RuleCompiler.propEntries]] order plus
    * `status=fail`) decoded from the mask.
    */
  def metaColumn(rules: Seq[Rule]): Column =
    decode(rules, MetaType) { r =>
      val props = RuleCompiler.propEntries(r) :+ ("status" -> "fail")
      ArrayBasedMapData(props.map(p => utf8(p._1)).toArray, props.map(p => utf8(p._2)).toArray)
    }

  /** The failed rules' `action_if_failed` values, defaulted to
    * ['ignore'] when no rule failed (reference: utils/udf.py:17-42).
    */
  def actionsColumn(rules: Seq[Rule]): Column = {
    val acts = decode(rules, ActionsType)(r => utf8(r.actionIfFailed))
    when(size(acts) === 0, array(lit("ignore"))).otherwise(acts)
  }

  /** Every count the batch pipeline needs, from one scan. */
  final case class PipelineCounts(
      inputRows: Long,
      errorRows: Long,
      dropFailedRows: Long,
      perRule: Map[String, Long]) {
    def outputRows: Long = inputRows - dropFailedRows
  }

  /** Name of the [[pipelineAgg]] column and observed metric. */
  private val CountsName = "_counts"

  /** The one aggregate behind every pipeline count — shared by the
    * dedicated fused-aggregate job (`pipelineCounts`), the zero-extra-job
    * `Dataset.observe` path (CountsMode.OnWrite), which attaches it to
    * the final frame so the sink write itself yields the counts, and
    * the per-micro-batch streaming observation.
    */
  def pipelineAgg(rules: Seq[Rule]): Column =
    column(MaskCounts(maskColNames(rules.size).map(c => expression(col(c))),
      actionBits(rules, "drop"), rules.size).toAggregateExpression())
      .as(CountsName)

  /** Decode the `pipelineAgg` array from a named metrics map (the shape
    * `Observation.get` and streaming observed metrics give).
    */
  def countsFromMetrics(rules: Seq[Rule], metrics: Map[String, Any]): PipelineCounts = {
    val c: IndexedSeq[Long] = metrics.get(CountsName) match {
      case Some(s: scala.collection.Seq[_]) => s.map(_.asInstanceOf[Number].longValue).toIndexedSeq
      case _                                => IndexedSeq.empty
    }
    def l(i: Int): Long = if (i < c.size) c(i) else 0L
    PipelineCounts(l(0), l(1), l(2),
      rules.zipWithIndex.map { case (r, i) => r.rule -> l(i + 3) }.toMap)
  }

  /** input/error/dropped/per-rule counts in ONE global aggregate — the
    * reference issues separate count() jobs for input, errors, and
    * output (core/expectations.py:960,660; writer.py:1061).
    */
  def pipelineCounts(masked: DataFrame, rules: Seq[Rule]): PipelineCounts = {
    val row = masked.agg(pipelineAgg(rules)).head()
    countsFromMetrics(rules, Map(CountsName -> row.get(0)))
  }
}

/** One agg_dq/query_dq rule's outcome. `actual` is set only for an agg
  * rule evaluated with detailed stats whose expectation splits into an
  * aggregate part and a comparison ([[RuleStageEvaluator.parse]]).
  */
private[graft] final case class RuleOutcome(rule: Rule, passed: Boolean,
                                            actual: Option[ActualValue]) {
  def status: String = if (passed) "pass" else "fail"

  /** The reference-shaped result map (utils/actions.py:507-516): the
    * rule's [[RuleCompiler.propEntries]] plus `status`, NULL properties
    * as "".
    */
  def resultMap: Map[String, String] =
    (RuleCompiler.propEntries(rule) :+ ("status" -> status))
      .map { case (k, v) => k -> Option(v).getOrElse("") }.toMap
}

/** The value an agg rule's aggregate part took (`String.valueOf`, so
  * NULL reads "null") and the comparison it was held to: `> 10`,
  * `between 1 and 5`.
  */
private[graft] final case class ActualValue(value: String, expected: String)

/** The one agg_dq/query_dq evaluator: all rules of a stage in ONE
  * `select` + `head()` over the stage frame — the input for agg rules
  * (`sum(x) > 20` makes Catalyst plan one global aggregate row), a
  * one-row placeholder for query rules, so scalar-subquery SQL over the
  * orchestrator's temp views runs exactly once (reference:
  * utils/actions.py:580-594, placeholder from core/context.py:1995-1998).
  * Each rule is one column, its expectation; NULL counts as failure,
  * like the reference. With `detailed`, each agg rule whose expectation
  * splits also selects its aggregate part as a string; Catalyst plans
  * one aggregate function for both uses, so actual values cost no
  * second job (the reference runs one, utils/actions.py:122-301).
  */
private[graft] object RuleStageEvaluator {

  def run(frame: DataFrame, rules: Seq[Rule], detailed: Boolean): Seq[RuleOutcome] = {
    if (rules.isEmpty) return Seq.empty
    val splits = rules.map(r =>
      if (detailed && r.ruleType == RuleType.AggDq.name) parse(r.expectation) else None)
    val selected = frame.select(rules.map(r => expr(r.expectation)) ++
      splits.flatten.map(s => expr(s._1).cast("string")): _*)
    val notBoolean = rules.zip(selected.schema).collect {
      case (r, f) if f.dataType != BooleanType => r.rule
    }
    require(notBoolean.isEmpty, s"non-boolean expectation in rule(s) ${notBoolean.mkString(", ")}")
    val row = selected.head()
    // column of rule i's actual value, when it has one
    val actualAt = splits.scanLeft(rules.size)((c, s) => c + s.size)
    rules.indices.map { i =>
      RuleOutcome(rules(i), !row.isNullAt(i) && row.getBoolean(i),
        splits(i).map { case (_, cmp, bounds) =>
          ActualValue(String.valueOf(row.get(actualAt(i)): Any),
            s"$cmp ${bounds.mkString(" and ")}")
        })
    }
  }

  /** `<agg expr> between <lo> and <hi>` (case-insensitive). */
  private val BetweenRe = """(?is)^\s*(.+?)\s+between\s+(.+?)\s+and\s+(.+?)\s*$""".r
  /** `<agg expr> <cmp> <bound>` where cmp ∈ {>=, <=, >, <, =, ==, !=, <>}. */
  private val CmpRe = """(?s)^\s*(.+?)\s*(>=|<=|!=|<>|==|=|>|<)\s*(.+?)\s*$""".r

  /** Splits an expectation into (aggregate part, comparator, bound[s])
    * with the reference's regexes (config/user_config.py:105-115), matched
    * against the text outside parentheses and quoted literals only, so
    * `count(case when q > 45 then 1 end) = 0` splits at `=`. None when
    * neither matches or the aggregate part does not parse.
    */
  def parse(expectation: String): Option[(String, String, Seq[String])] = {
    val top = topLevelOnly(expectation)
    def groups(re: scala.util.matching.Regex) = re.findFirstMatchIn(top).map(m =>
      (1 to m.groupCount).map(i => expectation.substring(m.start(i), m.end(i))))
    groups(BetweenRe).map(g => (g(0), "between", Seq(g(1), g(2))))
      .orElse(groups(CmpRe).map(g => (g(0), g(1), Seq(g(2)))))
      .filter(p => scala.util.Try(CatalystSqlParser.parseExpression(p._1)).isSuccess)
  }

  /** `e` with every character inside parentheses or a quoted literal
    * replaced by `_` (same length, so match offsets index `e`). Inside
    * a '…' or "…" string literal a `\` escapes the next character;
    * backtick identifiers have no escapes.
    */
  private def topLevelOnly(e: String): String = {
    var depth = 0
    var quote: Option[Char] = None
    var escaped = false
    e.map { c =>
      val top = depth == 0 && quote.isEmpty
      quote match {
        case Some(_) if escaped => escaped = false
        case Some(q) =>
          if (c == q) quote = None
          else if (c == '\\' && q != '`') escaped = true
        case None =>
          if ("'\"`".contains(c)) quote = Some(c)
          else if (c == '(') depth += 1
          else if (c == ')') depth -= 1
      }
      if (top) c else '_'
    }
  }
}

/** Agg-level rule evaluation: every rule's reference-shaped result map
  * (pass and fail; the caller separates them), one job per call.
  */
object AggDqEvaluator {
  def run(df: DataFrame, rules: Seq[Rule]): Seq[Map[String, String]] = {
    require(rules.forall(_.ruleType == RuleType.AggDq.name), "agg_dq rules only")
    RuleStageEvaluator.run(df, rules, detailed = false).map(_.resultMap)
  }
}

/** Query-level rule evaluation over a one-row placeholder frame; rules
  * read data through temp views the orchestrator registers.
  */
object QueryDqEvaluator {
  def run(spark: SparkSession, rules: Seq[Rule]): Seq[Map[String, String]] = {
    require(rules.forall(_.ruleType == RuleType.QueryDq.name), "query_dq rules only")
    RuleStageEvaluator.run(spark.range(1).toDF(), rules, detailed = false).map(_.resultMap)
  }
}
