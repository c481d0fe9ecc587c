package graft.notify

import graft.model.{DqStats, Rule, RuleFailureSummary}
import java.util.Locale

/** Notification fan-out: a trait-based plugin registry replacing the
  * reference's pluggy hook broadcast (notifications/__init__.py:26-50;
  * plugins under notifications/plugins/). Message construction is pure;
  * transports are pluggable so tests can capture messages and real
  * deployments can wire SMTP/webhook senders.
  */
final case class Notification(
    title: String,
    body: String,
    priority: String = "medium",
    kind: String = "info")

trait NotificationPlugin {
  def name: String
  def send(n: Notification): Unit
}

/** Captures messages in memory — the default (and test) transport. */
final class InMemoryNotifier extends NotificationPlugin {
  val name = "in_memory"
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Notification]
  def send(n: Notification): Unit = synchronized { buf += n }
  def sent: Seq[Notification] = synchronized { buf.toSeq }
  def clear(): Unit = synchronized { buf.clear() }
}

/** Per-channel priority gate: forwards only notifications at or above
  * `minPriority` to the wrapped plugin (reference:
  * se_notifications_min_priority_slack is slack-scoped — one noisy
  * channel is quieted without silencing the rest of the fan-out).
  */
final class PriorityFilteredPlugin(inner: NotificationPlugin, minPriority: String)
    extends NotificationPlugin {
  private val rank = Map("low" -> 0, "medium" -> 1, "high" -> 2)
  val name: String = inner.name
  def send(n: Notification): Unit =
    if (rank.getOrElse(n.priority, 1) >= rank.getOrElse(minPriority, 0)) inner.send(n)
}

/** Renders webhook JSON payloads in the shapes the reference posts
  * (slack.py: `{"text": ...}`; teams.py: message card). Transport is a
  * function so the zero-egress build never opens a socket.
  */
final class WebhookNotifier(
    val name: String,
    format: Notification => String,
    transport: String => Unit) extends NotificationPlugin {
  def send(n: Notification): Unit = transport(format(n))
}

object WebhookFormats {
  private def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
  /** Slack-style payload (reference: notifications/plugins/slack.py). */
  def slack(n: Notification): String =
    s"""{"text": "${esc(n.title)}\\n${esc(n.body)}"}"""
  /** Teams message-card payload (reference: notifications/plugins/teams.py). */
  def teams(n: Notification): String =
    s"""{"@type": "MessageCard", "title": "${esc(n.title)}", "text": "${esc(n.body)}"}"""
  /** Zoom chat payload (reference: notifications/plugins/zoom.py:40-47):
    * fixed title/color, message with single newlines doubled.
    */
  def zoom(n: Notification): String = {
    val text = s"${n.title}\n${n.body}".replace("\n", "\n\n")
    s"""{"title": "SE Notification", "themeColor": "008000", "text": "${esc(text)}"}"""
  }
  /** PagerDuty Events-API-v2 payload (reference:
    * notifications/plugins/pagerduty.py:137-156): routing key, a
    * product+table dedup key so repeated failures consolidate into one
    * incident, and a fixed source/severity.
    */
  def pagerduty(n: Notification, routingKey: String,
                productId: String, tableName: String): String = {
    val dedup = s"spark_expectations_${productId}_${tableName}_failure"
    s"""{"routing_key": "${esc(routingKey)}", "dedup_key": "${esc(dedup)}", """ +
      s""""event_action": "trigger", "payload": {"summary": "${esc(n.title)}\\n${esc(n.body)}", """ +
      s""""source": "Spark Expectations", "severity": "error"}}"""
  }
}

/** PagerDuty plugin: pages ONLY on failure scenarios — job failure and
  * threshold breach — never on start/completion/ignore-rule info
  * (reference gates on failure message patterns and explicitly excludes
  * the ignore-rules alert, pagerduty.py:80-112; the structured `kind`
  * field makes that gate exact here).
  */
final class PagerDutyNotifier(
    productId: String,
    tableName: String,
    routingKey: String,
    transport: String => Unit) extends NotificationPlugin {
  val name = "pagerduty"
  private val pageableKinds = Set("failure", "threshold")
  def send(n: Notification): Unit =
    if (pageableKinds.contains(n.kind))
      transport(WebhookFormats.pagerduty(n, routingKey, productId, tableName))
}

/** The reference's custom notification body
  * (spark_expectations_notify.py:80-106): the user template declares
  * which stats it wants as `'key': {}` placeholders; the rendered body
  * is `CUSTOM EMAIL\n` + a JSON object of those keys from the run's
  * stats dict (reference stats-table key names). Keys absent from the
  * dict are skipped with a warning, like the reference; a template
  * with NO placeholders raises, like the reference. The JSON renders
  * with `json.dumps`-style separators (`"k": v`, `, ` between entries
  * — the form the reference's tests pin), at every nesting level.
  */
object CustomBody {
  private val Placeholder = """'(\w+)': \{\}""".r
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def render(template: String, s: DqStats): String = {
    val keys = Placeholder.findAllMatchIn(template).map(_.group(1)).toSeq
    require(keys.nonEmpty, "No key words for statistics were provided.")
    val dict = statsDict(s)
    keys.filterNot(dict.contains).foreach(k =>
      log.warn(s"Key '$k' not found in statistics; skipping"))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    def json(v: Any): String = v match {
      case m: java.util.Map[_, _] =>
        import scala.jdk.CollectionConverters._
        m.entrySet().asScala
          .map(e => s"${om.writeValueAsString(e.getKey.toString)}: ${json(e.getValue)}")
          .mkString("{", ", ", "}")
      case other => om.writeValueAsString(other)
    }
    "CUSTOM EMAIL\n" + keys.flatMap(k => dict.get(k).map(v =>
      s"${om.writeValueAsString(k)}: ${json(v)}")).mkString("{", ", ", "}")
  }

  /** The stats row under the reference's snake_case stats-table names
    * (the same mapping as StatsBuilder.toReferenceDataFrame; dates in
    * ISO form, like the reference's serialize_date default).
    */
  private def statsDict(s: DqStats): Map[String, Any] = {
    def r2(v: Double) = math.round(v * 100.0) / 100.0
    Map(
      "product_id" -> s.productId,
      "table_name" -> s.tableName,
      "input_count" -> s.inputCount,
      "error_count" -> s.errorCount,
      "output_count" -> s.outputCount,
      "output_percentage" -> r2(s.outputPercentage),
      "success_percentage" -> r2(s.successPercentage),
      "error_percentage" -> r2(s.errorPercentage),
      "dq_status" -> {
        val m = new java.util.LinkedHashMap[String, String]
        s.dqStatus.toSeq.sortBy(_._1).foreach { case (k, v) => m.put(k, v) }
        m
      },
      "meta_dq_run_id" -> s.runId,
      "meta_dq_run_date" -> s.runDate.toLocalDateTime.toLocalDate.toString,
      "meta_dq_run_datetime" -> s.runDate.toLocalDateTime.toString,
      "se_job_metadata" -> s.jobMetadata.orNull)
  }
}

/** Builds the reference's notification messages (start / completion /
  * failure / threshold / ignore-rule; push/spark_expectations_notify
  * .py:42-388) and fans them out to registered plugins, honoring the
  * low<medium<high priority filter.
  */
final class Notifier(
    plugins: Seq[NotificationPlugin],
    minPriority: String = "low",
    enableOnStart: Boolean = true,
    enableOnCompletion: Boolean = true,
    enableOnFailure: Boolean = true,
    /** the reference's `se_notifications_email_custom_body` template —
      * when set (with its enable flag, handled by UserConfig), the
      * completion notification body is [[CustomBody.render]] instead of
      * the standard summary (spark_expectations_notify.py:208-212).
      */
    customBody: Option[String] = None) {

  private val rank = Map("low" -> 0, "medium" -> 1, "high" -> 2)

  private def fanOut(n: Notification): Unit =
    if (rank.getOrElse(n.priority, 1) >= rank.getOrElse(minPriority, 0))
      plugins.foreach { p =>
        // a channel failure surfaces as that channel's typed exception
        // (reference exceptions.py:25-51), cause preserved
        try p.send(n)
        catch {
          case scala.util.control.NonFatal(e) =>
            throw graft.model.DqNotificationException.forChannel(p.name, e)
        }
      }

  def onStart(productId: String, table: String): Unit = if (enableOnStart)
    fanOut(Notification(
      s"Spark expectations job started",
      s"product_id: $productId\ntable: $table", kind = "start"))

  def onCompletion(stats: DqStats): Unit = if (enableOnCompletion)
    fanOut(Notification(
      s"Spark expectations job completed",
      customBody.map(CustomBody.render(_, stats)).getOrElse(
        s"product_id: ${stats.productId}\ntable: ${stats.tableName}\n" +
          s"input_count: ${stats.inputCount}\nerror_count: ${stats.errorCount}\n" +
          s"output_count: ${stats.outputCount}\n" +
          "success_percentage: %.2f".formatLocal(Locale.ROOT, stats.successPercentage)),
      kind = "completion"))

  def onFailure(productId: String, table: String, error: String): Unit = if (enableOnFailure)
    fanOut(Notification(
      s"Spark expectations job failed",
      s"product_id: $productId\ntable: $table\nerror: $error",
      priority = "high", kind = "failure"))

  /** Error-drop threshold alert (notify variant of writer.py:1160-1209). */
  def onThresholdBreach(productId: String, table: String,
                        breached: Seq[RuleFailureSummary], inputCount: Long): Unit =
    if (breached.nonEmpty)
      fanOut(Notification(
        s"Error drop threshold breached",
        breached.map(s =>
          "rule: %s failed %d rows (%.2f%% > %d%%)".formatLocal(Locale.ROOT,
            s.rule, s.failedRowCount, s.failedPct(inputCount), s.errorDropThreshold))
          .mkString("\n"),
        priority = "high", kind = "threshold"))

  /** The observability report alert — the rendered three-section HTML
    * body (header / per-rule / detailed, reference alert.py:32-48 +
    * prep_report_data) fanned out like any other notification; the
    * email channel delivers it as the report mail, webhook channels
    * get the same body.
    */
  def onObsReport(subject: String, html: String): Unit =
    fanOut(Notification(subject, html, priority = "high", kind = "obs_report"))

  /** Failed rules with action 'ignore' — the silent-failure alert
    * (expectations.py:798-840), filtered by rule priority.
    */
  def onIgnoreRuleFailures(rules: Seq[Rule], failedRuleNames: Set[String]): Unit = {
    val ignored = rules.filter(r =>
      failedRuleNames.contains(r.rule) && r.actionIfFailed == "ignore" &&
        rank.getOrElse(r.priority, 1) >= rank.getOrElse(minPriority, 0))
    if (ignored.nonEmpty)
      fanOut(Notification(
        "Rules failed with action_if_failed = ignore",
        ignored.map(r => s"${r.rule} (${r.ruleType}): ${r.description}").mkString("\n"),
        priority = "high", kind = "ignore_rules"))
  }
}
