package graft.config

import org.apache.spark.sql.SparkSession

/** Layered config: engine defaults ← `spark.conf` overrides ← user map,
  * with safe string→typed casting — the reference's YAML-defaults +
  * spark-conf + user-conf merge (core/__init__.py:11-107,144-193 and
  * config/spark-expectations-default-config.yaml).
  *
  * Keys use the `spark.expectations.` prefix in spark.conf; the bare key
  * is used in the defaults and user maps.
  */
object DqSettings {

  val ConfPrefix = "spark.expectations."

  val defaults: Map[String, Any] = Map(
    "notifications.on_start" -> false,
    "notifications.on_completion" -> false,
    "notifications.on_failure" -> true,
    "notifications.min_priority" -> "low",
    "enable_error_table" -> true,
    "enable_detailed_stats" -> false,
    "enable_query_dq_detailed_result" -> false,
    "error_drop_threshold_default" -> 100,
    "streaming.enable" -> true,
    "streaming.checkpoint_suffix" -> "_checkpoint")

  /** str → Int / Double / Boolean / String, never throwing
    * (reference `infer_safe_cast`, core/__init__.py:144-193).
    */
  def inferCast(s: String): Any = {
    val t = s.trim
    t.toLowerCase match {
      case "true"  => true
      case "false" => false
      case _ =>
        t.toIntOption.orElse(t.toLongOption).orElse(t.toDoubleOption).getOrElse(t)
    }
  }

  /** defaults ← spark.conf (spark.expectations.*) ← user overrides. */
  def load(spark: SparkSession, user: Map[String, Any] = Map.empty): Map[String, Any] = {
    val sparkOverrides = spark.conf.getAll
      .filter { case (k, _) => k.startsWith(ConfPrefix) }
      .map { case (k, v) => k.stripPrefix(ConfPrefix) -> inferCast(v) }
    defaults ++ sparkOverrides ++ user
  }

  def bool(cfg: Map[String, Any], key: String): Boolean = cfg.get(key) match {
    case Some(b: Boolean) => b
    case Some(s: String) => Set("true", "1", "yes").contains(s.toLowerCase)
    case Some(n: Number) => n.intValue() != 0
    case _ => false
  }

  def int(cfg: Map[String, Any], key: String, default: Int = 0): Int = cfg.get(key) match {
    case Some(n: Number) => n.intValue()
    case Some(s: String) => s.trim.toIntOption.getOrElse(default)
    case _ => default
  }

  def str(cfg: Map[String, Any], key: String, default: String = ""): String =
    cfg.get(key).map(_.toString).getOrElse(default)
}

/** Secrets backends (reference: secrets/__init__.py:24-108 — Cerberus /
  * Databricks dbutils behind pluggy). Config-driven trait registry; the
  * env/in-memory backends are the ones usable in a hermetic build.
  */
trait SecretsBackend {
  def name: String
  def get(key: String): Option[String]
}

object SecretsBackend {
  final class EnvBackend extends SecretsBackend {
    val name = "env"
    def get(key: String): Option[String] = sys.env.get(key)
  }
  final class MapBackend(values: Map[String, String]) extends SecretsBackend {
    val name = "static"
    def get(key: String): Option[String] = values.get(key)
  }
  /** Databricks-SHAPED backend (reference: secrets/__init__.py
    * get_databricks_secret — dbutils.secrets.get(scope, key)): keys are
    * "scope/key" and the scoped lookup function is injected, so the
    * workspace-native secret store can be wired in without this library
    * depending on any vendor SDK. Registered under the name "scoped".
    */
  final class ScopedBackend(lookup: (String, String) => Option[String])
      extends SecretsBackend {
    val name = "scoped"
    def get(key: String): Option[String] = key.split("/", 2) match {
      case Array(scope, k) => lookup(scope, k)
      case _ => None
    }
  }

  private var backends: Map[String, SecretsBackend] =
    Map("env" -> new EnvBackend)

  def register(b: SecretsBackend): Unit = synchronized { backends += b.name -> b }
  def registered(name: String): Boolean = backends.contains(name)
  def apply(name: String): SecretsBackend =
    backends.getOrElse(name, throw new IllegalArgumentException(s"unknown secrets backend: $name"))
}
