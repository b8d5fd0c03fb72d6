package graft.observability

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.config.Configurator
import org.apache.logging.log4j.core.config.builder.api.ConfigurationBuilderFactory

/** Structured-logging configuration — the reference's
  * `configure_logging()` surface (observability/logging.py:17-80) on the
  * log4j2 context Spark itself logs through: one call selects level,
  * human `console` or machine `json` output, and optional caller info.
  * `json` uses log4j's JsonTemplateLayout (newline-delimited JSON, the
  * log-aggregator shape structlog's JSONRenderer produces).
  */
object Logging {

  def configure(
      level: String = "INFO", fmt: String = "console",
      includeCaller: Boolean = false): Unit = {
    require(fmt == "console" || fmt == "json",
      s"unknown log format '$fmt' (expected console|json)")
    val lvl = Level.getLevel(level.toUpperCase(java.util.Locale.ROOT))
    require(lvl != null, s"unknown log level '$level' " +
      s"(expected ${Level.values.sorted.mkString("|")})")
    val b = ConfigurationBuilderFactory.newConfigurationBuilder()
    b.setConfigurationName("graft")
    val layout = fmt match {
      case "json" =>
        b.newLayout("JsonTemplateLayout")
          .addAttribute("locationInfoEnabled", includeCaller)
      case _ =>
        val pattern =
          if (includeCaller) "%d{ISO8601}{UTC} %-5p %c{1.} (%F:%L) - %m%n"
          else "%d{ISO8601}{UTC} %-5p %c{1.} - %m%n"
        b.newLayout("PatternLayout").addAttribute("pattern", pattern)
    }
    b.add(b.newAppender("graft-console", "Console")
      .addAttribute("target", "SYSTEM_ERR")
      .add(layout))
    b.add(b.newRootLogger(lvl).add(b.newAppenderRef("graft-console")))
    Configurator.reconfigure(b.build())
  }

  /** The active layout of the `graft-console` appender, if configured —
    * introspection hook for tests and the CLI's `--log-format` echo.
    */
  def activeLayout(): Option[org.apache.logging.log4j.core.Layout[_]] = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    Option(ctx.getConfiguration.getAppenders.get("graft-console"))
      .map(_.getLayout)
  }
}
