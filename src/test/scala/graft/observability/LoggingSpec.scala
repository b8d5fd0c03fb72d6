package graft.observability

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.LoggerContext
import org.apache.logging.log4j.core.impl.Log4jLogEvent
import org.apache.logging.log4j.message.SimpleMessage
import org.scalatest.funsuite.AnyFunSuite

class LoggingSpec extends AnyFunSuite {

  private def ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]

  // the suite swaps the shared JVM's log4j configuration; reload the
  // default afterwards so later suites keep Spark's format
  private def withRestoredConfig(body: => Unit): Unit =
    try body finally ctx.reconfigure()

  private def render(msg: String): String = {
    val event = Log4jLogEvent.newBuilder()
      .setLoggerName("graft.test")
      .setMessage(new SimpleMessage(msg))
      .build()
    new String(Logging.activeLayout().get.toByteArray(event))
  }

  test("json format renders newline-delimited JSON events") {
    withRestoredConfig {
      Logging.configure(level = "INFO", fmt = "json")
      val line = render("hello structured world")
      assert(line.trim.startsWith("{") && line.trim.endsWith("}"), line)
      assert(line.contains("hello structured world"))
      assert(line.contains("graft.test"))
    }
  }

  test("console format renders the pattern layout at the requested level") {
    withRestoredConfig {
      Logging.configure(level = "DEBUG", fmt = "console")
      val line = render("plain line")
      assert(!line.trim.startsWith("{"))
      assert(line.contains("plain line") && line.contains("g.test"))
      assert(ctx.getConfiguration.getRootLogger.getLevel.name == "DEBUG")
    }
  }

  test("unknown format is rejected") {
    intercept[IllegalArgumentException](Logging.configure(fmt = "xml"))
  }

  test("unknown level is rejected, naming it, and leaves the configuration alone") {
    val before = ctx.getConfiguration
    val e = intercept[IllegalArgumentException](Logging.configure(level = "VERBOSE"))
    assert(e.getMessage.contains("'VERBOSE'") && e.getMessage.contains("DEBUG"), e.getMessage)
    assert(ctx.getConfiguration eq before)
  }
}
