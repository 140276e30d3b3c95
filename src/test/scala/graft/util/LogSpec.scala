package graft.util

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.config.Configurator
import org.scalatest.funsuite.AnyFunSuite

/** The hierarchical-logger twin (…/pyspark_stream/utils/logger.py:5-60):
  * one framework namespace, child loggers by component name, levels that
  * inherit from the base unless overridden per child, and no duplicated
  * configuration on repeated gets.
  */
class LogSpec extends AnyFunSuite {

  test("hierarchical naming under the framework namespace (logger.py:24-27)") {
    assert(Log.logger.getName === "graft")
    assert(Log.logger("pipeline").getName === "graft.pipeline")
    // grandchild loggers nest further (logger.py example usage)
    assert(Log.logger("pipeline.sink").getName === "graft.pipeline.sink")
  }

  test("repeated gets return the same logger instance (logger.py:40-53 " +
       "no-duplicate-handler guarantee)") {
    assert(Log.logger("same") eq Log.logger("same"))
    assert(Log.logger eq Log.logger)
  }

  test("per-child level override applies to that child only (logger.py:66-74)") {
    val leveled = Log.logger("leveled", Level.DEBUG)
    assert(leveled.getLevel === Level.DEBUG)
    // a sibling without an override keeps inheriting — it must NOT have
    // picked up the sibling's DEBUG
    assert(Log.logger("plain").getLevel !== Level.DEBUG)
  }

  test("base-level set propagates to children without overrides (logger.py:57-58)") {
    Log.setLevel(Level.WARN)
    try assert(Log.logger("inheriting").getLevel === Level.WARN)
    finally Log.setLevel(Level.ERROR)
  }

  test("Verify's and Bench's log levels: with the root at WARN and the graft " +
       "namespace at INFO, graft INFO lines pass and Spark's do not") {
    val root = LogManager.getRootLogger.getLevel
    val base = Log.logger.getLevel
    Configurator.setRootLevel(Level.WARN)
    Log.setLevel(Level.INFO)
    try {
      assert(LogManager.getLogger("graft.state.Materialize").isInfoEnabled)
      assert(!LogManager.getLogger("org.apache.spark").isInfoEnabled)
    } finally {
      Configurator.setRootLevel(root)
      Log.setLevel(base)
    }
  }

  test("Laps time and format only when DEBUG is enabled at creation") {
    var built = 0
    def tag = { built += 1; "stage" }
    val off = new Log.Laps(Log.logger("laps.off", Level.INFO), "off")
    off(tag)
    assert(!off.enabled && built === 0, "DEBUG off must not build the tag")
    val on = new Log.Laps(Log.logger("laps.on", Level.DEBUG), "on")
    on(tag)
    assert(on.enabled && built === 1)
  }
}
