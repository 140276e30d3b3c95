package graft.util

import org.apache.logging.log4j.{Level, LogManager, Logger}
import org.apache.logging.log4j.core.config.Configurator

/** Hierarchical framework logger — the twin of
  * /root/reference/pyspark_stream/utils/logger.py:5-60: every component
  * logs under one framework namespace (`graft`), a component name yields
  * the child logger `graft.<name>` (so levels set on the base propagate,
  * and a child can override its own), and asking for the same logger twice
  * never duplicates configuration.
  *
  * Re-expressed on log4j2 — the logging stack Spark itself runs on — so
  * framework logs land in the SAME appenders/format as Spark's executor
  * and driver logs instead of a parallel handler chain (the reference
  * attaches its own stdout handler because Python logging is separate
  * from Spark's; on the JVM that separation would be a bug, not parity).
  */
object Log {

  /** The framework namespace (logger.py:5 DEFAULT_LOGGER_NAME twin). */
  val DefaultLoggerName = "graft"

  /** The base framework logger (logger.py get_logger() with no name). */
  def logger: Logger = LogManager.getLogger(DefaultLoggerName)

  /** Child logger `graft.<name>` (logger.py:24-27). Dotted names nest
    * further (`graft.pipeline.sink`), matching the reference's
    * grandchild-logger behavior.
    */
  def logger(name: String): Logger =
    LogManager.getLogger(s"$DefaultLoggerName.$name")

  /** Child logger with its own level (logger.py get_logger(name, level)):
    * the level applies to THIS logger only; others in the namespace keep
    * inheriting from the base.
    */
  def logger(name: String, level: Level): Logger = {
    val full = s"$DefaultLoggerName.$name"
    Configurator.setLevel(full, level)
    LogManager.getLogger(full)
  }

  /** Set the base framework level (logger.py:57-58). */
  def setLevel(level: Level): Unit =
    Configurator.setLevel(DefaultLoggerName, level)

  /** Stage laps at DEBUG on `log` (`[prefix] tag: Ns` since the last
    * lap); with DEBUG off at creation nothing is timed or formatted. */
  final class Laps(log: Logger, prefix: String) {
    val enabled: Boolean = log.isDebugEnabled
    private var t0 = if (enabled) System.nanoTime() else 0L
    def apply(tag: => String): Unit = if (enabled) {
      log.debug(f"[$prefix] $tag: ${(System.nanoTime() - t0) / 1e9}%.1fs")
      t0 = System.nanoTime()
    }
  }
}
