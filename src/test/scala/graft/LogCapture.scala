package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import scala.jdk.CollectionConverters._

/** Test-side log capture: runs a body with an extra appender on one
  * logger (and so on its descendants) and returns the messages that
  * reached that logger's appenders — after its level and filters, so a
  * filtered message is not captured.
  */
object LogCapture {
  def apply[T](logger: String)(body: => T): (T, Seq[String]) = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val config = ctx.getConfiguration
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(s"capture-${java.util.UUID.randomUUID()}",
        null, null, true, Property.EMPTY_ARRAY) {
      override def append(event: LogEvent): Unit = seen.add(event.getMessage.getFormattedMessage)
    }
    appender.start()
    val existing = config.getLoggerConfig(logger)
    val created = existing.getName != logger
    val lc = if (created) {
      val c = new LoggerConfig(logger, null, true)
      config.addLogger(logger, c)
      c
    } else existing
    lc.addAppender(appender, null, null)
    ctx.updateLoggers()
    try {
      val r = body
      (r, seen.asScala.toSeq)
    } finally {
      lc.removeAppender(appender.getName)
      if (created) config.removeLogger(logger)
      ctx.updateLoggers()
      appender.stop()
    }
  }
}
