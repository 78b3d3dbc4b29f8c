package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}

/** The one log4j capture the log-reading suites (MainSpec,
  * ModuleLanesSpec, StreamDrainLeaseSpec) share: a root appender that
  * keeps every formatted message at `level` or above while `body`
  * runs.
  */
object LogCapture {

  /** Run `body` and return its result with the messages logged at
    * `level` or above meanwhile, from any thread. The loggers named in
    * `lower` are set to `level` for the duration, for a level (INFO)
    * the configuration would otherwise drop.
    */
  def apply[T](level: Level, lower: String*)(body: => T): (T, Seq[String]) = {
    val was = lower.map(n => n -> LogManager.getLogger(n).getLevel)
    lower.foreach(Configurator.setLevel(_, level))
    val seen = new ConcurrentLinkedQueue[String]()
    val name = s"graft-capture-${System.identityHashCode(seen)}"
    val capture = new AbstractAppender(name, null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val root = ctx.getConfiguration.getRootLogger
    root.addAppender(capture, level, null)
    ctx.updateLoggers()
    val out = try body finally {
      root.removeAppender(name)
      ctx.updateLoggers()
      capture.stop()
      was.foreach { case (n, l) => Configurator.setLevel(n, l) }
    }
    (out, seen.toArray(Array.empty[String]).toSeq)
  }
}
