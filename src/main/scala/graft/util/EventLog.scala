package graft.util

import org.slf4j.LoggerFactory

/** Engine events as one `event=<name> k=v …` line each, at INFO on one
  * named slf4j logger (`graft.pin`, `graft.kv`). Sessions run at WARN, so
  * the lines are silent until that logger is raised.
  */
final class EventLog(logger: String) {
  private val log = LoggerFactory.getLogger(logger)

  def enabled: Boolean = log.isInfoEnabled

  def apply(name: String, fields: (String, Any)*): Unit =
    if (log.isInfoEnabled)
      log.info((s"event=$name" +: fields.map { case (k, v) => s"$k=$v" }).mkString(" "))
}
