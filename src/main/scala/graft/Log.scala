package graft

import org.slf4j.LoggerFactory

/** The engine's one warning channel: the slf4j logger `graft`, bound by
  * the log4j2 that Spark ships (`log4j2.properties` sets its level).
  */
private[graft] object Log {
  private val logger = LoggerFactory.getLogger("graft")

  def warn(msg: String): Unit = logger.warn(msg)
}
