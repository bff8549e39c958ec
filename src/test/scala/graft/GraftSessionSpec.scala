package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property

class GraftSessionSpec extends SparkSuite {

  test("register is once per session: a repeat replaces no function, " +
      "and a newSession() gets its own registration") {
    GraftSession.register(spark)
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("graft-register-capture", null, null,
        true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    capture.start()
    val root = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getRootLogger
    root.addAppender(capture)
    try GraftSession.register(spark)
    finally { root.removeAppender(capture); capture.stop() }
    val replaced = lines.toArray.map(_.toString)
      .filter(_.contains("replaced a previously registered function"))
    assert(replaced.isEmpty, replaced.take(3).mkString("\n"))

    val fresh = GraftSession.register(spark.newSession())
    assert(fresh ne spark)
    assert(fresh.sql("SELECT l2sq_dist(array(1.0f, 2.0f), " +
      "array(1.0f, 4.0f))").head.getAs[Number](0).doubleValue === 4.0)
  }
}
