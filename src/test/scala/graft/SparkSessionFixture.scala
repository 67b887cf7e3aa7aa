package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session per suite; small shuffle fan-out for speed. */
trait SparkSessionFixture extends BeforeAndAfterAll { self: Suite =>
  @transient lazy val spark: SparkSession = SparkSessionFixture.session

  override def afterAll(): Unit = super.afterAll()
}

object SparkSessionFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** `body`'s result and the WARN-or-higher messages logged under
    * `logger` while it ran (the suites run at ERROR, so the logger's
    * level is lowered to WARN for the duration). */
  def warnings[T](logger: String)(body: => T): (T, String) =
    logged(logger, org.apache.logging.log4j.Level.WARN)(body)

  /** `body`'s result and the ERROR-or-higher messages logged under
    * `logger` while it ran. */
  def errors[T](logger: String)(body: => T): (T, String) =
    logged(logger, org.apache.logging.log4j.Level.ERROR)(body)

  private def logged[T](logger: String, level: org.apache.logging.log4j.Level)
      (body: => T): (T, String) = {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val lg = LogManager.getLogger(logger).asInstanceOf[Logger]
    val out = new StringBuffer
    val app = new AbstractAppender(s"capture-$logger", null, null, true,
        Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit =
        out.append(e.getMessage.getFormattedMessage).append('\n')
    }
    app.start()
    val saved = lg.getLevel
    lg.addAppender(app)
    lg.setLevel(level)
    try (body, out.toString)
    finally { lg.removeAppender(app); lg.setLevel(saved); app.stop() }
  }
}
