package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base: one local session for the whole test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  def fixture(name: String): String =
    getClass.getClassLoader.getResource(name).getPath

  /** The messages `logger` logs while `body` runs (at the levels the
    * test logging configuration enables), and `body`'s result. */
  def logged[A](logger: String)(body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val appender = new AbstractAppender(s"capture-${System.nanoTime()}", null, null, true,
        Array.empty) {
      override def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val log = org.apache.logging.log4j.LogManager.getLogger(logger).asInstanceOf[Logger]
    log.addAppender(appender)
    try (body, scala.jdk.CollectionConverters.ListHasAsScala(lines).asScala.toSeq)
    finally { log.removeAppender(appender); appender.stop() }
  }
}
