package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one test session: every suite and property in the test JVM
  * shares it (getOrCreate), whichever runs first. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[8]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(s)
    s
  }

  /** Run `body` while capturing ERROR events from Spark's CodeGenerator
    * logger — the only runtime signal of a whole-stage-codegen compile
    * failure (Janino's 64 KB method cap), which Spark otherwise hides
    * by silently falling back to interpreted execution. The `*(n)` plan
    * marker only proves codegen was PLANNED; an empty list proves it
    * compiled. (Caveat: generated classes are cached per-JVM, so a stage
    * compiled earlier in the suite reports no error again — distinct
    * plans generate distinct code, which is the case in practice.) */
  def codegenFailures[A](body: => A): (A, Seq[String]) = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender(
        "graft-codegen-capture", null, null, false, Array.empty) {
      override def append(e: org.apache.logging.log4j.core.LogEvent): Unit =
        if (e.getLevel.isMoreSpecificThan(Level.ERROR) &&
            e.getLoggerName.endsWith("CodeGenerator"))
          errors.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration.getRootLogger
    cfg.addAppender(appender, Level.ERROR, null)
    ctx.updateLoggers()
    try {
      val out = body
      (out, errors.toArray(Array.empty[String]).toSeq)
    } finally {
      cfg.removeAppender("graft-codegen-capture")
      ctx.updateLoggers()
      appender.stop()
    }
  }
}

/** Shared session base: suites reuse [[SparkSpec.spark]], and each
  * leaves the shared CacheManager empty when it ends, so a test-side
  * `cache()` never reaches the next suite (EngineSweepSpec asserts a
  * clean cache before its sweep, whatever the suite order). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.spark

  override protected def afterAll(): Unit =
    try spark.catalog.clearCache() finally super.afterAll()

  def sf0001 = "/root/testdata/sf0.001"
  def sf001 = "/root/testdata/sf0.01"

  /** Run `body` and fail if whole-stage codegen fell back to
    * interpreted execution while it ran ([[SparkSpec.codegenFailures]]). */
  def assertNoCodegenFallback[A](body: => A): A = {
    val (out, errors) = SparkSpec.codegenFailures(body)
    assert(errors.isEmpty,
      s"whole-stage codegen fell back to interpreted execution:\n" +
        errors.mkString("\n").take(2000))
    out
  }

  /** Run `f` with the given SQL confs set, restoring prior values after. */
  def withSQLConf[A](pairs: (String, String)*)(f: => A): A = {
    val conf = spark.conf
    val olds = pairs.map { case (k, _) =>
      k -> scala.util.Try(Option(conf.get(k))).toOption.flatten
    }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
