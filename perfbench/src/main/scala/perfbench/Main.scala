package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{Configurator, Property}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** Runs one workload in one local Spark session and writes what it
  * measured to a JSON file; `run.py` turns that into the benchmark's
  * metrics.
  *
  * The program is reached only through its public entry points:
  * `SparkEntry.queries(name)(spark, dir)`, the noop sink, and the SQL
  * functions `graft.GraftExtensions` registers. Every time is taken from
  * outside those calls.
  *
  * Set-up is timed from the JVM's launch (`--launched-us`) until the
  * session is up with the graft functions registered. With
  * `--setup-only 1` the program stops there.
  *
  * A pass runs every query of the workload once: construct the frame,
  * then execute it through the noop sink. The first pass is the cold pass;
  * after it, each query's frame is also written as parquet for the oracle
  * check, outside the timed sections. `--warmup` warm-up passes follow,
  * timed but not measured, while the JIT is still compiling; then the
  * measured warm passes until `--seconds` have gone by (at least
  * `--min-passes`). Every warm pass is preceded by the engine bench's
  * between-run cleanup: clear the cache, unpersist every persistent RDD,
  * force a GC.
  *
  * With `--trace 1` the measured passes are run twice, each for half the
  * time:
  * first untraced, then in a fresh session with Spark's event log on, each
  * (pass, query, phase) tagged with its own job group and recorded as a
  * span. `trace_reader.py` reads the log and the spans back into per-layer
  * metrics.
  *
  * Usage: Main --workload w --data dir --work dir --queries a,b --seconds s
  *   --warmup n --min-passes n --cores n --launched-us t --trace 0|1
  *   --out file [--setup-only 1]
  */
object Main {

  /** A traced interval; `driver` holds the driver counters' change over
    * it (GC, JIT, codegen compile time, ERROR log lines). */
  final case class Span(id: Int, parent: Int, name: String, group: String,
      startUs: Long, endUs: Long, start: JvmCounters, driver: Json)

  /** Counts driver log events at ERROR or above. */
  final class ErrorCounter extends AbstractAppender(
      "perfbench-error-counter", null, null, true, Property.EMPTY_ARRAY) {
    val count = new AtomicLong
    override def append(e: LogEvent): Unit =
      if (e.getLevel.isMoreSpecificThan(Level.ERROR)) count.incrementAndGet()
  }

  private def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val queries = a("queries").split(',').toSeq
    val cores = a("cores").toInt
    val out = new Json().put("cores", cores)

    // ---- set-up, from process start ----
    def session(eventLog: Option[String]): SparkSession = {
      val b = SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-$workload")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local")
        .withExtensions(new graft.GraftExtensions)
      eventLog.foreach { dir =>
        b.config("spark.eventLog.enabled", "true")
          .config("spark.eventLog.dir", dir)
          .config("spark.eventLog.compress", "false")
          .config("spark.eventLog.logBlockUpdates.enabled", "true")
      }
      val s = b.getOrCreate()
      // extensions apply when the session state is built; force it
      require(s.sessionState.functionRegistry
        .functionExists(FunctionIdentifier("rolling_hash")),
        "graft extensions are not registered")
      s
    }
    var spark = session(None)
    out.put("setup_s", (nowUs() - a("launched-us").toLong) / 1e6)
    // the counters start with the JVM, so at this point they are set-up's
    out.put("driver_setup", JvmCounters.snapshot(0).json)
    if (a.get("setup-only").contains("1")) {
      Files.writeString(Paths.get(a("out")), out.render)
      // nothing ran in the session: end the JVM without the shutdown hooks
      // that would stop it
      Runtime.getRuntime.halt(0)
    }
    val errors = new ErrorCounter
    errors.start()
    val logCtx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    logCtx.getConfiguration.getRootLogger.addAppender(errors, Level.ERROR, null)
    logCtx.updateLoggers()
    def quiet(s: SparkSession): Unit = {
      s.sparkContext.setLogLevel("WARN")
      // the engine bench's choice: dropping checkpoint blocks on purpose
      // makes Spark WARN once per block
      Configurator.setLevel("org.apache.spark.rdd.MapPartitionsRDD", Level.ERROR)
    }
    quiet(spark)
    val seconds = a("seconds").toDouble
    val minPasses = a("min-passes").toInt
    val trace = a("trace") == "1"
    val oracles = graft.SparkEntry.oracleSql
    out.put("oracle_sql", queries.flatMap(q => oracles.get(q).map(q -> _)).toMap)

    def cleanup(s: SparkSession): Unit = {
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    def heapMb(): Double =
      // each collection lets reference processing (the ContextCleaner's
      // broadcast and shuffle cleanup among others) release more for the
      // next one; the least heap seen is what is really retained
      (1 to 3).map { _ =>
        Thread.sleep(300)
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }.min

    /** One pass: per query, construct then execute through the noop sink.
      * A query that throws is recorded with its error and the pass goes
      * on. With a tracer, each phase runs under its own job group and
      * span. `after` runs outside the timed sections; `counted` receives
      * the driver counters' change over each timed phase. */
    def pass(s: SparkSession, n: Int, tag: Option[Tracer],
        after: (String, DataFrame) => Unit = (_, _) => (),
        counted: JvmCounters => Unit = _ => ()): Seq[Json] =
      queries.map { q =>
        val r = new Json().put("query", q)
        val qSpan = tag.map(_.open(q, s"$workload/$n/$q"))
        def phase[T](name: String)(body: => T): T = {
          val g = s"$workload/$n/$q/$name"
          tag.foreach(_.group(s, g))
          val sp = tag.map(_.open(name, g))
          val c0 = JvmCounters.snapshot(errors.count.get)
          val t0 = System.nanoTime()
          try body
          finally {
            r.put(s"${name}_s", (System.nanoTime() - t0) / 1e9)
            counted(JvmCounters.snapshot(errors.count.get) - c0)
            for (t <- tag; id <- sp) t.close(id)
          }
        }
        try {
          val df = phase("construct")(graft.SparkEntry.queries(q)(s, data))
          phase("execute")(df.write.format("noop").mode("overwrite").save())
          after(q, df)
        } catch {
          case NonFatal(e) => r.put("error", s"${e.getClass.getName}: ${e.getMessage}")
        } finally {
          s.sparkContext.clearJobGroup()
          for (t <- tag; id <- qSpan) t.close(id)
        }
        r
      }

    def passJson(p: Seq[Json], errs: Long): Json =
      new Json().put("queries", p).put("error_logs", errs)

    /** Warm passes until the time box closes and at least `min` have run,
      * cleanup + GC before each and after the last. */
    def warmPasses(s: SparkSession, first: Int, box: Double, min: Int,
        tag: Option[Tracer]): Seq[Json] = {
      val res = mutable.ArrayBuffer.empty[Json]
      val start = System.nanoTime()
      var n = first
      while (res.size < min || (System.nanoTime() - start) / 1e9 < box) {
        cleanup(s)
        val e0 = errors.count.get
        val p = tag match {
          case Some(t) =>
            val ps = t.open(s"pass$n", s"$workload/$n")
            val r = pass(s, n, tag)
            t.close(ps)
            r
          case None => pass(s, n, None)
        }
        val errs = errors.count.get - e0
        res += passJson(p, errs)
        n += 1
      }
      cleanup(s)
      res.toSeq
    }

    // ---- cold pass + output check ----
    val checkDir = s"$work/check"
    val e0 = errors.count.get
    var coldDriver = JvmCounters.zero
    val cold = pass(spark, 0, None, (q, df) =>
      df.write.mode("overwrite").parquet(s"$checkDir/$q"),
      d => coldDriver = coldDriver + d)
    out.put("cold", passJson(cold, errors.count.get - e0))
    out.put("driver_cold", coldDriver.json)

    // ---- warm passes: the warm-up ones, then the measured ones ----
    val warmup = a("warmup").toInt
    out.put("warmup", warmPasses(spark, 1, 0, warmup, None))
    val box = if (trace) seconds / 2 else seconds
    out.put("warm", warmPasses(spark, 1 + warmup, box, minPasses, None))
    out.put("retained_heap_mb", heapMb())

    if (trace) {
      spark.stop()
      val logDir = s"$work/eventlog"
      Files.createDirectories(Paths.get(logDir))
      spark = session(Some(logDir))
      quiet(spark)
      val tracer = new Tracer(() => errors.count.get)
      val run = tracer.open("run", s"$workload")
      val traced = warmPasses(spark, 1, box, minPasses, Some(tracer))
      tracer.close(run)
      out.put("traced", traced)
      out.put("spans", tracer.spans.map { sp =>
        new Json().put("id", sp.id).put("parent", sp.parent).put("name", sp.name)
          .put("group", sp.group).put("start_us", sp.startUs).put("end_us", sp.endUs)
          .put("driver", sp.driver)
      })
      out.put("functions", Functions.measure(spark, data))
    }
    spark.stop()
    Files.writeString(Paths.get(a("out")), out.render)
  }

  /** Spans kept in memory and written once at the end of the run. */
  final class Tracer(errorLogs: () => Long) {
    val spans = mutable.ArrayBuffer.empty[Span]
    private val stack = mutable.Stack[Int](-1)
    def open(name: String, group: String): Int = {
      val id = spans.size
      spans += Span(id, stack.top, name, group, nowUs(), -1L,
        JvmCounters.snapshot(errorLogs()), null)
      stack.push(id)
      id
    }
    def close(id: Int): Unit = {
      val sp = spans(id)
      spans(id) = sp.copy(endUs = nowUs(),
        driver = (JvmCounters.snapshot(errorLogs()) - sp.start).json)
      stack.pop()
    }
    def group(s: SparkSession, g: String): Unit =
      s.sparkContext.setJobGroup(g, g, interruptOnCancel = false)
  }

  /** Driver JVM counters: GC, JIT and whole-stage-codegen compile time,
    * and the ERROR log lines counted so far. */
  final case class JvmCounters(gcS: Double, jitS: Double, codegenS: Double,
      errorLogs: Long) {
    def -(o: JvmCounters): JvmCounters = JvmCounters(gcS - o.gcS,
      jitS - o.jitS, codegenS - o.codegenS, errorLogs - o.errorLogs)
    def +(o: JvmCounters): JvmCounters = JvmCounters(gcS + o.gcS,
      jitS + o.jitS, codegenS + o.codegenS, errorLogs + o.errorLogs)
    def json: Json = new Json().put("gc_s", gcS).put("jit_s", jitS)
      .put("codegen_compile_s", codegenS).put("error_logs", errorLogs)
  }
  object JvmCounters {
    val zero: JvmCounters = JvmCounters(0, 0, 0, 0)
    def snapshot(errorLogs: Long): JvmCounters = {
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
      val jit = Option(ManagementFactory.getCompilationMXBean)
        .map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)
      // Codahale histogram of compile times in ms; count x mean is exact
      // while its reservoir still holds every sample
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      JvmCounters(gc, jit, h.getCount * h.getSnapshot.getMean / 1e3, errorLogs)
    }
  }
}
