package graft

import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.JobCount
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions.{col, lit}

/** Dev probe over the registered queries (`SparkEntry.queries`), in the
  * bench's session shape: `local[cpus]`, shuffle partitions = cpus, AQE
  * on, UTC, UI off, where cpus is `$SPARK_GRAFT_CPUS` or else the JVM's
  * available processors. Every timed or dumped build starts from the
  * bench's cleanup (clear the cache, unpersist every persistent RDD,
  * `System.gc()`).
  *
  * Usage: `sbt "Test/runMain graft.Probe <query...|all> [--sf dir]
  * [--runs N] [--plans dir] [--amplify N]"`; the data dir is `--sf`, else
  * `$SPARK_GRAFT_SF_DIR`. Unknown query names are rejected before the
  * session starts; a query that throws is reported, the others still
  * run, and the probe then exits non-zero.
  *
  * Modes:
  *  - default: each query's wall clock split into CONSTRUCTION (building
  *    the DataFrame — which for operators with eager internal actions
  *    like localCheckpoint(true) / trainCentroids / guard counts already
  *    runs Spark jobs) and EXECUTION (the noop-sink materialization the
  *    bench times); the median of `--runs` runs (default 3), then each
  *    run's pair with the number of Spark jobs its construction started
  *    and the number of classes Janino compiled in the whole run
  *    (`[construct+execute Nj Kc]`, [[compiles]]). A query whose time
  *    sits in construction is bounded by the jobs it runs one after
  *    another, not by the plan its explain shows; a warm run that still
  *    compiles is paying codegen, which its wall time hides.
  *  - `--plans dir`: writes `<dir>/<query>.txt` with the query's
  *    `explain("formatted")` before it runs, then its post-AQE executed
  *    plan after `collect()`, so the join strategies and exchange counts
  *    are the ones the bench pays.
  *  - `--amplify N`: scaling slope. The data dir's tables are written
  *    N-fold to `target/probe/amp<N>/` ([[amplify]]), then each query is
  *    profiled at 1×, N× and 1× again. The slope compares N× against the
  *    TRAILING 1×: the leading one runs on a cold JVM (codegen and
  *    first-scan costs land on it; a DoReMi probe once read a negative
  *    slope from a leading 1× that was pure warm-up), while the trailing
  *    one shares the N× run's JIT state. A near-linear slope backs
  *    SCALE.md's claims; a superlinear one exposes a pair explosion or
  *    a single-threaded bottleneck. Caveat: the copies are identical
  *    apart from their keys, so every pair finder and band join
  *    (MinHash, SimHash, dHash, audio fingerprints, band joins over
  *    prices) sees N× the true pair density — its superlinear growth
  *    there measures the copies' duplicate mass, not a plan defect.
  */
object Probe {

  private val usage = "usage: Probe <query...|all> [--sf dir] [--runs N] " +
    "[--plans dir] [--amplify N]"

  /** Columns offset per amplified copy: every table's keys, so
    * foreign-key joins keep their within-copy matches and
    * `documents.doc_id` / `embeddings.vec_id` keep their shared
    * namespace. */
  private val KeyCol =
    "(.*_(custkey|orderkey|partkey|suppkey)|doc_id|vec_id|event_id|user_id)".r

  /** Dimension tables copied once (their keys are not offset). */
  private val Single = Set("region", "nation")

  /** Per-copy key offset: far above every key in the test data. */
  private val KeyOffset = 100000000L

  def main(args: Array[String]): Unit = {
    def die(msg: String): Nothing = {
      System.err.println(s"$msg\n$usage")
      sys.exit(2)
    }
    @annotation.tailrec
    def parse(rest: List[String], flags: Map[String, String],
        names: Vector[String]): (Map[String, String], Vector[String]) = rest match {
      case f :: v :: tail if f.startsWith("--") => parse(tail, flags + (f -> v), names)
      case f :: Nil if f.startsWith("--") => die(s"$f needs a value")
      case n :: tail => parse(tail, flags, names :+ n)
      case Nil => (flags, names)
    }
    val (flags, given) = parse(args.toList, Map.empty, Vector.empty)
    val badFlags = flags.keySet -- Set("--sf", "--runs", "--plans", "--amplify")
    if (badFlags.nonEmpty) die(s"unknown flags: ${badFlags.mkString(" ")}")
    if (given.isEmpty) die("no query named")
    val known = SparkEntry.queries.keySet
    val names = if (given == Vector("all")) known.toSeq.sorted else given
    val unknown = names.filterNot(known)
    if (unknown.nonEmpty) die(s"unknown queries: ${unknown.mkString(" ")}")
    val dir = flags.get("--sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(die("pass --sf <dir> or set SPARK_GRAFT_SF_DIR"))
    if (!new java.io.File(dir).isDirectory) die(s"no data dir $dir")
    def positive(f: String): Option[Int] =
      flags.get(f).map(v => v.toIntOption.filter(_ > 0)
        .getOrElse(die(s"$f needs a positive integer, got '$v'")))
    val runs = positive("--runs").getOrElse(3)
    val plans = flags.get("--plans").map(Paths.get(_))
    val mult = positive("--amplify")
    if (plans.nonEmpty && mult.nonEmpty) die("--plans and --amplify are separate modes")

    val spark = session()
    val failed = try {
      (plans, mult) match {
        case (Some(out), _) =>
          Files.createDirectories(out)
          names.filter(n => attempt(n)(dumpPlans(spark, n, dir, out)).isEmpty)
        case (_, Some(m)) => scale(spark, names, dir, m, runs)
        case _ => names.filter(n => attempt(n)(profile(spark, n, dir, runs, "")).isEmpty)
      }
    } finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"failed: ${failed.mkString(" ")}")
      sys.exit(1)
    }
  }

  /** The bench's session shape (see the object scaladoc). */
  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The bench's per-query cleanup: no cached, persisted or
    * garbage-pending state from an earlier build reaches the next. */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** `body`'s result, or None (after printing why) if it threw. */
  private def attempt[A](name: String)(body: => A): Option[A] =
    try Some(body)
    catch {
      case NonFatal(e) =>
        System.err.println(s"$name FAILED: $e")
        None
    }

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  /** Times `runs` cleaned-up builds and noop-sink runs of the query,
    * prints the median construct and execute times, then each run's
    * pair; returns the median total. */
  private def profile(spark: SparkSession, name: String, dir: String,
      runs: Int, tag: String): Double = {
    val rows = (1 to runs).map { _ =>
      cleanup(spark)
      val ((construct, execute, jobs), classes) = compiles {
        val ((df, t0, t1), jobs) = JobCount.during(spark.sparkContext) {
          val t0 = System.nanoTime()
          (SparkEntry.queries(name)(spark, dir), t0, System.nanoTime())
        }
        val t2 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        val t3 = System.nanoTime()
        ((t1 - t0) / 1e9, (t3 - t2) / 1e9, jobs)
      }
      (construct, execute, jobs, classes)
    }
    val c = median(rows.map(_._1))
    val e = median(rows.map(_._2))
    println(f"$tag$name%-40s construct=$c%7.3fs execute=$e%7.3fs  " +
      rows.map { case (a, b, j, n) => f"[$a%.2f+$b%.2f ${j}j ${n}c]" }.mkString(" "))
    median(rows.map { case (a, b, _, _) => a + b })
  }

  /** `body`'s result and the number of classes Janino compiled while it
    * ran: the delta of Spark's codegen compile-time histogram count. The
    * count is JVM-wide, so in local mode it includes the executors'
    * compiles; a class already in Spark's codegen cache is not
    * recompiled and does not count. */
  private[graft] def compiles[A](body: => A): (A, Long) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = h.getCount
    val out = body
    (out, h.getCount - before)
  }

  private def dumpPlans(spark: SparkSession, name: String, dir: String,
      out: Path): Unit = {
    cleanup(spark)
    val df = SparkEntry.queries(name)(spark, dir)
    val formatted = df.queryExecution.explainString(FormattedMode)
    // materialize THIS DataFrame's own QueryExecution (a noop write
    // would re-plan a copy and leave df's AQE un-finalized): every
    // registered query returns oracle-checkable row counts, so collect
    // is bounded
    df.collect()
    val text = s"== explain(formatted) ==\n$formatted\n" +
      "== executed plan (post-AQE, after noop materialization) ==\n" +
      s"${df.queryExecution.executedPlan}\n"
    Files.writeString(out.resolve(s"$name.txt"), text)
    println(s"wrote ${out.resolve(s"$name.txt")}")
  }

  /** Profiles every query at 1×, `mult`× and 1× again (sections in that
    * order, see the object scaladoc), then prints each query's slope
    * against the trailing 1×; returns the queries that threw. */
  private def scale(spark: SparkSession, names: Seq[String], dir: String,
      mult: Int, runs: Int): Seq[String] = {
    val ampDir = amplify(spark, dir, mult, s"target/probe/amp$mult")
    val sections = Seq(1 -> dir, mult -> ampDir, 1 -> dir).map { case (n, d) =>
      println(s"=== multiplier $n ===")
      names.map(q => q ->
        attempt(s"$q at ${n}x")(profile(spark, q, d, runs, s"${n}x "))).toMap
    }
    val (big, one) = (sections(1), sections(2))
    println(s"=== slope: ${mult}x against the trailing 1x ===")
    names.foreach { q =>
      (big(q), one(q)) match {
        case (Some(b), Some(o)) =>
          println(f"$q%-40s 1x=$o%7.3fs ${mult}x=$b%7.3fs  ratio=${b / o}%5.2f")
        case _ => println(f"$q%-40s failed")
      }
    }
    names.filter(q => sections.exists(_(q).isEmpty))
  }

  /** Writes `n` copies of every table in `src` to `out/<table>.parquet`
    * and returns `out`. Copy i adds i·10⁸ to every key column (`*_custkey`,
    * `*_orderkey`, `*_partkey`, `*_suppkey`, `doc_id`, `vec_id`,
    * `event_id`, `user_id`), so key cardinality scales with the data and
    * no join matches across copies; `region` and `nation` stay single.
    * `events` is read through `Sources.events`, so its timestamps keep
    * the engine's µs `TimestampType`. */
  def amplify(spark: SparkSession, src: String, n: Int, out: String): String = {
    val tables = new java.io.File(src).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    tables.foreach { t =>
      val df = table(spark, src, t)
      val copies = if (Single(t)) 1 else n
      (0 until copies).map(i => offsetKeys(df, i * KeyOffset)).reduce(_ union _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    out
  }

  /** A test-data table as the queries read it. */
  private[graft] def table(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") sources.Sources.events(spark, dir)
    else sources.Sources.table(spark, dir, name)

  private def offsetKeys(df: DataFrame, offset: Long): DataFrame =
    df.select(df.schema.fields.toSeq.map { f =>
      if (KeyCol.matches(f.name))
        (col(f.name) + lit(offset)).cast(f.dataType).as(f.name)
      else col(f.name)
    }: _*)
}
