package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: each named query's `.explain("formatted")` output, then its
  * post-AQE executed plan after materialization, in the bench's session
  * shape (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus, AQE on),
  * so the join strategies and exchange counts are the ones the bench
  * pays. Printed to stdout, or written to `<out>/<query>.txt` with
  * `--out`. The data dir defaults to `$SPARK_GRAFT_SF_DIR`.
  *
  * Usage: runMain graft.PlanDump <query...|all> [--sf dir] [--out dir]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    @annotation.tailrec
    def parse(rest: List[String], flags: Map[String, String],
        names: Vector[String]): (Map[String, String], Vector[String]) = rest match {
      case f :: v :: tail if f.startsWith("--") => parse(tail, flags + (f -> v), names)
      case n :: tail => parse(tail, flags, names :+ n)
      case Nil => (flags, names)
    }
    val (flags, given) = parse(args.toList, Map.empty, Vector.empty)
    require(given.nonEmpty, "usage: PlanDump <query...|all> [--sf dir] [--out dir]")
    val names = if (given == Vector("all")) SparkEntry.queries.keys.toSeq.sorted else given
    val dir = flags.get("--sf").orElse(sys.env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse(sys.error("pass --sf <dir> or set SPARK_GRAFT_SF_DIR"))
    val out = flags.get("--out").map(java.nio.file.Paths.get(_))
    out.foreach(java.nio.file.Files.createDirectories(_))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      val df = SparkEntry.queries(n)(spark, dir)
      val formatted = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // materialize THIS DataFrame's own QueryExecution (a noop write
      // would re-plan a copy and leave df's AQE un-finalized): every
      // declared query returns oracle-checkable row counts, so collect
      // is bounded
      df.collect()
      val text = s"== explain(formatted) ==\n$formatted\n" +
        "== executed plan (post-AQE, after noop materialization) ==\n" +
        s"${df.queryExecution.executedPlan}\n"
      out match {
        case Some(o) =>
          java.nio.file.Files.writeString(o.resolve(s"$n.txt"), text)
          println(s"wrote ${o.resolve(s"$n.txt")}")
        case None => println(s"=== $n ===\n$text")
      }
    }
    spark.stop()
  }
}
