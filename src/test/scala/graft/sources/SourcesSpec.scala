package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.JobCount
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

/** The parquet reader's schema memo (`Sources.parquet`): a warm read
  * runs no inference job and yields what a fresh inference would, and
  * each part of the memo key (files, confs) invalidates it. */
class SourcesSpec extends SparkSpec {

  private lazy val tmp = {
    val d = Files.createTempDirectory("graft_sources").toFile
    d.deleteOnExit()
    d.getAbsolutePath
  }

  private def jobs[A](body: => A): (A, Int) = JobCount.during(spark.sparkContext)(body)

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("a second read of every sf0.001 table runs no Spark job and " +
      "matches a fresh inference's schema and rows") {
    val tables = new java.io.File(sf0001).list().toSeq
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
    assert(tables.size === 10)
    tables.foreach { t =>
      Sources.table(spark, sf0001, t)
      val (warm, n) = jobs(Sources.table(spark, sf0001, t))
      assert(n === 0, s"$t: a warm read ran $n jobs")
      val fresh = spark.read.parquet(s"$sf0001/$t.parquet")
      // StructField equality covers nullability and metadata
      assert(warm.schema === fresh.schema, t)
      assert(rows(warm) === rows(fresh), t)
    }
  }

  test("memoized reads keep distinct exprIds, so a self-join resolves") {
    val a = Sources.table(spark, sf0001, "nation")
    val b = Sources.table(spark, sf0001, "nation")
    assert(a.queryExecution.analyzed.outputSet
      .intersect(b.queryExecution.analyzed.outputSet).isEmpty)
    val n = a.as("a").join(b.as("b"), col("a.n_regionkey") === col("b.n_regionkey")).count()
    assert(n === 125) // 5 regions × 5 nations each, squared
  }

  test("a path rewritten with a different schema is read with the new schema") {
    val path = s"$tmp/rewritten"
    spark.range(3).toDF("a").write.parquet(path)
    assert(Sources.parquet(spark, path).schema.fieldNames.toSeq === Seq("a"))
    spark.range(2).select(col("id").cast("string").as("b"), lit(7).as("c"))
      .write.mode("overwrite").parquet(path)
    val back = Sources.parquet(spark, path)
    assert(back.schema.fieldNames.toSeq === Seq("b", "c"))
    assert(rows(back) === Seq("[0,7]", "[1,7]"))
  }

  test("changing an inference conf misses the memo") {
    // two partitions with different columns: only a merged inference
    // sees both
    val path = s"$tmp/merge"
    spark.range(2).toDF("a").write.parquet(s"$path/k=1")
    spark.range(2).toDF("b").write.parquet(s"$path/k=2")
    val conf = "spark.sql.parquet.mergeSchema"
    withSQLConf(conf -> "false") {
      assert(Sources.parquet(spark, path).schema.size === 2)
    }
    withSQLConf(conf -> "true") {
      val (df, n) = jobs(Sources.parquet(spark, path))
      assert(n > 0, "a changed conf must re-infer")
      assert(df.schema.fieldNames.toSeq.sorted === Seq("a", "b", "k"))
      assert(df.count() === 4)
    }
    withSQLConf(conf -> "false") {
      val (df, n) = jobs(Sources.parquet(spark, path))
      assert(n === 0)
      assert(df.schema.size === 2)
    }
  }

  test("events normalizes ts to the same type before and after the memo") {
    // a fresh path, so the first read below is the inferring one
    val dir = s"$tmp/events_copy"
    new java.io.File(dir).mkdirs()
    Files.copy(java.nio.file.Paths.get(s"$sf0001/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    val (cold, coldJobs) = jobs(Sources.events(spark, dir))
    val (warm, warmJobs) = jobs(Sources.events(spark, dir))
    assert(coldJobs > 0)
    assert(warmJobs === 0)
    assert(cold.schema("ts").dataType === TimestampType)
    assert(warm.schema === cold.schema)
    assert(rows(warm) === rows(cold))
  }

  test("a missing path still fails with Spark's PATH_NOT_FOUND") {
    val e = intercept[AnalysisException](Sources.table(spark, tmp, "no_such_table"))
    assert(e.getCondition === "PATH_NOT_FOUND")
  }
}
