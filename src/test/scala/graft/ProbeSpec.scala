package graft

import org.apache.spark.sql.functions.col

/** `Probe.amplify`, the scaling probe's data multiplier: N copies of
  * every table but the single dimension tables, keys offset per copy so
  * that key cardinality and every key join scale exactly N×. And
  * `Probe.compiles`, the per-run count of Janino compiles. */
class ProbeSpec extends SparkSpec {

  private val tmp = java.nio.file.Files.createTempDirectory("probe-amp")
  private lazy val amp: String = Probe.amplify(spark, sf0001, 2, tmp.toString)

  override protected def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    finally super.afterAll()

  private def t(dir: String, name: String) = Probe.table(spark, dir, name)

  test("amplify 2: every table doubles its rows, region and nation stay single") {
    val tables = Seq("customer", "documents", "embeddings", "events",
      "lineitem", "orders", "part", "supplier")
    tables.foreach { n =>
      assert(t(amp, n).count() === 2 * t(sf0001, n).count(), n)
    }
    Seq("region", "nation").foreach { n =>
      assert(t(amp, n).count() === t(sf0001, n).count(), n)
    }
    // same schema, timestamps included: events keeps its µs TimestampType
    (tables :+ "region").foreach { n =>
      assert(t(amp, n).schema === t(sf0001, n).schema, n)
    }
  }

  test("amplify 2: distinct doc_id and o_orderkey double") {
    Seq("documents" -> "doc_id", "orders" -> "o_orderkey").foreach { case (n, k) =>
      assert(t(amp, n).select(k).distinct().count() ===
        2 * t(sf0001, n).select(k).distinct().count(), k)
    }
  }

  test("amplify 2: key joins keep their within-copy matches, exactly 2x") {
    def joins(dir: String): (Long, Long) = (
      t(dir, "lineitem").join(t(dir, "orders"),
        col("l_orderkey") === col("o_orderkey")).count(),
      t(dir, "documents").join(t(dir, "embeddings"),
        col("doc_id") === col("vec_id")).count())
    val (li1, de1) = joins(sf0001)
    val (li2, de2) = joins(amp)
    assert(li1 > 0 && de1 > 0)
    assert(li2 === 2 * li1)
    assert(de2 === 2 * de1)
  }

  test("compiles: a new plan compiles classes, the same plan again compiles none") {
    // the salt is inlined into the generated code, so no earlier test
    // can have compiled this plan's classes
    val salt = System.nanoTime()
    def run() = spark.range(10).select((col("id") * salt).as("x")).collect()
    val (rows, first) = Probe.compiles(run())
    assert(rows.length === 10)
    assert(first > 0L)
    val (_, again) = Probe.compiles(run())
    assert(again === 0L, "an identical plan must hit Spark's codegen cache")
  }
}
