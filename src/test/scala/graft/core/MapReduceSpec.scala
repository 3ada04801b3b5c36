package graft.core

import graft.SparkSpec

class MapReduceSpec extends SparkSpec {
  import spark.implicits._

  private def wc(pairs: Seq[(Long, String)], partitions: Int = 4): Map[String, Long] =
    WordCount.counts(spark.createDataset(pairs).repartition(partitions))
      .collect().toMap

  test("mapReduce: empty input") {
    assert(wc(Seq.empty) === Map.empty)
  }

  test("mapReduce: map emitting 0 and N pairs per record") {
    val got = wc(Seq((0L, ""), (1L, "a a b"), (2L, "   "), (3L, "b")))
    assert(got === Map("a" -> 2L, "b" -> 2L))
  }

  test("mapReduce.run general form: non-associative fold sees full group") {
    val data = spark.createDataset(Seq((1L, "x"), (2L, "x"), (3L, "y")))
    val got = MapReduce.run[Long, String, String, Long, String](
      data,
      (k, v) => Seq((v, k)),
      (key, it) => s"$key:${it.toSeq.sorted.mkString(",")}"
    ).collect().toMap
    assert(got === Map("x" -> "x:1,2", "y" -> "y:3"))
  }

  test("mapReduce.runAggregated: monoid with distinct buffer/output types") {
    val data = spark.createDataset(Seq((1L, "a b"), (2L, "b b")))
    // count + distinct-first-char buffer -> formatted string output
    val got = MapReduce.runAggregated[Long, String, String, Long, Long, String](
      data,
      (_, v) => v.split(" ").map(w => (w, 1L)),
      0L, _ + _, _ + _, n => s"n=$n"
    ).collect().toMap
    assert(got === Map("a" -> "n=1", "b" -> "n=3"))
  }

  test("runAggregated: a seqOp that mutates its buffer gets a fresh zero " +
      "per key") {
    import scala.collection.mutable.ArrayBuffer
    implicit val bufEnc: org.apache.spark.sql.Encoder[ArrayBuffer[Long]] =
      org.apache.spark.sql.Encoders.kryo[ArrayBuffer[Long]]
    // several keys per partition: a zero shared across keys would
    // collect every key's values of the partition into one buffer
    val rows = (0L until 40L).map(i => (i, s"k${i % 5}"))
    val got = MapReduce.runAggregated[Long, String, String, Long,
        ArrayBuffer[Long], Seq[Long]](
      spark.createDataset(rows).repartition(2),
      (i, k) => Seq((k, i)),
      ArrayBuffer.empty[Long],
      (b, v) => { b += v; b },
      (x, y) => { x ++= y; x },
      _.toSeq.sorted
    ).collect().toMap
    val want = rows.groupBy(_._2).map { case (k, vs) => k -> vs.map(_._1).sorted }
    assert(got === want)
  }

  test("mr_wordcount / mr_top_words: one shuffle exchange, no round-robin, " +
      "and the shuffle writes one row per distinct word per map partition") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val dir = java.nio.file.Files.createTempDirectory("graft-mr4").toString
    try {
      spark.read.parquet(s"$sf0001/documents.parquet").repartition(4)
        .write.parquet(s"$dir/documents.parquet")
      val lines = graft.sources.Sources.table(spark, dir, "documents")
        .select($"doc_id", $"text").as[(Long, String)]
      assert(lines.rdd.getNumPartitions === 4)
      val distinctPerPartition = lines.rdd.mapPartitions { it =>
        Iterator.single(it.flatMap(t => WordCount.tokens(t._2)).toSet.size.toLong)
      }.collect().sum
      val helper = new AdaptiveSparkPlanHelper {}
      for (q <- Seq("mr_wordcount", "mr_top_words")) {
        val df = graft.SparkEntry.queries(q)(spark, dir)
        df.collect() // runs this plan itself, so its exchange holds the metrics
        val plan = df.queryExecution.executedPlan
        val shuffles = helper.collect(plan) { case e: ShuffleExchangeExec => e }
        assert(shuffles.size === 1, s"$q: one shuffle exchange\n$plan")
        assert(!plan.toString.toLowerCase.contains("roundrobin"), s"$q must not fan out")
        assert(shuffles.head.metrics("shuffleRecordsWritten").value ===
          distinctPerPartition, s"$q: the in-mapper combiner must emit one " +
            "row per distinct word per partition")
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  test("invariance: result independent of partition count and input order") {
    val base = Seq((0L, "a b c"), (1L, "b c"), (2L, "c c a"), (3L, "d"))
    val expected = wc(base, 1)
    for (p <- Seq(2, 5, 13); perm <- Seq(base.reverse, scala.util.Random.shuffle(base))) {
      assert(wc(perm, p) === expected, s"partitions=$p")
    }
  }

  test("golden: mobydick word count matches example.py semantics") {
    val counts = WordCount.counts(
      graft.sources.Sources.textWithIndex(spark, "/root/reference/mobydick.txt"))
      .cache()
    val m = counts.filter(t => Set("the", "of", "whale", "Ahab").contains(t._1))
      .collect().toMap
    assert(m("the") === 13766L)
    assert(m("of") === 6587L)
    assert(m("whale") === 392L)
    assert(m("Ahab") === 232L)
    // 33781 with python2 file reading; Spark's text source strips the
    // UTF-8 BOM so '﻿The' merges into 'The' -> one fewer distinct.
    assert(counts.count() === 33780L)
    val top = MapReduce.topK(counts, 5)
    assert(top.map(_._1).toSeq === Seq("the", "of", "and", "a", "to"))
    assert(top.head === ("the", 13766L))
    counts.unpersist()
  }

  test("MapReduceJob: reference three-function shape end-to-end") {
    val job = MapReduceJob[Long, String, String, Long, Long](
      datafn = s => {
        import s.implicits._
        s.createDataset(Seq((0L, "to be or not"), (1L, "to be")))
      },
      mapfn = (_, line) => WordCount.tokens(line).map(w => (w, 1L)),
      reducefn = (_, vs) => vs.sum)
    assert(job.results(spark) ===
      Map("to" -> 2L, "be" -> 2L, "or" -> 1L, "not" -> 1L))
  }

  test("driver contract: entry() returns rows") {
    assert(graft.SparkEntry.entry(spark).count() > 0)
  }

  test("topKPerKey: bounded per-key top-k, sorted best-first, partition-invariant") {
    import spark.implicits._
    implicit val desc: Ordering[Int] = Ordering.Int.reverse
    val rows = (1 to 100).map(i => ("a", i)) ++ (1 to 5).map(i => ("b", i))
    for (p <- Seq(1, 7)) {
      val got = graft.core.MapReduce
        .topKPerKey(rows.toDS().repartition(p), 3)
        .collect().toMap
      assert(got("a") === Seq(100, 99, 98), s"partitions=$p")
      assert(got("b") === Seq(5, 4, 3), s"partitions=$p")
    }
    // k larger than the group: whole group, still sorted
    val small = graft.core.MapReduce
      .topKPerKey(Seq(("x", 2), ("x", 9)).toDS(), 5)
      .collect().toMap
    assert(small("x") === Seq(9, 2))
  }

  test("sources: textWithIndex yields stable 0-based line indices") {
    val ds = graft.sources.Sources.textWithIndex(spark, "/root/reference/mobydick.txt")
    assert(ds.count() === 22108L)
    val first = ds.filter(t => t._1 == 0L).collect().head._2
    assert(first.contains("MOBY-DICK") || first.nonEmpty)
  }
}
