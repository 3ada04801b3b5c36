package graft

import org.apache.spark.sql.functions._

/** Round-17 invariants: the read-side fan-out is OPT-IN and confined to
  * the sites the driver bench proved it pays at (shingles only beneath
  * minhash; wordcount/bpe/tfidf/editdist plans carry NO round-robin
  * exchange), shingles over a `fanOut` input are result-identical to
  * the default ones, and
  * `Parallelism.fanIn` (round 16's bucketed-write fix, previously
  * untested — ADVICE item) lands a tiny bucketed table as exactly one
  * file per bucket while leaving non-tiny inputs untouched. */
class Round17Spec extends SparkSpec {

  private def roundRobins(p: String): Int =
    p.linesIterator.count(_.toLowerCase.contains("roundrobin"))

  test("shingles: default plan has NO round-robin exchange; fan = true " +
      "adds one on a tiny input and is result-identical") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val plain = graft.operators.Dedup.shingles(docs, "doc_id", "text", 3)
    val fanned = graft.operators.Dedup.shingles(
      graft.core.Parallelism.fanOut(docs.select(col("doc_id"), col("text"))),
      "doc_id", "text", 3)
    assert(roundRobins(plain.queryExecution.executedPlan.toString) === 0,
      "default shingles must not fan out (the q_dedup_clusters CC-loop " +
        "regression class)")
    assert(roundRobins(fanned.queryExecution.executedPlan.toString) === 1,
      "fanOut must fan a tiny single-split input out")
    // repartition never changes row content — pin it anyway: the two
    // forms must stay interchangeable for minHashLshPairs to be safe
    val a = plain.orderBy("id", "shingle").collect().toSeq
    val b = fanned.orderBy("id", "shingle").collect().toSeq
    assert(a === b)
  }

  test("reverted fan-out sites: wordcount counts / termFrequencies / " +
      "bpe wordFreqs / editDistancePairs plans carry no round-robin") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val lines = docs.select(col("doc_id"), coalesce(col("text"), lit("")))
      .as[(Long, String)]
    val plans = Seq(
      "WordCount.counts" ->
        graft.core.WordCount.counts(lines).toDF(),
      "termFrequencies" ->
        graft.operators.TextAnalysis.termFrequencies(docs, "doc_id", "text"),
      "Bpe.wordFreqs" ->
        graft.operators.Bpe.wordFreqs(docs, "text"),
      "editDistancePairs" ->
        graft.operators.Dedup.editDistancePairs(
          docs.select(col("doc_id"), substring(coalesce(col("text"),
            lit("")), 1, 20).as("s")), "doc_id", "s", 1))
    plans.foreach { case (name, df) =>
      assert(roundRobins(df.queryExecution.executedPlan.toString) === 0,
        s"$name must not fan out")
    }
  }

  test("fanIn: a tiny bucketed write lands exactly numBuckets files; " +
      "a non-tiny-stats input passes through unchanged") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("lang"))
    graft.sources.Sinks.writeBucketed(docs, "graft_r17_fanin_spec",
      bucketCols = Seq("doc_id"), numBuckets = 4)
    try {
      val loc = spark.sessionState.catalog.defaultTablePath(
        spark.sessionState.sqlParser
          .parseTableIdentifier("graft_r17_fanin_spec"))
      val files = new java.io.File(loc).listFiles()
        .filter(f => f.getName.endsWith(".parquet"))
      assert(files.length === 4,
        s"expected one file per bucket, got ${files.map(_.getName).toSeq}")
      // read back equals input (the fan-in repartition is layout-only)
      val back = spark.table("graft_r17_fanin_spec")
        .orderBy("doc_id").collect().toSeq
      assert(back === docs.orderBy("doc_id").collect().toSeq)
    } finally spark.sql("DROP TABLE IF EXISTS graft_r17_fanin_spec")
    // non-tiny stats (a wide range estimate far above the 64 MB guard —
    // plan-only, nothing is executed): fanIn must be the identity
    val big = spark.range(20000000L)
      .select(col("id").as("doc_id"), col("id").cast("string").as("lang"))
    assert(graft.core.Parallelism.fanIn(big, 4, Seq("doc_id")) eq big,
      "fanIn must pass non-tiny inputs through untouched")
  }

  test("q_dedup_clusters / mr_wordcount / q_tfidf end-to-end plans " +
      "carry no round-robin exchange") {
    Seq("q_dedup_clusters", "mr_wordcount", "q_tfidf").foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sf0001)
      assert(roundRobins(df.queryExecution.executedPlan.toString) === 0,
        s"$q must not fan out")
    }
  }
}
