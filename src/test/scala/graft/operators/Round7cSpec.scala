package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-7 wave: temperature-α=½ domain mixing, token-balanced training
  * shards (distributed weighted prefix sum), sentence-boundary-aware
  * chunking. */
class Round7cSpec extends SparkSpec {
  import spark.implicits._

  // ---- temperatureMix ----

  private def mixDocs = {
    // strata sized 1 : 4 : 16 in token mass (uniform 10-token docs) —
    // √-temperature keep rates should then be 1 : 1/2 : 1/4
    val rows = (1 to 21000).map { i =>
      val stratum = if (i <= 1000) "rare" else if (i <= 5000) "mid" else "big"
      (i.toLong, stratum, "w " * 10)
    }
    rows.toDF("id", "lang", "text")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
  }

  test("temperatureMix: rarest stratum fully kept; keep rates follow " +
      "sqrt of token-share ratios; membership is partition-invariant") {
    val out = Sampling.temperatureMix(mixDocs, col("id"), col("lang"),
      col("n_tokens"))
    val kept = out.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("rare") === 1000L) // keep256 = 256: everything survives
    // mid holds 4x the min tokens -> keep256 = floor(256/2) = 128, i.e.
    // ~1/2 of its 4000 docs; big 16x -> 64/256 = 1/4 of 16000. The md5
    // bucket distribution over sequential ids is uniform to a few %.
    assert(math.abs(kept("mid") / 4000.0 - 0.5) < 0.05, kept.toString)
    assert(math.abs(kept("big") / 16000.0 - 0.25) < 0.05, kept.toString)
    // deterministic: same rows regardless of input partitioning
    val again = Sampling.temperatureMix(mixDocs.repartition(7), col("id"),
      col("lang"), col("n_tokens"))
    assert(again.select("id").except(out.select("id")).isEmpty &&
      out.select("id").except(again.select("id")).isEmpty)
  }

  test("temperatureMix: null strata excluded from rates and output; " +
      ">65536x dominant stratum clamps to >= 1 bucket") {
    val df = Seq(
      (1L, null.asInstanceOf[String], 100L),
      (2L, "a", 1L),
      (3L, "b", 100000000L)).toDF("id", "lang", "n_tokens")
    val out = Sampling.temperatureMix(df, col("id"), col("lang"),
      col("n_tokens")).select("id").as[Long].collect().toSet
    assert(!out.contains(1L)) // null stratum dropped
    assert(out.contains(2L))  // rarest keeps everything
    // stratum b: sqrt(1/1e8) = 1e-4 -> floor(256e-4) = 0 -> clamped to 1;
    // doc 3 survives iff its md5 byte is 0 (it isn't) — but the CLAMP is
    // what we assert: the rate row exists and is >= 1, so a larger
    // stratum is sampled at 1/256, never silently dropped. Verify via a
    // stratum with many rows: ~1/256 of them must survive.
    val many = (1 to 60000).map(i => (i.toLong, "huge", 100000000L)) :+
      ((0L, "tiny", 1L))
    val kept = Sampling.temperatureMix(many.toDF("id", "lang", "n_tokens"),
        col("id"), col("lang"), col("n_tokens"))
      .filter(col("lang") === "huge").count()
    assert(kept > 100 && kept < 500, s"expected ~234 (1/256), got $kept")
  }

  test("targetMix: surviving token shares track the requested parts; " +
      "binding stratum keeps everything; unlisted strata excluded") {
    // strata token masses 1 : 4 : 16 (uniform 10-token docs), target
    // parts 1:1:1 -> "rare" binds (it can only fund an equal three-way
    // total of 3x its own mass); mid and big shave to ~rare's mass
    val out = Sampling.targetMix(mixDocs, col("id"), col("lang"),
      col("n_tokens"), parts = Map("rare" -> 1, "mid" -> 1, "big" -> 1))
    val kept = out.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept("rare") === 1000L) // binding stratum: keep256 = 256
    assert(math.abs(kept("mid") / 1000.0 - 1.0) < 0.15, kept.toString)
    assert(math.abs(kept("big") / 1000.0 - 1.0) < 0.15, kept.toString)
    // 4:2:1 over the same strata: big (16x tokens, 4 parts) no longer
    // binds; rare (1x tokens, 1 part) binds -> kept masses ~4:2:1
    val out2 = Sampling.targetMix(mixDocs, col("id"), col("lang"),
      col("n_tokens"), parts = Map("big" -> 4, "mid" -> 2, "rare" -> 1))
    val kept2 = out2.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(kept2("rare") === 1000L)
    assert(math.abs(kept2("mid") / 2000.0 - 1.0) < 0.15, kept2.toString)
    assert(math.abs(kept2("big") / 4000.0 - 1.0) < 0.15, kept2.toString)
    // spec-as-filter: a stratum without a part vanishes
    val out3 = Sampling.targetMix(mixDocs, col("id"), col("lang"),
      col("n_tokens"), parts = Map("rare" -> 1, "mid" -> 1))
    assert(out3.filter(col("lang") === "big").count() === 0L)
    // determinism under repartitioning
    val again = Sampling.targetMix(mixDocs.repartition(9), col("id"),
      col("lang"), col("n_tokens"),
      parts = Map("big" -> 4, "mid" -> 2, "rare" -> 1))
    assert(again.select("id").except(out2.select("id")).isEmpty &&
      out2.select("id").except(again.select("id")).isEmpty)
  }

  // ---- tokenBalancedShards ----

  private def shardDocs = {
    // skewed doc lengths: power-law-ish token counts
    (1 to 5000).map { i =>
      (i.toLong, 1L + (i % 97) + (if (i % 13 == 0) 400L else 0L))
    }.toDF("doc_id", "n_tokens")
  }

  test("tokenBalancedShards equals the single-window global reference " +
      "exactly") {
    import org.apache.spark.sql.expressions.Window
    val n = 8
    val got = Layout.tokenBalancedShards(shardDocs, "doc_id",
      col("n_tokens"), n)
    val w = Window.orderBy(col("__h").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ref = shardDocs
      .select(col("doc_id").as("id"), col("n_tokens"))
      .withColumn("__h", md5(col("id").cast("string").cast("binary")))
      .withColumn("__cum", sum(col("n_tokens")).over(w))
      .crossJoin(broadcast(shardDocs.agg(sum("n_tokens").as("__tot"))))
      .select(col("id"), col("n_tokens"),
        expr(s"((__cum - n_tokens) * ${n}L) div greatest(1L, __tot)")
          .cast("int").as("shard"))
    assert(got.except(ref).isEmpty && ref.except(got).isEmpty)
  }

  test("tokenBalancedShards: all shards present, token mass balanced " +
      "within one max-document weight, contiguous in hash order, " +
      "partition-invariant") {
    val n = 8
    val got = Layout.tokenBalancedShards(shardDocs, "doc_id",
      col("n_tokens"), n).cache()
    val sums = got.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sums.keySet === (0 until n).toSet)
    val total = sums.values.sum.toDouble
    val maxDoc = shardDocs.agg(max("n_tokens")).as[Long].head()
    // first-token assignment: a shard's mass deviates from total/n by at
    // most one straddling document on each boundary
    sums.values.foreach { t =>
      assert(math.abs(t - total / n) <= 2.0 * maxDoc, sums.toString) }
    // contiguity: ordered by (md5(id), id), shard ids never decrease
    val ordered = got
      .withColumn("__h", md5(col("id").cast("string").cast("binary")))
      .orderBy(col("__h").asc, col("id").asc)
      .select("shard").as[Int].collect()
    assert(ordered.sliding(2).forall(p => p.length < 2 || p(0) <= p(1)))
    val again = Layout.tokenBalancedShards(shardDocs.repartition(11),
      "doc_id", col("n_tokens"), n)
    assert(got.except(again).isEmpty && again.except(got).isEmpty)
    got.unpersist()
  }

  test("tokenBalancedShards: a different epoch salt is an independent " +
      "deterministic permutation — different order, same balance") {
    val e0 = Layout.tokenBalancedShards(shardDocs, "doc_id",
      col("n_tokens"), 8)
    val e1 = Layout.tokenBalancedShards(shardDocs, "doc_id",
      col("n_tokens"), 8, epochSalt = "e1")
    // same rows, materially different shard assignment
    val moved = e0.select(col("id"), col("shard").as("s0"))
      .join(e1.select(col("id"), col("shard").as("s1")), Seq("id"))
    assert(moved.filter(col("s0") =!= col("s1")).count() > 1000L)
    // epoch 1 still balanced
    val sums = e1.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(_.getLong(1))
    val total = sums.sum.toDouble
    sums.foreach(t => assert(math.abs(t - total / 8) <= 2.0 * 498.0))
    // deterministic: same salt → same assignment
    val e1b = Layout.tokenBalancedShards(shardDocs.repartition(5),
      "doc_id", col("n_tokens"), 8, epochSalt = "e1")
    assert(e1.except(e1b).isEmpty && e1b.except(e1).isEmpty)
  }

  test("tokenBalancedShards plan: no unpartitioned window (the keyed " +
      "window is per md5-byte bucket)") {
    val plan = Layout.tokenBalancedShards(shardDocs, "doc_id",
      col("n_tokens"), 8).queryExecution.executedPlan.toString
    assert(!plan.contains("No Partition Defined"), plan)
  }

  test("writeTokenShards: one directory per shard, rows round-trip, " +
      "per-shard token mass matches the assignment") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_shards").toFile
    tmp.deleteOnExit()
    Layout.writeTokenShards(shardDocs, tmp.getAbsolutePath, "doc_id",
      col("n_tokens"), nShards = 4)
    val dirs = tmp.listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === (0 until 4).map(i => s"shard=$i"))
    val back = spark.read.parquet(tmp.getAbsolutePath)
    assert(back.count() === shardDocs.count())
    val wrote = back.groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val assigned = Layout.tokenBalancedShards(shardDocs, "doc_id",
        col("n_tokens"), 4)
      .groupBy("shard").agg(sum("n_tokens").as("t"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(wrote === assigned)
  }

  // ---- stripHtml ----

  test("stripHtml: script/style CONTENT removed, tag text kept, " +
      "entities decoded once, whitespace collapsed") {
    val cases = Seq(
      ("<p>Hello <b>world</b></p>", "Hello world"),
      ("<script>var hidden = 'secret';</script>visible", "visible"),
      ("<style media=\"all\">p{}</style>shown", "shown"),
      ("a<!-- comment with <tags> inside -->b", "a b"),
      // &amp;lt; decodes to the LITERAL &lt; (one pass, amp last)
      ("x &amp;lt; y", "x &lt; y"),
      ("5 &lt; 6 &amp;&amp; 7 &gt; 2", "5 < 6 && 7 > 2"),
      ("<SCRIPT>UPPER.case()</SCRIPT>kept", "kept"),
      ("multi\n\n  spaces\tand <br/> tags", "multi spaces and tags"),
      ("", ""))
    val out = cases.map(_._1).toDF("html")
      .select(TextAnalysis.stripHtml(col("html")).as("t"))
      .as[String].collect().toSeq
    assert(out === cases.map(_._2))
  }

  // ---- stripBoilerplateLines ----

  test("stripBoilerplateLines removes over-cap lines EVERYWHERE " +
      "(no first-occurrence survivor) and leaves under-cap lines alone") {
    // "cookie banner text here" in 4 docs (> cap 3), "unique content"
    // lines under cap, short line passes the minChars guard untouched
    val docs = (1 to 4).map { i =>
      (i.toLong, s"cookie banner text here\nunique content line $i\nok")
    }.toDF("doc_id", "text")
    val out = Dedup.stripBoilerplateLines(docs, "doc_id", "text",
        maxDocFreq = 3, minChars = 10)
      .orderBy("id").as[(Long, String, Long, Long)].collect().toSeq
    assert(out === (1 to 4).map(i =>
      (i.toLong, s"unique content line $i\nok", 3L, 1L)))
    // contrast: line DEDUP keeps the banner's first occurrence
    val dedup = Dedup.lineLevelDedup(docs, "doc_id", "text", minChars = 10)
      .filter(col("id") === 1L).select("text_dedup").as[String].head()
    assert(dedup.startsWith("cookie banner text here"))
  }

  // ---- incrementalClusters ----

  test("incrementalClusters: a batch doc bridging two stored clusters " +
      "merges them under the global min label, identical to rebuild") {
    val stored = Seq((2L, 2L), (3L, 2L), (10L, 10L), (11L, 10L), (50L, 50L))
      .toDF("doc_id", "cluster_rep")
    val batch = Seq(1L, 99L).toDF("id")
    val newPairs = Seq((1L, 3L), (1L, 11L)).toDF("a", "b")
    val inc = Dedup.incrementalClusters(stored, batch, newPairs)
      .as[(Long, Long)].collect().toMap
    // {1,2,3,10,11} merge under min id 1; 50 and 99 stay singletons
    assert(inc === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 1L,
      11L -> 1L, 50L -> 50L, 99L -> 99L))
    val scratch = Dedup.connectedComponents(
      Seq(1L, 2L, 3L, 10L, 11L, 50L, 99L).toDF("id"),
      Seq((2L, 3L), (10L, 11L), (1L, 3L), (1L, 11L)).toDF("a", "b"))
      .as[(Long, Long)].collect().toMap
    assert(inc === scratch)
  }

  test("incrementalClusters == from-scratch connectedComponents on the " +
      "real corpus (append == rebuild)") {
    val docs = Sampling.split(
      graft.sources.Sources.table(spark, sf0001, "documents"),
      col("doc_id"), 12, 2)
    val corpus = docs.filter(col("split") =!= "test")
    val batch = docs.filter(col("split") === "test")
    val stored = Dedup.connectedComponents(
      corpus.select(col("doc_id").as("id")),
      Dedup.ngramJaccardPairsPrefix(corpus, "doc_id", "text", 3, 0.8))
    val inc = Dedup.incrementalClusters(stored,
      batch.select(col("doc_id").as("id")),
      Dedup.ngramJaccardPairsPrefix(batch, "doc_id", "text", 3, 0.8)
        .select(col("a"), col("b"))
        .union(Dedup.crossJaccardPairs(batch, corpus, "doc_id", "text", 3, 0.8)
          .select(col("left_id").as("a"), col("right_id").as("b"))))
    val scratch = Dedup.connectedComponents(
      docs.select(col("doc_id").as("id")),
      Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8))
    assert(inc.except(scratch).isEmpty && scratch.except(inc).isEmpty)
    assert(inc.count() === docs.count())
  }

  // ---- chunkBySentences ----

  test("chunkBySentences: greedy packs that never split a sentence; " +
      "oversized sentence becomes its own chunk; empty docs vanish") {
    val docs = Seq(
      (1L, "Hello world. This is a test! Short. A much longer sentence " +
        "with many tokens here? End."),
      (2L, "One."),
      (3L, ""),
      (4L, "No punctuation at all just words")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkBySentences(docs, "doc_id", "text", 8)
      .orderBy("doc_id", "chunk_id")
      .as[(Long, Int, Long, String)].collect().toSeq
    assert(out === Seq(
      (1L, 0, 7L, "Hello world. This is a test! Short."),
      (1L, 1, 8L, "A much longer sentence with many tokens here?"),
      (1L, 2, 1L, "End."),
      (2L, 0, 1L, "One."),
      (4L, 0, 6L, "No punctuation at all just words")))
  }

  test("chunkBySentences: every chunk within cap unless it is a single " +
      "oversized sentence; chunk text round-trips the sentence stream") {
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
      .select(col("doc_id"), regexp_replace(col("text"),
        "(\\S+ \\S+ \\S+ \\S+ \\S+) ", "$1. ").as("text"))
    val cap = 24
    val chunks = TextAnalysis.chunkBySentences(docs, "doc_id", "text", cap)
      .cache()
    val over = chunks.filter(col("n_tokens") > cap)
      // an over-cap chunk must be one sentence: no sentence boundary
      // (punctuation+space) inside it
      .filter(col("chunk_text").rlike("[.!?]\\s"))
    assert(over.isEmpty)
    // token-preserving: per-doc token mass equals the source's
    val srcTok = docs.select(col("doc_id"),
      TextAnalysis.tokenCount(col("text")).cast("long").as("n")).cache()
    val sumTok = chunks.groupBy("doc_id").agg(sum("n_tokens").as("n"))
    val mismatch = srcTok.filter(col("n") > 0).join(sumTok, Seq("doc_id"))
      .filter(srcTok("n") =!= sumTok("n"))
    assert(mismatch.isEmpty)
    chunks.unpersist(); srcTok.unpersist()
  }
}
