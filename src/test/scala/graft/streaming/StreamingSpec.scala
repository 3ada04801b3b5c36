package graft.streaming

import graft.SparkSpec
import graft.operators.Events
import graft.sources.Sources
import org.apache.spark.sql.functions._
import java.nio.file.Files

class StreamingSpec extends SparkSpec {

  /** The file stream source needs a DIRECTORY; events.parquet is a single
    * file, so stage it (in raw nanos-as-long form) into a temp dir. */
  private def stageEventsDir(): String = {
    val tmp = Files.createTempDirectory("graft_stream").toFile
    tmp.deleteOnExit()
    Sources.events(spark, sf0001)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(tmp.getAbsolutePath)
    tmp.getAbsolutePath
  }

  test("streaming windowed counts == batch tumbling aggregate") {
    val stream = StreamingOps.eventsStream(spark, stageEventsDir())
    val q = StreamingOps.windowedCounts(stream, "1 hour", "10 minutes")
      .writeStream.outputMode("complete")
      .format("memory").queryName("win_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("win_out")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      val batch = Events.tumblingAgg(Sources.events(spark, sf0001), "1 hour")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("mapGroupsWithState running totals converge to batch group-by") {
    val stream = StreamingOps.eventsStream(spark, stageEventsDir())
    val q = StreamingOps.runningUserTotals(stream)
      .writeStream.outputMode("update")
      .format("memory").queryName("totals_out").start()
    try {
      q.processAllAvailable()
      // update mode: keep the LAST row per user across micro-batches
      val streamed = spark.table("totals_out")
        .withColumn("__seq", monotonically_increasing_id())
        .orderBy("__seq").collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      val batch = Sources.events(spark, sf0001)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("s"))
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming dedup: repeated event_ids collapse within the watermark") {
    val dir = stageEventsDir()
    // duplicate every event once (same event_ids appended)
    Sources.events(spark, sf0001)
      .withColumn("ts", expr("unix_micros(ts) * 1000"))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("append").parquet(dir)
    val stream = StreamingOps.eventsStream(spark, dir)
    val q = StreamingOps.dedupEvents(stream, "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").select("event_id").distinct().count()
      val total = spark.table("dedup_out").count()
      val expected = Sources.events(spark, sf0001).count()
      assert(total === expected, s"dedup emitted $total, expected $expected")
      assert(n === expected)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer matches batch sessionize exactly") {
    val dir = stageEventsDir()
    val stream = StreamingOps.eventsStream(spark, dir)
    val q = StreamingOps.customSessionizer(stream,
      java.time.Duration.ofMinutes(30), "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("fmgs_out").start()
    try {
      q.processAllAvailable()
      import spark.implicits._
      // far-future event: advances watermark so every timeout fires
      Seq((999999L, 4102444800000000L * 1000L, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.table("fmgs_out")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = graft.operators.Events
        .sessionize(Sources.events(spark, sf0001), "30 minutes")
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_us"),
          r.getAs[Long]("session_end_us"), r.getAs[Long]("n_events")))
        .toSet
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming SCD2: closed intervals == batch is_current=0 across micro-batch splits") {
    val tmp = Files.createTempDirectory("graft_scd2").toFile
    tmp.deleteOnExit()
    val dir = tmp.getAbsolutePath
    val ev = Sources.events(spark, sf0001)
      .withColumn("ts", expr("unix_micros(ts) * 1000")) // raw nanos form
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
    val m = ev.agg(expr("percentile_approx(ts, 0.5, 10000)")).head.getLong(0)
    // two micro-batches split at the median ts: per-key arrival stays
    // ts-ordered across the split (the CDC ordering contract)
    ev.filter(col("ts") < m).write.mode("overwrite").parquet(dir)
    val q = StreamingOps.scd2Stream(StreamingOps.eventsStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("scd2_out").start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table("scd2_out").count()
      ev.filter(col("ts") >= m).write.mode("append").parquet(dir)
      q.processAllAvailable()
      val streamed = spark.table("scd2_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      val batch = Events.scd2Intervals(Sources.events(spark, sf0001),
          "user_id", "event_type", "ts", "event_id")
        .filter(col("is_current") === 0)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // both micro-batches contributed (state really crossed the split)
      assert(afterFirst > 0 && afterFirst < streamed.size)
    } finally q.stop()
  }

  test("stream-static broadcast enrichment matches batch join") {
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    val stream = StreamingOps.eventsStream(spark, stageEventsDir())
    val q = StreamingOps.enrichWithDim(stream, dim, "event_type")
      .groupBy("event_type")
      .agg(round(sum(col("value") * col("weight")), 4).as("weighted"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      val batch = Sources.events(spark, sf0001).join(dim, "event_type")
        .groupBy("event_type")
        .agg(round(sum(col("value") * col("weight")), 4).as("weighted"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("foreachBatch sink: stream lands as partitioned parquet") {
    val out = Files.createTempDirectory("graft_stream_sink").toFile
    out.deleteOnExit()
    val stream = StreamingOps.eventsStream(spark, stageEventsDir())
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.sources.Sinks.writePartitioned(batch, out.getAbsolutePath,
            Seq("event_type"))
      }
      .start()
    try {
      q.processAllAvailable()
      val landed = spark.read.parquet(out.getAbsolutePath)
      assert(landed.count() === Sources.events(spark, sf0001).count())
      assert(out.listFiles().exists(f => f.getName.startsWith("event_type=")))
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join") {
    val dir = stageEventsDir()
    val stream = StreamingOps.eventsStream(spark, dir)
    val q = StreamingOps.intervalJoin(
        stream.filter(col("event_type") === "purchase"),
        stream.filter(col("event_type") === "view"),
        watermark = "10 minutes", horizon = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out").collect()
        .map(r => (r.getLong(0), r.getLong(3))).toSet
      val ev = Sources.events(spark, sf0001)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("p_ts"))
      val v = ev.filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
          col("ts").as("v_ts"))
      val batch = p.join(v,
          col("user_id") === col("v_user_id") &&
          col("v_ts") <= col("p_ts") &&
          col("v_ts") >= col("p_ts") - expr("interval 1 hour"))
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("incremental dedup stream: union over micro-batches == one-shot batch") {
    val docs = Sources.table(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    // stage the "new" docs as 3 files and feed them one per trigger, so
    // the stream really runs multiple micro-batches
    val tmp = Files.createTempDirectory("graft_dedup_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.incrementalDedup(stream, corpus,
      "doc_id", "text", n = 3, threshold = 0.5) { (pairs, id) =>
      collected.synchronized {
        batches += id
        collected ++= pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Dedup
        .crossJaccardPairs(newDocs, corpus, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty, "planted near-dups should cross the split")
    } finally q.stop()
  }

  test("incremental tfidf cosine stream: union over micro-batches == one-shot batch") {
    val docs = Sources.table(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val tmp = Files.createTempDirectory("graft_tfidf_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.incrementalTfidfCosine(stream, corpus,
      "doc_id", "text", threshold = 0.9, maxTermDfFrac = 0.5) { (pairs, id) =>
      collected.synchronized {
        batches += id
        collected ++= pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.TextAnalysis
        .tfidfCosineCrossPairs(newDocs, corpus, "doc_id", "text",
          threshold = 0.9, maxTermDfFrac = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty, "planted near-dups should cross the split")
    } finally q.stop()
  }

  test("incremental dsir scoring stream: union over micro-batches == one-shot batch") {
    val docs = Sources.table(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val tmp = Files.createTempDirectory("graft_dsir_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.incrementalDsirScores(stream, corpus,
      "doc_id", "text", col("source") === "src0", buckets = 256) { (scores, id) =>
      collected.synchronized {
        batches += id
        collected ++= scores.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Curation.dsirScoreFromWeights(
          newDocs, "doc_id", "text",
          graft.operators.Curation.dsirBucketWeights(corpus, "doc_id", "text",
            col("source") === "src0", buckets = 256), buckets = 256)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.size === newDocs.count(), "every streamed doc scored")
    } finally q.stop()
  }

  test("bloom-pruned incremental dedup stream == unpruned, even with a tiny lossy sketch") {
    val docs = Sources.table(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val tmp = Files.createTempDirectory("graft_dedup_bloom_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(2).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    // deliberately undersized sketch (high false-positive rate): FPs may
    // admit extra candidate docs but can never change the pair results
    val q = StreamingOps.incrementalDedupBloomPruned(stream, corpus,
      "doc_id", "text", n = 3, threshold = 0.5,
      expectedItems = 100L, numBits = 2048L) { (pairs, _) =>
      collected.synchronized {
        collected ++= pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Dedup
        .crossJaccardPairs(newDocs, corpus, "doc_id", "text", 3, 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty)
    } finally q.stop()
  }

  test("incremental semantic dedup stream: union over micro-batches == one-shot batch") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val newVecs = emb.filter(col("vec_id") % 2 === 1)
    val centroids = graft.operators.Clustering
      .trainCentroids(corpus, k = 8, iters = 2)
    val tmp = Files.createTempDirectory("graft_sem_stream").toFile
    tmp.deleteOnExit()
    newVecs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(newVecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.incrementalSemanticDedup(stream, corpus,
      centroids, threshold = 0.3) { (pairs, id) =>
      collected.synchronized {
        batches += id
        collected ++= pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Dedup
        .semanticCrossPairs(newVecs, corpus, centroids, threshold = 0.3)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty, "expected semantic cross pairs at threshold 0.3")
    } finally q.stop()
  }

  test("streaming knn retrieval: union over micro-batches == one-shot " +
      "knnJoinWithCentroids") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val queries = emb.filter(col("vec_id") % 2 === 1)
    val centroids = graft.operators.Clustering
      .trainCentroids(corpus, k = 8, iters = 2)
    val tmp = Files.createTempDirectory("graft_knn_stream").toFile
    tmp.deleteOnExit()
    queries.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(queries.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.streamingKnn(stream, corpus, centroids,
      k = 3) { (topk, id) =>
      collected.synchronized {
        batches += id
        collected ++= topk.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Similarity
        .knnJoinWithCentroids(queries, corpus, k = 3, centroids)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty)
    } finally q.stop()
  }

  test("streaming incremental diversity: fold over ORDERED triggers == " +
      "from-scratch rebuild (monotone-id induction)") {
    import graft.operators.{Clustering, Curation}
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus0 = emb.filter(col("vec_id") < 250)
    val cents = Clustering.trainCentroids(corpus0, k = 8, iters = 2)
    var store = Curation.diversitySelectWithCentroids(corpus0, cents, 0.4)
      .localCheckpoint(true)
    var embSoFar = corpus0.localCheckpoint(true)
    val tmp = Files.createTempDirectory("graft_div_stream").toFile
    tmp.deleteOnExit()
    // two files written SEQUENTIALLY in id order: FileStreamSource
    // processes by (modTime, path), so triggers arrive monotone —
    // the precondition for exact rebuild equality
    emb.filter(col("vec_id") >= 250 && col("vec_id") < 375).coalesce(1)
      .write.mode("append").parquet(tmp.getAbsolutePath)
    Thread.sleep(1100)
    emb.filter(col("vec_id") >= 375).coalesce(1)
      .write.mode("append").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(tmp.getAbsolutePath)
    var triggers = 0
    val q = StreamingOps.incrementalDiversityStream(stream, cents, 0.4)(
      () => (store, embSoFar),
      (fresh, b, _) => {
        store = store.union(fresh).localCheckpoint(true)
        embSoFar = embSoFar.union(b).localCheckpoint(true)
        triggers += 1
      })
    try {
      q.processAllAvailable()
      assert(triggers > 1, "expected multiple micro-batches")
      val rebuild = Curation.diversitySelectWithCentroids(emb, cents, 0.4)
      assert(store.except(rebuild).isEmpty && rebuild.except(store).isEmpty)
    } finally q.stop()
  }

  test("streaming hybrid retrieval: union over micro-batches == " +
      "one-shot hybridCrossTopKWithCentroids") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpusDocs = docs.filter(col("doc_id") % 2 === 0)
    val corpusEmb = emb.filter(col("vec_id") % 2 === 0)
    val queries = docs.filter(col("doc_id") % 2 === 1)
      .join(emb.filter(col("vec_id") % 2 === 1)
        .select(col("vec_id").as("doc_id"), col("embedding")), "doc_id")
    val centroids = graft.operators.Clustering
      .trainCentroids(corpusEmb, k = 8, iters = 2)
    val tmp = Files.createTempDirectory("graft_hyb_stream").toFile
    tmp.deleteOnExit()
    queries.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(queries.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.streamingHybridRetrieval(stream, corpusDocs,
      corpusEmb, centroids, k = 3, maxTermDfFrac = 0.5) { (topk, id) =>
      collected.synchronized {
        batches += id
        collected ++= topk.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Retrieval.hybridCrossTopKWithCentroids(
          queries.select(col("doc_id"), col("text")),
          queries.select(col("doc_id").as("vec_id"), col("embedding")),
          corpusDocs, corpusEmb, centroids, k = 3, maxTermDfFrac = 0.5)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty)
    } finally q.stop()
  }

  test("minhash incremental dedup stream vs persisted index == one-shot batch") {
    import graft.operators.Dedup
    val docs = Sources.table(spark, sf0001, "documents")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val corpusSigs = Dedup.minHashSignatures(
      Dedup.shingles(corpus, "doc_id", "text", 3), 128)
    graft.sources.Sinks.writeBucketed(corpusSigs, "graft_test_mh_sigs",
      Seq("id"), 4)
    val storedSigs = spark.table("graft_test_mh_sigs")
    graft.sources.Sinks.writeBucketed(
      Dedup.bandedSignatures(storedSigs, 128, 32), "graft_test_mh_bands",
      Seq("band_key"), 4)
    val storedBands = spark.table("graft_test_mh_bands")
    val tmp = Files.createTempDirectory("graft_mh_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream
      .schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.incrementalMinHashDedup(stream, storedBands, storedSigs,
      "doc_id", "text", n = 3, threshold = 0.5) { (pairs, id) =>
      collected.synchronized {
        batches += id
        collected ++= pairs.collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      }
    }
    val batchSigs = Dedup.minHashSignatures(
      Dedup.shingles(newDocs, "doc_id", "text", 3), 128).cache()
    try {
      q.processAllAvailable()
      val oneShot = Dedup.minHashLshCrossPairs(batchSigs, storedBands,
          storedSigs, threshold = 0.5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty, "planted near-dups should cross the split")
    } finally {
      q.stop()
      // un-unpersisted test caches poison EngineSweepSpec's
      // dirty-before-sweep precondition when suite order varies
      batchSigs.unpersist()
    }
  }

  test("watermark: sessions emit in append mode once watermark passes") {
    val dir = stageEventsDir()
    val stream = StreamingOps.eventsStream(spark, dir)
    val q = StreamingOps.sessionCounts(stream, "30 minutes", "10 minutes")
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try {
      q.processAllAvailable()
      // batch 2: one far-future event pushes the watermark past every session
      import spark.implicits._
      Seq((999999L, 4102444800000000L * 1000L, 1L, "click", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("append").parquet(dir)
      q.processAllAvailable()
      val emitted = spark.table("sess_out").count()
      val batchSessions = Events.sessionize(Sources.events(spark, sf0001), "30 minutes").count()
      assert(emitted === batchSessions,
        s"append-mode sessions $emitted != batch sessions $batchSessions")
    } finally q.stop()
  }

  test("streaming k-means assignment == batch assignment (stateless scoring)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids = graft.operators.Clustering
      .trainCentroids(emb, k = 8, iters = 2)
    // stage the embeddings as a file stream
    val tmp = Files.createTempDirectory("graft_emb_stream").toFile
    tmp.deleteOnExit()
    emb.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(emb.schema)
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.assignToCentroids(stream, centroids)
      .writeStream.outputMode("append")
      .format("memory").queryName("km_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("km_out").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
      val batch = graft.operators.Clustering.kMeansAssign(emb, k = 8, iters = 2)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
      assert(streamed === batch)
      assert(streamed.size === 500)
    } finally q.stop()
  }

  test("streaming k-means assignment ABOVE the literal cap == batch " +
      "(closure scorer; the batch join path would be an illegal " +
      "streaming aggregation)") {
    // k=40 > LiteralArgminMax=32: batch scores via the broadcast-join
    // min-aggregate; a stream can't (groupBy = state), so assign routes
    // the streaming input through the per-partition closure scorer —
    // this pins that the two formulations agree EXACTLY (same dots,
    // same clamp, same tie rule, same 4dp rounding)
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val centroids: Seq[(Int, Seq[Double])] = emb
      .orderBy(col("vec_id")).limit(40)
      .select(col("embedding").cast("array<double>"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toSeq) }
    val tmp = Files.createTempDirectory("graft_emb_stream_wide").toFile
    tmp.deleteOnExit()
    emb.write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(emb.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.assignToCentroids(stream, centroids)
      .writeStream.outputMode("append")
      .format("memory").queryName("km_wide_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("km_wide_out").collect()
        .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
      val batch = graft.operators.Clustering.assign(emb, centroids)
        .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
      assert(streamed === batch)
      assert(streamed.size === 500)
    } finally q.stop()
  }

  test("streaming fingerprint probe against a static index: union of " +
      "landmark matches over micro-batches == the batch join exactly") {
    import graft.multimodal.Multimodal
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(length(encode(col("text"), "UTF-8")) > 0)
    def wav(df: org.apache.spark.sql.DataFrame) =
      Multimodal.encodePcmWav(
        Multimodal.asMedia(
          df.withColumn("payload", encode(col("text"), "UTF-8")),
          "doc_id", "payload", "text/plain"),
        sampleRate = 8000)
    // static index from the even docs; odd docs arrive as WAV payloads
    val index = Multimodal.audioFingerprints(
      wav(docs.filter(col("doc_id") % 2 === 0)), frameSize = 64)
      .toDF().cache()
    index.count()
    val batchWav = wav(docs.filter(col("doc_id") % 2 === 1)).toDF()
      .select(col("id").as("doc_id"), col("payload"))
    val tmp = Files.createTempDirectory("graft_afp_stream").toFile
    tmp.deleteOnExit()
    batchWav.repartition(3).write.mode("overwrite")
      .parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(batchWav.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.streamingAudioFingerprintProbe(stream,
        "doc_id", "payload", "audio/wav", index)
      .writeStream.outputMode("append")
      .format("memory").queryName("afp_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("afp_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4)))
      val oneShot = StreamingOps.streamingAudioFingerprintProbe(
          spark.read.schema(batchWav.schema).parquet(tmp.getAbsolutePath),
          "doc_id", "payload", "audio/wav", index)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getInt(4)))
      assert(streamed.sorted.toSeq === oneShot.sorted.toSeq)
      assert(streamed.nonEmpty)
    } finally {
      q.stop()
      index.unpersist()
    }
  }

  test("streaming KN-LM scoring against a static model: union of " +
      "scored bigrams over micro-batches == the batch stage exactly") {
    import graft.operators.NgramLm
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("text", coalesce(col("text"), lit("")))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    val (big, ctx, cont) = NgramLm.bigramModel(corpus, "doc_id", "text")
    val bigC = big.cache()
    val t = bigC.count()
    val tmp = Files.createTempDirectory("graft_kn_stream").toFile
    tmp.deleteOnExit()
    batch.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.streamingBigramKnScores(stream, bigC, ctx, cont,
        t, "doc_id", "text")
      .writeStream.outputMode("append")
      .format("memory").queryName("kn_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("kn_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3)))
      val oneShot = NgramLm.scoredBigrams(batch, bigC, ctx, cont, t,
          "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getDouble(3)))
      // multiset equality: a doc can repeat a bigram, so compare sorted
      assert(streamed.sorted.toSeq === oneShot.sorted.toSeq)
      assert(streamed.nonEmpty)
    } finally {
      q.stop()
      bigC.unpersist()
    }
  }

  test("streaming ORDER-3 KN scoring against a static model: union of " +
      "scored trigram windows over micro-batches == the batch stage " +
      "exactly (2n-1 stream-static equi-joins, stateless)") {
    import graft.operators.NgramLm
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("text", coalesce(col("text"), lit("")))
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val batch = docs.filter(col("doc_id") % 2 === 1)
      .select("doc_id", "text")
    val counts0 = NgramLm.knCounts(corpus, "doc_id", "text", 3)
    val counts = counts0 + (3 -> counts0(3).cache())
    val t = counts(2).count()
    val tmp = Files.createTempDirectory("graft_kn3_stream").toFile
    tmp.deleteOnExit()
    batch.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.streamingKnScores(stream, counts, t,
        "doc_id", "text", n = 3)
      .writeStream.outputMode("append")
      .format("memory").queryName("kn3_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("kn3_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getDouble(4)))
      val oneShot = NgramLm.scoredNgrams(batch, counts, t,
          "doc_id", "text", 3)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getDouble(4)))
      assert(streamed.sorted.toSeq === oneShot.sorted.toSeq)
      assert(streamed.nonEmpty)
    } finally {
      q.stop()
      counts0(3).unpersist()
    }
  }

  test("multimodal codec paths run on streams: streaming decode == batch decode") {
    // the codec stages are stateless typed mapPartitions, so they apply
    // to a streaming Dataset unchanged — this pins that the REAL
    // PNG/WAV round trips (not just the plumbing) hold under
    // micro-batched execution
    import graft.multimodal.Multimodal
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val tmp = Files.createTempDirectory("graft_mm_stream").toFile
    tmp.deleteOnExit()
    docs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = Multimodal.decodeAudioFeatures(
        Multimodal.encodePcmWav(
          Multimodal.asMedia(stream, "doc_id", "payload", "text/plain")))
      .toDF()
      .writeStream.outputMode("append")
      .format("memory").queryName("mm_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("mm_out").collect()
        .map(r => (r.getLong(0), r.getLong(4), r.getLong(6))).toSet
      val batch = Multimodal.decodeAudioFeatures(
          Multimodal.encodePcmWav(
            Multimodal.asMedia(docs, "doc_id", "payload", "text/plain")))
        .toDF()
        .collect().map(r => (r.getLong(0), r.getLong(4), r.getLong(6))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming pq encode == batch encode (corpus-trained codebooks)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val newVecs = emb.filter(col("vec_id") % 2 === 1)
    val tmp = Files.createTempDirectory("graft_pq_stream").toFile
    tmp.deleteOnExit()
    newVecs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(newVecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.incrementalPqEncode(stream, corpus, dim = 64)
      .writeStream.outputMode("append")
      .format("memory").queryName("pq_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pq_out").collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      val cbs = graft.operators.Similarity.pqCodebooks(corpus, dim = 64)
      val batch = graft.operators.Similarity.pqEncode(newVecs, cbs, dim = 64)
        .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      assert(streamed === batch)
      assert(streamed.size === newVecs.count())
    } finally q.stop()
  }

  test("streaming PCA projection == batch projection (corpus-trained component)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val newVecs = emb.filter(col("vec_id") % 2 === 1)
    val tmp = Files.createTempDirectory("graft_pca_stream").toFile
    tmp.deleteOnExit()
    newVecs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(newVecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.incrementalPcaProject(stream, corpus)
      .writeStream.outputMode("append")
      .format("memory").queryName("pca_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pca_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val tc = graft.operators.Pca.trainTopComponent(corpus, "vec_id", "embedding", 4)
      val batch = graft.operators.Pca.project(newVecs, "vec_id", "embedding", tc)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed === batch)
      assert(streamed.size === newVecs.count())
    } finally q.stop()
  }

  test("streaming logreg scoring == batch scoring (corpus-trained model)") {
    val emb = spark.read.parquet(s"$sf0001/embeddings.parquet")
    val corpus = emb.filter(col("vec_id") % 2 === 0)
    val newVecs = emb.filter(col("vec_id") % 2 === 1)
    val tmp = Files.createTempDirectory("graft_lr_stream").toFile
    tmp.deleteOnExit()
    newVecs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(newVecs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.incrementalLogRegScores(stream, corpus,
        "vec_id", "embedding", col("label") === 1, steps = 2, lr = 1.0)
      .writeStream.outputMode("append")
      .format("memory").queryName("lr_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("lr_out").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val w = graft.operators.Classification.trainLogReg(corpus,
        "vec_id", "embedding", col("label") === 1, steps = 2, lr = 1.0)
      val batch = graft.operators.Classification
        .scoreLogReg(newVecs, "vec_id", "embedding", w)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      assert(streamed === batch)
      assert(streamed.size === newVecs.count())
    } finally q.stop()
  }

  test("runningAggState in update mode converges to batch aggState") {
    val stream = StreamingOps.eventsStream(spark, stageEventsDir())
    val q = StreamingOps.runningAggState(stream, Seq("user_id"), "value")
      .writeStream.outputMode("update")
      .format("memory").queryName("aggstate_out").start()
    try {
      q.processAllAvailable()
      // update mode: keep the LAST emitted row per key
      val streamed = spark.table("aggstate_out")
        .withColumn("__seq", monotonically_increasing_id())
        .orderBy("__seq").collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), math.rint(r.getDouble(2) * 1e4) / 1e4,
            r.getDouble(3), r.getDouble(4))).toMap
      val batch = graft.operators.Upsert
        .aggState(Sources.events(spark, sf0001), Seq("user_id"), "value")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), math.rint(r.getDouble(2) * 1e4) / 1e4,
            r.getDouble(3), r.getDouble(4))).toMap
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("incrementalAggStateDeltas: per-batch deltas fold to the one-shot state") {
    val ev = Sources.events(spark, sf0001)
    val tmp = Files.createTempDirectory("graft_aggstate_stream").toFile
    tmp.deleteOnExit()
    ev.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val deltas = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val batches = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = StreamingOps.incrementalAggStateDeltas(
        stream, Seq("user_id"), "value") { (delta, id) =>
      deltas.synchronized { batches += id; deltas += delta.cache() }
    }
    try {
      q.processAllAvailable()
      assert(batches.distinct.size > 1, "expected multiple micro-batches")
      val folded = deltas.reduce((a, b) =>
        graft.operators.Upsert.mergeAggStates(a, b, Seq("user_id")))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), math.rint(r.getDouble(2) * 1e4) / 1e4,
            r.getDouble(3), r.getDouble(4))).toMap
      val oneShot = graft.operators.Upsert
        .aggState(ev, Seq("user_id"), "value")
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), math.rint(r.getDouble(2) * 1e4) / 1e4,
            r.getDouble(3), r.getDouble(4))).toMap
      assert(folded === oneShot)
    } finally {
      q.stop()
      deltas.foreach(_.unpersist())
    }
  }

  test("streaming drift monitor: each trigger's PSI == batch psiKs of that file") {
    val ev = Sources.events(spark, sf0001)
    val reference = ev.filter(col("user_id") % 2 === 0).select("value").cache()
    val cur = ev.filter(col("user_id") % 2 === 1).select("value")
    val tmp = Files.createTempDirectory("graft_drift_stream").toFile
    tmp.deleteOnExit()
    cur.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(cur.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long, Long)]
    val q = StreamingOps.driftMonitor(stream, reference, "value", 8) { (df, _) =>
      collected.synchronized {
        collected ++= df.collect()
          .map(r => (r.getAs[Double]("psi"), r.getAs[Double]("ks_stat"),
            r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur")))
      }
    }
    try {
      q.processAllAvailable()
      val files = tmp.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length > 1, "expected multiple staged files")
      val expected = files.map { f =>
        val r = graft.operators.Drift
          .psiKs(reference, spark.read.parquet(f.getAbsolutePath), "value", 8)
          .collect().head
        (r.getAs[Double]("psi"), r.getAs[Double]("ks_stat"),
          r.getAs[Long]("n_ref"), r.getAs[Long]("n_cur"))
      }.toSet
      assert(collected.size === files.length)
      assert(collected.toSet === expected)
    } finally {
      q.stop()
      reference.unpersist()
    }
  }

  test("streaming line dedup: union over micro-batches == one-shot batch rewrite") {
    val docs = Sources.table(spark, sf0001, "documents")
      // give docs real line structure: break each into 6-word lines
      .withColumn("toks", org.apache.spark.sql.functions.split(col("text"), "\\s+"))
      .withColumn("text_lines",
        concat_ws("\n",
          org.apache.spark.sql.functions.transform(
            sequence(lit(0), expr("(size(toks) + 5) div 6").cast("int") - 1),
            i => array_join(slice(col("toks"), i * lit(6) + 1, lit(6)), " "))))
      .select("doc_id", "text_lines")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val index = graft.operators.Dedup
      .lineHashIndex(corpus, "doc_id", "text_lines").cache()
    val tmp = Files.createTempDirectory("graft_linededup_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, Long, Long)]
    val q = StreamingOps.incrementalLineDedup(stream, index,
      "doc_id", "text_lines") { (out, _) =>
      collected.synchronized {
        collected ++= out.collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Dedup
        .lineLevelCrossDedup(newDocs, index, "doc_id", "text_lines")
        .collect().map(r =>
          (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
      assert(collected.toSet === oneShot)
      assert(collected.size === newDocs.count())
      assert(oneShot.exists(_._4 > 0), "cross-split duplicate lines expected")
    } finally {
      q.stop()
      index.unpersist()
    }
  }

  test("streaming char spans: union over micro-batches == one-shot batch screening") {
    val docs = Sources.table(spark, sf0001, "documents")
      .select("doc_id", "text")
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val newDocs = docs.filter(col("doc_id") % 2 === 1)
    val index = graft.operators.Dedup
      .charGramIndex(corpus, "doc_id", "text", minLen = 24).cache()
    val tmp = Files.createTempDirectory("graft_charspan_stream").toFile
    tmp.deleteOnExit()
    newDocs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(newDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, String)]
    val q = StreamingOps.incrementalCharSpans(stream, index,
      "doc_id", "text", minLen = 24) { (out, _) =>
      collected.synchronized {
        collected ++= out.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4)))
      }
    }
    try {
      q.processAllAvailable()
      val oneShot = graft.operators.Dedup
        .duplicateCharSpansAgainst(newDocs, index, "doc_id", "text", minLen = 24)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(4))).toSet
      assert(collected.toSet === oneShot)
      assert(oneShot.nonEmpty, "cross-split duplicated spans expected")
    } finally {
      q.stop()
      index.unpersist()
    }
  }

  test("streaming categorical drift: each trigger == batch categoricalDrift of that file") {
    val ev = Sources.events(spark, sf0001)
    val reference = ev.filter(col("user_id") % 2 === 0)
      .select("event_type").cache()
    val cur = ev.filter(col("user_id") % 2 === 1).select("event_type")
    val tmp = Files.createTempDirectory("graft_catdrift_stream").toFile
    tmp.deleteOnExit()
    cur.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(cur.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val collected =
      scala.collection.mutable.ArrayBuffer.empty[(Double, Double, Long)]
    val q = StreamingOps.categoricalDriftMonitor(stream, reference,
      "event_type") { (df, _) =>
      collected.synchronized {
        collected ++= df.collect().map(r =>
          (r.getAs[Double]("js_divergence"), r.getAs[Double]("tvd"),
            r.getAs[Long]("n_cur")))
      }
    }
    try {
      q.processAllAvailable()
      val files = tmp.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(files.length > 1)
      val expected = files.map { f =>
        val r = graft.operators.Drift.categoricalDrift(
          reference, spark.read.parquet(f.getAbsolutePath), "event_type")
          .collect().head
        (r.getAs[Double]("js_divergence"), r.getAs[Double]("tvd"),
          r.getAs[Long]("n_cur"))
      }.toSet
      assert(collected.size === files.length)
      assert(collected.toSet === expected)
    } finally {
      q.stop()
      reference.unpersist()
    }
  }

  test("incrementalHllStateDeltas: folded sketches estimate == one-shot state") {
    val ev = Sources.events(spark, sf0001).select("event_type", "user_id")
    val tmp = Files.createTempDirectory("graft_hllstate_stream").toFile
    tmp.deleteOnExit()
    ev.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val deltas = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val q = StreamingOps.incrementalHllStateDeltas(
        stream, Seq("event_type"), "user_id") { (delta, _) =>
      deltas.synchronized { deltas += delta.cache() }
    }
    def estimates(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"),
        expr("hll_sketch_estimate(hll_sk)").as("est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    try {
      q.processAllAvailable()
      assert(deltas.size > 1, "expected multiple micro-batches")
      val folded = deltas.reduce((a, b) =>
        StreamingOps.mergeHllStates(a, b, Seq("event_type")))
      val oneShot = StreamingOps.hllState(ev, Seq("event_type"), "user_id")
      assert(estimates(folded) === estimates(oneShot))
      // and the sketch estimate tracks the exact distinct within HLL error
      val exact = ev.groupBy("event_type")
        .agg(countDistinct(col("user_id")).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      estimates(oneShot).foreach { case (k, est) =>
        assert(math.abs(est - exact(k)).toDouble / exact(k) < 0.05,
          s"$k: est=$est exact=${exact(k)}")
      }
    } finally {
      q.stop()
      deltas.foreach(_.unpersist())
    }
  }

  test("incrementalTopKStateDeltas: folded sketches == one-shot heavy hitters") {
    val ev = Sources.events(spark, sf0001).select("event_type", "user_id")
      .withColumn("u", col("user_id").cast("string"))
      .select("event_type", "u")
    val tmp = Files.createTempDirectory("graft_topkstate_stream").toFile
    tmp.deleteOnExit()
    ev.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val deltas = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.DataFrame]
    val q = StreamingOps.incrementalTopKStateDeltas(
        stream, Seq("event_type"), "u") { (delta, _) =>
      deltas.synchronized { deltas += delta.cache() }
    }
    // distinct users per type fit maxItemsTracked, so estimates are exact
    def top5(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"),
        expr("approx_top_k_estimate(topk_sk, 5)").as("tk"))
      .collect().map { r =>
        r.getString(0) -> r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getString(0), x.getLong(1))).sortBy(t => (-t._2, t._1))
      }.toMap
    try {
      q.processAllAvailable()
      assert(deltas.size > 1, "expected multiple micro-batches")
      val folded = deltas.reduce((a, b) =>
        StreamingOps.mergeTopKStates(a, b, Seq("event_type")))
      val oneShot = StreamingOps.topKState(ev, Seq("event_type"), "u")
      assert(top5(folded) === top5(oneShot))
      assert(top5(oneShot).nonEmpty)
    } finally {
      q.stop()
      deltas.foreach(_.unpersist())
    }
  }

  test("streaming incremental clusters across micro-batches == " +
      "from-scratch clustering (append == rebuild by induction)") {
    import graft.operators.{Dedup, Sampling}
    val docs = Sampling.split(
      spark.read.parquet(s"$sf0001/documents.parquet"), col("doc_id"), 12, 2)
    val corpus0 = docs.filter(col("split") =!= "test")
      .select("doc_id", "text")
    val batchDocs = docs.filter(col("split") === "test")
      .select("doc_id", "text")
    val tmp = Files.createTempDirectory("graft_cc_stream").toFile
    tmp.deleteOnExit()
    batchDocs.repartition(2).write.mode("overwrite")
      .parquet(tmp.getAbsolutePath)
    var labels = Dedup.connectedComponents(
        corpus0.select(col("doc_id").as("id")),
        Dedup.ngramJaccardPairsPrefix(corpus0, "doc_id", "text", 3, 0.8))
      .localCheckpoint(true)
    var corpus = corpus0.localCheckpoint(true)
    var triggers = 0
    val stream = spark.readStream.schema(batchDocs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.incrementalClustersStream(
      stream, "doc_id", "text", 3, 0.8)(
      () => (labels, corpus),
      (next, b, _) => {
        labels = next.localCheckpoint(true)
        corpus = corpus.union(b.select("doc_id", "text")).localCheckpoint(true)
        triggers += 1
      })
    try {
      q.processAllAvailable()
      assert(triggers > 1, "expected multiple micro-batches")
      val scratch = Dedup.connectedComponents(
        docs.select(col("doc_id").as("id")),
        Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8))
      assert(labels.except(scratch).isEmpty &&
        scratch.except(labels).isEmpty)
      assert(labels.count() === docs.count())
    } finally q.stop()
  }

  test("streaming sentence chunking == batch (stateless per-doc fold, " +
      "micro-batching invariant)") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), regexp_replace(col("text"),
        "(\\S+ \\S+ \\S+ \\S+ \\S+) ", "$1. ").as("text_s"))
    val tmp = Files.createTempDirectory("graft_chunk_stream").toFile
    tmp.deleteOnExit()
    docs.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(tmp.getAbsolutePath)
    val q = StreamingOps.chunkSentencesStream(stream, "doc_id", "text_s", 24)
      .writeStream.outputMode("append")
      .format("memory").queryName("chunk_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("chunk_out").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
        .toSet
      val batch = graft.operators.TextAnalysis
        .chunkBySentences(docs, "doc_id", "text_s", 24).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getString(3)))
        .toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming frame features: union over micro-batches == one-shot " +
      "batch (REAL AVI demux per trigger, strict no-stand-in mode)") {
    import spark.implicits._
    import graft.multimodal.{AviMjpeg, MediaCodecs, Multimodal}
    val docs = Sources.table(spark, sf0001, "documents")
      .filter(length(encode(col("text"), "UTF-8")) > 0).limit(9)
    val avi = docs
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("p"))
      .as[(Long, Array[Byte])]
      .map { case (id, p) =>
        val frames = MediaCodecs.ByteSliceDemux.demux(p, 64, 4)
          .map(f => Multimodal.grayPngBytes(f._3, 16)).toSeq
        (id, AviMjpeg.mux(frames, width = 16, height = 4, fps = 5))
      }.toDF("id", "payload")
    val tmp = Files.createTempDirectory("graft_frame_stream").toFile
    tmp.deleteOnExit()
    avi.repartition(3).write.mode("overwrite").parquet(tmp.getAbsolutePath)
    val stream = spark.readStream.schema(avi.schema)
      .option("maxFilesPerTrigger", "1").parquet(tmp.getAbsolutePath)
    val q = StreamingOps.streamingFrameFeatures(stream, "id", "payload",
        "video/x-msvideo", requireReal = true)
      .writeStream.format("memory").queryName("graft_ff_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(q.recentProgress.count(_.numInputRows > 0) > 1,
        "expected multiple non-empty micro-batches")
      def key(r: org.apache.spark.sql.Row) =
        (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getDouble(4), r.getSeq[Float](5).toList)
      val streamed = spark.table("graft_ff_stream").collect().map(key).toSet
      // the op is mode-agnostic — run it on the same frame as a batch
      val oneShot = StreamingOps.streamingFrameFeatures(avi, "id",
        "payload", "video/x-msvideo", requireReal = true)
        .toDF().collect().map(key).toSet
      assert(streamed === oneShot)
      assert(oneShot.nonEmpty && oneShot.exists(_._2 > 0),
        "multi-frame videos must contribute several frames")
    } finally q.stop()
  }

  test("streaming assign: vec_id is LONG on BOTH sides of the literal " +
      "cap, so a sink schema cannot change when k grows past 32") {
    import org.apache.spark.sql.types._
    // schema-only check: an unbounded source with INT ids on purpose —
    // the plan (and its sink schema) builds without starting the query
    val tmp = java.nio.file.Files
      .createTempDirectory("graft_assign_schema").toFile
    tmp.deleteOnExit()
    val stream = spark.readStream
      .schema(new StructType().add("vec_id", IntegerType)
        .add("embedding", ArrayType(DoubleType)))
      .parquet(tmp.getAbsolutePath)
    def schemaAt(k: Int): org.apache.spark.sql.types.StructType = {
      val cents = (0 until k).map(i => (i, Seq(i.toDouble, 0.0)))
      graft.streaming.StreamingOps.assignToCentroids(stream, cents).schema
    }
    val small = schemaAt(8)   // literal argmin path
    val wide = schemaAt(40)   // closure path
    // names + types (nullability legitimately differs between the
    // expression and the tuple-encoded closure paths)
    def sig(s: StructType) = s.map(f => (f.name, f.dataType))
    assert(sig(small) === sig(wide),
      s"schema flips across the literal cap:\n$small\nvs\n$wide")
    assert(small("vec_id").dataType === LongType)
  }
}
