package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Empty-input robustness: every operator family must return an empty
  * (not crashed, not null-poisoned) result on an empty table with the
  * right schema — what incremental pipelines hit on quiet days. */
class EdgeCasesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emptyDocs = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType))))

  private lazy val emptyEmb = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType))))

  test("dedup family on empty input") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.exactSurvivors(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text", 3, 0.8).count() === 0)
    assert(Dedup.ngramJaccardPairsPrefix(emptyDocs, "doc_id", "text", 3, 0.8).count() === 0)
    assert(Dedup.minHashLshPairs(emptyDocs, "doc_id", "text", 3, 0.8).count() === 0)
    assert(Dedup.simHashPairs(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(Dedup.connectedComponents(
      emptyDocs.select(col("doc_id").as("id")),
      Seq.empty[(Long, Long)].toDF("a", "b")).count() === 0)
  }

  test("similarity family on empty input") {
    assert(Similarity.bruteForceTopK(emptyEmb, 5).count() === 0)
    assert(Similarity.exactNeardupPairs(emptyEmb, 0.4).count() === 0)
    assert(Similarity.srpNeardupPairs(emptyEmb, 64, 0.4).count() === 0)
    assert(Similarity.ivfTopK(emptyEmb, 5, nCells = 4).count() === 0)
  }

  test("curation on empty input") {
    assert(Curation.curate(emptyDocs).count() === 0)
  }

  test("round-2 operators on empty input") {
    assert(Dedup.containmentPairs(emptyDocs, "doc_id", "text", 3, 0.9).count() === 0)
    assert(Dedup.containmentPairsPrefix(emptyDocs, "doc_id", "text", 3, 0.9).count() === 0)
    assert(Dedup.crossJaccardPairs(emptyDocs, emptyDocs, "doc_id", "text", 3, 0.8)
      .count() === 0)
    assert(Curation.decontaminate(emptyDocs, emptyDocs, "doc_id", "text", 8)
      .count() === 0)
    assert(Dedup.dupNgramStats(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(Dedup.removeDuplicateSpans(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(Curation.dsirWeights(emptyDocs, "doc_id", "text",
      lit(true), buckets = 16).count() === 0)
    assert(Curation.dsirResample(emptyDocs, "doc_id", "text",
      lit(true), k = 5, buckets = 16).count() === 0)
    assert(TextAnalysis.repetitionFeatures(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(TextAnalysis.unigramLogProb(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.packSequences(emptyDocs, "doc_id", "text", "source", 512L)
      .count() === 0)
    val emptyEdges = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Graph.pageRank(emptyEdges, 0.85, 3).count() === 0)
    val emptyTok = emptyDocs.withColumn("n_tokens", lit(1L))
    // min() over zero strata yields a null target; rates join empty ->
    // empty output, no crash, no null-poisoned rows
    assert(Sampling.rebalanceByTokens(emptyTok, col("doc_id"), col("lang"),
      col("n_tokens")).count() === 0)
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))))
    val funnelCounts = Events.funnel(emptyEv, Seq("view", "click"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(funnelCounts === Map("view" -> 0L, "click" -> 0L))
    assert(Events.cohortRetention(emptyEv).count() === 0)
  }

  test("round-3 operators on empty input") {
    assert(Stats.histogram(emptyDocs.withColumn("v", lit(1.0)), "v", 10).count() === 0)
    assert(Stats.winsorizedStats(emptyDocs.withColumn("v", lit(1.0)), "lang", "v")
      .count() === 0)
    assert(Stats.madOutliers(emptyDocs.withColumn("v", lit(1.0)), "lang", "v")
      .count() === 0)
    assert(Stats.keySkew(emptyDocs, "lang").collect().head.getLong(0) === 0L)
    // checksum of nothing: 0 rows, null (not garbage) checksum
    val ck = Stats.tableChecksum(emptyDocs, Seq("doc_id", "text")).collect().head
    assert(ck.getLong(0) === 0L && ck.isNullAt(1))
    assert(BandJoin.selfBandJoin(emptyDocs.withColumn("v", lit(1.0)),
      "doc_id", "v", 1.0, "lang").count() === 0)
    // empty FACT side (empty dim is covered in BloomPruneSpec)
    assert(BloomPrune.semiJoin(emptyDocs, "doc_id",
      Seq(1L).toDF("doc_id"), "doc_id").count() === 0)
    assert(TextAnalysis.compressionRatio(emptyDocs, "doc_id", "text").count() === 0)
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType))))
    assert(Events.cumulativeUsers(emptyEv).count() === 0)
    assert(Events.activityStreaks(emptyEv).count() === 0)
  }

  test("round-3 batch-2 operators on empty input") {
    assert(Clustering.kMeansAssign(emptyEmb, k = 4, iters = 2).count() === 0)
    assert(Similarity.quantizeInt8(emptyEmb).count() === 0)
    assert(emptyDocs.select(TextAnalysis.maskPii(col("text")),
      TextAnalysis.piiSpanCount(col("text"))).count() === 0)
    val emptyEv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("ts", TimestampType),
        StructField("value", DoubleType))))
    // empty input -> null min/max -> null sequence -> empty spine
    assert(Events.gapFillDaily(emptyEv, col("ts"), col("value")).count() === 0)
    assert(TextAnalysis.chunkDocuments(emptyDocs, "doc_id", "text", 8, 4)
      .count() === 0)
    assert(TextAnalysis.vocabCoverage(emptyDocs, "doc_id", "text", 10)
      .count() === 0)
    assert(Sampling.balanceLabels(emptyDocs, col("lang"), col("doc_id"))
      .count() === 0)
    val emptyTsv = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("user_id", LongType),
        StructField("ts", TimestampType), StructField("value", DoubleType))))
    assert(Events.decayedSum(emptyTsv, col("user_id"), col("ts"),
      col("value"), 1.0).count() === 0)
  }

  test("round-4 operators on empty input") {
    assert(Dedup.semanticPairs(emptyEmb, 0.4).count() === 0)
    // empty corpus -> no trained centroids -> empty cross pairs
    assert(Dedup.semanticCrossPairs(emptyEmb, emptyEmb,
      graft.operators.Clustering.trainCentroids(emptyEmb, 4, 2), 0.4)
      .count() === 0)
    assert(TextAnalysis.tfidfCosinePairs(emptyDocs, "doc_id", "text", 0.5)
      .count() === 0)
    assert(TextAnalysis.tfidfCosineCrossPairs(emptyDocs, emptyDocs,
      "doc_id", "text", 0.5).count() === 0)
    assert(Stats.distributedNtile(
      emptyDocs.select(col("doc_id"), col("doc_id").cast("double").as("v")),
      "v", "doc_id", 10).count() === 0)
    val media = graft.multimodal.Multimodal.asMedia(
      emptyDocs.withColumn("payload", encode(col("text"), "UTF-8")),
      "doc_id", "payload", "text/plain")
    assert(graft.multimodal.Multimodal.decodeImageFeatures(
      graft.multimodal.Multimodal.encodeGrayPng(media)).count() === 0)
    val emptySigs = Dedup.minHashSignatures(
      Dedup.shingles(emptyDocs, "doc_id", "text", 3), 32)
    assert(Dedup.bandedSignatures(emptySigs, 32, 8).count() === 0)
    assert(Dedup.minHashLshCrossPairs(emptySigs,
      Dedup.bandedSignatures(emptySigs, 32, 8), emptySigs, 0.8,
      numHashes = 32, bands = 8).count() === 0)
  }

  test("round-5 operators on empty input") {
    assert(TextAnalysis.bm25Scores(emptyDocs, "doc_id", "text",
      Seq("vector", "dup")).count() === 0)
    intercept[IllegalArgumentException] {
      TextAnalysis.bm25Scores(emptyDocs, "doc_id", "text", Seq.empty)
    }
    val emptySimSigs = Dedup.simHashSignatures(
      Dedup.shingles(emptyDocs, "doc_id", "text", 3))
    assert(Dedup.simHashBlocks(emptySimSigs, maxHamming = 8).count() === 0)
    assert(Dedup.simHashCrossPairs(emptySimSigs,
      Dedup.simHashBlocks(emptySimSigs, 8), 8).count() === 0)
    assert(Similarity.srpBandedSignatures(emptyEmb, dim = 64).count() === 0)
    assert(Similarity.srpNeardupCrossPairs(emptyEmb,
      Similarity.srpBandedSignatures(emptyEmb, dim = 64), emptyEmb,
      dim = 64, threshold = 0.4).count() === 0)
  }

  test("bm25: rare terms outscore ubiquitous ones; non-matching docs absent") {
    // 3 docs: 'dup' appears in one (rare, high idf), 'the' in all
    // (idf floor ~ln(1 + 0.5/3.5) but never negative in the Lucene form)
    val docs = Seq(
      (1L, "the dup the", "en", "s"),
      (2L, "the word other", "en", "s"),
      (3L, "unrelated text entirely", "en", "s")
    ).toDF("doc_id", "text", "lang", "source")
    val got = TextAnalysis.bm25Scores(docs, "doc_id", "text", Seq("the", "dup"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap
    assert(got.keySet === Set(1L, 2L)) // doc 3 matches nothing -> absent
    assert(got(1L)._2 === 2L && got(2L)._2 === 1L)
    assert(got(1L)._1 > got(2L)._1, s"doc with the rare term must outrank: $got")
  }

  test("single-row inputs produce no pairs but survive") {
    val one = Seq((1L, "only one document here", "en", "s")).toDF("doc_id", "text", "lang", "source")
    assert(Dedup.ngramJaccardPairsPrefix(one, "doc_id", "text", 3, 0.8).count() === 0)
    assert(Dedup.exactSurvivors(one, "doc_id", "text").count() === 1)
    val oneEmb = Seq((1L, Seq.fill(64)(0.1f), 0)).toDF("vec_id", "embedding", "label")
    assert(Similarity.exactNeardupPairs(oneEmb, 0.4).count() === 0)
    assert(Similarity.ivfTopK(oneEmb, 5, nCells = 1).count() === 0) // only self
  }

  test("round-6 operators on empty / degenerate input") {
    // PassJoin: empty and single-row inputs yield no pairs
    assert(Dedup.editDistancePairs(
      emptyDocs.select(col("doc_id"), col("text").as("s")), "doc_id", "s", 2)
      .count() === 0)
    val one = Seq((1L, "abc")).toDF("doc_id", "s")
    assert(Dedup.editDistancePairs(one, "doc_id", "s", 2).count() === 0)
    // BPE: empty corpus trains an empty model; encode still works
    assert(Bpe.train(emptyDocs, "text", 4) === Seq.empty)
    assert(Bpe.subwordCounts(emptyDocs, "text", Seq.empty, 10).count() === 0)
    // SCD2: empty change log -> no intervals
    val emptyEvents = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("event_id", LongType),
        StructField("user_id", LongType), StructField("event_type", StringType),
        StructField("ts", TimestampType))))
    assert(Events.scd2Intervals(emptyEvents, "user_id", "event_type",
      "ts", "event_id").count() === 0)
    // triangles: empty edge set -> one all-zero stat row, clustering 0
    val emptyEdges = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("src", StringType), StructField("dst", StringType))))
    val t = Graph.triangleStats(emptyEdges).head
    assert((t.getLong(0), t.getLong(1), t.getLong(2), t.getDouble(3)) ===
      ((0L, 0L, 0L, 0.0)))
  }

  // ---- degenerate pair inputs: identical rows and zero norms ----

  private val twinText = "the quick brown fox jumps over the lazy dog by the river bank"
  private def twinDocs = Seq((1L, twinText), (2L, twinText)).toDF("doc_id", "text")
  private def docsOf(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def embOf(rows: (Long, Seq[Float])*) = rows.toDF("vec_id", "embedding")
  private val vec = Seq(1f, 2f, 3f, 4f)
  private val zero = Seq(0f, 0f, 0f, 0f)
  private def sigs(d: org.apache.spark.sql.DataFrame) =
    Dedup.minHashSignatures(Dedup.shingles(d, "doc_id", "text", 3), 128)
  private def simSigs(d: org.apache.spark.sql.DataFrame) =
    Dedup.simHashSignatures(Dedup.shingles(d, "doc_id", "text", 3))
  private val unitCentroid = Seq((0, Seq(1.0, 1.0, 1.0, 1.0)))

  test("pair operators on two identical inputs give their one pair at a " +
      "perfect score") {
    import graft.multimodal.Multimodal
    val (batch, corpus) = (docsOf((1L, twinText)), docsOf((2L, twinText)))
    val (batchEmb, corpusEmb) = (embOf((1L, vec)), embOf((2L, vec)))
    val twinEmb = embOf((1L, vec), (2L, vec))
    val phash = 0x0123456789abcdefL
    val fps = (for (id <- Seq(1L, 2L); f <- 0 until 5)
      yield Multimodal.AudioFingerprint(id, f.toLong, 100 + f)).toDS()
    // (operator, result, score column, the score identical inputs must get)
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, String, Double)] = Seq(
      ("ngramJaccardPairs", () =>
        Dedup.ngramJaccardPairs(twinDocs, "doc_id", "text", 3, 0.8), "jaccard", 1.0),
      ("ngramJaccardPairsPrefix", () =>
        Dedup.ngramJaccardPairsPrefix(twinDocs, "doc_id", "text", 3, 0.8), "jaccard", 1.0),
      ("containmentPairs", () =>
        Dedup.containmentPairs(twinDocs, "doc_id", "text", 3, 0.8), "containment", 1.0),
      ("minHashLshPairs", () =>
        Dedup.minHashLshPairs(twinDocs, "doc_id", "text", 3, 0.8), "est_jaccard", 1.0),
      ("semanticPairs", () => Dedup.semanticPairs(twinEmb, 0.9), "cos", 1.0),
      ("simHashPairs", () => Dedup.simHashPairs(twinDocs, "doc_id", "text", 3), "hamming", 0),
      ("winnowSharedPairs", () =>
        Dedup.winnowSharedPairs(twinDocs, "doc_id", "text"), "overlap", 1.0),
      ("srpNeardupPairs", () => Similarity.srpNeardupPairs(twinEmb, 4, 0.9), "cos", 1.0),
      ("tfidfCosinePairs", () => TextAnalysis.tfidfCosinePairs(
        docsOf((1L, "red fox"), (2L, "red fox"), (3L, "blue whale")),
        "doc_id", "text", 0.5), "cos", 1.0),
      ("dHashPairs", () => Multimodal.dHashPairs(
        Seq((1L, phash), (2L, phash)).toDF("id", "phash")), "hamming", 0),
      ("audioFingerprintMatches", () =>
        Multimodal.audioFingerprintMatches(fps, minVotes = 3), "offset", 0),
      ("crossJaccardPairsFromShingles", () => Dedup.crossJaccardPairsFromShingles(
        Dedup.shingles(batch, "doc_id", "text", 3),
        Dedup.shingles(corpus, "doc_id", "text", 3), 0.8), "jaccard", 1.0),
      ("minHashLshCrossPairs", () => Dedup.minHashLshCrossPairs(sigs(batch),
        Dedup.bandedSignatures(sigs(corpus), 128, 32), sigs(corpus), 0.8),
        "est_jaccard", 1.0),
      ("semanticCrossPairs", () =>
        Dedup.semanticCrossPairs(batchEmb, corpusEmb, unitCentroid, 0.9), "cos", 1.0),
      ("simHashCrossPairs", () => Dedup.simHashCrossPairs(simSigs(batch),
        Dedup.simHashBlocks(simSigs(corpus), 3), 3), "hamming", 0),
      ("winnowCrossPairs", () => Dedup.winnowCrossPairs(batch,
        Dedup.winnowFingerprintIndex(corpus, "doc_id", "text"), "doc_id", "text"),
        "overlap", 1.0),
      ("srpNeardupCrossPairs", () => Similarity.srpNeardupCrossPairs(batchEmb,
        Similarity.srpBandedSignatures(corpusEmb, 4), corpusEmb, 4, 0.9), "cos", 1.0),
      ("tfidfCosineCrossFromWeights", () => TextAnalysis.tfidfCosineCrossFromWeights(
        Seq((1L, "x", 5L), (1L, "y", 3L)).toDF("id", "term", "w"),
        Seq((2L, "x", 5L), (2L, "y", 3L)).toDF("id", "term", "w"), 0.5), "cos", 1.0),
      ("dHashCrossPairs", () => Multimodal.dHashCrossPairs(
        Seq((1L, phash)).toDF("id", "phash"),
        Multimodal.dHashBlocks(Seq((2L, phash)).toDF("id", "phash"), 3)), "hamming", 0),
      ("exactNeardupPairs", () => Similarity.exactNeardupPairs(twinEmb, 0.9), "cos", 1.0))
    cases.foreach { case (op, run, scoreCol, score) =>
      val rows = run().collect()
      assert(rows.length === 1, s"$op: ${rows.mkString(", ")}")
      val r = rows.head
      assert((r.getLong(0), r.getLong(1)) === ((1L, 2L)), s"$op: $r")
      assert(r.getAs[Number](scoreCol).doubleValue === score, s"$op: $r")
    }
  }

  test("cosine pair operators on zero-norm inputs give no pair and no " +
      "exception") {
    val zeroEmb = embOf((1L, zero), (2L, zero))
    // every term in every doc: idf 0, so every weight and norm is 0
    val sameDocs = docsOf((1L, "red fox"), (2L, "red fox"))
    val zeroW = Seq((1L, "x", 0L)).toDF("id", "term", "w")
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      ("exactNeardupPairs", () => Similarity.exactNeardupPairs(zeroEmb, 0.0)),
      ("srpNeardupPairs", () => Similarity.srpNeardupPairs(zeroEmb, 4, 0.0)),
      ("srpNeardupCrossPairs", () => Similarity.srpNeardupCrossPairs(
        embOf((1L, zero)), Similarity.srpBandedSignatures(embOf((2L, zero)), 4),
        embOf((2L, zero)), 4, 0.0)),
      ("semanticPairs", () => Dedup.semanticPairs(zeroEmb, 0.0)),
      ("semanticCrossPairs", () => Dedup.semanticCrossPairs(
        embOf((1L, zero)), embOf((2L, zero)), unitCentroid, 0.0)),
      ("tfidfCosinePairs", () =>
        TextAnalysis.tfidfCosinePairs(sameDocs, "doc_id", "text", 0.0)),
      ("tfidfCosineCrossFromWeights", () => TextAnalysis.tfidfCosineCrossFromWeights(
        zeroW, zeroW.withColumn("id", lit(2L)), 0.0)))
    cases.foreach { case (op, run) =>
      assert(run().collect().isEmpty, op)
    }
  }

  test("top-k cosine operators rank a zero-norm neighbour last, with a " +
      "NULL score and no exception") {
    // vec_id 1 is all zeros; 2 and 3 score 0.666667 against each other
    val emb = embOf((1L, zero), (2L, vec), (3L, vec.reverse))
    // doc 1's only term has weight 0 (a term in every doc has idf 0)
    val wc = Seq((1L, "x", 0L), (2L, "x", 5L), (2L, "y", 3L)).toDF("id", "term", "w")
    val wq = Seq((10L, "x", 5L), (10L, "y", 3L)).toDF("id", "term", "w")
    // (operator, result, query whose ranking is checked, expected ranking)
    val cases: Seq[(String, () => org.apache.spark.sql.DataFrame, Long, Seq[Long])] = Seq(
      ("bruteForceTopK", () => Similarity.bruteForceTopK(emb, 2, every = 1L), 2L, Seq(3L, 1L)),
      ("ivfTopKWithCentroids", () =>
        Similarity.ivfTopKWithCentroids(emb, 2, unitCentroid, 1, every = 1L), 2L, Seq(3L, 1L)),
      ("knnJoinWithCentroids", () => Similarity.knnJoinWithCentroids(
        embOf((10L, vec), (11L, zero)), emb, 3, unitCentroid, 1), 10L, Seq(2L, 3L, 1L)),
      ("lexicalCrossTopKFromWeights", () =>
        Retrieval.lexicalCrossTopKFromWeights(wq, wc, 2), 10L, Seq(2L, 1L)))
    cases.foreach { case (op, run, query, ranking) =>
      val rows = run().collect()
      val got = rows.filter(_.getLong(0) == query).sortBy(_.getInt(2))
      assert(got.map(_.getLong(1)).toSeq === ranking, s"$op: ${rows.mkString(", ")}")
      assert(!got.init.exists(_.isNullAt(3)) && got.last.isNullAt(3),
        s"$op: ${got.mkString(", ")}")
    }
    val cos = Seq(1).toDF("i").select(
      Similarity.cosine(typedLit(zero), typedLit(vec)).as("c")).collect()
    assert(cos.head.isNullAt(0))
  }

  test("simHashBlocks refuses maxHamming = 60: its blocks would be 0 bits " +
      "wide and match every pair") {
    val sig = Seq((1L, 5L)).toDF("id", "simhash")
    assert(Dedup.simHashBlocks(sig, 59).count() === 60)
    intercept[IllegalArgumentException](Dedup.simHashBlocks(sig, 60))
  }
}
