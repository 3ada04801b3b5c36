package graft.operators

import graft.SparkSpec
import graft.sources.Sources
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Sources.table(spark, sf0001, "embeddings").cache()

  test("cosine: matches hand-computed value, unit norms") {
    val df = Seq(
      (Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(1.0f, 0.0f)),
      (Seq(3.0f, 4.0f), Seq(4.0f, 3.0f))
    ).toDF("a", "b")
    val got = df.select(Similarity.cosine(col("a"), col("b"))).collect().map(_.getDouble(0))
    assert(got(0) === 0.0)
    assert(got(1) === 1.0)
    assert(math.abs(got(2) - 24.0 / 25.0) < 1e-12)
  }

  test("bruteForceTopK: k per query, self excluded, ranks ordered") {
    val topk = Similarity.bruteForceTopK(emb, k = 5, every = 50L).collect()
    val byQuery = topk.groupBy(_.getLong(0))
    assert(byQuery.size === 10) // 500 vectors / 50
    byQuery.foreach { case (q, rows) =>
      assert(rows.length === 5)
      assert(rows.forall(_.getLong(1) != q), "self in neighbors")
      val ordered = rows.sortBy(_.getInt(2)).map(_.getDouble(3))
      assert(ordered.zip(ordered.tail).forall { case (x, y) => x >= y })
    }
  }

  test("srp LSH near-dup: subset of exact pairs, decent recall") {
    val exact = Similarity.exactNeardupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.srpNeardupPairs(emb, dim = 64, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "no exact pairs at threshold 0.4 — data drifted?")
    assert(lsh.subsetOf(exact), "LSH produced a pair the exact join lacks")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low (${lsh.size}/${exact.size})")
  }

  test("ivf topK: trained quantizer keeps >= the sampled quantizer's recall") {
    val brute = Similarity.bruteForceTopK(emb, k = 5, every = 50L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty)
      (brute & got).size.toDouble / brute.size
    }
    // the pre-training quantizer: cells = the 16 lowest-id vectors
    val sampleCentroids = emb.orderBy(asc("vec_id")).limit(16)
      .select(col("embedding").cast("array<double>"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toSeq) }
    val trained = recall(Similarity.ivfTopK(emb, k = 5))
    val sampled = recall(Similarity.ivfTopKWithCentroids(emb, k = 5, sampleCentroids))
    info(s"IVF recall@5 trained=$trained sampled=$sampled")
    assert(trained >= sampled, s"trained quantizer lost recall: $trained < $sampled")
    assert(trained >= 0.2, s"IVF recall collapsed: $trained")
  }

  test("semanticPairs: within-cluster pairs are a subset of the exact join, usable recall") {
    val exact = Similarity.exactNeardupPairs(emb, 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sem = Dedup.semanticPairs(emb, threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(sem.subsetOf(exact),
      "semantic pairs produced a pair the exact join lacks")
    val recall = sem.size.toDouble / exact.size
    info(s"SemDeDup recall vs exact = $recall (${sem.size}/${exact.size})")
    // ~0.30 measured on the near-uniform test embeddings (a worst case
    // for cluster-local recall — real corpora cluster much tighter);
    // floor set below the measurement to catch collapse, not noise
    assert(recall >= 0.25, s"semantic recall collapsed: $recall")
  }

  test("ivf join path (nCells>32): probing ALL cells reproduces brute force exactly") {
    // 40 cells forces the broadcast-join cell selection; with
    // nprobe = nCells every query scores every vector, so the result
    // must equal the exact brute-force ranking row for row
    val sampleCentroids = emb.orderBy(asc("vec_id")).limit(40)
      .select(col("embedding").cast("array<double>"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (i, r.getSeq[Double](0).toSeq) }
    val ivf = Similarity.ivfTopKWithCentroids(emb, k = 5, sampleCentroids,
        nprobe = 40, every = 50L)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    val brute = Similarity.bruteForceTopK(emb, k = 5, every = 50L)
      .collect().map(r => (r.getLong(0), r.getInt(2)) -> r.getLong(1)).toMap
    assert(ivf === brute)
    assert(ivf.nonEmpty)
  }

  test("brute-force baselines refuse corpora above their size guard") {
    val eN = intercept[IllegalArgumentException] {
      Similarity.exactNeardupPairs(emb, 0.4, maxRows = 10L)
    }
    assert(eN.getMessage.contains("O(n²)"), eN.getMessage)
    val eT = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(emb, k = 5, maxRows = 10L)
    }
    assert(eT.getMessage.contains("O(n²)"), eT.getMessage)
    // at-or-under the ceiling still builds
    assert(Similarity.exactNeardupPairs(emb, 0.4, maxRows = 500L).columns
      .sameElements(Array("a", "b", "cos")))
  }

  test("determinism: srp signatures identical across runs") {
    val s1 = Similarity.srpNeardupPairs(emb, 64, 0.4).collect().toSet
    val s2 = Similarity.srpNeardupPairs(emb, 64, 0.4).collect().toSet
    assert(s1 === s2)
  }

  test("quantizeInt8: exact codes on a hand vector") {
    import org.apache.spark.sql.functions._
    // amax=2 -> scale=63.5; 2->127, -1->-63.5->rounds away from zero->-64,
    // 0.5->31.75->32, 0->0
    val df = Seq((1L, Seq(2.0f, -1.0f, 0.5f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(df).select(col("qvec"), col("scale"),
      col("recon_err")).collect().head
    assert(r.getSeq[Int](0) === Seq(127, -64, 32, 0))
    assert(r.getDouble(1) === 63.5)
    val deq = Seq(127, -64, 32, 0).map(_ / 63.5)
    val expectErr = math.sqrt(Seq(2.0, -1.0, 0.5, 0.0).zip(deq)
      .map { case (x, d) => (x - d) * (x - d) }.sum)
    assert(math.abs(r.getDouble(2) - expectErr) < 1e-12)
  }

  test("quantizeInt8: plan is a shuffle-free projection") {
    val plan = Similarity.quantizeInt8(emb)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"quantize must not shuffle:\n$plan")
  }

  test("quantizeInt8: all-zero vector survives (scale falls back to 1)") {
    val df = Seq((1L, Seq(0.0f, 0.0f))).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(df)
      .select("qvec", "scale", "recon_err").collect().head
    assert(r.getSeq[Int](0) === Seq(0, 0))
    assert(r.getDouble(1) === 1.0 && r.getDouble(2) === 0.0)
  }

  test("srp band index lifecycle: append a batch, grown index == recompute") {
    import graft.sources.Sinks
    import org.apache.spark.sql.functions.col
    // sf0.01 for pair density: the sf0.001 slice is too sparse for
    // cross-split near-dups at this threshold
    val emb01 = Sources.table(spark, sf001, "embeddings")
    val a = emb01.filter(col("vec_id") % 3 === 0) // initial corpus
    val b = emb01.filter(col("vec_id") % 3 === 1) // first ingest batch
    val c = emb01.filter(col("vec_id") % 3 === 2) // second ingest batch
    try {
      Sinks.writeBucketed(Similarity.srpBandedSignatures(a, dim = 64),
        "graft_lc_srp_bands", Seq("band_key"), 4)
      Sinks.appendBucketed(Similarity.srpBandedSignatures(b, dim = 64),
        "graft_lc_srp_bands", Seq("band_key"), 4)
      // batch c against the GROWN index must equal a from-scratch
      // rebuild over a ∪ b — appends are indistinguishable from rewrites
      val corpusAb = a.union(b)
      def collectPairs(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val grown = collectPairs(Similarity.srpNeardupCrossPairs(c,
        spark.table("graft_lc_srp_bands"), corpusAb, dim = 64, threshold = 0.3))
      val ref = collectPairs(Similarity.srpNeardupCrossPairs(c,
        Similarity.srpBandedSignatures(corpusAb, dim = 64), corpusAb,
        dim = 64, threshold = 0.3))
      assert(grown === ref)
      assert(grown.nonEmpty, "expected cross-split SRP near-dups at sf0.01")
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_lc_srp_bands")
    }
  }

  test("pqAdcTopK matches a driver-side ADC reference on fixed codebooks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // dim=4, 2 subspaces of 2; hand codebooks (no training involved)
    val cbs: Seq[Seq[(Int, Seq[Double])]] = Seq(
      Seq(0 -> Seq(0.0, 0.0), 1 -> Seq(1.0, 1.0)),
      Seq(0 -> Seq(0.5, -0.5), 1 -> Seq(-1.0, 2.0)))
    val vecs: Seq[(Long, Seq[Double])] = Seq(
      0L -> Seq(0.1, 0.1, 0.4, -0.4), 1L -> Seq(0.9, 1.1, -0.9, 1.8),
      2L -> Seq(0.2, -0.1, 0.6, -0.6), 3L -> Seq(1.2, 0.8, -1.1, 2.2))
    val emb = vecs.toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(emb, cbs, dim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    // reference encode: nearest codebook entry per slice
    def d2(a: Seq[Double], b: Seq[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    vecs.foreach { case (id, v) =>
      val want = Seq(
        cbs(0).minBy { case (cid, c) => (d2(v.slice(0, 2), c), cid) }._1,
        cbs(1).minBy { case (cid, c) => (d2(v.slice(2, 4), c), cid) }._1)
      assert(codes(id) === want, s"vec $id")
    }
    // reference ADC: distance from each query to each code's centroids
    val queries = emb.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val got = Similarity.pqAdcTopK(Similarity.pqEncode(emb, cbs, dim = 4),
        queries, cbs, dim = 4, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = vecs.filter(_._1 % 2 == 0).flatMap { case (qid, q) =>
      vecs.filter(_._1 != qid).map { case (nid, _) =>
        val adc = d2(q.slice(0, 2), cbs(0)(codes(nid)(0))._2) +
          d2(q.slice(2, 4), cbs(1)(codes(nid)(1))._2)
        (qid, nid, adc)
      }.sortBy { case (_, nid, adc) => (adc, nid) }
        .take(2).zipWithIndex.map { case ((q2, n, _), i) => (q2, n, i + 1) }
    }.toSet
    assert(got === want)
  }

  test("pqEncode: shuffle-free codegen'd projection, invariant to partitioning") {
    val emb = Sources.table(spark, sf0001, "embeddings")
    val cbs = Similarity.pqCodebooks(emb, dim = 64)
    val enc = Similarity.pqEncode(emb, cbs, dim = 64)
    val plan = enc.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    assert(plan.contains("*(1) Project"), plan) // *-prefix = codegen'd
    val a = enc.collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    val b = Similarity.pqEncode(emb.repartition(13), cbs, dim = 64)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1).toSeq).toMap
    assert(a === b)
    assert(a.values.forall(c => c.size == 8 && c.forall(x => x >= 0 && x < 16)))
  }

  test("pqTopK: empty corpus yields a typed empty result") {
    val emb = Sources.table(spark, sf0001, "embeddings")
      .filter(org.apache.spark.sql.functions.lit(false))
    val out = Similarity.pqTopK(emb, k = 5, dim = 64)
    assert(out.columns.toSeq === Seq("query_id", "neighbor_id", "rank", "adc_d2"))
    assert(out.count() === 0L)
  }

  test("pqEncodeWithCells + pqProbeCells: literal and join paths agree") {
    import org.apache.spark.sql.functions.col
    val emb = Sources.table(spark, sf0001, "embeddings")
    val coarse = Clustering.trainCentroids(emb, 8, 2)
    val cbs = Similarity.pqCodebooks(emb, dim = 64)
    // the same 8 cells scored on each of the kernel's two routes
    def onRoute[A](join: Boolean)(f: => A): A =
      Centroids.pinnedJoin.withValue(Some(join))(f)
    def enc(join: Boolean) = onRoute(join) {
      Similarity.pqEncodeWithCells(emb, cbs, coarse, 64).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toList)).toSet
    }
    assert(enc(join = false) === enc(join = true))
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    def probes(join: Boolean) = onRoute(join) {
      Similarity.pqProbeCells(queries, coarse, nprobe = 3)
        .select("query_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1))).toSet
    }
    assert(probes(join = false) === probes(join = true))
  }

  test("pqIvfTopK probing every cell == exhaustive pqTopK; no codegen fallback") {
    val emb = Sources.table(spark, sf0001, "embeddings")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .toSet
    // the LUT form keeps the scan→score→rank stage under Janino's 64 KB
    // method cap — per-pair codebook dot products blew it and silently
    // dropped the whole stage to interpreted execution
    assertNoCodegenFallback {
      val full = rows(Similarity.pqTopK(emb, k = 5, dim = 64))
      val ivf = rows(Similarity.pqIvfTopK(emb, k = 5, dim = 64,
        nCells = 8, nprobe = 8))
      assert(ivf === full)
    }
  }

  test("persisted PQ index: save/load round-trip is identity; stored == in-memory; append grows the codes table") {
    import org.apache.spark.sql.functions.col
    val emb = Sources.table(spark, sf0001, "embeddings")
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val batch = emb.filter(col("vec_id") % 3 === 0)
    val cbs = Similarity.pqCodebooks(corpus, dim = 64)
    try {
      // model round-trip: parquet doubles are bit-exact
      Similarity.savePqCodebooks(spark, cbs, "graft_pq_cb_t")
      val stored = Similarity.loadPqCodebooks(spark, "graft_pq_cb_t")
      assert(stored === cbs)
      // stored codes path == in-memory path, bit for bit
      graft.sources.Sinks.writeBucketed(
        Similarity.pqEncode(corpus, stored, dim = 64), "graft_pq_codes_t",
        bucketCols = Seq("vec_id"), numBuckets = 4)
      val queries = batch.select(col("vec_id").as("query_id"),
        col("embedding").as("q"))
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
        .toSet
      val persisted = rows(Similarity.pqAdcTopK(
        spark.table("graft_pq_codes_t"), queries, stored, dim = 64, k = 3))
      val direct = rows(Similarity.pqAdcTopK(
        Similarity.pqEncode(corpus, cbs, dim = 64), queries, cbs,
        dim = 64, k = 3))
      assert(persisted === direct)
      // index maintenance: appending the batch's codes == full rebuild
      graft.sources.Sinks.appendBucketed(
        Similarity.pqEncode(batch, stored, dim = 64), "graft_pq_codes_t",
        bucketCols = Seq("vec_id"), numBuckets = 4)
      def codes(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => r.getLong(0) -> r.getSeq[Int](1).toList).toMap
      assert(codes(spark.table("graft_pq_codes_t")) ===
        codes(Similarity.pqEncode(emb, cbs, dim = 64)))
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft_pq_cb_t")
      spark.sql("DROP TABLE IF EXISTS graft_pq_codes_t")
    }
  }

  test("pqIvfTopK: empty corpus yields a typed empty result") {
    val emb = Sources.table(spark, sf0001, "embeddings")
      .filter(org.apache.spark.sql.functions.lit(false))
    val out = Similarity.pqIvfTopK(emb, k = 5, dim = 64)
    assert(out.columns.toSeq === Seq("query_id", "neighbor_id", "rank", "adc_d2"))
    assert(out.count() === 0L)
  }

  test("knnJoin: neighbors only from the corpus side, every query row " +
      "retrieves, exactly k results per query when the cells hold enough") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val queries = emb.filter(col("label") === 0)
    val corpus = emb.filter(col("label") =!= 0)
    val out = Similarity.knnJoin(queries, corpus, k = 5).cache()
    val corpusIds = corpus.select("vec_id").as[Long].collect().toSet
    val queryIds = queries.select("vec_id").as[Long].collect().toSet
    val got = out.select("query_id", "neighbor_id").as[(Long, Long)].collect()
    assert(got.nonEmpty)
    assert(got.forall { case (q, n) => queryIds.contains(q) && corpusIds.contains(n) })
    // every query with >= 1 probed non-empty cell returns <= k ranked rows
    val perQuery = out.groupBy("query_id").agg(count(lit(1)).as("n"),
      max(col("rank")).as("maxr"))
      .as[(Long, Long, Int)].collect()
    assert(perQuery.forall { case (_, n, maxr) => n <= 5 && maxr <= 5 && n == maxr })
    out.unpersist()
  }

  test("knnJoin self-join special case: ivfTopK == knnJoinWithCentroids " +
      "over the same trained cells with self-exclusion") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val cents = Clustering.trainCentroids(emb, 16, 2)
    val viaIvf = Similarity.ivfTopKWithCentroids(emb, k = 5, cents)
    val viaKnn = Similarity.knnJoinWithCentroids(
      emb.filter(col("vec_id") % 50 === 0L), emb, k = 5, cents,
      excludeSameId = true)
    assert(viaIvf.except(viaKnn).isEmpty && viaKnn.except(viaIvf).isEmpty)
  }

  test("knnJoin: empty corpus yields an empty, correctly-typed result") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val out = Similarity.knnJoin(emb.limit(3), emb.filter(lit(false)), k = 5)
    assert(out.columns.toSeq ===
      Seq("query_id", "neighbor_id", "rank", "cos"))
    assert(out.count() === 0L)
  }

  test("knnJoinWithCentroids: a query batch over maxQueryRows is " +
      "refused with the shard guidance; batch-sized callers unaffected") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val cents = Clustering.trainCentroids(emb, 4, 1)
    val err = intercept[IllegalArgumentException] {
      Similarity.knnJoinWithCentroids(emb, emb, 3, cents,
        maxQueryRows = 10L)
    }
    assert(err.getMessage.contains("Shard the query table"))
    // a batch inside the bound behaves exactly as before
    val ok = Similarity.knnJoinWithCentroids(
      emb.filter(col("vec_id") < 20), emb, 3, cents)
    assert(ok.count() > 0)
  }

  test("ivfTopK corpusFilter: every neighbor satisfies the predicate, " +
      "queries still come from the full table; lit(true) == unfiltered") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val filtered = Similarity.ivfTopK(emb, k = 5,
      corpusFilter = col("label") === 2).cache()
    val label2 = emb.filter(col("label") === 2)
      .select("vec_id").as[Long].collect().toSet
    val neighbors = filtered.select("neighbor_id").as[Long].collect()
    assert(neighbors.nonEmpty && neighbors.forall(label2.contains))
    // at least one query is NOT in the filtered subset (hybrid shape:
    // arbitrary query, restricted corpus)
    val queries = filtered.select("query_id").distinct()
      .as[Long].collect().toSet
    assert(queries.exists(q => !label2.contains(q)))
    // the default filter is the identity: same rows as the unfiltered op
    val viaTrue = Similarity.ivfTopK(emb, k = 5, corpusFilter = lit(true))
    val plain = Similarity.ivfTopK(emb, k = 5)
    assert(viaTrue.except(plain).isEmpty && plain.except(viaTrue).isEmpty)
    filtered.unpersist()
  }

  // an nprobe of 0 would slice an empty probe list and return no
  // neighbours: the nearest-centroid kernel refuses m < 1 at plan build

  test("ivfTopK: nprobe = 0 is refused, not an empty result") {
    val err = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(emb, k = 5, nCells = 4, nprobe = 0)
    }
    assert(err.getMessage.contains("nprobe"))
  }

  test("knnJoinWithCentroids: nprobe = 0 is refused, not an empty result") {
    val cents = Clustering.trainCentroids(emb, 4, 1)
    val err = intercept[IllegalArgumentException] {
      Similarity.knnJoinWithCentroids(emb.filter(col("vec_id") < 20), emb, 3,
        cents, nprobe = 0)
    }
    assert(err.getMessage.contains("nprobe"))
  }

  test("pqAdcTopKCells: nprobe = 0 is refused, not an empty result") {
    val coarse = Clustering.trainCentroids(emb, 4, 1)
    val cbs = Similarity.pqCodebooks(emb, dim = 64, trainIters = 1)
    val codes = Similarity.pqEncodeWithCells(emb, cbs, coarse, 64)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q"))
    val err = intercept[IllegalArgumentException] {
      Similarity.pqAdcTopKCells(codes, queries, cbs, coarse, 64, k = 5, nprobe = 0)
    }
    assert(err.getMessage.contains("nprobe"))
  }
}
