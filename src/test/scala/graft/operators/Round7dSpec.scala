package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-7 wave: hybrid lexical + dense retrieval (RRF fusion),
  * Matryoshka truncation, blocklist stats and diversity selection. */
class Round7dSpec extends SparkSpec {
  import spark.implicits._

  // ---- rrfFuse / hybridTopK ----

  test("rrfFuse: hand-computed fusion — both-list docs outrank " +
      "single-list docs at the same ranks; absent list contributes 0") {
    val a = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 11L, 1), (1L, 13L, 2))
      .toDF("query_id", "neighbor_id", "rank")
    val got = Retrieval.rrfFuse(a, b, k = 4)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    // 11: 1/62 + 1/61 = .032524; 10: 1/61 = .016393; 13: 1/62 = .016129;
    // 12: 1/63 = .015873
    assert(got.map(_._2).toSeq === Seq(11L, 10L, 13L, 12L))
    assert(math.abs(got.head._4 - (1.0 / 62 + 1.0 / 61)) < 1e-6)
  }

  test("rrfFuse: symmetric-rank ties break by neighbor id, " +
      "deterministically") {
    val a = Seq((1L, 20L, 1)).toDF("query_id", "neighbor_id", "rank")
    val b = Seq((1L, 7L, 1)).toDF("query_id", "neighbor_id", "rank")
    val got = Retrieval.rrfFuse(a, b, k = 2)
      .orderBy("rank").as[(Long, Long, Int, Double)].collect()
    assert(got.map(_._2).toSeq === Seq(7L, 20L)) // equal rrf -> lower id
  }

  test("hybridTopK: k rows per query ranked 1..k; every fused pair " +
      "appears in at least one leg") {
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val lex = Retrieval.lexicalTopK(docs, "doc_id", "text", k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sem = Similarity.ivfTopK(emb, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val fused = Retrieval.hybridTopK(docs, emb, k = 5)
      .as[(Long, Long, Int, Double)].collect()
    assert(fused.nonEmpty)
    assert(fused.forall { case (q, n, _, _) =>
      lex.contains((q, n)) || sem.contains((q, n)) })
    val perQ = fused.groupBy(_._1).values
    assert(perQ.forall(rows => rows.map(_._3).sorted.toSeq == (1 to rows.size)))
  }

  // ---- lexicalCrossTopK / hybridCrossTopK ----

  test("lexicalCrossTopK: corpus is the model — OOV-only queries rank " +
      "nothing, neighbors come only from the corpus, ranks are 1..n") {
    val corpus = Seq(
      (1L, "alpha beta gamma"), (2L, "alpha beta"), (3L, "delta epsilon"))
      .toDF("doc_id", "text")
    val queries = Seq(
      (10L, "alpha gamma"), (11L, "zeta theta"), (12L, "delta"))
      .toDF("doc_id", "text")
    val got = Retrieval.lexicalCrossTopK(queries, corpus, "doc_id", "text",
      k = 2).orderBy("query_id", "rank")
      .as[(Long, Long, Int, Double)].collect()
    val byQ = got.groupBy(_._1)
    assert(!byQ.contains(11L)) // pure-OOV query absent
    assert(got.forall { case (_, n, _, _) => Set(1L, 2L, 3L).contains(n) })
    // query 12 "delta": only doc 3 shares a term -> single result
    assert(byQ(12L).map(_._2).toSeq === Seq(3L))
    // "alpha" (df 2) + "gamma" (df 1): doc 1 shares both -> rank 1
    assert(byQ(10L).head._2 === 1L)
    assert(byQ.values.forall(rs => rs.map(_._3).sorted.toSeq == (1 to rs.size)))
  }

  test("hybridCrossTopK: every fused pair appears in a leg; queries " +
      "from the query split, neighbors from the corpus split") {
    val dsplit = Sampling.split(
      graft.sources.Sources.table(spark, sf0001, "documents"),
      col("doc_id"), 12, 2)
    val esplit = Sampling.split(
      graft.sources.Sources.table(spark, sf0001, "embeddings"),
      col("vec_id"), 12, 2)
    val (qd, cd) = (dsplit.filter(col("split") === "test"),
      dsplit.filter(col("split") =!= "test"))
    val (qe, ce) = (esplit.filter(col("split") === "test"),
      esplit.filter(col("split") =!= "test"))
    val lex = Retrieval.lexicalCrossTopK(qd, cd, "doc_id", "text", 10,
      maxTermDfFrac = 0.5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val sem = Similarity.knnJoin(qe, ce, k = 10)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val fused = Retrieval.hybridCrossTopK(qd, qe, cd, ce, k = 5,
        maxTermDfFrac = 0.5)
      .as[(Long, Long, Int, Double)].collect()
    assert(fused.nonEmpty)
    assert(fused.forall { case (q, n, _, _) =>
      lex.contains((q, n)) || sem.contains((q, n)) })
    val qids = qd.select("doc_id").as[Long].collect().toSet
    val cids = cd.select("doc_id").as[Long].collect().toSet
    assert(fused.forall { case (q, n, _, _) =>
      qids.contains(q) && cids.contains(n) })
  }

  // ---- truncateDims ----

  test("truncateDims: prefix slice of the vector; full-dim truncation " +
      "is the identity; recall audit ordering full >= truncated self-recall") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val t = Similarity.truncateDims(emb, 16)
    assert(t.select(size(col("embedding"))).distinct().as[Int].collect()
      .toSeq === Seq(16))
    // prefix, not a projection change: first 16 coords unchanged
    val pair = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("p"))
      .join(t.select(col("vec_id"), col("embedding").as("q")), "vec_id")
      .filter(not(col("p") === col("q")))
    assert(pair.count() === 0L)
    val id = Similarity.truncateDims(emb, 64)
    assert(id.select("vec_id", "embedding").except(
      emb.select("vec_id", "embedding")).isEmpty)
  }

  // ---- blocklistStats ----

  test("blocklistStats: whole-token case-insensitive hits, no substring " +
      "matches; maxFrac=0 is the C4 any-hit drop; empty text safe") {
    val docs = Seq(
      (1L, "the Dup class has a dup field"), // 2 hits of 'dup' (not 'class')
      (2L, "harmless words only here"),
      (3L, "superduper reduplication"), // substrings must NOT hit
      (4L, "")).toDF("doc_id", "text")
    val out = TextAnalysis.blocklistStats(docs, "doc_id", "text",
      Seq("DUP", "missing"), maxFrac = 0.0)
      .orderBy("doc_id")
      .select("doc_id", "n_tokens", "n_blocked", "keep")
      .as[(Long, Long, Long, Int)].collect()
    assert(out(0) === ((1L, 7L, 2L, 0)))
    assert(out(1) === ((2L, 4L, 0L, 1)))
    assert(out(2) === ((3L, 2L, 0L, 1))) // Scunthorpe-safe
    assert(out(3) === ((4L, 0L, 0L, 1)))
  }

  // ---- diversitySelect ----

  test("diversitySelect: selected set is mutually diverse, every " +
      "rejected vector has a selected representative in its cell") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val th = 0.4
    val sel = Curation.diversitySelect(emb, th, nClusters = 4).cache()
    val withEmb = sel.join(emb, "vec_id")
      .select(col("vec_id"), col("cell"),
        col("embedding").cast("array<double>").as("e"))
    // guarantee 1: any two SELECTED vectors in a cell are < th apart
    val a = withEmb.select(col("cell"), col("vec_id").as("a"), col("e").as("ea"))
    val b = withEmb.select(col("cell"), col("vec_id").as("b"), col("e").as("eb"))
    val close = a.join(b, Seq("cell")).filter(col("a") < col("b"))
      .filter(Similarity.cosine(col("ea"), col("eb")) >= th)
    assert(close.count() === 0L)
    // guarantee 2: every NON-selected vector is >= th-close to some
    // selected vector in its cell that precedes it in scan order
    val cents = Clustering.trainCentroids(emb, 4, 2)
    val assigned = Clustering.assign(emb, cents)
      .select(col("vec_id"), col("cluster").as("cell"))
    val rejected = assigned.join(sel.select("vec_id"), Seq("vec_id"),
        "left_anti")
      .join(emb, "vec_id")
      .select(col("cell"), col("vec_id").as("r"),
        col("embedding").cast("array<double>").as("er"))
    val uncovered = rejected.join(
        withEmb.select(col("cell"), col("vec_id").as("s"), col("e").as("es")),
        Seq("cell"))
      .filter(col("s") < col("r"))
      .groupBy(col("cell"), col("r"))
      .agg(max(when(Similarity.cosine(col("er"), col("es")) >= th, 1)
        .otherwise(0)).as("covered"))
      .filter(col("covered") === 0)
    assert(uncovered.count() === 0L)
    sel.unpersist()
  }

  test("diversitySelectAgainst: append == rebuild under monotone ids; " +
      "new selections continue the stored sel_rank numbering") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val corpus = emb.filter(col("vec_id") < 250)
    val batch = emb.filter(col("vec_id") >= 250)
    val cents = Clustering.trainCentroids(corpus, 8, 2)
    val stored = Curation.diversitySelectWithCentroids(corpus, cents, 0.4)
      .cache()
    val fresh = Curation.diversitySelectAgainst(batch, stored, corpus,
      cents, threshold = 0.4)
    val together = stored.union(fresh)
    val rebuild = Curation.diversitySelectWithCentroids(emb, cents, 0.4)
    assert(together.except(rebuild).isEmpty &&
      rebuild.except(together).isEmpty)
    assert(fresh.count() > 0)
    // new selections never re-emit stored rows
    assert(fresh.join(stored, Seq("vec_id")).count() === 0L)
    stored.unpersist()
  }

  test("diversitySelect: threshold > 1 keeps everything with sel_rank " +
      "= scan order; cell-size guard refuses a degenerate cell") {
    val emb = graft.sources.Sources.table(spark, sf0001, "embeddings")
    val all = Curation.diversitySelect(emb, threshold = 1.1, nClusters = 4)
    assert(all.count() === emb.count())
    val err = intercept[IllegalArgumentException] {
      Curation.diversitySelect(emb, 0.4, nClusters = 1, maxCellRows = 10L)
    }
    assert(err.getMessage.contains("guard"))
  }
}
