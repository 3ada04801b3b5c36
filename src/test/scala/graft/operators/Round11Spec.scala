package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Round-11 wave: the data-derived boilerplate composition
  * (q_curation_v3) plan pins, and the README count pins that keep the
  * repo's advertised numbers generated rather than guessed. */
class Round11Spec extends SparkSpec {

  // ---- curation_v3: exchange budget of the composed plan ----

  test("curation_v3: heavy-hitter candidates broadcast back onto the " +
      "token stream; exchange budget holds; no cartesian, no window") {
    val df = graft.SparkEntry.queries("q_curation_v3")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    val broadcasts = p.linesIterator.count(_.contains("BroadcastExchange"))
    info(s"exchanges=$exchanges broadcasts=$broadcasts")
    // component budget (12 measured): the partial→final pairs of the
    // HH grouped sketch agg, the recount (key,item) agg, the per-doc
    // token/hit counts, the perDoc⋈hits doc_id join, the mix stratum
    // totals, and the final per-lang agg — every exchange carries an
    // AGGREGATED or doc-level frame, never the raw token stream; the
    // dynamic-stopword list itself must come back as a BROADCAST
    // (bounded by construction: langs × tracked). Growth past the pin
    // means a stage started shuffling tokens.
    assert(exchanges <= 12, s"expected <= 12 exchanges, got $exchanges:\n$p")
    assert(broadcasts >= 2, // hh list + mix rates (+ AQE may add more)
      s"expected the bounded frames broadcast, got $broadcasts:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), p) // no ranking anywhere in v3
  }

  test("curation_v3: result matches the unscreened mix only if the " +
      "boilerplate screen is a no-op — here it must actually drop docs") {
    val docs = graft.sources.Sources.table(spark, sf0001, "documents")
      .filter(col("lang").isNotNull)
    val total = docs.count()
    val keptDocs = graft.SparkEntry.queries("q_curation_v3")(spark, sf0001)
      .agg(sum(col("n_docs"))).head().getLong(0)
    assert(keptDocs > 0L, "screen dropped everything")
    assert(keptDocs < total,
      s"screen kept all $total docs — the dynamic list is not filtering")
  }

  // ---- README: the advertised spec count is generated, not guessed ----

  test("README's sbt test line states the source-registered spec count") {
    // every spec in this repo is statically registered (one `test(`
    // per case — no dynamic registration loops), so the source grep IS
    // the runtime total; Round10Spec pins the query count the same way
    val root = java.nio.file.Paths.get("src/test/scala")
    val testRe = java.util.regex.Pattern.compile("^\\s*test\\(")
    var n = 0
    java.nio.file.Files.walk(root).forEach { p =>
      if (p.toString.endsWith(".scala")) {
        new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .linesIterator.foreach(l => if (testRe.matcher(l).find()) n += 1)
      }
    }
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), "UTF-8")
    val want = s"# $n specs"
    assert(readme.contains(want),
      s"README.md must contain '$want' (stale spec count?)")
  }

  // ---- keepBestPerCluster: the RefinedWeb keep-policy ----

  test("keepBestPerCluster: highest score wins, lowest id on ties, " +
      "singletons pass through with zero dropped") {
    import spark.implicits._
    val clusters = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 4L))
      .toDF("doc_id", "cluster_rep")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L))
      .toDF("doc_id", "score")
    val out = Dedup.keepBestPerCluster(clusters, quality,
        "doc_id", "cluster_rep", "score")
      .collect().map(r => r.getAs[Long]("cluster_rep") -> r).toMap
    val a = out(1L)
    assert(a.getAs[Long]("keep_id") === 2L) // 9 ties, 2 < 3
    assert(a.getAs[Long]("keep_score") === 9L)
    assert(a.getAs[Long]("n_members") === 3L &&
      a.getAs[Long]("n_dropped") === 2L)
    val b = out(4L)
    assert(b.getAs[Long]("keep_id") === 4L &&
      b.getAs[Long]("n_dropped") === 0L)
  }

  test("keepBestPerCluster: a Long.MinValue id wins its score tie " +
      "(the tie-break key must not overflow)") {
    import spark.implicits._
    val clusters = Seq((Long.MinValue, 1L), (7L, 1L), (Long.MaxValue, 1L))
      .toDF("doc_id", "cluster_rep")
    val quality = Seq((Long.MinValue, 3L), (7L, 3L), (Long.MaxValue, 3L))
      .toDF("doc_id", "score")
    val row = Dedup.keepBestPerCluster(clusters, quality,
        "doc_id", "cluster_rep", "score").collect().head
    assert(row.getAs[Long]("keep_id") === Long.MinValue)
    assert(row.getAs[Long]("n_members") === 3L)
  }

  // ---- ADPCM quality: the compressed-path gate ----

  test("q_adpcm_quality agrees with q_adpcm_roundtrip on sample counts " +
      "and stays within the decoded-error envelope on peaks") {
    val q = graft.SparkEntry.queries("q_adpcm_quality")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val rt = graft.SparkEntry.queries("q_adpcm_roundtrip")(spark, sf0001)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(q.keySet === rt.keySet)
    q.foreach { case (id, row) =>
      assert(row.getAs[Long]("n_samples") ===
        rt(id).getAs[Long]("n_samples"))
      // text bytes (incl. \n\t controls) map to |PCM| <= 30464; the
      // decoded peak may overshoot by at most that doc's max error
      if (row.getAs[Long]("n_samples") > 0) {
        assert(row.getAs[Int]("peak") <=
          30464 + rt(id).getAs[Int]("max_abs_err"),
          s"doc $id peak ${row.getAs[Int]("peak")} breaks the envelope")
      }
    }
  }

  // ---- audio near-dup: the second composed modality ----

  test("q_audio_neardup: pairs are ordered, above threshold, and the " +
      "composition runs the real WAV decode path") {
    val rows = graft.SparkEntry.queries("q_audio_neardup")(spark, sf0001)
      .collect()
    rows.foreach { r =>
      assert(r.getAs[Long]("a") < r.getAs[Long]("b"))
      assert(r.getAs[Double]("cos") >= 0.99995)
    }
  }

  // ---- encodingDamageStats: the mojibake screen ----

  test("encodingDamageStats: counts each artifact class exactly; " +
      "clean ASCII and the empty string score hard zero") {
    import spark.implicits._
    // caf + Ã© (double-decode pair) + replacement char + C1 NEL
    val damaged = "caf\u00C3\u00A9 \uFFFD x\u0085y"
    val df = Seq((1L, damaged), (2L, "plain ascii text"), (3L, ""))
      .toDF("doc_id", "text")
    val out = TextAnalysis.encodingDamageStats(df, "doc_id", "text")
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    val d = out(1L)
    assert(d.getAs[Long]("n_chars") === 11L)
    assert(d.getAs[Long]("n_mojibake_pairs") === 1L)
    assert(d.getAs[Long]("n_replacement") === 1L)
    assert(d.getAs[Long]("n_c1_controls") === 1L)
    assert(d.getAs[Double]("damage_per_kchar") ===
      math.round(3.0 * 1000 / 11 * 1e6) / 1e6)
    val clean = out(2L)
    assert(clean.getAs[Long]("n_replacement") === 0L &&
      clean.getAs[Long]("n_c1_controls") === 0L &&
      clean.getAs[Long]("n_mojibake_pairs") === 0L &&
      clean.getAs[Double]("damage_per_kchar") === 0.0)
    assert(out(3L).getAs[Long]("n_chars") === 0L &&
      out(3L).getAs[Double]("damage_per_kchar") === 0.0)
  }

  // ---- rankingMetrics: the IR audit triple ----

  test("rankingMetrics: hand-computed recall/MRR/nDCG on a two-query " +
      "example, including a truth query the run missed entirely") {
    import spark.implicits._
    // q1 truth: 10,11,12 (ranks 1..3); run returns 11, miss, 10.
    // q2 truth: 20,21,22; run returned nothing for q2 → all zeros.
    val truth = Seq((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (2L, 20L, 1), (2L, 21L, 2), (2L, 22L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val results = Seq((1L, 11L, 1), (1L, 99L, 2), (1L, 10L, 3))
      .toDF("query_id", "neighbor_id", "rank")
    val row = Retrieval.rankingMetrics(results, truth, k = 3).head()
    def ln(x: Double) = math.log(x)
    // q1: hits = {11 (rel 2) @ r1, 10 (rel 3) @ r3}; rel = 4 - t_rank
    val dcg1 = 2.0 / ln(2.0) + 3.0 / ln(4.0)
    val idcg = 3.0 / ln(2.0) + 2.0 / ln(3.0) + 1.0 / ln(4.0)
    assert(row.getAs[Long]("n_queries") === 2L)
    assert(row.getAs[Double]("mean_recall") ===
      math.round((2.0 / 3.0 + 0.0) / 2.0 * 1e6) / 1e6)
    assert(row.getAs[Double]("mean_mrr") === 0.5) // (1/1 + 0) / 2
    assert(row.getAs[Double]("mean_ndcg") ===
      math.round(dcg1 / idcg / 2.0 * 1e6) / 1e6)
  }

  test("rankingMetrics: a run identical to truth scores 1.0 on all " +
      "three metrics") {
    import spark.implicits._
    val truth = Seq((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1))
      .toDF("query_id", "neighbor_id", "rank")
    val row = Retrieval.rankingMetrics(truth, truth, k = 2).head()
    assert(row.getAs[Double]("mean_recall") === 1.0)
    assert(row.getAs[Double]("mean_mrr") === 1.0)
    assert(row.getAs[Double]("mean_ndcg") === 1.0)
  }

  test("q_retrieval_metrics: mean_recall agrees with the standing " +
      "q_ann_recall audit over the same index and truth") {
    val m = graft.SparkEntry.queries("q_retrieval_metrics")(spark, sf0001)
      .head()
    val r = graft.SparkEntry.queries("q_ann_recall")(spark, sf0001).head()
    assert(m.getAs[Double]("mean_recall") === r.getAs[Double]("mean_recall"))
    assert(m.getAs[Long]("n_queries") === r.getAs[Long]("n_queries"))
    val ndcg = m.getAs[Double]("mean_ndcg")
    val mrr = m.getAs[Double]("mean_mrr")
    assert(ndcg > 0.0 && ndcg <= 1.0, s"nDCG out of range: $ndcg")
    assert(mrr > 0.0 && mrr <= 1.0, s"MRR out of range: $mrr")
    // graded nDCG can only exceed flat recall when ranking order helps
    assert(ndcg >= m.getAs[Double]("mean_recall") - 1e-6,
      "top-heavy hits should make nDCG >= recall on this corpus")
  }
}
