package graft

import org.apache.spark.sql.functions._

/** Round-14 invariants: the composed A/V curation pipeline's plan
  * budget, the k-means||-trained IVF's recall vs the lowest-id-init
  * index, order-n KN scoring and DoReMi's reweighting step. */
class Round14Spec extends SparkSpec {

  test("q_curation_av: doc-keyed assembly adds no unbounded shuffles — " +
      "bounded exchange count, no cartesian product, no global window") {
    val df = graft.SparkEntry.queries("q_curation_av")(spark, sf0001)
    val p = df.queryExecution.executedPlan.toString
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    // legs: keyframe agg + window, pooled agg, utterance agg + window,
    // joint join, semanticPairs' cell join, final doc-keyed joins —
    // every one keyed on doc/cell ids; the budget is the ceiling the
    // composition must hold, not a target
    assert(exchanges <= 16, s"expected <= 16 exchanges, got $exchanges:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // every Window in the plan must be partitioned (sceneChanges' lag
    // and utteranceSegments' row_number are both per-id)
    val unpartitionedWindow = p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("partitionBy=[]"))
    assert(!unpartitionedWindow, p)
  }

  test("q_curation_av: gates and dedup both bite — kept is a nonempty " +
      "strict subset, and every dropped row names its reason") {
    val rows = graft.SparkEntry.queries("q_curation_av")(spark, sf0001)
      .collect()
    assert(rows.nonEmpty)
    val kept = rows.count(_.getAs[Boolean]("kept"))
    assert(kept > 0, "pipeline dropped everything")
    assert(kept < rows.length, "pipeline kept everything — no gate bit")
    rows.filterNot(_.getAs[Boolean]("kept")).foreach { r =>
      val why = r.getAs[Boolean]("is_dup") ||
        r.getAs[Double]("rms") < 0.34 ||
        r.getAs[Long]("n_keyframes") < 1 || r.getAs[Long]("n_utterances") < 1
      assert(why, s"row dropped for no stated reason: $r")
    }
  }

  test("order-n KN scoring: all 2n-1 model joins stay hash joins at " +
      "orders 3 and 5 (never nested-loop or cartesian), for the " +
      "self-trained, persisted, and bucket-composed forms") {
    for (q <- Seq("q_trigram_kn_score", "q_fivegram_kn_score",
        "q_trigram_kn_incremental_persisted", "q_ccnet_kn_buckets")) {
      val p = graft.SparkEntry.queries(q)(spark, sf0001)
        .queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // the bucket composition's distributedNtile broadcasts its 1-row
      // global bounds (the q_decile_stats pattern, allowlisted in
      // EngineSweepSpec) — the KN ladder itself must stay NLJ-free
      if (q != "q_ccnet_kn_buckets")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"$q:\n$p")
      // every per-order lookup (gram, context rollup, continuation) is
      // an equi-join on its natural key — shuffles or broadcasts, never
      // a row-pair explosion, at any order
      assert(p.contains("HashJoin"), s"$q:\n$p")
    }
  }

  test("k-means||-trained IVF recall is measured and competitive with " +
      "the lowest-id-init index (the q_ann_recall truth composition)") {
    val baseline = graft.SparkEntry.queries("q_ann_recall")(spark, sf0001)
      .head().getAs[Double]("mean_recall")
    val kmeanspar = graft.SparkEntry
      .queries("q_ann_kmeanspar_recall")(spark, sf0001)
      .head().getAs[Double]("mean_recall")
    assert(baseline > 0.0 && kmeanspar > 0.0)
    // the scalable init must not cost recall catastrophically — the
    // documented comparison the round-13 verdict asked for (numbers
    // are data-dependent; the bound is the invariant)
    assert(kmeanspar >= baseline - 0.25,
      s"k-means|| IVF recall $kmeanspar collapsed vs lowest-id $baseline")
  }

  test("doremiWeights: hand-replayed exponentiated-gradient step — the " +
      "worse domain upweights, weights stay a (anchored) simplex, and " +
      "equal-share rates follow the weights") {
    import spark.implicits._
    import graft.operators.Sampling
    def anchor6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    // two domains, equal token shares; domain b twice the loss; two
    // docs in 'a' pin the integer-micro-unit mean (1.0 = mean(0.8, 1.2))
    val df = Seq(("a", 0.8, 50L, 1L), ("a", 1.2, 50L, 2L),
        ("b", 2.0, 100L, 3L))
      .toDF("dom", "loss", "nt", "id")
    val got = Sampling
      .doremiWeights(df, col("dom"), col("loss"), col("nt"),
        eta = 0.5, steps = 1)
      .collect()
      .map(r => r.getString(0) ->
        (r.getDouble(3), r.getDouble(4), r.getInt(5))).toMap
    // hand replay with the operator's own anchoring conventions
    val ua = anchor6(0.5 * math.exp(0.5 * 1.0))
    val ub = anchor6(0.5 * math.exp(0.5 * 2.0))
    val z = math.round(ua * 1e6) + math.round(ub * 1e6)
    val aa = anchor6(ua / (z.toDouble / 1e6))
    val ab = anchor6(ub / (z.toDouble / 1e6))
    assert(got("a") === ((1.0, aa,
      math.max(math.floor(256.0 * (aa / 0.5 / (ab / 0.5))).toLong, 1L).toInt)))
    assert(got("b") === ((2.0, ab, 256)))
    assert(ab > aa, "the worse domain must upweight")
    assert(math.abs(aa + ab - 1.0) <= 2e-6, "anchored simplex")
  }

  test("doremiWeights is invariant to input partitioning (losses sum " +
      "as exact integer micro-units; the EG loop sees identical longs)") {
    import spark.implicits._
    import graft.operators.Sampling
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .withColumn("text", coalesce(col("text"), lit("")))
      .withColumn("loss",
        (length(col("text")) % 7).cast("double") / 100.0) // anchored by construction
      .withColumn("nt", greatest(length(col("text")).cast("long"), lit(1L)))
    def run(df: org.apache.spark.sql.DataFrame) = Sampling
      .doremiWeights(df, col("lang"), col("loss"), col("nt"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4),
          r.getInt(5))).toMap
    val a = run(docs)
    val b = run(docs.repartition(13))
    assert(a === b)
    assert(a.nonEmpty)
  }
}
