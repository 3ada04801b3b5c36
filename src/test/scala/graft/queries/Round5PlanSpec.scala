package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape and guard pins for the round-5 scale fixes. */
class Round5PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  /** Plan with the broadcast threshold OFF, built on an ISOLATED
    * `newSession()` (own SQLConf, shared context): suites run in
    * parallel against one shared session, so mutating the shared
    * conf — even restored in a finally — races other suites' plan
    * builds (Round3PlanSpec pins BroadcastHashJoin PRESENCE and fails
    * whenever its build lands inside the -1 window).
    *
    * Built at sf001, NOT sf0001: the CacheManager is SHARED across
    * sessions and matches by canonicalized plan, so when another suite
    * has already built this query at sf0001 (Round3's all-queries
    * sweep), the internally-.cache()'d weight subtree — planned there
    * under the DEFAULT threshold, size-broadcast included — would be
    * substituted here and its printed subplan would trip the
    * no-BroadcastHashJoin assertion. A different source dir means no
    * cached subtree matches and the whole plan is freshly planned
    * under this session's -1 threshold. */
  private def planNoAutoBroadcast(name: String): String = {
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.functions.GraftFunctions.register(s)
    SparkEntry.queries(name)(s, sf001)
      .queryExecution.executedPlan.toString
  }

  test("tfidf cross cosine: vocabulary joins are shuffle-capable (no forced broadcast)") {
    // with the broadcast threshold off, a BroadcastHashJoin can only
    // come from a hint — so its absence proves the vocabulary join no
    // longer mandates a broadcast (AQE may still choose one at runtime
    // when the vocab fits; the point is it isn't FORCED at 10^8 terms)
    val p = planNoAutoBroadcast("q_tfidf_cosine_incremental")
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("tfidf self-join form: same — the term join carries no broadcast hint") {
    val p = planNoAutoBroadcast("q_tfidf")
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("unigram LM: frequency join is shuffle-capable (no forced vocab broadcast)") {
    val p = planNoAutoBroadcast("q_unigram_logprob")
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("building the tfidf cross plan runs no driver job (corpus count + df cap in-plan)") {
    // the bare parquet read itself may launch a schema-inference job;
    // the pin is that the QUERY build adds nothing beyond it (the old
    // corpus.count() / count()/2 cap ran two full extra Spark jobs).
    // Job groups are THREAD-local, so counting per-group keeps this
    // robust against parallel suites launching their own jobs.
    val sc = spark.sparkContext
    def jobs(group: String)(build: => Unit): Int = {
      sc.setJobGroup(group, group)
      try build finally sc.clearJobGroup()
      Thread.sleep(1500) // listener bus drain before reading the tracker
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val baseline = jobs("r5_probe_bare_read") {
      graft.sources.Sources.table(spark, sf0001, "documents")
      ()
    }
    val query = jobs("r5_probe_tfidf_build") {
      SparkEntry.queries("q_tfidf_cosine_incremental")(spark, sf0001)
      ()
    }
    assert(query <= baseline,
      s"plan build launched $query job(s) vs $baseline for the bare table read")
  }

  test("bm25: the query-term filter prunes the explode BEFORE any shuffle") {
    // the term aggregation must be |query|-bounded at any corpus size:
    // the IN-filter has to sit directly on the Generate, not above an
    // Exchange — otherwise the full exploded corpus crosses the network
    val lines = plan("q_bm25_score").linesIterator.toSeq
    val idxs = lines.zipWithIndex
      .filter(_._1.contains("IN (vector,hash,stream,dup)")).map(_._2)
    assert(idxs.nonEmpty, lines.mkString("\n"))
    idxs.foreach { i =>
      assert(lines(i + 1).contains("Generate explode"),
        s"term filter must sit directly on the explode:\n${lines.slice(i, i + 2).mkString("\n")}")
    }
  }

  test("cumulative users: no WindowExec anywhere (bounded prefix fold instead)") {
    val p = plan("q_cumulative_users")
    assert(!p.contains("Window ["), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("semanticPairs refuses a pair space over maxCellPairs, naming the k policy") {
    import spark.implicits._
    val emb = (0L until 40L)
      .map(i => (i, Array.fill(4)((i % 3).toDouble)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Dedup.semanticPairs(emb, threshold = 0.5,
        nClusters = 2, trainIters = 1, maxCellPairs = 10L)
    }
    assert(e.getMessage.contains("nClusters"), e.getMessage)
    // the default guard leaves small corpora untouched
    val ok = graft.operators.Dedup.semanticPairs(emb, threshold = 0.99,
      nClusters = 2, trainIters = 1)
    assert(ok.columns.toSeq === Seq("a", "b", "cos"))
  }

  test("brute-force guard short-circuits: limit(maxRows+1) caps the guard scan") {
    import spark.implicits._
    val emb = (0L until 50L)
      .map(i => (i, Array.fill(4)(1.0)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.operators.Similarity.exactNeardupPairs(emb, threshold = 0.5,
        maxRows = 10L)
    }
    assert(e.getMessage.contains("> 10 rows"), e.getMessage)
  }

  test("dupNgramStats: shingle-frequency join is shuffle-capable (no forced broadcast)") {
    // the n-gram vocabulary is corpus-sized — a hinted broadcast here
    // would be the same 10^8-term OOM the tfidf fix removed
    val p = planNoAutoBroadcast("q_dup_ngram_stats")
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
  }

  test("dsirWeights: bucket-weight join stays broadcast at any corpus size") {
    // the weight table is <= `buckets` rows BY CONSTRUCTION (a fixed
    // constructor parameter), so its broadcast hint must survive even
    // with the size-based threshold off — the bounded-dimension case,
    // deliberately opposite to the vocabulary pins above
    val p = planNoAutoBroadcast("q_dsir_weights")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window ["), p)
  }

  test("removeDuplicateSpans: gram-frequency join shuffle-capable; no window, no cartesian") {
    val p = planNoAutoBroadcast("q_remove_dup_spans")
    assert(!p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("Window ["), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsirResample: top-k is TakeOrderedAndProject, never a global sort") {
    val p = plan("q_dsir_resample")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("building the dsir plan runs no driver job (totals in-plan, not .count())") {
    val sc = spark.sparkContext
    def jobs(group: String)(build: => Unit): Int = {
      sc.setJobGroup(group, group)
      try build finally sc.clearJobGroup()
      Thread.sleep(1500)
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val baseline = jobs("r5_probe_bare_read_dsir") {
      graft.sources.Sources.table(spark, sf0001, "documents")
      ()
    }
    val query = jobs("r5_probe_dsir_build") {
      SparkEntry.queries("q_dsir_weights")(spark, sf0001)
      ()
    }
    assert(query <= baseline,
      s"plan build launched $query job(s) vs $baseline for the bare table read")
  }

  test("ivf-pq: candidates come from an equi-join on cell; codes side is one shuffle-free projection") {
    val p = plan("q_ann_ivfpq_topk")
    // candidate pruning is a hash equi-join on the probed cell — never
    // an ADC scan of the whole corpus (that shape is the two allowed
    // BNLJ baselines in EngineSweepSpec's allow-list)
    assert(p.contains("BroadcastHashJoin [cell"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus index row (vec_id, cell, codes) is a single projection
    // off the scan: no exchange upstream of the join on the codes side
    val joinIdx = p.indexOf("BroadcastHashJoin [cell")
    val streamedSide = p.substring(joinIdx)
    val scanIdx = streamedSide.indexOf("FileScan parquet")
    assert(scanIdx > 0, p)
    // between the join and the streamed-side scan: project/filter only
    val streamedOps = streamedSide.substring(0, scanIdx)
    assert(!streamedOps.contains("Exchange hashpartitioning"), p)
    // ranking is a windowed top-k with group-limit pushdown, not a
    // global sort
    assert(p.contains("WindowGroupLimit"), p)
    assert(!p.contains("Exchange rangepartitioning"), p)
  }

  test("persisted ivf-pq: the probe join PRUNES cell partitions dynamically") {
    // the codes store is laid out cell=N/; the broadcast probe join
    // must reach the scan as a dynamic partition-pruning filter, so
    // only the probed cells' files are READ — the partition-level
    // realization of "score ~nprobe/nCells of the corpus". Spark's
    // PartitionPruning rule applies a size-benefit veto: it fires when
    // the pruning side is large relative to the filter side — true by
    // construction at corpus scale (TB codes table, KB query batch),
    // INVERTED at test scale. Emulate the production size ratio on an
    // isolated session by disabling the stats estimate and raising the
    // fallback ratio; the MECHANISM (filter reaches PartitionFilters as
    // dynamicpruning#N via broadcast reuse) is what this pins.
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    s.conf.set(
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio",
      "100000")
    graft.functions.GraftFunctions.register(s)
    val p = SparkEntry.queries("q_ivfpq_incremental_persisted")(s, sf0001)
      .queryExecution.executedPlan.toString
    val i = p.indexOf("PartitionFilters")
    assert(i >= 0, p)
    assert(p.substring(i, math.min(i + 400, p.length))
      .contains("dynamicpruning"), p.substring(i, math.min(i + 400, p.length)))
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pq adc scoring: per-pair cost is LUT lookups (no per-pair vector ops in the scored projection)") {
    val p = plan("q_ann_pq_topk")
    // the only vector_dot calls live in the QUERY-side LUT build
    // (pq_adc_lut) and nowhere in the per-pair path: the scored
    // projection references __lut element_at lookups only
    assert(p.contains("pq_adc_lut"), p)
    assert(p.contains("pq_encode"), p)
    // window ranking with group-limit pushdown
    assert(p.contains("WindowGroupLimit"), p)
  }
}
