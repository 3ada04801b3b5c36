package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape pin for the round-7 composition (the engine-wide
  * join-shape invariant is checked in [[EngineSweepSpec]]). */
class Round7PlanSpec extends SparkSpec {

  test("pipeline_e2e: composition adds no exchanges beyond the component sum") {
    val p = SparkEntry.queries("q_pipeline_e2e")(spark, sf0001)
      .queryExecution.executedPlan.toString
    // the component budget, measured stage by stage: line dedup 3
    // (line-hash freq agg + kept-line reassembly + curated join),
    // prefix-jaccard candidates 3 (shingle explode agg + pair agg +
    // size join), cluster labels 1 (post-loop label aggregation; the
    // CC loop itself is localCheckpoint-materialized), packing 1
    // (split-partitioned window), final summary 1. The deduped text
    // is the one materialization barrier (a lazy localCheckpoint for
    // its three consumers), so the line dedup's exchanges run while
    // the frame is built and the sink's plan holds at most the rest;
    // composing must not add a handoff exchange on top — stages chain
    // on already-partitioned keys or one-row broadcasts.
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 9, s"expected <= 9 component exchanges, got $exchanges:\n$p")
    // exactly one window, and it is partitioned (the packing stage)
    assert(p.linesIterator.count(_.contains("Window")) === 1, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("pipeline_e2e: the sink reads the pinned deduped text, never the documents") {
    val p = SparkEntry.queries("q_pipeline_e2e")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Scan parquet"), p)
  }
}
