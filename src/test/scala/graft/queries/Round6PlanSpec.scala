package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape pins for the round-6 operators (the engine-wide
  * zero-unpartitioned-window invariant is checked in [[EngineSweepSpec]]). */
class Round6PlanSpec extends SparkSpec {

  private def exec(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("rollup/cube: one Expand pass, aggregation partial+final") {
    for (q <- Seq("q_rollup_revenue", "q_cube_orders")) {
      val p = exec(q)
      assert(p.contains("Expand"), s"$q lost its Expand:\n$p")
      assert(p.linesIterator.count(_.contains("Expand [")) === 1,
        s"$q should expand grains exactly once:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"), p)
    }
  }

  test("edit-distance PassJoin: equi-join on segment keys, no nested-loop") {
    val p = exec("q_edit_distance_pairs")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("scd2: change lag and successor lead share one key shuffle") {
    val p = exec("q_scd2_intervals")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 key exchange, got $exchanges:\n$p")
  }

  test("ts_gapfill: no WindowExec at all (bounded array fold)") {
    val p = exec("q_ts_gapfill")
    assert(!p.contains("Window"), p)
  }

  test("gopher filter: one scan, zero exchanges — pure codegen'd projection") {
    val p = exec("q_gopher_filter")
    assert(!p.contains("Exchange"), s"per-doc filter must not shuffle:\n$p")
    assert(p.linesIterator.count(_.contains("FileScan parquet")) === 1, p)
  }

  test("merge_intervals: exactly one key exchange feeds windows + agg") {
    val p = exec("q_merge_intervals")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 user_id exchange, got $exchanges:\n$p")
  }

  test("join_size_estimate: both sides aggregate BEFORE the profile join") {
    // the whole point is never materializing the raw join: the only
    // join in the plan must sit above per-key aggregates (logical plan
    // — the physical tree hides under the AQE wrapper)
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val plan = SparkEntry.queries("q_join_size_estimate")(spark, sf0001)
      .queryExecution.optimizedPlan
    val joins = plan.collect { case j: Join => j }
    assert(joins.nonEmpty)
    joins.foreach { j =>
      j.children.foreach { side =>
        assert(side.collectFirst { case a: Aggregate => a }.nonEmpty,
          s"join side must be a per-key profile, not raw rows:\n$j")
      }
    }
  }

  test("temporal_split: cutoff is a one-row broadcast, not a row shuffle") {
    val p = exec("q_temporal_split")
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"expected the one-row cutoff broadcast:\n$p")
  }

  test("agg_state_merge: state and delta union under ONE final merge agg") {
    val p = exec("q_agg_state_merge")
    assert(p.contains("Union"), p)
    // two partial-state aggs + one merge agg — no window, no join
    assert(!p.contains("Join"), s"merge must be union+agg, not a join:\n$p")
  }
}
