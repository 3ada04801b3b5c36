package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape pins for the round-3 operators — the properties that make
  * them scale, asserted against the physical plan so a refactor can't
  * silently regress them. */
class Round3PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("band join never plans a nested-loop/cartesian join") {
    val p = plan("q_band_join")
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bloom semi-join filters the fact side at the scan (bloom_probe before the join)") {
    val p = plan("q_bloom_semi_join")
    assert(p.contains("bloom_probe"), p)
    // the exact verify is still a real semi join
    assert(p.contains("LeftSemi"), p)
  }

  test("winsorize/MAD bounds come back via broadcast joins, not shuffles") {
    assert(plan("q_winsorized_stats").contains("BroadcastHashJoin"))
    assert(plan("q_mad_outliers").contains("BroadcastHashJoin"))
  }

  test("char_entropy stays inside whole-stage codegen") {
    val p = plan("q_char_entropy")
    assert(p.contains("char_entropy"), p)
    assert(p.contains("*("), p) // WholeStageCodegen span covers the projection
  }

  test("cumulative users: keyed aggregations are partial+final (map-side combine)") {
    // the full-row shuffle count stays at two regardless of event
    // volume (round 5 replaced the day-level window with a bounded
    // array fold — Round5PlanSpec pins the no-WindowExec shape)
    val p = plan("q_cumulative_users")
    assert(p.contains("partial_min") || p.contains("partial_count"), p)
  }

  test("upsert compaction: one exchange on the key, no join") {
    // union + window, NOT a join: exactly one hashpartitioning exchange
    // of the unioned rows on the merge key
    val p = plan("q_upsert_latest")
    assert(!p.contains("Join"), p)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected 1 key exchange, got $exchanges:\n$p")
  }

  test("hll rollup: day-grain sketches are a partial+final aggregation") {
    // the sketch build must combine map-side; the week rollup then
    // aggregates |days| sketch rows, never raw events
    val p = plan("q_hll_reaggregate")
    assert(p.contains("partial_hllsketchagg") || p.contains("partial_hll"), p)
  }
}
