package graft.queries

import graft.SparkSpec
import graft.SparkEntry

/** Plan-shape assertions: correctness is the oracle gate's job; these
  * tests pin the SCALE properties — broadcast joins stay broadcast,
  * top-k stays TakeOrderedAndProject (no global sort), predicates reach
  * the parquet scan, aggregation is partial before the shuffle. */
class RelationalSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("every query with an oracle exists in queries (and names line up)") {
    val qs = SparkEntry.queries.keySet
    val orphans = SparkEntry.oracleSql.keySet -- qs
    assert(orphans.isEmpty, s"oracleSql without queries: $orphans")
  }

  test("dimension joins broadcast (q_top_revenue_orders, q_local_supplier_volume)") {
    assert(plan("q_top_revenue_orders").contains("BroadcastHashJoin"))
    assert(plan("q_local_supplier_volume").contains("BroadcastHashJoin"))
    assert(plan("q_join_broadcast_dims").contains("BroadcastHashJoin"))
  }

  test("sort+limit plans as TakeOrderedAndProject (per-partition top-k)") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
    assert(plan("q_top_revenue_orders").contains("TakeOrderedAndProject"))
  }

  test("filters and projection push down to the parquet scan") {
    val p = plan("q_filter_project")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("l_quantity"), p)
    // pruned read schema: only the 3 selected columns + filter column
    assert(!p.contains("l_extendedprice"), "projection not pruned")
  }

  test("aggregation is partial (map-side) before the shuffle") {
    val p = plan("q_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  test("whole-stage codegen covers the aggregation pipeline") {
    // AQE materializes the final plan only on execution
    val df = SparkEntry.queries("q_pricing_summary")(spark, sf0001)
    df.collect()
    // codegen stages render as "*(n) Operator" in the plan string
    assert(df.queryExecution.executedPlan.toString.contains("*("))
  }
}
