package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The round driver of every iterative operator (min-label and
  * alternating-star connected components, PageRank, label propagation,
  * k-core): the iterative loop of the RDD paper (Zaharia et al., NSDI
  * 2012) and of Kiveris et al. (SoCC 2014). An operator gives only its
  * step from one round to the next, its convergence statistic and its
  * error text.
  *
  * THE ROUND CONTRACT:
  *  - `init` and every round are `localCheckpoint(eager = true)`ed: a
  *    round feeds two operators of the next, so an un-checkpointed
  *    round would embed its plan twice in the next one (SCALE.md,
  *    "Iterative loops").
  *  - The convergence test gets the previous and the new round and may
  *    read both; the previous round is freed only after it returns.
  *  - On every exit, a throw included, the loop constants are released,
  *    and so is every round not handed back to the caller. A checkpoint
  *    has its own blocks freed; any other frame (a `cache()`d constant)
  *    is unpersisted. Nothing below the frame itself is touched: a
  *    cached constant's plan can reach live upstream checkpoints, such
  *    as `q_pipeline_e2e`'s pinned deduped text.
  *  - [[iterate]] runs a fixed number of rounds; [[fixpoint]] runs to a
  *    fixpoint and throws `IllegalStateException` when `maxRounds` runs
  *    out, because a partial result would be silently wrong.
  *
  * Why free at all: `Dataset.unpersist` cannot reach checkpoint blocks
  * (they never register in CacheManager), and the ContextCleaner frees
  * them only once the frame is unreachable AND a GC cycle has run. In a
  * long-lived session the dead rounds pile up faster than that, and
  * their eviction churn lands on the loop itself — the round-11 bench
  * signature: the same CC query at 31.8s / 23.4s / 13.2s back-to-back,
  * vs 5.7s in a fresh JVM. A freed checkpoint cannot be recomputed (its
  * lineage is truncated); the eager checkpoint makes freeing safe,
  * since round N is fully written before round N-1 goes. The returned
  * round is left to the ContextCleaner: it feeds the caller's plan.
  */
object Checkpoints {

  /** Runs `rounds` rounds of `step` from `init` and returns the last
    * round (the round contract above). */
  def iterate(init: DataFrame, rounds: Int, constants: DataFrame*)(
      step: DataFrame => DataFrame): DataFrame =
    run[Unit](init, rounds, constants, step,
      _ => ((), false), (_, _, _) => ((), false))._1

  /** Runs `step` from `init` until `test` reports a fixpoint and
    * returns that round; throws `IllegalStateException(notConverged(s))`,
    * with `s` the last round's statistic, when `maxRounds` rounds pass
    * without one.
    *
    * `start(init)` gives the initial statistic and whether `init` is
    * already a fixpoint; a loop that never compares against the initial
    * round returns a constant there, so no job runs before round 1.
    * `test(prev, prevStat, next)` gives the new round's statistic and
    * whether it is a fixpoint. */
  def fixpoint[S](init: DataFrame, maxRounds: Int, constants: DataFrame*)(
      step: DataFrame => DataFrame)(
      start: DataFrame => (S, Boolean),
      test: (DataFrame, S, DataFrame) => (S, Boolean),
      notConverged: S => String): DataFrame = {
    val (last, stat, converged) =
      run(init, maxRounds, constants, step, start, test)
    if (!converged) {
      free(last)
      throw new IllegalStateException(notConverged(stat))
    }
    last
  }

  /** The one round loop: returns the last round, its statistic and
    * whether it is a fixpoint. On a throw every round is freed; on
    * return the last round is live. Constants are released either way. */
  private def run[S](init: DataFrame, maxRounds: Int,
      constants: Seq[DataFrame], step: DataFrame => DataFrame,
      start: DataFrame => (S, Boolean),
      test: (DataFrame, S, DataFrame) => (S, Boolean)): (DataFrame, S, Boolean) = {
    var last: DataFrame = null
    try {
      last = init.localCheckpoint(eager = true)
      var (stat, converged) = start(last)
      var round = 0
      while (!converged && round < maxRounds) {
        val prev = last
        last = step(prev).localCheckpoint(eager = true)
        val (s, c) = try test(prev, stat, last) finally free(prev)
        stat = s
        converged = c
        round += 1
      }
      (last, stat, converged)
    } catch {
      case e: Throwable =>
        if (last != null) free(last)
        throw e
    } finally constants.foreach(free)
  }

  /** Releases one frame's blocks (non-blocking): a checkpoint's RDD is
    * unpersisted directly (`LogicalRDD.rdd`, the block holder), any
    * other frame goes through `unpersist()`. */
  private def free(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => df.unpersist()
  }
}
