package graft.core

import graft.SparkSpec
import graft.operators.{Dedup, Graph}
import org.apache.spark.sql.DataFrame

/** The round driver's release contract, observed through the loops that
  * run on it: a superseded round's blocks and the loop constants are
  * gone once the operator returns. */
class CheckpointsSpec extends SparkSpec {
  import spark.implicits._

  /** Persistent RDDs `build` leaves behind once its result is collected. */
  private def leftAfter(build: => DataFrame): Set[Int] = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    build.collect()
    (spark.sparkContext.getPersistentRDDs.keySet -- before).toSet
  }

  test("superseded rounds are freed: pageRank, kCore and " +
      "connectedComponents keep at most the returned round") {
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("e", "c")).toDF("src", "dst")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (6L, 7L)).toDF("a", "b")
    val built = Seq(
      "pageRank" -> (() => Graph.pageRank(edges, iters = 5)),
      "kCore" -> (() => Graph.kCore(edges, k = 2)),
      "connectedComponents" ->
        (() => Dedup.connectedComponents((1L to 8L).toDF("id"), pairs)))
    for ((name, build) <- built) {
      val left = leftAfter(build())
      assert(left.size <= 1, s"$name left ${left.size} persisted RDDs: $left")
    }
  }
}
