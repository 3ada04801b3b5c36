package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

import graft.functions.GraftFunctions.vectorDot

/** Nearest-centroid assignment: every row of a frame against a small
  * centroid model shipped to every task (kaylee's `mapfn` over a
  * broadcast model). It is the map step of each Lloyd round
  * ([[Clustering.trainCentroids]]), of [[Clustering.assign]] and of the
  * k-means|| init, of IVF cell assignment and probing
  * ([[Similarity.knnJoinWithCentroids]]) and of the IVF-PQ encode and
  * probe ([[Similarity.pqEncodeWithCells]],
  * [[Similarity.pqAdcTopKCells]]). The rules those callers share live
  * here only:
  *
  *  - DISTANCE: squared L2 via `‖x−c‖² = x·x − 2·x·c + ‖c‖²`, clamped at
  *    0 (float cancellation can dip a hair negative for x ≈ c). `x·x` is
  *    computed once per row and each centroid costs one fused native
  *    [[graft.functions.VectorDot]] — fully codegen'd, where an
  *    `aggregate(zip_with(...))` fold would be interpreted. `‖c‖²` folds
  *    left to right at plan time, the order the oracle's `list_sum`
  *    uses, so both engines evaluate the identical expression.
  *  - TIES go to the lower centroid id: rows rank by (d2, id).
  *  - ROUTE, by centroid count: at or below [[LiteralArgminMax]], one
  *    projection over centroid literals (`array_min`, or `array_sort` for
  *    the top m) — no row multiplication and no shuffle, so it applies
  *    to a stream too. Above it, a broadcast cross join with the
  *    centroid table and a per-row `min(struct)` (top m:
  *    `sort_array(collect_list)`) — one map-side-combined shuffle of
  *    |rows| compact rows, the shape that scales to thousands of cells.
  *    Both routes rank the identical quantity, so results do not depend
  *    on the route (CentroidsProps).
  */
private[operators] object Centroids {

  /** Max centroids scored as ONE literal expression. Beyond this, the
    * generated Java for the struct-array min exceeds Janino's method
    * limits (CollapseProject re-inlines any attempt to split it across
    * projections), codegen fails, and the whole stage silently drops to
    * interpreted eval — measured as minutes instead of seconds at
    * k=64/128. */
  val LiteralArgminMax = 32

  /** Pins the route of every [[nearest]] call made inside `withValue`
    * on this thread — `Some(true)` the join route, `Some(false)` the
    * literal route — so a check can run one input both ways. */
  private[operators] val pinnedJoin = new scala.util.DynamicVariable[Option[Boolean]](None)

  /** Whether [[nearest]] scores `n` centroids on the broadcast-join
    * route. */
  def joins(n: Int): Boolean = pinnedJoin.value.getOrElse(n > LiteralArgminMax)

  private def sqNorm(c: Seq[Double]): Double = c.foldLeft(0.0)((a, x) => a + x * x)

  /** `df`'s `key` and `carry` columns plus `near`: the `m` centroids
    * nearest to the `array<double>` column `vec`, ascending, as an
    * array of struct(d2, id) (all of them when m exceeds their count).
    * `key` must identify the row: the join route groups on it, and the
    * carried columns ride through that aggregation in the winning
    * struct, so none may be named `d2` or `id`. Centroid ids must be
    * distinct; their type (Int cluster ids, Long vector ids) is the
    * type of `id`. */
  def nearest[T](df: DataFrame, vec: String, centroids: Seq[(T, Seq[Double])],
      m: Int, key: String, carry: String*): DataFrame = {
    require(centroids.nonEmpty, "nearest-centroid assignment needs at least one centroid")
    require(m >= 1, s"nearest-centroid assignment needs m >= 1 (an nprobe of at least 1), got $m")
    require(centroids.map(_._1).distinct.size == centroids.size, "centroid ids must be distinct")
    val v = col(vec)
    val rows = df.select((key +: carry :+ vec).distinct.map(col): _*)
      .withColumn("__xx", vectorDot(v, v))
    def d2(c: Column, cc: Column): Column =
      greatest(col("__xx") - lit(2.0) * vectorDot(v, c) + cc, lit(0.0))
    val kept = (key +: carry).map(col)
    if (!joins(centroids.size)) {
      val all = array(centroids.map { case (id, c) =>
        struct(d2(typedLit(c), lit(sqNorm(c))).as("d2"), lit(id).as("id"))
      }: _*)
      val near = if (m == 1) array(array_min(all)) else slice(array_sort(all), 1, m)
      rows.select(kept :+ near.as("near"): _*)
    } else {
      val cent = df.sparkSession.createDataFrame(
        centroids.map { case (id, c) => Row(id, c, sqNorm(c)) }.asJava,
        StructType(Seq(
          StructField("__cid", Literal(centroids.head._1).dataType, nullable = false),
          StructField("__c", ArrayType(DoubleType, containsNull = false)),
          StructField("__cc", DoubleType, nullable = false))))
      val dist = d2(col("__c"), col("__cc"))
      // ids are distinct, so (d2, id) decides every min and the carried
      // fields are never compared: they ride along to spare a second
      // join back to the row
      val scored = rows.crossJoin(broadcast(cent)).select(col(key),
        struct(dist.as("d2") +: col("__cid").as("id") +: carry.map(col): _*).as("__s"),
        struct(dist.as("d2"), col("__cid").as("id")).as("__p"))
      val best = min(col("__s")).as("__m")
      val grouped = scored.groupBy(col(key))
      val (agg, near) =
        if (m == 1) (grouped.agg(best),
          array(struct(col("__m.d2").as("d2"), col("__m.id").as("id"))))
        else (grouped.agg(best, slice(sort_array(collect_list(col("__p"))), 1, m).as("__n")),
          col("__n"))
      agg.select(col(key) +: carry.map(c => col(s"__m.$c").as(c)) :+ near.as("near"): _*)
    }
  }

  /** A centroid set prepared for [[nearestOne]]: (id, c, ‖c‖²). */
  type ScalarModel = Array[(Int, Array[Double], Double)]

  def scalarModel(centroids: Seq[(Int, Seq[Double])]): ScalarModel =
    centroids.map { case (id, c) => (id, c.toArray, sqNorm(c)) }.toArray

  /** [[nearest]] at m = 1 for one vector, for driver-side loops and
    * per-partition closures: the same clamped identity, left-to-right
    * folds (the [[graft.functions.VectorDot]] loop, so the result is
    * bit-equal to the Column routes) and the same lower-id tie rule.
    * Returns (d2, id). */
  def nearestOne(e: Array[Double], model: ScalarModel): (Double, Int) = {
    var xx = 0.0
    var i = 0
    while (i < e.length) { xx += e(i) * e(i); i += 1 }
    var bestD = Double.PositiveInfinity
    var bestId = Int.MaxValue
    model.foreach { case (id, c, cc) =>
      var dot = 0.0
      var j = 0
      val n = math.min(e.length, c.length)
      while (j < n) { dot += e(j) * c(j); j += 1 }
      val d2 = math.max(xx - 2.0 * dot + cc, 0.0)
      if (d2 < bestD || (d2 == bestD && id < bestId)) { bestD = d2; bestId = id }
    }
    (bestD, bestId)
  }
}
