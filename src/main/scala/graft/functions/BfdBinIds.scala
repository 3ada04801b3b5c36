package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Best-fit-decreasing bin assignment over per-sequence token counts
  * (Krell et al. 2021 "Efficient Sequence Packing without
  * Cross-contamination" — the packing family that recovers most of the
  * padding waste greedy next-fit leaves): element `i` (counts MUST
  * arrive sorted descending — the caller sorts; this expression only
  * folds) goes into the open bin with the SMALLEST remaining capacity
  * that still fits (ties → the lowest bin id), or opens a new bin when
  * none fits. A sequence longer than `capacity` opens its own
  * oversized bin, whose remaining capacity is negative and therefore
  * never fits anything else — the [[ChunkIds]] oversized convention.
  *
  * Why native: same argument as [[ChunkIdsExpr]] — the fold must emit
  * one value per element while carrying a bin-pool accumulator, and
  * the `aggregate`-HOF encoding copies the whole accumulator array per
  * element (O(n²) per group). Here it is one O(n·bins) loop with two
  * allocations. The DuckDB oracle replays the identical recurrence as
  * a recursive CTE (list_position of the min fitting remainder). */
case class BfdBinIdsExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "bfd_bin_ids"

  override def nullSafeEval(a: Any, c: Any): Any =
    BfdBinIds.compute(a.asInstanceOf[ArrayData], c.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, c) =>
      s"${ev.value} = graft.functions.BfdBinIds.compute($a, $c);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): BfdBinIdsExpr =
    copy(left = newLeft, right = newRight)
}

object BfdBinIds {
  /** The best-fit fold. Null elements are rejected loudly (the
    * [[ChunkIds.compute]] argument: a null count silently poisons
    * every later fit test in any composed encoding). */
  def compute(counts: ArrayData, capacity: Long): GenericArrayData = {
    val s = counts.numElements()
    val ids = new Array[Int](s)
    // remaining capacity per open bin, indexed by bin id
    val rems = new scala.collection.mutable.ArrayBuffer[Long](
      math.min(s, 16))
    var i = 0
    while (i < s) {
      if (counts.isNullAt(i)) throw new IllegalArgumentException(
        s"bfd_bin_ids: null token count at index $i — counts must be non-null")
      val n = counts.getLong(i)
      var best = -1
      var bestRem = Long.MaxValue
      var b = 0
      while (b < rems.length) {
        val r = rems(b)
        if (r >= n && r < bestRem) { best = b; bestRem = r }
        b += 1
      }
      if (best < 0) { ids(i) = rems.length; rems += capacity - n }
      else { ids(i) = best; rems(best) = bestRem - n }
      i += 1
    }
    new GenericArrayData(ids)
  }

  /** Registry builder: `bfd_bin_ids(counts, capacity)`. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"bfd_bin_ids(counts, capacity) takes 2 arguments, got ${exprs.length}")
    BfdBinIdsExpr(exprs.head, exprs(1))
  }
}
