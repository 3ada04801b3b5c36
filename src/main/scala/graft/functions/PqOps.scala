package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.graft.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType}

/** Native product-quantization kernels: encode (vector → per-subspace
  * nearest-codebook codes) and the per-query ADC distance table.
  *
  * Why native expressions and not composed columns: the composed
  * literal-argmin form unrolls `subspaces × codesPerSubspace` dot
  * products into ONE generated method — and inside whole-stage codegen
  * a projection's expressions reference stage-local variables, so Spark
  * CANNOT split them into sub-methods the way it can for interpreted
  * projections. At the 8×16 default the fused scan→encode→score→rank
  * stage blows Janino's 64 KB method cap and the WHOLE stage silently
  * drops to interpreted execution (the same cliff that caps the literal
  * route of the nearest-centroid kernel, `graft.operators.Centroids`,
  * measured there as minutes-instead-of-seconds). These expressions generate a single
  * method CALL against a referenced model object whose loops are
  * compiled Scala — a few dozen bytes of generated code regardless of
  * codebook size, which also lifts the practical codebook ceiling to
  * the standard 256 entries/subspace of published PQ systems.
  *
  * The codebooks are carried OUTSIDE the plan tree as a [[PqModel]] —
  * the [[BloomProbe]] pattern, no giant nested literal for every plan
  * traversal to re-walk. The Column constructors build the model
  * directly; SQL passes two foldable literals (code ids:
  * array<array<int>>; centroids: array<array<array<double>>>) that the
  * builders below extract at resolution time.
  *
  * Arithmetic parity (oracle + the previous composed form): slice
  * norms and dots are left-to-right folds; the per-entry distance is
  * `max(xx − 2·dot + ‖c‖², 0)`; ties take the lower code id (entries
  * are iterated in ascending code order with strict-less updates).
  */
object PqOps {

  /** SQL builders ([[GraftFunctions.table]]): extract the model from
    * the two literals at build time. The Column constructors are
    * [[GraftFunctions.pqEncode]] and [[GraftFunctions.pqAdcLut]]. */
  def buildEncode(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"pq_encode(vec, codeIds, centroids) takes 3 arguments, got ${exprs.length}")
    PqEncodeExpr(exprs.head, PqModel.fromLiterals(exprs(1), exprs(2)))
  }

  def buildAdcLut(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 3,
      s"pq_adc_lut(q, codeIds, centroids) takes 3 arguments, got ${exprs.length}")
    PqAdcLutExpr(exprs.head, PqModel.fromLiterals(exprs(1), exprs(2)))
  }
}

/** The deserialized codebook model: `codeIds(s)(j)`/`cents(s)(j)`/
  * `ccs(s)(j)` = id, centroid, ‖c‖² of entry j of subspace s (ascending
  * code order). Ships to executors once per task via the codegen
  * reference array, not per row. */
final class PqModel(
    val codeIds: Array[Array[Int]],
    val cents: Array[Array[Array[Double]]],
    val subDim: Int) extends Serializable {

  val nSub: Int = codeIds.length
  // same fold order as the composed form's c.foldLeft(0.0)(_ + x*x)
  val ccs: Array[Array[Double]] = cents.map(_.map { c =>
    var s = 0.0; var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    s
  })
  private val maxCode: Array[Int] = codeIds.map(_.max)

  /** (vec_id row side) nearest code per subspace. */
  def encode(v: ArrayData): GenericArrayData = {
    val out = new Array[Int](nSub)
    var s = 0
    while (s < nSub) {
      val off = s * subDim
      var xx = 0.0
      var i = 0
      while (i < subDim) { val x = v.getDouble(off + i); xx += x * x; i += 1 }
      var bestD = Double.PositiveInfinity
      var bestC = 0
      var j = 0
      while (j < codeIds(s).length) {
        val c = cents(s)(j)
        var dot = 0.0
        i = 0
        while (i < subDim) { dot += v.getDouble(off + i) * c(i); i += 1 }
        var d = xx - 2.0 * dot + ccs(s)(j)
        if (d < 0.0) d = 0.0
        // ascending code order + strict less ⇒ ties keep the lower code
        if (d < bestD) { bestD = d; bestC = codeIds(s)(j) }
        j += 1
      }
      out(s) = bestC
      s += 1
    }
    new GenericArrayData(out)
  }

  /** (query side) dense-by-code-value ADC table. */
  def lut(q: ArrayData): GenericArrayData = {
    val rows = new Array[Any](nSub)
    var s = 0
    while (s < nSub) {
      val off = s * subDim
      var xx = 0.0
      var i = 0
      while (i < subDim) { val x = q.getDouble(off + i); xx += x * x; i += 1 }
      val row = Array.fill(maxCode(s) + 1)(Double.MaxValue)
      var j = 0
      while (j < codeIds(s).length) {
        val c = cents(s)(j)
        var dot = 0.0
        i = 0
        while (i < subDim) { dot += q.getDouble(off + i) * c(i); i += 1 }
        var d = xx - 2.0 * dot + ccs(s)(j)
        if (d < 0.0) d = 0.0
        row(codeIds(s)(j)) = d
        j += 1
      }
      rows(s) = new GenericArrayData(row)
      s += 1
    }
    new GenericArrayData(rows)
  }
}

object PqModel {
  /** Resolution-time extraction from the two foldable literals. */
  def fromLiterals(codeIds: Expression, cents: Expression): PqModel =
    (codeIds, cents) match {
      case (Literal(ids: ArrayData, _), Literal(cs: ArrayData, _)) =>
        checked(
          ids.toSeq[ArrayData](ArrayType(IntegerType)).map(_.toIntArray()).toArray,
          cs.toSeq[ArrayData](ArrayType(ArrayType(DoubleType)))
            .map(_.toSeq[ArrayData](ArrayType(DoubleType))
              .map(_.toDoubleArray()).toArray).toArray)
      case other => throw new IllegalArgumentException(
        "pq_encode/pq_adc_lut codebook arguments must be literals, got " + other)
    }

  /** Direct construction from (code id, centroid) codebooks, one per
    * subspace; entries are put in ascending code order. */
  def fromCodebooks(cbs: Seq[Seq[(Int, Seq[Double])]]): PqModel = {
    val sorted = cbs.map(_.sortBy(_._1))
    checked(sorted.map(_.map(_._1).toArray).toArray,
      sorted.map(_.map(_._2.toArray).toArray).toArray)
  }

  private def checked(idArr: Array[Array[Int]],
      centArr: Array[Array[Array[Double]]]): PqModel = {
    require(idArr.nonEmpty && idArr.forall(_.nonEmpty),
      "pq model needs at least one codebook entry per subspace")
    require(idArr.indices.forall(s => idArr(s).length == centArr(s).length),
      "code-id and centroid arrays disagree")
    val subDim = centArr.head.head.length
    require(centArr.forall(_.forall(_.length == subDim)),
      "all centroids must share the subspace dimension")
    new PqModel(idArr, centArr, subDim)
  }
}

/** codes = per-subspace nearest-codebook entry of an `array<double>`
  * vector (see [[PqOps]] for why this is a native expression). */
case class PqEncodeExpr(child: Expression, model: PqModel)
    extends UnaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  override def nullSafeEval(v: Any): Any =
    model.encode(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, classOf[PqModel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.encode($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** The per-query ADC distance table (see [[GraftFunctions.pqAdcLut]]). */
case class PqAdcLutExpr(child: Expression, model: PqModel)
    extends UnaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def prettyName: String = "pq_adc_lut"

  override def nullSafeEval(v: Any): Any =
    model.lut(v.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqModel", model, classOf[PqModel].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.lut($v);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqAdcLutExpr =
    copy(child = newChild)
}
