package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Fused dot product over two `array<double>` columns.
  *
  * Semantically identical to
  * `aggregate(zip_with(a, b, _ * _), 0.0, _ + _)` — the same sequential
  * left-to-right fold, so results match the composed form (and the
  * DuckDB oracle's `list_sum(list_transform(...))`) bit-for-bit. The
  * difference is mechanical: the composed form allocates an intermediate
  * 64-element array and walks higher-order-function plumbing per ROW,
  * which at an O(n²) similarity join means millions of allocations; this
  * expression is a single codegen'd loop over the two ArrayDatas with no
  * allocation at all. This is exactly the "custom Catalyst Expression
  * beats UDF beats composed-op" escape hatch of SURVEY.md §7 —
  * used only where the profile justified it.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vector_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VectorDot =
    copy(left = newLeft, right = newRight)
}
