package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graft.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** Greedy capacity-reset chunk assignment over per-sentence token
  * counts: element `i` gets the 0-based id of the chunk its sentence
  * packs into, where a chunk closes when adding the next sentence would
  * exceed `maxTokens` (a sentence longer than the cap opens its own
  * oversized chunk) — the sequential recurrence of
  * [[graft.operators.TextAnalysis.chunkBySentences]].
  *
  * Why native: the recurrence is a fold that must EMIT one value per
  * element, and the only higher-order-function encoding Spark offers is
  * `aggregate` appending to an accumulator array — each `concat`
  * copies the whole ids array, O(s²) copying per document. That made
  * the sentence chunker the single most expensive scan on the bench
  * (50s of a 300s total at sf0.1, ~200 sentences/doc). This expression
  * is the same fold as one codegen'd O(s) loop with a single output
  * allocation — bit-identical ids (the DuckDB oracle's recursive-CTE
  * replay is unchanged). The same "native Expression beats the composed
  * form" escape hatch as [[VectorDot]] / [[WinnowFpsExpr]], used only
  * where the profile justified it. */
case class ChunkIdsExpr(left: Expression, right: Expression)
    extends BinaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] =
    Seq(ArrayType(LongType), LongType)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "chunk_ids"

  override def nullSafeEval(a: Any, m: Any): Any =
    ChunkIds.compute(a.asInstanceOf[ArrayData], m.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, m) =>
      s"${ev.value} = graft.functions.ChunkIds.compute($a, $m);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ChunkIdsExpr =
    copy(left = newLeft, right = newRight)
}

object ChunkIds {
  /** The greedy fold: start a chunk at element 0 and whenever the open
    * chunk's running count plus the next sentence would exceed
    * `maxTokens`. Mirrors the `aggregate` HOF form exactly (first
    * element always opens chunk 0, even when oversized). Null ELEMENTS
    * are rejected loudly: the HOF form null-poisons its running count
    * (every later capacity test is null → no chunk ever closes again),
    * which is never the intent — fail fast rather than silently
    * diverge from either reading. [[graft.operators.TextAnalysis
    * .chunkBySentences]] feeds non-null counts by construction. */
  def compute(counts: ArrayData, maxTokens: Long): GenericArrayData = {
    val s = counts.numElements()
    val ids = new Array[Int](s)
    var id = -1
    var cur = 0L
    var i = 0
    while (i < s) {
      if (counts.isNullAt(i)) throw new IllegalArgumentException(
        s"chunk_ids: null token count at index $i — counts must be non-null")
      val n = counts.getLong(i)
      if (i == 0 || cur + n > maxTokens) { id += 1; cur = n }
      else cur += n
      ids(i) = id
      i += 1
    }
    new GenericArrayData(ids)
  }

  /** Registry builder: `chunk_ids(counts, maxTokens)` — arity-checked
    * (a direct lambda would throw a bare IndexOutOfBoundsException on
    * wrong-arity SQL calls). */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 2,
      s"chunk_ids(counts, maxTokens) takes 2 arguments, got ${exprs.length}")
    ChunkIdsExpr(exprs.head, exprs(1))
  }
}
