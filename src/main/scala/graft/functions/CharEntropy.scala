package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Shannon entropy (bits per character) of a string's code-point
  * distribution — the gibberish/boilerplate quality signal
  * (low = repeated padding, high = random noise).
  *
  * One linear pass per row with an ASCII-array + map fallback counter,
  * exposed as a native Catalyst Expression so it stays inside
  * whole-stage codegen: the composed higher-order-function form
  * (`transform(array_distinct(chars), d -> size(filter(chars, ...)))`)
  * is O(distinct_chars × len) per row and allocates the char array
  * three times — measured ~7s vs sub-second on the sf0.1 documents
  * table. Map-only (no shuffle), so it scales embarrassingly at 100 TB.
  *
  * Code POINTS, not UTF-16 units (consistent with [[RollingHash]]):
  * surrogate pairs count as one symbol, matching codepoint-based
  * oracles on all inputs, not just the BMP.
  *
  * The reference has no text-quality operators (SURVEY.md §2; word
  * count is its only workload) — LLM-pipeline extension surface.
  */
case class CharEntropy(child: Expression)
    extends UnaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "char_entropy"

  override def nullSafeEval(input: Any): Any =
    CharEntropy.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.CharEntropy.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): CharEntropy =
    copy(child = newChild)
}

object CharEntropy {
  private val Ln2 = math.log(2.0)

  /** Static entry point shared by eval and generated code. */
  def compute(u: UTF8String): Double = {
    val s = u.toString
    val ascii = new Array[Int](128)
    var other: java.util.HashMap[Integer, Integer] = null
    var n = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp < 128) ascii(cp) += 1
      else {
        if (other == null) other = new java.util.HashMap[Integer, Integer]()
        other.merge(cp, 1, (a, b) => a + b)
      }
      n += 1
      i += Character.charCount(cp)
    }
    if (n == 0L) return 0.0
    var h = 0.0
    val nd = n.toDouble
    var j = 0
    while (j < 128) {
      val c = ascii(j)
      if (c > 0) { val p = c / nd; h -= p * (math.log(p) / Ln2) }
      j += 1
    }
    if (other != null) {
      val it = other.values().iterator()
      while (it.hasNext) {
        val p = it.next().toDouble / nd
        h -= p * (math.log(p) / Ln2)
      }
    }
    h
  }
}
