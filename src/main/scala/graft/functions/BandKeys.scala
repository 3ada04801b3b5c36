package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftErrors
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** LSH band keys of a signature: key `b` (0-based) joins elements
  * `b·r … b·r + r − 1` (r = numHashes / bands) as decimal strings with
  * `sep` — the keys of [[graft.operators.Dedup.bandedSignatures]]
  * (MinHash, `array<bigint>`, sep ":") and
  * [[graft.operators.Similarity.srpBandedSignatures]] (SRP bits,
  * `array<int>`, sep "").
  *
  * Why native: the composed form `array(concat_ws(sep,
  * element_at(sig, i).cast("string"), …), …)` unrolls numHashes
  * element reads into the generated code — at 128/32 each consuming
  * whole-stage class ran to 4,371–5,285 lines of Java, recompiled by
  * Janino on every pass because Spark's generated-class cache is
  * small. This expression is one loop whose generated code is a single
  * call, whatever numHashes is.
  *
  * Keys are byte-identical to the composed form, so band indexes stored
  * by either stay valid: null elements are skipped, as `concat_ws`
  * skips them, and a null signature yields `bands` empty keys. A
  * signature shorter than numHashes fails with ANSI `element_at`'s
  * INVALID_ARRAY_INDEX_IN_ELEMENT_AT error (a short signature is a
  * corrupt index, never a signal); elements past numHashes are
  * ignored. */
case class BandKeysExpr(child: Expression, numHashes: Int, bands: Int, sep: String)
    extends UnaryExpression {

  require(numHashes > 0 && bands > 0, s"numHashes and bands must be > 0: $numHashes, $bands")
  require(numHashes % bands == 0, "bands must divide numHashes")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "band_keys"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType | LongType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"band_keys needs an array<int> or array<bigint> signature, got ${other.catalogString}")
  }

  @transient private lazy val longs =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType

  /** Shared by eval and generated code (referenced via addReferenceObj). */
  def keys(sig: ArrayData): ArrayData = {
    if (sig != null && sig.numElements() < numHashes)
      throw GraftErrors.invalidElementAtIndex(sig.numElements() + 1, sig.numElements())
    val r = numHashes / bands
    val out = new Array[Any](bands)
    val sb = new java.lang.StringBuilder
    var b = 0
    while (b < bands) {
      sb.setLength(0)
      var i = b * r
      while (sig != null && i < (b + 1) * r) {
        if (!sig.isNullAt(i)) {
          if (sb.length > 0) sb.append(sep)
          if (longs) sb.append(sig.getLong(i)) else sb.append(sig.getInt(i))
        }
        i += 1
      }
      out(b) = UTF8String.fromString(sb.toString)
      b += 1
    }
    new GenericArrayData(out)
  }

  override def eval(input: InternalRow): Any =
    keys(child.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bandKeys", this, classOf[BandKeysExpr].getName)
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      ArrayData ${ev.value} = $ref.keys(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): BandKeysExpr =
    copy(child = newChild)
}

object BandKeys {
  /** Registry builder: `band_keys(sig, numHashes, bands, sep)` with
    * integer literals and a string-literal separator. */
  def build(exprs: Seq[Expression]): Expression = {
    require(exprs.length == 4,
      s"band_keys(sig, numHashes, bands, sep) takes 4 arguments, got ${exprs.length}")
    def int(e: Expression, what: String): Int = e match {
      case Literal(v: Int, _) => v
      case Literal(v: Long, _) => v.toInt
      case other => throw new IllegalArgumentException(
        s"band_keys $what must be an integer literal, got $other")
    }
    val sep = exprs(3) match {
      case Literal(v: UTF8String, StringType) => v.toString
      case other => throw new IllegalArgumentException(
        s"band_keys sep must be a string literal, got $other")
    }
    BandKeysExpr(exprs.head, int(exprs(1), "numHashes"), int(exprs(2), "bands"), sep)
  }
}
