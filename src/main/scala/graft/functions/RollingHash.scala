package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.graft.GraftExpectsInputTypes
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial (Karp-Rabin) rolling hash of a string column — the
  * document-fingerprinting primitive.
  *
  * `h = fold(codepoints, 0, (h, c) => (h * base + c) mod m)` over Unicode
  * CODE POINTS (not UTF-16 units — surrogate pairs fold as one value, so
  * the result agrees with codepoint-based oracles like DuckDB's
  * `unicode(x)` on ALL inputs, not just the BMP), with `base = 31`,
  * `m = 1_000_000_007` (fits comfortably in a
  * long: max intermediate < 2^40). Deterministic and cheap enough to run
  * per-shingle at 100 TB; implemented as a native Catalyst Expression
  * with whole-stage codegen (a Scala UDF here would break the codegen
  * pipeline and pay serialization per row).
  *
  * The reference has no hashing/fingerprinting operators at all (its
  * vestigial LLVM JIT path is dead code — see SURVEY.md §2 row 9,
  * reference `server.py:312-319`); this is part of the LLM-pipeline
  * extension surface.
  */
case class RollingHash(child: Expression, base: Int, mod: Long)
    extends UnaryExpression with GraftExpectsInputTypes {

  override def graftInputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "rolling_hash"

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * base + cp) % mod
      i += Character.charCount(cp)
    }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val s = ctx.freshName("s")
      val i = ctx.freshName("i")
      val h = ctx.freshName("h")
      val cp = ctx.freshName("cp")
      s"""
         |java.lang.String $s = $c.toString();
         |long $h = 0L;
         |int $i = 0;
         |while ($i < $s.length()) {
         |  int $cp = $s.codePointAt($i);
         |  $h = ($h * $base + $cp) % ${mod}L;
         |  $i += java.lang.Character.charCount($cp);
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): RollingHash =
    copy(child = newChild)
}

object RollingHash {
  val DefaultBase = 31
  val DefaultMod = 1000000007L
}
