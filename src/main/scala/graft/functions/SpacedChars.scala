package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `" c a t "` — the BPE symbol padding: a leading space, then every
  * code point followed by a space. Byte-identical to
  * `concat(' ', regexp_replace(w, '(.)', '$1 '))` (verified in
  * BpeTrainerSpec), but a single straight-line byte pass instead of a
  * per-character regex group substitution — the regex spelling was the
  * dominant per-word cost of the BPE encode projection (OPTIMIZATION_r08.md
  * §3, the BpeProbe split).
  * ASCII fast path writes bytes directly; any multi-byte input falls
  * back to a code-point walk so the regex `(.)` (code-point) semantics
  * hold for arbitrary strings too.
  */
case class AsciiSpacedChars(child: Expression) extends UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "ascii_spaced_chars"
  override val dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val n = s.numBytes()
    var ascii = true
    var i = 0
    while (ascii && i < n) { if (s.getByte(i) < 0) ascii = false; i += 1 }
    if (ascii) {
      val out = new Array[Byte](2 * n + 1)
      out(0) = ' '
      i = 0
      while (i < n) {
        out(2 * i + 1) = s.getByte(i)
        out(2 * i + 2) = ' '
        i += 1
      }
      UTF8String.fromBytes(out)
    } else {
      // code-point semantics, matching regexp_replace('(.)', '$1 ')
      val sb = new java.lang.StringBuilder(2 * n + 1)
      sb.append(' ')
      val str = s.toString
      var j = 0
      while (j < str.length) {
        val cp = str.codePointAt(j)
        sb.appendCodePoint(cp)
        sb.append(' ')
        j += Character.charCount(cp)
      }
      UTF8String.fromString(sb.toString)
    }
  }

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("spaced", this, classOf[AsciiSpacedChars].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.unsafe.types.UTF8String) $ref.evalInput($c);")
  }

  override protected def withNewChildInternal(c: Expression): AsciiSpacedChars =
    copy(child = c)
}

object AsciiSpacedChars {
  def apply(c: Column): Column = EU.column(AsciiSpacedChars(EU.expression(c)))
}
