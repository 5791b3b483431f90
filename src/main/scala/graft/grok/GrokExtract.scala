package graft.grok

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Vectorised grok application: one compiled regex evaluated once per row,
  * all named captures returned as a struct (typed per hint). Null struct =
  * no match (the caller adds the `_grok_failure` tag, mirroring
  * `lc-lib/processor/actiongrok.go:95`). This replaces N separate
  * `regexp_extract` calls which would each re-run the regex.
  *
  * Runs inside whole-stage codegen via CodegenFallback — the regex match
  * dominates cost, so a hand-rolled doGenCode buys little.
  */
case class GrokExtract(child: Expression, compiled: CompiledGrok)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grok_extract"

  override val dataType: DataType = StructType(compiled.fields.map { f =>
    val dt = f.hint match {
      case GrokHint.HInt    => LongType
      case GrokHint.HFloat  => DoubleType
      case GrokHint.HString => StringType
    }
    StructField(f.name, dt, nullable = true)
  })

  @transient private lazy val fieldArr = compiled.fields.toArray

  override def nullSafeEval(input: Any): Any = {
    val s = graft.functions.Utf8Ascii.charSeq(input.asInstanceOf[UTF8String])
    val m = compiled.matcher(s)
    if (!m.find()) return null
    val values = new Array[Any](fieldArr.length)
    var i = 0
    while (i < fieldArr.length) {
      val f = fieldArr(i)
      val g = m.group(f.group)
      values(i) =
        if (g == null) null
        else f.hint match {
          case GrokHint.HString => UTF8String.fromString(g)
          // conversions never fail — zero value on bad parse
          // (`lc-lib/grok/types.go:53-66`)
          case GrokHint.HInt =>
            try java.lang.Long.valueOf(g.toLong)
            catch { case _: NumberFormatException => java.lang.Long.valueOf(0L) }
          case GrokHint.HFloat =>
            try java.lang.Double.valueOf(g.toDouble)
            catch { case _: NumberFormatException => java.lang.Double.valueOf(0.0) }
        }
      i += 1
    }
    new GenericInternalRow(values)
  }

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  // real codegen (not CodegenFallback) so surrounding operators stay
  // inside whole-stage codegen; the regex work happens in evalInput
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("grokExtract", this, classOf[GrokExtract].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.evalInput($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): GrokExtract =
    copy(child = newChild)
}

/** Map-typed variant for the dynamic `fields` column: all captures as
  * strings, absent / non-matching rows → null map. Used when the pipeline
  * merges grok output into `fields: Map[String,String]`.
  */
case class GrokExtractMap(child: Expression, compiled: CompiledGrok)
    extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "grok_extract_map"
  override val dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)

  @transient private lazy val fieldArr = compiled.fields.toArray
  // capture names are plan constants — materialise their UTF8Strings once,
  // not once per row (was two ArrayBuffers + N fromString per row)
  @transient private lazy val nameUtf8: Array[UTF8String] =
    fieldArr.map(f => UTF8String.fromString(f.name))

  override def nullSafeEval(input: Any): Any = {
    val s = graft.functions.Utf8Ascii.charSeq(input.asInstanceOf[UTF8String])
    val m = compiled.matcher(s)
    if (!m.find()) return null
    val n = fieldArr.length
    val keys = new Array[Any](n)
    val vals = new Array[Any](n)
    var cnt = 0
    var i = 0
    while (i < n) {
      val g = m.group(fieldArr(i).group)
      if (g != null) {
        keys(cnt) = nameUtf8(i)
        vals(cnt) = UTF8String.fromString(g)
        cnt += 1
      }
      i += 1
    }
    if (cnt == n) ArrayBasedMapData(keys, vals)
    else ArrayBasedMapData(
      java.util.Arrays.copyOf(keys.asInstanceOf[Array[AnyRef]], cnt),
      java.util.Arrays.copyOf(vals.asInstanceOf[Array[AnyRef]], cnt))
  }

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("grokExtractMap", this, classOf[GrokExtractMap].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.MapData) $ref.evalInput($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): GrokExtractMap =
    copy(child = newChild)
}

object GrokExtract {
  /** Column API: `grok_extract(col, pattern)` → struct of typed captures. */
  def apply(c: Column, spec: String, grok: Grok = Grok.default): Column =
    ExpressionUtils.column(GrokExtract(ExpressionUtils.expression(c), grok.compile(spec)))

  def map(c: Column, spec: String, grok: Grok = Grok.default): Column =
    ExpressionUtils.column(GrokExtractMap(ExpressionUtils.expression(c), grok.compile(spec)))
}
