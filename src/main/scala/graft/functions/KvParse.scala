package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Quote-aware `k=v` parser with the exact FSM semantics of the reference
  * kv action (`lc-lib/processor/actionkv.go:60-163`):
  *
  *   - `k=v` raw values end at a space;
  *   - `k="…"` / `k='…'` quoted values honour backslash escapes (the
  *     escape is *kept* in the value — the reference stores the raw slice);
  *   - `[` / `]` are stripped from key names;
  *   - errors — key with empty name, text after a closing quote,
  *     unterminated quote / dangling `=` at end — abort the parse and
  *     yield a null map (callers tag `_kv_failure`). Pairs stored before
  *     the error are kept in the reference (it mutates the event as it
  *     goes); we surface errors atomically as null, which is the
  *     documented divergence (tested both ways in KvParseSpec).
  *
  * `str_to_map` cannot express the quoting rules, hence a custom
  * expression; CodegenFallback keeps it inside whole-stage codegen.
  */
case class KvParse(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "kv_parse"
  override val dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val s = Utf8Ascii.charSeq(input.asInstanceOf[UTF8String])
    KvParse.parse(s) match {
      case null => null
      case pairs =>
        // last occurrence wins (the reference re-resolves the field per
        // pair); Catalyst map data must be key-unique, so dedup — but
        // only pay for it when a duplicate actually exists (rare)
        var hasDup = false
        var i = 0
        while (!hasDup && i < pairs.length) {
          var j = i + 1
          while (!hasDup && j < pairs.length) {
            if (pairs(i)._1 == pairs(j)._1) hasDup = true
            j += 1
          }
          i += 1
        }
        val deduped =
          if (!hasDup) pairs
          else {
            val m = new java.util.LinkedHashMap[String, String]()
            pairs.foreach { case (k, v) => m.put(k, v) }
            val out = new Array[(String, String)](m.size)
            var n = 0
            m.forEach((k, v) => { out(n) = (k, v); n += 1 })
            out
          }
        val keys = new Array[Any](deduped.length)
        val vals = new Array[Any](deduped.length)
        i = 0
        while (i < deduped.length) {
          keys(i) = UTF8String.fromString(deduped(i)._1)
          vals(i) = UTF8String.fromString(deduped(i)._2)
          i += 1
        }
        ArrayBasedMapData(keys, vals)
    }
  }

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("kvParse", this, classOf[KvParse].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.MapData) $ref.evalInput($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): KvParse =
    copy(child = newChild)
}

object KvParse {
  // FSM states, one-to-one with the reference's kvState enum
  private final val Name = 0
  private final val NameRaw = 1
  private final val Value = 2
  private final val ValueRaw = 3
  private final val ValueQuoted = 4
  private final val ValueQuotedEsc = 5
  private final val ValueQuotedEnd = 6

  /** Pure parser: ordered (key, value) pairs, or null on malformed input.
    * Duplicate keys: last occurrence wins when materialised as a map.
    */
  def parse(s: CharSequence): Array[(String, String)] = {
    val out = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    var state = Name
    var name: String = null
    var nameStart = 0
    var valueStart = 0
    var quote: Char = '"'
    var idx = 0
    val n = s.length
    def stripBrackets(k: String): String = {
      val sb = new java.lang.StringBuilder(k.length)
      var i = 0
      while (i < k.length) { val ch = k.charAt(i); if (ch != '[' && ch != ']') sb.append(ch); i += 1 }
      sb.toString
    }
    while (idx < n) {
      val ch = s.charAt(idx)
      state match {
        case Name =>
          if (ch == '=') return null // key with no name
          state = NameRaw; nameStart = idx
        case NameRaw =>
          if (ch == '=') { state = Value; name = s.subSequence(nameStart, idx).toString }
        case Value =>
          if (ch == '"' || ch == '\'') { state = ValueQuoted; valueStart = idx + 1; quote = ch }
          else { state = ValueRaw; valueStart = idx }
        case ValueRaw =>
          if (ch == ' ') { out += ((stripBrackets(name), s.subSequence(valueStart, idx).toString)); state = Name }
        case ValueQuoted =>
          if (ch == quote) { out += ((stripBrackets(name), s.subSequence(valueStart, idx).toString)); state = ValueQuotedEnd }
          else if (ch == '\\') state = ValueQuotedEsc
        case ValueQuotedEsc =>
          state = ValueQuoted
        case ValueQuotedEnd =>
          if (ch != ' ') return null // unexpected text after quoted value
          state = Name
      }
      idx += 1
    }
    state match {
      case ValueRaw => out += ((stripBrackets(name), s.subSequence(valueStart, n).toString))
      case ValueQuotedEnd | Name => ()
      case _ => return null // unexpected end of field
    }
    out.toArray
  }

  def apply(c: Column): Column =
    ExpressionUtils.column(KvParse(ExpressionUtils.expression(c)))
}
