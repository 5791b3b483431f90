package graft.functions

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.graftbridge.{ColumnBridge => ExpressionUtils}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The `json` action (`lc-lib/processor/actionjson.go:45-81`): unmarshal a
  * string field and merge the top-level keys into the event. Our dynamic
  * fields are a string map, so scalars keep their JSON text form and
  * nested objects/arrays are re-encoded as compact JSON. Input that is not
  * a JSON object → null (callers tag `_json_failure`).
  *
  * `from_json` needs a fixed schema; this expression handles the
  * schema-free top-level-merge semantics the reference has.
  */
case class JsonFlatten(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "json_flatten"
  override val dataType: DataType = MapType(StringType, StringType, valueContainsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val node = try JsonFlatten.mapper.readTree(bytes) catch { case _: Exception => null }
    if (node == null || !node.isObject) return null
    val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
    val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
    val it = node.properties().iterator()
    while (it.hasNext) {
      val e = it.next()
      keys += UTF8String.fromString(e.getKey)
      vals += UTF8String.fromString(JsonFlatten.render(e.getValue))
    }
    ArrayBasedMapData(keys.toArray, vals.toArray)
  }

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("jsonFlatten", this, classOf[JsonFlatten].getName)
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = (org.apache.spark.sql.catalyst.util.MapData) $ref.evalInput($c);
      ${ev.isNull} = ${ev.value} == null;
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): JsonFlatten =
    copy(child = newChild)
}

object JsonFlatten {
  // Jackson ships with Spark itself — not an extra dependency.
  @transient lazy val mapper = new ObjectMapper()

  def render(n: JsonNode): String =
    if (n.isTextual) n.asText()
    else if (n.isNull) ""
    else n.toString // numbers/bools keep JSON text; objects/arrays compact JSON

  def apply(c: Column): Column =
    ExpressionUtils.column(JsonFlatten(ExpressionUtils.expression(c)))
}
