package graft.util

import org.yaml.snakeyaml.LoaderOptions
import org.yaml.snakeyaml.error.{MarkedYAMLException, YAMLException}
import org.yaml.snakeyaml.events._

/** YAML reader for the reference's configs (`lc-lib/config/parser.go`
  * feeds YAML through go-yaml into plain maps/lists; every shipped config
  * is block style — `testing/log-carver.yaml`,
  * `testing/log-courier-include*.yaml`) and the uap-core `regexes.yaml`.
  * One pass over SnakeYAML's event stream (the jar Spark already ships)
  * builds JAVA collections (`LinkedHashMap`/`ArrayList`/`String`/`Long`/
  * `Double`/`Boolean`/null), so callers can hand the result straight to
  * Jackson (`mapper.valueToTree`) and reuse their JSON paths unchanged.
  *
  * Plain scalars are typed by [[plainScalar]] (no `yes`/`no`, octal, hex
  * or `_` separators; an integer past `Long` stays a string); quoted and
  * block scalars are always strings; keys are the scalar's text. Anchors, aliases, explicit tags, duplicate
  * keys, non-scalar keys and a second document are rejected loudly, as is
  * every scanner/parser error: each raises `IllegalArgumentException`
  * with a line number. SnakeYAML's default `LoaderOptions` limits apply,
  * among them the cap of 3 M code points per document.
  */
object Yaml {

  def parse(text: String): Any = {
    val events = new org.yaml.snakeyaml.Yaml(new LoaderOptions)
      .parse(new java.io.StringReader(text)).iterator()
    def next(): Event = events.next()
    def fail(e: Event, what: String): Nothing = throw new IllegalArgumentException(
      s"unsupported YAML: $what at line ${e.getStartMark.getLine + 1}")

    def vet(e: Event): Event = e match {
      case _: AliasEvent => fail(e, "alias")
      case n: NodeEvent if n.getAnchor != null => fail(e, s"anchor &${n.getAnchor}")
      case s: ScalarEvent if s.getTag != null => fail(e, s"tag ${s.getTag}")
      case c: CollectionStartEvent if c.getTag != null => fail(e, s"tag ${c.getTag}")
      case _ => e
    }

    def node(e: Event): Any = vet(e) match {
      case s: ScalarEvent => if (s.isPlain) plainScalar(s.getValue) else s.getValue
      case _: SequenceStartEvent =>
        val out = new java.util.ArrayList[Any]()
        var item = next()
        while (!item.isInstanceOf[SequenceEndEvent]) { out.add(node(item)); item = next() }
        out
      case _: MappingStartEvent =>
        val out = new java.util.LinkedHashMap[String, Any]()
        var key = next()
        while (!key.isInstanceOf[MappingEndEvent]) {
          val k = vet(key) match {
            case s: ScalarEvent => s.getValue
            case _ => fail(key, "non-scalar key")
          }
          if (out.containsKey(k)) fail(key, s"duplicate key '$k'")
          out.put(k, node(next()))
          key = next()
        }
        out
      case other => fail(other, s"unexpected ${other.getEventId}")
    }

    try {
      next() // StreamStart
      next() match {
        case _: StreamEndEvent => null
        case _ =>
          val root = node(next())
          next() // DocumentEnd
          next() match {
            case _: StreamEndEvent => root
            case e => fail(e, "a second document")
          }
      }
    } catch {
      case e: MarkedYAMLException =>
        val mark = Option(e.getProblemMark).orElse(Option(e.getContextMark))
        throw new IllegalArgumentException(
          s"YAML error at line ${mark.map(_.getLine + 1).getOrElse(0)}: ${e.getMessage}", e)
      case e: YAMLException => throw new IllegalArgumentException(s"YAML error: ${e.getMessage}", e)
    }
  }

  private val IntRe = "^[+-]?\\d+$".r
  private val FloatRe = "^[+-]?(\\d+\\.\\d*|\\.\\d+|\\d+)([eE][+-]?\\d+)?$".r

  /** Type a plain scalar; the empty plain scalar is an absent value. */
  private def plainScalar(t: String): Any = t match {
    case "" | "null" | "~" | "Null" | "NULL" => null
    case "true" | "True" | "TRUE" => java.lang.Boolean.TRUE
    case "false" | "False" | "FALSE" => java.lang.Boolean.FALSE
    case IntRe() =>
      try java.lang.Long.valueOf(t)
      catch { case _: NumberFormatException => t } // > Long.Max stays string
    case FloatRe(_, _) if t.contains('.') || t.toLowerCase.contains('e') =>
      java.lang.Double.valueOf(t)
    case other => other
  }
}
