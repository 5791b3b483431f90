package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode

import graft.functions.JsonFlatten
import graft.grok.Grok

/** Config-driven pipeline construction — the Log Carver `pipelines`
  * section (`lc-lib/processor/config.go:66-150`: a list of actions and
  * `if / else if / else` blocks), read from JSON (Jackson) or YAML
  * ([[graft.util.Yaml]], SnakeYAML's event stream) into one Jackson tree
  * and compiled by one stage-list reader, like the reference parses
  * YAML/JSON into the same structures. Two spellings of a stage mix
  * freely: the reference's `name:`-keyed actions with sibling `else if` /
  * `else` entries (see [[fromYaml]]), and this JSON dialect of single-key
  * actions whose conditional carries its own branches. Example, mirroring
  * the canonical nginx pipeline in `testing/log-carver.yaml`:
  *
  * {{{
  * [
  *   {"if": "event.text.matches(\"^\\\\d\")",
  *    "then": [
  *      {"grok": {"field": "text", "patterns": ["^%{IPV4:client} ..."]}},
  *      {"date": {"field": "timestamp", "formats": ["02/Jan/2006:15:04:05 -0700"]}},
  *      {"add_tag": {"tag": "nginx"}}],
  *    "else if": [{"if": "...", "then": [...]}],
  *    "else": [{"add_tag": {"tag": "plain"}}]},
  *   {"set_field": {"field": "note", "value": "event.role"}}
  * ]
  * }}}
  */
object PipelineConfig {

  /** One entry of the prospector `files` section: the watch paths plus
    * the per-group event decoration (`lc-lib/prospector/config.go`:
    * `FileConfig` embeds the stream config's `fields` and `codecs`). The
    * full entry is retained in `raw` so codec parameters survive.
    */
  case class FileGroup(paths: Seq[String], fields: Map[String, String],
      codecNames: Seq[String], raw: JsonNode)

  /** A parsed full config document: the `pipelines` stages plus the
    * `files` section with `includes` already expanded.
    */
  case class ConfigDocument(stages: Seq[Stage], files: Seq[FileGroup])

  /** Load a config document from disk, expanding the `includes` section
    * the way the reference's prospector does
    * (`lc-lib/prospector/config.go:68-83,158`): each entry is a glob;
    * every matching file is a YAML/JSON document whose ROOT is a list of
    * file-group entries, appended to the main document's `files` in glob
    * order (`testing/log-courier-include.yaml` +
    * `log-courier-include-entry.yaml` is the canonical pair). Relative
    * globs resolve against the including file's directory (the reference
    * resolves against the process cwd, which it launches from the config
    * dir in its own tests). A group with no `paths` is a config error
    * (`validateFileConfigs`, config.go:128-141); a glob with no matches
    * is simply empty, like `filepath.Glob`.
    */
  def loadDocument(path: java.nio.file.Path, grok: Grok = Grok.default): ConfigDocument = {
    val text = java.nio.file.Files.readString(path)
    val root = parseTree(text, path.toString)
    val stages =
      if (root.isObject && root.has("pipelines")) stageList(root, grok)
      else Seq.empty
    val base = Option(path.toAbsolutePath.getParent)
      .getOrElse(java.nio.file.Paths.get("/"))
    val own =
      if (root.isObject && root.has("files")) fileGroups(root.get("files"), path.toString)
      else Seq.empty
    val included =
      if (root.isObject && root.has("includes")) {
        val inc = root.get("includes")
        require(inc.isArray, s"'includes' must be a list of globs: $inc")
        import scala.jdk.CollectionConverters._
        inc.elements().asScala.toSeq.flatMap { g =>
          graft.util.Fs.glob(g.asText(), base).flatMap { f =>
            val sub = parseTree(java.nio.file.Files.readString(f), f.toString)
            require(sub.isArray,
              s"include $f must be a list of file-group entries (config.go:75-77)")
            fileGroups(sub, f.toString)
          }
        }
      } else Seq.empty
    ConfigDocument(stages, own ++ included)
  }

  /** The one JSON-or-YAML dispatch: the extension decides when present;
    * otherwise a JSON document starts with `[`/`{` and anything else is
    * YAML (the reference's native form).
    */
  private def parseTree(text: String, pathHint: String): JsonNode = {
    val lower = pathHint.toLowerCase
    val head = text.dropWhile(_.isWhitespace)
    if (lower.endsWith(".json") ||
        (!lower.endsWith(".yaml") && !lower.endsWith(".yml") &&
          (head.startsWith("[") || head.startsWith("{"))))
      JsonFlatten.mapper.readTree(text)
    else JsonFlatten.mapper.valueToTree(graft.util.Yaml.parse(text))
  }

  /** The stages of a parsed document: its `pipelines` list, or the root
    * itself when that is a bare stage list.
    */
  private def stageList(root: JsonNode, grok: Grok): Seq[Stage] = {
    val list =
      if (root.isObject && root.has("pipelines")) root.get("pipelines") else root
    require(list.isArray,
      "pipeline config must be a list of stages (or a config document with 'pipelines')")
    fromReferenceAst(list, grok)
  }

  private def fileGroups(arr: JsonNode, where: String): Seq[FileGroup] = {
    require(arr.isArray, s"'files' must be a list of file groups ($where)")
    import scala.jdk.CollectionConverters._
    arr.elements().asScala.zipWithIndex.map { case (e, i) =>
      require(e.isObject && e.has("paths") && e.get("paths").isArray &&
        e.get("paths").size() > 0,
        s"no paths specified for /files[$i]/ ($where)")
      val paths = e.get("paths").elements().asScala.map(_.asText()).toSeq
      val fields =
        if (e.has("fields"))
          e.get("fields").properties().asScala
            .map(p => p.getKey -> p.getValue.asText()).toMap
        else Map.empty[String, String]
      val codecs =
        if (e.has("codecs"))
          e.get("codecs").elements().asScala
            .map(c => if (c.has("name")) c.get("name").asText() else c.fieldNames().next())
            .toSeq
        else Seq.empty
      FileGroup(paths, fields, codecs, e)
    }.toSeq
  }

  def fromJson(json: String, grok: Grok = Grok.default): Seq[Stage] =
    fromText(json, ".json", grok)

  /** The reference's native config form — YAML (`lc-lib/config/parser.go`
    * feeds go-yaml; every shipped config under `testing/` is YAML).
    * Accepts either a full config document (the `pipelines` key is taken)
    * or a bare stage list, in the REFERENCE's AST shape: actions are
    * `name:`-keyed entries and conditionals are SIBLING entries merged by
    * a state machine (`lc-lib/processor/config.go:66-150`):
    *
    * {{{
    * pipelines:
    * - if: expression
    *   then:
    *   - name: grok
    *     field: message
    *     patterns: [...]
    * - else if: expression
    *   then:
    *   - name: add_tag
    *     tag: t
    * - else:
    *   - name: add_tag
    *     tag: u
    * }}}
    *
    * Our JSON dialect's single-key action objects are also accepted per
    * entry, so the two spellings can mix.
    */
  def fromYaml(yaml: String, grok: Grok = Grok.default): Seq[Stage] =
    fromText(yaml, ".yaml", grok)

  /** Stages from a config file's text (live reload, admin validate),
    * JSON or YAML by [[parseTree]]'s dispatch on `pathHint` and content.
    */
  def fromText(text: String, pathHint: String = "", grok: Grok = Grok.default): Seq[Stage] =
    stageList(parseTree(text, pathHint), grok)

  /** The one stage-list reader, a state machine over sibling entries
    * mirroring `config.go:66-150`: an `if` opens a conditional; following
    * `else if` entries extend it; a following `else` closes it; anything
    * else (a `name:` action or a single-key JSON-dialect stage) emits
    * directly. A JSON-dialect conditional carries its branches itself —
    * an `else if` list of `{"if", "then"}` and an `else` — and then takes
    * no sibling branches.
    */
  private def fromReferenceAst(arr: JsonNode, grok: Grok): Seq[Stage] = {
    import scala.jdk.CollectionConverters._
    val entries = arr.elements().asScala.toVector
    val out = scala.collection.mutable.ArrayBuffer.empty[Stage]
    def branch(e: JsonNode, key: String): (String, Seq[Stage]) = {
      require(e.has(key) && e.has("then"), s"'$key' entry missing its 'then' action list: $e")
      e.get(key).asText() -> fromReferenceAst(e.get("then"), grok)
    }
    var i = 0
    while (i < entries.length) {
      val e = entries(i)
      require(e.isObject, s"pipeline entry must be a mapping: $e")
      i += 1
      if (e.has("if")) {
        val branches = scala.collection.mutable.ArrayBuffer(branch(e, "if"))
        if (e.has("else if")) {
          require(e.get("else if").isArray, s"'else if' of an 'if' entry must be a list: $e")
          branches ++= e.get("else if").elements().asScala.map(branch(_, "if"))
        }
        var otherwise = Option(e.get("else")).map(fromReferenceAst(_, grok))
        while (otherwise.isEmpty && i < entries.length && entries(i).has("else if")) {
          branches += branch(entries(i), "else if")
          i += 1
        }
        if (otherwise.isEmpty && i < entries.length && entries(i).has("else")) {
          otherwise = Some(fromReferenceAst(entries(i).get("else"), grok))
          i += 1
        }
        out += ConditionalStage(branches.toSeq, otherwise.getOrElse(Seq.empty))
      } else if (e.has("else if") || e.has("else")) {
        throw new IllegalArgumentException(
          s"'else if'/'else' without a preceding 'if' (config.go:120-137): $e")
      } else if (e.has("name")) {
        out += parseAction(e.get("name").asText(), e, grok)
      } else {
        require(e.size() > 0, "empty pipeline entry: an action needs a name")
        val name = e.fieldNames().next()
        out += parseAction(name, e.get(name), grok)
      }
    }
    out.toSeq
  }

  private def strings(n: JsonNode): Seq[String] = {
    import scala.jdk.CollectionConverters._
    n.elements().asScala.map(_.asText()).toSeq
  }

  /** One action from its name + config mapping. The reference's YAML shape
    * passes the entry itself as `cfg` (params sit beside `name`, which the
    * registrars never read — `config.go:154-165` deletes it); the JSON
    * dialect passes the single key's value.
    */
  private def parseAction(name: String, cfg: JsonNode, grok: Grok): Stage = {
    def str(f: String, default: String = null): String =
      if (cfg.has(f)) cfg.get(f).asText() else default
    def bool(f: String): Boolean = cfg.has(f) && cfg.get(f).asBoolean()
    def required(f: String): JsonNode = {
      val n = cfg.get(f)
      require(n != null && !n.isNull, s"$name action missing required '$f': $cfg")
      n
    }
    name match {
      case "grok" =>
        val localPatterns =
          if (cfg.has("local patterns")) {
            import scala.jdk.CollectionConverters._
            cfg.get("local patterns").properties().asScala
              .map(e => e.getKey -> e.getValue.asText()).toMap
          } else Map.empty[String, String]
        GrokStage(str("field"), strings(required("patterns")), bool("remove"),
          localPatterns, grok)
      case "date" => DateStage(str("field"), strings(required("formats")), bool("remove"))
      case "json" => JsonStage(str("field"), bool("remove"))
      case "kv" => KvStage(str("field"), str("prefix", ""))
      case "set_field" => SetFieldStage(str("field"), str("value"))
      case "unset_field" => UnsetFieldStage(str("field"))
      case "add_tag" => AddTagStage(required("tag").asText())
      case "remove_tag" => RemoveTagStage(required("tag").asText())
      case "filter" => FilterStage(strings(required("patterns")),
        str("match", "any"), str("field", "text"))
      case "user_agent" =>
        // optional `database`: a uap-core regexes.yaml/JSON file (the
        // reference embeds it via uap-go; actionuseragent.go:50-112);
        // without one the built-in major-family subset applies
        val rules = Option(str("database")).map(graft.functions.UapRules.fromFile)
        UserAgentStage(str("field"), bool("remove"), rules)
      case "geoip" =>
        // the reference's `database` is an mmdb path — a real MaxMind
        // file is read natively (graft.enrich.Mmdb); alternatively the
        // lookup records come inline (`records`) or as a JSON file path
        // (`database` ending .json) of the GeoRecord shape
        if (cfg.has("database") && cfg.get("database").asText().endsWith(".mmdb"))
          return GeoIpMmdbStage(str("field"), cfg.get("database").asText(),
            str("target", "source[geo]"))
        val recsNode =
          if (cfg.has("records")) cfg.get("records")
          else if (cfg.has("database"))
            JsonFlatten.mapper.readTree(
              java.nio.file.Files.readString(java.nio.file.Paths.get(cfg.get("database").asText())))
          else throw new IllegalArgumentException("geoip needs 'records' or 'database'")
        import scala.jdk.CollectionConverters._
        val recs = recsNode.elements().asScala.map { r =>
          def s(f: String): String = if (r.has(f)) r.get(f).asText() else ""
          graft.enrich.GeoRecord(s("ip"), s("city_name"), s("continent_name"),
            s("country_iso_code"), s("country_name"),
            r.get("longitude").asDouble(), r.get("latitude").asDouble(),
            s("postal_code"), s("timezone"), s("region_iso_code"), s("region_name"))
        }.toSeq
        GeoIpStage(str("field"), recs, str("target", "source[geo]"))
      case other => throw new IllegalArgumentException(s"unknown action: $other")
    }
  }
}
