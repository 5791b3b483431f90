package graft.functions

import java.util.regex.{Matcher, Pattern}

/** Full uap-core ruleset support for the `user_agent` action — the
  * reference embeds uap-go with the complete public regexes database
  * (`lc-lib/processor/actionuseragent.go:50-112` via
  * `uaparser.NewFromSaved()`). This loads the same public database file
  * (`regexes.yaml`, or its JSON form) and applies uap-core's documented
  * match semantics: ordered rules, `re.search` (substring) matching,
  * first match wins per section, `$1`-`$9` substitution in replacement
  * templates, defaults from capture groups, post-substitution trim,
  * unmatched → family "Other".
  *
  * The compiled ruleset is immutable and serializable: it rides the
  * [[UserAgentParse]] expression to executors once per plan (at 100 TB
  * the ~1 MB database is plan metadata, not per-row state). The
  * reference's per-process LRU(1000) has no analog: each row parses once,
  * and there is no cross-row cache.
  */
object UapRules {

  final case class UaRule(pattern: Pattern, family: Option[String],
      v1: Option[String], v2: Option[String], v3: Option[String])
  final case class OsRule(pattern: Pattern, os: Option[String],
      v1: Option[String], v2: Option[String])
  final case class DeviceRule(pattern: Pattern, device: Option[String])

  final case class RuleSet(uaRules: IndexedSeq[UaRule],
      osRules: IndexedSeq[OsRule],
      deviceRules: IndexedSeq[DeviceRule]) extends Serializable {

    /** uap-core parse: three independent first-match-wins scans. */
    def parse(ua: String): UserAgentParse.Ua = {
      var name = "Other"; var major: String = null; var minor: String = null
      var patch: String = null
      var done = false
      var i = 0
      while (!done && i < uaRules.length) {
        val r = uaRules(i)
        val m = r.pattern.matcher(ua)
        if (m.find()) {
          name = subst(r.family, m, 1, "Other")
          major = substOrNull(r.v1, m, 2)
          minor = substOrNull(r.v2, m, 3)
          patch = substOrNull(r.v3, m, 4)
          done = true
        }
        i += 1
      }
      var osFamily = "Other"; var osMajor: String = null; var osMinor: String = null
      done = false; i = 0
      while (!done && i < osRules.length) {
        val r = osRules(i)
        val m = r.pattern.matcher(ua)
        if (m.find()) {
          osFamily = subst(r.os, m, 1, "Other")
          osMajor = substOrNull(r.v1, m, 2)
          osMinor = substOrNull(r.v2, m, 3)
          done = true
        }
        i += 1
      }
      var device = "Other"
      done = false; i = 0
      while (!done && i < deviceRules.length) {
        val r = deviceRules(i)
        val m = r.pattern.matcher(ua)
        if (m.find()) {
          device = subst(r.device, m, 1, "Other")
          done = true
        }
        i += 1
      }
      UserAgentParse.Ua(name, major, minor, patch, osFamily, osMajor, osMinor, device)
    }
  }

  /** Template substitution per the uap-core spec: replacement may carry
    * `$1`-`$9` (absent/unmatched groups substitute empty); without a
    * replacement the default capture group applies. Results are trimmed;
    * an empty result falls back to `whenEmpty`.
    */
  private def subst(tpl: Option[String], m: Matcher, defaultGroup: Int,
      whenEmpty: String): String = {
    val v = substOrNull(tpl, m, defaultGroup)
    if (v == null) whenEmpty else v
  }

  private def substOrNull(tpl: Option[String], m: Matcher, defaultGroup: Int): String = {
    val raw = tpl match {
      case Some(t) if t.indexOf('$') >= 0 =>
        val sb = new StringBuilder
        var i = 0
        while (i < t.length) {
          val c = t.charAt(i)
          if (c == '$' && i + 1 < t.length && t.charAt(i + 1).isDigit) {
            val g = t.charAt(i + 1) - '0'
            if (g >= 1 && g <= m.groupCount() && m.group(g) != null)
              sb.append(m.group(g))
            i += 2
          } else { sb.append(c); i += 1 }
        }
        sb.toString
      case Some(t) => t
      case None =>
        if (defaultGroup <= m.groupCount()) m.group(defaultGroup) else null
    }
    if (raw == null) null
    else {
      val t = raw.trim
      if (t.isEmpty) null else t
    }
  }

  /** Load from the public uap-core YAML database text. */
  def fromYaml(text: String): RuleSet =
    fromAst(graft.util.Yaml.parse(text))

  /** Load from the JSON form of the same database. */
  def fromJson(text: String): RuleSet = {
    val node = JsonFlatten.mapper.readTree(text)
    fromAst(JsonFlatten.mapper.convertValue(node, classOf[java.util.Map[String, Any]]))
  }

  /** Load a database file, dispatching on extension (.json vs .yaml/.yml). */
  def fromFile(path: String): RuleSet = {
    val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
    if (path.endsWith(".json")) fromJson(text) else fromYaml(text)
  }

  private def fromAst(root: Any): RuleSet = {
    import scala.jdk.CollectionConverters._
    val doc = root.asInstanceOf[java.util.Map[String, Any]]
    def section(name: String): Seq[java.util.Map[String, Any]] =
      doc.get(name) match {
        case null => Seq.empty
        case l: java.util.List[_] =>
          l.asScala.toSeq.map(_.asInstanceOf[java.util.Map[String, Any]])
        case other => throw new IllegalArgumentException(
          s"'$name' must be a list, got ${other.getClass.getSimpleName}")
      }
    def str(m: java.util.Map[String, Any], k: String): Option[String] =
      Option(m.get(k)).map(_.toString)
    def re(m: java.util.Map[String, Any]): Pattern = {
      val r = str(m, "regex").getOrElse(
        throw new IllegalArgumentException(s"rule missing 'regex': $m"))
      val flags = if (str(m, "regex_flag").contains("i")) Pattern.CASE_INSENSITIVE else 0
      Pattern.compile(r, flags)
    }
    val ua = section("user_agent_parsers").map { m =>
      UaRule(re(m), str(m, "family_replacement"), str(m, "v1_replacement"),
        str(m, "v2_replacement"), str(m, "v3_replacement"))
    }.toIndexedSeq
    val os = section("os_parsers").map { m =>
      OsRule(re(m), str(m, "os_replacement"), str(m, "os_v1_replacement"),
        str(m, "os_v2_replacement"))
    }.toIndexedSeq
    val dev = section("device_parsers").map { m =>
      DeviceRule(re(m), str(m, "device_replacement"))
    }.toIndexedSeq
    require(ua.nonEmpty || os.nonEmpty || dev.nonEmpty,
      "uap database has no parser sections")
    RuleSet(ua, os, dev)
  }
}
