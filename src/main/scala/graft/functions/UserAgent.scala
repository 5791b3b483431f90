package graft.functions

import java.util.regex.Pattern

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** User-agent decomposition — the `user_agent` action
  * (`lc-lib/processor/actionuseragent.go:50-112`), which runs an
  * LRU-cached uap-go parse and sets
  * `user_agent[name|major|minor|patch|os[family|major|minor]|device[name]]`.
  *
  * Two rule sources, same semantics (ordered regex rules, `re.search`
  * matching, first match wins, unmatched → family "Other"):
  *
  *  - `rules = Some(...)`: a FULL uap-core database loaded from the
  *    public `regexes.yaml`/JSON file via [[UapRules.fromFile]] — exactly
  *    what the reference embeds through uap-go;
  *  - `rules = None` (default): a compact built-in subset covering the
  *    major browser/bot/tool families, for deployments that don't ship
  *    the database file.
  *
  * The reference's LRU(1000) cache has no analog here: each row parses
  * once, and there is no cross-row cache.
  */
case class UserAgentParse(child: Expression,
    rules: Option[UapRules.RuleSet] = None) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "user_agent_parse"

  override val dataType: DataType = UserAgentParse.schema

  override def nullSafeEval(input: Any): Any =
    UserAgentParse.parseRow(input.asInstanceOf[UTF8String].toString, rules)

  def evalInput(s: Any): AnyRef = nullSafeEval(s).asInstanceOf[AnyRef]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("uaParse", this, classOf[UserAgentParse].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $ref.evalInput($c);")
  }

  override protected def withNewChildInternal(c: Expression): UserAgentParse =
    copy(child = c)
}

object UserAgentParse {

  val schema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("major", StringType, nullable = true),
    StructField("minor", StringType, nullable = true),
    StructField("patch", StringType, nullable = true),
    StructField("os_family", StringType, nullable = false),
    StructField("os_major", StringType, nullable = true),
    StructField("os_minor", StringType, nullable = true),
    StructField("device", StringType, nullable = false)
  ))

  final case class Ua(name: String, major: String, minor: String, patch: String,
      osFamily: String, osMajor: String, osMinor: String, device: String)

  // --- browser family rules, first match wins (uap-core ordering:
  //     bots/tools before Edge/Opera before Chrome before Safari) ---
  private val BotRe = Pattern.compile(
    "(Googlebot|Bingbot|bingbot|YandexBot|Baiduspider|DuckDuckBot|AhrefsBot|SemrushBot)(?:-\\w+)?/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  // uap-core's generic-spider signal is CASE-TEMPLATED ([Bb]ot, [Ss]pider,
  // [Cc]rawl...), NOT case-insensitive: an all-caps brand like
  // "CUBOT KINGKONG" must not classify as a bot (the (?i) spelling turned
  // that real phone's Chrome into family=Other/device=Spider), while
  // suffix forms like Googlebot/ still match
  private val GenericBotRe = Pattern.compile("([Bb]ot|[Ss]pider|[Cc]rawl[a-z]*)[/ );]")
  private val CurlRe = Pattern.compile("^curl/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val WgetRe = Pattern.compile("^Wget/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val PythonReqRe = Pattern.compile("^python-requests/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val EdgeRe = Pattern.compile("Edge?(?:A|iOS)?/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val OperaRe = Pattern.compile("OPR/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val ChromeIosRe = Pattern.compile("CriOS/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val ChromeRe = Pattern.compile("Chrom(?:e|ium)/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val FirefoxIosRe = Pattern.compile("FxiOS/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val FirefoxRe = Pattern.compile("Firefox/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")
  private val SafariVersionRe = Pattern.compile("Version/(\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?.*Safari/")
  private val MsieRe = Pattern.compile("MSIE (\\d+)(?:\\.(\\d+))?")
  private val TridentRe = Pattern.compile("Trident/.*rv:(\\d+)(?:\\.(\\d+))?")

  // --- OS rules ---
  private val WindowsNtRe = Pattern.compile("Windows NT (\\d+)\\.(\\d+)")
  // NT version → marketing version (public uap-core mapping)
  private val NtNames = Map(
    "10.0" -> ("10", null), "6.3" -> ("8", "1"), "6.2" -> ("8", null),
    "6.1" -> ("7", null), "6.0" -> ("Vista", null), "5.1" -> ("XP", null))
  private val IosRe = Pattern.compile("(?:iPhone |CPU )OS (\\d+)_(\\d+)(?:_(\\d+))?")
  private val MacRe = Pattern.compile("Mac OS X (\\d+)[_.](\\d+)(?:[_.](\\d+))?")
  private val AndroidRe = Pattern.compile("Android (\\d+)(?:\\.(\\d+))?(?:\\.(\\d+))?")

  def parse(ua: String): Ua = {
    var name = "Other"; var major: String = null; var minor: String = null; var patch: String = null
    def take(m: java.util.regex.Matcher, n: String, g0: Int = 1): Boolean =
      if (m.find()) {
        name = n
        major = m.group(g0)
        if (m.groupCount() >= g0 + 1) minor = m.group(g0 + 1)
        if (m.groupCount() >= g0 + 2) patch = m.group(g0 + 2)
        true
      } else false

    var isBot = false
    val botM = BotRe.matcher(ua)
    if (botM.find()) {
      name = botM.group(1); major = botM.group(2); minor = botM.group(3); patch = botM.group(4)
      isBot = true
    } else if (GenericBotRe.matcher(ua).find()) {
      isBot = true // family stays Other, device Spider (uap-core convention)
    } else {
      val done =
        take(CurlRe.matcher(ua), "curl") ||
        take(WgetRe.matcher(ua), "Wget") ||
        take(PythonReqRe.matcher(ua), "Python Requests") ||
        take(EdgeRe.matcher(ua), "Edge") ||
        take(OperaRe.matcher(ua), "Opera") ||
        take(ChromeIosRe.matcher(ua), "Chrome Mobile iOS") ||
        {
          val m = ChromeRe.matcher(ua)
          m.find() && {
            name = if (ua.contains("Mobile")) "Chrome Mobile" else "Chrome"
            major = m.group(1); minor = m.group(2); patch = m.group(3); true
          }
        } ||
        take(FirefoxIosRe.matcher(ua), "Firefox iOS") ||
        {
          val m = FirefoxRe.matcher(ua)
          m.find() && {
            name = if (ua.contains("Mobile") || ua.contains("Tablet")) "Firefox Mobile" else "Firefox"
            major = m.group(1); minor = m.group(2); patch = m.group(3); true
          }
        } ||
        {
          val m = SafariVersionRe.matcher(ua)
          m.find() && {
            name = if (ua.contains("Mobile/")) "Mobile Safari" else "Safari"
            major = m.group(1); minor = m.group(2); patch = m.group(3); true
          }
        } ||
        take(MsieRe.matcher(ua), "IE") ||
        take(TridentRe.matcher(ua), "IE")
      if (!done) name = "Other"
    }

    var osFamily = "Other"; var osMajor: String = null; var osMinor: String = null
    locally {
      val w = WindowsNtRe.matcher(ua)
      val i = IosRe.matcher(ua)
      val mac = MacRe.matcher(ua)
      val a = AndroidRe.matcher(ua)
      if (w.find()) {
        osFamily = "Windows"
        NtNames.get(w.group(1) + "." + w.group(2)) match {
          case Some((mj, mn)) => osMajor = mj; osMinor = mn
          case None => osMajor = w.group(1); osMinor = w.group(2)
        }
      } else if (i.find()) { osFamily = "iOS"; osMajor = i.group(1); osMinor = i.group(2) }
      else if (a.find()) { osFamily = "Android"; osMajor = a.group(1); osMinor = a.group(2) }
      else if (mac.find()) { osFamily = "Mac OS X"; osMajor = mac.group(1); osMinor = mac.group(2) }
      else if (ua.contains("Linux") || ua.contains("X11;")) osFamily = "Linux"
      else if (ua.contains("Windows")) osFamily = "Windows"
    }

    val device =
      if (isBot) "Spider"
      else if (ua.contains("iPhone")) "iPhone"
      else if (ua.contains("iPad")) "iPad"
      else if (osFamily == "Android") "Generic Smartphone"
      else if (ua.contains("Macintosh")) "Mac"
      else "Other"

    Ua(name, major, minor, patch, osFamily, osMajor, osMinor, device)
  }

  private[functions] def parseRow(ua: String,
      rules: Option[UapRules.RuleSet]): GenericInternalRow = {
    val r = rules match {
      case Some(rs) => rs.parse(ua)
      case None => parse(ua)
    }
    def u(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
    new GenericInternalRow(Array[Any](
      u(r.name), u(r.major), u(r.minor), u(r.patch),
      u(r.osFamily), u(r.osMajor), u(r.osMinor), u(r.device)))
  }

  def apply(c: Column): Column = EU.column(UserAgentParse(EU.expression(c)))

  def apply(c: Column, rules: UapRules.RuleSet): Column =
    EU.column(UserAgentParse(EU.expression(c), Some(rules)))
}
