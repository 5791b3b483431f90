package graft.util

import org.scalatest.funsuite.AnyFunSuite

/** Exercises the YAML subset against the exact shapes the reference's
  * shipped configs use (`testing/log-carver.yaml`,
  * `testing/log-courier-include*.yaml`) plus the uap-core regexes.yaml
  * list-of-mappings shape.
  */
class YamlSpec extends AnyFunSuite {

  private def asMap(a: Any): java.util.Map[String, Any] =
    a.asInstanceOf[java.util.Map[String, Any]]
  private def asList(a: Any): java.util.List[Any] =
    a.asInstanceOf[java.util.List[Any]]

  test("reference config shape: nested maps, same-column sequences, compact items") {
    // structure of testing/log-carver.yaml (synthetic values)
    val doc = asMap(Yaml.parse(
      """general:
        |  log syslog: false
        |  log stdout: true
        |  log level: debug
        |admin:
        |  enabled: true
        |  listen address: tcp:127.0.0.1:12341
        |receivers:
        |- listen:
        |  - 127.0.0.1:12345
        |  transport: tcp
        |- listen:
        |  - 127.0.0.1:12346
        |  transport: tcp
        |network:
        |  transport: es
        |  servers:
        |  - 127.0.0.1:9200
        |""".stripMargin))
    val general = asMap(doc.get("general"))
    assert(general.get("log syslog") == java.lang.Boolean.FALSE)
    assert(general.get("log stdout") == java.lang.Boolean.TRUE)
    assert(general.get("log level") == "debug")
    // plain scalar with colons must NOT split as a nested mapping
    assert(asMap(doc.get("admin")).get("listen address") == "tcp:127.0.0.1:12341")
    val receivers = asList(doc.get("receivers"))
    assert(receivers.size == 2)
    assert(asList(asMap(receivers.get(0)).get("listen")).get(0) == "127.0.0.1:12345")
    assert(asMap(receivers.get(1)).get("transport") == "tcp")
    assert(asList(asMap(doc.get("network")).get("servers")).get(0) == "127.0.0.1:9200")
  }

  test("folded block scalars (>-): joined with spaces, chomped, backslashes verbatim") {
    val doc = asMap(Yaml.parse(
      """network:
        |  index pattern: >-
        |    test-%{+2006.01.02}
        |pipelines:
        |- if: >-
        |    has(event.type) &&
        |    event.type == "nginx"
        |  then:
        |  - name: grok
        |    patterns:
        |    - >-
        |      ^(?P<client>\d+) \"(?:%{WORD:verb})\"
        |""".stripMargin))
    assert(asMap(doc.get("network")).get("index pattern") == "test-%{+2006.01.02}")
    val pipe = asMap(asList(doc.get("pipelines")).get(0))
    assert(pipe.get("if") == "has(event.type) && event.type == \"nginx\"")
    val grok = asMap(asList(pipe.get("then")).get(0))
    assert(asList(grok.get("patterns")).get(0)
      == "^(?P<client>\\d+) \\\"(?:%{WORD:verb})\\\"")
  }

  test("literal block scalars, quotes, comments, flow collections, typing") {
    val doc = asMap(Yaml.parse(
      """a: |
        |  line one
        |  line two
        |b: 'it''s quoted'   # trailing comment
        |c: "tab\there"
        |# whole-line comment
        |d: [1, 2.5, x, "y,z"]
        |e: {k: v, n: 3}
        |f: 524288
        |g: ~
        |h: 30s
        |""".stripMargin))
    assert(doc.get("a") == "line one\nline two\n")
    assert(doc.get("b") == "it's quoted")
    assert(doc.get("c") == "tab\there")
    val d = asList(doc.get("d"))
    assert(d.get(0) == java.lang.Long.valueOf(1) && d.get(1) == java.lang.Double.valueOf(2.5))
    assert(d.get(2) == "x" && d.get(3) == "y,z")
    assert(asMap(doc.get("e")).get("n") == java.lang.Long.valueOf(3))
    assert(doc.get("f") == java.lang.Long.valueOf(524288))
    assert(doc.get("g") == null)
    assert(doc.get("h") == "30s") // durations stay strings
  }

  test("uap-core regexes.yaml shape: top-level lists of mappings with quoted regexes") {
    val doc = asMap(Yaml.parse(
      """user_agent_parsers:
        |  - regex: '(ESPN)[%20| ]+Radio/(\d+)\.(\d+)\.(\d+) CFNetwork'
        |  - regex: '(Namoroka|Shiretoko|Minefield)/(\d+)\.(\d+)\.(\d+(?:pre|))'
        |    family_replacement: 'Firefox ($1)'
        |os_parsers:
        |  - regex: 'Win(?:dows)? ?(95|98)'
        |    os_replacement: 'Windows'
        |    os_v1_replacement: '$1'
        |device_parsers:
        |  - regex: '\bSmartWatch *\( *([^;]+) *; *([^;]+) *;'
        |    regex_flag: 'i'
        |    device_replacement: '$1 $2'
        |    brand_replacement: '$1'
        |""".stripMargin))
    val ua = asList(doc.get("user_agent_parsers"))
    assert(asMap(ua.get(0)).get("regex")
      == "(ESPN)[%20| ]+Radio/(\\d+)\\.(\\d+)\\.(\\d+) CFNetwork")
    assert(asMap(ua.get(1)).get("family_replacement") == "Firefox ($1)")
    val os = asMap(asList(doc.get("os_parsers")).get(0))
    assert(os.get("os_replacement") == "Windows" && os.get("os_v1_replacement") == "$1")
    val dev = asMap(asList(doc.get("device_parsers")).get(0))
    assert(dev.get("regex_flag") == "i" && dev.get("device_replacement") == "$1 $2")
  }

  test("edge shapes: nested sequences, null values, deeper-indent blocks, literal keep-chomp") {
    val doc = asMap(Yaml.parse(
      """matrix:
        |- - 1
        |  - 2
        |- - 3
        |empty:
        |deep:
        |    a:
        |        b: v
        |keepnl: |+
        |  body
        |after: done
        |""".stripMargin))
    val matrix = asList(doc.get("matrix"))
    assert(asList(matrix.get(0)).get(1) == java.lang.Long.valueOf(2))
    assert(asList(matrix.get(1)).get(0) == java.lang.Long.valueOf(3))
    assert(doc.containsKey("empty") && doc.get("empty") == null)
    assert(asMap(asMap(doc.get("deep")).get("a")).get("b") == "v")
    assert(doc.get("keepnl") == "body\n")
    assert(doc.get("after") == "done")
  }

  test("quoted keys, colons in plain scalars, block scalar stopping at a dedent") {
    val doc = asMap(Yaml.parse(
      """"quoted: key": v1
        |'single:key': v2
        |url: http://example.com:8080/path
        |scalar: >-
        |  first
        |  second
        |next: 1
        |""".stripMargin))
    assert(doc.get("quoted: key") == "v1")
    assert(doc.get("single:key") == "v2")
    assert(doc.get("url") == "http://example.com:8080/path")
    assert(doc.get("scalar") == "first second")
    assert(doc.get("next") == java.lang.Long.valueOf(1))
  }

  test("empty block scalar must not swallow the following sibling/parent keys") {
    // `a: >-` with NO indented body: the next key at the same column is a
    // sibling, not scalar content (the pre-fix parser took the first
    // non-blank line as body regardless of indent and silently ate `b: 1`)
    val doc = asMap(Yaml.parse(
      """a: >-
        |b: 1
        |""".stripMargin))
    assert(doc.get("a") == "")
    assert(doc.get("b") == java.lang.Long.valueOf(1))
    // same at a dedent back to the PARENT level
    val doc2 = asMap(Yaml.parse(
      """outer:
        |  a: |
        |sibling: 2
        |""".stripMargin))
    assert(asMap(doc2.get("outer")).get("a") == "")
    assert(doc2.get("sibling") == java.lang.Long.valueOf(2))
    // blank lines before the dedented next key are still an empty scalar
    val doc3 = asMap(Yaml.parse("a: >-\n\n\nb: 3\n"))
    assert(doc3.get("a") == "")
    assert(doc3.get("b") == java.lang.Long.valueOf(3))
    // a REAL body still parses (regression guard for the bound itself)
    val doc4 = asMap(Yaml.parse("a: >-\n  body text\nb: 4\n"))
    assert(doc4.get("a") == "body text")
    assert(doc4.get("b") == java.lang.Long.valueOf(4))
  }

  test("unsupported YAML features fail loudly, not silently misparse") {
    intercept[IllegalArgumentException](Yaml.parse("a: &anchor v"))
    intercept[IllegalArgumentException](Yaml.parse("a: *alias"))
    intercept[IllegalArgumentException](Yaml.parse("a: !!int 5"))
    intercept[IllegalArgumentException](Yaml.parse("\ta: tab indent"))
    intercept[IllegalArgumentException](Yaml.parse("a: v\na: dup"))
  }

  test("NUL escape, keep-chomp blanks, multi-line flow, non-scalar keys; plain typing") {
    val doc = asMap(Yaml.parse(
      """nul: "a\0b"
        |keep: |+
        |  body
        |
        |
        |flow: [1,
        |  2, x]
        |octal: 0755
        |hex: 0x1F
        |underscored: 1_000
        |word: yes
        |big: 9223372036854775808
        |""".stripMargin))
    assert(doc.get("nul") == s"a${0.toChar}b")
    assert(doc.get("keep") == "body\n\n\n") // every trailing blank line kept
    val flow = asList(doc.get("flow")) // a flow list may span lines
    assert(flow.size == 3 && flow.get(1) == java.lang.Long.valueOf(2) && flow.get(2) == "x")
    assert(doc.get("octal") == java.lang.Long.valueOf(755))
    assert(doc.get("hex") == "0x1F")
    assert(doc.get("underscored") == "1_000")
    assert(doc.get("word") == "yes")
    assert(doc.get("big") == "9223372036854775808")
    intercept[IllegalArgumentException](Yaml.parse("[a, b]: c\n"))
    intercept[IllegalArgumentException](Yaml.parse("? {k: v}\n: c\n"))
  }
}
