package graft.pipeline

import graft.SparkTestBase
import graft.model.Envelope
import graft.route.EndpointSet
import org.apache.spark.sql.functions._

class PipelineConfigSpec extends SparkTestBase {
  import spark.implicits._

  test("JSON pipeline config compiles to the same stages as code") {
    val config =
      """[
        |  {"if": "event.text.matches(\"^\\\\d{1,3}\\\\.\")",
        |   "then": [
        |     {"grok": {"field": "text", "patterns": ["^%{IPV4:client} - %{USER:user} \\[%{HTTPDATE:timestamp}\\] \"%{WORD:verb} %{NOTSPACE:request} HTTP/%{NUMBER:httpversion}\" %{NUMBER:response:int} %{NUMBER:bytes:int} \"%{DATA:referrer}\" \"%{DATA:agent}\" %{NUMBER:requesttime:float}"]}},
        |     {"add_tag": {"tag": "nginx"}}],
        |   "else if": [
        |     {"if": "event.text.matches(\"^[a-z]+=\")",
        |      "then": [{"kv": {"field": "text"}}, {"add_tag": {"tag": "kv"}}]}],
        |   "else": [{"add_tag": {"tag": "plain"}}]},
        |  {"set_field": {"field": "origin", "value": "\"carver\""}}
        |]""".stripMargin
    val stages = PipelineConfig.fromJson(config)
    assert(stages.length == 2)

    val df = Seq(
      ("c1", 0, "user", graft.model.TranscriptGen.nginxLine(42, 1, 2), "none",
        new java.sql.Timestamp(0L)),
      ("c1", 1, "user", "alpha=5 beta=6", "none", new java.sql.Timestamp(0L)),
      ("c1", 2, "user", "just text", "none", new java.sql.Timestamp(0L))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

    val out = Pipeline(df, stages)
    val rows = out
      .select(col("turn_idx"), array_join(col(Envelope.TagsCol), ","),
        element_at(col(Envelope.FieldsCol), "client"),
        element_at(col(Envelope.FieldsCol), "alpha"),
        element_at(col(Envelope.FieldsCol), "origin"))
      .collect().map(r => r.getInt(0) -> ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(rows(0)._1 == "nginx" && rows(0)._2 != null && rows(0)._4 == "carver")
    assert(rows(1)._1 == "kv" && rows(1)._3 == "5")
    assert(rows(2)._1 == "plain")
  }

  test("config-driven user_agent and geoip actions") {
    val config =
      """[
        |  {"set_field": {"field": "ip", "value": "\"81.2.69.142\""}},
        |  {"user_agent": {"field": "text"}},
        |  {"geoip": {"field": "ip", "records": [
        |    {"ip": "81.2.69.142", "city_name": "London", "continent_name": "Europe",
        |     "country_iso_code": "GB", "country_name": "United Kingdom",
        |     "longitude": -0.0931, "latitude": 51.5142, "postal_code": "EC1",
        |     "timezone": "Europe/London", "region_iso_code": "ENG",
        |     "region_name": "England"}]}}
        |]""".stripMargin
    val df = Seq(("c1", 0, "user", "curl/8.5.0", "none", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val out = Pipeline(df, PipelineConfig.fromJson(config))
    val r = out.select(
      element_at(col(Envelope.FieldsCol), "user_agent.name"),
      col("source.geo.city_name"),
      col("source.geo.location")).collect()(0)
    assert(r.getString(0) == "curl")
    assert(r.getString(1) == "London")
    assert(r.getSeq[Double](2) == Seq(-0.0931, 51.5142))
  }

  test("unknown action rejected") {
    intercept[IllegalArgumentException](
      PipelineConfig.fromJson("""[{"explode": {}}]"""))
  }

  test("an action without a required key, or an empty entry, is rejected by name") {
    // (config, its reader, fragments the error must name)
    val cases = Seq[(String, String => Any, Seq[String])](
      ("- name: grok\n  field: text\n", PipelineConfig.fromYaml(_), Seq("grok", "'patterns'")),
      ("""[{"filter": {"field": "text"}}]""", PipelineConfig.fromJson(_), Seq("filter", "'patterns'")),
      ("""[{"date": {"field": "timestamp"}}]""", PipelineConfig.fromJson(_), Seq("date", "'formats'")),
      ("- name: date\n  field: timestamp\n", PipelineConfig.fromYaml(_), Seq("date", "'formats'")),
      ("""[{"add_tag": {}}]""", PipelineConfig.fromJson(_), Seq("add_tag", "'tag'")),
      ("""[{"remove_tag": {}}]""", PipelineConfig.fromJson(_), Seq("remove_tag", "'tag'")),
      ("- name: add_tag\n", PipelineConfig.fromYaml(_), Seq("add_tag", "'tag'")),
      ("[{}]", PipelineConfig.fromJson(_), Seq("empty pipeline entry", "name")))
    for ((config, read, fragments) <- cases) {
      val e = intercept[IllegalArgumentException](read(config))
      fragments.foreach(f => assert(e.getMessage.contains(f), s"$config: ${e.getMessage}"))
    }
  }

  test("YAML pipeline config in the reference's own dialect (testing/log-carver.yaml shape)") {
    // A semantics-preserving translation of testing/log-carver.yaml's
    // pipelines section: folded-scalar CEL condition, name-keyed actions,
    // SIBLING else-if/else entries (config.go:66-150's state machine),
    // plus a trailing unconditional action.
    val yaml =
      """pipelines:
        |- if: >-
        |    event.text.matches("^\\d{1,3}\\.")
        |  then:
        |  - name: grok
        |    field: text
        |    patterns:
        |    - >-
        |      ^%{IPV4:client} - %{USER:user} \[%{HTTPDATE:timestamp}\] "%{WORD:verb} %{NOTSPACE:request} HTTP/%{NUMBER:httpversion}" %{NUMBER:response:int} %{NUMBER:bytes:int} "%{DATA:referrer}" "%{DATA:agent}" %{NUMBER:requesttime:float}
        |  - name: add_tag
        |    tag: nginx
        |- else if: >-
        |    event.text.matches("^[a-z]+=")
        |  then:
        |  - name: kv
        |    field: text
        |  - name: add_tag
        |    tag: kv
        |- else:
        |  - name: add_tag
        |    tag: plain
        |- name: set_field
        |  field: origin
        |  value: '"carver"'
        |""".stripMargin
    val stages = PipelineConfig.fromYaml(yaml)
    assert(stages.length == 2) // the conditional (merged siblings) + set_field

    val df = Seq(
      ("c1", 0, "user", graft.model.TranscriptGen.nginxLine(42, 1, 2), "none",
        new java.sql.Timestamp(0L)),
      ("c1", 1, "user", "alpha=5 beta=6", "none", new java.sql.Timestamp(0L)),
      ("c1", 2, "user", "just text", "none", new java.sql.Timestamp(0L))
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

    val out = Pipeline(df, stages)
    val rows = out
      .select(col("turn_idx"), array_join(col(Envelope.TagsCol), ","),
        element_at(col(Envelope.FieldsCol), "client"),
        element_at(col(Envelope.FieldsCol), "alpha"),
        element_at(col(Envelope.FieldsCol), "origin"))
      .collect().map(r => r.getInt(0) ->
        ((r.getString(1), r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(rows(0)._1 == "nginx" && rows(0)._2 != null && rows(0)._4 == "carver")
    assert(rows(1)._1 == "kv" && rows(1)._3 == "5")
    assert(rows(2)._1 == "plain" && rows(2)._4 == "carver")
  }

  test("a YAML config mirroring the built-in stages drives the FULL pipeline identically") {
    // the production contract (RunPipeline GRAFT_PIPELINE_CONFIG): a
    // config file encoding the same stages as TranscriptPipeline.stages
    // must parse, enrich and route every turn identically
    val yaml =
      s"""- if: >-
         |    event.text.matches("^\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3}\\\\.\\\\d{1,3} ")
         |  then:
         |  - name: grok
         |    field: text
         |    patterns:
         |    - ${graft.grok.Grok.NginxAccess}
         |  - name: date
         |    field: timestamp
         |    formats:
         |    - 02/Jan/2006:15:04:05 -0700
         |  - name: add_tag
         |    tag: nginx
         |- else if: >-
         |    event.text.matches("^[a-z]+=")
         |  then:
         |  - name: kv
         |    field: text
         |  - name: add_tag
         |    tag: kv
         |- else if: >-
         |    event.text.startsWith("{")
         |  then:
         |  - name: json
         |    field: text
         |  - name: add_tag
         |    tag: json
         |- else:
         |  - name: add_tag
         |    tag: plain
         |""".stripMargin
    val turns = graft.model.TranscriptGen.generate(spark, seed = 7L,
      nConvs = 120L, parallelism = 4).toDF()
    val builtIn = graft.TranscriptPipeline.run(spark, turns)
    val configured = graft.TranscriptPipeline.run(spark, turns,
      PipelineConfig.fromYaml(yaml))
    // set ops reject MAP columns — canonicalize the fields map to sorted
    // entry structs (order-insensitive, value-exact)
    def canon(df: org.apache.spark.sql.DataFrame) = {
      val cols = df.columns.toSeq.map {
        case "fields" => sort_array(map_entries(col("fields"))).as("fields")
        case c => col(c)
      }
      df.select(cols: _*)
    }
    assert(canon(builtIn).exceptAll(canon(configured)).isEmpty
      && canon(configured).exceptAll(canon(builtIn)).isEmpty,
      "config-driven pipeline must be row-identical to the coded stages")
  }

  test("fromText dispatches by extension, then by content sniff") {
    val json = """[{"add_tag": {"tag": "j"}}]"""
    val yaml = "- name: add_tag\n  tag: y\n"
    assert(PipelineConfig.fromText(json, "pipeline.json").length == 1)
    assert(PipelineConfig.fromText(yaml, "log-carver.yaml").length == 1)
    // no extension: sniff — JSON starts with [/{, YAML otherwise
    assert(PipelineConfig.fromText(json).length == 1)
    assert(PipelineConfig.fromText(yaml).length == 1)
  }

  test("YAML dialect: else without if rejected; dangling else-if rejected") {
    intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      "- else:\n  - name: add_tag\n    tag: t\n"))
    intercept[IllegalArgumentException](PipelineConfig.fromYaml(
      "- else if: \"true\"\n  then:\n  - name: add_tag\n    tag: t\n"))
  }

  test("a JSON-dialect conditional keeps its else-if and else through every entry point") {
    // the scaladoc's JSON-dialect conditional — `if`, an `else if` list,
    // `else` — spelled in JSON and in YAML
    val json =
      """[{"if": "event.text.matches(\"^\\\\d\")",
        |  "then": [{"add_tag": {"tag": "nginx"}}],
        |  "else if": [{"if": "event.text.matches(\"^[a-z]+=\")",
        |               "then": [{"kv": {"field": "text"}}]}],
        |  "else": [{"add_tag": {"tag": "plain"}}]}]""".stripMargin
    val yaml =
      """- if: event.text.matches("^\\d")
        |  then:
        |  - add_tag: {tag: nginx}
        |  else if:
        |  - if: event.text.matches("^[a-z]+=")
        |    then:
        |    - kv: {field: text}
        |  else:
        |  - add_tag: {tag: plain}
        |""".stripMargin
    val dir = java.nio.file.Files.createTempDirectory("graft-entry-points")
    def document(name: String, text: String): java.nio.file.Path =
      java.nio.file.Files.writeString(dir.resolve(name), text)
    val entryPoints = Seq[(String, () => Seq[Stage])](
      "fromJson" -> (() => PipelineConfig.fromJson(json)),
      "fromYaml" -> (() => PipelineConfig.fromYaml(yaml)),
      "loadDocument .json" -> (() => PipelineConfig.loadDocument(
        document("pipeline.json", s"""{"pipelines": $json}""")).stages),
      "loadDocument .yaml" -> (() => PipelineConfig.loadDocument(
        document("pipeline.yaml", "pipelines:\n" + yaml)).stages))
    for ((entry, read) <- entryPoints) {
      val parsed = read()
      assert(parsed.length == 1, entry)
      val cond = parsed.head.asInstanceOf[ConditionalStage]
      assert(cond.branches.length == 2, entry)
      assert(cond.branches.map(_._1) == Seq("event.text.matches(\"^\\\\d\")",
        "event.text.matches(\"^[a-z]+=\")"), entry)
      assert(cond.otherwiseStages.nonEmpty, entry)
    }
    graft.util.Fs.deleteRecursively(dir)
  }

  test("user_agent action loads a full uap-core database file") {
    val dbFile = java.nio.file.Files.createTempFile("uap-regexes", ".yaml")
    java.nio.file.Files.writeString(dbFile,
      """user_agent_parsers:
        |  - regex: '(Namoroka|Shiretoko|Minefield)/(\d+)\.(\d+)'
        |    family_replacement: 'Firefox ($1)'
        |os_parsers:
        |  - regex: '(Android) (\d+)\.(\d+)'
        |device_parsers: []
        |""".stripMargin)
    val yaml =
      s"""- name: user_agent
         |  field: text
         |  database: $dbFile
         |""".stripMargin
    val df = Seq(("c1", 0, "user", "Mozilla/5.0 (Android 13.1) Gecko Shiretoko/3.5.1",
      "none", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val out = Pipeline(df, PipelineConfig.fromYaml(yaml))
    val r = out.select(
      element_at(col(Envelope.FieldsCol), "user_agent.name"),
      element_at(col(Envelope.FieldsCol), "user_agent.os.family"),
      element_at(col(Envelope.FieldsCol), "user_agent.os.major")).collect()(0)
    // the built-in subset would classify this UA as family "Other" —
    // only the loaded database knows the Shiretoko → Firefox mapping
    assert(r.getString(0) == "Firefox (Shiretoko)")
    assert(r.getString(1) == "Android" && r.getString(2) == "13")
    java.nio.file.Files.delete(dbFile)
  }

  test("config includes: glob-expanded file lists merge into the files section (config.go:68-83)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-includes")
    def write(name: String, text: String): java.nio.file.Path =
      java.nio.file.Files.write(dir.resolve(name), text.getBytes("UTF-8"))
    // the testing/log-courier-include.yaml shape: a main document with its
    // own files entry plus a glob, and two include files each carrying a
    // ROOT-level list of file-group entries
    val main = write("log-courier.yaml",
      """pipelines:
        |- name: add_tag
        |  tag: included
        |files:
        |- paths:
        |  - singleline-generated.log
        |includes:
        |- ./log-courier-include-*.yaml
        |""".stripMargin)
    write("log-courier-include-b.yaml",
      """- paths:
        |  - multiline-generated.log
        |  codecs:
        |  - name: multiline
        |    patterns:
        |    - "!$"
        |    previous timeout: 30s
        |  fields:
        |    type: nginx
        |""".stripMargin)
    write("log-courier-include-a.yaml",
      """- paths:
        |  - apache-*.log
        |  - extra.log
        |- paths:
        |  - syslog.log
        |""".stripMargin)
    val doc = PipelineConfig.loadDocument(main)
    assert(doc.stages.length == 1)
    // main's own files first, then includes in glob-sorted order (a < b)
    assert(doc.files.map(_.paths) == Seq(
      Seq("singleline-generated.log"), Seq("apache-*.log", "extra.log"),
      Seq("syslog.log"), Seq("multiline-generated.log")))
    val ml = doc.files.last
    assert(ml.fields == Map("type" -> "nginx"))
    assert(ml.codecNames == Seq("multiline"))
    // codec parameters survive on the raw node
    assert(ml.raw.get("codecs").get(0).get("previous timeout").asText() == "30s")

    // a glob with no matches is empty, like filepath.Glob
    val lone = write("lone.yaml",
      "files:\n- paths:\n  - a.log\nincludes:\n- ./nothing-*.yaml\n")
    assert(PipelineConfig.loadDocument(lone).files.map(_.paths) == Seq(Seq("a.log")))

    // a group with no paths is the reference's config error (config.go:128-141)
    write("log-courier-include-c.yaml", "- fields:\n    type: bare\n")
    val e1 = intercept[IllegalArgumentException](PipelineConfig.loadDocument(main))
    assert(e1.getMessage.contains("no paths specified"))
    java.nio.file.Files.delete(dir.resolve("log-courier-include-c.yaml"))

    // an include whose root is not a list fails loudly (config.go:75-77)
    write("log-courier-include-c.yaml", "files:\n- paths:\n  - x.log\n")
    val e2 = intercept[IllegalArgumentException](PipelineConfig.loadDocument(main))
    assert(e2.getMessage.contains("list of file-group entries"))
    graft.util.Fs.deleteRecursively(dir)
  }

  test("Fs.glob: Go filepath.Glob semantics — segment-scoped metas, sorted, no-match empty") {
    val dir = java.nio.file.Files.createTempDirectory("graft-glob")
    def touch(rel: String): Unit = {
      val p = dir.resolve(rel)
      java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.write(p, Array.empty[Byte])
    }
    Seq("a1.log", "a2.log", "b1.txt", "sub/a3.log", "sub/deep/a4.log")
      .foreach(touch)
    def names(pat: String): Seq[String] =
      graft.util.Fs.glob(pat, dir).map(p => dir.relativize(p).toString)
    assert(names("*.log") == Seq("a1.log", "a2.log")) // sorted, one segment
    assert(names("a?.log") == Seq("a1.log", "a2.log"))
    assert(names("[ab]1.*") == Seq("a1.log", "b1.txt"))
    assert(names("sub/*.log") == Seq("sub/a3.log"))
    assert(names("*/deep/a4.log") == Seq("sub/deep/a4.log"))
    assert(names("*.missing").isEmpty)
    assert(names("sub").== (Seq("sub"))) // literal segment: existence check
    // absolute patterns ignore base
    assert(graft.util.Fs.glob(dir.resolve("a1.log").toString) ==
      Seq(dir.resolve("a1.log")))
    graft.util.Fs.deleteRecursively(dir)
  }

  test("endpoint policies: failover / loadbalance / random") {
    val eps = Seq("es-1", "es-2", "es-3")
    val fo = EndpointSet(eps, "failover")
    assert(fo.pick(0).contains("es-1"))
    assert(fo.pick(0, healthy = _ != "es-1").contains("es-2"))
    assert(fo.pick(0, healthy = _ => false).isEmpty)

    val lb = EndpointSet(eps, "loadbalance")
    assert((0L to 5L).flatMap(lb.pick(_)).toSet == eps.toSet)

    val rnd = EndpointSet(eps, "random")
    val first = rnd.pick(0).get
    assert(rnd.pick(99).contains(first)) // sticky across batches
    val after = rnd.pick(0, healthy = _ != first).get
    assert(after != first) // re-pick on failure
  }
}
