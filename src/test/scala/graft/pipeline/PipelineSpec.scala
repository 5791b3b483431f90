package graft.pipeline

import graft.{SparkTestBase, TranscriptPipeline}
import graft.SparkTestBase.exprCount
import graft.functions.{GoTime, JsonFlatten, KvParse, UserAgentParse}
import graft.grok.GrokExtractMap
import graft.model.{Envelope, TranscriptGen}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RLike}
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkTestBase {
  import spark.implicits._

  private def base = Seq(
    ("c1", 0, "user", "level=error code=7", "none",
      new java.sql.Timestamp(1767225600000L)),
    ("c1", 1, "assistant", """{"status":"ok","n":3}""", "search",
      new java.sql.Timestamp(1767225601000L)),
    ("c2", 0, "system", "plain text", "none",
      new java.sql.Timestamp(1767225602000L))
  ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")

  test("set_field via CEL and unset_field") {
    val out = Pipeline(base, Seq(
      SetFieldStage("note", """event.role + "-" + event.tool"""),
      SetFieldStage("gone", "\"x\""),
      UnsetFieldStage("gone")))
    val rows = out.select(element_at(col(Envelope.FieldsCol), "note"),
        map_contains_key(col(Envelope.FieldsCol), "gone"))
      .collect()
    assert(rows.forall(!_.getBoolean(1)))
    assert(rows.map(_.getString(0)).toSet == Set("user-none", "assistant-search", "system-none"))
  }

  test("set @timestamp path updates event_ts") {
    val out = Pipeline(base, Seq(SetFieldStage("@timestamp", "\"2027-01-01T00:00:00Z\"")))
    val ts = out.select(col(Envelope.EventTsCol).cast("string")).as[String].collect()
    assert(ts.forall(_.startsWith("2027-01-01")))
  }

  test("DateStage UNIX format on non-numeric input tags _date_failure instead of aborting (ANSI)") {
    // under Spark 4's default ANSI mode an unguarded cast('…' as double)
    // would kill the job on the first malformed row (actiondate.go:60-95
    // tags the event instead)
    val out = Pipeline(base, Seq(DateStage("text", Seq("UNIX"))))
    val rows = out.select(array_join(col(Envelope.TagsCol), ","),
        col(Envelope.EventTsCol).cast("string"), col("ts").cast("string"))
      .collect()
    assert(rows.forall(_.getString(0) == "_date_failure"))
    assert(rows.forall(r => r.getString(1) == r.getString(2))) // event_ts untouched
  }

  test("DateStage UNIX parses float-second strings") {
    val df = Seq(("c", 0, "u", "1767225600.5", "none", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val out = Pipeline(df, Seq(DateStage("text", Seq("UNIX"))))
    val ts = out.select(col(Envelope.EventTsCol).cast("string")).as[String].collect()(0)
    assert(ts == "2026-01-01 00:00:00.5")
  }

  test("set_field @timestamp with a non-timestamp value keeps the previous timestamp (ANSI-safe)") {
    val out = Pipeline(base, Seq(SetFieldStage("@timestamp", "event.role")))
    val rows = out.select(col(Envelope.EventTsCol).cast("string"), col("ts").cast("string")).collect()
    assert(rows.forall(r => r.getString(0) == r.getString(1)))
  }

  test("conditional if/elseif/else with guarded kv+json actions") {
    val out = Pipeline(base, Seq(
      ConditionalStage(
        branches = Seq(
          ("""event.text.contains("=")""", Seq(KvStage("text"), AddTagStage("kv"))),
          ("""event.text.startsWith("{")""", Seq(JsonStage("text"), AddTagStage("json")))
        ),
        otherwiseStages = Seq(AddTagStage("plain")))))
    val got = out.select(col("conv_id"), col("turn_idx"),
        array_join(col(Envelope.TagsCol), ","),
        element_at(col(Envelope.FieldsCol), "level"),
        element_at(col(Envelope.FieldsCol), "status"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> ((r.getString(2), r.getString(3), r.getString(4)))).toMap
    assert(got(("c1", 0)) == (("kv", "error", null)))
    assert(got(("c1", 1)) == (("json", null, "ok")))
    assert(got(("c2", 0)) == (("plain", null, null)))
  }

  test("filter stage drops non-matching rows") {
    // note: a LEADING '=' would be the literal-escape prefix
    // (patterncollection.go:52-55), so match on 'level=' instead
    val out = Pipeline(base, Seq(FilterStage(Seq("level=", "\\{"), "any")))
    assert(out.count() == 2)
  }

  test("grok remove unsets source field representation (kv path syntax)") {
    val df = Seq(("c", 0, "u", "x", "none", new java.sql.Timestamp(0L)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val out = Pipeline(df, Seq(
      SetFieldStage("a[b]", "\"v\"")))
    val m = out.select(element_at(col(Envelope.FieldsCol), "a.b")).collect()(0)
    assert(m.getString(0) == "v") // a[b] path normalised to a.b
  }

  test("CEL json.encode / json.decode extension") {
    val out = Pipeline(base, Seq(
      JsonStage("text"),
      SetFieldStage("reenc", "json.encode(event.tags)")))
    val enc = out.filter(col("turn_idx") === 1 && col("conv_id") === "c1")
      .select(element_at(col(Envelope.FieldsCol), "reenc")).collect()(0).getString(0)
    assert(enc == "[]") // tags empty at that point; encoded as JSON array
  }

  test("nested conditionals keep their own frozen predicates (no temp-column collision)") {
    val out = Pipeline(base, Seq(
      ConditionalStage(
        branches = Seq(
          ("""event.text.contains("=")""", Seq(
            AddTagStage("outer_kv"),
            ConditionalStage(
              branches = Seq(
                ("""event.text.contains("error")""", Seq(AddTagStage("inner_error")))),
              otherwiseStages = Seq(AddTagStage("inner_other")))))),
        otherwiseStages = Seq(AddTagStage("outer_plain")))))
    val got = out.select(col("conv_id"), col("turn_idx"),
        array_join(col(Envelope.TagsCol), ",")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(got(("c1", 0)) == "inner_error,outer_kv", s"got $got")
    assert(got(("c1", 1)) == "outer_plain")
    assert(got(("c2", 0)) == "outer_plain")
  }

  test("grok and kv tag a MISSING source field like the reference (actiongrok.go:70, actionkv.go:73)") {
    val out = Pipeline(base, Seq(
      GrokStage("not_there", Seq("%{WORD:w}")),
      KvStage("also_missing")))
    val tags = out.select(array_join(col(Envelope.TagsCol), ",")).collect()
      .map(_.getString(0))
    assert(tags.forall(t => t.contains("_grok_failure") && t.contains("_kv_failure")),
      s"missing source fields must tag failures, got ${tags.toSeq}")
    val errs = out.select(
        element_at(col(Envelope.FieldsCol), "_grok_error")).collect()
    assert(errs.forall(_.getString(0).contains("not present")))
  }

  test("kv with a %{+date} prefix over a NULL timestamp tags a failure instead of aborting on null map keys") {
    val withNullTs = Seq(
      ("c9", 0, "user", "a=1 b=2", "none", null.asInstanceOf[java.sql.Timestamp])
    ).toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val out = Pipeline(withNullTs, Seq(KvStage("text", prefix = "%{+2006.01.02}_")))
    val r = out.select(array_join(col(Envelope.TagsCol), ","),
      map_contains_key(col(Envelope.FieldsCol), "a")).collect()(0)
    assert(r.getString(0).contains("_kv_failure"), "null prefix must tag, not crash")
    assert(!r.getBoolean(1), "kv fields must not apply under a failed prefix")
  }

  test("an action whose capture overwrites its source key merges once and tags nothing") {
    // (action, the set_field that seeds the source, the action on it, the
    // fields it must merge); remove = false, so each source key keeps its
    // own capture
    val cases = Seq(
      ("grok", SetFieldStage("msg", "'hello world'"),
        GrokStage("msg", Seq("%{WORD:msg} %{WORD:rest}")),
        Map("msg" -> "hello", "rest" -> "world")),
      ("json", SetFieldStage("payload", """'{"payload": 7}'"""),
        JsonStage("payload"), Map("payload" -> "7")),
      ("kv", SetFieldStage("pair", "'pair=one two=2'"),
        KvStage("pair"), Map("pair" -> "one", "two" -> "2")))
    for ((action, seed, stage, merged) <- cases) {
      val rows = Pipeline(base, Seq(seed, stage))
        .select(col(Envelope.TagsCol), col(Envelope.FieldsCol)).collect()
      for (r <- rows) {
        val tags = r.getSeq[String](0)
        val fields = r.getMap[String, String](1)
        assert(!tags.contains(s"_${action}_failure"), s"$action: tags $tags")
        assert(!fields.contains(s"_${action}_error"), s"$action: fields $fields")
        for ((k, v) <- merged) assert(fields.get(k).contains(v), s"$action: fields $fields")
      }
    }
  }

  test("each action's extraction is one expression in the optimized plan") {
    val turns = TranscriptGen.generate(spark, 42L, 10L, parallelism = 2).toDF()
    val flagship = TranscriptPipeline.run(spark, turns).queryExecution.optimizedPlan
    val nginxDate = GoTime.shapeRegex("02/Jan/2006:15:04:05 -0700").get
    val counts = Seq[(String, Expression => Boolean)](
      "grok_extract_map" -> (_.isInstanceOf[GrokExtractMap]),
      "kv_parse" -> (_.isInstanceOf[KvParse]),
      "json_flatten" -> (_.isInstanceOf[JsonFlatten]),
      "nginx-layout date RLIKE" -> {
        case RLike(_, Literal(re, _)) => String.valueOf(re) == nginxDate
        case _ => false
      }).map { case (what, p) => what -> exprCount(flagship)(p) }
    assert(counts.forall(_._2 == 1), s"copies per row: $counts\n$flagship")
    val ua = Pipeline(turns, Seq(UserAgentStage("text"))).queryExecution.optimizedPlan
    assert(exprCount(ua)(_.isInstanceOf[UserAgentParse]) == 1, ua.toString)
  }
}
