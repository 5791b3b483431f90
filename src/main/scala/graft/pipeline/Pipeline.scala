package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.cel.Cel
import graft.codec.FilterCodec
import graft.functions.{EventFns, JsonFlatten, KvParse}
import graft.grok.{CompiledGrok, Grok, GrokExtractMap}
import graft.model.Envelope
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}

/** The Log Carver processing pipeline re-expressed as vectorised column
  * transforms: a list of actions and `if / else if / else` blocks
  * (`lc-lib/processor/config.go:66-150`, `ast.go:62-87`). Each action is
  * applied under a *guard* predicate — rows where the guard is false pass
  * through untouched, which is exactly the semantics of the reference's
  * per-event branch walk, but evaluated once per column over the whole
  * batch (no row-at-a-time interpreter).
  */
sealed trait Stage {
  def apply(df: DataFrame, guard: Column): DataFrame
}

object Pipeline {
  val TopLevel: Set[String] =
    Set("conv_id", "turn_idx", "role", "text", "tool", "ts", "event_ts", "tags")

  /** `a[b][c]` path syntax → dotted key (`lc-lib/event/event.go:193-254`);
    * our dynamic fields are one flat string map keyed by the dotted path.
    */
  def normalizePath(p: String): String =
    p.replace("][", ".").replace("[", ".").replace("]", "").stripPrefix(".")

  /** Envelope-aware field resolution: built-in columns by name
    * (`@timestamp` → `event_ts`), everything else in the `fields` map.
    */
  def resolve(df: DataFrame)(path: String): Column = {
    val p = normalizePath(path)
    if (p == "@timestamp") col("event_ts")
    else if (TopLevel.contains(p)) col(p)
    else element_at(col(Envelope.FieldsCol), p)
  }

  /** Static type of a resolved path, for pattern-string JSON encoding
    * (`pattern.go:86-97`): top-level columns from the schema, dynamic
    * `fields`-map entries are strings.
    */
  def typeOf(df: DataFrame)(path: String): Option[org.apache.spark.sql.types.DataType] = {
    val p = normalizePath(path)
    val name = if (p == "@timestamp") Envelope.EventTsCol else p
    df.schema.fields.find(_.name == name).map(_.dataType)
      .orElse(Some(org.apache.spark.sql.types.StringType))
  }

  /** Add the envelope columns to a raw transcripts frame — the `Decorate`
    * analog (`lc-lib/event/stream.go:72-114`): empty tags/fields and
    * `event_ts` seeded from the turn timestamp (the "receive time").
    */
  def withEnvelope(df: DataFrame): DataFrame = {
    var out = df
    if (!out.columns.contains(Envelope.TagsCol))
      out = out.withColumn(Envelope.TagsCol, array().cast("array<string>"))
    if (!out.columns.contains(Envelope.FieldsCol))
      out = out.withColumn(Envelope.FieldsCol,
        map().cast("map<string,string>"))
    if (!out.columns.contains(Envelope.EventTsCol))
      out = out.withColumn(Envelope.EventTsCol, col("ts"))
    out
  }

  /** Merge two string maps, right side winning on key conflicts (the
    * reference re-resolves each key into the event map). Custom
    * codegen'd expression — the `map_concat∘map_filter` spelling is a
    * higher-order function that blocks whole-stage codegen.
    */
  def mergeMaps(base: Column, over: Column): Column =
    graft.functions.MapMergeLastWin(base, over)

  /** Apply a full pipeline. Guards are null-safe: a null predicate is
    * false (`ast.go:111-118` — eval errors make the branch false).
    */
  def apply(df: DataFrame, stages: Seq[Stage]): DataFrame =
    stages.foldLeft(withEnvelope(df))((d, s) => s.apply(d, lit(true)))

  // ---- shared helpers for actions ----

  // one counter names every temp column: nested stages (an if inside a
  // branch, an action inside a conditional) each get their own names, so
  // an inner stage never overwrites or drops an outer's
  private val tmpCtr = new java.util.concurrent.atomic.AtomicLong()

  /** Evaluate each of `values` once per row, against `df`: bind them as
    * temp columns, hand `body` references to them, drop the columns
    * afterwards. An expression written at each use is evaluated at each
    * use, and the uses after a stage's own merge would read the
    * already-updated row; a bound column is one expression in the plan
    * (Catalyst does not inline a non-trivial projection into more than
    * one use).
    */
  private[pipeline] def bindAll(df: DataFrame, values: Seq[Column])(
      body: (DataFrame, Seq[Column]) => DataFrame): DataFrame = {
    val names = values.map(_ => s"_graft_tmp_${tmpCtr.getAndIncrement()}")
    body(df.withColumns(names.zip(values).toMap), names.map(col)).drop(names: _*)
  }

  private[pipeline] def bind(df: DataFrame, value: Column)(
      body: (DataFrame, Column) => DataFrame): DataFrame =
    bindAll(df, Seq(value))((d, bound) => body(d, bound.head))

  /** Set `fields[key] = value` under guard; null value = no-op. */
  private[pipeline] def setField(df: DataFrame, guard: Column, key: String, value: Column): DataFrame = {
    val p = normalizePath(key)
    if (p == "@timestamp") {
      // try_cast: a non-timestamp value must not abort the job under ANSI
      // mode — the reference's @timestamp builtin vetoes the bad set
      // (`event.go:129-151`, `timestamp.go:34-46`) and the event keeps its
      // previous timestamp.
      val casted = value.try_cast("timestamp")
      df.withColumn(Envelope.EventTsCol,
        when(guard && casted.isNotNull, casted).otherwise(col(Envelope.EventTsCol)))
    }
    else {
      val updated = mergeMaps(col(Envelope.FieldsCol), map(lit(p), value.cast("string")))
      df.withColumn(Envelope.FieldsCol,
        when(guard && value.isNotNull, updated).otherwise(col(Envelope.FieldsCol)))
    }
  }

  /** The `AddError` convention (`event.go:293-296`): `_<action>_error`
    * field + `_<action>_failure` tag, applied where `failed`.
    */
  private[pipeline] def addError(df: DataFrame, failed: Column, action: String, msg: Column): DataFrame = {
    val tagged = df.withColumn(Envelope.TagsCol,
      EventFns.withActionFailure(col(Envelope.TagsCol), coalesce(failed, lit(false)), action))
    setField(tagged, coalesce(failed, lit(false)), s"_${action}_error", msg)
  }

  /** Unset a dynamic field under guard. */
  private[pipeline] def unsetField(df: DataFrame, guard: Column, key: String): DataFrame = {
    val p = normalizePath(key)
    if (TopLevel.contains(p))
      throw new IllegalArgumentException(s"cannot unset built-in column: $p")
    df.withColumn(Envelope.FieldsCol,
      when(guard, map_filter(col(Envelope.FieldsCol), (k, _) => k =!= p))
        .otherwise(col(Envelope.FieldsCol)))
  }

  /** The body the map-merging actions (grok, json, kv, user_agent) share:
    * bind `when(guard, extracted)` once, merge it into the fields map where
    * it is non-null, `AddError` with message `failure` where the guard
    * held and it is null, and unset `removeField` where it merged.
    */
  private[pipeline] def mergeAction(df: DataFrame, guard: Column, action: String,
      extracted: Column, failure: Column, removeField: Option[String] = None): DataFrame =
    bind(df, when(guard, extracted)) { (d, m) =>
      val merged = d.withColumn(Envelope.FieldsCol,
        when(m.isNotNull, mergeMaps(col(Envelope.FieldsCol), m))
          .otherwise(col(Envelope.FieldsCol)))
      val tagged = addError(merged, guard && m.isNull, action, failure)
      removeField.fold(tagged)(unsetField(tagged, m.isNotNull, _))
    }
}

/** `grok` action (`lc-lib/processor/actiongrok.go:58-97`): first-matching
  * of N patterns; captures merge into the fields map; optional source
  * removal; no match on any pattern → `_grok_failure`.
  */
case class GrokStage(field: String, patterns: Seq[String],
    remove: Boolean = false,
    localPatterns: Map[String, String] = Map.empty,
    grok: Grok = Grok.default) extends Stage {

  val compiled: Seq[CompiledGrok] = patterns.map { p =>
    val c = grok.compile(p, localPatterns)
    c.copy(fields = c.fields.map(f => f.copy(name = Pipeline.normalizePath(f.name))))
  }

  def apply(df: DataFrame, guard: Column): DataFrame = {
    val src = Pipeline.resolve(df)(field)
    val extracted = compiled.map(c =>
      EU.column(GrokExtractMap(EU.expression(src), c)))
    // first-matching pattern wins; the reference tags a MISSING source
    // field too (actiongrok.go:70)
    Pipeline.mergeAction(df, guard, "grok", coalesce(extracted: _*),
      when(src.isNull, lit(s"Field '$field' is not present or not a string"))
        .otherwise(lit(s"Field '$field' did not match any of the given patterns")),
      Option.when(remove)(field))
  }
}

/** `date` action (`lc-lib/processor/actiondate.go:43-99`): parse a string
  * field into the event timestamp using the first successful of N Go
  * layouts (or `UNIX`); failure → `_date_failure`.
  */
case class DateStage(field: String, formats: Seq[String],
    remove: Boolean = false) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    val src = Pipeline.resolve(df)(field)
    Pipeline.bind(df, when(guard, EventFns.dateParse(src, formats))) { (d, parsed) =>
      val out = Pipeline.addError(
        d.withColumn(Envelope.EventTsCol, coalesce(parsed, col(Envelope.EventTsCol))),
        guard && parsed.isNull, "date",
        lit(s"Field '$field' could not be parsed with any of the given formats"))
      if (remove) Pipeline.unsetField(out, parsed.isNotNull, field) else out
    }
  }
}

/** `json` action (`lc-lib/processor/actionjson.go:45-81`). */
case class JsonStage(field: String, remove: Boolean = false) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame =
    Pipeline.mergeAction(df, guard, "json", JsonFlatten(Pipeline.resolve(df)(field)),
      lit(s"Field '$field' could not be unmarshalled"), Option.when(remove)(field))
}

/** `kv` action (`lc-lib/processor/actionkv.go`): quote-aware k=v pairs
  * with a per-event `prefix` pattern string.
  */
case class KvStage(field: String, prefix: String = "") extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    val src = Pipeline.resolve(df)(field)
    // the reference tags a MISSING source field too (actionkv.go:73)
    val failure = when(src.isNull, lit(s"Field '$field' is not present or not a string"))
    if (prefix.isEmpty)
      Pipeline.mergeAction(df, guard, "kv", KvParse(src),
        failure.otherwise(lit("Parsing interrupted")))
    else Pipeline.bind(df, when(guard, KvParse(src))) { (d, parsed) =>
      val prefixCol = EventFns.patternFormat(prefix, Pipeline.resolve(d),
        col(Envelope.EventTsCol), Pipeline.typeOf(d))
      // a %{+layout} prefix over a null event_ts renders NULL: applying it
      // would make every map key null (a runtime abort); the reference
      // AddErrors "Failed to format prefix" per event and skips the kv
      // (actionkv.go:79)
      Pipeline.mergeAction(d, guard, "kv",
        when(prefixCol.isNotNull, transform_keys(parsed, (k, _) => concat(prefixCol, k))),
        failure.when(parsed.isNull, lit("Parsing interrupted"))
          .otherwise(lit("Failed to format prefix")))
    }
  }
}

/** `set_field` (`lc-lib/processor/actionfield.go:48-63`): CEL-computed
  * value set at a field path.
  */
case class SetFieldStage(field: String, valueCel: String) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    val value = Cel.compile(valueCel, Pipeline.resolve(df), Pipeline.typeOf(df))
    Pipeline.bind(df, when(guard, value))(Pipeline.setField(_, guard, field, _))
  }
}

/** `user_agent` action (`lc-lib/processor/actionuseragent.go:50-112`):
  * uap-style decomposition of a UA string into
  * `user_agent[original|name|major|minor|patch|os[family|major|minor]|device[name]]`
  * entries of the fields map (path syntax flattened to dotted keys);
  * missing source field → `_user_agent_failure`. The reference's
  * LRU(1000) cache has no analog: each row parses once (the parse is
  * bound, then its eight entries are read off the bound struct), and
  * there is no cross-row cache.
  */
case class UserAgentStage(field: String, remove: Boolean = false,
    rules: Option[graft.functions.UapRules.RuleSet] = None) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    val src = Pipeline.resolve(df)(field)
    val parse = rules match {
      case Some(rs) => graft.functions.UserAgentParse(src, rs)
      case None => graft.functions.UserAgentParse(src)
    }
    Pipeline.bind(df, when(guard, parse)) { (d, ua) =>
      val entries: Seq[(String, Column)] = Seq(
        "user_agent.original" -> src,
        "user_agent.name" -> ua.getField("name"),
        "user_agent.major" -> ua.getField("major"),
        "user_agent.minor" -> ua.getField("minor"),
        "user_agent.patch" -> ua.getField("patch"),
        "user_agent.os.family" -> ua.getField("os_family"),
        "user_agent.os.major" -> ua.getField("os_major"),
        "user_agent.os.minor" -> ua.getField("os_minor"),
        "user_agent.device.name" -> ua.getField("device"))
      // absent versions are simply not set (actionuseragent.go's
      // conditional MustResolve calls) — drop null-valued entries
      val uaMap = map_filter(
        map(entries.flatMap { case (k, v) => Seq(lit(k), v) }: _*),
        (_, v) => v.isNotNull)
      // a null parse is a null (missing) source under the guard
      Pipeline.mergeAction(d, guard, "user_agent", when(ua.isNotNull, uaMap),
        lit(s"Field '$field' is not present"), Option.when(remove)(field))
    }
  }
}

/** `geoip` action (`lc-lib/processor/actiongeoip.go:88-213`): broadcast
  * lookup of an IP field → full geo struct at the target path (default
  * `source[geo]`); invalid IP → `_geoip_failure`; valid-but-unknown IP →
  * silently ignored. See [[graft.enrich.GeoIp]] for the struct shape.
  */
case class GeoIpStage(field: String, db: Seq[graft.enrich.GeoRecord],
    target: String = "source[geo]") extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    val p = Pipeline.normalizePath(target).split('.')
    require(p.length == 2, s"geoip target must be a two-level path: $target")
    val lookup = graft.enrich.GeoIp.lookupFrame(df.sparkSession, db)
    val ip = when(guard, Pipeline.resolve(df)(field)) // unguarded rows: no-op
    graft.enrich.GeoIp.enrich(df, ip, lookup, targetCol = p(0), targetField = p(1),
      ipFieldName = field)
  }
}

/** `geoip` action backed by a real MaxMind `.mmdb` database file — the
  * reference's native configuration (`database` in actiongeoip.go points
  * at a GeoIP2/GeoLite2 City file). Same semantics and target handling
  * as [[GeoIpStage]], but resolution is a per-row search-tree walk via
  * [[graft.enrich.MmdbCityLookup]] instead of a broadcast join, and IP
  * validity follows `net.ParseIP` (v4 + v6).
  */
case class GeoIpMmdbStage(field: String, dbPath: String,
    target: String = "source[geo]") extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    val p = Pipeline.normalizePath(target).split('.')
    require(p.length == 2, s"geoip target must be a two-level path: $target")
    val ip = when(guard, Pipeline.resolve(df)(field)) // unguarded rows: no-op
    graft.enrich.GeoIp.enrichMmdb(df, ip, dbPath, targetCol = p(0),
      targetField = p(1), ipFieldName = field)
  }
}

/** `unset_field` (`actionfield.go:77-82`). */
case class UnsetFieldStage(field: String) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame =
    Pipeline.unsetField(df, guard, field)
}

/** `add_tag` / `remove_tag` (`lc-lib/processor/actiontag.go:37-58`). */
case class AddTagStage(tag: String) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame =
    df.withColumn(Envelope.TagsCol,
      when(guard, EventFns.addTag(col(Envelope.TagsCol), tag))
        .otherwise(col(Envelope.TagsCol)))
}
case class RemoveTagStage(tag: String) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame =
    df.withColumn(Envelope.TagsCol,
      when(guard, EventFns.removeTag(col(Envelope.TagsCol), tag))
        .otherwise(col(Envelope.TagsCol)))
}

/** The `filter` codec as a pipeline stage — drops rows whose text fails
  * the pattern collection (`lc-lib/codecs/filter/filter.go:86-105`).
  * Guard-insensitive (a codec runs before actions in the reference).
  */
case class FilterStage(patterns: Seq[String], matchMode: String = "any",
    field: String = "text") extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame =
    df.filter(!guard || FilterCodec.keep(Pipeline.resolve(df)(field), patterns, matchMode))
}

/** `if / else if / else` (`lc-lib/processor/ast.go:62-87`): CEL
  * predicates select which branch's stages apply to each row; predicates
  * are evaluated per-branch with all prior branches excluded, vectorised
  * over the whole frame. Null predicate = false.
  */
case class ConditionalStage(
    branches: Seq[(String, Seq[Stage])],
    otherwiseStages: Seq[Stage] = Seq.empty) extends Stage {
  def apply(df: DataFrame, guard: Column): DataFrame = {
    // The reference evaluates every branch condition against the
    // *unmutated* event (conditions are tested before the selected
    // branch's actions run, `ast.go:62-87`) — freeze all predicates as
    // temp columns against the input frame so branch mutations cannot
    // flip later predicates for already-selected rows.
    val predicates = branches.map { case (celSrc, _) =>
      coalesce(Cel.compile(celSrc, Pipeline.resolve(df), Pipeline.typeOf(df)), lit(false))
    }
    Pipeline.bindAll(df, predicates) { (frozen, selected) =>
      var out = frozen
      var notPrior: Column = lit(true)
      for (((_, stages), p) <- branches.zip(selected)) {
        val branchGuard = guard && notPrior && p
        out = stages.foldLeft(out)((d, s) => s.apply(d, branchGuard))
        notPrior = notPrior && !p
      }
      otherwiseStages.foldLeft(out)((d, s) => s.apply(d, guard && notPrior))
    }
  }
}
