package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.model.Envelope

/** Column-level re-expressions of the reference event built-ins. */
object EventFns {

  /** Sorted-unique insert into the tags array, capped at 1024 entries —
    * `lc-lib/event/event.go:300-321` (binary-search insert into a sorted,
    * deduplicated `[]string`). Null-safe: null tags behaves as empty.
    * Implemented as a custom codegen'd binary-search-insert expression —
    * the built-in `array_sort∘array_append` spelling is a higher-order
    * function (CodegenFallback) which would bar the whole projection from
    * whole-stage codegen, and allocates hash sets / lambda frames per row.
    */
  def addTag(tags: Column, tag: Column): Column =
    SortedTagInsert(coalesce(tags, array()), tag)

  def addTag(tags: Column, tag: String): Column = addTag(tags, lit(tag))

  /** Remove from the sorted tag set — `lc-lib/event/event.go:325-334`. */
  def removeTag(tags: Column, tag: String): Column =
    array_remove(coalesce(tags, array()), tag)

  /** The `_<action>_error` field + `_<action>_failure` tag convention —
    * `lc-lib/event/event.go:293-296` (`AddError`). Applied conditionally:
    * when `failed` is true the tag is added and the error message set in
    * the fields map; otherwise the row is untouched.
    */
  def withActionFailure(tagsCol: Column, failed: Column, action: String): Column =
    when(failed, addTag(tagsCol, s"_${action}_failure")).otherwise(coalesce(tagsCol, array()))

  /** Multi-format date parse, first-successful wins — the `date` action
    * (`lc-lib/processor/actiondate.go:60-95`). Formats are Go layouts or
    * the literal "UNIX" (float seconds). Unparseable → null (caller tags
    * `_date_failure`).
    */
  def dateParse(c: Column, goFormats: Seq[String]): Column = {
    val attempts = goFormats.map {
      case "UNIX" =>
        // float seconds since epoch; non-numeric / overflow → null.
        // try_cast both hops: Spark 4 defaults ANSI mode, where a plain
        // cast on a malformed string aborts the whole job — the reference
        // tags `_date_failure` instead (`actiondate.go:60-95`).
        c.try_cast("double").try_cast("timestamp")
      case layout =>
        // weekday layouts (Go parses-and-ignores the validated name;
        // Spark can't parse 'E'): strip the name from the input via the
        // ANCHORED full-layout rewrite — only the weekday in its layout
        // position is removed, never weekday substrings inside other
        // fields — and let the shape guard validate it (GoTime class doc)
        val input = GoTime.weekdayStrip(layout) match {
          case Some((re, repl)) => regexp_replace(c, re, repl)
          case None => c
        }
        // shape prefilter: a thrown-and-caught parse exception per row
        // per non-matching format dominates multi-format parse cost; the
        // regex covers every string the guarded pattern parses (GoTime
        // scaladoc), and is Go-exact where the JVM pattern is looser
        // (weekdays, numeric zones) — the guard on the ORIGINAL string
        // is what carries Go's validation
        val attempt = try_to_timestamp(input, lit(GoTime.translate(layout)))
        GoTime.shapeRegex(layout) match {
          case Some(re) => when(c.rlike(re), attempt)
          case None => attempt
        }
    }
    coalesce(attempts: _*)
  }

  /** `%{field}` / `%{+goLayout}` pattern-string compiler
    * (`lc-lib/event/pattern.go:27-102`): substitutes event fields into a
    * template, missing fields → empty string, `%{+layout}` formats the
    * event timestamp. Static templates (no `%{`) constant-fold for free.
    *
    * Non-string values are JSON-encoded like the reference
    * (`pattern.go:86-97`: string → raw, anything else → `json.Marshal`)
    * when the caller supplies `typeOf`; without type information the
    * legacy cast-to-string spelling applies (identical for
    * string/int/bool fields, which is the overwhelmingly common case).
    *
    * @param resolve maps a field name to its Column (caller decides
    *                whether names hit top-level columns or the fields map)
    * @param tsCol   the `@timestamp` analog used by `%{+...}`
    * @param typeOf  optional field-name → DataType for JSON-encoding
    */
  def patternFormat(template: String,
      resolve: String => Column,
      tsCol: Column,
      typeOf: String => Option[org.apache.spark.sql.types.DataType] = _ => None): Column = {
    import org.apache.spark.sql.types._
    val re = "%\\{([^}]+)\\}".r
    val parts = scala.collection.mutable.ArrayBuffer.empty[Column]
    var last = 0
    for (m <- re.findAllMatchIn(template)) {
      if (m.start > last) parts += lit(template.substring(last, m.start))
      val inner = m.group(1)
      if (inner.startsWith("+"))
        // FORMAT context: weekdays render as EEE/EEEE; space-padded day
        // tokens compose as lpad'd columns (GoTime class doc — neither
        // an optional section nor the JVM pad modifier can express them)
        parts += GoTime.formatColumn(tsCol, inner.substring(1))
      else {
        val c = resolve(inner)
        val rendered = typeOf(inner) match {
          case Some(StringType) | None => c.cast("string")
          case Some(DoubleType) | Some(FloatType) =>
            // json.Marshal via the FloatValue rule (float_value.go:8-26)
            GoFloatJson(c.cast("double"))
          case Some(TimestampType) | Some(TimestampNTZType) =>
            // json.Marshal of event.Timestamp = quoted RFC3339
            concat(lit("\""), date_format(c, "yyyy-MM-dd'T'HH:mm:ssXXX"), lit("\""))
          case Some(_: StructType) | Some(_: ArrayType) | Some(_: MapType) =>
            to_json(c)
          case Some(_) => c.cast("string") // ints, bools: same as JSON
        }
        parts += coalesce(rendered, lit(""))
      }
      last = m.end
    }
    if (last < template.length) parts += lit(template.substring(last))
    if (parts.isEmpty) lit("") else concat(parts.toSeq: _*)
  }

  /** RFC3339-or-now timestamp normalisation
    * (`lc-lib/event/event.go:129-151` via `lc-lib/event/timestamp.go:34-46`,
    * which accepts RFC3339Nano — any fractional width up to nanoseconds):
    * a string timestamp must parse as RFC3339; otherwise fall back to
    * `fallback` and tag `_timestamp_parse_failure`. Returns
    * (event_ts, failedFlag) columns. Nanosecond fractions are truncated to
    * Spark's microsecond timestamp precision (the reference keeps nanos —
    * documented divergence: sub-microsecond digits don't survive a
    * TIMESTAMP column in any SQL engine).
    */
  def normalizeTimestamp(raw: Column, fallback: Column): (Column, Column) = {
    // dispatch on the fraction width instead of coalescing over failed
    // parse attempts: the old spelling paid up to THREE exception-driven
    // try_to_timestamp failures per row before the matching pattern ran
    // (measured 3.6× slower on an all-nano column — OPTIMIZATION_r08.md
    // §4, NanoProbe).
    // Exactly one parse attempt runs per row; the accepted fraction
    // widths (none/3/6/9, RFC3339 through RFC3339Nano) are unchanged,
    // and a width with no branch — like a width whose parse fails — is
    // null, i.e. the same failure surface as the coalesce form.
    val d = length(regexp_extract(raw, "\\.(\\d+)", 1))
    val parsed =
      when(d === 0, try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ssXXX")))
        .when(d === 6, try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")))
        .when(d === 3, try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")))
        // RFC3339Nano (timestamp.go:34-46): 9-digit fractions
        .when(d === 9, try_to_timestamp(raw, lit("yyyy-MM-dd'T'HH:mm:ss.SSSSSSSSSXXX")))
    (coalesce(parsed, fallback), parsed.isNull && raw.isNotNull)
  }

  /** Max-line truncation + `splitline`-style tagging
    * (`lc-lib/harvester/linereader.go:76-149`, `docs/Events.md:16-25`):
    * returns (possibly truncated text, wasTruncated flag). BYTE-exact
    * like the reference (the previous `substring` spelling counted
    * characters and diverged on multi-byte UTF-8); cuts back off to the
    * last rune boundary — see [[ByteTrunc]].
    */
  def maxLineBytes(text: Column, maxBytes: Int): (Column, Column) = {
    val over = octet_length(text) > maxBytes
    (when(over, Utf8TruncBytes(text, maxBytes)).otherwise(text), over)
  }
}
