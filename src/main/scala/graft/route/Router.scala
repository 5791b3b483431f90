package graft.route

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.EventFns
import graft.model.Envelope
import graft.util.NoForkLocalFileSystem

/** A routed sink: name + routing predicate (+ optional per-event "index
  * pattern" à la the ES transport's `index pattern`,
  * `lc-lib/transports/es/transportesfactory.go:37,59` — a `%{field}` /
  * `%{+date}` template compiled to a Column).
  */
final case class Sink(
    name: String,
    predicate: Column,
    indexPattern: Option[String] = None)

/** Multi-endpoint fan-out re-expressed for a batch engine
  * (SURVEY.md §2.8 R9): routing predicates pick a sink per row
  * (first-match, like the `if` AST that drives routing in the reference),
  * then ONE write pass `partitionBy(_sink)` materialises every sink
  * directory — no per-sink re-scan of the parsed batch, no persist/
  * recompute tradeoff, and the same pass computes per-sink aggregates.
  * At 100 TB this is the difference between N full scans and one.
  */
object Router {

  val SinkCol = "_sink"

  /** Assign each row its sink by first-matching predicate; rows matching
    * nothing go to `defaultSink` — the three-way split must partition the
    * batch exactly (FIXTURES.md §4).
    */
  def assign(df: DataFrame, sinks: Seq[Sink], defaultSink: String): DataFrame = {
    val expr = sinks.foldLeft(lit(null).cast("string")) { (acc, s) =>
      coalesce(acc, when(coalesce(s.predicate, lit(false)), s.name))
    }
    df.withColumn(SinkCol, coalesce(expr, lit(defaultSink)))
  }

  /** Columns never written to a sink — the `@metadata` strip rule
    * (`lc-lib/event/event.go:346-354`).
    */
  def stripMeta(df: DataFrame): DataFrame =
    df.drop(df.columns.filter(_.startsWith(Envelope.MetaPrefix)).toSeq: _*)

  /** Single-pass partitioned write of an assigned frame plus the schema
    * manifest. Aggregates are a separate call ([[aggregates]]) — callers
    * that want both from one scan cache/persist `assigned` themselves.
    *
    * Both writes carry [[NoForkLocalFileSystem.WriteOptions]]: a `file:`
    * outDir gets its file modes set in-process rather than by a forked
    * `chmod` per file and directory. They are writer options, not session
    * conf, because Hadoop's `FileSystem` cache is keyed by scheme,
    * authority and user, not by conf, so a session-wide `fs.file.impl`
    * is silently ignored once anything in the JVM has obtained a `file:`
    * filesystem. Other schemes are untouched. The parquet write carries
    * them inside [[NoForkLocalFileSystem.SinkWriteOptions]], the engine's
    * one sink encoding (zstd, no dictionary on `text`, `ts`, `event_ts`),
    * which wins over the session's parquet codec.
    */
  def write(assigned: DataFrame, outDir: String): Unit = {
    stripMeta(assigned)
      .write.options(NoForkLocalFileSystem.SinkWriteOptions).mode("overwrite")
      .partitionBy(SinkCol)
      .parquet(outDir)
    installTemplate(stripMeta(assigned), outDir)
  }

  /** The ES transport's index-template install analog
    * (`lc-lib/transports/es/transportes.go:186-252`, `templates.go`): the
    * transport pushes a mapping template describing the event schema
    * before the first bulk write. A table sink's counterpart is a schema
    * manifest written once alongside the data — `_template.json` with the
    * sink column names/types (the "mapping") and the partition pattern
    * (the "index_patterns"). Idempotent overwrite, driver-side, one tiny
    * file — never per-task.
    */
  def installTemplate(df: DataFrame, outDir: String): Unit = {
    val fields = df.schema.fields.filterNot(_.name == SinkCol).map { f =>
      s""""${f.name}":{"type":"${f.dataType.simpleString.replace("\"", "")}"}"""
    }.mkString(",")
    val json =
      s"""{"index_patterns":["$SinkCol=*"],"version":1,"mappings":{"properties":{$fields}}}"""
    // write through the Hadoop filesystem of the OUTPUT path — the data
    // write just went through Spark's path handling, so a URI-style
    // outDir (file://, hdfs://, s3a://) must not make the manifest write
    // fail with a local NoSuchFileException after the data materialized
    val path = new org.apache.hadoop.fs.Path(outDir, "_template.json")
    val conf = new org.apache.hadoop.conf.Configuration(
      df.sparkSession.sparkContext.hadoopConfiguration)
    NoForkLocalFileSystem.WriteOptions.foreach { case (k, v) => conf.set(k, v) }
    val fs = path.getFileSystem(conf)
    val out = fs.create(path, true)
    try out.write(json.getBytes("UTF-8")) finally out.close()
  }

  /** Per-sink aggregates — the north rule's verification surface and the
    * admin-API counter analog (SURVEY.md §2.10): turn counts and byte
    * totals per (sink, role, tool). Partial aggregation (map-side
    * combine) is automatic for hash aggregates.
    */
  def aggregates(assigned: DataFrame): DataFrame =
    assigned.groupBy(col(SinkCol).as("sink"), col("role"), col("tool"))
      .agg(
        count(lit(1)).as("turns"),
        sum(octet_length(col("text"))).as("bytes"))

  /** Coarse per-sink counts. */
  def sinkCounts(assigned: DataFrame): DataFrame =
    assigned.groupBy(col(SinkCol).as("sink"))
      .agg(count(lit(1)).as("turns"), sum(octet_length(col("text"))).as("bytes"))

  /** Doris-transport-shaped projection (`streamloadrequest.go:66-112`):
    * selected fields become real columns, everything else in the dynamic
    * map is folded into one JSON `rest` column.
    */
  def dorisProjection(df: DataFrame, mappedFields: Seq[String],
      restColumn: String = "rest"): DataFrame = {
    val cols = df.columns.filterNot(_ == Envelope.FieldsCol).map(col).toSeq
    // normalize bracket-syntax names ("a[b]" → "a.b") like every other
    // fields-map consumer: pipeline stages STORE keys normalized, so an
    // unnormalized lookup silently yields a null column while the real
    // value hides in the rest JSON
    val keys = mappedFields.map(f => f -> graft.pipeline.Pipeline.normalizePath(f))
    val mapped = keys.map { case (orig, k) =>
      element_at(col(Envelope.FieldsCol), k).as(orig) }
    val rest = to_json(
      map_filter(col(Envelope.FieldsCol),
        (k, _) => !keys.foldLeft(lit(false))((a, kk) => a || k === kk._2))
    ).as(restColumn)
    df.select(cols ++ mapped :+ rest: _*)
  }

  /** ES-transport-shaped index column from a `%{field}`/`%{+date}`
    * pattern (`transportesfactory.go:37` — default `logstash-%{+2006-01-02}`).
    */
  def indexColumn(df: DataFrame, pattern: String): Column =
    EventFns.patternFormat(pattern,
      graft.pipeline.Pipeline.resolve(df), col(Envelope.EventTsCol),
      graft.pipeline.Pipeline.typeOf(df))

  /** Doris `table pattern` (`lc-lib/transports/doris/tablemanager.go:48-92`):
    * the per-event table name uses the same `%{field}`/`%{+date}`
    * mechanism as the ES index pattern.
    */
  def dorisTableColumn(df: DataFrame, pattern: String): Column =
    indexColumn(df, pattern)

  /** Doris day-partition retention (`tablemanager.go:217-275`): the table
    * manager drops day partitions older than `retention`. The batch-engine
    * analog is a partition-pruning filter — keep events whose day is
    * within `retentionDays` of `now`'s day.
    */
  def retentionFilter(ts: Column, retentionDays: Int, now: Column): Column =
    // >= : Doris dynamic_partition.start=-N deletes partitions whose
    // range ends BEFORE today-N, i.e. the day exactly N old is KEPT
    // (tablemanager.go:246); a strict > silently discarded that day
    date_trunc("DAY", ts).cast("date") >=
      date_sub(date_trunc("DAY", now).cast("date"), retentionDays)

  /** The Doris tableManager's create-table-with-day-partitions analog
    * (`tablemanager.go:131-215`): one write pass materialising every
    * per-event table (directory) with day partitions inside, retention
    * applied up front. Layout: `outDir/_table=<name>/_day=<yyyy-MM-dd>/`.
    * Carries [[NoForkLocalFileSystem.SinkWriteOptions]] like [[write]].
    */
  def writeDorisTables(df: DataFrame, tablePattern: String, tsCol: Column,
      retentionDays: Int, now: Column, outDir: String): Unit =
    stripMeta(df)
      .filter(retentionFilter(tsCol, retentionDays, now))
      .withColumn("_table", dorisTableColumn(df, tablePattern))
      .withColumn("_day", date_format(tsCol, "yyyy-MM-dd"))
      .write.options(NoForkLocalFileSystem.SinkWriteOptions).mode("overwrite")
      .partitionBy("_table", "_day")
      .parquet(outDir)
}
