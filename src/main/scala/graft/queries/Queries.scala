package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.codec.{FilterCodec, Multiline, MultilineConfig}
import graft.cel.Cel
import graft.enrich.Enrich
import graft.functions.{EventFns, JsonFlatten, KvParse}
import graft.grok.{Grok, GrokExtract}

/** Driver-verified operator queries (SURVEY.md §2 coverage): each runs an
  * engine operator over the shared parquet tables and has an ANSI-SQL
  * DuckDB oracle in [[graft.SparkEntry.oracleSql]]. Column names and
  * orderings match the oracle exactly (the driver hash-compares after
  * sorting columns by name).
  *
  * Numeric practice for byte-exact parity: counts and integer sums only,
  * or double division/rounding applied to identical operands on both
  * sides; decimal-exact sums cast to double at the end.
  */
object Queries {

  // ---------------------------------------------------------------
  // §2.2 C2 — filter codec (PatternCollection: negate, any/all)
  // ---------------------------------------------------------------
  def qFilterCodec(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    // keep docs mentioning spark-join chatter but NOT 'slow' (negated)
    docs.filter(FilterCodec.keep(col("text"), Seq("spark.*join", "!slow"), "all"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .orderBy("lang")
  }
  val qFilterCodecSql: String =
    """SELECT lang, count(*) AS n_docs FROM documents
      |WHERE regexp_matches(text, 'spark.*join') AND NOT regexp_matches(text, 'slow')
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // §2.4 A1 + §2.5 — grok extraction (typed captures, single regex pass)
  // ---------------------------------------------------------------
  /** Synthesises an nginx-style access line from `events` columns, then
    * grok-parses it back with the canonical pipeline pattern. The oracle
    * re-extracts with the same compiled regex (named groups stripped for
    * DuckDB's RE2) — proving the grok compiler's regex against a second
    * engine.
    */
  def qGrokNginx(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val line = concat(
      lit("10.0."), (col("user_id") % 256).cast("string"), lit("."),
      (col("event_id") % 254 + 1).cast("string"),
      lit(" - frank ["), date_format(col("ts"), "dd/MMM/yyyy:HH:mm:ss Z"), lit("] "),
      lit("\"GET /api/v"), (col("event_id") % 3).cast("string"), lit("/items HTTP/1.1\" "),
      when(col("event_type") === "error", 500).otherwise(200).cast("string"),
      lit(" "), (col("event_id") % 10000).cast("string"),
      // integer-built decimal string avoids printf tie-rounding skew
      lit(" \"-\" \"curl/8.0\" "), (col("event_id") % 10).cast("string"),
      lit("."), lpad((col("user_id") % 1000).cast("string"), 3, "0")
    )
    val gx = GrokExtract(line, Grok.NginxAccess)
    ev.select(col("event_id"), gx.as("gx"))
      .select(
        col("event_id"),
        col("gx.client").as("client"),
        col("gx.timestamp").as("http_ts"),
        col("gx.response").as("response"),
        col("gx.bytes").as("bytes"),
        col("gx.requesttime").as("requesttime"))
      .orderBy("event_id")
  }
  def qGrokNginxSql: String = {
    // the same compiled regex, named groups → plain groups for RE2
    val re = Grok.default.compile(Grok.NginxAccess).regex
      .replaceAll("\\(\\?<g[0-9]+>", "(")
    val reSql = re.replace("'", "''") // plain-quoted: DuckDB keeps backslashes
    s"""WITH lines AS (
       |  SELECT event_id,
       |    '10.0.' || (user_id % 256) || '.' || (event_id % 254 + 1) ||
       |    ' - frank [' || strftime(ts, '%d/%b/%Y:%H:%M:%S') || ' +0000] ' ||
       |    '"GET /api/v' || (event_id % 3) || '/items HTTP/1.1" ' ||
       |    (CASE WHEN event_type = 'error' THEN 500 ELSE 200 END) || ' ' ||
       |    (event_id % 10000) || ' "-" "curl/8.0" ' ||
       |    (event_id % 10) || '.' || lpad(CAST(user_id % 1000 AS VARCHAR), 3, '0') AS line
       |  FROM events)
       |SELECT event_id,
       |  m.g0 AS client,
       |  m.g2 AS http_ts,
       |  CAST(m.g6 AS BIGINT) AS response,
       |  CAST(m.g7 AS BIGINT) AS bytes,
       |  CAST(m.g10 AS DOUBLE) AS requesttime
       |FROM (SELECT event_id, regexp_extract(line, '$reSql',
       |  ['g0','g1','g2','g3','g4','g5','g6','g7','g8','g9','g10']) AS m
       |  FROM lines) ORDER BY event_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // §2.2 C3 — multiline sessionisation (ordered window + group concat)
  // ---------------------------------------------------------------
  /** Events as a per-user ordered stream; `error` lines start a new
    * assembled group (what=previous with pattern `!^error`
    * boundary = non-match).
    */
  def qMultiline(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("user_id").cast("string").as("conv_id"),
        col("event_id").as("turn_idx"),
        col("event_type").as("text"), col("ts"))
    Multiline.sessionize(ev, MultilineConfig(Seq("!^error")))
      .select(col("conv_id").cast("long").as("user_id"),
        col("first_turn_idx"), col("n_lines").cast("long").as("n_lines"), col("text"))
      .orderBy("user_id", "first_turn_idx")
  }
  val qMultilineSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN regexp_matches(event_type, '^error') THEN 1 ELSE 0 END AS boundary
      |  FROM events),
      |grouped AS (
      |  SELECT *, sum(boundary) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM flagged)
      |SELECT user_id, min(event_id) AS first_turn_idx, count(*) AS n_lines,
      |  string_agg(event_type, chr(10) ORDER BY event_id) AS text
      |FROM grouped GROUP BY user_id, grp
      |ORDER BY user_id, first_turn_idx""".stripMargin

  // ---------------------------------------------------------------
  // §2.4 A4 — kv parse (quote-aware FSM)
  // ---------------------------------------------------------------
  def qKvParse(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val line = concat(
      lit("type="), col("event_type"),
      lit(" msg=\"cents "), round(col("value") * 100).cast("long").cast("string"), lit("\""),
      lit(" user="), col("user_id").cast("string"))
    // parsed once: bound as a column, read by the three lookups
    ev.select(col("event_id"), KvParse(line).as("kv"))
      .select(
        col("event_id"),
        element_at(col("kv"), "type").as("kv_type"),
        element_at(col("kv"), "msg").as("kv_msg"),
        element_at(col("kv"), "user").as("kv_user"))
      .orderBy("event_id")
  }
  val qKvParseSql: String =
    """SELECT event_id,
      |  event_type AS kv_type,
      |  'cents ' || CAST(CAST(round(value * 100) AS BIGINT) AS VARCHAR) AS kv_msg,
      |  CAST(user_id AS VARCHAR) AS kv_user
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // §2.4 A3 — json action (schema-free top-level merge)
  // ---------------------------------------------------------------
  def qJsonAction(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    ev.select(col("event_type"),
        element_at(JsonFlatten(col("props")), "k").cast("long").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"))
      .orderBy("event_type")
  }
  val qJsonActionSql: String =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // §2.4 A2 — date action (Go layouts, first-successful)
  // ---------------------------------------------------------------
  def qDateParse(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    // render shipdate as an http-date string, parse back via Go layouts
    val s = date_format(col("l_shipdate"), "dd/MMM/yyyy:HH:mm:ss Z")
    val parsed = EventFns.dateParse(s, Seq("2006-01-02", "02/Jan/2006:15:04:05 -0700"))
    li.select(date_format(parsed, "yyyy-MM").as("month"))
      .groupBy("month").agg(count(lit(1)).as("n"))
      .orderBy("month")
  }
  val qDateParseSql: String =
    """SELECT strftime(l_shipdate, '%Y-%m') AS month, count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY month""".stripMargin

  // ---------------------------------------------------------------
  // §2.3/§2.11 — tags sorted-set semantics
  // ---------------------------------------------------------------
  def qTags(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    var tags: Column = array().cast("array<string>")
    tags = when(col("event_type") === "error", EventFns.addTag(tags, "err")).otherwise(tags)
    tags = when(col("value") > 100, EventFns.addTag(tags, "big")).otherwise(tags)
    tags = EventFns.addTag(tags, "seen")
    tags = when(col("user_id") % 2 === 0, EventFns.removeTag(tags, "seen")).otherwise(tags)
    ev.select(col("event_id"), array_join(tags, ",").as("tags"))
      .orderBy("event_id")
  }
  val qTagsSql: String =
    """SELECT event_id,
      |  coalesce(array_to_string(list_sort(
      |    (CASE WHEN event_type = 'error' THEN ['err'] ELSE [] END) ||
      |    (CASE WHEN value > 100 THEN ['big'] ELSE [] END) ||
      |    (CASE WHEN user_id % 2 = 0 THEN []::VARCHAR[] ELSE ['seen'] END)), ','), '') AS tags
      |FROM events ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------
  // `%{field}` / `%{+layout}` pattern strings (ES index pattern analog)
  // ---------------------------------------------------------------
  def qPatternFormat(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val idx = EventFns.patternFormat("logs-%{event_type}-%{+2006-01-02}",
      name => ev(name), col("ts"))
    ev.select(idx.as("index_name"))
      .groupBy("index_name").agg(count(lit(1)).as("n"))
      .orderBy("index_name")
  }
  val qPatternFormatSql: String =
    """SELECT 'logs-' || event_type || '-' || strftime(ts, '%Y-%m-%d') AS index_name,
      |  count(*) AS n
      |FROM events GROUP BY 1 ORDER BY index_name""".stripMargin

  // ---------------------------------------------------------------
  // §2.8 R9 — router fan-out (first-match predicates, per-sink counts)
  // ---------------------------------------------------------------
  def qRouter(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val assigned = graft.route.Router.assign(ev, Seq(
      graft.route.Sink("sink_errors", col("event_type") === "error"),
      graft.route.Sink("sink_big", col("value") > 100)
    ), "sink_main")
    assigned.groupBy(col(graft.route.Router.SinkCol).as("sink"))
      .agg(count(lit(1)).as("n"), sum(octet_length(col("props"))).as("bytes"))
      .orderBy("sink")
  }
  val qRouterSql: String =
    """SELECT CASE WHEN event_type = 'error' THEN 'sink_errors'
      |            WHEN value > 100 THEN 'sink_big'
      |            ELSE 'sink_main' END AS sink,
      |  count(*) AS n, CAST(sum(octet_length(CAST(props AS BLOB))) AS BIGINT) AS bytes
      |FROM events GROUP BY 1 ORDER BY sink""".stripMargin

  // ---------------------------------------------------------------
  // §2.3 D1 — broadcast enrich joins
  // ---------------------------------------------------------------
  def qEnrichJoin(spark: SparkSession, dir: String): DataFrame = {
    val cust = tbl(spark, dir, "customer")
    val nat = tbl(spark, dir, "nation")
    val reg = tbl(spark, dir, "region")
    cust
      .join(broadcast(nat), cust("c_nationkey") === nat("n_nationkey"))
      .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name").as("region"))
      .agg(count(lit(1)).as("n_customers"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_acctbal"))
      .orderBy("region")
  }
  val qEnrichJoinSql: String =
    """SELECT r_name AS region, count(*) AS n_customers,
      |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_acctbal
      |FROM customer
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY 1 ORDER BY region""".stripMargin

  // ---------------------------------------------------------------
  // §2.10 — hash aggregate (admin-API counter analog)
  // ---------------------------------------------------------------
  def qAggCounts(spark: SparkSession, dir: String): DataFrame = {
    val li = tbl(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
      .orderBy("l_returnflag", "l_linestatus")
  }
  val qAggCountsSql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------
  // §2.7 B3 — order restoration (sequencer analog): first 3 per user
  // ---------------------------------------------------------------
  def qOrderRestore(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    ev.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"), col("event_type"))
      .orderBy("user_id", "rn")
  }
  val qOrderRestoreSql: String =
    """SELECT user_id, rn, event_id, event_type FROM (
      |  SELECT user_id, event_id, event_type,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
      |  FROM events)
      |WHERE rn <= 3 ORDER BY user_id, rn""".stripMargin

  // ---------------------------------------------------------------
  // §2.1 S3 — max line bytes: truncation + splitline tag
  // (`lc-lib/harvester/linereader.go:76-149`, docs/Events.md:16-25)
  // ---------------------------------------------------------------
  def qMaxLine(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val (truncated, wasTruncated) = EventFns.maxLineBytes(col("text"), 300)
    docs.select(
        col("doc_id"),
        octet_length(truncated).cast("long").as("kept_bytes"),
        wasTruncated.as("split"),
        when(wasTruncated, EventFns.addTag(array().cast("array<string>"), lit("splitline")))
          .otherwise(array().cast("array<string>")).as("tags"))
      .select(col("doc_id"), col("kept_bytes"), col("split"),
        array_join(col("tags"), ",").as("tags"))
      .orderBy("doc_id")
  }
  val qMaxLineSql: String =
    """SELECT doc_id,
      |  octet_length(encode(CASE WHEN octet_length(encode(text)) > 300
      |    THEN substring(text, 1, 300) ELSE text END)) AS kept_bytes,
      |  octet_length(encode(text)) > 300 AS split,
      |  CASE WHEN octet_length(encode(text)) > 300 THEN 'splitline' ELSE '' END AS tags
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // §2.11 — implicit source union (multiple `files` entries /
  // receivers are a source union, prospector.go:147): two differently
  // filtered slices re-united with unionByName, deduplicated
  // ---------------------------------------------------------------
  def qSourceUnion(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val srcA = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), lit("stream_a").as("src"))
    val srcB = ev.filter(col("value") > 150)
      .select(col("user_id"), col("event_id"), lit("stream_b").as("src")) // reordered cols
    srcA.unionByName(srcB)
      .groupBy("event_id").agg(count(lit(1)).as("n_sources"))
      .groupBy("n_sources").agg(count(lit(1)).as("n_events"))
      .orderBy("n_sources")
  }
  val qSourceUnionSql: String =
    """SELECT n_sources, count(*) AS n_events FROM (
      |  SELECT event_id, count(*) AS n_sources FROM (
      |    SELECT event_id FROM events WHERE event_type = 'error'
      |    UNION ALL
      |    SELECT event_id FROM events WHERE value > 150)
      |  GROUP BY 1)
      |GROUP BY 1 ORDER BY n_sources""".stripMargin

  // ---------------------------------------------------------------
  // §2.6 — CEL conditional compiled to Columns
  // ---------------------------------------------------------------
  def qCelPredicate(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val pred = Cel.compile(
      """event.value > 100.0 && event.event_type != "error" || event.props.contains("\"k\": 7")""",
      name => ev(name))
    ev.filter(coalesce(pred, lit(false)))
      .groupBy("event_type").agg(count(lit(1)).as("n"))
      .orderBy("event_type")
  }
  val qCelPredicateSql: String =
    """SELECT event_type, count(*) AS n FROM events
      |WHERE (value > 100.0 AND event_type != 'error') OR contains(props, '"k": 7')
      |GROUP BY 1 ORDER BY event_type""".stripMargin
}
