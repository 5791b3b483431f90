package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.codec.{Multiline, MultilineConfig}
import graft.enrich.{Ecs, EcsConfig, GeoIp, GeoRecord}
import graft.functions.{EventFns, UserAgentParse}
import graft.route.Router

/** Round-2 operator queries: ECS envelope mode, real user_agent
  * decomposition, geo-shaped geoip enrich, batch multiline `previous
  * timeout`, Doris table pattern + retention.
  */
object QueriesR2 {

  // ---------------------------------------------------------------
  // ECS envelope (`enable ecs`, stream.go:35-45 + docs/Events.md:16-45):
  // nested host.name / event.timezone / log.file.path / log.offset
  // ---------------------------------------------------------------
  def qEcsEnvelope(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val decorated = Ecs.decorate(ev,
      EcsConfig(addHostField = true, addTimezoneField = true, enableEcs = true),
      host = concat(lit("node-"), (col("user_id") % 4).cast("string")),
      timezone = lit("+0000 UTC"),
      timezoneName = lit("UTC"),
      path = concat(lit("/var/log/app-"), col("event_type"), lit(".log")),
      offset = col("event_id"))
    decorated
      .groupBy(
        col("host.name").as("host_name"),
        col("log.file.path").as("log_path"),
        col("event.timezone").as("event_timezone"))
      .agg(count(lit(1)).as("n"), max(col("log.offset")).as("max_offset"))
      .orderBy("host_name", "log_path")
  }
  val qEcsEnvelopeSql: String =
    """SELECT 'node-' || (user_id % 4) AS host_name,
      |  '/var/log/app-' || event_type || '.log' AS log_path,
      |  '+0000 UTC' AS event_timezone,
      |  count(*) AS n, CAST(max(event_id) AS BIGINT) AS max_offset
      |FROM events GROUP BY 1, 2, 3 ORDER BY host_name, log_path""".stripMargin

  // ---------------------------------------------------------------
  // user_agent decomposition (actionuseragent.go:50-112, uap-core
  // semantics): five canonical UA strings cross-checked field by field
  // against the oracle's expected values
  // ---------------------------------------------------------------
  private val UaStrings = Seq(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 (KHTML, like Gecko) Chrome/120.0.6099.109 Safari/537.36",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_1 like Mac OS X) AppleWebKit/605.1.15 (KHTML, like Gecko) Version/17.1 Mobile/15E148 Safari/604.1",
    "Mozilla/5.0 (X11; Linux x86_64; rv:121.0) Gecko/20100101 Firefox/121.0",
    "curl/8.5.0",
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)")

  def qUserAgent(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val uaStr = element_at(array(UaStrings.map(lit): _*),
      (col("event_id") % 5 + 1).cast("int"))
    // parsed once: bound as a column, read by the eight field lookups
    val ua = col("ua")
    ev.select(UserAgentParse(uaStr).as("ua"))
      .select(
        ua.getField("name").as("ua_name"),
        concat_ws(".", ua.getField("major"), ua.getField("minor"), ua.getField("patch")).as("ua_version"),
        ua.getField("os_family").as("os_family"),
        concat_ws(".", ua.getField("os_major"), ua.getField("os_minor")).as("os_version"),
        ua.getField("device").as("device"))
      .groupBy("ua_name", "ua_version", "os_family", "os_version", "device")
      .agg(count(lit(1)).as("n"))
      .orderBy("ua_name")
  }
  val qUserAgentSql: String =
    """SELECT
      |  CASE event_id % 5 WHEN 0 THEN 'Chrome' WHEN 1 THEN 'Mobile Safari'
      |    WHEN 2 THEN 'Firefox' WHEN 3 THEN 'curl' ELSE 'Googlebot' END AS ua_name,
      |  CASE event_id % 5 WHEN 0 THEN '120.0.6099' WHEN 1 THEN '17.1'
      |    WHEN 2 THEN '121.0' WHEN 3 THEN '8.5.0' ELSE '2.1' END AS ua_version,
      |  CASE event_id % 5 WHEN 0 THEN 'Windows' WHEN 1 THEN 'iOS'
      |    WHEN 2 THEN 'Linux' ELSE 'Other' END AS os_family,
      |  CASE event_id % 5 WHEN 0 THEN '10' WHEN 1 THEN '17.1' ELSE '' END AS os_version,
      |  CASE event_id % 5 WHEN 1 THEN 'iPhone' WHEN 4 THEN 'Spider' ELSE 'Other' END AS device,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2, 3, 4, 5 ORDER BY ua_name""".stripMargin

  // ---------------------------------------------------------------
  // geoip enrich (actiongeoip.go:88-213): broadcast geo lookup → struct
  // at source[geo]; invalid IP → failure tag; unknown IP → ignored
  // ---------------------------------------------------------------
  val GeoFixture: Seq[GeoRecord] = Seq(
    GeoRecord("198.51.100.10", "Avonbridge", "Europe", "GB", "United Kingdom",
      -3.615, 55.95, "EH49", "Europe/London", "SCT", "Scotland"),
    GeoRecord("203.0.113.7", "Kagoshima", "Asia", "JP", "Japan",
      130.5571, 31.5602, "890-0053", "Asia/Tokyo", "46", "Kagoshima"))

  def qGeoipEnrich(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .withColumn("tags", array().cast("array<string>"))
    val ip = element_at(
      array(lit("198.51.100.10"), lit("203.0.113.7"), lit("192.0.2.55"), lit("999.1.1.1")),
      (col("user_id") % 4 + 1).cast("int"))
    val enriched = GeoIp.enrich(ev, ip, GeoIp.lookupFrame(spark, GeoFixture))
    enriched.select(
        coalesce(col("source.geo.city_name"), lit("")).as("city"),
        coalesce(col("source.geo.country_iso_code"), lit("")).as("country"),
        coalesce(col("source.geo.timezone"), lit("")).as("tz"),
        coalesce(round(col("source.geo.latitude") * 10000).cast("long"), lit(-1L)).as("lat_e4"),
        array_join(col("tags"), ",").as("tags"))
      .groupBy("city", "country", "tz", "lat_e4", "tags")
      .agg(count(lit(1)).as("n"))
      .orderBy("city", "tags")
  }
  val qGeoipEnrichSql: String =
    """SELECT
      |  CASE user_id % 4 WHEN 0 THEN 'Avonbridge' WHEN 1 THEN 'Kagoshima' ELSE '' END AS city,
      |  CASE user_id % 4 WHEN 0 THEN 'GB' WHEN 1 THEN 'JP' ELSE '' END AS country,
      |  CASE user_id % 4 WHEN 0 THEN 'Europe/London' WHEN 1 THEN 'Asia/Tokyo' ELSE '' END AS tz,
      |  CASE user_id % 4 WHEN 0 THEN CAST(round(55.95 * 10000) AS BIGINT)
      |    WHEN 1 THEN CAST(round(31.5602 * 10000) AS BIGINT) ELSE -1 END AS lat_e4,
      |  CASE user_id % 4 WHEN 3 THEN '_geoip_failure' ELSE '' END AS tags,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2, 3, 4, 5 ORDER BY city, tags""".stripMargin

  // ---------------------------------------------------------------
  // multiline `previous timeout` (multiline.go:281-319): an event-time
  // gap > 1 day is a flush boundary in addition to the pattern boundary
  // ---------------------------------------------------------------
  val MultilineGapSec = 86400.0
  def qMultilineTimeout(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("user_id").cast("string").as("conv_id"),
        col("event_id").as("turn_idx"),
        col("event_type").as("text"), col("ts"))
    Multiline.sessionize(ev,
        MultilineConfig(Seq("!^error"), previousTimeout = Some(MultilineGapSec)))
      .select(col("conv_id").cast("long").as("user_id"),
        col("first_turn_idx"), col("n_lines").cast("long").as("n_lines"), col("text"))
      .orderBy("user_id", "first_turn_idx")
  }
  val qMultilineTimeoutSql: String =
    """WITH flagged AS (
      |  SELECT user_id, event_id, event_type, ts,
      |    CASE WHEN regexp_matches(event_type, '^error')
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY event_id))
      |         > 86400000000
      |    THEN 1 ELSE 0 END AS boundary
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
  // Salted two-stage aggregation (north rule skew machinery): identical
  // result to a plain groupBy, but the first shuffle spreads every hot
  // key over 16 reducer partitions — the shape that survives a conv_id
  // owning 30% of a 100 TB table
  // ---------------------------------------------------------------
  def qSkewSaltedAgg(spark: SparkSession, dir: String): DataFrame =
    graft.route.Skew.saltedCounts(tbl(spark, dir, "events"),
        key = "user_id", byteCol = "props", salts = 16)
      .select(col("user_id"), col("turns"), col("bytes"))
      .orderBy("user_id")
  val qSkewSaltedAggSql: String =
    """SELECT user_id, CAST(count(*) AS BIGINT) AS turns,
      |  CAST(sum(octet_length(CAST(props AS BLOB))) AS BIGINT) AS bytes
      |FROM events GROUP BY 1 ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------
  // Codec meters (filter.go:108-117, multiline.go:268-279):
  // filtered_lines of a filter codec and pending_lines of a multiline
  // codec over the same events stream, one row each, unioned
  // ---------------------------------------------------------------
  def qCodecMeters(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val filter = graft.codec.CodecMeters
      .filterMeter(ev, Seq("!^error"), textCol = "event_type")
      .select(lit("filter").as("codec"),
        col("kept_lines"), col("filtered_lines"), lit(-1L).as("pending_lines"))
    val lines = ev.select(col("user_id").cast("string").as("conv_id"),
      col("event_id").as("turn_idx"), col("event_type").as("text"))
    val pending = graft.codec.CodecMeters
      .multilinePending(lines, graft.codec.MultilineConfig(Seq("!^error")))
      .select(lit("multiline").as("codec"),
        lit(-1L).as("kept_lines"), lit(-1L).as("filtered_lines"), col("pending_lines"))
    filter.unionByName(pending).orderBy("codec")
  }
  val qCodecMetersSql: String =
    """WITH flagged AS (
      |  SELECT user_id,
      |    sum(CASE WHEN regexp_matches(event_type, '^error') THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
      |  FROM events),
      |lastg AS (SELECT user_id, max(grp) AS mg FROM flagged GROUP BY 1),
      |pending AS (SELECT count(*) AS p FROM flagged JOIN lastg USING (user_id)
      |  WHERE grp = mg)
      |SELECT 'filter' AS codec,
      |  CAST(sum(CASE WHEN NOT regexp_matches(event_type, '^error') THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines,
      |  CAST(sum(CASE WHEN regexp_matches(event_type, '^error') THEN 1 ELSE 0 END) AS BIGINT) AS filtered_lines,
      |  CAST(-1 AS BIGINT) AS pending_lines
      |FROM events
      |UNION ALL
      |SELECT 'multiline', CAST(-1 AS BIGINT), CAST(-1 AS BIGINT),
      |  CAST((SELECT p FROM pending) AS BIGINT)
      |ORDER BY codec""".stripMargin

  // ---------------------------------------------------------------
  // unset_field action (actionfield.go:77-82): kv-parse then unset one
  // extracted field; prove presence before, absence after
  // ---------------------------------------------------------------
  def qUnsetField(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("event_id").as("turn_idx"),
        lit("c").as("conv_id"), lit("user").as("role"),
        concat(lit("type="), col("event_type"),
          lit(" user="), col("user_id").cast("string")).as("text"),
        lit("none").as("tool"), col("ts").cast("timestamp").as("ts"))
    import graft.pipeline._
    val out = Pipeline(ev, Seq(
      KvStage("text"),
      UnsetFieldStage("user")))
    out.select(
        element_at(col(graft.model.Envelope.FieldsCol), "type").as("kv_type"),
        map_contains_key(col(graft.model.Envelope.FieldsCol), "user").as("has_user"))
      .groupBy("kv_type", "has_user").agg(count(lit(1)).as("n"))
      .orderBy("kv_type")
  }
  val qUnsetFieldSql: String =
    """SELECT event_type AS kv_type, false AS has_user, count(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY kv_type""".stripMargin

  // ---------------------------------------------------------------
  // Doris table pattern + day-partition retention
  // (tablemanager.go:48-92, 217-275): per-event table name via the
  // %{field}/%{+date} mechanism; 14-day retention from the batch's
  // newest event
  // ---------------------------------------------------------------
  val RetentionDays = 14
  def qDorisTable(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val tableName = EventFns.patternFormat("logs_%{event_type}_%{+2006.01.02}",
      n => ev(n), col("ts"))
    val nowDf = ev.agg(max(col("ts")).as("_now"))
    ev.crossJoin(broadcast(nowDf))
      .filter(Router.retentionFilter(col("ts"), RetentionDays, col("_now")))
      .select(tableName.as("table_name"))
      .groupBy("table_name").agg(count(lit(1)).as("n"))
      .orderBy("table_name")
  }
  val qDorisTableSql: String =
    s"""SELECT 'logs_' || event_type || '_' || strftime(ts, '%Y.%m.%d') AS table_name,
       |  count(*) AS n
       |FROM events
       |WHERE date_trunc('day', ts) >= date_trunc('day', (SELECT max(ts) FROM events))
       |  - INTERVAL $RetentionDays DAY
       |GROUP BY 1 ORDER BY table_name""".stripMargin
}
