package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.cel.Cel
import graft.functions.EventFns

/** Round-3 driver queries: the ext.Strings CEL surface and the
  * RFC3339Nano timestamp path, both under the DuckDB oracle gate.
  */
object QueriesR3 {

  // ---------------------------------------------------------------
  // ext.Strings CEL methods compiled to Columns (cel.go:40-44) — every
  // derived value recomputed independently by the oracle. All are
  // functions of event_type, so the group-by cardinality is the distinct
  // event_type count regardless of scale.
  // ---------------------------------------------------------------
  def qCelStrings(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val cel = (src: String) => Cel.compile(src, p => ev(p))
    ev.select(
        cel("event.event_type.upperAscii()").as("up"),
        cel("event.event_type.substring(0, 2)").as("pre"),
        cel("event.event_type.charAt(1)").as("ca"),
        cel("event.event_type.indexOf(\"e\")").as("ie"),
        cel("event.event_type.lastIndexOf(\"e\")").as("le"),
        cel("size(event.event_type.split(\"i\"))").cast("long").as("nsplit"),
        cel("size((\"  \" + event.event_type + \" \").trim())").cast("long").as("tlen"),
        // %b = Go binary with sign (r5); *37-150 makes both signs appear
        cel("\"b=%b\".format([size(event.event_type.trim()) * 37 - 150])").as("fb"))
      .groupBy("up", "pre", "ca", "ie", "le", "nsplit", "tlen", "fb")
      .agg(count(lit(1)).as("n"))
      .orderBy("up")
  }
  val qCelStringsSql: String =
    """SELECT upper(event_type) AS up,
      |  substring(event_type, 1, 2) AS pre,
      |  substring(event_type, 2, 1) AS ca,
      |  CAST(CASE WHEN strpos(event_type, 'e') = 0 THEN -1
      |            ELSE strpos(event_type, 'e') - 1 END AS BIGINT) AS ie,
      |  CAST(CASE WHEN strpos(reverse(event_type), 'e') = 0 THEN -1
      |            ELSE len(event_type) - strpos(reverse(event_type), 'e') END AS BIGINT) AS le,
      |  CAST(len(string_split(event_type, 'i')) AS BIGINT) AS nsplit,
      |  CAST(len(event_type) AS BIGINT) AS tlen,
      |  'b=' || CASE WHEN len(event_type) * 37 - 150 < 0
      |    THEN '-' || bin(-(CAST(len(event_type) AS BIGINT) * 37 - 150))
      |    ELSE bin(CAST(len(event_type) AS BIGINT) * 37 - 150) END AS fb,
      |  count(*) AS n
      |FROM events GROUP BY 1, 2, 3, 4, 5, 6, 7, 8 ORDER BY up""".stripMargin

  // ---------------------------------------------------------------
  // RFC3339Nano ingestion (timestamp.go:34-46): 9-digit-fraction strings
  // parse without a failure tag, truncated to microsecond precision.
  // Raw strings derived deterministically from ts so the oracle can
  // reconstruct the exact same inputs.
  // ---------------------------------------------------------------
  def qNanoTs(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val raw = concat(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss"),
      lit(".123456789Z"))
    val (ts2, failed) = EventFns.normalizeTimestamp(raw, lit(null).cast("timestamp"))
    ev.select(col("event_id"), ts2.as("event_ts"), failed.as("failed"))
      .orderBy("event_id")
  }
  val qNanoTsSql: String =
    """SELECT event_id,
      |  date_trunc('second', ts) + INTERVAL 123456 MICROSECONDS AS event_ts,
      |  FALSE AS failed
      |FROM events ORDER BY event_id""".stripMargin
}
