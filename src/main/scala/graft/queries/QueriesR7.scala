package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal

/** Round-7 driver queries. */
object QueriesR7 {

  /** REAL image decode, driver-verified: `Multimodal.imageTable`
    * synthesises a grayscale PNG per document whose pixels are pure
    * arithmetic in `doc_id` (`(31·id + y·W + x) mod 256`, `W = 16 +
    * id%8`, `H = 12 + id%5`), `resizeDecoded` decodes with
    * `javax.imageio` and nearest-neighbor-resamples to 8×6, and the
    * output row carries the decoder-reported codec + source dimensions
    * plus a position-weighted pixel sum of the thumbnail. The oracle
    * recomputes every resized pixel arithmetically — PNG is lossless, so
    * any decoder deviation (wrong pixels, wrong dims, fallback to the
    * stub) breaks the hash.
    */
  def qMultimodalDecode(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Multimodal.resizeDecoded(Multimodal.imageTable(spark, dir), 8, 6)
      .select("media_id", "codec", "src_w", "src_h", "payload")
      .as[(Long, String, Int, Int, Array[Byte])]
      .map { case (id, codec, w, h, p) =>
        var s = 0L
        var k = 0
        while (k < p.length) { s += (p(k) & 0xff).toLong * (k + 1); k += 1 }
        (id, codec, w.toLong, h.toLong, s)
      }
      .toDF("media_id", "codec", "src_w", "src_h", "pix_sum")
      .orderBy("media_id")
  }

  /** As-of (point-in-time) join, driver-verified: every event is
    * enriched with the user's latest PRECEDING signup event — the
    * dimension state that was current when the event happened, a lookup
    * an equi-join cannot express. The engine runs the union + one-window
    * shape ([[graft.operators.AsOfJoin]] — a single shuffle, no
    * candidate pairs); the oracle is DuckDB's native ASOF LEFT JOIN, an
    * independently-implemented point-in-time semantics — agreement
    * pins the inclusive tie rule and the no-preceding-match NULLs.
    */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val dims = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts"),
        col("event_id").as("signup_id"), col("value").as("signup_value"))
    graft.operators.AsOfJoin.asOf(
        ev.select("event_id", "user_id", "ts", "event_type"), dims,
        key = "user_id", tsCol = "ts")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("signup_id"), col("signup_value"))
      .orderBy("event_id")
  }

  val qAsofJoinSql: String =
    """SELECT e.event_id, e.user_id, e.event_type,
      |  d.event_id AS signup_id, d.value AS signup_value
      |FROM events e ASOF LEFT JOIN
      |  (SELECT user_id, ts, event_id, value FROM events
      |   WHERE event_type = 'signup') d
      |  ON e.user_id = d.user_id AND e.ts >= d.ts
      |ORDER BY e.event_id""".stripMargin

  /** Range (point-in-interval) join, driver-verified: every event is
    * matched to the same user's 6-hour post-signup windows containing
    * it. The engine runs the bucketized equi-join
    * ([[graft.operators.RangeJoin]] — intervals explode into the
    * bucket-width chunks they cover, the join is a plain `(key, chunk)`
    * equi-join refined by the exact range predicate; never a
    * nested-loop); the oracle is DuckDB's plain inequality join —
    * agreement proves the chunking neither drops nor duplicates a
    * single boundary pair (half-open `[start, end)`).
    */
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val windows = ev.filter(col("event_type") === "signup")
      .select(col("user_id"), col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("w_end"),
        col("event_id").as("window_id"))
    graft.operators.RangeJoin.pointInInterval(
        ev.select("event_id", "user_id", "ts", "event_type"), windows,
        key = "user_id", tsCol = "ts", startCol = "w_start", endCol = "w_end",
        bucketSeconds = 21600)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("window_id"))
      .orderBy("event_id", "window_id")
  }

  val qRangeJoinSql: String =
    """SELECT e.event_id, e.user_id, e.event_type, w.window_id
      |FROM events e JOIN
      |  (SELECT user_id, ts AS w_start, ts + INTERVAL 6 HOUR AS w_end,
      |          event_id AS window_id
      |   FROM events WHERE event_type = 'signup') w
      |ON e.user_id = w.user_id AND e.ts >= w.w_start AND e.ts < w.w_end
      |ORDER BY e.event_id, w.window_id""".stripMargin

  /** Gap-based sessionization, driver-verified: per-user sessions close
    * after 30 idle minutes. The engine uses Spark's NATIVE
    * `session_window` aggregate (one shuffle on the key, merging
    * windows map-side — and the SAME expression runs under Structured
    * Streaming with a watermark, which a hand-rolled lag/cumsum window
    * does not); the oracle replays the classic batch spelling — lag →
    * boundary flag at gap >= 30 min → running sum → group — so the two
    * independent formulations must agree on every boundary, including
    * the convention that a gap of EXACTLY the timeout starts a new
    * session (session_window's end bound is exclusive).
    */
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    ev.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")
  }

  val qSessionizeSql: String =
    """WITH o AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
      |         THEN 1 ELSE 0 END AS brk
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
      |s AS (
      |  SELECT user_id, ts,
      |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
      |  FROM o)
      |SELECT user_id, min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM s GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  /** STREAMING sessionization, driver-verified: the same
    * `session_window` aggregation as [[qSessionize]] run as a REAL
    * Structured-Streaming job — time-range-partitioned source files,
    * maxFilesPerTrigger-bounded micro-batches, a 30-minute watermark,
    * append mode (sessions emit only once the watermark proves them
    * closed). A far-future sentinel event per user pushes the final
    * watermark past every real session, so the committed output is the
    * COMPLETE closed-session set; the sentinel sessions are then
    * dropped by their timestamp and the batch SQL oracle must match
    * exactly — micro-batch boundaries cannot change a session, or the
    * hash breaks.
    */
  def qStreamSessions(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("user_id"), col("ts").cast("timestamp").as("ts"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0) // bounded: one scalar
    val cutoff = new java.sql.Timestamp(maxTs.getTime + 24L * 3600 * 1000)
    val sentinels = ev.select(col("user_id")).distinct()
      .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)))
    // range-partitioned by ts so file order == time order: no event is
    // late beyond the watermark when micro-batches consume files in
    // order (the sentinel lands in the last file by construction)
    graft.streaming.StreamingPipeline.replay(spark, "graft_stream_sessions",
        ev.unionByName(sentinels).repartitionByRange(4, col("ts"))) { read =>
      read()
        .withWatermark("ts", "30 minutes")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"))
    }
      .filter(col("session_start") < lit(cutoff)) // drop the sentinel sessions
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"))
      .orderBy("user_id", "session_start")
  }

  /** Same replay as [[qSessionizeSql]] — the streaming run must agree
    * with the batch spelling session for session.
    */
  val qStreamSessionsSql: String = qSessionizeSql

  /** Count-Min heavy hitters, driver-verified: one corpus scan folds
    * every ASCII word into the 4×1024 sketch
    * ([[graft.sketch.CountMin]] — constant state per partition, d·w-long
    * shuffle), the collected lattice rides the estimate expression as
    * plan state, and the output ranks the top-40 true terms with BOTH
    * the exact count and the sketch estimate. The oracle re-derives the
    * identical lattice in SQL (the hash family is integer mod-P
    * arithmetic by design), so every estimate — collisions included —
    * must match bit-for-bit, and `n_est >= n_true` (the CMS one-sided
    * error) is visible in the output. The exact-count side is the
    * verification harness; at 100 TB the sketch alone answers
    * frequency queries without the per-term shuffle.
    */
  def qCmsHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    val D = 4; val W = 1024
    val docs = tbl(spark, dir, "documents")
    val words = docs
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$")) // ASCII-only: byte fold == codepoint fold
    // bounded collect: the sketch is d·w = 4096 longs BY CONSTRUCTION
    val sk = words.agg(graft.sketch.CountMin.sketch(col("w"), D, W))
      .head.getSeq[Long](0).toArray
    val counts = words.groupBy("w").agg(count(lit(1)).as("n_true"))
    val wnd = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_true").desc, col("w"))
    counts.withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= 40)
      .select(col("rank"), col("w").as("term"), col("n_true"),
        graft.sketch.CountMin.estimate(col("w"), sk, D, W).as("n_est"))
      .orderBy("rank")
  }

  val qCmsHeavyHittersSql: String =
    """WITH words AS (
      |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w FROM documents),
      |terms AS (
      |  SELECT w, count(*) AS n_true FROM words
      |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
      |hashed AS (
      |  SELECT w, n_true,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(range(1, len(w) + 1),
      |        i -> CAST(unicode(w[CAST(i AS INT)]) AS BIGINT))),
      |      (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      |  FROM terms),
      |lattice AS (
      |  SELECT i.i AS row_i,
      |    ((h * (131 * i.i + 17) + (977 * i.i + 3)) % 1000000007) % 1024 AS col_b,
      |    CAST(SUM(n_true) AS BIGINT) AS cnt
      |  FROM hashed CROSS JOIN range(4) i(i)
      |  GROUP BY 1, 2),
      |est AS (
      |  SELECT t.w, t.n_true, CAST(MIN(l.cnt) AS BIGINT) AS n_est
      |  FROM hashed t CROSS JOIN range(4) i(i)
      |  JOIN lattice l ON l.row_i = i.i AND l.col_b =
      |    ((t.h * (131 * i.i + 17) + (977 * i.i + 3)) % 1000000007) % 1024
      |  GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY n_true DESC, w) AS rank FROM est)
      |SELECT rank, w AS term, CAST(n_true AS BIGINT) AS n_true, n_est
      |FROM ranked WHERE rank <= 40 ORDER BY rank""".stripMargin

  /** HyperLogLog distinct-count sketch, driver-verified: the corpus's
    * ASCII words fold into 256 registers
    * ([[graft.sketch.HyperLogLog]] — 256 BYTES of state at any
    * cardinality, element-wise-max merge so two corpora's sketches
    * combine to the union's). The output is the full register lattice
    * (j, r) — pure integers — and the oracle re-derives every register
    * in SQL: the same mod-P hash family as the Count-Min oracle plus
    * rank via `len(bin(v))` (integer bit-length, exact in both
    * engines). The float estimate is a Scala helper over the verified
    * registers, accuracy-checked in HyperLogLogSpec.
    */
  def qHllDistinct(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val words = docs
      .select(explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$")) // ASCII-only: byte fold == codepoint fold
    words.agg(graft.sketch.HyperLogLog.sketch(col("w"), 8).as("regs"))
      .select(posexplode(col("regs")).as(Seq("j", "r")))
      .select(col("j").cast("long").as("j"), col("r"))
      .orderBy("j")
  }

  val qHllDistinctSql: String =
    """WITH words AS (
      |  SELECT unnest(string_split(coalesce(text, ''), ' ')) AS w FROM documents),
      |terms AS (
      |  SELECT DISTINCT w FROM words WHERE regexp_matches(w, '^[a-z]+$')),
      |hashed AS (
      |  SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, len(w) + 1),
      |      i -> CAST(unicode(w[CAST(i AS INT)]) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      |  FROM terms),
      |mx1 AS (
      |  SELECT ((h + 2000016) % 1000000007) AS xa1,
      |         ((h + 3000049) % 1000000007) AS xa2 FROM hashed),
      |mx2 AS (
      |  SELECT ((xa1 * xa1 + 204) % 1000000007) AS xb1,
      |         ((xa2 * xa2 + 305) % 1000000007) AS xb2 FROM mx1),
      |br AS (
      |  SELECT ((xb1 * xb1 + xb1 + 7919) % 1000000007) % 256 AS j,
      |         ((xb2 * xb2 + xb2 + 15838) % 1000000007) AS v
      |  FROM mx2),
      |ranks AS (
      |  SELECT j, CASE WHEN v = 0 THEN 31
      |                 ELSE 31 - len(bin(v)) END AS r FROM br),
      |regs AS (SELECT j, MAX(r) AS r FROM ranks GROUP BY j)
      |SELECT CAST(i.i AS BIGINT) AS j,
      |  CAST(coalesce(regs.r, 0) AS INT) AS r
      |FROM range(256) i(i) LEFT JOIN regs ON regs.j = i.i
      |ORDER BY j""".stripMargin

  /** The arithmetic replay: resized pixel k (x = k mod 8, y = k div 8)
    * reads source pixel (x·W div 8, y·H div 6) of the generated image.
    */
  val qMultimodalDecodeSql: String =
    """WITH px AS (
      |  SELECT doc_id, k,
      |    (31 * doc_id
      |      + ((k // 8) * (12 + doc_id % 5) // 6) * (16 + doc_id % 8)
      |      + ((k % 8) * (16 + doc_id % 8) // 8)) % 256 AS v
      |  FROM documents, unnest(range(0, 48)) AS t(k)
      |)
      |SELECT doc_id AS media_id, 'imageio:png' AS codec,
      |  CAST(16 + doc_id % 8 AS BIGINT) AS src_w,
      |  CAST(12 + doc_id % 5 AS BIGINT) AS src_h,
      |  CAST(SUM(v * (k + 1)) AS BIGINT) AS pix_sum
      |FROM px GROUP BY doc_id ORDER BY media_id""".stripMargin
}
