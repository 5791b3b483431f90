package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions, second batch: OLAP rollup, sliding-window rates,
  * exact percentiles, anomaly flags, inverted-index build, and PMI
  * collocations — the metrics/reporting scale-up of the reference's
  * admin counters (`lc-lib/core/util.go:27-47`) plus two more
  * training-data-pipeline builders.
  */
object QueriesR7b {

  /** Hierarchical (rollup) metrics, driver-verified: one pass produces
    * per-(type, hour) counts, per-type subtotals, and the grand total —
    * Spark's NATIVE `rollup` operator (partial aggregation expands the
    * grouping sets map-side; one shuffle, no per-level rescan — the
    * hand-rolled alternative is L unions of L scans). `grouping_id`
    * disambiguates levels; the oracle is DuckDB's independent
    * `GROUP BY ROLLUP` implementation, so the two engines' subtotal
    * and NULL-marker conventions must agree row for row. Distinct
    * users per level exercises count-distinct under grouping sets
    * (a per-level expand, still one exchange).
    */
  def qRollupMetrics(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    ev.withColumn("hr", expr("unix_micros(cast(ts as timestamp)) div 3600000000"))
      .rollup(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        grouping_id().cast("long").as("lvl"))
      .orderBy(col("event_type").asc_nulls_first, col("hr").asc_nulls_first)
  }

  val qRollupMetricsSql: String =
    """SELECT event_type,
      |  epoch_us(ts) // 3600000000 AS hr,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
      |  CAST(GROUPING(event_type, epoch_us(ts) // 3600000000) AS BIGINT) AS lvl
      |FROM events
      |GROUP BY ROLLUP(event_type, epoch_us(ts) // 3600000000)
      |ORDER BY event_type NULLS FIRST, hr NULLS FIRST""".stripMargin

  /** Sliding-window event rates, driver-verified: per-type counts over
    * 1-hour windows sliding every 30 minutes — Spark's NATIVE
    * `window()` (TimeWindow) operator, which expands each event into
    * exactly the windows containing it as a PROJECTION (no range join,
    * no self-join) and then aggregates with one shuffle. The oracle
    * derives the same window membership arithmetically (the two
    * slide-aligned starts in `(ts − 1 h, ts]`), so Spark's window
    * alignment convention is pinned against integer epoch math.
    */
  def qRateWindows(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    ev.select(col("event_type"), col("ts").cast("timestamp").as("ts"))
      .groupBy(window(col("ts"), "1 hour", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("w.start").cast("long").as("w_start"), col("event_type"),
        col("n_events"))
      .orderBy("w_start", "event_type")
  }

  val qRateWindowsSql: String =
    """WITH slots AS (
      |  SELECT event_type,
      |    (epoch_us(ts) // 1800000000 - k) * 1800 AS w_start
      |  FROM events, unnest(range(0, 2)) AS t(k))
      |SELECT w_start, event_type, CAST(count(*) AS BIGINT) AS n_events
      |FROM slots GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  /** STREAMING tumbling-window rates, driver-verified: the 1-hour
    * per-type counts computed as a REAL Structured-Streaming job —
    * time-range-partitioned source files (file order == time order, so
    * nothing is watermark-late), `maxFilesPerTrigger`-bounded
    * micro-batches, a 30-minute watermark, APPEND mode (a window is
    * emitted exactly once, when the watermark proves it closed). A
    * far-future sentinel per type pushes the final watermark past
    * every real window; sentinel windows are dropped by timestamp and
    * the committed output must equal the one-statement batch oracle —
    * if micro-batch boundaries could split, duplicate, or drop a
    * window, the hash breaks. Streaming state is the open-window
    * accumulators only, bounded by the watermark horizon.
    */
  def qStreamWindows(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("event_type"), col("ts").cast("timestamp").as("ts"))
    val maxTs = ev.agg(max(col("ts"))).head.getTimestamp(0) // bounded: one scalar
    val cutoffSec = (maxTs.getTime + 24L * 3600 * 1000) / 1000
    val sentinels = ev.select(col("event_type")).distinct()
      .withColumn("ts", lit(new java.sql.Timestamp(maxTs.getTime + 48L * 3600 * 1000)))
    // range-partitioned by ts: file order == time order
    graft.streaming.StreamingPipeline.replay(spark, "graft_stream_windows",
        ev.unionByName(sentinels).repartitionByRange(4, col("ts"))) { read =>
      read()
        .withWatermark("ts", "30 minutes")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("w.start").cast("long").as("w_start"), col("event_type"),
          col("n_events"))
    }
      .filter(col("w_start") < cutoffSec) // drop the sentinel windows
      .orderBy("w_start", "event_type")
  }

  val qStreamWindowsSql: String =
    """SELECT (epoch_us(ts) // 3600000000) * 3600 AS w_start, event_type,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM events GROUP BY 1, 2
      |ORDER BY w_start, event_type""".stripMargin

  /** Exact discrete percentiles per event type, driver-verified: p50 /
    * p90 / p99 of the integer `props.k` payload via
    * [[graft.stats.Stats.percentileDisc]] — rank arithmetic only
    * (`(r−1)·100 < p·n ≤ r·100`), one key-partitioned sort, no
    * floating point anywhere. The oracle replays the identical rank
    * spelling in SQL, so the type-1 quantile convention (and the
    * JSON-payload extraction) is pinned cross-engine.
    */
  def qPercentileLatency(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("event_type"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .filter(col("kv").isNotNull)
    graft.stats.Stats.percentileDisc(ev, Seq("event_type"), "kv",
        "event_id", Seq(50, 90, 99))
      .orderBy("event_type", "p")
  }

  val qPercentileLatencySql: String =
    """WITH ev AS (
      |  SELECT event_type, event_id,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS kv
      |  FROM events),
      |r AS (
      |  SELECT event_type, kv,
      |    row_number() OVER (PARTITION BY event_type ORDER BY kv, event_id) AS rk,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      |  FROM ev WHERE kv IS NOT NULL)
      |SELECT event_type, p, n, kv AS v
      |FROM r, unnest([50, 90, 99]) AS t(p)
      |WHERE (rk - 1) * 100 < p * n AND rk * 100 >= p * n
      |ORDER BY event_type, p""".stripMargin

  /** Anomaly flags on hourly event-rate buckets, driver-verified:
    * each (type, hour) count is z-score-tested against its type's
    * bucket population via [[graft.stats.Stats.zscoreFlags]] — the
    * |z| > 2 test spelled as the cross-multiplied BIGINT inequality
    * `(n·x − s)² > 4·(n·ss − s²)`, so the oracle's independent window
    * replay must agree on every flag with zero float tolerance.
    */
  def qZscoreOutliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val counts = ev
      .withColumn("hr", expr("unix_micros(cast(ts as timestamp)) div 3600000000"))
      .groupBy("event_type", "hr").agg(count(lit(1)).as("x"))
    graft.stats.Stats.zscoreFlags(counts, Seq("event_type"), "x", threshold = 2)
      .select("event_type", "hr", "x", "is_outlier")
      .orderBy("event_type", "hr")
  }

  val qZscoreOutliersSql: String =
    """WITH c AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |    CAST(count(*) AS BIGINT) AS x
      |  FROM events GROUP BY 1, 2),
      |m AS (
      |  SELECT event_type, hr, x,
      |    CAST(count(*) OVER w AS BIGINT) AS n,
      |    CAST(sum(x) OVER w AS BIGINT) AS s,
      |    CAST(sum(x * x) OVER w AS BIGINT) AS ss
      |  FROM c WINDOW w AS (PARTITION BY event_type))
      |SELECT event_type, hr, x,
      |  CAST(CASE WHEN (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)
      |       THEN 1 ELSE 0 END AS INT) AS is_outlier
      |FROM m ORDER BY event_type, hr""".stripMargin

  /** Inverted-index build, driver-verified: term → exact document
    * frequency + the first 16 postings, top-100 terms by df
    * ([[graft.index.InvertedIndex]] — postings capped BEFORE the
    * collect so no stop-word materialises an unbounded array). The
    * oracle replays the cap/df/posting-order logic with DuckDB's
    * ordered `string_agg`, pinning that the cap does not bias df and
    * that postings are the doc-id-ascending prefix.
    */
  def qInvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val occ = docs.select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("term"))
      .filter(col("term").rlike("^[a-z]+$"))
    graft.index.InvertedIndex.build(occ, "doc_id", "term",
        postingCap = 16, topTerms = 100)
      .orderBy("rank")
  }

  val qInvertedIndexSql: String =
    """WITH occ AS (
      |  SELECT DISTINCT doc_id, w AS term FROM (
      |    SELECT doc_id, unnest(string_split(coalesce(text, ''), ' ')) AS w
      |    FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$')),
      |r AS (
      |  SELECT term, doc_id,
      |    CAST(count(*) OVER (PARTITION BY term) AS BIGINT) AS df,
      |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rk
      |  FROM occ),
      |g AS (
      |  SELECT term, MAX(df) AS df, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
      |  FROM r WHERE rk <= 16 GROUP BY term),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY df DESC, term) AS rank FROM g)
      |SELECT rank, term, df, n_kept, postings
      |FROM ranked WHERE rank <= 100 ORDER BY rank""".stripMargin

  /** PMI collocation mining, driver-verified: top-50 adjacent word
    * pairs by pointwise mutual information
    * ([[graft.text.Collocations]] — bigrams from a zip-with-tail
    * projection, scored with the INTEGER lattice
    * `(c_xy·N·10⁶) div (c_x·c_y)` so no log/float ever runs). The
    * oracle recomputes unigram counts, adjacency, and the scaled
    * ratio from scratch in SQL — bit-identical or red.
    */
  def qPmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    graft.text.Collocations.pmiBigrams(docs, "text", minCount = 5, topK = 50)
      .orderBy("rank")
  }

  val qPmiCollocationsSql: String =
    """WITH toks AS (
      |  SELECT string_split(coalesce(text, ''), ' ') AS t FROM documents),
      |uc AS (
      |  SELECT w, CAST(count(*) AS BIGINT) AS c FROM (
      |    SELECT unnest(t) AS w FROM toks)
      |  WHERE regexp_matches(w, '^[a-z]+$') GROUP BY w),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uc),
      |bi AS (
      |  SELECT t[CAST(i AS INT)] AS w1, t[CAST(i + 1 AS INT)] AS w2
      |  FROM toks, unnest(range(1, len(t))) AS r(i)),
      |bc AS (
      |  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_xy FROM bi
      |  WHERE regexp_matches(w1, '^[a-z]+$') AND regexp_matches(w2, '^[a-z]+$')
      |  GROUP BY w1, w2 HAVING count(*) >= 5),
      |scored AS (
      |  SELECT w1, w2, c_xy, u1.c AS c_x, u2.c AS c_y,
      |    (c_xy * tot.n * 1000000) // (u1.c * u2.c) AS score
      |  FROM bc JOIN uc u1 ON u1.w = w1 JOIN uc u2 ON u2.w = w2 CROSS JOIN tot),
      |ranked AS (
      |  SELECT *, row_number() OVER (ORDER BY score DESC, w1, w2) AS rank
      |  FROM scored)
      |SELECT rank, w1, w2, c_xy, c_x, c_y, CAST(score AS BIGINT) AS score
      |FROM ranked WHERE rank <= 50 ORDER BY rank""".stripMargin

  /** BPE tokenizer training, driver-verified: the first 8 merge rules
    * learned over the corpus ([[graft.text.BpeTrainer]] — ONE
    * corpus-sized job builds word frequencies, every merge round runs
    * on the bounded VOCABULARY relation, exactly the industrial
    * trainer shape). The oracle UNROLLS all 8 pair-count → argmax →
    * rewrite rounds as a chained CTE lattice, so the learned merge
    * sequence — pairs, order, frequency-weighted counts, lexicographic
    * tie-breaks, left-to-right overlapping-run convention — must match
    * bit-for-bit across two independent implementations.
    */
  def qBpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    graft.text.BpeTrainer.learnMerges(docs, "text", numMerges = 8)
      .orderBy("rank")
  }

  val qBpeMergesSql: String = graft.text.BpeTrainer.oracleSql(8)
}
