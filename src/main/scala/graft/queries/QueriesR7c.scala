package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-7 additions, third batch: the tokenizer's ENCODE face plus
  * three classic event-analytics operators (funnel, cohort retention,
  * bucket densification) — the reporting surface a log pipeline's
  * consumers run on top of the routed events.
  */
object QueriesR7c {

  /** BPE encode, driver-verified: learn 8 merges
    * ([[graft.text.BpeTrainer.learnMerges]]), then tokenize every
    * document with them ([[BpeTrainer.tokenCounts]] — the merges ride
    * the plan as a literal replace chain over exploded words, fully
    * whole-stage-codegen'd, and the per-document re-aggregation
    * collapses map-side: the 100 TB shape, since encode runs on every
    * document while training is rare). The oracle
    * RE-LEARNS the merges with the unrolled CTE lattice and re-applies
    * them in SQL, so training and application must BOTH agree —
    * per-document, bit-for-bit.
    */
  def qBpeEncode(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    // bounded collect: 8 merge rows — the learned tokenizer IS the
    // plan state, exactly like a shipped tokenizer.json
    val merges = graft.text.BpeTrainer.learnMerges(docs, "text", numMerges = 8)
      .orderBy("rank").select("a", "b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    graft.text.BpeTrainer.tokenCounts(docs, "doc_id", "text", merges)
      .orderBy("doc_id")
  }

  val qBpeEncodeSql: String = graft.text.BpeTrainer.encodeOracleSql(8)

  /** Funnel analysis, driver-verified: strictly-ordered
    * view → click → purchase progression per user (a later-stage event
    * counts only at-or-after the user's earliest previous-stage
    * event). Each stage is one filter + user-key equi-join + min
    * aggregate — bounded relations (one row per user), no windows over
    * raw events, no self-join of the full table. The oracle replays
    * the chain with independent SQL joins; timestamps compare at full
    * microsecond precision.
    */
  def qFunnelStages(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") >= col("v_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") >= col("c_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    v.agg(count(lit(1)).as("n_users"))
      .select(lit(1).as("stage"), lit("view").as("name"), col("n_users"))
      .unionByName(c.agg(count(lit(1)).as("n_users"))
        .select(lit(2).as("stage"), lit("click_after_view").as("name"),
          col("n_users")))
      .unionByName(p.agg(count(lit(1)).as("n_users"))
        .select(lit(3).as("stage"), lit("purchase_after_click").as("name"),
          col("n_users")))
      .orderBy("stage")
  }

  val qFunnelStagesSql: String =
    """WITH v AS (
      |  SELECT user_id, min(ts) AS v_ts FROM events
      |  WHERE event_type = 'view' GROUP BY 1),
      |c AS (
      |  SELECT e.user_id, min(e.ts) AS c_ts FROM events e
      |  JOIN v ON e.user_id = v.user_id AND e.ts >= v.v_ts
      |  WHERE e.event_type = 'click' GROUP BY 1),
      |p AS (
      |  SELECT e.user_id, min(e.ts) AS p_ts FROM events e
      |  JOIN c ON e.user_id = c.user_id AND e.ts >= c.c_ts
      |  WHERE e.event_type = 'purchase' GROUP BY 1)
      |SELECT 1 AS stage, 'view' AS name, CAST(count(*) AS BIGINT) AS n_users FROM v
      |UNION ALL
      |SELECT 2, 'click_after_view', CAST(count(*) AS BIGINT) FROM c
      |UNION ALL
      |SELECT 3, 'purchase_after_click', CAST(count(*) AS BIGINT) FROM p
      |ORDER BY stage""".stripMargin

  /** Cohort retention, driver-verified: users grouped by first-seen
    * day, distinct active users per (cohort, day-offset) — the classic
    * retention triangle. One user-key aggregate builds the cohort
    * table (one row per user), one equi-join tags events, one
    * count-distinct aggregate builds the matrix; day arithmetic is
    * pure integer division.
    */
  def qCohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val days = tbl(spark, dir, "events")
      .select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
    val cohort = days.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    days.join(cohort, "user_id")
      .withColumn("day_offset", col("day") - col("cohort_day"))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  val qCohortRetentionSql: String =
    """WITH d AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |cohort AS (
      |  SELECT user_id, min(day) AS cohort_day FROM d GROUP BY 1)
      |SELECT c.cohort_day, d.day - c.cohort_day AS day_offset,
      |  CAST(count(DISTINCT d.user_id) AS BIGINT) AS n_users
      |FROM d JOIN cohort c ON d.user_id = c.user_id
      |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin

  /** Time-bucket densification, driver-verified: the per-(type, hour)
    * count series with MISSING HOURS filled as explicit zeros — what
    * every dashboard/anomaly consumer needs (a gap and a zero are
    * different facts). The grid is types × hour range — a generated
    * relation bounded by the series shape, never a scan; counts join
    * in by equi-key. The global bounds are one scalar collect.
    */
  def qDensifyBuckets(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hr"))
    val counts = ev.groupBy("event_type", "hr").agg(count(lit(1)).as("n"))
    val b = ev.agg(min(col("hr")), max(col("hr"))).head // bounded: two longs
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    ev.select("event_type").distinct()
      .select(col("event_type"),
        explode(expr(s"sequence(${lo}L, ${hi}L)")).as("hr"))
      .join(counts, Seq("event_type", "hr"), "left")
      .select(col("event_type"), col("hr"),
        coalesce(col("n"), lit(0L)).as("n_events"))
      .orderBy("event_type", "hr")
  }

  val qDensifyBucketsSql: String =
    """WITH c AS (
      |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |b AS (
      |  SELECT min(epoch_us(ts) // 3600000000) AS lo,
      |         max(epoch_us(ts) // 3600000000) AS hi FROM events),
      |g AS (
      |  SELECT t.event_type, unnest(range(b.lo, b.hi + 1)) AS hr
      |  FROM (SELECT DISTINCT event_type FROM events) t, b)
      |SELECT g.event_type, CAST(g.hr AS BIGINT) AS hr,
      |  CAST(coalesce(c.n, 0) AS BIGINT) AS n_events
      |FROM g LEFT JOIN c ON c.event_type = g.event_type AND c.hr = g.hr
      |ORDER BY g.event_type, g.hr""".stripMargin

  /** Scalar int8 quantization of the embedding corpus, driver-verified
    * ([[graft.sim.Quantize]] — the FAISS-SQ8 storage face): train
    * per-dimension `[min, max]` in one scan (dimension-bounded stats =
    * plan state), then encode every vector in a ZERO-SHUFFLE
    * whole-stage-codegen projection. Output is the comma-joined code
    * string — all 64 codes of every vector are byte-exact against the
    * oracle, which re-derives the stats AND re-quantizes in SQL. The
    * `floor`-based affine map has no rounding-tie convention to
    * diverge on cross-engine (see the [[graft.sim.Sq8Codes]] contract).
    */
  def qEmbedQuantize(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val (mins, maxs) = graft.sim.Quantize.sq8Train(emb, "embedding", dim = 64)
    emb.select(col("vec_id"),
        graft.sim.Quantize.sq8(col("embedding"), mins, maxs, asString = true)
          .as("codes"))
      .orderBy("vec_id")
  }

  val qEmbedQuantizeSql: String =
    """WITH ex AS (
      |  SELECT vec_id, i AS dim, embedding[i]::DOUBLE AS x
      |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)),
      |s AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM ex GROUP BY dim),
      |codes AS (
      |  SELECT vec_id, ex.dim,
      |    CASE WHEN mx = mn THEN 0
      |         ELSE CAST(least(255, floor((x - mn) / (mx - mn) * 256)) AS INT)
      |    END AS code
      |  FROM ex JOIN s USING (dim))
      |SELECT vec_id, string_agg(CAST(code AS VARCHAR), ',' ORDER BY dim) AS codes
      |FROM codes GROUP BY vec_id ORDER BY vec_id""".stripMargin

  /** Power-iteration rounds for the PCA oracle — enough for the
    * dominant direction to stabilise on the test corpus; the oracle
    * replays exactly this many, so correctness is iteration-exact
    * regardless.
    */
  val PcaIters = 6

  /** Dominant-component projection, driver-verified
    * ([[graft.sim.Pca]] — the "all-but-the-top" embedding
    * post-processing primitive): ONE corpus scan folds the exact
    * quantized Gram matrix (4096-long constant state,
    * `TypedImperativeAggregate`), power iteration runs in BigInt on
    * the collected 64×64 matrix, and every vector's EXACT integer
    * projection onto the learned direction is a zero-shuffle codegen
    * pass. The oracle re-derives the Gram, unrolls all
    * [[PcaIters]] integer power-iteration rounds as chained CTEs over
    * HUGEINT, and recomputes every projection — bit-for-bit, no
    * floats anywhere.
    */
  def qPcaProject(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    // bounded collect: one 64×64 long lattice — model state
    val g = graft.sim.Pca.gram(emb, "embedding", dim = 64)
    val v = graft.sim.Pca.dominantDirection(g, dim = 64, iters = PcaIters)
    emb.select(col("vec_id"),
        graft.sim.Pca.project(col("embedding"), v).as("proj"))
      .orderBy("vec_id")
  }

  /** The shared oracle chain: quantize → exact gram → unrolled integer
    * power-iteration rounds, ending with the `v{PcaIters}` CTE (no
    * trailing comma).
    */
  private def pcaChainSql: String = {
    val rounds = (1 to PcaIters).map { k =>
      val pv = s"v${k - 1}"
      s"""w$k AS (SELECT g.i AS dim, sum(g.gv * $pv.v) AS w
         |  FROM g JOIN $pv ON g.j = $pv.dim GROUP BY 1),
         |m$k AS (SELECT max(abs(w)) AS m FROM w$k),
         |v$k AS (SELECT dim, CASE WHEN m.m = 0 THEN w
         |    ELSE sign(w)::HUGEINT * ((abs(w) * 10000) // m.m) END AS v
         |  FROM w$k, m$k m)""".stripMargin
    }.mkString(",\n")
    s"""q AS (
       |  SELECT vec_id, i AS dim,
       |    CAST(floor(embedding[i]::DOUBLE * 10000) AS BIGINT) AS qv
       |  FROM embeddings, unnest(range(1, len(embedding) + 1)) AS r(i)),
       |g AS (
       |  SELECT a.dim AS i, b.dim AS j, sum(a.qv * b.qv) AS gv
       |  FROM q a JOIN q b USING (vec_id) GROUP BY 1, 2),
       |v0 AS (SELECT DISTINCT dim, 1::HUGEINT AS v FROM q),
       |$rounds""".stripMargin
  }

  val qPcaProjectSql: String =
    s"""WITH $pcaChainSql
       |SELECT q.vec_id, CAST(sum(q.qv * vN.v) AS BIGINT) AS proj
       |FROM q JOIN v$PcaIters vN ON q.dim = vN.dim
       |GROUP BY 1 ORDER BY vec_id""".stripMargin

  /** All-but-the-top residual, driver-verified
    * ([[graft.sim.Pca.removeDominant]] — the APPLY step of the
    * dominant-component pipeline): each vector's exact integer
    * residual after removing its component along the learned
    * direction, in the cross-multiplied no-division form
    * `r_j = q_j·(w·w) − (q·w)·w_j` (integer-orthogonal to the removed
    * direction BY CONSTRUCTION — PcaSpec asserts `r·w == 0` exactly).
    * The residual pass is one zero-shuffle codegen projection; the
    * query emits the first four residual components per vector and the
    * oracle recomputes them on top of the full unrolled
    * power-iteration chain.
    */
  def qPcaResidual(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val g = graft.sim.Pca.gram(emb, "embedding", dim = 64)
    val v = graft.sim.Pca.dominantDirection(g, dim = 64, iters = PcaIters)
    emb.select(col("vec_id"),
        posexplode(graft.sim.Pca.removeDominant(col("embedding"), v))
          .as(Seq("d", "r")))
      .filter(col("d") < 4)
      .select(col("vec_id"), (col("d") + 1).as("dim"), col("r"))
      .orderBy("vec_id", "dim")
  }

  val qPcaResidualSql: String =
    s"""WITH $pcaChainSql,
       |wn AS (SELECT sum(v * v) AS nsq FROM v$PcaIters),
       |p AS (SELECT q.vec_id, sum(q.qv * vN.v) AS proj
       |  FROM q JOIN v$PcaIters vN ON q.dim = vN.dim GROUP BY 1)
       |SELECT q.vec_id, CAST(q.dim AS INT) AS dim,
       |  CAST(q.qv * wn.nsq - p.proj * vN.v AS BIGINT) AS r
       |FROM q
       |JOIN v$PcaIters vN ON q.dim = vN.dim
       |JOIN p ON p.vec_id = q.vec_id
       |CROSS JOIN wn
       |WHERE q.dim <= 4 ORDER BY q.vec_id, q.dim""".stripMargin

  /** Source vocabulary-overlap matrix, driver-verified
    * ([[graft.text.TextAnalysis.sourceOverlap]] — the mirrored-source
    * audit): exact integer `|A∩B|`/`|A∪B|` per source pair from one
    * distinct `(term, source)` self-equi-join on the term. Top-40
    * pairs by intersection (ties by pair id) keep the output bounded.
    */
  def qSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = tbl(spark, dir, "documents")
    val w = Window.orderBy(col("inter").desc, col("src_a"), col("src_b"))
    graft.text.TextAnalysis.sourceOverlap(docs, "source", "text")
      .withColumn("pos", row_number().over(w)).filter(col("pos") <= 40)
      .select(col("pos"), col("src_a"), col("src_b"), col("inter"), col("uni"))
      .orderBy("pos")
  }

  val qSourceOverlapSql: String =
    """WITH terms AS (
      |  SELECT DISTINCT source AS g, w FROM (
      |    SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS w
      |    FROM documents)
      |  WHERE regexp_matches(w, '^[a-z]+$')),
      |sizes AS (SELECT g, CAST(count(*) AS BIGINT) AS nterms FROM terms GROUP BY 1),
      |inter AS (
      |  SELECT a.g AS src_a, b.g AS src_b, CAST(count(*) AS BIGINT) AS inter
      |  FROM terms a JOIN terms b ON a.w = b.w AND a.g < b.g
      |  GROUP BY 1, 2),
      |full_m AS (
      |  SELECT i.src_a, i.src_b, i.inter,
      |    sa.nterms + sb.nterms - i.inter AS uni
      |  FROM inter i
      |  JOIN sizes sa ON sa.g = i.src_a
      |  JOIN sizes sb ON sb.g = i.src_b),
      |ranked AS (SELECT *, row_number() OVER (
      |    ORDER BY inter DESC, src_a, src_b) AS pos FROM full_m)
      |SELECT pos, src_a, src_b, inter, CAST(uni AS BIGINT) AS uni
      |FROM ranked WHERE pos <= 40 ORDER BY pos""".stripMargin

  /** Corpus-curation funnel report, driver-verified — the table every
    * dataset release publishes: documents surviving each curation
    * stage with exact counts. Stages: raw → exact dedup (min-doc_id
    * survivor per content hash) → word band (20..2000 ws tokens, the
    * Gopher-style length gate) → target language. One scan and one
    * content-hash exchange rank every document; the four counts are
    * conditional counts of one aggregate over the ranked frame, stacked
    * into one row per stage. The oracle replays every stage count
    * independently, so a drifting filter or a survivor-selection change
    * breaks the hash.
    */
  def qCurationFunnel(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val words = graft.text.TextAnalysis.wsTokenCount(col("text"))
    def stage(n: Int, name: String, cond: Column) =
      struct(lit(n).as("stage"), lit(name).as("name"), count(when(cond, 1)).as("n_docs"))
    // the exchange carries the hash and two flags, not the text
    tbl(spark, dir, "documents")
      .select(col("doc_id"), md5(coalesce(col("text"), lit(""))).as("h"),
        (words >= 20 && words <= 2000).as("band"), (col("lang") === "en").as("en"))
      .withColumn("surv",
        row_number().over(Window.partitionBy("h").orderBy("doc_id")) === 1)
      .agg(array(
        stage(1, "raw", lit(true)),
        stage(2, "exact_dedup", col("surv")),
        stage(3, "word_band", col("surv") && col("band")),
        stage(4, "lang_en", col("surv") && col("band") && col("en"))).as("f"))
      .select(explode(col("f")).as("r"))
      .select(col("r.stage"), col("r.name"), col("r.n_docs"))
      .orderBy("stage")
  }

  val qCurationFunnelSql: String =
    """WITH s AS (
      |  SELECT *, row_number() OVER (
      |    PARTITION BY md5(coalesce(text, '')) ORDER BY doc_id) AS rk
      |  FROM documents),
      |surv AS (
      |  SELECT lang,
      |    len(list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
      |        w -> len(w) > 0)) AS nw
      |  FROM s WHERE rk = 1)
      |SELECT 1 AS stage, 'raw' AS name, CAST(count(*) AS BIGINT) AS n_docs FROM documents
      |UNION ALL SELECT 2, 'exact_dedup', CAST(count(*) AS BIGINT) FROM surv
      |UNION ALL SELECT 3, 'word_band', CAST(count(*) AS BIGINT) FROM surv
      |  WHERE nw BETWEEN 20 AND 2000
      |UNION ALL SELECT 4, 'lang_en', CAST(count(*) AS BIGINT) FROM surv
      |  WHERE nw BETWEEN 20 AND 2000 AND lang = 'en'
      |ORDER BY stage""".stripMargin

  /** Blocked fuzzy name matching, driver-verified
    * ([[graft.text.FuzzyMatch]] — record linkage over the part-name
    * dictionary): union-of-blocking-keys candidates (first-2 + last-2
    * chars), plain Levenshtein in the 1..2 typo band, corpus
    * frequencies on both sides. Resolution runs on the 64-name
    * DICTIONARY, never corpus rows; the oracle replays blocking,
    * distance and counts with DuckDB's own `levenshtein`.
    */
  def qFuzzyMatch(spark: SparkSession, dir: String): DataFrame =
    graft.text.FuzzyMatch.fuzzyNamePairs(
        tbl(spark, dir, "part"), "p_name", maxDist = 2)
      .orderBy("name_a", "name_b")

  val qFuzzyMatchSql: String =
    """WITH c AS (
      |  SELECT nm, CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT lower(trim(p_name)) AS nm FROM part)
      |  WHERE nm IS NOT NULL AND length(nm) >= 2 GROUP BY 1),
      |k AS (
      |  SELECT nm, substring(nm, 1, 2) AS bk FROM c
      |  UNION
      |  SELECT nm, substring(nm, length(nm) - 1, 2) AS bk FROM c),
      |pairs AS (
      |  SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
      |  FROM k a JOIN k b ON a.bk = b.bk AND a.nm < b.nm),
      |scored AS (
      |  SELECT name_a, name_b, levenshtein(name_a, name_b) AS dist
      |  FROM pairs)
      |SELECT s.name_a, s.name_b, CAST(s.dist AS INT) AS dist,
      |  ca.n AS n_a, cb.n AS n_b
      |FROM scored s
      |JOIN c ca ON ca.nm = s.name_a
      |JOIN c cb ON cb.nm = s.name_b
      |WHERE s.dist BETWEEN 1 AND 2
      |ORDER BY s.name_a, s.name_b""".stripMargin

  /** Seasonal-baseline anomaly flags, driver-verified — the composition
    * the monitoring operators exist for: the zero-filled
    * [[qDensifyBuckets]] grid, a per-(type, hour-of-day) seasonal
    * MEDIAN baseline (the type-1 rank-arithmetic order statistic — no
    * float anywhere), and the integer deviation rule
    * `|2n − 2·med| > med` (count outside `[med/2, 3·med/2]`). Because
    * the grid is densified, a SILENT hour (n = 0) flags against a
    * nonzero baseline — a gap is an incident, which is the reason
    * densification precedes anomaly detection. One extra key exchange
    * over the bucket-level relation; the oracle replays grid, median
    * and rule independently.
    */
  def qSeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val dense = qDensifyBuckets(spark, dir)
      .select(col("event_type"), col("hr"), expr("hr % 24").as("hod"),
        col("n_events"))
    val med = graft.stats.Stats.percentileDisc(dense,
        Seq("event_type", "hod"), "n_events", tieCol = "hr", Seq(50))
      .select(col("event_type"), col("hod"), col("v").as("med"))
    dense.join(med, Seq("event_type", "hod"))
      .select(col("event_type"), col("hr"), col("n_events"), col("med"),
        (abs(col("n_events") * 2 - col("med") * 2) > col("med"))
          .cast("int").as("is_anom"))
      .orderBy("event_type", "hr")
  }

  val qSeasonalAnomalySql: String =
    s"""WITH d AS (
       |  SELECT event_type, hr, hr % 24 AS hod, n_events
       |  FROM ($qDensifyBucketsSql) dz),
       |m AS (SELECT event_type, hod, v AS med FROM (
       |  SELECT event_type, hod, n_events AS v,
       |    row_number() OVER (PARTITION BY event_type, hod
       |      ORDER BY n_events, hr) AS rk,
       |    count(*) OVER (PARTITION BY event_type, hod) AS n
       |  FROM d) WHERE (rk - 1) * 100 < 50 * n AND rk * 100 >= 50 * n)
       |SELECT d.event_type, d.hr, d.n_events, m.med,
       |  CAST(abs(d.n_events * 2 - m.med * 2) > m.med AS INT) AS is_anom
       |FROM d JOIN m USING (event_type, hod)
       |ORDER BY d.event_type, d.hr""".stripMargin

  /** Bitext-style mutual-nearest alignment, driver-verified
    * ([[graft.sim.Ann.mutualNearest]] — the mutual-best-match core of
    * LASER/CCMatrix parallel-corpus mining): label-0 embeddings as
    * corpus A, label-1 as corpus B; a pair survives only if each side
    * is the other's cosine top-1 (ties → lower id). The oracle
    * replays both direction's rankings and the mutual join
    * independently.
    */
  def qBitextMine(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.sim.Ann.mutualNearest(
        emb.filter(col("label") === 0), emb.filter(col("label") === 1))
      .orderBy("a_id")
  }

  val qBitextMineSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |a AS (SELECT vec_id AS a_id, v FROM e WHERE label = 0),
      |b AS (SELECT vec_id AS b_id, v FROM e WHERE label = 1),
      |fwd AS (SELECT a_id, b_id, sim FROM (
      |  SELECT a.a_id, b.b_id, list_cosine_similarity(a.v, b.v) AS sim,
      |    row_number() OVER (PARTITION BY a.a_id
      |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, b.b_id) AS rk
      |  FROM a CROSS JOIN b) WHERE rk = 1),
      |bwd AS (SELECT a_id, b_id FROM (
      |  SELECT b.b_id, a.a_id,
      |    row_number() OVER (PARTITION BY b.b_id
      |      ORDER BY list_cosine_similarity(a.v, b.v) DESC, a.a_id) AS rk
      |  FROM a CROSS JOIN b) WHERE rk = 1)
      |SELECT f.a_id, f.b_id, round(f.sim, 4) + 0.0 AS sim
      |FROM fwd f JOIN bwd USING (a_id, b_id) ORDER BY a_id""".stripMargin

  /** Numeric-column histogram profiling, driver-verified
    * ([[graft.stats.Stats.histogram]] — the distribution-drift /
    * data-quality intake check): global per-column `[min,max]` as
    * model state, then one `stack`ed scan with the affine-`floor`
    * bucket map (the sq8 contract — no rounding-tie divergence) and a
    * map-side-collapsing count aggregate. The oracle re-derives the
    * stats and every bucket count over the same three lineitem
    * columns.
    */
  def qProfileHist(spark: SparkSession, dir: String): DataFrame =
    graft.stats.Stats.histogram(
        tbl(spark, dir, "lineitem"),
        Seq("l_quantity", "l_extendedprice", "l_discount"), nbins = 16)
      .orderBy("col_name", "bucket")

  val qProfileHistSql: String =
    """WITH s AS (
      |  SELECT min(l_quantity) AS mn1, max(l_quantity) AS mx1,
      |         min(l_extendedprice) AS mn2, max(l_extendedprice) AS mx2,
      |         min(l_discount) AS mn3, max(l_discount) AS mx3
      |  FROM lineitem),
      |x AS (
      |  SELECT 'l_quantity' AS col_name,
      |    least(15.0, floor((l_quantity - s.mn1) / (s.mx1 - s.mn1) * 16)) AS bucket
      |  FROM lineitem, s WHERE l_quantity IS NOT NULL
      |  UNION ALL
      |  SELECT 'l_extendedprice',
      |    least(15.0, floor((l_extendedprice - s.mn2) / (s.mx2 - s.mn2) * 16))
      |  FROM lineitem, s WHERE l_extendedprice IS NOT NULL
      |  UNION ALL
      |  SELECT 'l_discount',
      |    least(15.0, floor((l_discount - s.mn3) / (s.mx3 - s.mn3) * 16))
      |  FROM lineitem, s WHERE l_discount IS NOT NULL)
      |SELECT col_name, CAST(bucket AS INT) AS bucket,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM x GROUP BY 1, 2 ORDER BY col_name, bucket""".stripMargin

  /** Power-iteration rounds for the PageRank oracle. */
  val PageRankIters = 4

  /** Integer-exact PageRank, driver-verified ([[graft.graph.PageRank]]
    * — entity importance over the customer↔supplier co-purchase graph,
    * ~97k directed edges at sf0.01 after symmetrization): integer mass
    * budget, truncating-division flow, `(15·base + 85·inflow) div 100`
    * damping — every step an order-free integer sum, so ranks are
    * bit-exact under any partitioning and the oracle unrolls all
    * [[PageRankIters]] Pregel rounds as chained CTEs. Output: the
    * top-30 nodes (suppliers offset by 10⁶), deterministic ties by
    * node id. The presentation window is vertex-bounded; at corpus
    * scale swap it for the repo's `TopKSmallest` aggregate.
    */
  def qPageRank(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val orders = tbl(spark, dir, "orders")
    val li = tbl(spark, dir, "lineitem")
    val fwd = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
      .select(col("o_custkey").as("src"), (col("l_suppkey") + 1000000L).as("dst"))
      .distinct()
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = graft.graph.PageRank.runPersisted(edges, "src", "dst",
      iters = PageRankIters)
    val w = Window.orderBy(col("rank").desc, col("node"))
    ranks.withColumn("pos", row_number().over(w)).filter(col("pos") <= 30)
      .select(col("pos"), col("node"), col("rank"))
      .orderBy("pos")
  }

  val qPageRankSql: String = {
    val rounds = (1 to PageRankIters).map { k =>
      val pr = s"r${k - 1}"
      s"""f$k AS (SELECT e.dst AS node, sum($pr.rank // o.od) AS inflow
         |  FROM e JOIN od o ON e.src = o.src JOIN $pr ON $pr.node = e.src
         |  GROUP BY 1),
         |r$k AS (SELECT n.node,
         |    CAST((15 * b.base + 85 * coalesce(f.inflow, 0)) // 100 AS BIGINT) AS rank
         |  FROM nodes n CROSS JOIN b LEFT JOIN f$k f ON f.node = n.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH fwd AS (
       |  SELECT DISTINCT o.o_custkey AS src, 1000000 + l.l_suppkey AS dst
       |  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
       |e AS (SELECT src, dst FROM fwd UNION SELECT dst, src FROM fwd),
       |nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e),
       |b AS (SELECT 1000000000000 // count(*) AS base FROM nodes),
       |od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
       |r0 AS (SELECT node, b.base AS rank FROM nodes CROSS JOIN b),
       |$rounds,
       |ranked AS (SELECT node, rank,
       |    row_number() OVER (ORDER BY rank DESC, node) AS pos
       |  FROM r$PageRankIters)
       |SELECT pos, CAST(node AS BIGINT) AS node, CAST(rank AS BIGINT) AS rank
       |FROM ranked WHERE pos <= 30 ORDER BY pos""".stripMargin
  }

  /** Temperature mixture sampling, driver-verified
    * ([[graft.sample.Sampling.temperatureThresholds]] — rates DERIVED
    * from corpus counts at τ = 1/2, the multilingual-pretraining
    * exponent mixture): one aggregate computes per-lang counts, BigInt
    * integer arithmetic turns them into 8-hex keep thresholds (head
    * lang `en` flattens, tail langs keep coverage), and the keep pass
    * is the zero-shuffle md5 predicate. Output per lang: corpus count,
    * the threshold itself, and the EXACT deterministic sampled count —
    * the oracle re-derives counts, isqrt weights, thresholds
    * (`printf('%08x')`) and replays the identical hash predicate.
    */
  def qMixTemperature(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    // bounded collect: one row per language — corpus statistics as
    // config-sized model state
    val counts = docs.groupBy("lang").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val thr = graft.sample.Sampling.temperatureThresholds(counts, targetTotal = 250L)
    val kept = docs
      .filter(graft.sample.Sampling.mixtureKeepHex(col("doc_id"), col("lang"), thr))
      .groupBy("lang").agg(count(lit(1)).as("n_sampled"))
    import spark.implicits._
    val thrDf = counts.map { case (g, n) => (g, n, thr(g)) }
      .toDF("lang", "n_docs", "threshold")
    thrDf.join(kept, Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("threshold"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("lang")
  }

  val qMixTemperatureSql: String =
    """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1),
      |w AS (SELECT lang, n, CAST(floor(sqrt(n)) AS BIGINT) AS w FROM c),
      |tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM w),
      |th AS (SELECT lang, n,
      |    (250::HUGEINT * w * 4294967296) // (n::HUGEINT * tot.sw) AS t64
      |  FROM w, tot),
      |thh AS (SELECT lang, n,
      |    CASE WHEN t64 >= 4294967296 THEN 'g'
      |         ELSE printf('%08x', CAST(t64 AS BIGINT)) END AS thr
      |  FROM th),
      |kept AS (
      |  SELECT d.lang, CAST(count(*) AS BIGINT) AS n_sampled
      |  FROM documents d JOIN thh ON d.lang = thh.lang
      |  WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8) < thh.thr
      |  GROUP BY 1)
      |SELECT thh.lang, thh.n AS n_docs, thh.thr AS threshold,
      |  CAST(coalesce(kept.n_sampled, 0) AS BIGINT) AS n_sampled
      |FROM thh LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin

  /** STREAM-STREAM attribution join, driver-verified — the one
    * Structured-Streaming face the other four streaming queries don't
    * exercise: TWO watermarked streams (views and clicks over the same
    * time-range-partitioned source files) inner-joined on user with a
    * one-hour time-bound condition, append mode. The time bound plus
    * both watermarks let Spark EVICT view state once the watermark
    * passes `view_ts + 1h` — bounded state, the entire point of a
    * streaming interval join; with file order == time order, every
    * matching click has already arrived before its view is evictable,
    * so the committed output is the COMPLETE pair set and the batch
    * SQL oracle must match row for row — a micro-batch boundary that
    * dropped or duplicated a pair breaks the hash.
    */
  def qStreamAttrib(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        col("ts").cast("timestamp").as("ts"))
    // the completeness claim below REQUIRES event-time-ordered file
    // consumption: range-partitioned by ts, file order pinned by replay
    graft.streaming.StreamingPipeline.replay(spark, "graft_stream_attrib",
        ev.repartitionByRange(4, col("ts"))) { read =>
      def side(tpe: String, alias: String) = read()
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${alias}_user"), col("ts").as(s"${alias}_ts"))
        .withWatermark(s"${alias}_ts", "1 hour")
      side("view", "v").join(side("click", "c"),
          col("v_user") === col("c_user") &&
            col("c_ts") >= col("v_ts") &&
            col("c_ts") <= col("v_ts") + expr("interval 1 hour"))
        .select(col("v_user").as("user_id"), col("v_ts").as("view_ts"),
          col("c_ts").as("click_ts"))
    }
      .select(col("user_id"),
        col("view_ts").cast("timestamp_ntz").as("view_ts"),
        col("click_ts").cast("timestamp_ntz").as("click_ts"))
      .orderBy("user_id", "view_ts", "click_ts")
  }

  val qStreamAttribSql: String =
    """SELECT v.user_id AS user_id, v.ts AS view_ts, c.ts AS click_ts
      |FROM events v JOIN events c ON v.user_id = c.user_id
      |  AND v.event_type = 'view' AND c.event_type = 'click'
      |  AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY v.user_id, view_ts, click_ts""".stripMargin

  /** HLL sketch ROLLUP, driver-verified (the OLAP face of sketch
    * mergeability — per-source distinct-word sketches that combine to
    * the corpus union WITHOUT rescanning): one pass builds a 256-byte
    * register lattice per source ([[graft.sketch.HyperLogLog]]);
    * `__merged__` is the element-wise max of the GROUP lattices (the
    * union-merge the sketch exists for — yesterday's sources + today's
    * without re-reading either); `__direct__` re-sketches the whole
    * corpus in one aggregate. The two MUST be register-identical (max
    * is associative over the grouping) — the query emits both, so the
    * driver hash pins the mergeability property itself, and the oracle
    * re-derives every per-source register in SQL then merges
    * independently.
    */
  def qHllRollup(spark: SparkSession, dir: String): DataFrame = {
    val words = tbl(spark, dir, "documents")
      .select(col("source"),
        explode(split(coalesce(col("text"), lit("")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$")) // ASCII-only: byte fold == codepoint fold
    val per = words.groupBy("source")
      .agg(graft.sketch.HyperLogLog.sketch(col("w"), 8).as("regs"))
      .select(col("source"), posexplode(col("regs")).as(Seq("j", "r")))
    val merged = per.groupBy("j").agg(max(col("r")).as("r"))
      .select(lit("__merged__").as("source"), col("j"), col("r"))
    val direct = words
      .agg(graft.sketch.HyperLogLog.sketch(col("w"), 8).as("regs"))
      .select(posexplode(col("regs")).as(Seq("j", "r")))
      .select(lit("__direct__").as("source"), col("j"), col("r"))
    per.unionByName(merged).unionByName(direct)
      .select(col("source"), col("j").cast("long").as("j"), col("r"))
      .orderBy("source", "j")
  }

  val qHllRollupSql: String =
    """WITH words AS (
      |  SELECT source, unnest(string_split(coalesce(text, ''), ' ')) AS w
      |  FROM documents),
      |terms AS (
      |  SELECT DISTINCT source, w FROM words WHERE regexp_matches(w, '^[a-z]+$')),
      |hashed AS (
      |  SELECT source, list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, len(w) + 1),
      |      i -> CAST(unicode(w[CAST(i AS INT)]) AS BIGINT))),
      |    (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      |  FROM terms),
      |mx1 AS (
      |  SELECT source, ((h + 2000016) % 1000000007) AS xa1,
      |         ((h + 3000049) % 1000000007) AS xa2 FROM hashed),
      |mx2 AS (
      |  SELECT source, ((xa1 * xa1 + 204) % 1000000007) AS xb1,
      |         ((xa2 * xa2 + 305) % 1000000007) AS xb2 FROM mx1),
      |br AS (
      |  SELECT source, ((xb1 * xb1 + xb1 + 7919) % 1000000007) % 256 AS j,
      |         ((xb2 * xb2 + xb2 + 15838) % 1000000007) AS v
      |  FROM mx2),
      |ranks AS (
      |  SELECT source, j, CASE WHEN v = 0 THEN 31
      |                 ELSE 31 - len(bin(v)) END AS r FROM br),
      |gregs AS (SELECT source, j, MAX(r) AS r FROM ranks GROUP BY 1, 2),
      |pergrid AS (
      |  SELECT s.source, i.i AS j, coalesce(g.r, 0) AS r
      |  FROM (SELECT DISTINCT source FROM terms) s
      |  CROSS JOIN range(256) i(i)
      |  LEFT JOIN gregs g ON g.source = s.source AND g.j = i.i),
      |mergedgrid AS (
      |  SELECT '__merged__' AS source, j, MAX(r) AS r FROM pergrid GROUP BY 2),
      |directgrid AS (
      |  SELECT '__direct__' AS source, i.i AS j, coalesce(d.r, 0) AS r
      |  FROM range(256) i(i)
      |  LEFT JOIN (SELECT j, MAX(r) AS r FROM ranks GROUP BY 1) d ON d.j = i.i)
      |SELECT source, CAST(j AS BIGINT) AS j, CAST(r AS INT) AS r FROM pergrid
      |UNION ALL SELECT source, CAST(j AS BIGINT), CAST(r AS INT) FROM mergedgrid
      |UNION ALL SELECT source, CAST(j AS BIGINT), CAST(r AS INT) FROM directgrid
      |ORDER BY source, j""".stripMargin

  /** Hard-negative mining, driver-verified
    * ([[graft.sim.Ann.hardNegatives]] — contrastive-training data prep):
    * per query vector, the top-5 most-similar corpus vectors with a
    * DIFFERENT label, through the IVF cell machinery (untrained
    * first-16 quantizer, nprobe 4 — the [[QueriesML.qAnnIvf]]
    * composition plus the label-mismatch predicate). The oracle
    * replays assignment, label filter, cosine and ranking
    * independently.
    */
  def qHardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val centRows = emb.orderBy("vec_id").limit(16)
      .select(col("vec_id").cast("long"),
        col("embedding").cast("array<double>"))
      .collect() // bounded: the 16-row coarse quantizer
    graft.sim.Ann.hardNegatives(emb, emb.filter(col("vec_id") < 10), k = 5,
      centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray),
      nprobe = 4, idCol = "vec_id", vecCol = "embedding", labelCol = "label")
      .orderBy("query_id", "rank")
  }

  val qHardNegativesSql: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM e ORDER BY vec_id LIMIT 16),
      |corpus_assign AS (
      |  SELECT vec_id, label, v, cent_id FROM (
      |    SELECT e.vec_id, e.label, e.v, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cent_id) AS rk
      |    FROM e CROSS JOIN cents c) WHERE rk = 1),
      |query_assign AS (
      |  SELECT vec_id AS query_id, label AS q_label, v AS qvec, cent_id FROM (
      |    SELECT e.vec_id, e.label, e.v, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cent_id) AS rk
      |    FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rk <= 4),
      |sims AS (SELECT q.query_id, ca.vec_id AS neighbor_id, ca.label AS neg_label,
      |    list_cosine_similarity(q.qvec, ca.v) AS sim
      |  FROM query_assign q JOIN corpus_assign ca USING (cent_id)
      |  WHERE ca.vec_id != q.query_id AND ca.label != q.q_label),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
      |SELECT query_id, rank, neighbor_id, neg_label, round(sim, 4) AS sim
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
}
