package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-6 driver queries. */
object QueriesR6 {

  private def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  // ---------------------------------------------------------------
  // Streaming face, driver-verified (VERDICT r5 #8): the events table
  // replayed through a REAL Structured-Streaming run — multi-file
  // source, maxFilesPerTrigger-bounded micro-batches, a YAML-configured
  // pipeline (conditional CEL tagging + json action) inside
  // foreachBatch, each micro-batch committed EXACTLY-ONCE through the
  // lineage table (graft.lineage.Lineage — idempotent bucket commits,
  // the registrar analog) — then the committed output read back as a
  // batch table and aggregated. Per-row transforms + exactly-once
  // append make the final table independent of micro-batch boundaries,
  // which is what lets DuckDB oracle-check a streaming run.
  // ---------------------------------------------------------------
  def qStreamReplay(spark: SparkSession, dir: String): DataFrame = {
    val events = tbl(spark, dir, "events")
    val base = graft.util.Fs.tempDirDeletedAtExit("graft_stream_replay")
    val srcDir = s"$base/src"
    val ckptDir = s"$base/ckpt"
    val outRoot = s"$base/out"

    // decorate the events table into the pipeline envelope: dynamic
    // attributes live in the fields map (the D1 decorate step — the
    // pipeline's resolve() reads non-envelope paths from there)
    val decorated = events.select(col("event_id"), col("ts"),
      map(lit("event_type"), col("event_type"),
        lit("props"), col("props")).as(graft.model.Envelope.FieldsCol))

    // deterministic 8-file source → 4 micro-batches at 2 files/trigger
    decorated.repartition(8, col("event_id"))
      .write.mode("overwrite").parquet(srcDir)

    val stages = graft.pipeline.PipelineConfig.fromYaml(
      """- if: >-
        |    event.event_type == "error"
        |  then:
        |  - name: add_tag
        |    tag: errors
        |- else:
        |  - name: add_tag
        |    tag: ok
        |- name: json
        |  field: props
        |""".stripMargin)

    val query = spark.readStream
      .schema(decorated.schema)
      .option("maxFilesPerTrigger", 2)
      .parquet(srcDir)
      .writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val out = graft.pipeline.Pipeline(batch, stages)
          .select(col("event_id"),
            element_at(col(graft.model.Envelope.FieldsCol), "event_type")
              .as("event_type"),
            array_join(col(graft.model.Envelope.TagsCol), ",").as("tag"),
            element_at(col(graft.model.Envelope.FieldsCol), "k")
              .cast("long").as("k"))
        // exactly-once commit per micro-batch: a re-delivered batch id
        // re-stages but only ever seals uncommitted buckets
        graft.lineage.Lineage.run(out, s"$outRoot/b$batchId", nBuckets = 4,
          batchId = s"b$batchId", keyCol = "event_id")
        ()
      }
      .start()
    query.awaitTermination()

    // replay the committed output as a batch table
    val batchRoots = {
      val d = java.nio.file.Paths.get(outRoot)
      val ls = java.nio.file.Files.list(d)
      try {
        val it = ls.iterator()
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        while (it.hasNext) out += it.next().toString
        out.toSeq.sorted
      } finally ls.close()
    }
    require(batchRoots.nonEmpty, "streaming run committed no batches")
    batchRoots.map(r => graft.lineage.Lineage.readData(spark, r))
      .reduce(_ unionByName _)
      .groupBy("event_type", "tag")
      .agg(count(lit(1)).as("n_events"),
        sum(col("k")).as("sum_k"))
      .orderBy("event_type")
  }
  val qStreamReplaySql: String =
    """SELECT event_type,
      |  CASE WHEN event_type = 'error' THEN 'errors' ELSE 'ok' END AS tag,
      |  count(*) AS n_events,
      |  CAST(sum(CAST(regexp_extract(props, '"k":\s*(-?\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k
      |FROM events GROUP BY 1, 2 ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------
  // Streaming exact dedup, driver-verified: the documents table
  // streamed through dedupExactStream (dropDuplicatesWithinWatermark on
  // the two-lane 128-bit text hash — ~32 B state per distinct doc, text
  // never enters state), committed by the transactional file sink, and
  // the committed output compared as a TEXT SET. Which doc_id survives
  // a duplicate group depends on arrival order, but the SET of distinct
  // texts does not — that is the batch-oracle-checkable projection of
  // the streaming operator. Event times are synthesized inside the
  // watermark horizon so every duplicate is in range (the horizon IS
  // the dedup window; out-of-horizon re-emission is the documented
  // state bound, not a bug).
  // ---------------------------------------------------------------
  def qStreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val base0 = tbl(spark, dir, "documents")
    // the shipped table has no byte-identical texts, so plant them:
    // every 5th doc re-enters under a new id — the cross-file (hence
    // cross-micro-batch) duplicates the state store must catch
    val docs = base0.select(col("doc_id"), col("text"))
      .unionByName(base0.filter(col("doc_id") % 5 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("text")))
      .select(col("doc_id"), col("text"),
        timestamp_seconds(lit(1700000000L) + pmod(col("doc_id"), lit(100L))).as("ts"))
    val base = graft.util.Fs.tempDirDeletedAtExit("graft_stream_dedup")
    val srcDir = s"$base/src"
    docs.repartition(8, col("doc_id")).write.mode("overwrite").parquet(srcDir)
    // deterministic micro-batch assignment (mtime order == partition
    // order) + state partitions sized to the demo stream's ~10³-key
    // state instead of the session's batch shuffle width — the output
    // SET is partitioning-invariant either way, the store commits per
    // trigger are not free
    graft.streaming.StreamingPipeline.pinFileOrder(spark, srcDir)
    graft.streaming.StreamingPipeline.withStatePartitions(spark, 8) {
      val query = graft.streaming.StreamingPipeline.dedupExactStream(
          spark.readStream.schema(docs.schema)
            .option("maxFilesPerTrigger", 2).parquet(srcDir),
          textCol = "text", tsCol = "ts", horizon = "1 hour")
        .select("text")
        .writeStream
        .format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.read.parquet(s"$base/out").select("text").orderBy("text")
  }
  val qStreamDedupSql: String =
    """SELECT text FROM (SELECT DISTINCT text FROM documents)
      |ORDER BY text NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------
  // Exact substring-span dedup — REMOVAL (Lee et al. 2021's actual
  // output, closing the loop on q_span_dedup's detection): one copy of
  // every duplicated k-window survives corpus-wide (lexicographic-min
  // (doc, start)), every other covered token is cut. TEXT EQUALITY on
  // the cleaned corpus — the oracle replays windowing, survivor
  // selection and token surgery end to end in SQL.
  // ---------------------------------------------------------------
  val SpanRemovalK = 8
  def qSpanRemoval(spark: SparkSession, dir: String): DataFrame =
    graft.dedup.Dedup.removeDuplicatedSpans(tbl(spark, dir, "documents"),
        "doc_id", "text", SpanRemovalK, minDup = 2, maxOcc = 1000)
      .select(col("id").as("doc_id"), col("n_tokens"), col("n_removed"),
        col("clean_text"))
      .orderBy("doc_id")
  val qSpanRemovalSql: String =
    s"""WITH w AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
       |                x -> len(x) > 0) AS words
       |  FROM documents),
       |wins AS (
       |  -- per-doc window positions via unnest(range(...)) with a
       |  -- DERIVED bound (list-range takes column args; the table
       |  -- function does not) — a fixed cap here silently diverged from
       |  -- the unbounded engine side on any document longer than it
       |  SELECT doc_id, start,
       |    array_to_string(words[(start+1):(start+$SpanRemovalK)], ' ') AS wtext
       |  FROM (SELECT doc_id, words,
       |          unnest(range(0, len(words) - $SpanRemovalK + 1)) AS start
       |        FROM w)),
       |g AS (SELECT wtext FROM wins GROUP BY wtext
       |      HAVING count(*) >= 2 AND count(*) <= 1000),
       |occ AS (
       |  SELECT wins.doc_id, wins.start,
       |    row_number() OVER (PARTITION BY wins.wtext
       |                       ORDER BY wins.doc_id, wins.start) AS rn
       |  FROM wins JOIN g USING (wtext)),
       |cov AS (
       |  SELECT DISTINCT doc_id, CAST(start + o AS INT) AS idx
       |  FROM occ CROSS JOIN range($SpanRemovalK) r(o) WHERE rn > 1),
       |cl AS (SELECT doc_id, list_sort(list(idx)) AS covered
       |       FROM cov GROUP BY doc_id)
       |SELECT w.doc_id,
       |  CAST(len(words) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(len(covered), 0) AS BIGINT) AS n_removed,
       |  coalesce(array_to_string(
       |    list_transform(
       |      list_filter(range(0, len(words)),
       |        i -> covered IS NULL OR NOT list_contains(covered, CAST(i AS INT))),
       |      i -> words[CAST(i AS INT) + 1]), ' '), '') AS clean_text
       |FROM w LEFT JOIN cl USING (doc_id) ORDER BY w.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Product quantization (Jégou 2011 — the PQ half of FAISS IVF-PQ):
  // 64-dim embeddings split into 8×8-dim subvectors, each assigned the
  // max-inner-product entry of a deterministic synthetic codebook
  // (training via Ann.kmeansCentroids per subspace is the tested path;
  // the synthetic book keeps the oracle tractable, the q_quality_
  // classifier pattern), then ADC top-5 per query by summed per-
  // subspace lookups. Fold orders are pinned ascending on both sides,
  // so codes are bit-exact and scores agree at round(…,4).
  // ---------------------------------------------------------------
  val PqM = 8; val PqK = 16; val PqSub = 8
  def pqCodebook: Array[Array[Array[Double]]] =
    Array.tabulate(PqM, PqK, PqSub)((mi, j, d) =>
      ((mi * 131 + j * 17 + d * 7) % 19) / 19.0 - 0.5)
  def qAnnPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    graft.sim.Ann.pqTopK(emb, emb.filter(col("vec_id") % 40 === 0), k = 5,
        pqCodebook)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 4).as("score"))
      .orderBy("query_id", "rank")
  }
  val qAnnPqSql: String =
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ips AS (
       |  SELECT vec_id, mi.i AS mi,
       |    list_transform(range($PqK), j ->
       |      list_reduce(list_transform(range($PqSub), d ->
       |        v[CAST(mi.i * $PqSub + d AS INT) + 1] *
       |        (((mi.i * 131 + j * 17 + d * 7) % 19) / 19.0 - 0.5)),
       |      (a, x) -> a + x)) AS ip
       |  FROM e CROSS JOIN range($PqM) mi(i)),
       |codes AS (
       |  SELECT vec_id, mi,
       |    CAST(list_position(ip, list_max(ip)) - 1 AS INT) AS code
       |  FROM ips),
       |codesarr AS (SELECT vec_id, list(code ORDER BY mi) AS codes
       |             FROM codes GROUP BY vec_id),
       |qarr AS (SELECT vec_id AS query_id, list(ip ORDER BY mi) AS qts
       |         FROM ips WHERE vec_id % 40 = 0 GROUP BY vec_id),
       |adc AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(0.0, list_transform(range($PqM),
       |      m -> q.qts[CAST(m AS INT) + 1][c.codes[CAST(m AS INT) + 1] + 1])),
       |    (a, x) -> a + x) AS score
       |  FROM codesarr c CROSS JOIN qarr q WHERE c.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM adc)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // The COMPOSED FAISS-style index — IVF-PQ end to end: k-means-trained
  // coarse cells route each query to its nprobe=2 nearest cells, PQ/ADC
  // ranks only the candidates inside those cells. The oracle chains the
  // shared k-means training CTEs (QueriesR4.kmeansCteChain — identical
  // arithmetic to q_kmeans/q_ann_ivf_trained) with the PQ code/ADC SQL
  // of q_ann_pq, so the whole index — training, routing, quantization,
  // search — replays in one statement.
  // ---------------------------------------------------------------
  def qAnnIvfPq(spark: SparkSession, dir: String): DataFrame =
    annIvfPq(spark, dir, col("vec_id") % 40 === 0)

  /** [[qAnnIvfPq]] with the query batch selected by `queryPred` — the
    * probe measures the operator contract (a FIXED query batch over a
    * growing corpus) separately from the driver query's every-40th-vector
    * batch, which grows with the corpus and makes query × candidate work
    * superlinear by construction.
    */
  def annIvfPq(spark: SparkSession, dir: String,
      queryPred: org.apache.spark.sql.Column): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val cents = graft.sim.Ann.kmeansCentroids(emb,
      k = QueriesR4.KmeansK, iters = QueriesR4.KmeansIters, dim = 64)
    val corpus = graft.sim.Ann.kmeansAssign(emb, cents)
      .select(col("vec_id").as("neighbor_id"), col("cluster"),
        graft.sim.Ann.pqCodes(col("embedding"), pqCodebook).as("_codes"))
    val queries = emb.filter(queryPred)
      .select(col("vec_id").as("query_id"),
        graft.sim.Ann.pqQueryTable(col("embedding"), pqCodebook).as("_qt"),
        explode(graft.sim.Ann.kmeansCells(col("embedding"), cents, 2))
          .as("_cell"))
      .select(col("query_id"), col("_qt"), col("_cell").cast("int").as("cluster"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    corpus.join(broadcast(queries), Seq("cluster"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.sim.Ann.pqAdcScore(col("_qt"), col("_codes")).as("score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("score"), 4).as("score"))
      .orderBy("query_id", "rank")
  }
  val qAnnIvfPqSql: String = {
    import QueriesR4.{cos, kmeansCteChain}
    s"""WITH $kmeansCteChain,
       |asg AS (SELECT vec_id, cent FROM (
       |   SELECT e.vec_id, c.cent,
       |     row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |       ${cos("e.v", "list_transform(c.cs, x -> x::DOUBLE)")} DESC,
       |       c.cent) AS rk
       |   FROM e CROSS JOIN c2 c) WHERE rk = 1),
       |probe AS (SELECT vec_id AS query_id, cent FROM (
       |   SELECT e.vec_id, c.cent,
       |     row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |       ${cos("e.v", "list_transform(c.cs, x -> x::DOUBLE)")} DESC,
       |       c.cent) AS rk
       |   FROM e CROSS JOIN c2 c WHERE e.vec_id % 40 = 0) WHERE rk <= 2),
       |ips AS (
       |  SELECT vec_id, mi.i AS mi,
       |    list_transform(range($PqK), j ->
       |      list_reduce(list_transform(range($PqSub), d ->
       |        v[CAST(mi.i * $PqSub + d AS INT) + 1] *
       |        (((mi.i * 131 + j * 17 + d * 7) % 19) / 19.0 - 0.5)),
       |      (a, x) -> a + x)) AS ip
       |  FROM e CROSS JOIN range($PqM) mi(i)),
       |codes AS (
       |  SELECT vec_id, mi,
       |    CAST(list_position(ip, list_max(ip)) - 1 AS INT) AS code
       |  FROM ips),
       |codesarr AS (SELECT vec_id, list(code ORDER BY mi) AS codes
       |             FROM codes GROUP BY vec_id),
       |qarr AS (SELECT vec_id AS query_id, list(ip ORDER BY mi) AS qts
       |         FROM ips WHERE vec_id % 40 = 0 GROUP BY vec_id),
       |adc AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(0.0, list_transform(range($PqM),
       |      m -> q.qts[CAST(m AS INT) + 1][c.codes[CAST(m AS INT) + 1] + 1])),
       |    (a, x) -> a + x) AS score
       |  FROM codesarr c
       |  JOIN asg ca ON ca.vec_id = c.vec_id
       |  JOIN probe p ON p.cent = ca.cent
       |  JOIN qarr q ON q.query_id = p.query_id
       |  WHERE c.vec_id <> q.query_id),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY score DESC, neighbor_id) AS rank FROM adc)
       |SELECT query_id, rank, neighbor_id, round(score, 4) AS score
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  // ---------------------------------------------------------------
  // Cross-document LINE dedup (RefinedWeb/FineWeb): every doc gets the
  // same planted footer lines (the nav/copyright boilerplate shape) on
  // top of its sentence-split body; lines whose trimmed form appears in
  // >= 30 distinct docs are dropped, everything else kept verbatim.
  // TEXT EQUALITY on the cleaned pages.
  // ---------------------------------------------------------------
  val LineDedupMinDf = 30
  def qLineDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val raw = concat(
      replace(coalesce(col("text"), lit("")), lit(". "), lit(".\n")),
      lit("\nhome | products | about us\ncopyright 2024 example corp"))
    graft.text.TextAnalysis.dedupLines(
        docs.select(col("doc_id"), raw.as("text")), "doc_id", "text", LineDedupMinDf)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }
  val qLineDedupSql: String =
    s"""WITH m AS (
       |  SELECT doc_id,
       |    replace(coalesce(text, ''), '. ', '.' || chr(10)) || chr(10) ||
       |    'home | products | about us' || chr(10) ||
       |    'copyright 2024 example corp' AS raw
       |  FROM documents),
       |l0 AS (
       |  SELECT doc_id,
       |    string_split(replace(raw, chr(13) || chr(10), chr(10)), chr(10)) AS lines
       |  FROM m),
       |l AS (
       |  -- derived per-doc bound (see q_span_removal): no fixed line cap
       |  SELECT doc_id, CAST(i AS INT) AS idx,
       |    lines[CAST(i AS INT) + 1] AS line,
       |    trim(lines[CAST(i AS INT) + 1]) AS t
       |  FROM (SELECT doc_id, lines, unnest(range(0, len(lines))) AS i FROM l0)),
       |hot AS (
       |  SELECT t FROM l WHERE len(t) > 0
       |  GROUP BY t HAVING count(DISTINCT doc_id) >= $LineDedupMinDf),
       |kept AS (SELECT l.* FROM l LEFT JOIN hot ON l.t = hot.t WHERE hot.t IS NULL),
       |r AS (
       |  SELECT doc_id, count(*) AS n_kept,
       |    string_agg(line, chr(10) ORDER BY idx) AS clean_text
       |  FROM kept GROUP BY doc_id)
       |SELECT l0.doc_id, CAST(len(lines) AS BIGINT) AS n_lines,
       |  CAST(coalesce(r.n_kept, 0) AS BIGINT) AS n_kept,
       |  coalesce(r.clean_text, '') AS clean_text
       |FROM l0 LEFT JOIN r USING (doc_id) ORDER BY l0.doc_id""".stripMargin

  // ---------------------------------------------------------------
  // GPT-style sequence packing (concatenate-and-chunk): documents in
  // doc_id order packed into fixed 512-token training windows, docs
  // splitting across boundaries like GPT-2/3 pretraining. The engine's
  // two-level cumulative sum (per-bucket offsets + within-bucket
  // windows — never a global-order window) must be bit-identical to the
  // oracle's plain global running sum.
  // ---------------------------------------------------------------
  val PackBudget = 512L
  def qPackSequences(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    graft.sample.Sampling.packSequences(docs, "doc_id",
        graft.text.TextAnalysis.wsTokenCount(col("text")), PackBudget,
        bucketSize = 100L) // small buckets so sf0.01 exercises MANY buckets
      .select(col("id").as("doc_id"), col("n_tokens"), col("cum_prev"),
        col("first_bin"), col("last_bin"), col("bin_offset"))
      .orderBy("doc_id")
  }
  val qPackSequencesSql: String =
    s"""WITH t AS (
       |  SELECT doc_id,
       |    CAST(len(list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
       |                         w -> len(w) > 0)) AS BIGINT) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n,
       |    CAST(coalesce(sum(n) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
       |  FROM t)
       |SELECT doc_id, n AS n_tokens, cum_prev,
       |  cum_prev // $PackBudget AS first_bin,
       |  CASE WHEN n > 0 THEN (cum_prev + n - 1) // $PackBudget
       |       ELSE cum_prev // $PackBudget END AS last_bin,
       |  cum_prev % $PackBudget AS bin_offset
       |FROM c ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // CCNet-style LM perplexity filter (Wenzek et al. 2020): a char-
  // trigram LM with add-one smoothing trained on the deterministic
  // doc_id % 10 == 0 reference slice, scoring every document by mean
  // log10 P(c3|c1c2). The model is alphabet-bounded (29^3), so scoring
  // is a zero-shuffle codegen'd walk; the oracle retrains and rescores
  // the whole model in SQL (floats → round(…,4) per repo convention).
  // ---------------------------------------------------------------
  def qLmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val model = graft.text.CharTrigramLm.train(
      docs.filter(col("doc_id") % 10 === 0), "text")
    val s = graft.text.CharTrigramLm.score(
      graft.text.CharTrigramLm.normalize(col("text")), model)
    docs.select(col("doc_id"), s.as("s"))
      .select(col("doc_id"), col("s.n_tri").as("n_tri"),
        round(when(col("s.n_tri") > 0, col("s.sum_logprob") / col("s.n_tri")), 4)
          .as("mean_logprob"))
      .orderBy("doc_id")
  }
  // ---------------------------------------------------------------
  // fastText-style quality-classifier inference (the FineWeb-Edu /
  // LLaMA curation stage): hashed unigram+bigram features → weight
  // lookup → mean → sigmoid, as ONE zero-shuffle projection. Weights
  // are a deterministic synthetic model (w[i] from a Knuth-multiplier
  // residue) standing in for an offline-trained array; the oracle
  // recomputes features, buckets, weights and the sigmoid end to end.
  // ---------------------------------------------------------------
  val ClassifierBuckets = 512
  def qQualityClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    // literal weight array: w[i] = ((i·2654435761) mod 2000)/1000 − 1
    val weights = Array.tabulate(ClassifierBuckets)(i =>
      (i.toLong * 2654435761L % 2000L).toDouble / 1000.0 - 1.0)
    graft.text.TextAnalysis.hashedLinearScoreDf(
        docs, "text", weights, ClassifierBuckets)
      .select(col("doc_id"), col("s.n_feats").as("n_feats"),
        round(col("s.score"), 4).as("score"))
      .orderBy("doc_id")
  }
  val qQualityClassifierSql: String =
    s"""WITH d AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(lower(coalesce(text, '')), '\\s+'),
       |                w -> len(w) > 0) AS toks
       |  FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    list_concat(toks,
       |      CASE WHEN len(toks) >= 2 THEN
       |        list_transform(range(1, len(toks)),
       |          i -> toks[CAST(i AS INT)] || '_' || toks[CAST(i AS INT) + 1])
       |      ELSE [] END) AS feats
       |  FROM d),
       |b AS (
       |  SELECT doc_id, len(feats) AS n,
       |    list_transform(feats, x ->
       |      (len(x) * 97
       |       + ascii(substring(x, 1, 1)) * 961
       |       + ascii(substring(x, CAST((len(x) + 1) // 2 AS INT), 1)) * 31
       |       + ascii(substring(x, CAST(len(x) AS INT), 1))) % $ClassifierBuckets) AS idx
       |  FROM f)
       |SELECT doc_id, CAST(n AS BIGINT) AS n_feats,
       |  round(1.0 / (1.0 + exp(-(CASE WHEN n > 0 THEN
       |    list_reduce(list_prepend(0.0, list_transform(idx,
       |      i -> ((i * 2654435761) % 2000) / 1000.0 - 1.0)),
       |      (a, x) -> a + x) / n
       |  ELSE 0.0 END))), 4) AS score
       |FROM b ORDER BY doc_id""".stripMargin

  val qLmPerplexitySql: String =
    s"""WITH n AS (
       |  SELECT doc_id,
       |    regexp_replace(lower(regexp_replace(regexp_replace(
       |      coalesce(text, ''), '\\s', ' ', 'g'),
       |      '[^a-zA-Z0-9 ]+', '_', 'g')), '[0-9]', '0', 'g') AS s
       |  FROM documents),
       |tg AS (
       |  -- derived per-doc bound (see q_span_removal): no fixed trigram cap
       |  SELECT doc_id, substr(s, CAST(i + 1 AS INT), 3) AS tri
       |  FROM (SELECT doc_id, s, unnest(range(0, len(s) - 2)) AS i FROM n)),
       |model AS (
       |  SELECT tri, count(*) AS c3 FROM tg WHERE doc_id % 10 = 0 GROUP BY tri),
       |model2 AS (
       |  SELECT substr(tri, 1, 2) AS bi, sum(c3) AS c2 FROM model GROUP BY 1),
       |scored AS (
       |  SELECT tg.doc_id, count(*) AS n_tri,
       |    sum(log10((coalesce(m.c3, 0) + 1.0) / (coalesce(b.c2, 0) + 29.0))) AS slp
       |  FROM tg
       |  LEFT JOIN model m USING (tri)
       |  LEFT JOIN model2 b ON substr(tg.tri, 1, 2) = b.bi
       |  GROUP BY tg.doc_id)
       |SELECT n.doc_id, CAST(coalesce(sc.n_tri, 0) AS BIGINT) AS n_tri,
       |  round(sc.slp / sc.n_tri, 4) AS mean_logprob
       |FROM n LEFT JOIN scored sc USING (doc_id) ORDER BY n.doc_id""".stripMargin
}
