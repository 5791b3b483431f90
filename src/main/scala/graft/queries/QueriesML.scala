package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.multimodal.Multimodal
import graft.sim.Ann
import graft.text.TextAnalysis

/** Training-data pipeline operators (dedup / similarity / text analysis /
  * multimodal) as driver-verified queries over `documents` and
  * `embeddings`.
  */
object QueriesML {

  // ---------------------------------------------------------------
  // Exact dedup (hash-groupBy)
  // ---------------------------------------------------------------
  def qDedupExact(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    Dedup.exact(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_copies")).as("n_total"))
      .orderBy("lang")
  }
  val qDedupExactSql: String =
    """SELECT lang, count(*) AS n_kept, CAST(sum(n) AS BIGINT) AS n_total FROM (
      |  SELECT min(doc_id) AS doc_id, count(*) AS n FROM documents GROUP BY text
      |) k JOIN documents USING (doc_id) GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------
  // N-gram Jaccard near-dup pairs — exact, via inverted-index posting
  // lists, with the stop-shingle cap ON (a shingle appearing in > maxDf
  // docs saturates its bounded posting list and is dropped in the same
  // aggregation pass — the skew guard that keeps a hot shingle from
  // exploding the pair expansion at scale, with no corpus-dependent
  // broadcast anywhere). The oracle mirrors the identical df-filter:
  // intersections counted over kept shingles only, sizes from the full
  // shingle sets.
  // ---------------------------------------------------------------
  val DedupPairsMaxDf = 20L
  def qDedupPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.jaccardPairs(tbl(spark, dir, "documents"), "doc_id", "text",
        threshold = 0.8, n = 3, maxDf = DedupPairsMaxDf)
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")
  val qDedupPairsSql: String = jaccardPairsSql(0.8, maxDf = DedupPairsMaxDf)

  private def jaccardPairsSql(threshold: Double, maxDf: Long = Long.MaxValue): String = {
    val keptCte =
      if (maxDf == Long.MaxValue) "kept AS (SELECT * FROM sh),"
      else
        s"""hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > $maxDf),
           |kept AS (SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hot USING (s)),""".stripMargin
    s"""WITH words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
       |    range(1, greatest(len(ws) - 1, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS s
       |  FROM words WHERE len(ws) >= 3),
       |$keptCte
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(c::DOUBLE / (sa.n + sb.n - c), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE c::DOUBLE / (sa.n + sb.n - c) >= $threshold
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // ---------------------------------------------------------------
  // MinHash + LSH near-dup pairs (banded bucket join + exact verify);
  // the oracle is the exact all-pairs SQL — equality holds because the
  // deterministic 16×4 banding catches every pair at j≥0.8 on this
  // corpus (validated; at j=0.8 the analytic miss rate is ~1e-6)
  // ---------------------------------------------------------------
  def qDedupMinhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.minHashPairs(tbl(spark, dir, "documents"), "doc_id", "text",
        threshold = 0.8, k = 64, bands = 16, n = 3)
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")
  val qDedupMinhashSql: String = jaccardPairsSql(0.8)

  // ---------------------------------------------------------------
  // ANN: brute-force cosine top-k (baseline; LSH/IVF variants in
  // graft.sim.Ann are the scale path, exercised in AnnSpec)
  // ---------------------------------------------------------------
  def qAnnCosine(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
      .orderBy("query_id", "rank")
  }
  val qAnnCosineSql: String =
    """WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qvec
      |  FROM embeddings WHERE vec_id < 10),
      |sims AS (SELECT q.query_id, e.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.qvec, e.embedding::DOUBLE[]) AS sim
      |  FROM q JOIN embeddings e ON e.vec_id != q.query_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
      |SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // Near-dup clusters → dedup verdict: connected components over the
  // jaccard pair list (min-label propagation), keep min(doc_id) per
  // cluster. Oracle: recursive-CTE transitive closure over the same
  // exact pair list.
  // ---------------------------------------------------------------
  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val pairs = Dedup.jaccardPairs(docs, "doc_id", "text",
      threshold = 0.8, n = 3, maxDf = DedupPairsMaxDf)
    Dedup.dedupByClusters(docs, pairs, "doc_id")
      .orderBy("doc_id")
  }
  val qDedupClustersSql: String =
    s"""WITH RECURSIVE words AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT DISTINCT doc_id, unnest(list_transform(
       |    range(1, greatest(len(ws) - 1, 1)),
       |    i -> array_to_string(ws[i:i+2], ' '))) AS s
       |  FROM words WHERE len(ws) >= 3),
       |hot AS (SELECT s FROM sh GROUP BY s HAVING count(*) > $DedupPairsMaxDf),
       |kept AS (SELECT sh.doc_id, sh.s FROM sh ANTI JOIN hot USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
       |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id GROUP BY 1, 2),
       |pairs AS (SELECT doc_a, doc_b FROM inter
       |  JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
       |  WHERE c::DOUBLE / (sa.n + sb.n - c) >= 0.8),
       |edges AS (SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |lbl AS (SELECT a AS doc_id, min(b) AS mn FROM reach GROUP BY a)
       |SELECT d.doc_id,
       |  CAST(least(d.doc_id, coalesce(l.mn, d.doc_id)) AS BIGINT) AS kept_id,
       |  least(d.doc_id, coalesce(l.mn, d.doc_id)) = d.doc_id AS survives
       |FROM documents d LEFT JOIN lbl l USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // SimHash near-dup pairs (4×16-bit band pigeonhole + hamming verify).
  // The 64-bit token hash is md5-derived (first 16 hex chars of the md5
  // digest — Hashes.md5Hash64) precisely so the whole fingerprint is SQL-
  // expressible: the oracle recomputes every fingerprint bit-for-bit in
  // DuckDB and checks pairs with the naive all-pairs hamming scan, which
  // the banded bucket join must equal exactly (pigeonhole guarantees
  // recall at hamming ≤ 3; verification removes band-collision extras).
  // ---------------------------------------------------------------
  def qDedupSimhash(spark: SparkSession, dir: String): DataFrame =
    Dedup.simHashPairs(tbl(spark, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
      .withColumnRenamed("id_a", "doc_a").withColumnRenamed("id_b", "doc_b")
      .orderBy("doc_a", "doc_b")
  val qDedupSimhashSql: String =
    """WITH toks AS (
      |  SELECT doc_id, list_transform(string_split(text, ' '),
      |    w -> CAST('0x' || substring(md5(w), 1, 16) AS UBIGINT)) AS hs
      |  FROM documents),
      |fp AS (
      |  SELECT doc_id, CAST(list_aggregate(list_transform(range(0, 64),
      |    b -> CASE WHEN 2 * len(list_filter(hs, h -> ((h >> b) & 1) = 1)) > len(hs)
      |              THEN (CAST(1 AS UBIGINT) << b) ELSE CAST(0 AS UBIGINT) END),
      |    'bit_or') AS UBIGINT) AS f
      |  FROM toks)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  CAST(bit_count(xor(a.f, b.f)) AS INTEGER) AS hamming
      |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.f, b.f)) <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  // ---------------------------------------------------------------
  // Embedding near-dup pairs via LSH buckets + exact verification —
  // the scale path (bucket equi-join, never an all-pairs cartesian).
  //
  // Corpus: `embeddings` unioned with deterministically re-scaled
  // copies of every 5th vector (the classic un-normalised-duplicate
  // dedup scenario: the same content embedded twice at different
  // norms has cosine exactly 1). Threshold 0.99 — true near-dup
  // territory, where sign-bit LSH recall is *provable*: a positively
  // scaled vector has identical hyperplane sign bits, so every dup
  // pair lands in the same bucket by construction; background pairs
  // (max cosine ≈ 0.51 in this corpus) are filtered by the exact
  // CosineSim verification of candidates only. The oracle is the
  // exact brute-force SQL over the same derived corpus.
  //
  // (The previous brute-force query at threshold 0.45 verified a
  // BroadcastNestedLoopJoin; at cosine 0.45 — a ~63° angle — LSH is
  // information-theoretically no better than a linear scan, so the
  // honest scale demo is a high-threshold dedup corpus, not a low
  // threshold over background pairs.)
  // ---------------------------------------------------------------
  private[queries] val EmbedCopyIdOffset = 100000L
  def embedDedupCorpus(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
    val copies = emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + EmbedCopyIdOffset).as("vec_id"),
        transform(col("embedding"), x => x * lit(1.5)).as("embedding"))
    emb.unionByName(copies)
  }
  // nbits derived from the corpus count (Ann.nbitsFor: ceil(log2 n)+4), so
  // the bucket space tracks the corpus and within-bucket join work stays
  // O(1) per vector at any scale; recall on positively-scaled duplicates
  // is width-independent (identical sign bits), so the oracle equality
  // holds at every derived width. The count is passed in (base table count
  // — a zero-column parquet scan — plus the planted-copy upper bound
  // ceil(n/5)) instead of counting the derived corpus, saving the extra
  // union+transform job; nbitsFor only needs the magnitude. The occupancy
  // guard runs at 1000 so the *verified* plan is the guarded one — on this
  // corpus no bucket comes near the cap (AnnSpec pins that the guard is a
  // no-op here), but a degenerate input (one constant vector × 10⁷) gets
  // its exploding bucket dropped instead of hanging the self-join.
  val EmbedNearDupMaxOccupancy = 1000L
  def qEmbedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val base = tbl(spark, dir, "embeddings").count()
    Ann.lshNearDupPairs(embedDedupCorpus(spark, dir), threshold = 0.99, dim = 64,
        maxBucketOccupancy = EmbedNearDupMaxOccupancy,
        knownCount = base + (base + 4) / 5)
      .orderBy("id_a", "id_b")
  }
  val qEmbedNearDupSql: String =
    s"""WITH corpus AS (
      |  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + $EmbedCopyIdOffset,
      |    list_transform(embedding::DOUBLE[], x -> x * 1.5)
      |  FROM embeddings WHERE vec_id % 5 = 0)
      |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |  round(list_cosine_similarity(a.v, b.v), 4) AS sim
      |FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.v, b.v) >= 0.99
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------
  // IVF ANN top-k — the scale path for large query sets: corpus binned
  // into nlist coarse cells (deterministic centroids = first nlist
  // vectors), each query probes its nprobe nearest cells only, so
  // per-query work is ~corpus/nlist×nprobe instead of the full corpus.
  // Oracle mirrors the identical assignment + probing in SQL.
  // ---------------------------------------------------------------
  def qAnnIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    Ann.ivfTopK(emb, emb.filter(col("vec_id") < 10), k = 5, nlist = 16, nprobe = 4)
      .orderBy("query_id", "rank")
  }
  val qAnnIvfSql: String =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cents AS (SELECT vec_id AS cent_id, v AS cvec FROM e ORDER BY vec_id LIMIT 16),
      |corpus_assign AS (
      |  SELECT vec_id, v, cent_id FROM (
      |    SELECT e.vec_id, e.v, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cent_id) AS rk
      |    FROM e CROSS JOIN cents c) WHERE rk = 1),
      |query_assign AS (
      |  SELECT vec_id AS query_id, v AS qvec, cent_id FROM (
      |    SELECT e.vec_id, e.v, c.cent_id,
      |      row_number() OVER (PARTITION BY e.vec_id
      |        ORDER BY list_cosine_similarity(e.v, c.cvec) DESC, c.cent_id) AS rk
      |    FROM e CROSS JOIN cents c WHERE e.vec_id < 10) WHERE rk <= 4),
      |sims AS (SELECT q.query_id, ca.vec_id AS neighbor_id,
      |    list_cosine_similarity(q.qvec, ca.v) AS sim
      |  FROM query_assign q JOIN corpus_assign ca USING (cent_id)
      |  WHERE ca.vec_id != q.query_id),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY query_id
      |    ORDER BY sim DESC, neighbor_id) AS rank FROM sims)
      |SELECT query_id, rank, neighbor_id, round(sim, 4) AS sim
      |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---------------------------------------------------------------
  // L2 normalization (embedding preprocessing): per-vector norm and the
  // first normalized component — pure column fold, no shuffle
  // ---------------------------------------------------------------
  def qEmbedNormalize(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val v = col("embedding")
    // + 0.0 normalizes IEEE negative zero: round(-1e-5, 4) yields -0.0 in
    // one engine and 0.0 in the other — numerically equal, but the
    // driver's hash stringifies them differently
    emb.select(
        col("vec_id"),
        (round(Ann.l2Norm(v), 4) + lit(0.0)).as("norm"),
        (round(element_at(v.cast("array<double>"), 1) / Ann.l2Norm(v), 4) + lit(0.0)).as("n1"))
      .orderBy("vec_id")
  }
  val qEmbedNormalizeSql: String =
    """SELECT vec_id,
      |  round(sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) + 0.0 AS norm,
      |  round(embedding[1]::DOUBLE /
      |    sqrt(list_sum(list_transform(embedding::DOUBLE[], x -> x * x))), 4) + 0.0 AS n1
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // ---------------------------------------------------------------
  // Language-ID heuristic
  // ---------------------------------------------------------------
  def qLangId(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(TextAnalysis.langId(col("text")).as("pred_lang"))
      .groupBy("pred_lang").agg(count(lit(1)).as("n"))
      .orderBy("pred_lang")
  val qLangIdSql: String = {
    val scores = TextAnalysis.LangMarkers.map { case (lang, ms) =>
      val s = ms.map(m => s"len(regexp_extract_all(text, '\\b$m\\b'))").mkString(" + ")
      lang -> s"($s)"
    }
    val best = s"greatest(${scores.map(_._2).mkString(", ")})"
    val caseExpr = scores.map { case (lang, s) =>
      s"WHEN $s = best AND best > 0 THEN '$lang'"
    }.mkString(" ")
    s"""SELECT pred_lang, count(*) AS n FROM (
       |  SELECT CASE $caseExpr ELSE 'unknown' END AS pred_lang FROM (
       |    SELECT text, $best AS best FROM documents))
       |GROUP BY 1 ORDER BY pred_lang""".stripMargin
  }

  // ---------------------------------------------------------------
  // Quality scoring + token counting (per-doc, no cross-row float sums)
  // ---------------------------------------------------------------
  def qTextQuality(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents").select(
      col("doc_id"),
      TextAnalysis.wsTokenCount(col("text")).cast("long").as("ws_tokens"),
      TextAnalysis.regexTokenCount(col("text")).cast("long").as("re_tokens"),
      round(TextAnalysis.stopwordRatio(col("text")), 4).as("stop_ratio"),
      TextAnalysis.qualityScore(col("text")).as("quality"))
      .orderBy("doc_id")
  val qTextQualitySql: String = {
    val stops = TextAnalysis.Stopwords.map(s => s"'$s'").mkString(", ")
    s"""WITH t AS (SELECT doc_id, text,
       |    list_filter(regexp_split_to_array(coalesce(text, ''), '\\s+'),
       |                w -> len(w) > 0) AS ws
       |  FROM documents)
       |SELECT doc_id,
       |  len(ws)::BIGINT AS ws_tokens,
       |  len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))::BIGINT AS re_tokens,
       |  CASE WHEN len(ws) = 0 THEN round(0.0, 4)
       |       ELSE round(len(list_filter(ws, w -> lower(w) IN ($stops)))::DOUBLE / len(ws), 4)
       |  END AS stop_ratio,
       |  round((least(len(ws)::DOUBLE / 100.0, 1.0) +
       |    least((CASE WHEN len(ws) = 0 THEN 0.0
       |           ELSE len(list_filter(ws, w -> lower(w) IN ($stops)))::DOUBLE / len(ws) END) * 4.0, 1.0) +
       |    (CASE WHEN len(text) = 0 THEN 0.0
       |     ELSE (len(text) - len(regexp_replace(text, '[A-Za-z]', '', 'g')))::DOUBLE / len(text) END)
       |   ) / 3.0, 4) AS quality
       |FROM t ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------
  // Document fingerprint (order-sensitive rolling hash)
  // ---------------------------------------------------------------
  def qFingerprint(spark: SparkSession, dir: String): DataFrame =
    tbl(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  val qFingerprintSql: String =
    """SELECT doc_id,
      |  list_reduce(
      |    list_prepend(7::BIGINT, list_transform(
      |      list_filter(regexp_split_to_array(coalesce(text, ''), '\s+'),
      |                  w -> len(w) > 0),
      |      w -> len(w) * 17 + ascii(substring(w, 1, 1)))),
      |    (acc, x) -> (acc * 31 + x) % 1000000007) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------
  // Deterministic content-hash sampling (train/val split): md5 of the
  // text is stable across engines and reruns — the standard way to
  // split a 100 TB corpus without a shuffle or a stored assignment
  // ---------------------------------------------------------------
  def qSampleSplit(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val hex1 = substring(md5(col("text")), 1, 1)
    docs.select(
        when(hex1.isin("e", "f"), "val").otherwise("train").as("split"),
        col("lang"))
      .groupBy("split", "lang").agg(count(lit(1)).as("n"))
      .orderBy("split", "lang")
  }
  val qSampleSplitSql: String =
    """SELECT CASE WHEN substring(md5(text), 1, 1) IN ('e', 'f')
      |  THEN 'val' ELSE 'train' END AS split, lang, count(*) AS n
      |FROM documents GROUP BY 1, 2 ORDER BY split, lang""".stripMargin

  // ---------------------------------------------------------------
  // Token-length histogram (quality filtering staple): corpus length
  // distribution in one aggregate pass
  // ---------------------------------------------------------------
  def qTokenHist(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    docs.select((floor(TextAnalysis.wsTokenCount(col("text")) / 50) * 50)
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
      .orderBy("bucket")
  }
  val qTokenHistSql: String =
    """SELECT CAST(floor(len(list_filter(
      |      regexp_split_to_array(coalesce(text, ''), '\s+'),
      |      w -> len(w) > 0)) / 50) * 50 AS BIGINT) AS bucket,
      |  count(*) AS n_docs
      |FROM documents GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---------------------------------------------------------------
  // Top-k terms per language: generator (explode) + per-group ranked
  // window — the §2.11 "UDTF + top-k" relational categories together
  // ---------------------------------------------------------------
  def qTopTerms(spark: SparkSession, dir: String): DataFrame = {
    val docs = tbl(spark, dir, "documents")
    val words = docs.select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(length(col("w")) > 0)
    val counts = words.groupBy("lang", "w").agg(count(lit(1)).as("n"))
    val wnd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang")).orderBy(col("n").desc, col("w"))
    counts.withColumn("rank", row_number().over(wnd))
      .filter(col("rank") <= 5)
      .select(col("lang"), col("rank"), col("w").as("term"), col("n"))
      .orderBy("lang", "rank")
  }
  val qTopTermsSql: String =
    """WITH words AS (
      |  SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents),
      |counts AS (SELECT lang, w, count(*) AS n FROM words WHERE len(w) > 0 GROUP BY 1, 2),
      |ranked AS (SELECT *, row_number() OVER (PARTITION BY lang
      |    ORDER BY n DESC, w) AS rank FROM counts)
      |SELECT lang, rank, w AS term, n FROM ranked WHERE rank <= 5
      |ORDER BY lang, rank""".stripMargin

  // ---------------------------------------------------------------
  // Multimodal plumbing: binary payloads → partition-batched decode
  // ---------------------------------------------------------------
  def qMultimodal(spark: SparkSession, dir: String): DataFrame =
    Multimodal.decodeFeatures(Multimodal.fromDocuments(spark, dir))
      .toDF()
      .select(col("media_id"), col("modality"), col("n_bytes"),
        col("width").cast("long").as("width"),
        col("height").cast("long").as("height"),
        col("n_frames").cast("long").as("n_frames"))
      .orderBy("media_id")
  val qMultimodalSql: String =
    """SELECT doc_id AS media_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'image'
      |       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS modality,
      |  octet_length(encode(text)) AS n_bytes,
      |  octet_length(encode(text)) % 640 AS width,
      |  (octet_length(encode(text)) * 7) % 480 AS height,
      |  octet_length(encode(text)) // 1000 + 1 AS n_frames
      |FROM documents ORDER BY media_id""".stripMargin
}
