package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.Ann
import graft.sources.Facts

/** Round-4 driver queries. */
object QueriesR4 {

  // ---------------------------------------------------------------
  // Deterministic spherical k-means (semantic-dedup clustering / trained
  // IVF quantizer): k=8, two Lloyd iterations, centroids = exact
  // e6-quantized integer sums (cosine is scale-invariant, so the sum IS
  // the mean direction and no order-dependent float accumulation exists
  // anywhere). The oracle unrolls both iterations in SQL — quantization,
  // fused-argmax assignment (sim DESC, cent ASC ties), exact integer
  // centroid sums, empty-cluster carry — and the final per-cluster
  // (size, min id, centroid component 0) must hash-match.
  // ---------------------------------------------------------------
  val KmeansK = 8
  val KmeansIters = 2
  def qKmeans(spark: SparkSession, dir: String): DataFrame = {
    val emb = tbl(spark, dir, "embeddings")
    val cents = Ann.kmeansCentroids(emb, k = KmeansK, iters = KmeansIters, dim = 64)
    val c0 = typedLit(cents.map(_(0)).toSeq)
    Ann.kmeansAssign(emb, cents)
      .groupBy(col("cluster").cast("long").as("cluster"))
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_id"))
      .withColumn("c0", element_at(c0, col("cluster").cast("int") + 1))
      .orderBy("cluster")
  }
  // Cosine spelled explicitly as dot/(sqrt(na)*sqrt(nb)) from
  // list_inner_product — the SAME formula NearestCells/CosineSim compute —
  // rather than trusting list_cosine_similarity's internal accumulation to
  // agree (it happens to on these datasets, but it is not contractual).
  private[queries] def cos(a: String, b: String): String =
    s"(list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * sqrt(list_inner_product($b, $b))))"

  /** The k-means training unrolled as a CTE chain (`e`, `c0`,
    * (`a_i`,`s_i`,`c_i`)×iters) — final centroids land in `c<iters>`.
    * Shared by the q_kmeans oracle and the trained-IVF oracle
    * (QueriesR5.qAnnIvfTrainedSql), so both replay the IDENTICAL
    * training arithmetic.
    */
  private[queries] val kmeansCteChain: String = {
    def iter(prev: String, a: String, s: String, next: String): String =
      s"""$a AS (SELECT vec_id, q, cent FROM (
         |   SELECT e.vec_id, e.q, c.cent,
         |     row_number() OVER (PARTITION BY e.vec_id ORDER BY
         |       ${cos("e.v", "list_transform(c.cs, x -> x::DOUBLE)")} DESC,
         |       c.cent) AS rk
         |   FROM e CROSS JOIN $prev c) WHERE rk = 1),
         |$s AS (SELECT cent, list(s ORDER BY pos) AS cs FROM (
         |   SELECT a.cent, t.pos, SUM(a.q[t.pos + 1]) AS s
         |   FROM $a a CROSS JOIN range(64) t(pos)
         |   GROUP BY a.cent, t.pos) GROUP BY cent),
         |$next AS (SELECT p.cent, COALESCE($s.cs, p.cs) AS cs
         |  FROM $prev p LEFT JOIN $s USING (cent))""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |    list_transform(embedding::DOUBLE[],
       |      x -> CAST(round(x * 1000000.0) AS BIGINT)) AS q
       |  FROM embeddings),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cent, q AS cs
       |  FROM (SELECT vec_id, q FROM e ORDER BY vec_id LIMIT $KmeansK)),
       |${iter("c0", "a1", "s1", "c1")},
       |${iter("c1", "a2", "s2", "c2")}""".stripMargin
  }

  val qKmeansSql: String =
    s"""WITH $kmeansCteChain,
       |af AS (SELECT vec_id, cent FROM (
       |   SELECT e.vec_id, c.cent,
       |     row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |       ${cos("e.v", "list_transform(c.cs, x -> x::DOUBLE)")} DESC,
       |       c.cent) AS rk
       |   FROM e CROSS JOIN c2 c) WHERE rk = 1)
       |SELECT af.cent AS cluster, count(*) AS n, min(af.vec_id) AS min_id,
       |  CAST(any_value(c2.cs[1]) AS BIGINT) AS c0
       |FROM af JOIN c2 ON af.cent = c2.cent
       |GROUP BY af.cent ORDER BY cluster""".stripMargin

  // ---------------------------------------------------------------
  // fact-courier analog (munin.go / munintype.go): events shaped into
  // periodic metric samples — plugin = event_type, two fields per
  // plugin, DST type a deterministic function of (plugin, field) so all
  // three munin types (GAUGE/COUNTER/DERIVE, including the counter-wrap
  // branch: values decrease freely in this data) are exercised — then
  // Facts.factEvents computes each field's real value and the
  // metricsets envelope. The oracle recomputes the whole lattice
  // (boundary truncation, per-series lag window, DST arithmetic,
  // requires-previous drop, envelope) in SQL; the facts map is exploded
  // to rows so every calculated value is hash-compared. Values ship as
  // e4-scaled BIGINTs (round(x*10⁴)) rather than round(x,4) doubles:
  // rates like Δ/300 are decimal-half-way at 4 digits by construction,
  // and the two engines' round(,4) implementations resolve the tie from
  // different representations (Spark from the shortest-digits decimal,
  // DuckDB from the multiplied double) — multiplying first makes both
  // engines round the SAME double, so the tie resolves identically.
  // ---------------------------------------------------------------
  def qFacts(spark: SparkSession, dir: String): DataFrame = {
    val ev = tbl(spark, dir, "events")
    val dstIdx = (length(col("plugin")) + col("fidx")) % 3
    val samples = ev
      .select(
        Facts.collectionBoundary(col("ts"), 300).as("ts"),
        col("event_type").as("plugin"),
        (col("user_id") % 2).as("fidx"),
        col("value"))
      .withColumn("field", concat(lit("m"), col("fidx").cast("string")))
      .withColumn("dst",
        when(dstIdx === 0, "GAUGE").when(dstIdx === 1, "COUNTER").otherwise("DERIVE"))
      // one sample per (plugin, field, collection) — the munin runner
      // contract; last-wins within a boundary is modelled as max()
      .groupBy("ts", "plugin", "field", "dst").agg(max("value").as("value"))
    Facts.factEvents(samples)
      .select(col("ts"), col("type"), col("dataset"),
        col("metricset_module"), col("metricset_name"), explode(col("facts")))
      .select(col("ts"), col("type"), col("dataset"),
        col("metricset_module"), col("metricset_name"),
        col("key").as("field"),
        round(col("value") * lit(10000.0)).cast("long").as("value_e4"))
      .orderBy("ts", "dataset", "field")
  }
  val qFactsSql: String =
    """WITH samples AS (
      |  SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 300) * 300 AS ts,
      |         event_type AS plugin,
      |         'm' || CAST(user_id % 2 AS VARCHAR) AS field,
      |         CASE CAST((length(event_type) + (user_id % 2)) % 3 AS INTEGER)
      |           WHEN 0 THEN 'GAUGE' WHEN 1 THEN 'COUNTER' ELSE 'DERIVE' END AS dst,
      |         max(value) AS value
      |  FROM events GROUP BY 1, 2, 3, 4),
      |lagged AS (
      |  SELECT ts, plugin, field, dst, value,
      |         lag(value) OVER w AS pv, lag(ts) OVER w AS pt
      |  FROM samples WINDOW w AS (PARTITION BY plugin, field ORDER BY ts)),
      |vals AS (
      |  SELECT ts, plugin, field,
      |    CASE dst WHEN 'GAUGE' THEN value
      |      WHEN 'DERIVE' THEN (value - pv) / (ts - pt)
      |      ELSE CASE WHEN pv <= value THEN (value - pv) / (ts - pt)
      |                WHEN pv <= 4294967296.0 THEN (4294967296.0 - pv + value) / (ts - pt)
      |                ELSE (18446744073709551616.0 - pv + value) / (ts - pt) END
      |    END AS calc
      |  FROM lagged WHERE dst = 'GAUGE' OR pv IS NOT NULL)
      |SELECT ts, 'metricsets' AS type,
      |  'fact-courier.munin.' || plugin AS dataset,
      |  'fact-courier' AS metricset_module,
      |  'munin.' || plugin AS metricset_name,
      |  field, CAST(round(calc * 10000.0) AS BIGINT) AS value_e4
      |FROM vals ORDER BY ts, dataset, field""".stripMargin
}
