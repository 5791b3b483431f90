package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}
import org.apache.spark.sql.types._

import graft.dedup.Hashes

/** Cosine similarity of two double arrays in one fused JVM loop —
  * replaces an `aggregate(zip_with(...))` chain (three array traversals
  * plus lambda dispatch per element) with a single pass. Formula matches
  * the conventional dot/(|a|·|b|) with sequential accumulation.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "cosine_sim"
  override val dataType: DataType = DoubleType

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getDouble(i); val y = b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    if (na == 0.0 || nb == 0.0) java.lang.Double.valueOf(0.0)
    else java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
  def compute(a: Any, b: Any): Double = nullSafeEval(a, b).asInstanceOf[Double]

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("cosineSim", this, classOf[CosineSim].getName)
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $ref.compute($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

object CosineSim {
  def apply(a: Column, b: Column): Column =
    EU.column(CosineSim(EU.expression(a.cast("array<double>")),
      EU.expression(b.cast("array<double>"))))
}

/** Random-hyperplane LSH bucket id as ONE fused expression: `nbits` sign
  * bits of dot products with `nbits × dim` deterministic pseudo-random
  * hyperplane components, precomputed once at plan build. The naive
  * Column spelling (`nbits × dim` `element_at` nodes summed) generates a
  * multi-hundred-node tree that blows up codegen and planning; this is a
  * single tight loop per row.
  */
case class LshBucketBits(child: Expression, dim: Int, nbits: Int, seed: Long)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "lsh_bucket"
  override val dataType: DataType = LongType

  // hyperplane component matrix h(b, i) from splitmix64 → [-1, 1)
  @transient private lazy val planes: Array[Double] = {
    val a = new Array[Double](nbits * dim)
    var b = 0
    while (b < nbits) {
      var i = 0
      while (i < dim) {
        a(b * dim + i) = Hashes.mix64(seed ^ (b.toLong << 32) ^ i.toLong).toDouble /
          Long.MaxValue.toDouble
        i += 1
      }
      b += 1
    }
    a
  }

  override def nullSafeEval(v: Any): Any = java.lang.Long.valueOf(compute(v))

  def compute(v: Any): Long = {
    val arr = v.asInstanceOf[ArrayData]
    val n = math.min(arr.numElements(), dim)
    var bucket = 0L
    var b = 0
    while (b < nbits) {
      var dot = 0.0
      val off = b * dim
      var i = 0
      while (i < n) { dot += arr.getDouble(i) * planes(off + i); i += 1 }
      if (dot >= 0) bucket |= (1L << b)
      b += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("lshBucket", this, classOf[LshBucketBits].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): LshBucketBits =
    copy(child = c)
}

/** Similarity search over an embedding column.
  *
  * Baseline: brute-force top-k — broadcast the (small) query set against
  * the corpus, one window per query for the top-k. The scale path is
  * [[lshBuckets]] / [[ivfTopK]]: restrict the scan to a candidate bucket
  * set so the per-query work is corpus/`nlist`-ish instead of the full
  * corpus.
  */
object Ann {

  /** Brute-force exact top-k neighbors for each query vector.
    * `queries` must be broadcast-small (it is the build side).
    * `excludeSelf` (default, the self-search contract) drops candidates
    * whose id equals the query id; pass `false` for CROSS-corpus search
    * where the two sides have independent id spaces and an id collision
    * is NOT the same vector ([[mutualNearest]]).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val joined = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("nvec"))
      .join(broadcast(q),
        if (excludeSelf) col("neighbor_id") =!= col("query_id") else lit(true))
      .withColumn("sim", CosineSim(col("qvec"), col("nvec")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("sim"), 4).as("sim"))
  }

  /** Mutual nearest neighbors ACROSS two corpora — the mutual-best-match
    * core of bitext / parallel-corpus mining (LASER/CCMatrix-style
    * alignment: a candidate pair survives only if EACH side is the
    * other's top-1; the global-best pair is always mutual, so the
    * output is never empty on non-empty sides). Composes two exact
    * [[bruteForceTopK]] passes — the baseline contract; for
    * corpus-scale sides swap in the [[ivfTopKWith]] path, the
    * composition is unchanged — and one pair equi-join.
    */
  def mutualNearest(a: DataFrame, b: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    // excludeSelf = false: the sides are DIFFERENT corpora, so an id
    // collision is two distinct vectors, not a self-match — dropping it
    // would silently diverge from the cross-join oracle
    val fwd = bruteForceTopK(b, a, k = 1, idCol, vecCol, excludeSelf = false)
      .select(col("query_id").as("a_id"), col("neighbor_id").as("b_id"),
        col("sim"))
    val bwd = bruteForceTopK(a, b, k = 1, idCol, vecCol, excludeSelf = false)
      .select(col("query_id").as("b_id"), col("neighbor_id").as("a_id"))
    fwd.join(bwd, Seq("a_id", "b_id"))
      .select(col("a_id"), col("b_id"), (col("sim") + lit(0.0)).as("sim"))
  }

  /** Random-hyperplane LSH bucket id: `nbits` sign bits of dot products
    * with deterministic pseudo-random hyperplanes (seeded, no stored
    * model). Vectors in the same bucket are high-cosine candidates.
    * One fused codegen'd loop per row ([[LshBucketBits]]).
    */
  def lshBuckets(vec: Column, dim: Int, nbits: Int, seed: Long = 42L): Column =
    EU.column(LshBucketBits(EU.expression(vec.cast("array<double>")), dim, nbits, seed))

  /** Bucket-id width for a corpus of `n` vectors: ceil(log2 n) + 4, so the
    * bucket space is ~16× the corpus and expected occupancy stays O(1) as
    * the corpus grows — a fixed nbits makes the within-bucket self-join
    * O(n²/2^nbits), i.e. quadratic again at any real scale. Capped at 48
    * bits (256T buckets — far past any corpus that needs more).
    */
  def nbitsFor(n: Long): Int = {
    val ceilLog2 = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 2L) - 1L)
    math.min(48, ceilLog2 + 4)
  }

  /** Embedding near-dup pairs above a cosine threshold via LSH buckets +
    * exact verification (deterministic; recall bounded by bucket
    * granularity — standard LSH tradeoff, verified in AnnSpec; positively
    * scaled duplicates have identical sign bits at ANY width, so
    * duplicate recall is exact by construction).
    *
    * `nbits = 0` (default) derives the width from the corpus count via
    * [[nbitsFor]] — one count() job, skipped when the caller passes
    * `knownCount` (any upper bound within ~2× works: [[nbitsFor]] only
    * uses the magnitude, and duplicate recall is width-independent) — so
    * bucket occupancy stays bounded as the corpus scales instead of
    * collapsing into an O(n²)
    * within-bucket join. `maxBucketOccupancy` is the skew guard (the
    * `maxDf` trick applied to buckets): a bucket holding more vectors
    * than the cap is dropped from candidate generation — at a sane cap
    * this only ever fires on pathological skew (e.g. a constant vector
    * repeated millions of times), where the within-bucket pair expansion
    * would otherwise explode.
    *
    * With a finite cap the whole query is ONE shuffle: buckets become
    * bounded posting lists ([[graft.functions.BoundedCollectList]] —
    * a bucket saturates at the cap and collapses to NULL in the same
    * aggregation pass), and pairs expand inside each posting. The earlier
    * guarded shape (occupancy count → anti-join → bucket self-join) cost
    * two extra exchanges of the full vector column and, before round 4,
    * forced a broadcast of a corpus-dependent hot-bucket set. Uncapped
    * falls back to the bucket self-join (postings must stay distributed
    * when nothing bounds them).
    */
  def lshNearDupPairs(df: DataFrame, threshold: Double, dim: Int,
      nbits: Int = 0, idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketOccupancy: Long = Long.MaxValue, knownCount: Long = -1L): DataFrame = {
    val bits =
      if (nbits > 0) nbits
      else nbitsFor(if (knownCount > 0) knownCount else df.count())
    val b = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"),
      lshBuckets(col(vecCol).cast("array<double>"), dim, bits).as("bucket"))
    val paired =
      // a cap above Int.MaxValue is semantically uncapped (a 2^31-row
      // bucket has no workable within-bucket join anyway) — plain join,
      // not an error, so the Long-typed API accepts any cap
      if (maxBucketOccupancy >= Int.MaxValue) {
        // threshold INSIDE the join condition, after the cheap id test —
        // left as a post-join filter Catalyst pushes it into the
        // condition ANDed FIRST, evaluating the O(dim) cosine for BOTH
        // orderings of every same-bucket pair (the exact pathology the
        // semDedup join documents and avoids)
        b.as("a").join(b.as("b"),
            col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id") &&
              CosineSim(col("a.v"), col("b.v")) >= threshold)
          .select(col("a.id").as("ida"), col("a.v").as("va"),
            col("b.id").as("idb"), col("b.v").as("vb"))
      } else {
        val postings = b.groupBy("bucket")
          .agg(graft.functions.BoundedCollectList(
            struct(col("id"), col("v")), maxBucketOccupancy.toInt).as("ps"))
          .filter(col("ps").isNotNull) // NULL = saturated = hot bucket dropped
        postings
          .select(explode(col("ps")).as("a"), col("ps"))
          .select(col("a"), explode(col("ps")).as("b"))
          .filter(col("a.id") < col("b.id"))
          .select(col("a.id").as("ida"), col("a.v").as("va"),
            col("b.id").as("idb"), col("b.v").as("vb"))
      }
    val sims = paired.withColumn("sim", CosineSim(col("va"), col("vb")))
    // the uncapped branch already applied the threshold INSIDE the join;
    // re-filtering would push a SECOND cosine into the condition
    val kept =
      if (maxBucketOccupancy >= Int.MaxValue) sims
      else sims.filter(col("sim") >= threshold)
    kept.select(col("ida").as("id_a"), col("idb").as("id_b"),
      round(col("sim"), 4).as("sim"))
  }

  /** L2 normalization of an embedding column — the standard preprocessing
    * step before cosine-metric indexing (normalized vectors make cosine a
    * dot product). One fold + one map, no shuffle.
    */
  def l2Norm(vec: Column): Column =
    sqrt(aggregate(vec.cast("array<double>"), lit(0.0d), (acc, x) => acc + x * x))

  /** IVF-style top-k: corpus assigned to `nlist` coarse cells (the
    * deterministic first-`nlist` corpus vectors serve as centroids);
    * each query probes its `nprobe` nearest cells only.
    *
    * Cell assignment is a per-row argmax over the centroid matrix baked
    * into ONE fused expression ([[NearestCells]]) — zero shuffle, zero
    * join. The previous spelling (broadcast-join corpus×nlist then
    * `row_number` over a per-row window) exchanged nlist× the corpus
    * through a sort just to pick each row's best cell; at 10⁸ vectors ×
    * 4096 cells that is a 4×10¹¹-row shuffle for what is arithmetic.
    * Collecting the centroids to the driver is the IVF contract — the
    * coarse quantizer is broadcast-sized by definition (nlist rows).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int, nlist: Int,
      nprobe: Int, idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val centRows = corpus.orderBy(col(idCol)).limit(nlist)
      .select(col(idCol).cast("long").as("cent_id"),
        col(vecCol).cast("array<double>").as("cvec"))
      .collect() // bounded: exactly nlist rows — the quantizer, not the data
    ivfTopKWith(corpus, queries, k,
      centRows.map(_.getLong(0)), centRows.map(_.getSeq[Double](1).toArray),
      nprobe, idCol, vecCol)
  }

  /** [[ivfTopK]] probing a TRAINED coarse quantizer — the
    * [[kmeansCentroids]] output (cent ids 0..k-1; the e6-quantized
    * integer sums are valid centroids as-is, cosine being
    * scale-invariant). This is the stated purpose of the k-means
    * primitive: train once, then assign/probe against the trained cells
    * instead of the untrained first-`nlist` baseline.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      cents: Array[Array[Long]], nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfTopKWith(corpus, queries, k,
      Array.tabulate(cents.length)(_.toLong), cents.map(_.map(_.toDouble)),
      nprobe, idCol, vecCol)

  /** IVF probing over an explicit quantizer (cent id/vector arrays). */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame, k: Int,
      centIds: Array[Long], centVecs: Array[Array[Double]], nprobe: Int,
      idCol: String, vecCol: String): DataFrame = {
    def cells(vec: Column, probes: Int): Column =
      EU.column(NearestCells(EU.expression(vec), centIds, centVecs, probes))
    val corpusCells = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).cast("array<double>").as("nvec"))
      .withColumn("cent_id", element_at(cells(col("nvec"), 1), 1))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("cent_id", explode(cells(col("qvec"), nprobe)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    // no broadcast hint: a small query set auto-broadcasts (AQE), but IVF
    // is exactly the path meant for query sets too big to broadcast —
    // there the join correctly shuffles both sides by cent_id
    corpusCells.join(queryCells, Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("sim", CosineSim(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("sim"), 4).as("sim"))
  }

  /** Hard-negative mining for contrastive embedding training: for each
    * query vector, the `k` most-similar corpus vectors with a DIFFERENT
    * label — the candidates that teach a model the most (high-similarity
    * wrong-class pairs). Same scale shape as [[ivfTopKWith]]: zero-shuffle
    * fused cell assignment, candidates bounded to the probed cells, one
    * cent_id equi-join; the label-mismatch predicate rides the join
    * output BEFORE the cosine/rank work, so same-label candidates cost
    * one integer comparison, not a cosine.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
      centIds: Array[Long], centVecs: Array[Array[Double]], nprobe: Int,
      idCol: String, vecCol: String, labelCol: String): DataFrame = {
    def cells(vec: Column, probes: Int): Column =
      EU.column(NearestCells(EU.expression(vec), centIds, centVecs, probes))
    val corpusCells = corpus
      .select(col(idCol).as("neighbor_id"), col(labelCol).as("neg_label"),
        col(vecCol).cast("array<double>").as("nvec"))
      .withColumn("cent_id", element_at(cells(col("nvec"), 1), 1))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(labelCol).as("q_label"),
        col(vecCol).cast("array<double>").as("qvec"))
      .withColumn("cent_id", explode(cells(col("qvec"), nprobe)))
    val w = Window.partitionBy(col("query_id")).orderBy(col("sim").desc, col("neighbor_id"))
    corpusCells.join(queryCells, Seq("cent_id"))
      .filter(col("neighbor_id") =!= col("query_id") &&
        col("neg_label") =!= col("q_label"))
      .withColumn("sim", CosineSim(col("qvec"), col("nvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), round(col("sim"), 4).as("sim"))
  }

  /** Deterministic distributed spherical k-means over an embedding column
    * — the clustering primitive behind SemDeDup-style semantic dedup and
    * a TRAINED coarse quantizer for [[ivfTopK]]-style probing (the
    * first-`nlist` quantizer is the untrained baseline).
    *
    * Engineered for bit-exact cross-engine reproducibility, which plain
    * Lloyd's cannot give (a float mean is a cross-row float sum whose
    * value depends on partial-aggregation order):
    *
    *  - components are quantized once to e6-scaled integers
    *    (`round(x·10⁶)` as long) and each centroid is the EXACT per-dim
    *    integer SUM of its members — `sum(long)` is associative, so any
    *    partial-aggregation order yields the same centroid;
    *  - cosine is scale-invariant, so the un-normalized sum IS the
    *    spherical-k-means mean direction — no division, no float
    *    centroid anywhere;
    *  - init: `"first"` (default) = the first `k` corpus vectors by id
    *    (quantized) — cheapest, fine on unordered corpora, and the shape
    *    the SQL oracle unrolls; `"farthest"` = deterministic maximin
    *    (farthest-point) seeding — seed 1 is the min-id vector, each next
    *    seed the vector with the LOWEST max-cosine to the seeds so far
    *    (ties → lower id). k−1 extra bounded-result passes, and the init
    *    Lloyd's needs on SOURCE-ORDERED corpora: first-k seeds then all
    *    land in one source's cluster, a local optimum no iteration count
    *    escapes, while maximin provably covers well-separated clusters.
    *    A fixed iteration count (no convergence test) keeps the whole
    *    procedure a pure function of the input either way;
    *  - assignment per iteration is the fused [[NearestCells]] argmax —
    *    zero shuffle; the only exchange per iteration is the k×dim-group
    *    sum, collected to the driver (bounded: k·dim rows — the
    *    quantizer contract, same as [[ivfTopK]]'s centroid collect);
    *  - an emptied cluster keeps its previous centroid.
    *
    * Returns the final centroid sums, row-per-cluster (index 0..k-1).
    */
  def kmeansCentroids(df: DataFrame, k: Int, iters: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      init: String = "first", initBatch: Int = 1): Array[Array[Long]] = {
    // each iteration re-scans the pruned source instead of persisting the
    // projection: column pruning means the scan reads exactly the id+vec
    // columns a cache would hold, so caching only trades parquet decode
    // for executor memory — measured SLOWER here (cache build ≈ one extra
    // pass; columnar-cache array scan ≈ parquet decode). A caller looping
    // far more iterations over a hot corpus can persist `df` itself.
    val v = df.select(col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
    val quant = transform(col("v"), x => round(x * lit(1000000.0)).cast("long"))
    // uniform dimensionality is the quantizer contract; validate it on
    // every driver-collected seed (a ragged corpus vector would
    // otherwise surface as a bare ArrayIndexOutOfBounds in the sum-apply)
    def checkDim(q: Array[Long]): Array[Long] = {
      require(q.length == dim,
        s"k-means requires uniform $dim-dim vectors, found length ${q.length}")
      q
    }
    var cents: Array[Array[Long]] = init match {
      case "first" =>
        v.orderBy("id").limit(k)
          .select(quant.as("q")).collect()
          .map(r => checkDim(r.getSeq[Long](0).toArray))
      case "farthest" =>
        // maximin: each pass is one corpus scan reducing to a BOUNDED
        // candidate pool (argmin of max-cosine-to-seeds, ties → lower
        // id) — ceil((k−1)/initBatch) jobs, no shuffle beyond the
        // sort-limit. Chosen seeds are EXCLUDED from the scan: an
        // already-picked vector has max-cosine 1.0 and would be re-picked
        // as soon as the corpus has fewer than k distinct directions,
        // silently duplicating a centroid where init="first" correctly
        // fails the length check.
        //
        // initBatch > 1 removes the serialized-jobs bottleneck at large k
        // (k=4096 was 4095 sequential Spark jobs): one scan collects a
        // 4×initBatch candidate pool, then SEQUENTIAL maximin runs on the
        // driver WITHIN the pool, each in-batch pick updating the pool's
        // max-sim against the just-picked seed. SOUNDNESS BOUND: a pick
        // is accepted only while its updated max-sim stays strictly below
        // the pool's scan boundary (the pool-max ms) — every out-of-pool
        // vector scanned ≥ that boundary and max-sim only grows with more
        // seeds, so an accepted pick provably beats all out-of-pool
        // vectors and the procedure stays TRUE maximin (up to exact-tie
        // id ordering); once the best remaining candidate crosses the
        // boundary the batch ends and the next scan runs with the
        // enlarged seed set. Worst case (adversarially homogeneous pools)
        // degenerates to one pick per scan — the sequential procedure —
        // never to bad seeds. initBatch = 1 takes the scan's own argmin
        // row — bit-identical to the unbatched procedure.
        val m0 = math.max(initBatch, 1)
        val seedIds = scala.collection.mutable.ArrayBuffer.empty[Long]
        val first = v.orderBy("id").limit(1)
          .select(col("id"), quant.as("q"), col("v")).collect()
          .headOption.getOrElse(throw new IllegalArgumentException("empty corpus"))
        seedIds += first.getLong(0)
        val seeds = scala.collection.mutable.ArrayBuffer(
          (checkDim(first.getSeq[Long](1).toArray), first.getSeq[Double](2).toArray))
        def cosine(a: Array[Double], b: Array[Double]): Double = {
          val n = math.min(a.length, b.length)
          var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
          while (i < n) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
          if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
        }
        var exhausted = false
        while (seeds.length < k && !exhausted) {
          val m = math.min(m0, k - seeds.length)
          val maxSim = seeds.map { case (_, sv) =>
            CosineSim(col("v"), typedLit(sv.toSeq).cast("array<double>"))
          }.reduce((a, b) => greatest(a, b))
          val poolSize = if (m == 1) 1 else m * 4
          val pool = v.filter(!col("id").isin(seedIds.toSeq: _*))
            .select(col("id"), quant.as("q"), col("v"), maxSim.as("ms"))
            .orderBy(col("ms").asc, col("id").asc).limit(poolSize)
            .collect()
          if (pool.isEmpty) exhausted = true
          else {
            // a short pool IS the whole remaining corpus — no out-of-pool
            // vectors exist, so in-pool maximin is globally exact
            val poolExhaustive = pool.length < poolSize
            val poolMaxMs = pool(pool.length - 1).getDouble(3)
            val cands = scala.collection.mutable.ArrayBuffer(pool.map { r =>
              (r.getLong(0), r.getSeq[Long](1).toArray, r.getSeq[Double](2).toArray,
                r.getDouble(3))
            }: _*)
            var picked = 0
            var boundaryHit = false
            while (picked < m && cands.nonEmpty && !boundaryHit) {
              // pool is scan-ordered; in-batch updates preserve the
              // (ms, id) argmin rule by explicit selection
              var best = 0
              var i = 1
              while (i < cands.length) {
                if (cands(i)._4 < cands(best)._4 ||
                    (cands(i)._4 == cands(best)._4 && cands(i)._1 < cands(best)._1))
                  best = i
                i += 1
              }
              if (picked > 0 && !poolExhaustive && cands(best)._4 >= poolMaxMs)
                // can no longer prove the pick beats out-of-pool vectors:
                // end the batch, re-scan with the enlarged seed set
                boundaryHit = true
              else {
                val (id, q, vec, _) = cands.remove(best)
                seedIds += id
                seeds += ((checkDim(q), vec))
                picked += 1
                // remaining candidates: fold the new seed into their max-sim
                var j = 0
                while (j < cands.length) {
                  val c = cands(j)
                  val s = cosine(c._3, vec)
                  if (s > c._4) cands(j) = (c._1, c._2, c._3, s)
                  j += 1
                }
              }
            }
          }
        }
        seeds.map(_._1).toArray
      case other =>
        throw new IllegalArgumentException(s"unknown k-means init: $other (first|farthest)")
    }
    require(cents.length == k, s"corpus has fewer than k=$k vectors")
    for (_ <- 1 to iters) {
      val sums = v
        .withColumn("cluster", element_at(kmeansCells(col("v"), cents, 1), 1))
        .select(col("cluster"), posexplode(quant))
        // dim bound: a ragged LONGER vector would index past the
        // centroid arrays in the apply below (the contract is uniform
        // dim; this turns a corrupt row into a bounded contribution
        // instead of a bare ArrayIndexOutOfBounds mid-aggregation)
        .filter(col("pos") < dim)
        .groupBy("cluster", "pos").agg(sum(col("col")).as("s"))
        .collect() // bounded: k×dim rows — the quantizer, not the data
      val next = Array.tabulate(k)(c => cents(c).clone()) // empty cluster → keep
      val seen = Array.fill(k)(false)
      sums.foreach { r =>
        val c = r.getLong(0).toInt
        if (!seen(c)) { java.util.Arrays.fill(next(c), 0L); seen(c) = true }
        next(c)(r.getInt(1)) = r.getLong(2)
      }
      cents = next
    }
    cents
  }

  /** Product-quantization CODES (Jégou et al. 2011, the PQ half of a
    * FAISS-style IVF-PQ index; [[ivfTopKTrained]] is the IVF half): the
    * vector splits into `m` subvectors of `subDim` dims, each assigned
    * the codebook entry with the max INNER PRODUCT (ties → lower code —
    * IP, not L2, because this stack's metric is cosine/IP and IP
    * decomposes exactly across subspaces, which is what makes ADC exact
    * for the quantized vector). Returns `array<int>` of `m` codes.
    *
    * ONE fused codegen expression holding the codebook as a reference
    * object ([[PqCodes]], the [[NearestCells]] pattern): zero-shuffle at
    * any corpus size, and the generated Java is a constant-size method
    * call regardless of codebook dimensions. The earlier column-lattice
    * spelling unrolled the m×k×subDim book into the projection and blew
    * Janino's 64 KB method cap at the shipped 8×16×8 — whole-stage
    * codegen silently fell back to interpreted rows over a multi-MiB
    * task binary. Per-subspace IPs fold in ascending dimension order
    * with a strict-> first-max, so an oracle replaying
    * `list_position(ip, list_max(ip))` is bit-exact.
    */
  def pqCodes(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    EU.column(PqCodes(EU.expression(vec.cast("array<double>")), codebook))

  /** Per-query ADC lookup table: `array<array<double>>` of m×k inner
    * products between the query's subvectors and every codebook entry
    * (fused [[PqQueryTable]] expression — same reference-object codegen
    * shape as [[pqCodes]]). Combined with [[pqCodes]], the asymmetric
    * distance is a pure array lookup: `score(q, x) = Σ_m table[m][code_m(x)]`.
    */
  def pqQueryTable(vec: Column, codebook: Array[Array[Array[Double]]]): Column =
    EU.column(PqQueryTable(EU.expression(vec.cast("array<double>")), codebook))

  /** ADC score from a query table and a code array (both columns) — a
    * fused binary expression ([[PqAdcScore]]): the higher-order
    * `aggregate(sequence(...))` spelling it replaces never participates
    * in whole-stage codegen (HOFs are interpreted) and sat on the
    * corpus×queries joined hot path. Sums ascending in `mi`, matching
    * the oracle's `list_reduce` left fold.
    */
  def pqAdcScore(table: Column, codes: Column): Column =
    EU.column(PqAdcScore(EU.expression(table), EU.expression(codes)))

  /** PQ top-k search: codes for the corpus (one zero-shuffle pass), an
    * ADC table per query, scores via array lookups on the joined pair.
    * The query side is corpus-independent (a bounded query batch), so
    * the join broadcasts it — the legitimate broadcast class. Output
    * `(query_id, rank, neighbor_id, score)`, self-matches excluded,
    * ties → lower neighbor id, exactly [[bruteForceTopK]]'s contract.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      codebook: Array[Array[Array[Double]]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val coded = corpus.select(col(idCol).as("neighbor_id"),
      pqCodes(col(vecCol), codebook).as("_codes"))
    val qt = queries.select(col(idCol).as("query_id"),
      pqQueryTable(col(vecCol), codebook).as("_qt"))
    val scored = coded.join(broadcast(qt),
        col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        pqAdcScore(col("_qt"), col("_codes")).as("score"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("score"))
  }

  /** `nprobe` nearest k-means cells (cent ids = 0..k-1) for a vector. */
  def kmeansCells(vec: Column, cents: Array[Array[Long]], nprobe: Int): Column =
    EU.column(NearestCells(EU.expression(vec.cast("array<double>")),
      Array.tabulate(cents.length)(_.toLong), cents.map(_.map(_.toDouble)), nprobe))

  /** Corpus with its final k-means cluster id — one fused argmax per row,
    * no shuffle (the shape semantic dedup builds on: near-dup search
    * within a cluster instead of across the corpus).
    *
    * The coalesce(-1) pins the column NON-NULLABLE: when `cluster` is a
    * join key (semDedup's per-cluster self-join), Catalyst otherwise
    * infers an IsNotNull filter whose pushed-down predicate re-evaluates
    * the whole k×dim argmax a second time per row (filter and project
    * are separate operators — codegen CSE does not unify across them).
    * The sentinel is unreachable for non-null vectors (NearestCells
    * always returns nprobe cells); a NULL vector lands in cluster −1,
    * where any downstream cosine against it is NULL and filters false.
    */
  def kmeansAssign(df: DataFrame, cents: Array[Array[Long]],
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    df.withColumn("cluster",
      coalesce(element_at(kmeansCells(col(vecCol), cents, 1), 1).cast("int"),
        lit(-1)))

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate removal
    * WITHIN k-means clusters — the corpus-wide O(n²) pair search becomes
    * O(Σ m_c²) inside clusters (the paper's point: k ≈ √n makes the
    * expected total linear-ish), and this engine's cluster id is the
    * zero-shuffle fused argmax, so the only data exchange is the
    * per-cluster self-join's hash partition on the cluster key. Skewed
    * clusters stay visible in that one exchange; re-train with larger k
    * (or recurse into a hot cluster) rather than salting — cluster size
    * IS the algorithm's knob.
    *
    * Drop rule (the deterministic analog of the paper's keep-one-per-
    * ε-ball greedy): a vector is dropped iff some LOWER-id cluster-mate
    * is ≥ `threshold` cosine-similar; `dup_of` reports the lowest such
    * id. Returns the drop list `(vec_id, cluster, dup_of, sim)` with
    * `sim` the cosine against `dup_of`, rounded to 4. Survivors =
    * corpus anti-join on the drop list.
    */
  def semDedup(df: DataFrame, cents: Array[Array[Long]], threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val assigned = kmeansAssign(df, cents, idCol, vecCol)
      .select(col("cluster"), col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
    // the threshold lives IN the join condition, after the id ordering:
    // a post-join filter gets pushed into the condition ANDed FIRST, so
    // the O(dim) cosine would run for both (a,b) and (b,a) of every
    // cluster pair; codegen's short-circuit And evaluates the cheap
    // id comparison first this way, halving the cosine evaluations.
    // Survivors re-evaluate CosineSim once in the projection — they are
    // a vanishing fraction of the candidate pairs.
    assigned.as("a").join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id")
          && CosineSim(col("a.v"), col("b.v")) >= threshold)
      .withColumn("sim", CosineSim(col("a.v"), col("b.v")))
      // min over (id, sim) structs = row of the lowest id (ids unique)
      .groupBy(col("b.cluster").as("cluster"), col("b.id").as(idCol))
      .agg(min(struct(col("a.id").as("id"), col("sim").as("sim"))).as("m"))
      .select(col(idCol), col("cluster"),
        col("m.id").as("dup_of"), round(col("m.sim"), 4).as("sim"))
  }
}

/** The `nprobe` nearest coarse cells for a vector, by cosine (ties → lower
  * cent_id), as ONE fused per-row expression with the centroid matrix baked
  * in at plan build. Returns the cent ids sorted best-first. Replaces a
  * corpus×nlist exchange (broadcast join + row_number window) with plain
  * arithmetic inside whole-stage codegen. Cosine accumulation order is
  * identical to [[CosineSim]] so rankings agree bit-for-bit with the
  * join+window spelling (and the SQL oracle).
  */
case class NearestCells(child: Expression, centIds: Array[Long],
    cents: Array[Array[Double]], nprobe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "nearest_cells"
  override val dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v)

  def compute(v: Any): ArrayData = {
    val arr = v.asInstanceOf[ArrayData]
    val m = math.min(nprobe, cents.length)
    val topSim = new Array[Double](m)
    val topId = new Array[Long](m)
    var filled = 0
    var c = 0
    while (c < cents.length) {
      val cv = cents(c)
      val n = math.min(arr.numElements(), cv.length)
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < n) {
        val x = arr.getDouble(i); val y = cv(i)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      val sim = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
      // insertion sort, strict > so equal sims keep the earlier (lower
      // cent_id, ascending iteration) centroid — matches
      // ORDER BY sim DESC, cent_id
      var pos = if (filled < m) filled else m // m = "not inserted" when full
      var j = filled - 1
      while (j >= 0 && sim > topSim(j)) { pos = j; j -= 1 }
      if (pos < m) {
        if (filled < m) filled += 1
        var s = filled - 1
        while (s > pos) { topSim(s) = topSim(s - 1); topId(s) = topId(s - 1); s -= 1 }
        topSim(pos) = sim
        topId(pos) = centIds(c)
      }
      c += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(topId, filled))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("nearestCells", this, classOf[NearestCells].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): NearestCells =
    copy(child = c)
}

/** PQ code assignment as one fused per-row expression with the codebook
  * baked in at plan build (reference-object codegen — the [[NearestCells]]
  * pattern): the generated Java is a single method call of constant size,
  * so codebook dimensions can never push a projection past Janino's 64 KB
  * method cap (the column-lattice spelling this replaces did exactly that
  * at 8×16×8 and silently fell back to interpreted execution). Arithmetic
  * contract, pinned for the SQL oracle: per-subspace inner products fold
  * in ascending dimension order; argmax is first-max (strict >, so ties
  * keep the lower code) — identical to `list_position(ip, list_max(ip))`.
  * A vector shorter than m×subDim contributes 0 for the missing dims
  * (bounded, instead of an out-of-bounds task death on a corrupt row).
  */
case class PqCodes(child: Expression, codebook: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_codes"
  override val dataType: DataType = ArrayType(IntegerType, containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v)

  def compute(v: Any): ArrayData = {
    val arr = v.asInstanceOf[ArrayData]
    val m = codebook.length
    val out = new Array[Int](m)
    var mi = 0
    while (mi < m) {
      val sub = codebook(mi)
      val subDim = if (sub.length > 0) sub(0).length else 0
      val base = mi * subDim
      var best = Double.NegativeInfinity
      var bestJ = 0
      var j = 0
      while (j < sub.length) {
        val c = sub(j)
        val n = math.min(c.length, math.max(arr.numElements() - base, 0))
        var ip = 0.0
        var d = 0
        while (d < n) { ip += arr.getDouble(base + d) * c(d); d += 1 }
        if (ip > best) { best = ip; bestJ = j }
        j += 1
      }
      out(mi) = bestJ
      mi += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqCodes", this, classOf[PqCodes].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): PqCodes =
    copy(child = c)
}

/** Per-query ADC lookup table (m×k inner products vs every codebook
  * entry) as one fused expression — same reference-object codegen shape
  * and the same ascending-dimension fold as [[PqCodes]], so
  * `table[mi][code]` equals the code-side IP bit-for-bit.
  */
case class PqQueryTable(child: Expression, codebook: Array[Array[Array[Double]]])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_query_table"
  override val dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)

  override def nullSafeEval(v: Any): Any = compute(v)

  def compute(v: Any): ArrayData = {
    val arr = v.asInstanceOf[ArrayData]
    val m = codebook.length
    val rows = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val sub = codebook(mi)
      val subDim = if (sub.length > 0) sub(0).length else 0
      val base = mi * subDim
      val ips = new Array[Double](sub.length)
      var j = 0
      while (j < sub.length) {
        val c = sub(j)
        val n = math.min(c.length, math.max(arr.numElements() - base, 0))
        var ip = 0.0
        var d = 0
        while (d < n) { ip += arr.getDouble(base + d) * c(d); d += 1 }
        ips(j) = ip
        j += 1
      }
      rows(mi) = UnsafeArrayData.fromPrimitiveArray(ips)
      mi += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqQueryTable", this, classOf[PqQueryTable].getName)
    nullSafeCodeGen(ctx, ev, v => s"${ev.value} = $ref.compute($v);")
  }

  override protected def withNewChildInternal(c: Expression): PqQueryTable =
    copy(child = c)
}

/** ADC score `Σ_m table[m][codes[m]]` as one fused binary expression on
  * the joined corpus×queries hot path. The `aggregate(sequence(...))`
  * higher-order spelling it replaces is interpreted (HOFs never enter
  * whole-stage codegen) and allocated a lambda frame per subspace per
  * pair; this is a flat loop summing ascending in `mi` — the oracle's
  * `list_reduce` left fold.
  */
case class PqAdcScore(left: Expression, right: Expression)
    extends BinaryExpression {
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_score"
  override val dataType: DataType = DoubleType

  override def nullSafeEval(t: Any, c: Any): Any =
    java.lang.Double.valueOf(compute(t, c))

  def compute(t: Any, c: Any): Double = {
    val table = t.asInstanceOf[ArrayData]
    val codes = c.asInstanceOf[ArrayData]
    val m = math.min(codes.numElements(), table.numElements())
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      // bounded on corrupt rows (the PqCodes/Sq8Codes convention): a
      // code outside this subspace's table — codes from a DIFFERENT
      // codebook size, or a corrupt value — contributes 0 instead of
      // killing the task with an out-of-bounds read
      val sub = table.getArray(mi)
      val code = codes.getInt(mi)
      if (code >= 0 && code < sub.numElements()) acc += sub.getDouble(code)
      mi += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("pqAdcScore", this, classOf[PqAdcScore].getName)
    nullSafeCodeGen(ctx, ev, (t, c) => s"${ev.value} = $ref.compute($t, $c);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcScore =
    copy(left = l, right = r)
}
