package graft.sample

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for corpus curation — the data-mixing stage of
  * a training pipeline (per-source/per-language target rates, DoReMi-style
  * static mixtures) plus the general content-hash split behind
  * `q_sample_split`.
  *
  * Everything here is a pure column predicate over a hash of the row's own
  * key: no RNG state, no shuffle, no driver round-trip — the same row
  * gets the same verdict on any cluster size, any partitioning, any rerun
  * (reproducible training sets), and rates compose per partition with no
  * coordination at 100 TB.
  *
  * Cross-engine contract: the keep decision compares the first 8 hex
  * chars of `md5(key)` LEXICOGRAPHICALLY against the rate's 8-hex
  * threshold. Lowercase hex of a fixed width compares identically as a
  * string and as the number it encodes, and md5 is bit-identical in every
  * engine — so a DuckDB/Trino/Flink oracle replays the exact row set,
  * with rate resolution 2⁻³². `rate ≥ 1` uses threshold `"g"`, which is
  * lexicographically above every hex string — always-keep.
  */
object Sampling {

  /** 8-hex threshold for `rate` ∈ [0,1]: floor(rate·2³²) as lowercase
    * hex; `"g"` for rate ≥ 1 (above all hex — always keep).
    */
  def thresholdHex(rate: Double): String = {
    require(rate >= 0.0, s"rate must be >= 0, got $rate")
    if (rate >= 1.0) "g" else f"${(rate * 4294967296.0).toLong}%08x"
  }

  /** The sampling hash: first 8 hex chars of md5 of the key's string
    * form. Key choice is the caller's dedup-vs-coverage decision: hash
    * the doc id for uniform row sampling, the text for
    * duplicate-consistent sampling (copies get one verdict, as
    * `q_sample_split` does for train/val leakage).
    */
  def hash8(key: Column): Column = substring(md5(key.cast("string")), 1, 8)

  /** Keep-predicate at a single rate. */
  def keep(key: Column, rate: Double): Column =
    hash8(key) < lit(thresholdHex(rate))

  /** Group keys of a rate or threshold table must be non-null: a row's
    * group is matched with `=`, which a null key never satisfies, so a
    * null entry could apply to no row (a null group falls through to
    * the table's default).
    */
  private def requireNonNullKeys(keys: Iterable[String]): Unit =
    require(!keys.exists(_ == null),
      "group keys must be non-null: a null group equals no key and falls through to the default")

  /** Keep-predicate for a group-keyed mixture: `rates` maps group values
    * to target keep-rates; groups not listed use `default`. The rate
    * table is a compile-time literal CASE chain — mixtures are small
    * config, never data.
    */
  def mixtureKeep(key: Column, group: Column, rates: Map[String, Double],
      default: Double = 1.0): Column = {
    requireNonNullKeys(rates.keys)
    val h = hash8(key)
    rates.toSeq.sortBy(_._1).foldRight(h < lit(thresholdHex(default))) {
      case ((g, r), acc) => when(group === lit(g), h < lit(thresholdHex(r))).otherwise(acc)
    }
  }

  /** Filter `df` to the mixture: deterministic per-group downsampling. */
  def mixtureSample(df: DataFrame, keyCol: String, groupCol: String,
      rates: Map[String, Double], default: Double = 1.0): DataFrame =
    df.filter(mixtureKeep(col(keyCol), col(groupCol), rates, default))

  /** Temperature-scaled mixture thresholds (the multilingual-pretraining
    * rate rule: sample group g proportionally to `n_g^τ` at τ = 1/2, so
    * head languages flatten and tail languages keep coverage — the
    * XLM-R/mT5-style exponent mixture, derived from CORPUS COUNTS
    * instead of hand-set rates). All integer arithmetic so the SQL
    * oracle replays thresholds bit-for-bit:
    * `w_g = floor(sqrt(n_g))` (IEEE sqrt is correctly rounded in every
    * engine, floor has no tie convention), and the keep threshold is
    * `t64_g = (T·w_g·2³²) div (n_g·Σw)` computed in BigInt (no overflow
    * at any corpus size), capped at 2³² → the [[thresholdHex]] "g"
    * always-keep form. Expected sample size ≈ `T·w_g/Σw` per group —
    * group counts are corpus statistics (one aggregate, group-bounded),
    * the thresholds are config-sized plan state, and the keep pass is
    * the same zero-shuffle md5 predicate as [[mixtureKeep]].
    *
    * Disclosed edges: group keys must be NON-NULL — a null key in
    * `counts` (or in the rates of [[mixtureKeep]] and the thresholds of
    * [[mixtureKeepHex]]) fails a `require` naming that contract, since
    * no row's group `=` a null key; callers aggregate keys from a
    * non-null column, or map null to a sentinel first. And a group so
    * large that `t64` floors to 0 gets threshold `"00000000"` — no md5
    * prefix is `< "00000000"`, so that group drops ENTIRELY rather
    * than sampling at a sub-2⁻³² rate. This follows from the integer
    * spelling the oracle replays and does not occur for the declared
    * queries' inputs.
    */
  def temperatureThresholds(counts: Seq[(String, Long)],
      targetTotal: Long): Map[String, String] = {
    require(counts.nonEmpty && counts.forall(_._2 > 0), "positive group counts required")
    requireNonNullKeys(counts.map(_._1))
    val w = counts.map { case (g, n) => g -> math.floor(math.sqrt(n.toDouble)).toLong }
    val sw = w.map(_._2).sum
    counts.zip(w).map { case ((g, n), (_, wg)) =>
      val t64 = (BigInt(targetTotal) * wg * 4294967296L) / (BigInt(n) * sw)
      g -> (if (t64 >= 4294967296L) "g" else f"${t64.toLong}%08x")
    }.toMap
  }

  /** [[mixtureKeep]] over PRE-COMPUTED 8-hex thresholds (the
    * [[temperatureThresholds]] output). Groups not listed never keep.
    */
  def mixtureKeepHex(key: Column, group: Column,
      thresholds: Map[String, String]): Column = {
    requireNonNullKeys(thresholds.keys)
    val h = hash8(key)
    thresholds.toSeq.sortBy(_._1).foldRight(lit(false)) {
      case ((g, t), acc) => when(group === lit(g), h < lit(t)).otherwise(acc)
    }
  }

  /** Two-way content-hash split (train/val): `splitCol` is "val" for the
    * top `valFrac` of hash space, "train" otherwise. Hashing content
    * (not ids) keeps every copy of a duplicated doc on one side — no
    * train/val leakage through duplicates.
    */
  def contentSplit(key: Column, valFrac: Double): Column =
    when(hash8(key) >= lit(thresholdHex(1.0 - valFrac)), "val").otherwise("train")

  /** GPT-style sequence PACKING — concatenate the corpus in key order
    * and chunk it into fixed-`budget` training windows (the
    * concatenate-and-chunk step of causal-LM pretraining; documents MAY
    * split across window boundaries, exactly like GPT-2/3 packing).
    * Output per doc: its exclusive running token offset, the first/last
    * window (bin) it lands in, and its offset inside the first bin —
    * everything a writer needs to emit packed sequences.
    *
    * Scale shape: the naive spelling is a WINDOW OVER A GLOBAL ORDER —
    * one partition holding the corpus, the classic scale killer. This
    * runs the standard two-level cumulative sum instead: docs group into
    * `bucketSize`-wide key ranges (monotone in the key, so bucket order
    * IS key order); per-bucket token totals aggregate first (bounded:
    * corpus/bucketSize rows), their exclusive prefix sum runs on that
    * SMALL relation (the only single-partition window, over buckets not
    * docs — pick bucketSize so bucket count fits a partition, e.g. 10⁶
    * docs/bucket at 10¹² docs → 10⁶ buckets), and the per-doc window
    * partitions BY BUCKET — parallel across buckets, never global. The
    * result is bit-identical to the global window (integer sums), which
    * is exactly what the oracle replays.
    */
  def packSequences(df: DataFrame, idCol: String, nTokens: Column,
      budget: Long, bucketSize: Long = 1000000L): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    import org.apache.spark.sql.expressions.Window
    val base = df.select(col(idCol).cast("long").as("id"),
      coalesce(nTokens.cast("long"), lit(0L)).as("n"))
    // integer `div`, never float `/`: cumulative token counts pass 2⁵³ at
    // the 10¹²-doc scale this exists for, where double division rounds.
    // div truncates toward zero, which is monotone in id, so bucket
    // order stays key order even for negative ids
    val withBucket = base.withColumn("_b", expr(s"id div $bucketSize"))
    val bucketOffsets = withBucket.groupBy("_b").agg(sum(col("n")).as("_bn"))
      .withColumn("_boff",
        coalesce(sum(col("_bn")).over(
          Window.orderBy("_b").rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .drop("_bn")
    val inBucket = Window.partitionBy("_b").orderBy("id")
      .rowsBetween(Window.unboundedPreceding, -1)
    withBucket
      .join(bucketOffsets, Seq("_b"))
      .withColumn("cum_prev",
        col("_boff") + coalesce(sum(col("n")).over(inBucket), lit(0L)))
      .withColumn("n_tokens", col("n"))
      .withColumn("first_bin", expr(s"cum_prev div $budget"))
      .withColumn("last_bin",
        when(col("n") > 0, expr(s"(cum_prev + n - 1) div $budget"))
          .otherwise(col("first_bin")))
      .select(col("id"), col("n_tokens"), col("cum_prev"),
        col("first_bin"), col("last_bin"),
        pmod(col("cum_prev"), lit(budget)).as("bin_offset"))
  }

  /** Per-group contribution cap: keep AT MOST `k` rows per group —
    * exactly the k with the smallest `md5(id)` — the "no domain may
    * dominate the corpus" rule (C4 and every crawl-scale pipeline cap
    * per-site pages; rate-based [[mixtureSample]] can't give an exact
    * per-group count). Deterministic like everything in this module:
    * hash of the row's own id, so the SAME k rows win on any cluster
    * size, partitioning, or rerun.
    *
    * Scale shape: computed with [[graft.functions.TopKSmallest]], an
    * aggregation whose map-side partials keep O(k) per group, so the
    * only exchange carries one packed record per (partition, group)
    * regardless of skew and no task ever holds a full group. The
    * `row_number() OVER (PARTITION BY group ORDER BY hash) <= k`
    * spelling is skew-safe on Spark 4 too (`WindowGroupLimit` prunes
    * rank filters map-side), but ships k× the shuffle records and only
    * while the optimizer recognizes the rank-predicate pattern —
    * measured head-to-head by the CapProbe main, last held in commit
    * b7b492f (see the expression's scaladoc). Sort key = 16-hex md5
    * prefix + ":" + id — unique-id suffix makes the lexicographic order
    * total (the oracle replays the identical string comparison).
    *
    * Returns `(groupCol, idCol)` of the kept rows; callers semi-join it
    * back (on the id) to retain payload columns.
    */
  def capPerGroup(df: DataFrame, groupCol: String, idCol: String,
      k: Int): DataFrame = {
    val sortKey = concat(
      substring(md5(col(idCol).cast("string")), 1, 16),
      lit(":"), col(idCol).cast("string"))
    df.groupBy(col(groupCol))
      .agg(graft.functions.TopKSmallest(sortKey, k).as("_keep"))
      .select(col(groupCol), explode(col("_keep")).as("_key"))
      .select(col(groupCol),
        // recover the id from the fixed-width key — the prefix is exactly
        // 16 hex chars + ':', so substring (never a ':'-split: string ids
        // may themselves contain colons) and cast back to the column's
        // ORIGINAL type, not a hardcoded long
        substring(col("_key"), 18, Int.MaxValue)
          .cast(df.schema(idCol).dataType).as(idCol))
  }
}
