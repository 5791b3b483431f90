package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed order statistics and anomaly flags over grouped data —
  * the metrics face a log pipeline grows once events carry latencies
  * (reference: the admin API publishes EWMA speeds and per-sink
  * counters, `lc-lib/core/util.go:27-47`; percentile/outlier reporting
  * is the natural scale-up of that surface).
  *
  * Both operators are INTEGER-EXACT by construction: the percentile is
  * the discrete (type-1) order statistic picked by pure rank
  * arithmetic, and the z-score test is spelled as a cross-multiplied
  * integer inequality — no floating-point division ever happens, so a
  * SQL replay on another engine must agree bit-for-bit.
  */
object Stats {

  /** Exact discrete percentiles per key: for each `p` (percent,
    * 1..100) return the value whose rank `r` in the ascending per-key
    * order satisfies `r = ceil(p·n/100)` — the classic type-1
    * (lower-value) quantile. Spelled without division:
    * `(r−1)·100 < p·n ≤ r·100`.
    *
    * Shape: ONE shuffle on the key (the rank window and the per-key
    * count share the same partitioning, so Catalyst plans a single
    * exchange feeding two window nodes). The percentile list rides a
    * literal array explode — a projection, not a join. Per-key state
    * during evaluation is the running rank, not the value set. At
    * 100 TB the per-key sort is the irreducible cost of EXACT
    * quantiles; when approximate suffices, swap in a sketch — this
    * operator is the exact-answer / verification face.
    *
    * `tieCol` makes the ordering total so the picked ROW is
    * deterministic; with duplicated values the picked VALUE is
    * identical under any tie order, so the output does not depend on
    * the tiebreak — it only pins task-level determinism.
    */
  def percentileDisc(df: DataFrame, keys: Seq[String], valueCol: String,
      tieCol: String, percentiles: Seq[Int]): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in 1..100: $percentiles")
    val rankW = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(valueCol), col(tieCol))
    val keyW = Window.partitionBy(keys.map(col): _*)
    df.withColumn("_rk", row_number().over(rankW))
      .withColumn("n", count(lit(1)).over(keyW))
      .withColumn("p", explode(lit(percentiles.toArray)))
      .filter((col("_rk") - 1) * 100 < col("p") * col("n") &&
        col("_rk") * 100 >= col("p") * col("n"))
      .select(keys.map(col) ++ Seq(col("p"), col("n"),
        col(valueCol).as("v")): _*)
  }

  /** [[percentileDisc]]'s scale path for LOW-CARDINALITY keys: the
    * window spelling sorts each key on ONE reducer, so five event
    * types means five tasks no matter how many executors exist. This
    * variant range-partitions on `(keys, value, tie)` — the sort
    * spreads over ALL `partitions` tasks even for a single key — then
    * runs the classic two-pass distributed selection:
    *
    *  1. per-(partition, key) counts (a bounded collect: at most
    *     `partitions + distinct keys` rows, because range partitioning
    *     puts each key in a contiguous partition run);
    *  2. the driver turns counts into per-partition pick lists
    *     (global rank `ceil(p·n/100)` → owning partition + local
    *     rank), and one `mapPartitionsWithIndex` walk emits exactly
    *     the picked rows — no second shuffle, no per-key reducer.
    *
    * Both passes re-execute the same deterministic lineage (Spark's
    * RangePartitioner samples with a fixed per-partition seed), so
    * they see identical partition boundaries and row order; the
    * result is EXACTLY [[percentileDisc]]'s (spec-pinned equal). Two
    * scans of the input is the price of not persisting it — the right
    * trade at 100 TB.
    */
  def percentileDiscDistributed(df: DataFrame, keys: Seq[String],
      valueCol: String, tieCol: String, percentiles: Seq[Int],
      partitions: Int): DataFrame = {
    require(percentiles.nonEmpty && percentiles.forall(p => p >= 1 && p <= 100),
      s"percentiles must be in 1..100: $percentiles")
    require(partitions >= 1)
    val spark = df.sparkSession
    val sortCols = (keys :+ valueCol :+ tieCol).map(col)
    val parted = df.select((keys :+ valueCol :+ tieCol).map(col): _*)
      .repartitionByRange(partitions, sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val keyOf = (r: org.apache.spark.sql.Row) =>
      keys.indices.map(r.get).toList
    // pass 1 — bounded by construction: contiguous key runs mean the
    // per-partition key census has ~partitions + |keys| entries total
    val census: Array[(Int, List[Any], Long)] = parted.rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val m = scala.collection.mutable.LinkedHashMap.empty[List[Any], Long]
        it.foreach { r => val k = keyOf(r); m.update(k, m.getOrElse(k, 0L) + 1L) }
        m.iterator.map { case (k, c) => (pid, k, c) }
      }.collect()
    // driver: per-key totals and partition offsets → pick lists
    val totals = census.groupBy(_._2).map { case (k, rs) => k -> rs.map(_._3).sum }
    // picks(pid) = (key, localRank) -> (p, n)
    val picks = scala.collection.mutable.Map
      .empty[Int, Map[(List[Any], Long), List[(Int, Long)]]]
      .withDefaultValue(Map.empty)
    for ((k, n) <- totals; p <- percentiles) {
      val r = (p.toLong * n + 99L) / 100L // ceil(p·n/100)
      var acc = 0L
      val owner = census.filter(_._2 == k).sortBy(_._1).iterator
        .map { case (pid, _, c) => val lo = acc; acc += c; (pid, lo, acc) }
        .find { case (_, lo, hi) => lo < r && r <= hi }.get
      val (pid, lo, _) = owner
      val key = (k, r - lo)
      val cur = picks(pid)
      picks(pid) = cur + (key -> ((p, n) :: cur.getOrElse(key, Nil)))
    }
    val bc = spark.sparkContext.broadcast(picks.toMap)
    val outSchema = org.apache.spark.sql.types.StructType(
      parted.schema.take(keys.size) ++ Seq(
        org.apache.spark.sql.types.StructField("p",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.LongType, nullable = false),
        parted.schema(keys.size).copy(name = "v")))
    // pass 2: same lineage, same boundaries — emit the picked rows
    val rows = parted.rdd.mapPartitionsWithIndex { (pid, it) =>
      val want = bc.value.getOrElse(pid, Map.empty)
      if (want.isEmpty) Iterator.empty
      else {
        val counters = scala.collection.mutable.Map.empty[List[Any], Long]
        it.flatMap { r =>
          val k = keyOf(r)
          val rk = counters.getOrElse(k, 0L) + 1L
          counters.update(k, rk)
          want.getOrElse((k, rk), Nil).map { case (p, n) =>
            org.apache.spark.sql.Row.fromSeq(
              keys.indices.map(r.get) ++ Seq(p, n, r.get(keys.size)))
          }
        }
      }
    }
    spark.createDataFrame(rows, outSchema)
  }

  /** Equi-width histogram profiling of numeric columns — the
    * data-quality face (distribution drift, outlier mass, dead ranges)
    * every large-corpus intake runs before training. Two bounded-output
    * passes: global per-column `[min, max]` (one aggregate, 2·cols
    * doubles collected as model state), then ONE `stack`ed scan whose
    * bucket projection is the [[graft.sim.Sq8Codes]] affine-`floor`
    * contract (`floor((x−mn)/(mx−mn)·nbins)` clamped to `nbins−1` —
    * floor has no rounding-tie convention to diverge cross-engine) and
    * whose count aggregate collapses map-side to ≤ cols·nbins rows per
    * partition. Null values are dropped (profiled separately if
    * needed); a constant column puts all mass in bucket 0.
    */
  def histogram(df: DataFrame, columns: Seq[String], nbins: Int): DataFrame = {
    require(nbins >= 1 && columns.nonEmpty)
    // a name is an identifier, never parsed: spaces, quotes and dots in
    // it stay part of the name (inner backticks doubled)
    def value(c: String) = col("`" + c.replace("`", "``") + "`").cast("double")
    val aggs = columns.flatMap(c => Seq(min(value(c)), max(value(c))))
    val s = df.agg(aggs.head, aggs.tail: _*).head // bounded: 2·cols doubles
    val stacked = stack(lit(columns.length) +: columns.flatMap(c => Seq(lit(c), value(c))): _*)
      .as(Seq("col_name", "x"))
    val bucket = columns.zipWithIndex.foldRight(lit(-1).cast("int")) {
      case ((c, i), acc) =>
        // an all-NULL (or empty) column has NULL min/max — its rows are
        // all filtered out below, so any constant works; guarding here
        // keeps plan BUILD from dying on the profiler's own input class
        val b =
          if (s.isNullAt(2 * i) || s.isNullAt(2 * i + 1)
              || s.getDouble(2 * i) == s.getDouble(2 * i + 1)) lit(0).cast("int")
          else {
            val mn = s.getDouble(2 * i); val mx = s.getDouble(2 * i + 1)
            least(lit((nbins - 1).toDouble),
              floor((col("x") - lit(mn)) / lit(mx - mn) * nbins)).cast("int")
          }
        when(col("col_name") === lit(c), b).otherwise(acc)
    }
    df.select(stacked).filter(col("x").isNotNull)
      .withColumn("bucket", bucket)
      .groupBy("col_name", "bucket").agg(count(lit(1)).as("n"))
  }

  /** Population z-score outlier flags per key, integer-exact: a bucket
    * with measurement `x` among its key's `n` buckets (sum `s`, sum of
    * squares `ss`) is an outlier iff `|x − mean| > t·stddev`, spelled
    * cross-multiplied so only BIGINT arithmetic runs:
    * `(n·x − s)² > t²·(n·ss − s²)`.
    *
    * Shape: one shuffle on the key; the three moments are plain window
    * aggregates over the same partitioning (one exchange). State per
    * key is three longs — never a value list. Zero variance ⇒ RHS = 0
    * and LHS = 0 ⇒ not an outlier, in every engine. Overflow bound:
    * safe while `n·max(x)² < 2⁶³/t²` — at 10⁹ events/hour per key and
    * t = 2 that is ~40 years of buckets.
    */
  def zscoreFlags(counts: DataFrame, keys: Seq[String], xCol: String,
      threshold: Int): DataFrame = {
    val keyW = Window.partitionBy(keys.map(col): _*)
    val x = col(xCol)
    counts
      .withColumn("_n", count(lit(1)).over(keyW))
      .withColumn("_s", sum(x).over(keyW))
      .withColumn("_ss", sum(x * x).over(keyW))
      .withColumn("is_outlier",
        (((col("_n") * x - col("_s")) * (col("_n") * x - col("_s"))) >
          lit(threshold.toLong * threshold) *
            (col("_n") * col("_ss") - col("_s") * col("_s"))).cast("int"))
      .drop("_n", "_s", "_ss")
  }
}
