package graft.stats

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class StatsSpec extends SparkTestBase {
  import spark.implicits._

  test("percentileDisc picks the type-1 (ceil-rank) order statistic per key") {
    // g1: sorted values 1..10 → p50 = rank 5 = 5, p90 = rank 9 = 9, p99 = rank 10 = 10
    // g2: a single value → every percentile is that value
    val df = ((1 to 10).map(i => ("g1", i.toLong, i.toLong)) :+
      (("g2", 42L, 99L))).toDF("k", "v", "tie")
    val out = Stats.percentileDisc(df, Seq("k"), "v", "tie", Seq(50, 90, 99))
      .select("k", "p", "v").as[(String, Int, Long)].collect().toSet
    assert(out == Set(("g1", 50, 5L), ("g1", 90, 9L), ("g1", 99, 10L),
      ("g2", 50, 42L), ("g2", 90, 42L), ("g2", 99, 42L)))
  }

  test("percentileDisc matches the brute-force ceil-rank definition on irregular data") {
    val values = Seq(7L, 7L, 3L, 12L, 3L, 3L, 20L, 1L, 12L, 7L, 5L)
    val df = values.zipWithIndex
      .map { case (v, i) => ("g", v, i.toLong) }.toDF("k", "v", "tie")
    val ps = Seq(1, 25, 50, 75, 100)
    val out = Stats.percentileDisc(df, Seq("k"), "v", "tie", ps)
      .select("p", "v").as[(Int, Long)].collect().toMap
    val sorted = values.sorted
    val expect = ps.map { p =>
      val r = math.ceil(p * sorted.size / 100.0).toInt
      p -> sorted(r - 1)
    }.toMap
    assert(out == expect)
    // every percentile emits exactly one row per key
    assert(Stats.percentileDisc(df, Seq("k"), "v", "tie", ps).count() == ps.size)
  }

  test("zscoreFlags agrees with the floating-point z-score and handles zero variance") {
    // a single outlier among n−1 identical values has |z| = sqrt(n−1) exactly:
    // n=5 → z = 2.0 (the strict-'>' boundary, must NOT flag); n=6 → sqrt(5) ≈ 2.24 (flags)
    val xs1 = Seq(10L, 10L, 10L, 10L, 100L)
    def flags(xs: Seq[Long]): Map[Long, Int] =
      Stats.zscoreFlags(xs.zipWithIndex.map { case (x, i) => ("k", i, x) }
          .toDF("k", "b", "x"), Seq("k"), "x", threshold = 2)
        .select("b", "is_outlier").as[(Int, Int)].collect()
        .map { case (b, f) => xs(b) -> f }.toMap
    val f1 = flags(xs1)
    assert(f1.values.forall(_ == 0)) // |z| exactly 2 → strict inequality → no flag
    val xs2 = Seq(10L, 10L, 10L, 10L, 10L, 100L)
    val f2 = flags(xs2)
    assert(f2(100L) == 1 && f2(10L) == 0)
    // cross-check against the float spelling for every bucket
    val n = xs2.size.toDouble
    val mean = xs2.sum / n
    val sd = math.sqrt(xs2.map(x => (x - mean) * (x - mean)).sum / n)
    xs2.distinct.foreach { x =>
      assert((f2(x) == 1) == (math.abs((x - mean) / sd) > 2.0), s"x=$x")
    }
    // zero variance: nothing flags, no division-by-zero anywhere
    assert(flags(Seq(5L, 5L, 5L)).values.forall(_ == 0))
  }

  test("percentileDiscDistributed equals percentileDisc on skewed low-cardinality keys") {
    // 2 keys, one 50× heavier — the regime where the window spelling
    // serialises onto 2 reducers and the range-partitioned path must not
    val rows = (1 to 5000).map(i => ("hot", ((i * 2654435761L) % 997).toLong, i.toLong)) ++
      (1 to 100).map(i => ("cold", (i % 13).toLong, (10000 + i).toLong))
    val df = rows.toDF("k", "v", "tie")
    val ps = Seq(1, 50, 95, 99, 100)
    val a = Stats.percentileDisc(df, Seq("k"), "v", "tie", ps)
      .select("k", "p", "n", "v").as[(String, Int, Long, Long)].collect().toSet
    val b = Stats.percentileDiscDistributed(df, Seq("k"), "v", "tie", ps,
        partitions = 16)
      .select("k", "p", "n", "v").as[(String, Int, Long, Long)].collect().toSet
    assert(b == a)
    assert(a.size == 2 * ps.size)
    // the selection genuinely spread: more partitions than keys
    val parted = df.select("k", "v", "tie").repartitionByRange(16,
      col("k"), col("v"), col("tie"))
    assert(parted.rdd.getNumPartitions > 2)
  }

  test("percentileDisc plans ONE exchange for the rank and count windows (parquet-backed)") {
    val ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("event_type"), col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("kv"))
      .filter(col("kv").isNotNull)
    val out = Stats.percentileDisc(ev, Seq("event_type"), "kv", "event_id",
      Seq(50, 90, 99))
    val plan = out.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected one key exchange, plan:\n$plan")
    assert(!plan.contains("Join"), "no join may appear")
    assert(out.count() > 0)
  }

  test("histogram: local replay, max-value clamp, constant column, null drop") {
    import spark.implicits._
    val rows = Seq.tabulate(200)(i => (i.toDouble, 7.0, if (i % 5 == 0) None else Some(i * 3.0)))
    val df = rows.toDF("a", "c", "b")
    val got = graft.stats.Stats.histogram(df, Seq("a", "c", "b"), nbins = 8)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // local replay for column a: mn=0, mx=199
    val expectA = (0 until 200).groupBy { i =>
      math.min(7, math.floor(i / 199.0 * 8).toInt)
    }.view.mapValues(_.size.toLong).toMap
    expectA.foreach { case (b, n) => assert(got(("a", b)) == n, s"bucket $b") }
    // the max value lands in the LAST bucket, not bucket nbins
    assert(got.keys.filter(_._1 == "a").map(_._2).max == 7)
    // constant column: all mass in bucket 0
    assert(got(("c", 0)) == 200L)
    assert(!got.keys.exists(k => k._1 == "c" && k._2 != 0))
    // nulls dropped: column b counts 160 non-null rows
    assert(got.filter(_._1._1 == "b").values.sum == 160L)
  }

  test("histogram: column names with spaces, quotes and backticks are identifiers, not SQL") {
    import spark.implicits._
    val rows = Seq.tabulate(60)(i =>
      (i.toDouble, if (i % 4 == 0) None else Some((i % 7).toDouble), (i * i).toDouble))
    val names = Seq("a b", "it's", "x`y")
    val df = rows.toDF(names: _*)
    val nbins = 5
    val got = graft.stats.Stats.histogram(df, names, nbins)
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    // per-column group-by, replayed locally over the non-null values
    val cols = Seq(rows.map(r => Option(r._1)), rows.map(_._2), rows.map(r => Option(r._3)))
    val want = names.zip(cols).flatMap { case (c, vs) =>
      val xs = vs.flatten
      val (mn, mx) = (xs.min, xs.max)
      xs.groupBy(x => math.min(nbins - 1, math.floor((x - mn) / (mx - mn) * nbins).toInt))
        .map { case (b, g) => (c, b) -> g.size.toLong }
    }.toMap
    assert(got == want)
    assert(got.keySet.map(_._1) == names.toSet)
  }

  test("seasonal anomaly rule: silent hours and spikes flag against the hour-of-day median") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 5 days of hour-0 counts for one type: baseline ~10, one silent
    // day (0) and one 3× spike (30); hour-1 is flat
    val dense = Seq(
      ("click", 0L, 10L), ("click", 24L, 11L), ("click", 48L, 0L),
      ("click", 72L, 30L), ("click", 96L, 10L),
      ("click", 1L, 5L), ("click", 25L, 5L), ("click", 49L, 5L),
      ("click", 73L, 5L), ("click", 97L, 5L))
      .toDF("event_type", "hr", "n_events")
      .withColumn("hod", expr("hr % 24"))
    val med = graft.stats.Stats.percentileDisc(dense,
        Seq("event_type", "hod"), "n_events", tieCol = "hr", Seq(50))
      .select(col("event_type"), col("hod"), col("v").as("med"))
    val flags = dense.join(med, Seq("event_type", "hod"))
      .select(col("hr"),
        (abs(col("n_events") * 2 - col("med") * 2) > col("med"))
          .cast("int").as("a"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // hour-0 median = 10: silent day (0) and spike (30) flag; 10/11 don't
    assert(flags(48L) == 1 && flags(72L) == 1)
    assert(flags(0L) == 0 && flags(24L) == 0 && flags(96L) == 0)
    // flat hour-1 never flags
    Seq(1L, 25L, 49L, 73L, 97L).foreach(h => assert(flags(h) == 0, s"hr $h"))
  }

  test("histogram: an all-NULL column profiles as empty instead of dying") {
    import spark.implicits._
    val df = Seq((1.0, Option.empty[Double]), (2.0, Option.empty[Double]))
      .toDF("ok", "dead")
    val got = graft.stats.Stats.histogram(df, Seq("ok", "dead"), nbins = 4)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
    assert(got.count(_._1 == "ok") > 0)
    assert(!got.exists(_._1 == "dead"), "all-NULL column contributes no buckets")
  }
}
