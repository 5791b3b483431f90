package graft.metrics

import graft.{RunPipeline, SparkTestBase, TranscriptPipeline}
import graft.lineage.Lineage
import graft.model.TranscriptGen
import graft.route.Router
import org.apache.spark.sql.functions._

class MetricsSpec extends SparkTestBase {

  test("per-sink report sums to the input and renders JSON") {
    val turns = TranscriptGen.generate(spark, 5L, 20L, 4).toDF()
    val assigned = TranscriptPipeline.run(spark, turns)
    val report = Metrics.fromSinkCounts(Router.sinkCounts(assigned), 2.0)
    assert(report.inputTurns == turns.count())
    assert(report.turnsPerSec == report.inputTurns / 2.0)
    val json = Metrics.toJson(report)
    assert(json.contains("\"sinks\":[") && json.contains("sink_main"))
  }

  test("partition listener captures per-partition read throughput") {
    val listener = PartitionMetrics.attach(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    TranscriptGen.generate(spark, 6L, 40L, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    spark.read.parquet(s"$tmp/in").count()
    org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext)
    val parts = listener.snapshot
    assert(parts.nonEmpty)
    assert(parts.map(_.records).sum > 0)
    val json = PartitionMetrics.toJson(parts)
    assert(json.startsWith("[{\"stage\":"))
  }

  test("sink event-time lag is zero for the newest sink, non-negative otherwise") {
    val turns = TranscriptGen.generate(spark, 7L, 30L, 4).toDF()
    val assigned = TranscriptPipeline.run(spark, turns)
    val lags = PartitionMetrics.sinkLag(assigned)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lags.values.min == 0L)
    assert(lags.values.forall(_ >= 0L))
  }

  test("EWMA speed meter mirrors CalculateSpeed (core/util.go:27-47)") {
    val m = new Metrics.SpeedMeter(5.0)
    // first measurement seeds the average unchanged
    assert(m.update(1.0, 100.0) == 100.0)
    // EWMA formula: (1-exp(-1/5))*200 + exp(-1/5)*100
    val exp = math.exp(-1.0 / 5.0)
    val want = (1 - exp) * 200.0 + exp * 100.0
    assert(math.abs(m.update(1.0, 200.0) - want) < 1e-9)
    // five idle seconds auto-reset to zero
    for (_ <- 1 to 5) m.update(1.0, 0.0)
    assert(m.value == 0.0)
    // and the next measurement re-seeds
    assert(m.update(1.0, 50.0) == 50.0)
  }

  test("codec meters: filtered_lines counts pattern-collection rejects (filter.go:108-117)") {
    import spark.implicits._
    val df = Seq("keep this", "drop that", "keep too", "drop also", "drop x")
      .toDF("text")
    val m = graft.codec.CodecMeters.filterMeter(df, Seq("^keep")).collect()(0)
    assert(m.getLong(0) == 2L && m.getLong(1) == 3L) // kept, filtered
  }

  test("codec meters: pending_lines = unflushed buffer at end of input (multiline.go:268-279)") {
    import spark.implicits._
    import graft.codec.{CodecMeters, MultilineConfig}
    // what=previous: every conversation's final group is still buffered
    val prev = Seq(
      ("c1", 0, "head"), ("c1", 1, "  cont"),          // open buffer: 2 lines
      ("c2", 0, "head"), ("c2", 1, "  c"), ("c2", 2, "  c2") // open buffer: 3 lines
    ).toDF("conv_id", "turn_idx", "text")
    val mPrev = CodecMeters.multilinePending(prev, MultilineConfig(Seq("^\\s"))).collect()(0)
    assert(mPrev.getLong(0) == 5L && mPrev.getLong(1) == 2L)
    // a head after the continuation flushes the earlier group
    val prev2 = Seq(("c1", 0, "head"), ("c1", 1, "  cont"), ("c1", 2, "head2"))
      .toDF("conv_id", "turn_idx", "text")
    val mPrev2 = CodecMeters.multilinePending(prev2, MultilineConfig(Seq("^\\s"))).collect()(0)
    assert(mPrev2.getLong(0) == 1L && mPrev2.getLong(1) == 1L) // only head2 pending
    // what=next: buffer survives only when the last line matched
    val next = Seq(("c1", 0, "a \\"), ("c1", 1, "b")).toDF("conv_id", "turn_idx", "text")
    val mNextClosed = CodecMeters.multilinePending(next,
      MultilineConfig(Seq("\\\\$"), what = "next")).collect()(0)
    assert(mNextClosed.getLong(0) == 0L && mNextClosed.getLong(1) == 0L)
    val nextOpen = Seq(("c1", 0, "a \\"), ("c1", 1, "b \\")).toDF("conv_id", "turn_idx", "text")
    val mNextOpen = CodecMeters.multilinePending(nextOpen,
      MultilineConfig(Seq("\\\\$"), what = "next")).collect()(0)
    assert(mNextOpen.getLong(0) == 2L && mNextOpen.getLong(1) == 1L)
  }

  test("RunPipeline main end-to-end with lineage resume") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-runpipe").toString
    TranscriptGen.generate(spark, 8L, 25L, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    quietly(RunPipeline.runBatch(spark, s"$tmp/in", s"$tmp/out", "b1", 8))
    val n1 = Lineage.readData(spark, s"$tmp/out").count()
    // second run is a no-op (all buckets sealed)
    val committed = Lineage.run(
      TranscriptPipeline.run(spark, spark.read.parquet(s"$tmp/in")),
      s"$tmp/out", 8, "b2")
    assert(committed == 0)
    assert(Lineage.readData(spark, s"$tmp/out").count() == n1)
    assert(n1 == spark.read.parquet(s"$tmp/in").count())
  }

  /** Runs `f`, keeping its printed lines off the test output; returns its
    * result and those lines.
    */
  private def quietly[T](f: => T): (T, Seq[String]) = {
    val buf = new java.io.ByteArrayOutputStream()
    val r = Console.withOut(buf)(f)
    (r, buf.toString("UTF-8").linesIterator.toSeq)
  }

  private def runInput(seed: Long): (String, String) = {
    val tmp = java.nio.file.Files.createTempDirectory("graft-report").toString
    TranscriptGen.generate(spark, seed, 30L, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    (s"$tmp/in", s"$tmp/out")
  }

  /** The SINKS report as a read-back of every committed bucket gives it. */
  private def readBackReport(root: String): Seq[Metrics.SinkMetric] =
    Metrics.fromSinkCounts(Router.sinkCounts(Lineage.readData(spark, root)), 1.0).sinks

  private def assertReportIsReadBack(res: RunPipeline.BatchResult, lines: Seq[String],
      root: String): Unit = {
    assert(res.report.sinks == readBackReport(root))
    assert(res.report.inputTurns == Lineage.readData(spark, root).count())
    assert(lines.exists(_ == "SINKS " + Metrics.toJson(res.report)))
    assert(lines.exists(_.startsWith("PARTITIONS [")))
    assert(lines.exists(_.startsWith(s"""COMMIT {"batch_id":""")))
  }

  test("SINKS report of a fresh run equals a read-back of the committed data") {
    val (in, root) = runInput(31L)
    val (res, lines) = quietly(RunPipeline.runBatch(spark, in, root, "b1", 8))
    assert(res.committed == 8 && res.bucketsTotal == 8)
    assertReportIsReadBack(res, lines, root)
  }

  test("SINKS report after a crash and a resume covers the buckets both runs sealed") {
    val (in, root) = runInput(32L)
    val crashed = Lineage.run(
      Router.stripMeta(TranscriptPipeline.run(spark, spark.read.parquet(in))),
      root, 8, "b1", maxBucketsToCommit = 3)
    assert(crashed == 3)
    val (res, lines) = quietly(RunPipeline.runBatch(spark, in, root, "b2", 8))
    assert(res.committed == 5 && res.bucketsTotal == 8)
    assertReportIsReadBack(res, lines, root)
  }

  test("SINKS report over markers without per-sink counts reads those buckets back") {
    val (in, root) = runInput(33L)
    quietly(RunPipeline.runBatch(spark, in, root, "b1", 8))
    // strip the per-sink counts from half the markers, as a root sealed
    // before markers carried them would have none
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val dir = java.nio.file.Paths.get(root, "lineage")
    for (b <- Lineage.committed(root) if b % 2 == 0) {
      val f = dir.resolve(s"p$b.json")
      val n = mapper.readTree(f.toFile).asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode]
      n.remove("sinks")
      java.nio.file.Files.writeString(f, mapper.writeValueAsString(n))
    }
    assert(Lineage.readMarkers(root).count(_.sinks.isEmpty) == 4)
    assert(RunPipeline.committedSinks(spark, root) == readBackReport(root))
    // a resume over the legacy root reports the same numbers
    val (res, lines) = quietly(RunPipeline.runBatch(spark, in, root, "b2", 8))
    assert(res.committed == 0)
    assertReportIsReadBack(res, lines, root)
  }
}
