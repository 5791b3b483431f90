package graft.streaming

import java.nio.file.Files

import graft.SparkTestBase
import graft.lineage.Lineage
import graft.model.TranscriptGen
import graft.route.Router
import graft.TranscriptPipeline
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkTestBase {

  test("trigger sizing check warns on fixed-cost-dominated micro-batches (BENCH.md streaming series)") {
    val tmp = Files.createTempDirectory("graft-trigger-size").toString
    val inputDir = s"$tmp/in"
    // tiny files: any small trigger is far under 16 MB/core
    TranscriptGen.generate(spark, seed = 31L, nConvs = 20L, parallelism = 4)
      .toDF().write.parquet(inputDir)
    val warn = StreamingPipeline.triggerSizingWarning(spark, inputDir, maxFilesPerTrigger = 2)
    assert(warn.isDefined, "toy micro-batches must be flagged")
    assert(warn.get.contains("fixed cost") && warn.get.contains("maxFilesPerTrigger=2"))
    // an adequately sized trigger passes (bar lowered via the parameter —
    // test data can't reach 16 MB/core × 32 cores)
    assert(StreamingPipeline.triggerSizingWarning(spark, inputDir,
      maxFilesPerTrigger = 4, minBytesPerCore = 1L).isEmpty)
    // missing dir (nothing listed yet) → no verdict
    assert(StreamingPipeline.triggerSizingWarning(spark, s"$tmp/missing", 2).isEmpty)
    // empty dir (no parquet yet) → no verdict
    val emptyDir = s"$tmp/empty"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(emptyDir))
    assert(StreamingPipeline.triggerSizingWarning(spark, emptyDir, 2).isEmpty)
  }

  test("streaming pipeline over micro-batches equals the batch pipeline") {
    val tmp = Files.createTempDirectory("graft-stream").toString
    val inputDir = s"$tmp/in"
    val turns = TranscriptGen.generate(spark, seed = 21L, nConvs = 30L, parallelism = 4).toDF()
    turns.write.parquet(inputDir)

    val q = StreamingPipeline.run(spark, inputDir, s"$tmp/ckpt", s"$tmp/out",
      maxFilesPerTrigger = 2)
    q.awaitTermination(120000)

    val streamed = StreamingPipeline.readCommitted(spark, s"$tmp/out")
    val batch = Router.stripMeta(TranscriptPipeline.run(spark, turns))

    assert(streamed.count() == batch.count())
    val sCounts = streamed.groupBy(Router.SinkCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val bCounts = batch.groupBy(Router.SinkCol).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sCounts == bCounts)
    // per-turn text equality across the streamed output
    val sTexts = streamed.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val bTexts = batch.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(sTexts == bTexts)
  }

  test("round-2 stages (user_agent, geoip, ECS decorate) are streaming-identical column transforms") {
    import graft.enrich.{Ecs, EcsConfig, GeoRecord}
    import graft.pipeline.{GeoIpStage, Pipeline, SetFieldStage, UserAgentStage}
    val tmp = Files.createTempDirectory("graft-stream-r2").toString
    val turns = TranscriptGen.generate(spark, seed = 44L, nConvs = 10L, parallelism = 2).toDF()
    turns.write.parquet(s"$tmp/in")
    val db = Seq(GeoRecord("81.2.69.142", "London", "Europe", "GB", "United Kingdom",
      -0.0931, 51.5142, "EC1", "Europe/London", "ENG", "England"))
    def stages(df: org.apache.spark.sql.DataFrame) = {
      val piped = Pipeline(df, Seq(
        SetFieldStage("ip", "\"81.2.69.142\""),
        UserAgentStage("text"),
        GeoIpStage("ip", db)))
      Ecs.decorate(piped, EcsConfig(addHostField = true, enableEcs = true),
        host = lit("node1"), timezone = lit("+0000 UTC"), timezoneName = lit("UTC"),
        path = concat(lit("/t/"), col("conv_id"), lit(".log")),
        offset = col("turn_idx"))
    }
    val q = spark.readStream
      .schema(graft.model.Turn.schema)
      .parquet(s"$tmp/in")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        stages(batch).write.mode("overwrite").parquet(s"$tmp/out/batch=$id"): Unit
      }
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val streamed = spark.read.option("basePath", s"$tmp/out").parquet(s"$tmp/out/batch=*")
    val batch = stages(turns)
    assert(streamed.count() == batch.count() && batch.count() > 0)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select(col("conv_id"), col("turn_idx"),
          col("host.name"), col("log.offset"), col("source.geo.city_name"))
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getString(4))).toSet
    assert(key(streamed) == key(batch))
  }

  test("speed listener meters live rows/sec per query (harvester.go:540-541 EWMA analog)") {
    val tmp = Files.createTempDirectory("graft-speed").toString
    TranscriptGen.generate(spark, 55L, 10L, 2).toDF().write.parquet(s"$tmp/in")
    val listener = StreamingPipeline.attachSpeedListener(spark)
    try {
      val q = spark.readStream.schema(graft.model.Turn.schema).parquet(s"$tmp/in")
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
          b.write.mode("overwrite").parquet(s"$tmp/out/batch=$id"): Unit
        }
        .option("checkpointLocation", s"$tmp/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      // listener events are async — wait for the progress to land
      val deadline = System.currentTimeMillis() + 20000
      while (listener.speedFor(q.id) == 0.0 && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(listener.speedFor(q.id) > 0.0, "EWMA speed should reflect processed rows")
    } finally spark.streams.removeListener(listener)
  }

  test("checkpoint resume: restarted stream processes only new files (registrar analog)") {
    val tmp = Files.createTempDirectory("graft-resume").toString
    val in = s"$tmp/in"; val ckpt = s"$tmp/ckpt"; val out = s"$tmp/out"
    val all = TranscriptGen.generate(spark, seed = 33L, nConvs = 20L, parallelism = 2).toDF()
    val first = all.filter(col("conv_id") < TranscriptGen.convId(10))
    val second = all.filter(col("conv_id") >= TranscriptGen.convId(10))

    first.write.mode("append").parquet(in)
    StreamingPipeline.run(spark, in, ckpt, out, maxFilesPerTrigger = 1)
      .awaitTermination(120000)
    val batchesAfterFirst = new java.io.File(out).list().count(_.startsWith("batch="))

    // "rotation": more files arrive; restart from the same checkpoint
    second.write.mode("append").parquet(in)
    StreamingPipeline.run(spark, in, ckpt, out, maxFilesPerTrigger = 1)
      .awaitTermination(120000)

    val streamed = StreamingPipeline.readCommitted(spark, out)
    assert(streamed.count() == all.count(), "no loss, no duplication across restart")
    assert(new java.io.File(out).list().count(_.startsWith("batch=")) > batchesAfterFirst)
    val sTexts = streamed.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    val aTexts = all.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(sTexts == aTexts)
  }

  test("a micro-batch that fails mid-commit re-seals only its unsealed buckets on restart") {
    val tmp = Files.createTempDirectory("graft-stream-crash").toString
    val in = s"$tmp/in"
    val all = TranscriptGen.generate(spark, seed = 37L, nConvs = 24L, parallelism = 2).toDF()
    val first = all.filter(col("conv_id") < TranscriptGen.convId(12))
    val second = all.filter(col("conv_id") >= TranscriptGen.convId(12))
    // one file each, one file per trigger: batch 0 is `first`, batch 1 `second`
    first.repartition(1).write.mode("append").parquet(in)
    second.repartition(1).write.mode("append").parquet(in)
    def runTo(out: String) =
      StreamingPipeline.run(spark, in, s"$out-ckpt", out, maxFilesPerTrigger = 1)

    runTo(s"$tmp/clean").awaitTermination(120000)

    // break the seal of batch 1's highest bucket: a directory where its
    // marker's tmp file goes, so the commit throws after sealing the
    // lower buckets
    val buckets = second.select(pmod(hash(col("conv_id")), lit(64))).distinct()
      .collect().map(_.getInt(0)).sorted
    assert(buckets.length > 1)
    val blocker = java.nio.file.Paths.get(s"$tmp/out/batch=1/lineage/p${buckets.last}.json.tmp")
    Files.createDirectories(blocker)
    Files.writeString(blocker.resolve("x"), "x")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runTo(s"$tmp/out").awaitTermination(120000))
    assert(Lineage.committed(s"$tmp/out/batch=1") == buckets.init.toSet)

    graft.util.Fs.deleteRecursively(blocker)
    runTo(s"$tmp/out").awaitTermination(120000)

    def rows(out: String) = StreamingPipeline.readCommitted(spark, out)
      .select("conv_id", "turn_idx", "text", Router.SinkCol).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3))).toSeq.sorted
    val got = rows(s"$tmp/out")
    assert(got == rows(s"$tmp/clean"))
    assert(got.length == all.count())
    // every bucket of every batch root carries exactly one marker
    for (b <- Seq("batch=0", "batch=1")) {
      val root = java.nio.file.Paths.get(s"$tmp/out/$b")
      val data = root.resolve("data").toFile.list().toSeq
      val marks = root.resolve("lineage").toFile.list().toSeq
      assert(marks.sorted == data.map(p => s"$p.json").sorted, b)
    }
  }

  test("live config reload at micro-batch boundaries (processor pool reload, pool.go:104-111)") {
    val tmp = Files.createTempDirectory("graft-stream-reload").toString
    val inputDir = s"$tmp/in"; Files.createDirectories(java.nio.file.Paths.get(inputDir))
    val cfgPath = java.nio.file.Paths.get(s"$tmp/pipeline.json")
    def writeCfg(tag: String): Unit = {
      Files.writeString(cfgPath, s"""[{"add_tag": {"tag": "$tag"}}]""")
      // mtime granularity on some filesystems is 1s — force a distinct stamp
      Files.setLastModifiedTime(cfgPath,
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    }
    writeCfg("cfg_v1")
    val turns = TranscriptGen.generate(spark, seed = 71L, nConvs = 6L, parallelism = 1).toDF()
    turns.limit(5).write.mode("append").parquet(inputDir)

    val q = StreamingPipeline.run(spark, inputDir, s"$tmp/ckpt", s"$tmp/out",
      maxFilesPerTrigger = 64,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(300),
      stages = StreamingPipeline.reloadingStages(cfgPath.toString))
    try {
      def batches: Seq[String] = {
        val d = new java.io.File(s"$tmp/out")
        if (!d.isDirectory) Seq.empty
        else d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch=")
            && Lineage.committed(f.getPath).nonEmpty) // only sealed batches
          .map(_.getName).toSeq.sorted
      }
      val deadline = System.currentTimeMillis() + 60000
      while (batches.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(200)
      assert(batches.nonEmpty, "first batch should land under config v1")
      val firstBatches = batches.toSet
      // reload: edit the config, then feed more input — the NEXT batch
      // must pick up v2 while already-written batches keep v1 output
      writeCfg("cfg_v2")
      Thread.sleep(400) // ensure the in-flight trigger (if any) has passed
      turns.limit(5).write.mode("append").parquet(inputDir)
      while (batches.toSet == firstBatches && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(batches.toSet != firstBatches, "a post-edit batch should land")
    } finally q.stop()
    val out = StreamingPipeline.readCommitted(spark, s"$tmp/out")
    val tags = out.select(explode(col("tags")).as("tag")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(tags.contains("cfg_v1") && tags.contains("cfg_v2"),
      s"both config versions must have applied across batches, saw $tags")
    // no row carries both tags — each batch ran under exactly one config
    assert(out.filter(array_contains(col("tags"), "cfg_v1") &&
      array_contains(col("tags"), "cfg_v2")).count() == 0)
  }

  test("streaming exact dedup drops in-horizon copies with bounded state (batch Dedup.exact analog)") {
    import java.sql.Timestamp
    import graft.model.Turn
    val tmp = Files.createTempDirectory("graft-stream-dedup").toString
    val inputDir = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inputDir))
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // two files → two micro-batches; duplicates both within and across batches
    val batch1 = Seq(
      Turn("c1", 0, "user", "alpha text", "", ts(0)),
      Turn("c1", 1, "user", "beta text", "", ts(1)),
      Turn("c2", 0, "user", "alpha text", "", ts(2))) // dup within batch
    val batch2 = Seq(
      Turn("c3", 0, "user", "beta text", "", ts(3)),  // dup across batches
      Turn("c3", 1, "user", "gamma text", "", ts(4)))
    import spark.implicits._
    batch1.toDF().repartition(1).write.parquet(s"$inputDir/f1")
    batch2.toDF().repartition(1).write.parquet(s"$inputDir/f2")

    val in = spark.readStream.schema(Turn.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$inputDir/*")
    val q = StreamingPipeline.dedupExactStream(in, horizon = "1 hour")
      .writeStream
      .option("checkpointLocation", s"$tmp/ckpt")
      .format("memory").queryName("dedup_stream")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    val out = spark.table("dedup_stream").collect()
    // one survivor per distinct text; all five columns intact (key cols dropped)
    assert(out.map(_.getAs[String]("text")).sorted.toSeq ==
      Seq("alpha text", "beta text", "gamma text"))
    assert(out.head.schema.fieldNames.toSet == Turn.schema.fieldNames.toSet)
    // the emitted survivor is the first arrival of each text
    val byText = out.map(r => r.getAs[String]("text") -> r.getAs[String]("conv_id")).toMap
    assert(byText("alpha text") == "c1" && byText("beta text") == "c1")
    // bounded-state contract: state rows == distinct keys (3), not input rows
    val stateRows = q.recentProgress.flatMap(_.stateOperators).map(_.numRowsTotal)
    assert(stateRows.nonEmpty && stateRows.max == 3L,
      s"state should hold one row per distinct key, got ${stateRows.toSeq}")
  }

  test("session_window assembly flushes on event-time gaps") {
    import spark.implicits._
    val rows = Seq(
      ("c1", 0, "a", ts(0)), ("c1", 1, "b", ts(60)),      // same session
      ("c1", 2, "c", ts(2000)),                           // new session (gap > 10 min)
      ("c2", 0, "x", ts(30))
    ).toDF("conv_id", "turn_idx", "text", "ts")
    // batch-mode session_window exercises the same plan the stream uses
    val got = StreamingPipeline.sessionAssemble(rows)
      .orderBy("conv_id", "first_turn_idx")
      .select("conv_id", "n_lines", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(got == Seq(("c1", 2L, "a\nb"), ("c1", 1L, "c"), ("c2", 1L, "x")))
  }

  test("session assembly maxBytes split matches the reference state machine on multi-byte text") {
    import spark.implicits._
    import graft.codec.{Multiline, MultilineConfig}
    // one session of multi-byte lines (2- and 3-byte UTF-8 runes)
    val lines = Seq("héllo wörld", "日本語のテキスト", "mixed ascii ünd ümlauts", "短い")
    val rows = lines.zipWithIndex.map { case (t, i) => ("c1", i, t, ts(i)) }
      .toDF("conv_id", "turn_idx", "text", "ts")
    val max = 20
    val got = StreamingPipeline.sessionAssemble(rows, maxBytes = Some(max))
      .orderBy("chunk_idx").select("text").as[String].collect().toSeq
    // the state-machine oracle with always-matching patterns: no pattern
    // boundaries, only the byte cap cuts — exactly one session's splits
    val want = Multiline.oracle(lines, MultilineConfig(Seq("^"), maxBytes = Some(max)))
    assert(got == want, s"streaming split must equal the reference codec byte accounting")
    // every chunk is byte-bounded and rune-complete
    got.foreach { c =>
      assert(c.getBytes("UTF-8").length <= max)
      assert(new String(c.getBytes("UTF-8"), "UTF-8") == c)
    }
  }

  private def ts(sec: Long) = new java.sql.Timestamp(1767225600000L + sec * 1000L)

  test("stream-stream attribution join equals the batch interval join pair for pair") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    def micros(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long)] = df
      .select(col("user_id"),
        expr("unix_micros(cast(view_ts as timestamp))"),
        expr("unix_micros(cast(click_ts as timestamp))"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val got = micros(graft.queries.QueriesR7c.qStreamAttrib(spark, dir))
    val ev = spark.read.parquet(s"$dir/events.parquet")
      .select(col("user_id"), col("event_type"), col("ts").cast("timestamp").as("ts"))
    val v = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("view_ts"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val expect = micros(v.join(c, col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("interval 1 hour"))
      .select(col("user_id"), col("view_ts"), col("click_ts")))
    assert(got.nonEmpty, "planted corpus must contain attributable pairs")
    assert(got == expect, s"${got.length} streamed vs ${expect.length} batch pairs")
  }
}
