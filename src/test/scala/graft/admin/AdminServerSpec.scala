package graft.admin

import org.scalatest.funsuite.AnyFunSuite

/** Navigable admin REST tree (`lc-lib/admin/server.go`, `apiroot.go`):
  * leaf GET returns JSON, interior GET lists children, unknown paths 404,
  * and a live metric registered as a provider reflects updates without
  * re-registration — the polling surface `lc-admin` connects to.
  */
class AdminServerSpec extends AnyFunSuite {

  private def get(addr: java.net.InetSocketAddress, path: String): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:${addr.getPort}$path"))
      .GET().build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("root lists entries; name/version leaves encode like apiroot.go:40-53") {
    val srv = new AdminServer(name = "graft", version = "3")
    val meter = new java.util.concurrent.atomic.AtomicLong(0L)
    srv.register("pipeline/speed", () => Map("lines_per_sec" -> meter.get()))
    srv.register("pipeline/sinks", () => Seq("sink_main", "sink_tools"))
    val addr = srv.start()
    try {
      val (c0, root) = get(addr, "/")
      assert(c0 == 200 && root.contains("\"name\"") && root.contains("\"pipeline\""))
      assert(get(addr, "/name") == ((200, "\"graft\"")))
      assert(get(addr, "/version") == ((200, "\"3\"")))
      // interior node: sorted child listing
      assert(get(addr, "/pipeline") == ((200, """["sinks","speed"]""")))
      // live provider: polled value reflects updates (the lc-admin loop)
      meter.set(12345L)
      val (c1, b1) = get(addr, "/pipeline/speed")
      assert(c1 == 200 && b1 == """{"lines_per_sec":12345}""")
      meter.set(777L)
      assert(get(addr, "/pipeline/speed")._2 == """{"lines_per_sec":777}""")
      // unknown path → 404 (server.go:225-235)
      assert(get(addr, "/nope")._1 == 404)
    } finally srv.stop()
  }

  test("forSpark wires live streaming speed meters into the tree (lc-admin poll loop)") {
    val spark = graft.SparkTestBase.spark
    val speeds = graft.streaming.StreamingPipeline.attachSpeedListener(spark)
    val srv = AdminServer.forSpark(spark, speeds)
    val addr = srv.start()
    val q = spark.readStream.format("rate").option("rowsPerSecond", "500").load()
      .writeStream.format("memory").queryName("admin_rate_probe").start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      var speed = 0.0
      while (speed <= 0.0 && System.currentTimeMillis() < deadline) {
        Thread.sleep(300)
        val (c, body) = get(addr, "/pipeline/speed")
        assert(c == 200)
        val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(body)
        if (node.has("admin_rate_probe")) speed = node.get("admin_rate_probe").asDouble()
      }
      assert(speed > 0.0, "live meter must surface rows/sec through the admin endpoint")
      val (_, names) = get(addr, "/pipeline/queries")
      assert(names.contains("admin_rate_probe"))
    } finally { q.stop(); srv.stop() }
  }

  test("forBatch exposes per-sink counters and lineage progress (publisher/api.go:33-36 analog)") {
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("admin_batch").toString
    val df = Seq(
      ("c1", "hello", "sink_main"), ("c1", "world!", "sink_main"),
      ("c2", "err", "sink_errors")
    ).toDF("conv_id", "text", graft.route.Router.SinkCol)
    val srv = AdminServer.forBatch(root, "b1", 4, () => Map("p" -> 1))
    val addr = srv.start()
    try {
      // before any bucket commits: empty counters, zero progress
      val (c0, empty) = get(addr, "/pipeline/sinks")
      assert(c0 == 200 && empty == "{}")
      assert(get(addr, "/pipeline/lineage")._2.contains("\"buckets_committed\":0"))
      graft.lineage.Lineage.run(df, root, nBuckets = 4, batchId = "b1")
      // after commit: live counts over the sealed buckets
      val node = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(get(addr, "/pipeline/sinks")._2)
      assert(node.get("sink_main").get("turns").asLong == 2L)
      assert(node.get("sink_main").get("bytes").asLong == 11L) // "hello"+"world!"
      assert(node.get("sink_errors").get("turns").asLong == 1L)
      val lin = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(get(addr, "/pipeline/lineage")._2)
      assert(lin.get("buckets_committed").asInt > 0 && lin.get("buckets_total").asInt == 4)
      assert(get(addr, "/pipeline")._2.contains("\"sinks\""))
    } finally srv.stop()
  }

  private def post(addr: java.net.InetSocketAddress, path: String,
      form: String = ""): (Int, String) = {
    val client = java.net.http.HttpClient.newHttpClient()
    val req = java.net.http.HttpRequest.newBuilder()
      .uri(java.net.URI.create(s"http://127.0.0.1:${addr.getPort}$path"))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(java.net.http.HttpRequest.BodyPublishers.ofString(form)).build()
    val resp = client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

  test("reload command: POST-only callback validates + applies config (apiroot.go:47-52, server.go:215-222)") {
    val spark = graft.SparkTestBase.spark
    import org.apache.spark.sql.functions.{col, explode}
    val tmp = java.nio.file.Files.createTempDirectory("admin_reload").toString
    val inputDir = s"$tmp/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inputDir))
    val cfgPath = java.nio.file.Paths.get(s"$tmp/pipeline.json")
    java.nio.file.Files.writeString(cfgPath, """[{"add_tag": {"tag": "cfg_v1"}}]""")
    val turns = graft.model.TranscriptGen
      .generate(spark, seed = 72L, nConvs = 6L, parallelism = 1).toDF()
    turns.limit(5).write.mode("append").parquet(inputDir)

    val speeds = graft.streaming.StreamingPipeline.attachSpeedListener(spark)
    val srv = AdminServer.forSpark(spark, speeds, configPath = Some(cfgPath))
    val addr = srv.start()
    val q = graft.streaming.StreamingPipeline.runConfigured(
      spark, inputDir, s"$tmp/ckpt", s"$tmp/out", cfgPath.toString,
      maxFilesPerTrigger = 64,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(300))
    try {
      def sealedBatches: Set[String] = {
        val d = new java.io.File(s"$tmp/out")
        if (!d.isDirectory) Set.empty
        else d.listFiles().filter(f => f.isDirectory && f.getName.startsWith("batch=")
            && new java.io.File(f, "_SUCCESS").exists()).map(_.getName).toSet
      }
      val deadline = System.currentTimeMillis() + 60000
      while (sealedBatches.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(sealedBatches.nonEmpty, "first batch should land under config v1")

      // reload is visible in the tree and POST-only: GET → 405
      assert(get(addr, "/reload")._1 == 405)
      assert(get(addr, "/pipeline/reload")._1 == 405)
      assert(get(addr, "/")._2.contains("\"reload\""))

      // edit config + POST reload → validated, ack'd, next batch applies it
      val before = sealedBatches
      java.nio.file.Files.writeString(cfgPath, """[{"add_tag": {"tag": "cfg_v2"}}]""")
      val (rc, rb) = post(addr, "/pipeline/reload")
      assert(rc == 200 && rb == """{"result":"Successfully reloaded configuration"}""")
      Thread.sleep(400) // let any in-flight trigger pass
      turns.limit(5).write.mode("append").parquet(inputDir)
      while (sealedBatches == before && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(sealedBatches != before, "a post-reload batch should land")

      // invalid config → reload returns the load error, nothing changes
      // (ReloadConfig surfaces the error before touching state, app.go:266-277)
      java.nio.file.Files.writeString(cfgPath, """[{"bogus_stage": {}}]""")
      val (ec, eb) = post(addr, "/reload")
      assert(ec == 500 && eb.contains("error"))
      // the stream survives the bad file (its own guard keeps last-good)
      val mid = sealedBatches
      turns.limit(5).write.mode("append").parquet(inputDir)
      while (sealedBatches == mid && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(sealedBatches != mid, "stream must keep running after a failed reload")
    } finally { q.stop(); srv.stop() }
    val out = spark.read.option("basePath", s"$tmp/out").parquet(s"$tmp/out/batch=*")
    val tags = out.select(explode(col("tags")).as("tag")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(tags.contains("cfg_v1") && tags.contains("cfg_v2"),
      s"both config versions must have applied across batches, saw $tags")
  }

  test("respond() unit surface: empty tree path vs leaf precedence") {
    val srv = new AdminServer()
    srv.register("a/b/c", () => 1)
    assert(srv.respond("a")._2 == """["b"]""")
    assert(srv.respond("a/b")._2 == """["c"]""")
    assert(srv.respond("a/b/c") == ((200, "1")))
  }
}
