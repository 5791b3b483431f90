package graft.streaming

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.lineage.Lineage
import graft.model.Turn
import graft.pipeline.Stage
import graft.route.Router
import graft.{RunPipeline, TranscriptPipeline}

/** Structured-Streaming face of the engine — the same stage functions the
  * batch path uses, run per micro-batch. This is the direct analog of the
  * reference's continuous ship→parse→route loop:
  *
  *   - incremental source + checkpoint ↔ harvester resume offsets
  *     (`lc-lib/registrar/registrar.go`): the streaming checkpoint IS the
  *     registrar, maintained by Spark;
  *   - `maxFilesPerTrigger` ↔ spool-size batching / in-flight bounds
  *     (`lc-lib/spooler/spooler.go:85-166`);
  *   - one sink, [[commit]]: each micro-batch is sealed through
  *     [[graft.lineage.Lineage.run]] under `outRoot/batch=<id>`, the same
  *     exactly-once bucket commit a batch run makes (markers, per-sink
  *     tallies, no-fork writes). The registrar advances offsets only after
  *     the chain acked (`event_ack.go:37-66`); here Spark logs a batch as
  *     done only after its commit returned, and a re-delivered batch id
  *     seals only the buckets a crash left unsealed.
  */
object StreamingPipeline {

  /** Shuffle partitions while a replayed stateful stream runs
    * ([[replay]]). A stateful stream fixes its state-store partition
    * count from the shuffle setting at its FIRST micro-batch, and every
    * later batch pays (partitions × state stores) open/commit round-trips
    * per trigger — pure fixed cost for the replays' ~10³-key state. Their
    * results are partitioning-invariant.
    */
  private val StatePartitions = 8

  /** Order a directory's part files by ascending name → strictly
    * ascending modification time, so `FileStreamSource`'s
    * (mtime, path) ordering consumes them in exactly partition order
    * regardless of how concurrently the batch write finished. The
    * range-partitioned sources the streaming queries replay rely on
    * file order == event-time order for watermark completeness; with
    * near-identical mtimes from a parallel write that held only by the
    * path tie-break. Driver-side, one listing + one setTimes per file —
    * file-count-bounded, no data pass.
    */
  private def pinFileOrder(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val t0 = System.currentTimeMillis()
    parts.zipWithIndex.foreach { case (f, i) =>
      fs.setTimes(f, t0 + i * 1000L, -1L)
    }
  }

  /** Minimum micro-batch payload per core before per-trigger fixed cost
    * (planning, codegen, broadcast rebuilds, offset/commit-log writes —
    * all core-count-independent) dominates the batch duration. Measured,
    * not asserted: BENCH.md's streaming series over the same 7.9M-turn
    * input shows eff(2→8) climbing 0.50 → 0.68 → 0.81 as the trigger
    * grows from ~2M turns to one full-input batch, with wall ≈ Σ batch
    * durations and the gap to the batch path entirely the per-batch
    * fixed cost (t(c) = f + W/c with f ≈ 1-2 s per trigger).
    */
  val MinTriggerBytesPerCore: Long = 16L * 1024 * 1024

  /** Trigger-sizing check (the BENCH.md lesson as code): estimates the
    * per-micro-batch payload from the input listing (mean file size ×
    * `maxFilesPerTrigger`) and returns a warning when it is under
    * [[MinTriggerBytesPerCore]] × cores — i.e. when micro-batches will be
    * fixed-cost-dominated and scaling efficiency collapses. Returns None
    * when sized adequately or when the input can't be listed yet (an
    * empty source directory says nothing about eventual file sizes).
    * Called at stream start by [[run]]; the warning
    * logs, never throws — undersized triggers are legitimate for
    * latency-bound streams, the cost just has to be a visible choice.
    */
  def triggerSizingWarning(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int,
      minBytesPerCore: Long = MinTriggerBytesPerCore): Option[String] = {
    val p = new org.apache.hadoop.fs.Path(inputDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val files = fs.listStatus(p)
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return None
    val meanBytes = files.map(_.getLen).sum / files.length
    val cores = spark.sparkContext.defaultParallelism
    val perBatch = meanBytes * math.min(maxFilesPerTrigger, files.length)
    val needed = minBytesPerCore * cores
    if (perBatch < needed)
      Some(s"graft: maxFilesPerTrigger=$maxFilesPerTrigger yields ~${perBatch >> 20} MB " +
        s"per micro-batch on $cores cores (< ${needed >> 20} MB at ${minBytesPerCore >> 20} MB/core): " +
        "per-trigger fixed cost will dominate and scaling efficiency will degrade " +
        "(BENCH.md streaming series: eff 0.50 at toy triggers vs 0.81 full-batch); " +
        "raise maxFilesPerTrigger unless latency-bound")
    else None
  }

  private def warnTriggerSizing(spark: SparkSession, inputDir: String,
      maxFilesPerTrigger: Int): Unit =
    try triggerSizingWarning(spark, inputDir, maxFilesPerTrigger)
      .foreach(System.err.println)
    catch { case _: Exception => () } // advisory only — never block a stream

  /** The one streaming sink: seal each micro-batch of `stream` exactly
    * once. [[graft.lineage.Lineage.run]] buckets the micro-batch on
    * `keyCol` into `nBuckets` buckets, drops the buckets already sealed
    * under `outRoot/batch=<id>` (one lineage root per micro-batch id),
    * and commits `perBatch` of the rest, meta columns stripped. So
    * `perBatch` is its transform: it must keep `_bucket`
    * ([[graft.lineage.Lineage.BucketCol]]) and add no shuffle. A batch
    * that failed mid-commit is re-delivered with the same id and data on
    * restart from `checkpointDir`, and re-processes and re-seals only its
    * unsealed buckets.
    */
  def commit(stream: DataFrame, checkpointDir: String, outRoot: String,
      nBuckets: Int, keyCol: String, trigger: Trigger)(
      perBatch: DataFrame => DataFrame): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        Lineage.run(batch, s"$outRoot/batch=$id", nBuckets, batchId = id.toString,
          keyCol = keyCol, transform = b => Router.stripMeta(perBatch(b)))
        ()
      }
      .start()

  /** Everything [[commit]] sealed under `outRoot`: the sealed buckets of
    * every `batch=<id>` root, in batch-id order. An unsealed bucket of a
    * batch that failed mid-commit is not read.
    */
  def readCommitted(spark: SparkSession, outRoot: String): DataFrame = {
    val dir = Paths.get(outRoot)
    val batches = if (!Files.isDirectory(dir)) Nil else {
      val ls = Files.list(dir)
      try ls.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("batch=")).toSeq
      finally ls.close()
    }
    val roots = batches.sortBy(_.stripPrefix("batch=").toLong).map(b => s"$outRoot/$b")
      .filter(r => Lineage.committed(r).nonEmpty)
    require(roots.nonEmpty, s"no sealed micro-batch under $outRoot")
    roots.map(Lineage.readData(spark, _)).reduce(_ unionByName _)
  }

  /** Run the parse→enrich→route pipeline as a stream over a growing
    * parquet directory. Each micro-batch runs
    * `TranscriptPipeline.run(spark, batch, stages())`, as `RunPipeline`
    * does with its built-in or `GRAFT_PIPELINE_CONFIG` stage list, and
    * [[commit]] seals it into `RunPipeline.DefaultBuckets` buckets of
    * `conv_id` under `outRoot/batch=<id>`; [[readCommitted]] reads it
    * back. `stages` is called once per micro-batch, so
    * [[reloadingStages]] makes the stream follow a config file.
    */
  def run(spark: SparkSession, inputDir: String, checkpointDir: String,
      outRoot: String, maxFilesPerTrigger: Int = 8,
      trigger: Trigger = Trigger.AvailableNow(),
      stages: () => Seq[Stage] = () => TranscriptPipeline.stages): StreamingQuery = {
    warnTriggerSizing(spark, inputDir, maxFilesPerTrigger)
    val turns = spark.readStream
      .schema(Turn.schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(inputDir)
    commit(turns, checkpointDir, outRoot, RunPipeline.DefaultBuckets, "conv_id", trigger) { batch =>
      TranscriptPipeline.run(batch.sparkSession, batch, stages())
    }
  }

  /** A stage supplier for [[run]] that follows `configPath` LIVE — the
    * processor-pool reload semantics (`lc-lib/processor/pool.go:104-111`:
    * on a config change the pool drains in-flight events under the old
    * config, then restarts its routines with the new one; events never
    * see a half-applied config). [[run]] calls it at each micro-batch
    * boundary: the batch in flight finishes under the config it started
    * with, the next batch picks up the edit. Triggering a reload =
    * writing the config file (the admin-API reload command maps to
    * exactly that).
    *
    * Robustness matching the reference: the config is re-read by CONTENT
    * (full-text comparison each batch — configs are small, and neither
    * mtime nor a hash can miss or falsely match a change that way; a
    * config file big enough for the per-batch read to matter indicates a
    * different problem), and a torn or invalid config read keeps the last
    * good config running instead of killing the stream (the pool never
    * dies on a bad reload; it logs and carries on). Only the very first
    * batch, with no good config yet, propagates the parse error.
    */
  def reloadingStages(configPath: String): () => Seq[Stage] = {
    val path = Paths.get(configPath)
    @volatile var cached: (String, Seq[Stage]) = null
    () => {
      val c = cached
      try {
        val text = Files.readString(path) // configs are small
        if (c == null || c._1 != text) { // full-text compare: no hash-collision hole
          // dialect by extension/sniff: the reference's watched configs
          // are YAML (testing/*.yaml); our JSON dialect stays accepted
          val parsed = graft.pipeline.PipelineConfig.fromText(text, configPath)
          cached = (text, parsed)
          parsed
        } else c._2
      } catch {
        case e: Exception if c != null =>
          System.err.println(s"graft: config reload failed, keeping previous config: $e")
          c._2
      }
    }
  }

  /** The replay scaffold of the file-sink driver queries: write the
    * ordered `source` frame to a temp dir, pin its file order, and run
    * the streaming query `build` makes from a reader of it (call the
    * reader once per stream side) — 2 files per trigger,
    * `StatePartitions` state partitions, `AvailableNow`, append-mode
    * parquet sink. Returns the sink read back as a batch table.
    */
  def replay(spark: SparkSession, name: String, source: DataFrame)(
      build: (() => DataFrame) => DataFrame): DataFrame = {
    val base = graft.util.Fs.tempDirDeletedAtExit(name)
    source.write.mode("overwrite").parquet(s"$base/src")
    pinFileOrder(spark, s"$base/src")
    val read = () => spark.readStream.schema(source.schema)
      .option("maxFilesPerTrigger", 2).parquet(s"$base/src")
    // the session value comes back before the caller's next batch plan
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, StatePartitions)
    try build(read).writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    spark.read.parquet(s"$base/out")
  }

  /** Streaming multiline-timeout analog (`previous timeout`,
    * `lc-lib/codecs/multiline/multiline.go:281-319`): assemble events per
    * conversation with an event-time session gap; the watermark flushes a
    * session once no line can arrive within the gap — exactly the
    * deadline-routine semantics, but driven by event time.
    *
    * `maxBytes` mirrors the batch sessioniser's hard cap
    * (`multiline.go:199-223` — the codec enforces it per stream, so the
    * streaming path must too): each assembled session's joined text is
    * split every `maxBytes` BYTES with rune-safe back-off
    * ([[graft.functions.Utf8ChunkBytes]]), one output row per chunk with
    * its `chunk_idx`. The split is a per-row generator AFTER the stateful
    * aggregation, so it adds no state and no extra shuffle.
    */
  def sessionAssemble(turns: DataFrame, gap: String = "10 minutes",
      watermark: String = "30 minutes", maxBytes: Option[Int] = None): DataFrame = {
    val assembled = turns
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("conv_id"))
      .agg(
        min(col("turn_idx")).as("first_turn_idx"),
        max(col("turn_idx")).as("last_turn_idx"),
        count(lit(1)).cast("long").as("n_lines"),
        array_join(transform(
          sort_array(collect_list(struct(col("turn_idx").as("i"), col("text").as("t")))),
          x => x.getField("t")), "\n").as("text"))
      .select(col("conv_id"), col("session_window.start").as("session_start"),
        col("first_turn_idx"), col("last_turn_idx"), col("n_lines"), col("text"))
    maxBytes match {
      case None => assembled
      case Some(max) =>
        assembled
          .select(col("conv_id"), col("session_start"), col("first_turn_idx"),
            col("last_turn_idx"), col("n_lines"),
            posexplode(graft.functions.Utf8ChunkBytes(col("text"), max))
              .as(Seq("chunk_idx", "text")))
    }
  }

  /** Streaming face of exact dedup (`Dedup.exact`): bounded-state
    * duplicate suppression keyed on content. The batch operator confirms
    * full-text equality inside each hash group; a stream cannot hold full
    * documents in state at 100 TB, so the streaming face keys on a
    * 128-bit composite of two independent 64-bit hash lanes — ~32 bytes
    * of state per distinct doc inside the watermark horizon, collision
    * odds ≈ n²/2¹²⁹ (≪10⁻²⁰ at a billion in-horizon docs). State is
    * evicted by the watermark: `horizon` IS the dedup window, sized by
    * the caller to how far apart duplicates actually arrive (e.g. a
    * crawler's re-fetch interval), which keeps state bounded regardless
    * of stream length. First arrival is emitted immediately (append
    * mode); later copies inside the horizon are dropped.
    */
  def dedupExactStream(turns: DataFrame, textCol: String = "text",
      tsCol: String = "ts", horizon: String = "1 hour"): DataFrame =
    turns
      .withColumn("_dk0", xxhash64(col(textCol)))
      // second lane: SALT FIRST. Spark's multi-arg xxhash64 folds left to
      // right with the running hash as the next seed, so
      // xxhash64(text, salt) = F(xxhash64(text)) — a deterministic
      // function of lane 0 that collides whenever lane 0 does (64-bit
      // resistance wearing a 128-bit label). Hashing the salt first
      // gives the text an independent effective seed, so the composite
      // key's collision odds really are ~n²/2¹²⁹.
      .withColumn("_dk1", xxhash64(lit(0x9E3779B97F4A7C15L), col(textCol)))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("_dk0", "_dk1")
      .drop("_dk0", "_dk1")

  /** Live `speed_lps` meter per query (the harvester EWMA,
    * `lc-lib/harvester/harvester.go:540-541` via `core/util.go:27-47`):
    * a StreamingQueryListener feeding each micro-batch's row count and
    * duration into a [[graft.metrics.Metrics.SpeedMeter]]. Read
    * `speedFor(queryId)` any time — the admin-API polling analog.
    */
  final class SpeedListener extends org.apache.spark.sql.streaming.StreamingQueryListener {
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    private val meters =
      new java.util.concurrent.ConcurrentHashMap[java.util.UUID, graft.metrics.Metrics.SpeedMeter]()
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      meters.putIfAbsent(e.id, new graft.metrics.Metrics.SpeedMeter(5.0))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val m = meters.computeIfAbsent(e.progress.id,
        _ => new graft.metrics.Metrics.SpeedMeter(5.0))
      val sec = math.max(e.progress.batchDuration / 1000.0, 1e-3)
      m.synchronized { m.update(sec, e.progress.numInputRows / sec) }
    }
    // retire terminated meters through a BOUNDED window: immediate
    // removal would erase the final reading an admin poll of a
    // just-completed query legitimately wants (terminate events race
    // ahead of the poll), but keeping every UUID forever is an
    // unbounded leak on exactly the long-lived-driver path this
    // listener serves — so the last `RetainTerminated` finished
    // queries stay readable and older ones age out FIFO
    private val retired = new java.util.concurrent.ConcurrentLinkedQueue[java.util.UUID]()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = {
      retired.add(e.id)
      while (retired.size > SpeedListener.RetainTerminated) {
        val old = retired.poll()
        if (old != null) meters.remove(old)
      }
    }
    def speedFor(id: java.util.UUID): Double =
      Option(meters.get(id)).map(_.value).getOrElse(0.0)
  }

  object SpeedListener {
    /** Terminated queries whose final meter stays readable. */
    val RetainTerminated = 64
  }

  def attachSpeedListener(spark: SparkSession): SpeedListener = {
    val l = new SpeedListener
    spark.streams.addListener(l)
    l
  }
}
