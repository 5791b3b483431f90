package graft

import org.apache.spark.sql.SparkSession

import graft.lineage.Lineage
import graft.metrics.{Metrics, PartitionMetrics}
import graft.route.Router

/** Production entry point (spark-submit main): the resumable, metered
  * end-to-end job —
  *
  *   read transcripts → parse → enrich → route → exactly-once bucketed
  *   commit (lineage) → metrics report.
  *
  * Usage:
  *   spark-submit --class graft.RunPipeline <jar> \
  *     <inputDir> <outputRoot> [batchId] [nBuckets]
  *
  * A re-run after a crash with the same outputRoot skips every sealed
  * bucket (see [[graft.lineage.Lineage]]), so the job is idempotent.
  * Prints three JSON lines (admin-API analogs): SINKS, the per-sink
  * report over every committed bucket; PARTITIONS, per-partition
  * throughput; and COMMIT, the lineage progress.
  */
object RunPipeline {

  final case class BatchResult(report: Metrics.Report, committed: Int, bucketsTotal: Int)

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <inputDir> <outputRoot> [batchId] [nBuckets]")
    val inputDir = args(0)
    val outputRoot = args(1)
    val batchId = if (args.length > 2) args(2) else "batch-0"
    val nBuckets = if (args.length > 3) args(3).toInt else 64

    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // default master only when not provided by spark-submit
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
                   .config("spark.sql.shuffle.partitions",
                     sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    runBatch(spark, inputDir, outputRoot, batchId, nBuckets)
    spark.stop()
  }

  /** The batch body of [[main]] on a given session: parse, commit,
    * report, printing the three JSON lines.
    */
  def runBatch(spark: SparkSession, inputDir: String, outputRoot: String,
      batchId: String, nBuckets: Int): BatchResult = {
    val listener = PartitionMetrics.attach(spark)

    // Live admin endpoint (the reference's REST admin API,
    // `lc-lib/admin/server.go`): opt-in via GRAFT_ADMIN_PORT. While the
    // job runs, GET /pipeline/partitions streams the accumulating
    // per-partition throughput, /pipeline/lineage the sealed-bucket
    // resume progress, and /pipeline/sinks the per-sink turn/byte
    // counters over buckets committed so far (the publisher/endpoint
    // counters, publisher/api.go:33-36) — what `lc-admin` would poll.
    val admin = sys.env.get("GRAFT_ADMIN_PORT").map { p =>
      val srv = graft.admin.AdminServer.forBatch(
        outputRoot, batchId, nBuckets, () => listener.snapshot)
      val addr = srv.start(p.toInt)
      println(s"""ADMIN {"host":"${addr.getHostString}","port":${addr.getPort}}""")
      srv
    }

    val t0 = System.nanoTime()

    // optional config-driven parse stages: GRAFT_PIPELINE_CONFIG points
    // at a pipeline config file in either dialect — the reference's
    // native YAML (testing/log-carver.yaml shape) or our JSON; without
    // it the built-in transcript stage list applies
    val parseStages = sys.env.get("GRAFT_PIPELINE_CONFIG") match {
      case Some(path) =>
        val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
        graft.pipeline.PipelineConfig.fromText(text, path)
      case None => TranscriptPipeline.stages
    }

    val turns = spark.read.parquet(inputDir)
    val assigned = TranscriptPipeline.run(spark, turns, parseStages)
    val committed = Lineage.run(Router.stripMeta(assigned), outputRoot, nBuckets, batchId)

    val report = Metrics.fromSinks(committedSinks(spark, outputRoot),
      (System.nanoTime() - t0) / 1e9)
    org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    val total = Lineage.committed(outputRoot).size
    println("SINKS " + Metrics.toJson(report))
    println("PARTITIONS " + PartitionMetrics.toJson(listener.snapshot))
    println(s"""COMMIT {"batch_id":"$batchId","buckets_committed":$committed,"buckets_total":$total}""")
    admin.foreach(_.stop())
    BatchResult(report, committed, total)
  }

  /** Per-sink turns and bytes over every committed bucket, folded from
    * the lineage markers — including buckets an earlier, crashed run
    * sealed. Only a bucket whose marker predates per-sink counts is read
    * back.
    */
  def committedSinks(spark: SparkSession, outputRoot: String): Seq[Metrics.SinkMetric] = {
    val (tallied, legacy) = Lineage.readMarkers(outputRoot).partition(_.sinks.isDefined)
    val readBack =
      if (legacy.isEmpty) Nil
      else Router.sinkCounts(Lineage.readData(spark, outputRoot, legacy.map(_.partitionId).toSet))
        .collect().toSeq.map(r => Lineage.SinkTally(r.getString(0), r.getLong(1),
          if (r.isNullAt(2)) 0L else r.getLong(2)))
    Lineage.sinkTotals(tallied.flatMap(_.sinks.get) ++ readBack)
      .map(t => Metrics.SinkMetric(t.sink, t.rows, t.bytes))
  }
}
