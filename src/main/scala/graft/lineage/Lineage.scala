package graft.lineage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Exactly-once resumable commits — the registrar upgraded for a batch
  * engine (north rule: "checkpoints per-partition offsets into a lineage
  * table so resumed runs are exactly-once").
  *
  * The reference persists per-file resume offsets with an atomic
  * write-to-`.new`-then-rename (`lc-lib/registrar/registrar.go:94-199`)
  * and only advances offsets when the whole downstream chain has acked
  * (`event_ack.go:37-66`). The batch-engine equivalent: the raw input is
  * bucketed by `pmod(hash(conv_id), nBuckets)` before the caller's
  * transform (parse → enrich → route) runs, sealed buckets are dropped
  * there, and the rest are repartitioned by bucket, so the exchange
  * carries only the input's columns and every write task holds whole
  * buckets. The transformed rows are written to a staging directory in
  * ONE partitioned pass, one file per bucket, then per bucket moved into
  * place and sealed with an atomically-renamed lineage marker.
  * A resumed run skips every bucket whose marker exists and re-does the
  * rest — re-writing a bucket is idempotent (full overwrite before the
  * marker appears), so crash at ANY point yields exactly-once output.
  * Each marker records the bucket count, and a resume under a different
  * count is refused before anything is staged.
  *
  * Like the reference's ack-driven counters, the commit counts what it
  * ships as it ships it: the one write pass carries an observed
  * [[BucketSinkTally]] (rows and text bytes per bucket and sink), and
  * each marker records its bucket's totals and per-sink split. Nothing
  * reads the output back; the per-sink report and the admin counters
  * fold the markers ([[readMarkers]], [[sinkTotals]]).
  *
  * The registrar persists in-process, where Go's chmod is a plain
  * syscall; so does the staged write here. It carries
  * [[graft.util.NoForkLocalFileSystem.SinkWriteOptions]] (the engine's
  * one sink encoding on top of the no-fork options), so a `file:` root
  * is written through [[graft.util.NoForkLocalFileSystem]] instead of a
  * forked `chmod` per file and directory (~780 per 64-bucket batch). The
  * options are scoped to the write, not the session, because Hadoop's
  * `FileSystem` cache is keyed by scheme, authority and user, not by
  * conf: a session-wide `fs.file.impl` is silently ignored once anything
  * in the JVM has obtained a `file:` filesystem.
  *
  * On a real cluster the same seam is an Iceberg snapshot commit; this
  * directory implementation keeps identical semantics without the runtime
  * jar (SURVEY.md §7 `TableIO` seam).
  */
object Lineage {

  val BucketCol = "_bucket"

  /** How long a run waits for its write's observed tally after the write
    * returned. The observation arrives through the listener bus, normally
    * within milliseconds.
    */
  private val TallyWait: FiniteDuration = 120.seconds

  final case class SinkTally(sink: String, rows: Long, bytes: Long)

  /** One sealed bucket. `sinks` is None on a marker sealed before markers
    * carried per-sink counts (then only a read-back of the bucket knows
    * them), and empty for a frame without a sink column. `nBuckets` is
    * the bucket count the root was sealed under, None on a marker sealed
    * before markers carried it.
    */
  final case class Entry(partitionId: Int, rows: Long, bytes: Long, batchId: String,
      sinks: Option[Seq[SinkTally]], nBuckets: Option[Int])

  private def lineageDir(root: String): Path = Paths.get(root, "lineage")
  private def dataDir(root: String, bucket: Int): Path = Paths.get(root, "data", s"p$bucket")

  /** Sealed marker files only: a crash between the tmp write and the
    * atomic move leaves p*.json.tmp behind, which is never a marker.
    */
  private def markerFiles(root: String): Seq[(Int, Path)] = {
    val d = lineageDir(root)
    if (!Files.isDirectory(d)) return Nil
    val ls = Files.list(d) // close: the stream holds a dir handle, and
    try {                  // this runs per admin poll on long-lived drivers
      val it = ls.iterator()
      val out = Seq.newBuilder[(Int, Path)]
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.startsWith("p") && name.endsWith(".json"))
          out += name.stripPrefix("p").stripSuffix(".json").toInt -> p
      }
      out.result().sortBy(_._1)
    } finally ls.close()
  }

  def committed(root: String): Set[Int] = markerFiles(root).map(_._1).toSet

  private val mapper = new ObjectMapper()

  /** Every sealed marker under `root`, read in the driver, by bucket. */
  def readMarkers(root: String): Seq[Entry] = markerFiles(root).map { case (_, p) =>
    val n = mapper.readTree(p.toFile)
    val sinks = Option(n.get("sinks")).map(_.elements().asScala.map { s =>
      SinkTally(if (s.get("sink").isNull) null else s.get("sink").asText,
        s.get("rows").asLong, s.get("bytes").asLong)
    }.toSeq)
    Entry(n.get("partitionId").asInt, n.get("rows").asLong, n.get("bytes").asLong,
      n.get("batchId").asText, sinks, Option(n.get("nBuckets")).map(_.asInt))
  }

  /** Per-sink sums of bucket tallies, sorted by sink. */
  def sinkTotals(tallies: Seq[SinkTally]): Seq[SinkTally] =
    tallies.groupBy(_.sink).toSeq.map { case (s, ts) =>
      SinkTally(s, ts.map(_.rows).sum, ts.map(_.bytes).sum)
    }.sortBy(_.sink)

  /** batchIds are interpolated into marker JSON and staging paths:
    * restrict to a filesystem- and JSON-safe charset so a quote can't
    * corrupt the marker and a '/' can't redirect the staging dir.
    */
  private def requireSafeBatchId(batchId: String): Unit =
    require(batchId.matches("[A-Za-z0-9._=-]+"),
      s"batchId must match [A-Za-z0-9._=-]+, got '$batchId'")

  private def writeMarker(root: String, e: Entry): Unit = {
    requireSafeBatchId(e.batchId)
    val dir = lineageDir(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"p${e.partitionId}.json.tmp")
    val fin = dir.resolve(s"p${e.partitionId}.json")
    val n = mapper.createObjectNode()
      .put("partitionId", e.partitionId).put("rows", e.rows)
      .put("bytes", e.bytes).put("batchId", e.batchId)
    e.nBuckets.foreach(n.put("nBuckets", _))
    e.sinks.foreach { ss =>
      val arr = n.putArray("sinks")
      ss.foreach(s => arr.addObject().put("sink", s.sink).put("rows", s.rows).put("bytes", s.bytes))
    }
    Files.writeString(tmp, mapper.writeValueAsString(n))
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRecursively(p: Path): Unit =
    graft.util.Fs.deleteRecursively(p)

  /** Process `input` through `transform` into `root` exactly once,
    * resumable.
    *
    * `_bucket` is computed on `keyCol` of `input`, buckets already sealed
    * under `root` are dropped, and the rest are repartitioned by
    * `_bucket` before `transform` runs: a resumed run transforms only the
    * rows of unsealed buckets, and each bucket is written by one task as
    * one file. Bucket `b` goes to task `b mod t`, with `t` the shuffle
    * partitions capped at `nBuckets`, so every task holds the same number
    * of buckets, give or take one. Not a hash repartition: murmur3 of 64
    * bucket ids over 4 partitions puts 21, 16, 16 and 11 buckets in the
    * four tasks, and the largest sets the batch's time. Not a
    * `rebalance` either: it may split a skewed bucket over several tasks
    * and so several files. `transform` must keep `_bucket` and add no
    * shuffle, so that each row stays in its bucket's task; the written
    * schema is its output without `_bucket`.
    *
    * @param maxBucketsToCommit test hook: stop committing after N buckets
    *        to simulate a crash mid-run (remaining staging data is
    *        discarded, like an unflushed registrar write).
    * @return number of buckets committed in THIS run.
    */
  def run(input: DataFrame, root: String, nBuckets: Int, batchId: String,
      keyCol: String = "conv_id",
      maxBucketsToCommit: Int = Int.MaxValue,
      transform: DataFrame => DataFrame = identity): Int = {
    requireSafeBatchId(batchId)
    // a bucket is pmod(hash(key), nBuckets): resuming under another
    // count would skip and rewrite buckets of a different key mapping
    val markers = readMarkers(root)
    val sealedUnder = markers.flatMap(_.nBuckets).distinct.filter(_ != nBuckets)
    require(sealedUnder.isEmpty, s"$root was sealed with nBuckets=" +
      s"${sealedUnder.mkString(",")}; a resume must use the same count, got $nBuckets")
    val done = markers.map(_.partitionId).toSet
    val tasks = math.min(nBuckets, input.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt)
    val todo = transform(input
      .withColumn(BucketCol, pmod(hash(col(keyCol)), lit(nBuckets)))
      .filter(!col(BucketCol).isin(done.toSeq: _*))
      .repartitionById(tasks, pmod(col(BucketCol), lit(tasks))))
    require(todo.columns.contains(BucketCol), s"the transform dropped $BucketCol")

    val staging = Paths.get(root, s"_staging_$batchId")
    deleteRecursively(staging)
    // One partitioned pass writes every uncommitted bucket and tallies
    // what it writes. Accumulator semantics make the tally exact: only a
    // task's successful attempt merges its update, and the observation
    // sits in the write's result stage, which runs each partition once.
    // Bytes are 0 for a null text and for a frame with no text column.
    val hasSink = todo.columns.contains(graft.route.Router.SinkCol)
    val obs = Observation()
    todo.observe(obs, BucketSinkTally(col(BucketCol),
        if (hasSink) col(graft.route.Router.SinkCol) else lit(null).cast("string"),
        if (todo.columns.contains("text")) coalesce(octet_length(col("text")), lit(0))
        else lit(0)).as("tally"))
      .write.options(graft.util.NoForkLocalFileSystem.SinkWriteOptions)
      .mode("overwrite").partitionBy(BucketCol).parquet(staging.toString)
    // no fallback scan: a tally that never arrives fails the run before
    // any bucket is sealed, and a re-run redoes the staging
    val tally = Await.result(obs.future, TallyWait).getSeq[Row](0)
      .groupBy(_.getInt(0)).map { case (b, rs) =>
        b -> rs.map(r => SinkTally(r.getString(1), r.getLong(2), r.getLong(3)))
      }

    var committedNow = 0
    for (b <- tally.keys.toSeq.sorted if committedNow < maxBucketsToCommit) {
      val src = staging.resolve(s"$BucketCol=$b")
      val dst = dataDir(root, b)
      if (Files.exists(src)) {
        deleteRecursively(dst) // idempotent re-do of an unsealed bucket
        Files.createDirectories(dst.getParent)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        val ts = tally(b)
        writeMarker(root, Entry(b, ts.map(_.rows).sum, ts.map(_.bytes).sum, batchId,
          Some(if (hasSink) ts.sortBy(_.sink) else Nil), Some(nBuckets)))
        committedNow += 1
      }
    }
    deleteRecursively(staging)
    committedNow
  }

  /** Read back all committed data. */
  def readData(spark: SparkSession, root: String): DataFrame =
    readData(spark, root, committed(root))

  /** Read exactly the given committed-bucket set — for callers that have
    * already listed the markers and need the data scanned to be
    * CONSISTENT with that listing rather than with a second, later one.
    */
  def readData(spark: SparkSession, root: String, buckets: Set[Int]): DataFrame = {
    // an empty path list would surface as an obscure schema-inference
    // AnalysisException; the data schema is unknowable here, so fail
    // with the actual contract (empty-ok callers guard on
    // committed(root).nonEmpty)
    require(buckets.nonEmpty,
      s"no committed buckets under $root — nothing to read " +
        "(guard with committed(root).nonEmpty for an empty-ok caller)")
    spark.read.parquet(
      buckets.toSeq.sorted.map(b => dataDir(root, b).toString): _*)
  }
}
