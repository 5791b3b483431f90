package graft.lineage

import java.nio.file.Files

import graft.SparkTestBase
import graft.model.TranscriptGen
import org.apache.spark.sql.functions._

/** Resume/exactly-once test (FIXTURES.md §5.4): kill after a partial
  * commit → rerun → final per-sink counts identical to a clean run, no
  * duplicates — the registrar's crash-safety contract
  * (`lc-lib/registrar/registrar.go:94-146`) upgraded to idempotent
  * commits.
  */
class LineageSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-lineage").toString

  private lazy val turns =
    TranscriptGen.generate(spark, seed = 13L, nConvs = 30L, parallelism = 4).toDF()

  test("clean run commits all buckets exactly once") {
    val root = freshRoot()
    val n = Lineage.run(turns, root, nBuckets = 8, batchId = "b1")
    assert(n == Lineage.committed(root).size)
    val got = Lineage.readData(spark, root)
    assert(got.count() == turns.count())
    assert(got.select("conv_id", "turn_idx").distinct().count() == turns.count())
  }

  test("crash after partial commit, rerun yields identical exactly-once output") {
    val root = freshRoot()
    // simulated crash: only 3 of 8 buckets sealed
    val first = Lineage.run(turns, root, nBuckets = 8, batchId = "b1", maxBucketsToCommit = 3)
    assert(first == 3)
    assert(Lineage.committed(root).size == 3)
    // resumed run processes only the remaining buckets
    val second = Lineage.run(turns, root, nBuckets = 8, batchId = "b2")
    assert(Lineage.committed(root).size == first + second)
    val got = Lineage.readData(spark, root)
    assert(got.count() == turns.count())
    // no duplicated rows across the two runs
    assert(got.select("conv_id", "turn_idx").distinct().count() == turns.count())
    // lineage row counts sum to the input size
    val lineageRows = Lineage.readEntries(spark, root).agg(sum("rows")).collect()(0).getLong(0)
    assert(lineageRows == turns.count())
  }

  test("commits are physical-parallelism-invariant; resume works across widths") {
    // the N vs 4N cluster case: the same logical input arriving with
    // different physical partitioning must seal identical buckets with
    // identical per-bucket lineage counts (bucket = pmod(hash(conv_id)),
    // a pure function of the data), and a job that crashed on one width
    // must resume correctly on another
    val rootA = freshRoot()
    val rootB = freshRoot()
    Lineage.run(turns.repartition(2), rootA, nBuckets = 8, batchId = "w2")
    Lineage.run(turns.repartition(32), rootB, nBuckets = 8, batchId = "w32")
    assert(Lineage.committed(rootA) == Lineage.committed(rootB))
    val perBucket = (root: String) => Lineage.readEntries(spark, root)
      .select("partitionId", "rows").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perBucket(rootA) == perBucket(rootB))
    val a = Lineage.readData(spark, rootA).select("conv_id", "turn_idx", "text")
    val b = Lineage.readData(spark, rootB).select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // crash at width 2, resume at width 32
    val rootC = freshRoot()
    Lineage.run(turns.repartition(2), rootC, nBuckets = 8, batchId = "w2", maxBucketsToCommit = 3)
    Lineage.run(turns.repartition(32), rootC, nBuckets = 8, batchId = "w32")
    val c = Lineage.readData(spark, rootC).select("conv_id", "turn_idx", "text")
    assert(c.exceptAll(a).isEmpty && a.exceptAll(c).isEmpty)
  }

  test("rerun of a fully committed root is a no-op") {
    val root = freshRoot()
    Lineage.run(turns, root, nBuckets = 4, batchId = "b1")
    val again = Lineage.run(turns, root, nBuckets = 4, batchId = "b2")
    assert(again == 0)
    assert(Lineage.readData(spark, root).count() == turns.count())
  }

  test("a stale .tmp marker (crash between write and atomic move) is never read as a lineage entry") {
    val root = freshRoot()
    Lineage.run(turns, root, nBuckets = 4, batchId = "b1")
    val entriesBefore = Lineage.readEntries(spark, root).collect().toSet
    // simulate the crash residue: a COMPLETE tmp (worst case — it parses)
    val dir = java.nio.file.Paths.get(root, "lineage")
    Files.writeString(dir.resolve("p0.json.tmp"),
      """{"partitionId":0,"rows":999999,"bytes":999999,"batchId":"ghost"}""")
    // and a torn one
    Files.writeString(dir.resolve("p1.json.tmp"), """{"partitionId":1,"ro""")
    val entriesAfter = Lineage.readEntries(spark, root).collect().toSet
    assert(entriesAfter == entriesBefore,
      "tmp markers must not double-count or corrupt lineage aggregates")
  }

  test("readData on a fresh root fails with the contract error, not a schema-inference exception") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException](Lineage.readData(spark, root))
    assert(e.getMessage.contains("no committed buckets"))
  }

  test("batchIds are confined to a path- and JSON-safe charset") {
    val root = freshRoot()
    val e1 = intercept[IllegalArgumentException](
      Lineage.run(turns, root, nBuckets = 2, batchId = "b\"quote"))
    assert(e1.getMessage.contains("batchId"))
    intercept[IllegalArgumentException](
      Lineage.run(turns, root, nBuckets = 2, batchId = "../escape"))
  }

  test("a frame without a text column commits with bytes=0 instead of failing after staging") {
    val root = freshRoot()
    import spark.implicits._
    val df = (0L until 40L).map(i => (s"c${i % 7}", i)).toDF("conv_id", "n")
    val n = Lineage.run(df, root, nBuckets = 4, batchId = "b1")
    assert(n > 0)
    val entries = Lineage.readEntries(spark, root)
    assert(entries.agg(sum("rows")).collect()(0).getLong(0) == 40L)
    assert(entries.agg(sum("bytes")).collect()(0).getLong(0) == 0L)
    assert(Lineage.readData(spark, root).count() == 40L)
  }

  /** Turns with a sink column and some null texts. */
  private lazy val routed = turns
    .withColumn("_sink", when(col("role") === "user", lit("sink_a")).otherwise(lit("sink_b")))
    .withColumn("text", when(col("turn_idx") % 5 === 3, lit(null).cast("string"))
      .otherwise(col("text")))

  test("each marker's rows/bytes and per-sink split equal a group-by over its committed bucket") {
    val root = freshRoot()
    Lineage.run(routed, root, nBuckets = 8, batchId = "b1", maxBucketsToCommit = 5)
    Lineage.run(routed, root, nBuckets = 8, batchId = "b2")
    val markers = Lineage.readMarkers(root)
    assert(markers.map(_.partitionId).toSet == Lineage.committed(root))
    assert(markers.map(e => e.partitionId -> (e.rows, e.bytes)).toMap ==
      TallyCheck.rescannedBuckets(spark, root))
    assert(TallyCheck.observed(root) == TallyCheck.rescanned(spark, root))
    assert(markers.forall(e => e.sinks.get.map(_.rows).sum == e.rows))
    assert(markers.map(_.rows).sum == turns.count())
  }

  test("observed tally == re-scan when a task fails its first attempt (local[2,2] retry)") {
    val root = freshRoot()
    val (code, out) = graft.ChildJvm.run("graft.lineage.RetryTallyMain", Seq(root))
    assert(code == 0, out)
    val failed = out.linesIterator.collectFirst {
      case l if l.startsWith("FAILED_TASKS ") => l.stripPrefix("FAILED_TASKS ").trim.toInt
    }
    assert(failed.exists(_ >= 1), s"no task attempt failed: $out")
    // the child sealed every bucket; its tallies match this JVM's re-scan
    assert(Lineage.committed(root).size == 4)
    assert(TallyCheck.observed(root) == TallyCheck.rescanned(spark, root))
    assert(Lineage.readMarkers(root).map(_.rows).sum == Lineage.readData(spark, root).count())
  }
}

/** Commits under `local[2,2]` with a task that throws partway through its
  * first attempt, after the tally has seen some of its rows; prints how
  * many task attempts failed.
  */
object RetryTallyMain {
  private val seen = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Integer]()

  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[2,2]").appName("retry-tally")
      .config("spark.sql.shuffle.partitions", "2")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val failed = new java.util.concurrent.atomic.AtomicInteger()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.reason != org.apache.spark.Success) failed.incrementAndGet()
    })
    val failOnce = udf { (s: String) =>
      val tc = org.apache.spark.TaskContext.get()
      val n = seen.merge(tc.taskAttemptId(), 1, (a: Integer, b: Integer) => a + b)
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0 && n == 40)
        throw new IllegalStateException("injected first-attempt failure")
      s
    }.asNondeterministic()
    val df = TranscriptGen.generate(spark, seed = 17L, nConvs = 40L, parallelism = 2).toDF()
      .withColumn("_sink", when(col("role") === "user", lit("sink_a")).otherwise(lit("sink_b")))
      .withColumn("text", failOnce(col("text")))
    Lineage.run(df, args(0), nBuckets = 4, batchId = "retry")
    org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext)
    println(s"FAILED_TASKS ${failed.get()}")
    spark.stop()
  }
}
