package graft.route

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.{SparkTestBase, TranscriptPipeline}
import graft.lineage.Lineage
import graft.model.TranscriptGen

/** The engine's one sink encoding, read from the written footers: every
  * parquet sink write (`Lineage.run`, `Router.write`,
  * `Router.writeDorisTables`) compresses every column chunk with zstd,
  * writes `text`, `ts` and `event_ts` without a dictionary, and keeps
  * the dictionary of a low-cardinality column such as `role`.
  */
class SinkEncodingSpec extends SparkTestBase {

  /** One column chunk of a written file. */
  private final case class Chunk(file: Path, column: String, codec: CompressionCodecName,
      dictionary: Boolean)

  private def chunks(dir: Path): Seq[Chunk] = {
    val files = Files.walk(dir)
    val parquet = try files.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toVector
      finally files.close()
    assert(parquet.nonEmpty, s"no parquet file under $dir")
    val conf = spark.sparkContext.hadoopConfiguration
    parquet.flatMap { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(f.toUri), conf))
      try r.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala.map(c =>
        Chunk(f, c.getPath.toDotString, c.getCodec, c.hasDictionaryPage)))
      finally r.close()
    }
  }

  private def fresh(): Path = Files.createTempDirectory("graft-encoding")

  private lazy val turns =
    TranscriptGen.generate(spark, seed = 23L, nConvs = 60L, parallelism = 4).toDF()

  private def assertSinkEncoding(what: String, dir: Path): Unit = {
    val cs = chunks(dir)
    assert(cs.forall(_.codec == CompressionCodecName.ZSTD),
      s"$what: ${cs.filter(_.codec != CompressionCodecName.ZSTD).take(3)}")
    for (c <- Seq("text", "ts", "event_ts")) {
      assert(cs.exists(_.column == c), s"$what wrote no $c")
      assert(cs.filter(_.column == c).forall(!_.dictionary), s"$what: $c has a dictionary")
    }
    val role = cs.filter(_.column == "role")
    assert(role.nonEmpty && role.forall(_.dictionary), s"$what: role lost its dictionary")
  }

  test("Lineage.run, Router.write and writeDorisTables write zstd, no dictionary on near-unique columns") {
    val assigned = TranscriptPipeline.run(spark, turns)
    val committed = fresh()
    Lineage.run(turns, committed.toString, nBuckets = 4, batchId = "b1",
      transform = t => Router.stripMeta(TranscriptPipeline.run(spark, t)))
    assertSinkEncoding("Lineage.run", committed.resolve("data"))

    val routed = fresh()
    Router.write(assigned, routed.toString)
    assertSinkEncoding("Router.write", routed)

    val doris = fresh()
    Router.writeDorisTables(assigned, "logs_%{role}", col("ts"), retentionDays = 36500,
      now = lit(java.sql.Timestamp.valueOf("2026-01-10 00:00:00")), doris.toString)
    assertSinkEncoding("writeDorisTables", doris)
  }

  test("a frame without text, ts or event_ts writes through every sink with zstd") {
    import spark.implicits._
    val df = (0L until 40L).map(i => (s"c${i % 7}", Seq("user", "tool")(i.toInt % 2), i))
      .toDF("conv_id", "role", "n")
    val committed = fresh()
    assert(Lineage.run(df, committed.toString, nBuckets = 4, batchId = "b1") > 0)
    val routed = fresh()
    Router.write(df.withColumn(Router.SinkCol, col("role")), routed.toString)
    val doris = fresh()
    Router.writeDorisTables(df.withColumn("at", lit(java.sql.Timestamp.valueOf("2026-01-09 00:00:00"))),
      "t_%{role}", col("at"), retentionDays = 14,
      now = lit(java.sql.Timestamp.valueOf("2026-01-10 00:00:00")), doris.toString)
    for (dir <- Seq(committed.resolve("data"), routed, doris)) {
      val cs = chunks(dir)
      assert(Set("conv_id", "role", "n").subsetOf(cs.map(_.column).toSet), cs)
      assert(cs.forall(_.codec == CompressionCodecName.ZSTD), cs)
    }
    assert(spark.read.parquet(routed.toString).count() == 40L)
    assert(spark.read.parquet(doris.toString).count() == 40L)
    assert(Lineage.readData(spark, committed.toString).count() == 40L)
  }
}
