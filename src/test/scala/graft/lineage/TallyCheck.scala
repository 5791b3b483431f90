package graft.lineage

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.route.Router

/** The observed tallies of a committed root next to a re-scan of its
  * committed data.
  */
object TallyCheck {

  type Key = (Int, String)

  /** (bucket, sink) -> (rows, bytes) as the markers record them. */
  def observed(root: String): Map[Key, (Long, Long)] =
    Lineage.readMarkers(root).flatMap(e =>
      e.sinks.get.map(s => (e.partitionId, s.sink) -> (s.rows, s.bytes))).toMap

  /** The committed rows with the bucket read from their `data/p<b>/` path. */
  private def committedByBucket(spark: SparkSession, root: String): DataFrame =
    Lineage.readData(spark, root).withColumn("b",
      regexp_extract(input_file_name(), "/p([0-9]+)/[^/]*$", 1).cast("int"))

  /** (bucket, sink) -> (rows, bytes) grouped over the committed data. */
  def rescanned(spark: SparkSession, root: String): Map[Key, (Long, Long)] =
    committedByBucket(spark, root).groupBy(col("b"), col(Router.SinkCol))
      .agg(count(lit(1)), coalesce(sum(octet_length(col("text"))), lit(0L)))
      .collect().map(r => (r.getInt(0), r.getString(1)) -> (r.getLong(2), r.getLong(3))).toMap

  /** bucket -> (rows, bytes) grouped over the committed data. */
  def rescannedBuckets(spark: SparkSession, root: String): Map[Int, (Long, Long)] =
    committedByBucket(spark, root).groupBy(col("b"))
      .agg(count(lit(1)), coalesce(sum(octet_length(col("text"))), lit(0L)))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
}
