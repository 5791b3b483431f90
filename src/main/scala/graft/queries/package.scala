package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {

  /** One shared table of a data directory: `<dir>/<name>.parquet`. */
  private[queries] def tbl(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")
}
