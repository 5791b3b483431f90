package graft

import org.scalatest.funsuite.AnyFunSuite

/** The conf each main builds through [[Sessions]]. The shared test
  * session is already `local[4]`, so `getOrCreate` here would return it:
  * the specs read the conf [[Sessions.conf]] builds, and the one that
  * needs a real session starts it in a child JVM.
  */
class SessionsSpec extends AnyFunSuite {

  test("Bench's conf: lz4 parquet codec, v2 committer, 16 MB splits, on local[cores]") {
    val c = Sessions.conf(masterPreset = false, 8, Bench.sessionConf(8)).toMap
    assert(c("spark.sql.parquet.compression.codec") == "lz4")
    assert(c("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version") == "2")
    assert(c("spark.sql.files.maxPartitionBytes") == (16L * 1024 * 1024).toString)
    assert(c("spark.master") == "local[8]" && c("spark.sql.shuffle.partitions") == "8")
    assert(c("spark.sql.session.timeZone") == "UTC")
    assert(c("spark.app.name") == "graft-bench-8")
  }

  test("RunPipeline's conf sets no parquet codec and keeps the UI") {
    val c = Sessions.conf(masterPreset = false, 32, RunPipeline.SessionConf)
    assert(!c.exists(_._1.contains("compression.codec")), c)
    assert(!c.exists(_._1 == "spark.ui.enabled"), c)
    assert(c.toMap == Map(
      "spark.master" -> "local[32]",
      "spark.sql.shuffle.partitions" -> "32",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.app.name" -> "graft-pipeline",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true"))
  }

  test("with spark.master preset the factory sets neither master nor shuffle partitions") {
    assert(Sessions.conf(masterPreset = true, 4, Nil) == Seq("spark.sql.session.timeZone" -> "UTC"))
  }

  test("a launcher's spark.master wins in a real session (child JVM)") {
    val (code, out) = ChildJvm.run("graft.PresetMasterMain", Nil)
    assert(code == 0, out)
    assert(out.linesIterator.contains(
      "master=local[2] partitions-set=false tz=UTC app=graft-pipeline"), out)
  }
}

/** Builds RunPipeline's session under a launcher-set `spark.master` and
  * prints what the session got.
  */
object PresetMasterMain {
  def main(args: Array[String]): Unit = {
    System.setProperty("spark.master", "local[2]")
    val spark = Sessions.local(4, RunPipeline.SessionConf: _*)
    val c = spark.sparkContext.getConf
    println(s"master=${spark.sparkContext.master} " +
      s"partitions-set=${c.contains("spark.sql.shuffle.partitions")} " +
      s"tz=${spark.conf.get("spark.sql.session.timeZone")} app=${c.get("spark.app.name")}")
    spark.stop()
  }
}
