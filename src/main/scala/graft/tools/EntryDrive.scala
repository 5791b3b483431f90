package graft.tools
object EntryDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.Sessions.local(8, "spark.ui.enabled" -> "false")
    spark.sparkContext.setLogLevel("WARN")
    val t0 = System.nanoTime()
    val df = graft.SparkEntry.entry(spark)
    df.show(10, false)
    println(s"rows=${df.count()} in ${(System.nanoTime()-t0)/1e9}s")
    // metrics report surface
    val turns = graft.model.TranscriptGen.generate(spark, 42L, 200L, 8).toDF()
    val assigned = graft.TranscriptPipeline.run(spark, turns)
    val rep = graft.metrics.Metrics.fromSinkCounts(graft.route.Router.sinkCounts(assigned), (System.nanoTime()-t0)/1e9)
    println("METRICS " + graft.metrics.Metrics.toJson(rep))
    spark.stop()
  }
}
