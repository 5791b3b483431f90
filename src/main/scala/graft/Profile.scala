package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan and planning-phase profile of named `SparkEntry` queries, the one
  * view the traced perfbench does not give. For each query it prints
  * the formatted physical plan with AQE off (the static plan, every
  * codegen stage and Exchange visible), then runs a fresh build of the
  * query once under the session's own AQE setting and prints one
  * `PROFILE` line: its `QueryPlanningTracker` phases (analysis,
  * optimization, planning) and its execution seconds. Execution is
  * `toRdd`, every output column materialized, as `Bench` times a query.
  * Work a builder does eagerly (a persisted iteration, a trained
  * model) runs while the query is built and is in neither figure.
  *
  * Usage: Profile <sfDir> <query>...   (keys of `SparkEntry.queries`)
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Profile <sfDir> <query>...")
    val sfDir = args(0)
    val names = args.toSeq.drop(1)
    val unknown = names.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"unknown queries: ${unknown.mkString(" ")}\nvalid: " +
        SparkEntry.queries.keys.toSeq.sorted.mkString(" "))
      sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Sessions.local(cpus,
      "spark.app.name" -> "graft-profile", "spark.ui.enabled" -> "false")
    spark.sparkContext.setLogLevel("ERROR")
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(aqeKey)
    try names.foreach { name =>
      spark.conf.set(aqeKey, "false")
      val static = SparkEntry.queries(name)(spark, sfDir).queryExecution
      println(s"########## $name")
      print(static.explainString(FormattedMode))
      spark.conf.set(aqeKey, aqe)
      val qe = SparkEntry.queries(name)(spark, sfDir).queryExecution
      qe.executedPlan
      val t0 = System.nanoTime()
      qe.toRdd.count()
      val execS = (System.nanoTime() - t0) / 1e9
      val phases = Seq("analysis", "optimization", "planning").map { p =>
        val s = qe.tracker.phases.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
        f"${p}_s=$s%.3f"
      }
      println(f"PROFILE $name ${phases.mkString(" ")} execution_s=$execS%.3f")
    } finally spark.stop()
  }
}
