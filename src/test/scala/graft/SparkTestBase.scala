package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.scalatest.funsuite.AnyFunSuite

object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Expressions matching `p` across every operator of `plan` (each copy
    * in the plan is one evaluation per row).
    */
  def exprCount[P <: QueryPlan[P]](plan: P)(p: Expression => Boolean): Int =
    plan.collect { case node => node.expressions.map(_.collect { case e if p(e) => e }.size).sum }.sum
}

abstract class SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
}
