package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning, SinglePartition}
import org.apache.spark.sql.execution.{ExpandExec, FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, MergingSessionsExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

import graft.functions.{KvParse, UserAgentParse}
import graft.grok.GrokExtract

/** Query-level plan-shape contracts: the static physical plan (AQE off)
  * of a `SparkEntry.queries` entry at sf0.001 must keep its row's rules.
  * One row per query, so a new contract is a new row. Rules a component
  * spec already pins on the operator itself (AsOfJoinSpec, RangeJoinSpec,
  * AnnSpec, TextAnalysisSpec, SamplingSpec, DedupSpec, StatsSpec,
  * QuantizeSpec, PcaSpec) are not repeated here.
  */
class PlanShapeSpec extends SparkTestBase {
  import PlanShapeSpec._

  private val sfDir = "/root/testdata/sf0.001"

  private def staticPlan(query: String): SparkPlan = {
    val key = "spark.sql.adaptive.enabled"
    val aqe = spark.conf.get(key)
    spark.conf.set(key, "false")
    try SparkEntry.queries(query)(spark, sfDir).queryExecution.executedPlan
    finally spark.conf.set(key, aqe)
  }

  for (Row(query, rules) <- Rows)
    test(s"$query: ${rules.map(_._1).mkString("; ")}") {
      val plan = staticPlan(query)
      for ((rule, holds) <- rules) assert(holds(plan), s"$query breaks '$rule':\n$plan")
    }
}

object PlanShapeSpec {
  type Rule = (String, SparkPlan => Boolean)
  final case class Row(query: String, rules: Seq[Rule])

  private def all[T <: SparkPlan](p: SparkPlan)(implicit t: ClassTag[T]): Seq[T] =
    p.collect { case x if t.runtimeClass.isInstance(x) => x.asInstanceOf[T] }

  private def exactly[T <: SparkPlan : ClassTag](n: Int, what: String): Rule =
    (s"$n $what", p => all[T](p).size == n)

  /** `n` copies of expression `E` in the plan, each one evaluation per row. */
  private def exprs[E <: Expression](n: Int, what: String)(implicit t: ClassTag[E]): Rule =
    (s"$n $what", p => SparkTestBase.exprCount(p)(t.runtimeClass.isInstance) == n)

  private def shuffles(p: SparkPlan) = all[ShuffleExchangeExec](p).map(_.outputPartitioning)

  private def hashShuffles(n: Int): Rule =
    (s"$n key shuffle(s)", p => shuffles(p).count(_.isInstanceOf[HashPartitioning]) == n)

  private val oneScan = exactly[FileSourceScanExec](1, "scan")
  private val noJoin = exactly[BaseJoinExec](0, "joins")
  private val noLoopJoin: Rule = ("no nested-loop or cartesian join",
    p => all[BroadcastNestedLoopJoinExec](p).isEmpty && all[CartesianProductExec](p).isEmpty)
  private val noShuffleBelowJoins: Rule = ("no shuffle below a join",
    p => all[BaseJoinExec](p).forall(j => all[ShuffleExchangeExec](j).isEmpty))
  private val noCorpusWideShuffle: Rule = ("no single-partition shuffle",
    p => !shuffles(p).contains(SinglePartition))
  /** Per-row work over the scan; the one shuffle is the presentation sort's. */
  private val projectionOnly: Seq[Rule] = Seq(oneScan, noJoin,
    exactly[BaseAggregateExec](0, "aggregates"),
    ("only the presentation sort shuffles",
      p => shuffles(p).map(_.getClass) == Seq(classOf[RangePartitioning])))
  /** IVF-style assignment: the fused cell argmax runs on the scan, and the
    * cell join is one equi-join with nothing shuffled below it.
    */
  private val cellJoin: Seq[Rule] =
    Seq(exactly[BaseJoinExec](1, "join"), noLoopJoin, noShuffleBelowJoins)

  val Rows: Seq[Row] = Seq(
    // each extraction is bound once and read by every output column
    Row("q_grok_nginx", Seq(exprs[GrokExtract](1, "grok_extract"))),
    Row("q_kv_parse", Seq(exprs[KvParse](1, "kv_parse"))),
    Row("q_user_agent", Seq(exprs[UserAgentParse](1, "user_agent_parse"))),
    Row("q_ann_ivf", cellJoin),
    Row("q_ann_ivf_trained", cellJoin),
    Row("q_hard_negatives", cellJoin),
    // the fused-argmax assignment feeds the per-cluster aggregate
    Row("q_kmeans", Seq(noJoin, hashShuffles(1))),
    // levels come from one Expand, not a rescan per level
    Row("q_rollup_metrics", Seq(oneScan, exactly[ExpandExec](1, "Expand"))),
    // sliding windows are a projection-side Expand, never a range join
    Row("q_rate_windows", Seq(noJoin, exactly[ExpandExec](1, "Expand"))),
    Row("q_pagerank", Seq(noLoopJoin)),
    // one Generate over the scan; the one key shuffle is the per-doc sum
    Row("q_bpe_encode", Seq(oneScan, noJoin, exactly[GenerateExec](1, "Generate"),
      hashShuffles(1))),
    Row("q_quality_gopher", projectionOnly),
    Row("q_pii_redact", projectionOnly),
    Row("q_chunk_windows", projectionOnly),
    Row("q_text_normalize", projectionOnly),
    Row("q_doc_repetition", projectionOnly),
    Row("q_lm_perplexity", projectionOnly),
    Row("q_quality_classifier", projectionOnly),
    // one shuffle per key change, nothing corpus-wide
    Row("q_facts", Seq(noJoin, exactly[WindowExec](1, "Window"), noCorpusWideShuffle)),
    // two-level cumsum: the only single-partition window runs over the
    // per-bucket totals, which are the broadcast side
    Row("q_pack_sequences", Seq(exactly[WindowExec](2, "Windows"),
      ("the one single-partition shuffle is on the broadcast side", p =>
        shuffles(p).count(_ == SinglePartition) == 1 &&
          all[BroadcastExchangeExec](p).exists(b => shuffles(b).contains(SinglePartition))))),
    // the estimate is a projection over the counts aggregate
    Row("q_cms_heavy_hitters", Seq(oneScan, noJoin)),
    // native session windows: map-side merge before the one key shuffle
    Row("q_sessionize", Seq(exactly[MergingSessionsExec](1, "MergingSessions"),
      hashShuffles(1))),
    // the window reuses the term partitioning of the group
    Row("q_inverted_index", Seq(hashShuffles(2), exactly[ShuffleExchangeExec](2, "shuffles"))),
    Row("q_pmi_collocations", Seq(noLoopJoin)),
    // both windows ride one key shuffle, after the aggregate's
    Row("q_zscore_outliers", Seq(exactly[WindowExec](2, "Windows"), hashShuffles(2))),
    // one join back, and what it broadcasts is the aggregated cut table
    Row("q_span_removal", Seq(exactly[BaseJoinExec](1, "join"), noLoopJoin,
      ("every broadcast side is aggregated", p =>
        all[BroadcastExchangeExec](p).forall(b => all[BaseAggregateExec](b).nonEmpty)))),
    Row("q_source_overlap", Seq(noLoopJoin)),
    Row("q_seasonal_anomaly", Seq(noCorpusWideShuffle)),
    // one stacked Generate and one count aggregate
    Row("q_profile_hist", Seq(oneScan, exactly[GenerateExec](1, "Generate"), hashShuffles(1))),
    // every stage count comes from one ranking of one scan
    Row("q_curation_funnel", Seq(oneScan, hashShuffles(1))))
}
