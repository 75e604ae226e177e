package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{ColumnarToRowExec, InputAdapter, SparkPlan,
  WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.catalyst.expressions.aggregate.Partial

import graft.plans.S2PipProbeExec

/** The whole-stage codegen contract of the PIP probe execs, checked on an
  * executed plan, and their SQL metrics. */
object ProbeStage extends AdaptiveSparkPlanHelper {

  /** The nodes one codegen stage compiles from `p` down: each InputAdapter
    * ends the stage. */
  private def stageNodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case _: InputAdapter => Nil
    case _ => p.children.flatMap(stageNodes)
  })

  /** What breaks the contract, or None: the one probe exec sits in one
    * WholeStageCodegenExec together with the points scan (the scan's
    * ColumnarToRowExec, reached from the probe's points side with no
    * InputAdapter in between) and, with `partialAgg`, the partial
    * HashAggregateExec above the probe. */
  def violation(plan: SparkPlan, partialAgg: Boolean): Option[String] =
    collect(plan) { case w: WholeStageCodegenExec => w }
      .filter(w => stageNodes(w.child).exists(_.isInstanceOf[S2PipProbeExec])) match {
      case Seq(w) =>
        val nodes = stageNodes(w.child)
        val probe = nodes.collectFirst { case p: S2PipProbeExec => p }.get
        val scanSide = stageNodes(probe.streamed)
        if (!scanSide.exists(_.isInstanceOf[ColumnarToRowExec]))
          Some(s"the points scan is not in the probe's codegen stage:\n$plan")
        else if (partialAgg && !nodes.exists {
            case h: HashAggregateExec => h.aggregateExpressions.forall(_.mode == Partial)
            case _ => false
          })
          Some(s"the partial aggregate is not in the probe's codegen stage:\n$plan")
        else None
      case stages => Some(s"the probe exec is in ${stages.size} codegen stages:\n$plan")
    }

  /** The counters of the one probe exec of `df`'s executed plan (run it
    * first); the timing metric is left out. */
  def counts(df: DataFrame): Map[String, Long] = {
    val execs = collect(df.queryExecution.executedPlan) { case e: S2PipProbeExec => e }
    require(execs.size == 1, s"expected one probe exec in ${df.queryExecution.executedPlan}")
    execs.head.metrics.collect { case (k, v) if k != "tableBuildTime" => k -> v.value }
  }
}
