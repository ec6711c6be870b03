package graft

import scala.reflect.{ClassTag, classTag}

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import graft.functions.VectorFunctions.RuleIndexProbe

/** Structural reads of an executed plan, for the plan gates (PlanSpec,
  * ScaleSmoke): operators are counted by class, not by matching plan text,
  * so a renamed node or a repeated subtree print cannot fake or hide one. */
object PlanShape {

  /** Every operator that runs: through AQE's wrapper and query stages and
    * into subqueries; a reused exchange runs once, so it is not re-entered. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case _: ReusedExchangeExec => Nil
    case _ => p.children ++ p.subqueries
  }).flatMap(nodes)

  def count[T <: SparkPlan: ClassTag](p: SparkPlan): Int =
    nodes(p).count(n => classTag[T].runtimeClass.isInstance(n))

  /** Rule-index probes (the rule ladder) anywhere in the plan's expressions. */
  def ruleProbes(p: SparkPlan): Int =
    nodes(p).map(_.expressions.map(_.collect { case r: RuleIndexProbe => r }.size).sum).sum

  /** The billing kernel's shape: one rule-index probe, no SortMergeJoin and
    * one scan — the fact's. Empty when all hold. */
  def kernelViolations(p: SparkPlan): Seq[String] = Seq(
    s"rule index probes ${ruleProbes(p)} != 1" -> (ruleProbes(p) != 1),
    "fact-side SortMergeJoin" -> (count[SortMergeJoinExec](p) > 0),
    s"fact scanned ${count[FileSourceScanExec](p)} times" -> (count[FileSourceScanExec](p) != 1)
  ).collect { case (msg, true) => msg }
}
