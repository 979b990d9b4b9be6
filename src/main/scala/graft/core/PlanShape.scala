package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.CartesianProductExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** The scale-relevant structure of one executed plan: the counts that
  * show a plan regression (a new shuffle, a lost broadcast, a split
  * codegen span) and the two shapes that must stay 0 at 100 TB — a
  * window with no partition spec (every row through one task) and a
  * cartesian product. Bench records one per query in bench_full.json;
  * PlanAuditSpec asserts on them; graft.Profile prints them. */
final case class PlanShape(shuffles: Int, broadcasts: Int, codegenSpans: Int,
                           globalWindows: Int, cartesians: Int) {
  def +(o: PlanShape): PlanShape = PlanShape(shuffles + o.shuffles,
    broadcasts + o.broadcasts, codegenSpans + o.codegenSpans,
    globalWindows + o.globalWindows, cartesians + o.cartesians)

  def json: String =
    s"""{"shuffles":$shuffles,"broadcasts":$broadcasts,"codegenSpans":$codegenSpans,""" +
      s""""globalWindows":$globalWindows,"cartesians":$cartesians}"""
}

object PlanShape extends AdaptiveSparkPlanHelper {
  val zero: PlanShape = PlanShape(0, 0, 0, 0, 0)

  /** The shape of `df`'s executed plan. Run the plan first
    * (`toRdd.count()`): only then does AQE's final plan carry the real
    * shuffle, broadcast and codegen structure. */
  def of(df: DataFrame): PlanShape = of(df.queryExecution.executedPlan)

  def of(plan: SparkPlan): PlanShape = {
    // AQE echoes the pre-adaptive plan below the final one
    val text = plan.toString().split("== Initial Plan ==")(0)
    val exchanges = "Exchange".r.findAllMatchIn(text).length
    val broadcasts = "BroadcastExchange".r.findAllMatchIn(text).length
    // the tree walk descends into AQE query stages and subqueries
    val globalWindows = collectWithSubqueries(plan) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
      case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
    }.size
    val cartesians = collectWithSubqueries(plan) {
      case c: CartesianProductExec => c
    }.size
    PlanShape(
      shuffles = exchanges - broadcasts, // "Exchange" also matches inside "BroadcastExchange"
      broadcasts = broadcasts,
      codegenSpans = "\\*\\(\\d+\\)".r.findAllMatchIn(text).map(_.matched).toSet.size,
      globalWindows = globalWindows,
      cartesians = cartesians)
  }
}
