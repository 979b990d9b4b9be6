package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into Spark's `private[sql]` Dataset-from-plan factory (see
  * [[RddBlocks]] for why this package). It lets the table catalog
  * ([[graft.core.Tables]]) hand out a frame over a relation it resolved
  * once, instead of re-reading the path and re-inferring its schema. */
object Frames {
  /** A DataFrame over the already-resolved logical `plan`. */
  def ofPlan(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)
}
