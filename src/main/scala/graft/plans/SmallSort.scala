package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** A global sort over a small input sorts in one task.
  *
  * `EnsureRequirements` meets a global `ORDER BY`'s ordered distribution
  * with a range exchange over `spark.sql.shuffle.partitions` ranges: one
  * job samples the input for the range bounds, one shuffle-map job
  * writes it, and AQE re-plans between the stages. When the input is at
  * most `spark.sql.adaptive.coalescePartitions.minPartitionSize`, AQE's
  * partition coalescing reads that whole shuffle back as one partition
  * anyway, so this rule replaces the exchange with `CoalesceExec(1)`:
  * its single partition satisfies the ordered distribution, and the same
  * globally sorted rows come from one task with no sample job and no
  * shuffle.
  *
  * The input's size is its logical plan's size: a file scan's file
  * sizes, or, in an AQE re-plan, the runtime bytes of each finished
  * stage (its `LogicalQueryStage`), which an aggregate over it scales
  * by row width. That estimate does not grow through a `Generate`, so an
  * `explode` of a small scan feeding the sort in the same stage sorts
  * its whole output in one task (`q_chunk_fixed` does). Only exchanges
  * `EnsureRequirements` added are touched: a `repartitionByRange` keeps
  * its exchange. The rule runs as an AQE query-stage preparation rule
  * (after `EnsureRequirements`, in the initial plan and at every
  * re-plan), so plans without AQE, such as streaming micro-batches, are
  * unaffected.
  */
object SmallSort extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    val bound = BigInt(conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE))
    plan.transformUp {
      case s @ SortExec(_, true,
          ShuffleExchangeExec(_: RangePartitioning, child, ENSURE_REQUIREMENTS, _), _)
          if child.logicalLink.exists(_.stats.sizeInBytes <= bound) =>
        s.copy(child = CoalesceExec(1, child))
    }
  }
}
