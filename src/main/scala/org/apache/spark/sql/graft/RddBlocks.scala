package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD

/** Bridge into Spark's `private[spark]` `SparkContext.unpersistRDD`.
  * Lives in the `org.apache.spark` package tree solely for that access
  * (like [[ExprColumn]]): it frees an RDD's cached blocks with the same
  * call `RDD.unpersist` makes, minus the WARN that method logs for every
  * locally-checkpointed RDD ("lineage … cannot be recomputed after
  * unpersisting"). For a checkpoint handle that is being closed, that
  * line is the expected outcome, not a warning, and one per intermediate
  * per query buried the real warnings in Bench and Verify logs. */
object RddBlocks {
  /** Drop `rdd`'s blocks asynchronously, as `unpersist(blocking = false)`. */
  def free(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
