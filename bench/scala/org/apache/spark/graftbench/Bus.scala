package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The two Spark-internal hooks the benchmark reads; they live in this
  * package because both are `private[spark]`. */
object Bus {
  /** Block until every posted listener event has been delivered, so
    * the events of one operation are attributed before the next starts. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Weak references the ContextCleaner still tracks (shuffles, broadcasts,
    * RDD blocks, checkpoints); stable across GCs once it has drained. */
  def cleanerPending(sc: SparkContext): Int = sc.cleaner.map { c =>
    val f = c.getClass.getDeclaredField("referenceBuffer")
    f.setAccessible(true)
    f.get(c).asInstanceOf[java.util.Set[_]].size
  }.getOrElse(0)
}
