package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Spark internals the trace needs, private to Spark, hence this package. */
object Bus {
  /** Job property holding the job's tags. */
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS

  /** Waits until the listener bus has delivered every queued event, so the
    * trace reads complete task counters.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
