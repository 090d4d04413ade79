package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The two scheduler facts the harness needs that Spark only exposes
  * inside its own packages. */
object SparkInternals {
  /** Jobs submitted so far. Read synchronously, so every pass can count
    * the jobs of each step without a listener. */
  def jobsSubmitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs

  /** Blocks until every event posted so far reached the listeners: the
    * traced pass must see every job, stage and task before it
    * aggregates them. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
