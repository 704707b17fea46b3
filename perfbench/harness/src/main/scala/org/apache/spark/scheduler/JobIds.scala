package org.apache.spark.scheduler

import org.apache.spark.SparkContext

/** The scheduler's own job counter: every job submitted so far, counted
  * where jobs get their ids rather than on the listener bus. The trace
  * self-check compares the listener's per-query job count against it.
  */
object JobIds {
  def submitted(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs
}
