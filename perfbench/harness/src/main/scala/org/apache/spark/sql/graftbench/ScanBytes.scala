package org.apache.spark.sql.graftbench

import scala.util.Try

import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Bytes of input files a plan's file scans selected: the sum of each
  * `FileSourceScanExec`'s own `filesSize` metric ("size of files read") on
  * the final AQE plan, subqueries included. Task input metrics are not used:
  * on parquet scans they came to a few kB per file read, and they also
  * count reads of cached and checkpointed blocks.
  */
object ScanBytes extends AdaptiveSparkPlanHelper {
  def ofPlan(p: SparkPlan): Long = collectWithSubqueries(p) {
    case s: FileSourceScanExec => s.metrics.get("filesSize").map(_.value).getOrElse(0L)
  }.sum

  /** Scan bytes of a finished SQL execution; 0 if it never planned. */
  def ofExecution(e: SparkListenerSQLExecutionEnd): Long =
    Option(e.qe).flatMap(qe => Try(ofPlan(qe.executedPlan)).toOption).getOrElse(0L)
}
