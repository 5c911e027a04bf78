package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD

/** Exact statistics for a lineage pin whose row count is known. A
  * checkpoint's `LogicalRDD` keeps the optimizer's size ESTIMATE of the
  * plan it materialized, and a join's estimate is the product of its
  * inputs', so a loop state pinned from a join grows its estimate every
  * round and its consumers stop broadcasting it, however small it is.
  * Lives in the sql subpackage for the `private[sql]` Dataset builder. */
object PinnedStats {

  /** `pinned` with its size taken from `rows`, when it is a bare pin;
    * any other plan is returned as is. */
  def withRowCount(pinned: DataFrame, rows: Long): DataFrame =
    pinned.queryExecution.analyzed match {
      case r: LogicalRDD =>
        val spark = pinned.sparkSession.asInstanceOf[classic.SparkSession]
        val stats = Statistics(
          sizeInBytes = EstimationUtils.getSizePerRow(r.output) * rows,
          rowCount = Some(rows))
        classic.Dataset.ofRows(spark, LogicalRDD(r.output, r.rdd,
          r.outputPartitioning, r.outputOrdering, r.isStreaming)(
          spark, Some(stats)))
      case _ => pinned
    }
}
