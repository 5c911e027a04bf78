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
  * Lives in the sql subpackage for the `private[sql]` Dataset builder
  * and session clone. */
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

  /** `pin(ds)` run in a clone of `ds`'s session (same SparkContext, conf
    * and listeners) with AQE off there, re-bound to `ds`'s session: the
    * caller's conf is never written. `pin` must return a bare lineage
    * pin; its captured output partitioning survives the re-binding. */
  def withAdaptiveOff(ds: DataFrame)(pin: DataFrame => DataFrame): DataFrame = {
    val spark = ds.sparkSession.asInstanceOf[classic.SparkSession]
    val clone = spark.cloneSession()
    clone.conf.set("spark.sql.adaptive.enabled", "false")
    pin(classic.Dataset.ofRows(clone, ds.queryExecution.analyzed))
      .queryExecution.analyzed match {
      case r: LogicalRDD => classic.Dataset.ofRows(spark, LogicalRDD(r.output,
        r.rdd, r.outputPartitioning, r.outputOrdering, r.isStreaming)(
        spark, Some(r.computeStats()), Some(r.constraints)))
      case other => throw new IllegalStateException(
        s"expected a lineage pin, got ${other.nodeName}")
    }
  }
}
