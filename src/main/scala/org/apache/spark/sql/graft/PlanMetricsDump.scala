package org.apache.spark.sql.graft

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Optimization-round measurement helper: render an EXECUTED physical
  * plan with its per-operator SQL metric values — the UI SQL-tab view for
  * sessions that run with `spark.ui.enabled=false` (every graft bench
  * session). Lives in the sql subpackage for the `private[sql]`
  * accessors that resolve AQE's final plan ([[AdaptiveSparkPlanExec
  * .executedPlan]], [[QueryStageExec.plan]]) and an execution-end event's
  * QueryExecution, and for the `private[spark]` listener bus. Read-only:
  * walks the tree, never mutates or re-executes. */
object PlanMetricsDump {

  /** Returns once every queued listener event has been delivered. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The QueryExecution of a SQL execution that ended without failure,
    * in any session of the context. */
  def executionOf(e: SparkListenerEvent): Option[QueryExecution] = e match {
    case end: SparkListenerSQLExecutionEnd if end.executionFailure.isEmpty =>
      Option(end.qe)
    case _ => None
  }

  /** Indented operator tree with non-zero metric values, AQE stages
    * resolved to their final materialized plans. */
  def render(plan: SparkPlan): String = {
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      val ms = p.metrics.toSeq
        .filter { case (_, m) => m.value != 0 && m.value != -1 }
        .sortBy(_._1)
        .map { case (k, m) => s"$k=${m.value}" }
        .mkString(", ")
      sb.append("  " * depth).append(p.nodeName)
        .append(if (ms.nonEmpty) s" [$ms]" else "").append('\n')
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case r: ReusedSubqueryExec => Seq(r.child)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
      p.subqueries.foreach { sq =>
        sb.append("  " * (depth + 1)).append("Subquery:\n")
        walk(sq, depth + 2)
      }
    }
    walk(plan, 0)
    sb.toString
  }
}
