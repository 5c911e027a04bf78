package graft

import java.util.concurrent.{ConcurrentHashMap, TimeoutException}

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Production hook for the engine's observed metrics — the counters
  * every recall-trading cap reports (`ngram_prefix_buckets`,
  * `winnow_df_cap`, `semantic_dedup_cells`, …). "The cap is observed,
  * never silent" is only actionable if a CALLER can actually read the
  * counters; this wraps the plumbing into one call.
  *
  * {{{
  * val (pairs, metrics) = Observed.run(winnowPairs(docs, ...))(_.count())
  * val dropped = metrics("winnow_df_cap").getAs[Long]("dropped_postings")
  * }}}
  *
  * Contract: the frame is BUILT inside the call (`build` is by-name),
  * then ONE action runs on it. A metric reaches the returned map by one
  * of two routes:
  *
  *  - build-time observations: an operator that eagerly pins an observed
  *    subtree runs that job while the frame is built, and the pin cuts
  *    the `CollectMetrics` node out of the returned plan. Such operators
  *    observe through [[observe]], which — inside this call's build —
  *    attaches a Spark `Observation` owned by this call; `run` awaits
  *    each one's result after the action.
  *  - plan-embedded observations: `observe()` nodes still present in the
  *    built frame's analyzed plan are awaited by name from the events a
  *    QueryExecutionListener sees during the action. Concurrent queries
  *    on the same session can contribute same-named metrics to this
  *    route (listener events carry no caller identity); run scheduled
  *    jobs through their own sessions if that matters.
  *
  * Both awaits are bounded by `timeoutMs`; a missing metric throws
  * `observed metrics never arrived`. A metric can be missing when the
  * optimizer or AQE removes its observed subtree from the executed plan
  * (the analyzed plan still names it): a call-owned `Observation` then
  * completes with an empty row, and the call throws at once, naming the
  * metric as unreported; a plan-embedded one is waited for until the
  * timeout. A memoized build that is already cached runs nothing, so its
  * build-time metric reached the call that first built it, not later
  * ones. */
object Observed {

  /** The open [[run]] scope's observations, innermost call only. */
  private val scope = new ThreadLocal[ArrayBuffer[Observation]]

  /** `ds.observe(name, exprs*)`, except inside an open [[run]] build,
    * where the metric is collected through a Spark `Observation` owned
    * by that call. The plan is the same either way. */
  def observe[T](ds: Dataset[T], name: String, expr: Column,
                 exprs: Column*): Dataset[T] =
    Option(scope.get) match {
      case Some(owned) =>
        val o = Observation(name)
        owned += o
        ds.observe(o, expr, exprs: _*)
      case None => ds.observe(name, expr, exprs: _*)
    }

  def run[T](build: => DataFrame, timeoutMs: Long = 30000L)
            (action: DataFrame => T): (T, Map[String, Row]) = {
    val owned = ArrayBuffer.empty[Observation]
    val outer = scope.get
    scope.set(owned)
    val df = try build finally scope.set(outer)
    val spark = df.sparkSession
    val expected: Set[String] = df.queryExecution.analyzed.collect {
      case c: org.apache.spark.sql.catalyst.plans.logical.CollectMetrics =>
        c.name
    }.toSet
    val seen = new ConcurrentHashMap[String, Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        qe.observedMetrics.foreach { case (n, r) => seen.put(n, r) }
      override def onFailure(funcName: String, qe: QueryExecution,
                             error: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = action(df)
      val deadline = System.currentTimeMillis() + timeoutMs
      // Spark completes an Observation with an empty row when the
      // action's plan named its subtree but the executed plan reported
      // no metrics for it
      val unreported = owned.flatMap { o =>
        val left = math.max(0L, deadline - System.currentTimeMillis())
        try {
          val r = Await.result(o.future, left.millis)
          if (r.length == 0) Some(o.name) else { seen.put(o.name, r); None }
        } catch { case _: TimeoutException => None }
      }.toSet
      val awaited = expected -- unreported
      while (!awaited.forall(seen.containsKey) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      val missing = (owned.map(_.name).toSet ++ expected)
        .filterNot(seen.containsKey)
      require(missing.isEmpty,
        s"observed metrics never arrived: ${missing.mkString(", ")} " +
          s"(unreported by the executed plan: ${unreported.mkString(", ")}; " +
          s"got ${seen.keySet()})")
      (result, seen.asScala.toMap)
    } finally spark.listenerManager.unregister(listener)
  }
}
