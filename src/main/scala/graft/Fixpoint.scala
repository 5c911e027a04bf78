package graft

import java.util.concurrent.TimeoutException

import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graft.PinnedStats

import graft.Checkpoints.PinOps

/** Runs the rounds of the iterative operators: it owns the loop, the pin
  * cadence, the convergence signal and the policy at the round limit.
  *
  *  - [[repeat]]: a fixed round count, part of what the output means.
  *    Rounds nest lazily (each reads the previous output once); the state
  *    is pinned at round index 4k−1 (0-based) and at the last round.
  *  - [[untilStable]] / [[upTo]]: every round is pinned, and a measure
  *    aggregated over the round's output rides that pin as a fresh Spark
  *    `Observation`, so no extra action runs. The same Observation counts
  *    the rows, which become the pin's size statistics ([[PinnedStats]]).
  *    A round measuring 0 ends the loop. At the limit, [[untilStable]]
  *    FAILS (the state is no fixpoint) and [[upTo]] returns.
  *
  * A measure that never arrives, or arrives empty, fails the loop: a
  * missing signal is never read as "converged". */
object Fixpoint {

  /** The measure reaches its Observation through the listener bus. */
  private val MeasureWait = 60.seconds

  def repeat(init: DataFrame, rounds: Int)
            (step: DataFrame => DataFrame): DataFrame = {
    require(rounds >= 1, "at least one round")
    (0 until rounds).foldLeft(init) { (state, i) =>
      val next = step(state)
      if (i % 4 == 3 || i == rounds - 1) next.pin() else next
    }
  }

  /** `measure(round)` and `step(state, round)` see the 1-based round. */
  def untilStable(op: String, init: DataFrame, limit: Int,
                  measure: Int => Column)
                 (step: (DataFrame, Int) => DataFrame): DataFrame = {
    val (state, last) = loop(op, init, limit, measure, step)
    require(last.getLong(0) == 0L,
      s"$op did not converge in $limit rounds (${last.schema.head.name} = " +
        s"${last.getLong(0)} in the last round); raise the round limit")
    state
  }

  def upTo(op: String, init: DataFrame, limit: Int, measure: Int => Column)
          (step: (DataFrame, Int) => DataFrame): DataFrame =
    loop(op, init, limit, measure, step)._1

  /** The pinned final state and the last round's measure row. */
  private def loop(op: String, init: DataFrame, limit: Int,
                   measure: Int => Column,
                   step: (DataFrame, Int) => DataFrame): (DataFrame, Row) = {
    require(limit >= 1, s"$op: at least one round")
    var state = init
    var last: Row = null
    var round = 0
    while ((last == null || last.getLong(0) != 0L) && round < limit) {
      round += 1
      val o = Observation()
      val pinned = step(state, round)
        .observe(o, measure(round), count(lit(1)).as("rows")).pin()
      last = measured(o.future, op, round)
      state = PinnedStats.withRowCount(pinned, last.getAs[Long]("rows"))
    }
    (state, last)
  }

  private[graft] def measured(metrics: Future[Row], op: String, round: Int,
                              wait: FiniteDuration = MeasureWait): Row = {
    val row = try Await.result(metrics, wait) catch {
      case _: TimeoutException => throw new IllegalStateException(
        s"$op round $round: convergence measure never arrived")
    }
    if (row.length == 0 || row.isNullAt(0)) throw new IllegalStateException(
      s"$op round $round: convergence measure unreported by the executed plan")
    row
  }
}
