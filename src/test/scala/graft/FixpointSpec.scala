package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Future, Promise}
import scala.concurrent.duration._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The `Fixpoint` loop contract, counted with a `SparkListener`: a
  * convergence loop runs one job per round (its pin, which also delivers
  * the measure), a missing measure is an error, and a fixed-round loop
  * pins at rounds 4k−1 (0-based) and the last round only. */
class FixpointSpec extends SparkSpec {

  private def flush(): Unit =
    org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)

  /** Runs `body` with a job counter; `jobsAt` reads it after flushing the
    * listener bus, so steps can record the jobs that ran before them. */
  private def countingJobs[T](body: (() => Int) => T): (T, Int) = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    flush()
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body { () => flush(); jobs.get() }
      flush()
      (out, jobs.get())
    } finally spark.sparkContext.removeSparkListener(l)
  }

  // x climbs by one per round up to 5 from 0..4: the round that lifts the
  // last x to 5 is round 5, and round 6 changes nothing
  private def climb(state: DataFrame): DataFrame =
    state.select(least(col("x") + 1L, lit(5L)).as("x"), col("x").as("_old"))

  private val changed =
    (_: Int) => count(when(col("x") =!= col("_old"), true)).as("changed")

  test("a convergence loop runs one job per round: the pin that delivers " +
    "its measure") {
    val entered = ArrayBuffer.empty[Int]
    val (out, total) = countingJobs { jobsAt =>
      Fixpoint.untilStable("climb", spark.range(5).select(col("id").as("x")),
          limit = 10, changed) { (state, round) =>
        entered += jobsAt()
        assert(round === entered.size)
        climb(state)
      }.select("x").collect().map(_.getLong(0)).toSeq
    }
    assert(out === Seq.fill(5)(5L))
    assert(entered === (0 until 6)) // six rounds, one job before each next
    assert(total === 6 + 1) // the six pins, then the collect
  }

  test("a convergence loop still changing at its limit fails, naming the " +
    "operator, the limit and the last measure") {
    val e = intercept[IllegalArgumentException] {
      Fixpoint.untilStable("climb", spark.range(5).select(col("id").as("x")),
        limit = 3, changed)((state, _) => climb(state))
    }
    assert(e.getMessage.contains("climb did not converge in 3 rounds"))
    assert(e.getMessage.contains("changed = 3"))
    // the bounded-output form returns at the same limit instead
    val capped = Fixpoint.upTo("climb",
        spark.range(5).select(col("id").as("x")), limit = 3, changed)(
        (state, _) => climb(state))
      .select("x").collect().map(_.getLong(0)).sorted.toSeq
    assert(capped === Seq(3L, 4L, 5L, 5L, 5L))
  }

  test("a measure that completes empty or never arrives is an error, " +
    "never 'converged'") {
    // Spark completes an Observation with an empty row when the executed
    // plan reported no metrics for it
    val e = intercept[IllegalStateException] {
      Fixpoint.measured(Future.successful(Row.empty), "climb", 2)
    }
    assert(e.getMessage.contains("climb round 2"))
    intercept[IllegalStateException] {
      Fixpoint.measured(Future.successful(Row(null)), "climb", 1)
    }
    val never = intercept[IllegalStateException] {
      Fixpoint.measured(Promise[Row]().future, "climb", 3, wait = 50.millis)
    }
    assert(never.getMessage.contains("never arrived"))
  }

  test("a fixed-round loop pins at rounds 4k-1 and the last round only") {
    val entered = ArrayBuffer.empty[Int]
    val (out, _) = countingJobs { jobsAt =>
      Fixpoint.repeat(spark.range(3).select(col("id").as("x")), rounds = 9) {
          state =>
        entered += jobsAt()
        state.select((col("x") + 1L).as("x"))
      }.collect().map(_.getLong(0)).sorted.toSeq
    }
    assert(out === Seq(9L, 10L, 11L))
    // jobs seen on entering rounds 0..8: pins after rounds 3 and 7
    assert(entered === Seq(0, 0, 0, 0, 1, 1, 1, 1, 2))
    // and the last round's pin: one lineage leaf, nothing left to nest
    val last = Fixpoint.repeat(spark.range(3).toDF("x"), rounds = 9)(
      _.select((col("x") + 1L).as("x")))
    assert(last.queryExecution.analyzed.collectLeaves().size === 1)
    assert(last.queryExecution.analyzed.collectLeaves().head
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD])
  }
}
