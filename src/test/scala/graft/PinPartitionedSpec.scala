package graft

import java.util.concurrent.{Executors, TimeUnit}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.RDDScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** `Checkpoints.pinPartitioned` runs its shuffle with AQE off without
  * writing the caller's session conf, and the pin keeps its hash
  * partitioning: a consumer join on the key reads the pinned side
  * without re-exchanging it. The reliable-mode join check runs in
  * [[CheckpointModeSpec]], after that suite's own reliable-directory
  * check: the context's checkpoint directory is set once per JVM. */
class PinPartitionedSpec extends SparkSpec {
  import PinPartitionedSpec.table

  private val aqeKey = "spark.sql.adaptive.enabled"

  test("overlapping pinPartitioned calls leave the shared session's " +
    "AQE conf as it was") {
    assert(spark.conf.get(aqeKey) === "true")
    val pool = Executors.newFixedThreadPool(4)
    try {
      val calls = (0 until 4).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
          def call(): Seq[Long] = (0 until 25).map { i =>
            Checkpoints.pinPartitioned(table(spark, 50L + t * 25 + i),
              Seq("u")).count()
          }
        })
      }
      val counts = calls.flatMap(_.get(5, TimeUnit.MINUTES))
      assert(counts === (0 until 4).flatMap(t =>
        (0 until 25).map(i => 50L + t * 25 + i)))
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    assert(spark.conf.get(aqeKey) === "true")
  }

  test("a consumer join on the key does not re-exchange the pinned " +
    "side (local checkpoint mode)") {
    PinPartitionedSpec.assertConsumerJoinReadsPinAsIs(spark.newSession())
  }
}

object PinPartitionedSpec extends AdaptiveSparkPlanHelper {

  private def table(s: SparkSession, n: Long) =
    s.range(0, n).select(col("id").as("u"), (col("id") * 3).as("v"))

  /** Pins a table on its key in `s` (its checkpoint mode as configured),
    * joins it on the key with broadcasts off, and asserts that the
    * executed plan exchanges only the other side. */
  def assertConsumerJoinReadsPinAsIs(s: SparkSession): Unit = {
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val pinned = Checkpoints.pinPartitioned(table(s, 1000L), Seq("u"))
    assert(s.conf.get("spark.sql.adaptive.enabled") == "true")
    val joined = pinned
      .join(table(s, 500L).withColumnRenamed("v", "w"), "u")
    val rows = joined.collect()
    assert(rows.length == 500 && rows.forall(r => r.getLong(1) == r.getLong(2)))
    val plan = joined.queryExecution.executedPlan
    val exchanges = collect(plan) { case e: ShuffleExchangeLike => e }
    val onPinned = exchanges.count(e =>
      find(e.child)(_.isInstanceOf[RDDScanExec]).isDefined)
    assert(onPinned == 0, s"the pinned side was re-exchanged:\n$plan")
    assert(exchanges.size == 1,
      s"only the other side should be exchanged:\n$plan")
  }
}
