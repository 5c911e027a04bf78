package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

class PrefixScanSpec extends SparkSpec {

  // Skewed keys (clustered values) so repartitionByRange produces some
  // near-empty / empty partitions — the carry alignment must survive them.
  private def skewed(n: Int) = {
    import spark.implicits._
    (0 until n).map { i =>
      val k = if (i % 10 < 7) i % 5 else i // 70% of keys in [0,5)
      (k.toLong * 1000000L + i, (i % 97).toLong - 11L)
    }.toDF("k", "v").repartition(23)
  }

  test("Sum matches a single-partition window oracle") {
    import spark.implicits._
    val df = skewed(4000)
    val got = PrefixScan.runningLong(df, Seq("k"), "v", PrefixScan.Sum)
      .select("k", "v", "run_excl", "run_incl")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val rows = df.as[(Long, Long)].collect().sortBy(_._1)
    var acc = 0L
    rows.zip(got).foreach { case ((k, v), (gk, gv, excl, incl)) =>
      assert(gk === k && gv === v)
      assert(excl === acc, s"excl at k=$k")
      acc += v
      assert(incl === acc, s"incl at k=$k")
    }
  }

  test("Max matches the running maximum; first excl is the MinValue sentinel") {
    import spark.implicits._
    val df = skewed(3000)
    val got = PrefixScan.runningLong(df, Seq("k"), "v", PrefixScan.Max)
      .select("k", "v", "run_excl", "run_incl")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    assert(got.head._3 === Long.MinValue) // neutral carried into row 1
    var acc = Long.MinValue
    got.foreach { case (k, v, excl, incl) =>
      assert(excl === acc, s"excl at k=$k")
      acc = math.max(acc, v)
      assert(incl === acc, s"incl at k=$k")
    }
  }

  test("empty input and single row") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("k", "v")
    assert(PrefixScan.runningLong(empty, Seq("k"), "v", PrefixScan.Sum)
      .count() === 0L)
    val one = Seq((7L, 42L)).toDF("k", "v")
    val r = PrefixScan.runningLong(one, Seq("k"), "v", PrefixScan.Sum)
      .select("run_excl", "run_incl").as[(Long, Long)].head()
    assert(r === ((0L, 42L)))
  }

  test("rejects actual nulls at runtime, colliding output names, overflow") {
    import spark.implicits._
    // a nullable-SCHEMA column with no actual nulls works (parquet reads
    // are conservatively nullable); an actual null fails loudly
    val nullableOk = Seq((1L, Some(2L)), (2L, Some(3L))).toDF("k", "v")
    assert(PrefixScan.runningLong(nullableOk, Seq("k"), "v", PrefixScan.Sum)
      .count() === 2L)
    val withNull = Seq((1L, Some(2L)), (2L, None)).toDF("k", "v")
    val nex = intercept[Throwable] {
      PrefixScan.runningLong(withNull, Seq("k"), "v", PrefixScan.Sum)
        .collect()
    }
    assert(Iterator.iterate(nex)(_.getCause).takeWhile(_ != null).take(8)
      .exists(c => Option(c.getMessage).exists(_.contains("NULL"))))
    val df = Seq((1L, 2L)).toDF("k", "run_excl")
    intercept[IllegalArgumentException] {
      PrefixScan.runningLong(df, Seq("k"), "run_excl", PrefixScan.Sum)
    }
    // Sum fails loudly on int64 wrap (Math.addExact), per the
    // integer-exactness convention
    val big = Seq((1L, Long.MaxValue), (2L, 1L)).toDF("k", "v")
    val ex = intercept[Throwable] {
      PrefixScan.runningLong(big, Seq("k"), "v", PrefixScan.Sum).collect()
    }
    val causes = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .take(8).toSeq
    assert(causes.exists(c => c.isInstanceOf[ArithmeticException] ||
      Option(c.getMessage).exists(_.toLowerCase.contains("overflow"))))
  }

  // ---- groupedRunningLong against its window oracle ----

  /** Run `body` with session confs set, restoring the previous values. */
  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val conf = spark.conf
    val old = kv.map { case (k, _) => k -> conf.getOption(k) }
    kv.foreach { case (k, v) => conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  /** Exactly `n` range partitions: AQE may not coalesce them. */
  private def partitions(n: Int) = Seq(
    "spark.sql.shuffle.partitions" -> n.toString,
    "spark.sql.adaptive.coalescePartitions.enabled" -> "false")

  /** `sum(w) over (partition by g order by v)` and the per-group total —
    * (g, v) is unique, so the default RANGE frame is the running sum. */
  private def windowOracle(df: DataFrame): Set[(Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    df.select($"g", $"v", $"w",
      sum($"w").over(Window.partitionBy($"g").orderBy($"v")).as("cum"),
      sum($"w").over(Window.partitionBy($"g")).as("tot"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
  }

  /** The grouped scan's output, plus the number of partitions it ran in
    * and how many of them group `g0` spans. */
  private def scanned(df: DataFrame, g0: Long)
      : (Set[(Long, Long, Long, Long, Long)], Int, Long) = {
    import spark.implicits._
    val out = PrefixScan.groupedRunningLong(df, Seq("g"), Seq("v"), "w")
      .withColumn("_p", spark_partition_id()).cache()
    val rows = out.select($"g", $"v", $"w", $"_cum", $"n")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val span = out.where($"g" === g0).select($"_p").distinct().count()
    val parts = out.rdd.getNumPartitions
    out.unpersist()
    (rows, parts, span)
  }

  /** Group 0 holds 3,000 rows; groups 1..199 hold 1..20 rows each.
    * Weights are signed, and v is unique within a group. */
  private def mixedGroups = {
    import spark.implicits._
    val big = (0L until 3000L).map(v => (0L, v, (v * 7919) % 101 - 50))
    val small = (1L until 200L).flatMap { g =>
      (0L until (g % 20) + 1).map(v => (g, v * 3 + g, (g * 31 + v) % 17 - 8))
    }
    (big ++ small).toDF("g", "v", "w").repartition(7)
  }

  test("groupedRunningLong equals the window oracle at forced partition " +
    "counts 1..8, with a group spanning >= 3 partitions") {
    val df = mixedGroups.cache()
    val oracle = windowOracle(df)
    (1 to 8).foreach { n =>
      val (got, parts, span) = withConf(partitions(n): _*)(scanned(df, 0L))
      assert(parts === n, s"forced $n partitions, ran in $parts")
      if (n >= 4) assert(span >= 3, s"n=$n: group 0 spans only $span")
      assert(got === oracle, s"n=$n: mismatch vs the window oracle")
    }
    df.unpersist()
  }

  test("groupedRunningLong: one giant group across every partition") {
    import spark.implicits._
    val df = (0L until 4000L).map(v => (7L, v * 2, v % 13 - 6))
      .toDF("g", "v", "w").repartition(5).cache()
    val oracle = windowOracle(df)
    val (got, parts, span) = withConf(partitions(6): _*)(scanned(df, 7L))
    assert(parts === 6 && span === 6L)
    assert(got === oracle)
    df.unpersist()
  }

  test("groupedRunningLong: interior groups spill from the row buffer at " +
    "a low threshold and still equal the window oracle") {
    import spark.implicits._
    val df = (0L until 60L).flatMap(g =>
        (0L until 40L).map(v => (g, v, (g + v) % 9 - 4)))
      .toDF("g", "v", "w").repartition(3).cache()
    val oracle = windowOracle(df)
    val spilled = new java.util.concurrent.atomic.AtomicLong()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach(m => spilled.addAndGet(
          m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    val (got, _, _) = withConf(partitions(3) ++ Seq(
        "spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
        "spark.sql.windowExec.buffer.spill.threshold" -> "2"): _*) {
      spark.sparkContext.addSparkListener(listener)
      try {
        val r = scanned(df, 0L)
        org.apache.spark.GraftTestBridge.waitForListeners(spark.sparkContext)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    assert(spilled.get() > 0L, "the interior-segment buffer never spilled")
    assert(got === oracle)
    df.unpersist()
  }
}
