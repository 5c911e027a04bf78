package graft

/** The plan capture behind `plans/last/`: the rendered plan must be the
  * timed noop write's own, even when the query's build fires an eager
  * pin — `dedup_winnowing` pins its hot-fingerprint list at build time,
  * which posts a second query execution before the write's — and when
  * the query runs in a session other than the bench's. */
class BenchCaptureSpec extends SparkSpec {

  test("the capture renders the rep's noop write, not the eager pin's " +
    "plan, with non-zero operator metrics") {
    val capture = new Bench.PlanCapture(spark)
    try {
      val query = SparkEntry.queries("dedup_winnowing")
      val df = query(spark, sfDir)
      df.write.format("noop").mode("overwrite").save()
      val plan = capture.planOf(df).getOrElse(fail("no plan captured"))
      val lines = plan.split("\n").toSeq
      assert(lines.head.startsWith("OverwriteByExpression"), plan)
      // the pin's plan is the observed df aggregate; the query's own plan
      // reads the pins and joins them, with no observe node left
      assert(plan.contains("Join"), plan)
      assert(plan.contains("Scan ExistingRDD"), plan)
      assert(!plan.contains("CollectMetrics"), plan)
      assert(lines.exists(_.matches(".*\\[.*numOutputRows=[1-9].*")), plan)
      // selection is by identity: another build of the same query was
      // never written, so nothing is rendered for it
      assert(capture.planOf(query(spark, sfDir)).isEmpty)
    } finally capture.close()
  }

  test("a query that writes through its own child session is captured") {
    val capture = new Bench.PlanCapture(spark)
    try {
      val df = SparkEntry.queries("s_agg_footer_stats")(spark, sfDir)
      assert(df.sparkSession ne spark)
      df.write.format("noop").mode("overwrite").save()
      val plan = capture.planOf(df).getOrElse(fail("no plan captured"))
      assert(plan.startsWith("OverwriteByExpression"), plan)
    } finally capture.close()
  }
}
