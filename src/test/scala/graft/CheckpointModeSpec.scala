package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

/** `spark.graft.checkpoint.mode` contract: the reliable (cluster-safe)
  * mode must reproduce the local mode's results exactly on iterative
  * queries — `dedup_winnow_clusters` (connected components),
  * `graph_kcore` and `graph_shortest_paths` pin every round through
  * [[Fixpoint]] and read their convergence measure off that pin — and
  * must actually write checkpoint data to the configured directory. This
  * is the config that converts the engine's one named correctness-at-scale
  * concession (localCheckpoint blocks die with an executor) into shipped
  * behavior: flip the conf and every lineage pin in the engine survives
  * executor loss. */
class CheckpointModeSpec extends SparkSpec {

  private def winnowClusters(keySuffix: String): Seq[(Long, Long)] = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // distinct memo key per mode — the session memo would otherwise hand
    // the second mode the first mode's already-built table
    TextAnalysis.winnowClustersFor(docs, "doc_id", "text",
      k = 5, w = 4, minShared = 8, maxDf = 20, key = s"ckpt-spec-$keySuffix")
      .select(col("doc").cast("long"), col("cluster").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
  }

  /** A registered loop query's rows, sorted. */
  private def queryRows(name: String): Seq[String] =
    SparkEntry.queries(name)(spark, sfDir).collect().map(_.toString)
      .toSeq.sorted

  private val loopQueries = Seq("graph_kcore", "graph_shortest_paths")

  test("reliable mode without a dir fails fast with the conf names") {
    // the seam covers the error path UNCONDITIONALLY — it takes the
    // context-dir state as an argument, so no assume / suite-order
    // dependence (setCheckpointDir is sticky on the shared context)
    val e = intercept[IllegalArgumentException] {
      Checkpoints.reliableDirToSet(spark, contextDir = None)
    }
    assert(e.getMessage.contains(Checkpoints.DirKey))
    // a pre-set context dir wins: nothing to set, no DirKey required
    assert(Checkpoints.reliableDirToSet(spark,
      contextDir = Some("/pre/set")) === None)
    // end-to-end variant when the real context still has no dir
    if (spark.sparkContext.getCheckpointDir.isEmpty) {
      spark.conf.set(Checkpoints.ModeKey, "reliable")
      try {
        val e2 = intercept[IllegalArgumentException] {
          Checkpoints.pin(spark.range(3).toDF(), eager = true)
        }
        assert(e2.getMessage.contains(Checkpoints.DirKey))
      } finally spark.conf.unset(Checkpoints.ModeKey)
    }
  }

  test("unknown mode is rejected, not silently treated as local") {
    spark.conf.set(Checkpoints.ModeKey, "bogus")
    try {
      val e = intercept[IllegalArgumentException] {
        Checkpoints.pin(spark.range(3).toDF(), eager = true)
      }
      assert(e.getMessage.contains("bogus"))
    } finally spark.conf.unset(Checkpoints.ModeKey)
  }

  // also graph_kcore and graph_shortest_paths: their convergence
  // measures come from the reliable checkpoint jobs
  test("reliable mode reproduces dedup_winnow_clusters exactly " +
    "and writes reliable checkpoint data") {
    val local = winnowClusters("local")
    assert(local.nonEmpty, "fixture must produce clusters")
    val localLoops = loopQueries.map(queryRows)
    assert(localLoops.forall(_.nonEmpty), "fixture must produce loop rows")

    val dir = Files.createTempDirectory("graft-ckpt-spec").toString
    spark.conf.set(Checkpoints.ModeKey, "reliable")
    spark.conf.set(Checkpoints.DirKey, dir)
    try {
      val reliable = winnowClusters("reliable")
      assert(reliable === local)
      assert(loopQueries.map(queryRows) === localLoops)
      // the pins really went through Dataset.checkpoint: rdd-* block
      // dirs exist under the configured checkpoint root
      val wrote = Files.walk(Paths.get(dir)).anyMatch(
        p => p.getFileName.toString.startsWith("rdd-"))
      assert(wrote, s"no reliable checkpoint data under $dir")
    } finally {
      spark.conf.unset(Checkpoints.ModeKey)
      spark.conf.unset(Checkpoints.DirKey)
    }
  }

  // after the test above: it must be the first to set the context's
  // (sticky) checkpoint directory
  test("pinPartitioned keeps its partitioning in reliable mode: a " +
    "consumer join on the key does not re-exchange the pinned side") {
    val s = spark.newSession()
    s.conf.set(Checkpoints.ModeKey, "reliable")
    s.conf.set(Checkpoints.DirKey,
      Files.createTempDirectory("graft-pin-spec").toString)
    PinPartitionedSpec.assertConsumerJoinReadsPinAsIs(s)
  }

  test("lazy pins fire no job at plan-build time") {
    // a plan that THROWS on evaluation separates the modes exactly:
    // pinLazy must return without evaluating (the pipeline_dsir
    // stage-pin contract), the eager pin must evaluate now and throw,
    // and consuming the lazy pin materializes (and hits the assert)
    val boom = spark.range(1)
      .select(expr("assert_true(id < 0)").as("a"))
    val pinned = Checkpoints.pin(boom, eager = false)
    intercept[Exception] { Checkpoints.pin(boom, eager = true) }
    intercept[Exception] { pinned.collect() }
  }
}
