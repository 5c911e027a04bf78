package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Graph, TextAnalysis}

class ObservedSpec extends SparkSpec {

  test("Observed.run returns the action result AND the plan-embedded " +
    "cap metrics; a plan without observe() nodes returns immediately") {
    import spark.implicits._
    // the planted-hot-corpus shape from TextAnalysisSpec: 25 docs share
    // one long run, so its fingerprints exceed maxDf = 20 and are cut
    val hotRun = "thisboilerplatefooterisrepeatedverbatimacrosseverysingle" +
      "documentinthecorpusandkeepsgoingonforawhile"
    val docs = (1 to 25)
      .map(i => (i.toLong, ('a' + i - 1).toChar.toString * 12 + " " + hotRun))
      .toDF("doc_id", "text")
    val (nPairs, metrics) = Observed.run(
      TextAnalysis.winnowPairs(docs, "doc_id", "text",
        minShared = 8, maxDf = 20))(_.count())
    assert(nPairs === 0L)
    val m = metrics("winnow_df_cap")
    assert(m.getAs[Long]("dropped_fingerprints") >= 1L)
    assert(m.getAs[Long]("dropped_postings") >=
      m.getAs[Long]("dropped_fingerprints") * 21L)
    // no observe() in the plan -> empty-or-unrelated metrics, no await
    val (n, _) = Observed.run(docs.select(col("doc_id")))(_.count())
    assert(n === 25L)
  }

  test("Observed.run returns the memoized reference index's cap metric, " +
    "observed while the pinned index is built") {
    import spark.implicits._
    val hotRun = "thisboilerplatefooterisrepeatedverbatimacrosseverysingle" +
      "documentinthecorpusandkeepsgoingonforawhile"
    val docs = (1 to 25)
      .map(i => (i.toLong, ('a' + i - 1).toChar.toString * 12 + " " + hotRun))
      .toDF("doc_id", "text")
    val fresh = Seq((101L, "zzzzzzzzzzzz " + hotRun),
      (102L, "nnnn unrelated arrival")).toDF("doc_id", "text")
    // a key no other suite uses: the build (and its metric) must happen
    // inside this call, not come from an earlier memo hit
    val (verdicts, metrics) = Observed.run(
      TextAnalysis.winnowIncrementalVerdict(fresh, docs, "doc_id", "text",
        minShared = 8, maxDf = 20,
        refKey = Some("ObservedSpec.planted-hot-ref")))(_.collect())
    // the hot run is cut from the reference index, so nothing matches
    assert(verdicts.map(r => r.getAs[Long]("new_id") ->
      r.getAs[Long]("dropped")).toMap === Map(101L -> 0L, 102L -> 0L))
    val m = metrics("winnow_ref_df_cap")
    assert(m.getAs[Long]("dropped_fingerprints") >= 1L)
    assert(m.getAs[Long]("dropped_postings") >=
      m.getAs[Long]("dropped_fingerprints") * 21L)
  }

  test("Observed.run returns the co-occurrence hot-via cap metric that " +
    "edgesFor's pin runs at build time") {
    import spark.implicits._
    // via 100 joins all 12 nodes, past maxPerVia = 5; vias 1-3 pair up
    // nodes 1-2 (twice) and 3-4
    val links = ((1L to 12L).map(n => (n, 100L)) ++
      Seq((1L, 1L), (2L, 1L), (1L, 2L), (2L, 2L), (3L, 3L), (4L, 3L)))
      .toDF("node", "via")
    // a key no other suite uses: the memoized build must run in this call
    val (edges, metrics) = Observed.run(
      Graph.edgesFor(spark, "ObservedSpec.hot-via") {
        Graph.cooccurrenceEdges(links, "node", "via", minShared = 1L,
          maxPerVia = 5L)
      })(_.collect())
    assert(edges.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      === Set((1L, 2L, 2L), (3L, 4L, 1L)))
    assert(metrics("cooccurrence_vias").getAs[Long]("dropped_vias") === 1L)
  }

  test("Observed.run returns a bucket-cap metric that connected " +
    "components' edge pin runs at build time") {
    import spark.implicits._
    // maxHamming 1 -> two 32-bit chunks: six fingerprints share their low
    // chunk (a block of 6, past maxBucket = 3); 7 and 8 share the high
    // chunk and differ in one bit
    val fps = ((1L to 6L).map(i => (i, (i << 32) | 0xabcL)) ++
      Seq((7L, (7L << 32) | 1L), (8L, (7L << 32) | 3L)))
      .toDF("asset_id", "phash")
    val (clusters, metrics) = Observed.run(Dedup.connectedComponents(
      Dedup.fingerprintHammingPairs(fps, "asset_id", "phash", maxHamming = 1,
        maxBucket = 3, metric = "observed_spec_fp_buckets"),
      "id_a", "id_b"))(_.collect())
    assert(clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap ===
      Map(7L -> 7L, 8L -> 7L))
    assert(metrics("observed_spec_fp_buckets")
      .getAs[Long]("dropped_buckets") === 1L)
  }

  // The two cases below need a nonempty result: when a pass finds no dup
  // or pair, AQE replaces the empty join side, observed subtree included,
  // and the executed plan reports no metric for it.
  test("Observed.run returns the semantic-dedup hot-cell metric") {
    import spark.implicits._
    // three distinct x-dominant vectors fill cell 0 past maxCell = 2;
    // cell 1 keeps a near-parallel pair
    val rows = Seq((1L, Array(1.0f, 0.1f)), (2L, Array(0.99f, 0.11f)),
      (3L, Array(2.0f, 0.3f)), (5L, Array(0.1f, 1.0f)),
      (6L, Array(0.1f, 1.01f))).toDF("vec_id", "embedding")
    val (got, metrics) = Observed.run(Dedup.semanticDedup(rows, "vec_id",
      "embedding", Seq(Seq(100L, 0L), Seq(0L, 100L)), maxCell = 2))(
      _.collect())
    assert(got.filter(_.getAs[Boolean]("is_dup"))
      .map(_.getAs[Long]("vec_id")).toSeq === Seq(6L))
    assert(metrics("semantic_dedup_cells").getAs[Long]("dropped_cells")
      === 1L)
  }

  test("Observed.run returns both cross-corpus prefix-bucket metrics") {
    import spark.implicits._
    // text a sits twice on each side: each side's prefix bucket for it
    // holds 2 entries, past maxBucket = 1; text b pairs 12 with 3
    val a = "alpha beta gamma delta epsilon"
    val b = "one two three four five six"
    val ref = Seq((1L, a), (2L, a), (3L, b)).toDF("doc_id", "text")
    val fresh = Seq((10L, a), (11L, a), (12L, b)).toDF("doc_id", "text")
    val (pairs, metrics) = Observed.run(Dedup.crossCorpusPairs(fresh, ref,
      "doc_id", "text", k = 2, minJaccard = 0.8, maxBucket = 1))(_.collect())
    assert(pairs.map(r => r.getLong(0) -> r.getLong(1)).toSeq ===
      Seq(12L -> 3L))
    assert(metrics("xcorpus_prefix_buckets").getAs[Long]("dropped_buckets")
      === 1L)
    assert(metrics("xcorpus_prefix_buckets_new")
      .getAs[Long]("dropped_buckets") === 1L)
  }
}
