package graft

import org.apache.spark.sql.functions._

import graft.operators.TextAnalysis

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
}
