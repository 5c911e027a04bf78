package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** The recall-trading caps only DROP candidates: on a corpus where each
  * cap actually fires, the capped pair set is a strict subset of the
  * uncapped one. The planted corpus has a hot cluster (many distinct
  * near-duplicates of one base text, so its shared grams and prefix
  * buckets exceed every cap below) and a small cluster (three
  * near-duplicates of another base, under every cap), so each capped arm
  * keeps the small cluster's pairs and loses the hot cluster's. */
class CapContainmentSpec extends SparkSpec {

  private val hotDocs = 30
  private val hotBase = "the quick brown fox jumps over the lazy dog while " +
    "seven wizards quietly brew strong coffee near the old stone bridge"
  private val smallBase = "customs declarations arrive daily in zipped " +
    "batches and each manifest lists bills of lading for sea freight"

  /** `base` plus a tail word and number unique to `id`: distinct texts
    * (no exact-collapse), one word-bigram and a few char grams apart. */
  private def nearDup(id: Long, base: String): (Long, String) =
    (id, s"$base tail${"%04d".format(id * 7919 % 10000)}")

  private lazy val corpus: DataFrame = {
    import spark.implicits._
    ((0L until hotDocs).map(nearDup(_, hotBase)) ++
      (1000L until 1003L).map(nearDup(_, smallBase)))
      .toDF("doc_id", "text").cache()
  }

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private val smallPairs = Set((1000L, 1001L), (1000L, 1002L), (1001L, 1002L))

  private def assertStrictSubset(capped: Set[(Long, Long)],
                                 uncapped: Set[(Long, Long)]): Unit = {
    assert(capped.subsetOf(uncapped),
      s"capped-only pairs: ${capped -- uncapped}")
    assert(capped.size < uncapped.size, "the cap must drop pairs here")
    assert(smallPairs.subsetOf(capped), "pairs under the cap must survive")
    assert(uncapped.count { case (a, b) => a < hotDocs && b < hotDocs } ===
      hotDocs * (hotDocs - 1) / 2)
  }

  test("ngramJaccardPairs: maxBucket-capped pairs are a strict subset " +
    "of the uncapped ones") {
    def pairs(maxBucket: Int) = pairSet(Dedup.ngramJaccardPairs(
      corpus, "doc_id", "text", k = 2, minJaccard = 0.8,
      maxBucket = maxBucket))
    assertStrictSubset(pairs(10), pairs(Int.MaxValue))
  }

  test("winnowPairs: maxDf-capped pairs are a strict subset of the " +
    "uncapped ones") {
    def pairs(maxDf: Int) = pairSet(TextAnalysis.winnowPairs(
      corpus, "doc_id", "text", k = 5, w = 4, minShared = 8, maxDf = maxDf))
    assertStrictSubset(pairs(20), pairs(Int.MaxValue))
  }

  test("winnowPairs: maxDfPerMille-capped pairs are a strict subset of " +
    "the uncapped ones") {
    // 33 docs at 100 per mille: effective cap max(2, 3) = 3, so the
    // relative term is the binding one (the absolute 2 alone would also
    // drop the three-document cluster)
    val capped = pairSet(TextAnalysis.winnowPairs(corpus, "doc_id", "text",
      k = 5, w = 4, minShared = 8, maxDf = 2, metric = "winnow_df_cap_rel",
      maxDfPerMille = 100))
    val absoluteOnly = pairSet(TextAnalysis.winnowPairs(corpus, "doc_id",
      "text", k = 5, w = 4, minShared = 8, maxDf = 2))
    val uncapped = pairSet(TextAnalysis.winnowPairs(corpus, "doc_id", "text",
      k = 5, w = 4, minShared = 8, maxDf = Int.MaxValue))
    assertStrictSubset(capped, uncapped)
    assert(absoluteOnly.intersect(smallPairs).isEmpty)
  }
}
