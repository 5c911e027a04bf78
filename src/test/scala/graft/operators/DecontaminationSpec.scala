package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class DecontaminationSpec extends SparkSpec {

  test("contamination finds planted n-gram overlap with hit counts") {
    import spark.implicits._
    val bench = Seq(
      (100L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // contains "quick brown fox jumps" twice -> 2 hits, 1 distinct
      (1L, "a quick brown fox jumps here and a quick brown fox jumps there"),
      // shares only a trigram, not a 4-gram -> clean
      (2L, "the quick brown cat sleeps"),
      (3L, "completely unrelated words entirely")).toDF("doc_id", "text")
    val got = Decontamination
      .contamination(corpus, bench, "doc_id", "text", 4)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(1L -> ((2L, 1L))))
  }

  test("winnow decontamination: verbatim excerpts are caught even when " +
    "whitespace/punct/case re-flow launders them, clean docs stay clean, " +
    "and sub-guarantee overlaps may escape") {
    import spark.implicits._
    // k=12, w=8: any shared canonical substring >= 19 chars is guaranteed
    val excerpt = "the seventeen quick brown foxes jumped over all dogs"
    val bench = Seq((100L, excerpt)).toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim inclusion -> guaranteed hit
      (1L, "preamble text " + excerpt + " postamble words"),
      // LAUNDERED copy: case flipped, punctuation injected, whitespace
      // re-flowed — same canonical [a-z0-9] stream -> still guaranteed
      (2L, "THE SEVENTEEN... quick!brown?foxes  JUMPED; over(all)dogs"),
      // shares only an 11-char canonical run ("quickbrownf") < 19 -> may
      // escape; with these params it must NOT be flagged via that run
      (3L, "nothing here but quick brown f and other words"),
      (4L, "completely unrelated content with no shared substrings at all")
    ).toDF("doc_id", "text")
    val got = Decontamination
      .contaminationWinnow(corpus, bench, "doc_id", "text", k = 12, w = 8)
      .as[(Long, Long)].collect().map(r => r._1 -> r._2).toMap
    assert(got.contains(1L) && got(1L) >= 1L, got.toString)
    assert(got.contains(2L) && got(2L) >= 1L, got.toString)
    assert(!got.contains(4L), got.toString)
    // docs 1 and 2 canonicalize the excerpt identically -> doc 2's shared
    // set within the excerpt is a superset-or-equal... assert both found;
    // exact counts differ with surroundings, so only the >=1 law is pinned
  }

  test("hashed variant agrees with the string variant's distinct hits") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
    val bench = docs.where(pmod(col("doc_id"), lit(50)) === 7)
    val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 7)
    val str = Decontamination.contamination(corpus, bench, "doc_id", "text", 4)
      .select("doc_id", "n_distinct_hits")
      .as[(Long, Long)].collect().toMap
    val hashed = Decontamination
      .contaminationHashed(corpus, bench, "doc_id", "text", 4)
      .as[(Long, Long)].collect().toMap
    assert(hashed === str)
    assert(str.nonEmpty, "test corpus must exercise the overlap path")
  }

  test("portable md5-key variant agrees with the string variant") {
    import spark.implicits._
    val docs = Tables(spark, sfDir, "documents")
    val bench = docs.where(pmod(col("doc_id"), lit(50)) === 7)
    val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 7)
    val str = Decontamination.contamination(corpus, bench, "doc_id", "text", 4)
      .select("doc_id", "n_distinct_hits")
      .as[(Long, Long)].collect().toMap
    val md5k = Decontamination.contaminationHashed(corpus, bench, "doc_id",
      "text", 4, org.apache.spark.sql.graft.HashFamily.Md5)
      .as[(Long, Long)].collect().toMap
    assert(md5k === str)
    assert(str.nonEmpty, "test corpus must exercise the overlap path")
  }

  test("semantic contamination: leaked copies and paraphrase-neighbors " +
    "flag, anti-similar and zero vectors stay clean") {
    import spark.implicits._
    val dims = 64
    def vec(f: Int => Float) = Array.tabulate(dims)(f)
    val e1 = vec(i => if (i % 4 == 0) 1.0f else 0.0f) // cell 0 axis
    val near = vec(i => if (i % 4 == 0) 0.95f
      else if (i % 4 == 1) 0.05f else 0.0f) // cos ~0.999 with e1
    // all-negative but LEAST negative on cell 0's axis -> lands in cell 0
    // (argmax dot) with dot(anti, e1) < 0: exercises the score>0 guard
    // within the candidate cell, not just cell mismatch
    val anti = vec(i => if (i % 4 == 0) -0.5f else -1.0f)
    val ortho = vec(i => if (i % 4 == 1) 1.0f else 0.0f) // different cell
    val zero = vec(_ => 0.0f)
    val corpus = Seq(
      (1L, e1),      // verbatim leak of bench 100 -> contaminated by 100
      (2L, near),    // paraphrase neighbor -> contaminated by 100
      (3L, anti),    // anti-parallel: score > 0 guard keeps it clean
      (4L, ortho),   // other cell, never a candidate
      (5L, zero)     // zero vector: never contaminated
    ).toDF("vec_id", "embedding")
    val bench = Seq((100L, e1), (101L, zero))
      .toDF("vec_id", "embedding")
    val got = Decontamination.semanticContamination(
      corpus, bench, "vec_id", "embedding",
      Similarity.fixedCodebook(4, dims), simSqPpm = 810000L)
      .select("vec_id", "contaminated", "contaminant_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))))
      .toMap
    assert(got === Map(
      1L -> ((1L, Some(100L))), 2L -> ((1L, Some(100L))),
      3L -> ((0L, None)), 4L -> ((0L, None)), 5L -> ((0L, None))))
    // threshold monotonicity: raising the bar can only shrink the flag set
    val loose = Decontamination.semanticContamination(
      corpus, bench, "vec_id", "embedding",
      Similarity.fixedCodebook(4, dims), simSqPpm = 100000L)
      .where($"contaminated" === 1L).select("vec_id").as[Long].collect().toSet
    val strict = Decontamination.semanticContamination(
      corpus, bench, "vec_id", "embedding",
      Similarity.fixedCodebook(4, dims), simSqPpm = 999999L)
      .where($"contaminated" === 1L).select("vec_id").as[Long].collect().toSet
    assert(strict.subsetOf(loose))
  }
}
