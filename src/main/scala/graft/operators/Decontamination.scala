package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashFamily

import graft.functions.GraftFunctions.{shingleHashes, shingles}

/** Benchmark decontamination for training corpora: find corpus documents
  * that share word n-grams with a held-out benchmark / evaluation set so
  * they can be dropped before training — the standard n-gram-overlap
  * decontamination pass of LLM data pipelines. The reference has no
  * counterpart (no media or corpus tooling at all); this is extension
  * surface for the 100 TB training-data use case.
  *
  * Scale shape: the benchmark side is tiny relative to the corpus (eval
  * sets are megabytes against terabytes), so its distinct gram set is
  * BROADCAST; the corpus side explodes its grams and probes the broadcast
  * hash table MAP-SIDE — the exploded corpus rows are transient scan-side
  * work that never shuffles, and only the (rare) hits aggregate by doc.
  */
object Decontamination {

  /** Corpus documents sharing at least one word `n`-gram with `benchmark`,
    * with per-document hit counts: `n_hits` (gram occurrences, with
    * multiplicity) and `n_distinct_hits` (distinct gram strings). String
    * grams keep the pass oracle-replayable in ANSI SQL; at corpus scale
    * prefer [[contaminationHashed]], which ships 64-bit keys instead of
    * joined strings. */
  def contamination(corpus: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame = {
    val bench = benchmark
      .select(explode(shingles(col(textCol), n)).as("gram")).distinct()
    corpus
      // explode_OUTER: the inner form makes the optimizer infer a
      // size(shingles(text))>0 filter under the Generate that builds
      // the whole shingle array a second time per row (the
      // ml_bootstrap_ci lesson, PlanQualitySpec-pinned registry-wide).
      // The null gram rows outer emits for short docs die at the
      // gram equi-join — identical output at half the shingling.
      .select(col(idCol), explode_outer(shingles(col(textCol), n)).as("gram"))
      .join(broadcast(bench), "gram")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        countDistinct(col("gram")).as("n_distinct_hits"))
  }

  /** Winnowing-based decontamination (Schleimer 2003 fingerprints via
    * [[TextAnalysis.winnowFp]]): corpus documents sharing winnow
    * fingerprints with the benchmark, with the count of shared DISTINCT
    * fingerprints per document. Unlike the word-n-gram passes this
    * carries a GUARANTEE: any verbatim shared canonical substring of
    * ≥ k+w−1 characters leaves at least one shared fingerprint, and the
    * fingerprints hash the [a-z0-9] character stream — so re-flowing a
    * benchmark excerpt's whitespace, punctuation or case (the classic
    * contamination laundering that word-token shingles miss) cannot hide
    * the overlap. Index cost is ~2/(w+1) of the all-grams table.
    *
    * Scale shape: same as [[contamination]] — the benchmark fingerprint
    * set is tiny and BROADCAST, the corpus side is one kernel scan whose
    * exploded rows probe the broadcast map-side and only hits aggregate
    * per doc. explode_outer keeps the optimizer from re-running the
    * winnow kernel inside an inferred filter; the null rows short docs
    * emit die at the equi-join. */
  def contaminationWinnow(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String,
                          k: Int = 12, w: Int = 8): DataFrame = {
    val bench = TextAnalysis.winnowFp(benchmark, idCol, textCol, k, w)
      .select(explode_outer(col("fp")).as("f"))
      .where(col("f").isNotNull).distinct()
    TextAnalysis.winnowFp(corpus, idCol, textCol, k, w)
      .select(col(idCol), explode_outer(col("fp")).as("f"))
      .join(broadcast(bench), "f")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared_fps"))
  }

  /** Actionable contamination VERDICT per corpus document: the hit counts
    * of [[contamination]] joined back to every document's total gram
    * count, with `contaminated = 1` when more than `thresholdPct`% of the
    * document's gram occurrences appear in the benchmark — decided by
    * integer cross-multiplication (`n_hits · 100 > n_grams · pct`), so no
    * float ratio enters the compared output. Documents with no hits (or
    * fewer than `n` tokens) report zeros — the drop-list is the
    * `contaminated = 1` slice, the audit trail is the whole relation. */
  def contaminationVerdict(corpus: DataFrame, benchmark: DataFrame,
                           idCol: String, textCol: String, n: Int,
                           thresholdPct: Int): DataFrame = {
    val hits = contamination(corpus, benchmark, idCol, textCol, n)
    corpus
      // coalesce makes n_grams provably NON-NULL (null text -> 0 grams,
      // 0 hits -> clean): otherwise a downstream filter on `contaminated`
      // infers isnotnull(n_grams), which re-runs the whole shingle
      // kernel inside the Filter (the inferred-filter class
      // PlanQualitySpec sweeps for)
      .select(col(idCol),
        coalesce(size(shingles(col(textCol), n)).cast("long"), lit(0L))
          .as("n_grams"))
      .join(hits.select(col(idCol), col("n_hits")), Seq(idCol), "left_outer")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) * 100 >
          col("n_grams") * thresholdPct).cast("long").as("contaminated"))
  }

  /** Same contract at the 64-bit-hash level: grams travel as shingle
    * hashes (codegen'd [[org.apache.spark.sql.graft.ShingleHashes]],
    * per-doc distinct), so the broadcast table and the probe keys are
    * longs, not sentence-length strings. Emits `(id, n_distinct_hits)` —
    * equal to [[contamination]]'s `n_distinct_hits` up to 64-bit hash
    * collisions (equality is spec-pinned on the test corpus). XXH64 is the
    * at-scale default; under `HashFamily.Md5` a gram's key is its 16-hex
    * md5 prefix as a number, which any engine computes identically, so
    * the pass is hash-oracle-replayable end to end. */
  def contaminationHashed(corpus: DataFrame, benchmark: DataFrame,
                          idCol: String, textCol: String, n: Int,
                          family: HashFamily = HashFamily.Xxh64): DataFrame = {
    val bench = benchmark
      .select(explode(shingleHashes(col(textCol), n, family)).as("gh")).distinct()
    corpus
      .select(col(idCol), explode(shingleHashes(col(textCol), n, family)).as("gh"))
      .join(broadcast(bench), "gh")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_distinct_hits"))
  }

  /** SEMANTIC decontamination: a corpus row is contaminated iff some
    * benchmark EMBEDDING in its codebook cell is cosine-similar above
    * the threshold — the paraphrase-robust complement of the n-gram
    * passes above (a reworded eval question shares no shingles but sits
    * next to the original in embedding space; SemDeDup's mechanic,
    * Abbas et al. 2023, pointed across corpora instead of within one).
    *
    * EXACT integer math end to end, the [[Dedup.semanticDedup]] idiom
    * verbatim: milli-quantized vectors, integer dot products, the
    * similarity test cross-multiplied in decimal(38,0) — so the whole
    * pass replays in SQL (registry key `decontaminate_semantic`).
    * Output per corpus row: (vec_id, cell, contaminated 0/1,
    * contaminant_id = smallest flagging benchmark id, null when clean).
    * Zero vectors are never contaminated (score > 0 guard, the NaN-free
    * integer form of "0/0 cosine matches nothing").
    *
    * Scale shape: the benchmark side is an eval set — thousands of rows
    * against a 100 TB corpus — so its quantized cells BROADCAST and the
    * corpus probes map-side within its own cell; candidate count is
    * Σ_cell |corpus_cell|·|bench_cell| ≤ |corpus|·max_cell(bench):
    * LINEAR in the corpus, no pair blowup to collapse. */
  def semanticContamination(corpus: DataFrame, benchmark: DataFrame,
                            idCol: String, vecCol: String,
                            centroids: Seq[Seq[Long]],
                            simSqPpm: Long = 810000L): DataFrame = {
    require(simSqPpm >= 0 && simSqPpm <= 1000000L,
      "simSqPpm is cos² in parts-per-million: [0, 1000000]")
    import graft.functions.GraftFunctions.dotLong
    val c = corpus.select(col(idCol).cast("long").as("vec_id"),
      Similarity.quantizeMilli(col(vecCol)).as("iq"),
      Similarity.cellOf(col(vecCol), centroids).as("cell"))
    val b = benchmark.select(col(idCol).cast("long").as("bench_id"),
      Similarity.quantizeMilli(col(vecCol)).as("iq_b"),
      Similarity.cellOf(col(vecCol), centroids).as("cell"))
    val d = (x: Column) => x.cast("decimal(19,0)")
    val hits = c.join(broadcast(b), Seq("cell"))
      .withColumn("score", dotLong(col("iq"), col("iq_b")))
      .where(col("score") > 0 &&
        d(col("score")) * d(col("score")) * d(lit(1000000L)) >=
          d(lit(simSqPpm)) * d(dotLong(col("iq"), col("iq"))) *
            d(dotLong(col("iq_b"), col("iq_b"))))
      .groupBy("vec_id").agg(min("bench_id").as("contaminant_id"))
    c.select("vec_id", "cell")
      .join(hits, Seq("vec_id"), "left_outer")
      .select(col("vec_id"), col("cell"),
        when(col("contaminant_id").isNotNull, 1L).otherwise(0L)
          .as("contaminated"),
        col("contaminant_id"))
  }
}
