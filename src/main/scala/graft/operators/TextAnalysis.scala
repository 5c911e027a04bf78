package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.Checkpoints.PinOps
import graft.Observed

/** Text-corpus analysis operators: language identification (marker-word
  * heuristic), quality scoring, token counting, and content fingerprinting.
  * All row-local expressions — the whole surface runs scan-side with zero
  * shuffles, which is what makes it viable as a 100 TB filter pass.
  */
object TextAnalysis {

  /** Marker stopwords per language. Tiny fixed lists — this is the n-gram /
    * stopword-hit heuristic, not a trained model; deterministic and
    * SQL-expressible so the oracle can replay it. */
  val markers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "is", "with"),
    "es" -> Seq("el", "la", "de", "es", "con"),
    "de" -> Seq("der", "die", "und", "ist", "mit"),
    "fr" -> Seq("le", "la", "et", "est", "avec"))

  private def score(toks: Column, words: Seq[String]): Column =
    words.map(w => when(array_contains(toks, w), 1).otherwise(0))
      .reduce(_ + _)

  /** Minimum Han-script characters for a zh call — CJK text isn't
    * whitespace-segmented, so marker tokens can't see it; script detection
    * covers it instead. */
  private val hanThreshold = 3

  /** Predicted language per document: Han-script character detection for
    * zh (dominant when present), else argmax of marker-hit scores with a
    * fixed precedence order for ties, "und" (undetermined) when nothing
    * hits. Output: id, per-language scores, n_han, predicted lang. */
  def languageId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = array_distinct(tokens(col(textCol)))
    val scored = docs.select(
      (col(idCol) +: markers.map { case (lang, ws) =>
        score(toks, ws).as(s"score_$lang")
      }) :+
        // codegen'd Han code-point counter == the oracle's RE2
        // length(regexp_replace(text, '[^\p{Han}]', '', 'g'))
        hanCount(col(textCol)).cast("long").as("n_han"): _*)
    val best = markers.map { case (lang, _) => col(s"score_$lang") }
      .reduce((a, b) => greatest(a, b))
    // first language (in declared precedence) achieving the max score
    val markerPred = markers.foldRight(lit("und")) { case ((lang, _), els) =>
      when(best > 0 && col(s"score_$lang") === best, lang).otherwise(els)
    }
    scored.withColumn("lang_pred",
      when(col("n_han") >= hanThreshold, "zh").otherwise(markerPred))
  }

  /** Per-document (gram, count) pairs for character n-grams of lengths
    * 1..n — the classic langid feature mix (Cavnar–Trenkle): short grams
    * carry the signal for unsegmented scripts (CJK) and small samples,
    * longer grams disambiguate related Latin languages. Codegen'd custom
    * expression ([[org.apache.spark.sql.graft.CharNgramCounts]]); counts
    * ride in the row, so downstream plans explode distinct grams, never
    * one row per occurrence. */
  private def gramCounts(c: Column, n: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.CharNgramCounts(
        org.apache.spark.sql.GraftBridge.expression(c), n))

  /** Fit per-language character-n-gram profiles from a LABELED sample:
    * top-`topK` grams per language with their log relative frequency.
    * Distributed fit — one explode + two aggregations; the result is tiny
    * (topK × #languages rows) and meant to be broadcast/persisted.
    *
    * Alongside the double `logp`, emits `logp_q` = round(logp × 1e6) as a
    * BIGINT (micro-nats). Scoring in integer micro-nats makes the whole
    * classifier combine-order-free and cross-engine hash-exact: a double
    * log-prob SUM depends on float combine order, but an integer sum does
    * not, and the 1e-6 quantization is far below any real decision margin
    * (ulp-level ln() differences between libms shift the rounded value
    * only when ln lands within ~1e-10 of a quantization boundary). */
  def fitLanguageProfiles(docs: DataFrame, textCol: String, langCol: String,
                          n: Int = 3, topK: Int = 300): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(col(langCol).as("lang"),
        explode(gramCounts(col(textCol), n)).as("e"))
      .select(col("lang"), col("e.g").as("g"), col("e.cnt").as("c0"))
      .groupBy("lang", "g").agg(sum("c0").as("cnt"))
    val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("g").asc)
    val top = counts.withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= topK).drop("_rn")
    val totals = top.groupBy("lang").agg(sum("cnt").as("tot"))
    top.join(totals, "lang")
      .select(col("lang"), col("g"), log(col("cnt") / col("tot")).as("logp"),
        round(log(col("cnt") / col("tot")) * lit(1e6))
          .cast("long").as("logp_q"))
  }

  /** Per-JVM cache of FITTED language profiles, keyed by the owning
    * SparkSession + a caller key that must uniquely identify the input
    * corpus (the `Dedup.ngramClustersFor` cache contract): the fit is a
    * learned, bounded (topK × #languages rows) artifact built once per
    * dataset; classification stays per-query compute. */
  private val profileCache = new graft.SessionMemo[String, DataFrame]()

  def languageProfilesFor(docs: DataFrame, textCol: String, langCol: String,
                          key: String): DataFrame =
    profileCache.getOrCompute(docs.sparkSession, key)(
      fitLanguageProfiles(docs, textCol, langCol).pin())

  /** Classify documents against fitted [[fitLanguageProfiles]] profiles:
    * per (doc, language), the sum of matched grams' log-probs plus a
    * floor penalty per unmatched gram; argmax wins (exact score ties break
    * toward the lexicographically greater language name — deterministic).
    * Docs whose grams match no profile at all → "und". The profile
    * table is broadcast; the corpus is scanned once and shuffled only on
    * the doc id for the scoring aggregation.
    *
    * Scoring runs entirely in integer micro-nats (`logp_q`, see the fit):
    * `lang_score_q` is an exact BIGINT, independent of float combine
    * order, so the whole classifier is replayable hash-exactly by an
    * ANSI-SQL oracle. `floorLogp` is quantized the same way. */
  def classifyLanguage(docs0: DataFrame, idCol: String, textCol: String,
                       profiles: DataFrame, n: Int = 3,
                       floorLogp: Double = -12.0): DataFrame = {
    // per-doc gram extraction is the expensive kernel; single-row-group
    // sources would otherwise run it on one task (graft.Fanout)
    val docs = graft.Fanout.maybe(docs0, idCol)
    val floorQ = math.round(floorLogp * 1e6)
    // (doc, gram, count) comes pre-aggregated out of the expression: the
    // join and every shuffle see distinct grams per doc, not occurrences.
    // The per-doc gram TOTAL (the unmatched floor penalty's denominator)
    // is a scan-side codegen'd scalar on ITS OWN pruned branch
    // (CharNgramTotal == sum(cnt) by construction, TextAnalysisSpec-
    // pinned): the prior shape derived it from the exploded pairs — a
    // second explode + 7M-row aggregation. Do NOT fold the total into
    // the explode's own projection: the optimizer re-sites the scalar
    // ABOVE the Generate (once per gram row, not per doc) — measured
    // 10x WORSE. And the lambda-based per-row total was 12x worse still
    // (the HOF dropped the whole projection out of codegen).
    val total = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.CharNgramTotal(
        org.apache.spark.sql.GraftBridge.expression(col(textCol)), n))
    val grams = docs.select(col(idCol).as("_id"),
      explode(gramCounts(col(textCol), n)).as("e"))
      .select(col("_id"), col("e.g").as("g"), col("e.cnt").as("cnt"))
    val nGrams = docs.select(col(idCol).as("_id"), total.as("n_grams"))
    val best = grams.join(broadcast(profiles), "g")
      .groupBy(col("_id"), col("lang"))
      .agg(sum(col("logp_q") * col("cnt")).as("logp_sum_q"),
        sum("cnt").as("n_match"))
      .join(nGrams, "_id")
      .withColumn("score_q",
        col("logp_sum_q") + (col("n_grams") - col("n_match")) * lit(floorQ))
      .groupBy("_id")
      .agg(max_by(struct(col("lang"), col("score_q")),
        struct(col("score_q"), col("lang"))).as("b"))
      .select(col("_id"), col("b.lang").as("lang_profile"),
        col("b.score_q").as("lang_score_q"))
    docs.select(col(idCol).as("_id")).distinct()
      .join(best, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol),
        coalesce(col("lang_profile"), lit("und")).as("lang_profile"),
        col("lang_score_q"))
  }

  /** Per-document top-`k` distinctive terms by TF-IDF (smoothed idf
    * `ln((N+1)/(df+1))`): one tokenize pass, a (doc, term) aggregation, a
    * term-keyed document-frequency join, and a per-doc ranking window —
    * the corpus stays tokenized (never raw text) through every shuffle,
    * and the scalar corpus size rides as a broadcast, so the shape holds
    * at any N. Ties break by term (deterministic). Output carries the
    * integer tf/df inputs alongside the double tfidf so exact (hash-level)
    * cross-engine comparison can use the integers. */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
               k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    // pinned lazily: the df branch and the scoring join both consume the
    // (doc, term) counts, and column pruning gives the two subtrees
    // DIFFERENT exchange projections, so exchange reuse never fired and
    // the corpus tokenized twice (r19; one tokenize pass now)
    val tf = toks.groupBy("_id", "term").agg(count(lit(1)).as("tf"))
      .pinLazy()
    val dfTab = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val total = docs.agg(count_distinct(col(idCol)).as("n_docs"))
    val w = Window.partitionBy("_id")
      .orderBy(col("tfidf").desc, col("term").asc)
    tf.join(dfTab, "term")
      .crossJoin(broadcast(total))
      .withColumn("tfidf",
        col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("_id").as(idCol), col("rank").cast("long").as("rank"),
        col("term"), col("tf"), col("df"), col("tfidf"))
  }

  /** Quality metrics: char/token counts, alpha and punctuation counts,
    * stopword hits, and a keep/drop flag from fixed thresholds — the shape
    * of a C4/Gopher-style quality filter, all scan-side. */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val enStop = markers.toMap.apply("en")
    val stopHits = aggregate(toks, lit(0),
      (acc, w) => acc + when(w.isin(enStop: _*), 1).otherwise(0))
    docs.select(
      col(idCol),
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      length(regexp_replace(t, "[^\\p{L}]", "")).as("n_alpha"),
      length(regexp_replace(t, "[\\p{L}\\p{N}\\s]", "")).as("n_punct"),
      stopHits.as("n_stopwords"))
      .withColumn("mean_token_len",
        col("n_alpha").cast("double") / col("n_tokens"))
      .withColumn("quality_ok",
        col("n_tokens") >= 10 && col("mean_token_len") >= 2.0 &&
          col("n_punct") * 5 <= col("n_chars"))
  }

  /** Repetition-based quality stats (the Gopher-rules shape): per document,
    * how much of it is duplicated lines and how much is one bigram repeated
    * over and over — the two classic signatures of boilerplate and spam in
    * web-scale training corpora.
    *
    * Everything is computed ROW-LOCALLY with array expressions — no explode,
    * no shuffle: the whole pass is a scan-side filter at any corpus size.
    * The top-bigram multiplicity is the longest equal-run of the SORTED
    * bigram array (one O(n log n) sort + one linear fold per document) —
    * the naive per-distinct-value count is O(n²) in document length and
    * measured 400+ s over the sf0.1 corpus vs sub-second for this shape.
    * All emitted metrics are integers plus a boolean, so the cross-engine
    * comparison is hash-exact; the fractional thresholds are evaluated by
    * integer cross-multiplication (dup_line_frac > 0.30 ⇔ 10·dup > 3·lines).
    *
    * `repetitive` = duplicate-line fraction > 0.30 OR top-bigram fraction
    * > 0.20 (Gopher's rep-removal band). */
  def repetitionStats(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol), repetitionSignals(col(textCol)).as("_r"))
      .select(
        col(idCol),
        col("_r.n_lines").as("n_lines"),
        col("_r.n_distinct_lines").as("n_distinct_lines"),
        col("_r.n_bigrams").as("n_bigrams"),
        col("_r.top_bigram_count").as("top_bigram_count"))
      .withColumn("repetitive",
        (col("n_lines") > 0 &&
          (col("n_lines") - col("n_distinct_lines")) * 10 > col("n_lines") * 3) ||
        (col("n_bigrams") > 0 &&
          col("top_bigram_count") * 10 > col("n_bigrams") * 2))

  /** Token counts under two tokenizers: plain whitespace and a BPE-ish
    * regex (letter runs / digit runs / single punctuation marks), the
    * standard pre-tokenization used to estimate LLM token budgets. */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      size(tokens(col(textCol))).as("n_ws_tokens"),
      size(regexp_extract_all(lower(col(textCol)),
        lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"))

  /** PII pass for training corpora: detect and redact email addresses and
    * phone-shaped digit runs, emitting match counts alongside the scrubbed
    * text. Row-local regexes (codegen'd `regexp_*`), zero shuffles — a
    * scan-side rewrite at any corpus size. The patterns stay inside the
    * portable intersection of Java and RE2 regex dialects so an ANSI-SQL
    * oracle replays the pass byte-for-byte; emails are redacted before
    * phones so digits inside an address are never double-counted. */
  val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val phoneRe = "\\+?[0-9][0-9\\- ]{6,}[0-9]"

  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val deEmailed = regexp_replace(col(textCol), emailRe, "<EMAIL>")
    docs.select(
      col(idCol),
      size(regexp_extract_all(col(textCol), lit(emailRe), lit(0)))
        .cast("long").as("n_emails"),
      size(regexp_extract_all(deEmailed, lit(phoneRe), lit(0)))
        .cast("long").as("n_phones"),
      regexp_replace(deEmailed, phoneRe, "<PHONE>").as("redacted"))
  }

  /** Content fingerprints: MD5 of normalized text (exact-dup key) plus a
    * 64-bit chained rolling hash over the token stream (order-sensitive
    * content signature), both row-local. The rolling fold re-hashes the
    * accumulator with each token (`h = xxhash64(h, token)`) instead of a
    * polynomial multiply — same signature properties, no long overflow
    * under ANSI mode. */
  def fingerprints(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rolling = aggregate(tokens(col(textCol)), lit(0L),
      (acc, t) => xxhash64(acc, t))
    docs.select(
      col(idCol),
      fingerprint(col(textCol)).as("md5_fp"),
      rolling.as("rolling_fp"))
  }

  /** The per-doc winnow set as a DataFrame (idCol, fp): one codegen'd
    * [[org.apache.spark.sql.graft.WinnowFingerprints]] kernel call per
    * row. The declarative HOF form (a `transform` of md5 grams + a
    * `transform` of array_min(slice) windows) ran interpreted AND
    * re-evaluated the canonicalizing regex per lambda element — O(L²)
    * regex work per document, ~20 s per registry query at sf0.1; the
    * kernel is one linear byte pass (see its scaladoc). fp is sorted
    * ascending by the kernel's contract — the digest below relies on it. */
  private[operators] def winnowFp(docs: DataFrame, idCol: String,
                                  textCol: String,
                                  k: Int, w: Int,
                                  extra: Seq[String] = Nil): DataFrame =
    docs.select((col(idCol) +: extra.map(col)) :+
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.graft.WinnowFingerprints(
          org.apache.spark.sql.GraftBridge.expression(
            coalesce(col(textCol), lit(""))), k, w)).as("fp"): _*)

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003 — the MOSS
    * algorithm): per document, the distinct set of window-minimum char
    * k-gram hashes. Winnowing GUARANTEES any shared substring of length
    * ≥ k + w − 1 chars leaves at least one shared fingerprint, while
    * sampling only ~2/(w+1) of positions — the index-size/recall contract
    * that makes document-similarity indexes affordable at corpus scale
    * (the all-shingles table is 1/density times bigger for the same
    * guarantee).
    *
    * Determinism: text canonicalizes to its [a-z0-9] character stream
    * (whitespace/punct-insensitive, the classic treatment), gram hashes
    * are 16-hex-char md5 prefixes (string order is ASCII-hex — identical
    * in the SQL twin), window-min per sliding window, then distinct. All
    * row-local expressions: one scan, zero exchanges. Output:
    * (idCol, n_fingerprints, fp_digest = md5 of the comma-joined sorted
    * fingerprint set — a stable whole-set signature). */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int = 5, w: Int = 4): DataFrame =
    winnowFp(docs, idCol, textCol, k, w)
      .select(col(idCol),
        size(col("fp")).cast("long").as("n_fingerprints"),
        // fp arrives sorted (kernel contract, spec-pinned) — no sort_array
        md5(concat_ws(",", col("fp")).cast("binary"))
          .as("fp_digest"))

  private val winnowClusterCache =
    new graft.SessionMemo[(String, Int, Int, Int, Int), DataFrame]()

  /** Session-memoized winnow cluster closure: connected components over
    * [[winnowPairs]]' graph — the winnowing complement of the Jaccard
    * closure (`Dedup.ngramClustersFor`), same memo discipline (the CC
    * label table is tiny — pair-graph nodes only — and
    * `connectedComponents` returns an eagerly checkpointed frame). */
  def winnowClustersFor(docs: DataFrame, idCol: String, textCol: String,
                        k: Int, w: Int, minShared: Int, maxDf: Int,
                        key: String): DataFrame =
    winnowClusterCache.getOrCompute(docs.sparkSession,
      (key, k, w, minShared, maxDf)) {
      Dedup.connectedComponents(
        winnowPairs(docs, idCol, textCol, k, w, minShared, maxDf)
          .select(col("id_a"), col("id_b")), "id_a", "id_b")
    }

  private val winnowRefCache =
    new graft.SessionMemo[(String, Int, Int, Int), DataFrame]()

  /** Incremental winnow dedup: per NEW document, how many REFERENCE
    * documents share ≥ `minShared` winnow fingerprints, plus the drop
    * verdict — the dedup-on-arrival gate (`dedup_incremental`'s contract)
    * under the MOSS guarantee instead of Jaccard. With `refKey` the
    * reference side's df-capped exploded fingerprint table is built once
    * per corpus generation (the [[bigramLmFor]] memo contract) — an
    * arriving batch pays only its own kernel scan plus the fingerprint
    * equi-join, whose fan-out the reference-side df>maxDf drop bounds.
    * The join hash-partitions on the fingerprint (the reference index is
    * corpus-sized — never broadcast); only (new, ref) hit pairs
    * aggregate. Output: (new_id, n_matches, dropped). */
  def winnowIncrementalVerdict(newDocs: DataFrame, refDocs: DataFrame,
                               idCol: String, textCol: String,
                               k: Int = 5, w: Int = 4, minShared: Int = 8,
                               maxDf: Int = 20,
                               refKey: Option[String] = None): DataFrame = {
    def exploded(d: DataFrame) = winnowFp(d, idCol, textCol, k, w)
      .select(col(idCol).as("doc"), explode_outer(col("fp")).as("f"))
    def coldRef = {
      // localCheckpoint, not persist: the uncached path runs once per
      // streaming micro-batch, and a CacheManager entry is never GC'd —
      // checkpoint blocks free with the RDD (the connectedComponents
      // rule; spark.graft.checkpoint.mode=reliable is the cluster form).
      // hot is NOT force-broadcast: its size grows with corpus
      // boilerplate, so the planner (AQE) picks broadcast only while it
      // actually fits — the Dedup.ngramJaccardPairsFromGroups treatment
      val ex = exploded(refDocs).pin()
      // observed df-cap drop, same contract (and the same build-time
      // delivery under the memoized pin) as winnowPairs' metric
      val hot = Observed.observe(
          ex.groupBy("f").agg(count(lit(1)).as("df")), "winnow_ref_df_cap",
          sum(when(col("df") > maxDf, 1L).otherwise(0L))
            .as("dropped_fingerprints"),
          sum(when(col("df") > maxDf, col("df")).otherwise(0L))
            .as("dropped_postings"))
        .where(col("df") > maxDf).select("f")
      ex.join(hot, Seq("f"), "left_anti")
    }
    val ref = refKey match {
      case Some(key) => winnowRefCache.getOrCompute(newDocs.sparkSession,
        (key, k, w, maxDf))(coldRef.pin())
      case None => coldRef
    }
    val matches = exploded(newDocs)
      .join(ref.select(col("f"), col("doc").as("rid")), "f")
      .groupBy(col("doc").as("new_id"), col("rid"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .groupBy("new_id").agg(count(lit(1)).as("m"))
    newDocs.select(col(idCol).as("new_id"))
      .join(matches, Seq("new_id"), "left_outer")
      .select(col("new_id"),
        coalesce(col("m"), lit(0L)).as("n_matches"),
        (coalesce(col("m"), lit(0L)) > 0).cast("long").as("dropped"))
  }

  /** Winnowing-candidate pairs: documents sharing at least `minShared`
    * winnow fingerprints — the MOSS match step. Fingerprints hotter than
    * `maxDf` docs drop before the pair join (boilerplate n-grams; same
    * recall-trading cap as the shingle family — a dropped hot gram can
    * hide a pair only if ALL its shared grams are that common); the drop
    * is counted in the `metric` observed metric (default `winnow_df_cap`:
    * distinct fingerprints dropped + the posting rows they carried), so a
    * production run sees the recall it traded. `maxDf` is an ABSOLUTE
    * cap and therefore calibrated to a corpus size: SCALE.md's round-15
    * caps table measured the base-tuned default dropping
    * near-everything after 3× corpus growth — scale it with expected
    * per-fingerprint duplication (copies × base-tuned df) and watch the
    * observed metric. The cap doubles as the operator's precision
    * filter: df-uncapped, common-vocabulary grams make the ≥ minShared
    * relation degenerate (7.5M of 12.5M possible pairs on the test
    * corpus), which is why df-culling is part of the published
    * winnowing method rather than an optimization.
    *
    * `maxDfPerMille` (> 0) is the sizing rule OPERATIONALIZED: the
    * effective cap becomes `max(maxDf, n_docs·perMille/1000)` with the
    * corpus size derived in-plan from the same pinned scan (no driver
    * action) — a relative cap survives corpus growth where the absolute
    * one degenerates (SCALE.md's round-15 caps table). Identical texts are
    * exact-collapsed before the join (r16; see the body comment), so
    * join fan-out is bounded by DISTINCT-TEXT df² per fingerprint —
    * duplication inflates only the expanded output, never the join; the
    * winnowed table is ~2/(w+1) the size of the all-grams table for the
    * same ≥ k+w−1 substring guarantee. Output: (id_a < id_b, n_shared). */
  def winnowPairs(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 5, w: Int = 4, minShared: Int = 8,
                  maxDf: Int = 20,
                  metric: String = "winnow_df_cap",
                  maxDfPerMille: Int = 0): DataFrame = {
    // EXACT-COLLAPSE first (the PPJoin treatment, applied here in r16):
    // identical texts form one group keyed by md5(text) — the winnow
    // kernel runs once per DISTINCT text, the pair join runs on group
    // representatives with document-weighted df, and clone pairs
    // re-expand from group membership afterward. Output-identical to the
    // uncollapsed form (fp is a function of the text, so same text ⟹
    // same fingerprint set ⟹ same cold-shared count), but the join cost
    // no longer grows with duplication: at the 100× identical-copy
    // blowup the uncollapsed relative-cap join is df²-per-fingerprint
    // (≥10⁸ rows per kept clone gram — unrunnable), while the collapsed
    // form pairs 5k distinct texts and cross-expands members, which is
    // the true output size and nothing more. Costs ~three extra
    // PROJECTED scans of the input (`keyed` feeds the heavy `groups`
    // aggregate once and the light membership self-join twice — the two
    // light scans read only (id, md5) column slices) and one text-keyed
    // exchange with map-side partial aggregation (≈ one copy of each
    // distinct text shuffles).
    val norm = coalesce(col(textCol).cast("string"), lit(""))
    val keyed = docs.select(col(idCol).as("doc"), norm.as("_t"),
      md5(norm.cast("binary")).as("tkey"))
    // The md5 key exists ONLY inside the two collapse aggregates below;
    // every downstream relation is keyed by the group REPRESENTATIVE
    // (min doc id) instead. The first cut kept the 32-char hex key on
    // the pair relation and its expansion joins — on a degenerate
    // corpus (the 45M-pair uncapped arm of SCALE.md's round-15 caps
    // table) those three fat exchanges carried 3-4x the bytes of long
    // keys and exhausted the box's spill disk; rep-long keys put the uncapped ground-truth arm
    // back inside the budget and shrink every production shuffle too.
    // first(_t) is order-agnostic here: every row under a tkey carries
    // the identical text (md5 equality = content identity, the house
    // convention); n = document weight of the group
    val groups = keyed.groupBy(col("tkey"))
      .agg(min(col("doc")).as("rep"), first(col("_t")).as("_t"),
        count(lit(1)).as("n"))
      .drop("tkey")
    // membership (rep, doc) — a LIGHT second aggregate over (tkey, doc)
    // + self-join recovers each doc's representative without re-running
    // the heavy text-carrying aggregate. NOT materialized (r19 A/B):
    // this table is one row per DOCUMENT, so pinning it scales with the
    // corpus, while its recompute is two column-sliced scans that AQE
    // overlaps with the kernel — pinning it measured worse at the 100×
    // identical-copy blowup and bought nothing below it.
    val light = keyed.select(col("tkey"), col("doc"))
    val members = light
      .join(light.groupBy(col("tkey")).agg(min(col("doc")).as("rep")),
        Seq("tkey"))
      .select(col("rep"), col("doc"))
    // the exploded fingerprint table is consumed by the df aggregate and
    // both pair-join sides — materialize the winnow scan once, as a LAZY
    // LINEAGE PIN (localCheckpoint; conf-routed to reliable checkpoints
    // via spark.graft.checkpoint.mode). History: r14 chose persist() for
    // this table, r16 added a per-session generation rotation so a
    // long-lived driver would not accumulate CacheManager entries
    // (they are never GC'd), and r18 found the rotation was a no-op that
    // actually DROPPED the cache from the second call per session on
    // (identical plans: CacheManager registers by plan, so each call's
    // persist was "already cached" and the rotation then unpersisted the
    // only entry). r19 re-measured all the arms back-to-back — persist+
    // rotation (≈ uncached from call 2 on), eager pin, lazy pin, none —
    // at sf0.1, 10× and 100× identical-copy blowups: the lazy pin of
    // THIS collapsed-size table won at every scale (sf0.1 best-of-5
    // 1.79→1.27 s winnowing, 10× 2.23→1.33 s; 100× within noise), with
    // no CacheManager state at all, so the whole rotation machinery is
    // gone. Unlike a working persist, a per-call pin also cannot leak
    // scan reuse ACROSS bench reps (each call materializes its own
    // blocks, GC'd with the plan reference).
    // explode_OUTER: the inner form lets InferFiltersFromGenerate plant a
    // size(fp)>0 Filter that re-runs the whole winnow kernel (L md5s + L
    // window minima) once more per row — the inferred-generator-filter
    // class PlanQualitySpec sweeps for. The null f rows outer emits for
    // short texts die at the pair equi-join (and never match `hot`).
    // hot is NOT force-broadcast (it grows with corpus boilerplate; let
    // AQE broadcast only while it fits — measured free at sf0.1 either
    // way in the same A/B).
    val raw = winnowFp(groups, "rep", "_t", k, w, extra = Seq("n"))
      .select(col("rep"), col("n"), explode_outer(col("fp")).as("f"))
    val ex = raw.pinLazy()
    // the df>maxDf drop is OBSERVED, never silent (the capBuckets rule):
    // at 100× every clone/boilerplate fingerprint exceeds the cap, so a
    // production run must be able to see the recall it traded —
    // `dropped_fingerprints` distinct fps dropped, `dropped_postings`
    // the DOCUMENT-weighted posting rows they carried (the share of the
    // uncollapsed index shed — weighting by n keeps the metric's meaning
    // identical to the pre-collapse form)
    // effective cap: the absolute literal, or (relative mode) its max
    // with n_docs·perMille/1000 — n_docs = one COUNT of the materialized
    // membership table (exactly one row per document, so count(*) ≡ the
    // Σ-of-group-weights the first cut derived by DISTINCTing the
    // exploded 424k-row fingerprint table: a full dedup exchange paid
    // for a 1-row answer, r18) via a broadcast 1-row cross join, lazy
    val grouped0 = ex.groupBy("f").agg(sum(col("n")).as("df"))
    val (grouped, cap) =
      if (maxDfPerMille <= 0) (grouped0, lit(maxDf.toLong))
      else (grouped0.crossJoin(broadcast(
        members.agg(count(lit(1)).as("_ndocs")))),
        greatest(lit(maxDf.toLong),
          expr(s"_ndocs * $maxDfPerMille div 1000")))
    // the hot list pins EAGERLY: `cold` is consumed by three downstream
    // branches, and an unpinned `hot` would replicate its CollectMetrics
    // subtree per branch — the duplicated same-name observe nodes stop
    // delivering the metric once `ex` is a lineage pin (measured r19).
    // Eager, not lazy, because the observed-metric row is read when the
    // pin's QueryExecution completes — a lazy pin fires that event
    // before any task has updated the aggregation (metric reads 0). The
    // eager pin materializes the winnow kernel + df aggregate at call
    // time and delivers the metric exactly once, on this execution.
    // The pin runs the observe job at build time and cuts CollectMetrics
    // from the returned plan, so the metric reaches Observed.run callers
    // through Observed.observe's build-scoped Observation.
    val hot = Observed.observe(grouped, metric,
        sum(when(col("df") > cap, 1L).otherwise(0L))
          .as("dropped_fingerprints"),
        sum(when(col("df") > cap, col("df")).otherwise(0L))
          .as("dropped_postings"))
      .where(col("df") > cap).select("f")
      .pin()
    val cold = ex.join(hot, Seq("f"), "left_anti")
    // representative-level shared-cold counts: cross-group pairs from
    // the equi-join (tkey order dedupes the unordered pair), same-group
    // counts from a plain per-key aggregate (two identical texts share
    // exactly the text's cold fingerprint set; null f = empty fp rows
    // are excluded, matching the equi-join's null semantics)
    val repPairs = cold.select(col("f"), col("rep").as("ra"))
      .join(cold.select(col("f"), col("rep").as("rb")), "f")
      .where(col("ra") < col("rb"))
      .groupBy("ra", "rb")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    val selfShared = cold.where(col("f").isNotNull)
      .groupBy(col("rep"))
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
    // expansion: members × members per qualifying group/pair — the true
    // clone-pair relation, generated directly instead of through the
    // fingerprint join
    val crossPairs = repPairs
      .join(members.select(col("rep").as("ra"), col("doc").as("doc_a")),
        Seq("ra"))
      .join(members.select(col("rep").as("rb"), col("doc").as("doc_b")),
        Seq("rb"))
      .select(least(col("doc_a"), col("doc_b")).as("id_a"),
        greatest(col("doc_a"), col("doc_b")).as("id_b"), col("n_shared"))
    val withinPairs = selfShared
      .join(members.select(col("rep"), col("doc").as("doc_a")), Seq("rep"))
      .join(members.select(col("rep"), col("doc").as("doc_b")), Seq("rep"))
      .where(col("doc_a") < col("doc_b"))
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        col("n_shared"))
    crossPairs.unionAll(withinPairs)
  }

  // ---- decision columns shared with the curation funnel ----------------
  // Each mirrors its report operator's published decision EXACTLY (the
  // agreement is spec-pinned), so the funnel is one scan over the corpus
  // instead of a join of four report outputs.

  /** [[qualityScore]]'s `quality_ok` as a single column. */
  /** The quality gate as a standalone predicate — public so pipelines can
    * filter on it without materializing the full [[qualityScore]] report
    * (same formula; the report stays the audit form). */
  def qualityOk(textCol: Column): Column = qualityOkCol(textCol)

  private[operators] def qualityOkCol(t: Column): Column = {
    val toks = tokens(t)
    val nAlpha = length(regexp_replace(t, "[^\\p{L}]", ""))
    val nPunct = length(regexp_replace(t, "[\\p{L}\\p{N}\\s]", ""))
    size(toks) >= 10 && nAlpha.cast("double") / size(toks) >= 2.0 &&
      nPunct * 5 <= length(t)
  }

  /** [[repetitionStats]]'s `repetitive` as a single column. */
  private[operators] def repetitiveCol(t: Column): Column = {
    val r = repetitionSignals(t)
    (r.getField("n_lines") > 0 &&
      (r.getField("n_lines") - r.getField("n_distinct_lines")) * 10 >
        r.getField("n_lines") * 3) ||
      (r.getField("n_bigrams") > 0 &&
        r.getField("top_bigram_count") * 10 > r.getField("n_bigrams") * 2)
  }

  /** [[piiScrub]]'s total match count as a single column. */
  private[operators] def piiHitsCol(t: Column): Column =
    size(regexp_extract_all(t, lit(emailRe), lit(0))).cast("long") +
      size(regexp_extract_all(regexp_replace(t, emailRe, "<EMAIL>"),
        lit(phoneRe), lit(0))).cast("long")

  /** [[languageId]]'s `lang_pred` from ALREADY-PROJECTED inputs: `toksD`
    * must be a bound column holding `array_distinct(tokens(text))` and
    * `nHan` one holding `hanCount(text)`. The marker scores reference
    * `toksD` ~20x (4 langs x 5 words, inside when-branches where codegen
    * subexpression elimination cannot help) — passing a raw expression
    * here would re-tokenize the document per reference; an attribute read
    * is free. */
  private[operators] def langPredFrom(toksD: Column, nHan: Column): Column =
    langPredFromScores(
      markers.map { case (lang, ws) => lang -> score(toksD, ws) }, nHan)

  /** [[langPredFrom]] from ALREADY-PROJECTED score columns: the argmax
    * chain references every score in `greatest()` AND once per
    * when-branch, so callers on a hot path must pass attribute reads
    * (project `score(toksD, ws)` once per language first) — inline score
    * expressions get duplicated ~5x each, outside codegen subexpression
    * elimination (when-branches), which measured 4x the whole curation
    * funnel's cost at sf1. */
  private[operators] def langPredFromScores(scores: Seq[(String, Column)],
                                            nHan: Column): Column = {
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val markerPred = scores.foldRight(lit("und")) { case ((lang, sc), els) =>
      when(best > 0 && sc === best, lang).otherwise(els)
    }
    when(nHan >= hanThreshold, "zh").otherwise(markerPred)
  }

  /** [[languageId]]'s `lang_pred` as a single column — ONLY for contexts
    * that evaluate it once; see [[langPredFrom]] for the hot path. */
  private[operators] def langPredCol(t: Column): Column =
    langPredFrom(array_distinct(tokens(t)), hanCount(t))

  /** Corpus curation FUNNEL: the composite keep/drop pipeline every
    * training-data team runs, with per-stage retention accounting. Stages
    * in order — a document is charged to the FIRST stage it fails:
    *
    *   1. quality     — [[qualityScore]]'s `quality_ok`
    *   2. repetition  — not [[repetitionStats]]-`repetitive`
    *   3. pii         — zero email/phone matches ([[piiScrub]])
    *   4. langid      — [[languageId]] prediction agrees with the corpus's
    *                    declared language column
    *
    * Output: one row per stage — (stage_no, stage, n_in, n_dropped,
    * n_out), with n_in(k) = n_out(k-1); all counts BIGINT so the
    * cross-engine compare is hash-exact.
    *
    * Scale shape: all four signals are row-local expressions computed in
    * ONE pass over the corpus (no joins of report outputs), followed by a
    * single-row global aggregate and a literal 4-row expansion — the whole
    * funnel is a scan plus kilobytes. */
  def curationFunnel(docs0: DataFrame, idCol: String, textCol: String,
                     langCol: String): DataFrame = {
    // the four stage signals are the engine's heaviest row-local battery;
    // fan small scans out so they don't run single-task (graft.Fanout)
    val docs = graft.Fanout.maybe(docs0, idCol)
    val t = col(textCol)
    val stageNames = Seq("quality", "repetition", "pii", "langid")
    // Evaluate each stage signal EXACTLY ONCE per row, as its own
    // projected boolean, and only then fold into the first-fail index.
    // Referencing the signal expressions inside a when-chain (or worse,
    // inside each per-stage sum) re-evaluates the expensive trees —
    // conditional branches sit outside codegen subexpression elimination;
    // measured 10x the single-pass cost at sf0.1. The langid stage's
    // marker scoring references the distinct-token array ~20x, so that
    // array (and the Han count) is ALSO projected first and the
    // prediction built from attribute reads in a second projection.
    // Stage 2 projects each marker SCORE exactly once from the _td
    // attribute ([[languageId]]'s shape): building the prediction from
    // inline score expressions duplicates every score into the greatest()
    // AND each when-branch comparison (~100 interpreted array_contains
    // per row — measured 4x the whole funnel's cost at sf1); from
    // attribute reads the argmax chain is free.
    val flagged = docs
      .select(
        qualityOkCol(t).as("_p0"),
        (!repetitiveCol(t)).as("_p1"),
        (piiHitsCol(t) === 0L).as("_p2"),
        array_distinct(tokens(t)).as("_td"),
        hanCount(t).as("_nh"),
        col(langCol).as("_lang"))
      .select(Seq(col("_p0"), col("_p1"), col("_p2"), col("_nh"),
        col("_lang")) ++
        markers.map { case (lang, ws) =>
          score(col("_td"), ws).as(s"_s_$lang") }: _*)
      .select(col("_p0"), col("_p1"), col("_p2"),
        (langPredFromScores(markers.map { case (lang, _) =>
          lang -> col(s"_s_$lang") }, col("_nh")) === col("_lang"))
          .as("_p3"))
    val stages = stageNames // names only; signals are the _p columns above
    val n = stages.size
    val firstFail = stages.indices.foldRight(lit(n)) {
      case (i, els) => when(!col(s"_p$i"), lit(i)).otherwise(els)
    }
    val agged = flagged.select(firstFail.as("_ff")).agg(
      count(lit(1)).as("n_total"),
      stages.indices.map(i =>
        sum(when(col("_ff") === i, 1L).otherwise(0L)).as(s"_d$i")): _*)
    // cumulative drops before stage i give n_in; a literal inline table
    // expands the single aggregate row into the 4 funnel rows
    val rows = stages.zipWithIndex.map { case (name, i) =>
      val before = (0 until i).map(j => col(s"_d$j"))
        .foldLeft(lit(0L))(_ + _)
      val nIn = col("n_total") - before
      struct(lit(i + 1).cast("long").as("stage_no"), lit(name).as("stage"),
        nIn.as("n_in"), col(s"_d$i").as("n_dropped"),
        (nIn - col(s"_d$i")).as("n_out"))
    }
    agged.select(explode(array(rows: _*)).as("f")).select(col("f.*"))
  }

  /** Top-`size` token vocabulary with dense ids: tokens ranked by
    * (count desc, token asc) — the deterministic tie order — id = rank,
    * 1-based so 0 can mean OOV downstream. The top-V cut is
    * orderBy+limit (TakeOrderedAndProject — per-partition heaps, never a
    * global sort); the rank window then runs over only `size` rows. */
  def buildVocab(docs: DataFrame, idCol: String, textCol: String,
                 size: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs
      .select(explode(tokens(col(textCol))).as("token"))
      .where(length(col("token")) > 0)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("n"))
    // ids are assigned AFTER the top-V cut, over <= size rows, in ONE
    // explicitly coalesced partition: a sorted single-partition pass where
    // monotonically_increasing_id() is the dense 0-based row index — same
    // result as an unpartitioned rank window without WindowExec's
    // all-rows-to-one-partition warning (the <= size row bound is what
    // makes the single partition safe, documented here once for the
    // post-limit rankers that share this shape)
    counts.orderBy(col("n").desc, col("token").asc).limit(size)
      .coalesce(1).sortWithinPartitions(col("n").desc, col("token").asc)
      .withColumn("token_id", monotonically_increasing_id() + 1)
  }

  /** Tokenize-to-ids: each document's token stream mapped through a
    * vocabulary (broadcast — vocabularies are kilobytes against a corpus
    * of terabytes); out-of-vocabulary tokens encode as 0. Emitted
    * EXPLODED as (id, pos, token_id) with `pos` the token's index in the
    * RAW split (filtered empties keep their gap), so the result is a
    * flat, engine-comparable relation rather than an array column. */
  def encodeTokens(docs: DataFrame, idCol: String, textCol: String,
                   vocab: DataFrame): DataFrame =
    docs
      .select(col(idCol), posexplode(tokens(col(textCol)))
        .as(Seq("pos", "token")))
      .where(length(col("token")) > 0)
      .join(broadcast(vocab.select(col("token"), col("token_id"))),
        Seq("token"), "left_outer")
      .select(col(idCol), col("pos").cast("long").as("pos"),
        coalesce(col("token_id"), lit(0L)).as("token_id"))

  /** C4-style line-level boilerplate removal: keep only lines that look
    * like prose — terminal punctuation, at least 5 tokens, none of the
    * classic boilerplate markers ("lorem ipsum", "javascript", "cookie";
    * the C4 paper's rules) — and emit the cleaned document with its
    * before/after line counts. Row-local array expressions; the marker
    * list is tiny and fixed so the whole pass is scan-side. */
  def boilerplate(docs: DataFrame, idCol: String, textCol: String,
                  minTokens: Int = 5,
                  requireTerminal: Boolean = true): DataFrame = {
    val lines = filter(
      transform(split(col(textCol), "\n"), l => trim(l)), l => l =!= "")
    val badMarkers = Seq("lorem ipsum", "javascript", "cookie")
    def keep(l: Column): Column = {
      val low = lower(l)
      val base = size(split(l, "\\s+")) >= minTokens &&
        badMarkers.map(b => !low.contains(b)).reduce(_ && _)
      if (requireTerminal)
        substring(l, -1, 1).isin(".", "!", "?", "\"") && base
      else base
    }
    val kept = filter(lines, keep _)
    docs.select(col(idCol),
      size(lines).cast("long").as("n_lines"),
      size(kept).cast("long").as("n_kept"),
      array_join(kept, "\n").as("clean_text"))
  }

  /** Fixed-size overlapping character chunks — the document splitter of a
    * RAG / training-data pipeline. Chunk i covers code points
    * [i*stride, i*stride + size) with stride = size - overlap; the last
    * chunk is the natural remainder (never padded, never dropped). Empty
    * documents produce no chunks. Row-local posexplode — the shape scales
    * as a pure scan; chunk offsets ride along so a consumer can map spans
    * back into the source document. */
  def chunks(docs: DataFrame, idCol: String, textCol: String,
             size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      s"need 0 <= overlap < size, got size=$size overlap=$overlap")
    val stride = size - overlap
    val n = length(col(textCol)).cast("long")
    // Column `/` is true division; floor to the integer chunk index
    // (doc lengths are far below 2^52, so the double floor is exact)
    val idxs = when(n > 0,
      sequence(lit(0L), floor((n - 1L) / stride).cast("long")))
      .otherwise(array().cast("array<long>"))
    docs
      .select(col(idCol), col(textCol).as("_t"),
        posexplode(idxs).as(Seq("_p", "i")))
      .select(col(idCol),
        col("i").cast("long").as("chunk_no"),
        (col("i") * stride).cast("long").as("start"),
        col("_t").substr((col("i") * stride + 1).cast("int"), lit(size))
          .as("chunk_text"))
  }

  /** Per-group doc-length quartiles via Spark's EXACT `percentile`
    * aggregate. Quartile fractions (.25 steps) interpolate exactly in
    * double on integer inputs — `lower*(1-d) + upper*d` and
    * `lower + d*(upper-lower)` are the same exact rational — so the
    * result is engine-portable bit-for-bit, unlike arbitrary fractions
    * (.9*(n-1) is already inexact). Emitted in integer hundredths.
    * Exact percentile is a sort-based aggregate (per-group value
    * buffers); for a 100 TB corpus swap in approx_percentile — this
    * registry entry is the oracle-checkable exact form. */
  def lengthQuartiles(docs: DataFrame, langCol: String,
                      lenCol: String): DataFrame =
    docs.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        expr(s"percentile($lenCol, array(0.25D, 0.5D, 0.75D))").as("_q"))
      .select(col("lang"), col("n_docs"),
        round(element_at(col("_q"), 1) * 100).cast("long").as("p25_c"),
        round(element_at(col("_q"), 2) * 100).cast("long").as("p50_c"),
        round(element_at(col("_q"), 3) * 100).cast("long").as("p75_c"))

  /** BM25 ranked retrieval: top-k documents for a fixed bag of query
    * terms (k1 = 1.2, b = 0.75). Classic shape: tf per (doc, term), doc
    * lengths, df per query term — the per-term partials quantize to
    * integer micro-units BEFORE the per-doc sum, so the doc score is an
    * exact integer aggregation (order-independent, oracle-safe; float
    * sums are combine-order sensitive).
    *
    * Scale shape: the only rows that survive past the tf aggregation are
    * (doc, query-term) hits — |queryTerms| rows per doc max. df and the
    * corpus stats broadcast; the final top-k is orderBy(...).limit(k),
    * which Spark plans as TakeOrderedAndProject (per-partition heaps + a
    * k-row merge on the driver — no global sort, no single-reducer
    * window). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int): DataFrame = {
    // deliberately NOT pinned anywhere (r19 A/B): materializing the
    // exploded token strings cost more than the second tokenize pass it
    // saved, and even the tiny filtered query-term pin measured flat-to-
    // worse — unlike the tf/df rankers, every derived table here is
    // cheap relative to its pin
    val toks = docs
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("term"))
      .where(length(col("term")) > 0)
    val tf = toks.groupBy("_id", "term").agg(count(lit(1)).as("tf"))
    val dl = toks.groupBy("_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val qtf = tf.where(col("term").isin(queryTerms: _*))
    val dfTab = qtf.groupBy("term").agg(count(lit(1)).as("df"))
    val scored = qtf
      .join(broadcast(dfTab), "term")
      .join(dl, "_id")
      .crossJoin(broadcast(stats))
      .withColumn("avgdl", col("sum_dl").cast("double") / col("n_docs"))
      .withColumn("idf",
        log(lit(1.0) + (col("n_docs").cast("double") - col("df") + 0.5) /
          (col("df") + 0.5)))
      .withColumn("tfn",
        col("tf").cast("double") * 2.2 /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("dl") / col("avgdl"))))
      .withColumn("s_e6", round(col("idf") * col("tfn") * 1000000).cast("long"))
    val agg = scored.groupBy("_id").agg(sum("s_e6").as("score_e6"))
    val top = agg.orderBy(col("score_e6").desc, col("_id").asc).limit(k)
    // post-limit rank over <= k rows in one partition (see buildVocab)
    top.coalesce(1).sortWithinPartitions(col("score_e6").desc, col("_id").asc)
      .withColumn("rank", monotonically_increasing_id() + 1)
      .select(col("_id").as(idCol), col("rank"), col("score_e6"))
  }

  /** BPE merge training over the corpus: the distributed part is ONE
    * word-frequency aggregation (the corpus never ships again — exactly
    * how real BPE trainers work: merges are computed on the word-count
    * dictionary, which is kilobytes against terabytes of text); the merge
    * loop then runs driver-side on that bounded table, capped at
    * `maxWords` by frequency. Each round merges the most frequent
    * adjacent symbol pair (count desc, then (left, right) asc — total
    * order, deterministic) across all words, weighted by word frequency.
    *
    * Output: one row per learned merge, (merge_rank, left, right, pair_count),
    * the merge table a BPE tokenizer ships. Driver memory is O(maxWords ·
    * avg word length) — bounded, corpus-size-independent. */
  def bpeMerges(docs: DataFrame, textCol: String, numMerges: Int,
                maxWords: Int = 50000): DataFrame = {
    import docs.sparkSession.implicits._
    val wordCounts = docs
      .select(explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("w").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w").asc)
      .limit(maxWords)
      .as[(String, Long)].collect()
    // words as symbol sequences (initially single characters)
    val words: Array[(Array[String], Long)] =
      wordCounts.map { case (w, n) => (w.map(_.toString).toArray, n) }
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    var rank = 1
    var continue = true
    while (rank <= numMerges && continue) {
      val pairCounts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, n) <- words; i <- 0 until syms.length - 1)
        pairCounts.updateWith((syms(i), syms(i + 1)))(c => Some(c.getOrElse(0L) + n))
      if (pairCounts.isEmpty) continue = false
      else {
        val ((l, r), cnt) = pairCounts.minBy { case ((a, b), c) => (-c, a, b) }
        merges += ((rank.toLong, l, r, cnt))
        val lr = l + r
        var wi = 0
        while (wi < words.length) {
          val (syms, n) = words(wi)
          if (syms.length > 1) {
            val out = new scala.collection.mutable.ArrayBuffer[String](syms.length)
            var i = 0
            while (i < syms.length) {
              if (i < syms.length - 1 && syms(i) == l && syms(i + 1) == r) {
                out += lr; i += 2
              } else { out += syms(i); i += 1 }
            }
            words(wi) = (out.toArray, n)
          }
          wi += 1
        }
        rank += 1
      }
    }
    merges.result()
      .toDF("merge_rank", "left", "right", "pair_count")
  }

  /** Whitespace-token bigram array of `textCol` — the shared construction
    * for the corpus LM below: word 2-shingles, i.e. the codegen'd
    * [[graft.functions.GraftFunctions.shingles]] loop at k = 2 (ordered,
    * duplicates kept, empty under two tokens — and byte-identical to the
    * transform/concat HOF it replaced, which measured 11s on the coverage
    * query against ~2s for the primitive loop; the Shingles==HOF property
    * pin covers k = 2 explicitly). */
  private def bigrams(textCol: Column): Column = shingles(textCol, 2)

  /** Corpus bigram language model: the `topN` bigrams by corpus count
    * (count desc, bigram asc — total order). Shape: tokenize scan →
    * explode → ONE hash aggregation → TakeOrderedAndProject for the top-N
    * cut (per-partition heaps, no global sort); at 100 TB the aggregation
    * shuffles (bigram, partial-count) pairs, never raw text. This is the
    * count table a KenLM-style corpus LM trains from. */
  private val lmCache = new graft.SessionMemo[(String, Int), DataFrame]()

  /** [[bigramLm]] memoized per (session, dataset key, topN) — the trained
    * model is a bounded artifact shared by every LM-scoring consumer
    * (counts, coverage, perplexity score); same cache contract as
    * [[languageProfilesFor]]. */
  def bigramLmFor(docs: DataFrame, textCol: String, topN: Int,
                  key: String): DataFrame =
    lmCache.getOrCompute(docs.sparkSession, (key, topN))(
      bigramLm(docs, textCol, topN).pin())

  /** The micro-nat quantized model projection shared by [[docLmScore]]
    * and the DSIR weights — ONE implementation on purpose:
    * `round(ln(n/total)·1e6)` in exactly this shape (one division, one
    * ln, one round) is the cross-engine-exactness contract BOTH oracles
    * replay; a drift in one copy would silently break the other's
    * parity. */
  private def quantizedLm(lm0: DataFrame, out: String): DataFrame = {
    val tot = lm0.agg(sum(col("n")).as("_tot"))
    lm0.crossJoin(broadcast(tot))
      .select(col("bigram"),
        round(log(col("n") / col("_tot")) * lit(1e6)).cast("long").as(out))
  }

  def bigramLm(docs: DataFrame, textCol: String, topN: Int): DataFrame = {
    val counts = docs
      .select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bigram").asc).limit(topN)
    // post-limit rank over <= topN rows in one partition (see buildVocab)
    counts.coalesce(1).sortWithinPartitions(col("n").desc, col("bigram").asc)
      .withColumn("rank", monotonically_increasing_id() + 1)
      .select("rank", "bigram", "n")
  }

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1998 eq. 4.25) over the corpus' own bigram table —
    * the smoothing every KenLM-style n-gram LM actually ships, here in
    * the exact-rational form so the whole model fits the hash oracle:
    * with the standard discount d = 3/4 (exact in binary AND in exact
    * integer arithmetic as 3/4),
    *
    *   p_KN(w2|w1) = (c12 − d)/c1 + (d·N1+(w1,·)/c1) · N1+(·,w2)/B
    *               = [ (4·c12 − 3)·B + 3·N1fwd·N1bwd ] / (4·c1·B)
    *
    * (c12 ≥ 1 for every row of the bigram table, so the max(·,0) clamp
    * never binds). The quoted probability is the exact integer
    * `p_kn_ppb = floor(10⁹·num/den)` via decimal(38,0) arithmetic —
    * no floats anywhere, so DuckDB's HUGEINT replays it bit-exactly —
    * alongside its integer inputs (`c12`, left-context mass `c1`,
    * continuation fan-outs `n1p_fwd`/`n1p_bwd`) and the backoff mass
    * `lambda_ppb = floor(10⁹·3·n1p_fwd/(4·c1))` a decoder needs for
    * unseen continuations. Output: the `topN` bigrams under the
    * (c12 desc, bigram asc) total order.
    *
    * Scale shape (the distributed-KenLM shape): one tokenize scan →
    * explode → ONE corpus-sized hash aggregation to the bigram-TYPE
    * table; everything downstream (left/right context aggregates, the
    * two equi-joins back, the broadcast 1-row type total) runs over the
    * type table, which is vocabulary-sized, not corpus-sized. The top-N
    * cut is TakeOrderedAndProject. */
  def kneserNeyBigrams(docs: DataFrame, textCol: String,
                       topN: Int): DataFrame = {
    val cnt = docs
      .select(explode(bigrams(col(textCol))).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c12"))
      // tokens are \s+-split, so the single interior space is the
      // bigram's only space — both halves recover exactly
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .withColumn("w2", substring_index(col("bigram"), " ", -1))
    val byW1 = cnt.groupBy("w1")
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1p_fwd"))
    val byW2 = cnt.groupBy("w2").agg(count(lit(1)).as("n1p_bwd"))
    val types = cnt.agg(count(lit(1)).as("n_types"))
    cnt.join(byW1, "w1").join(byW2, "w2")
      .crossJoin(broadcast(types))
      .withColumn("p_kn_ppb", expr(
        "cast((cast(4*c12 - 3 as decimal(38,0)) * n_types" +
          " + cast(3*n1p_fwd as decimal(38,0)) * n1p_bwd) * 1000000000" +
          " div (cast(4*c1 as decimal(38,0)) * n_types) as bigint)"))
      .withColumn("lambda_ppb", expr(
        "cast(cast(3*n1p_fwd as decimal(38,0)) * 1000000000" +
          " div cast(4*c1 as decimal(38,0)) as bigint)"))
      .orderBy(col("c12").desc, col("bigram").asc).limit(topN)
      .select("bigram", "c12", "c1", "n1p_fwd", "n1p_bwd",
        "p_kn_ppb", "lambda_ppb")
  }

  /** Per-document LM coverage against the corpus' own top-`topN` bigram
    * model: `n_bigrams` (bigram occurrences, with multiplicity), `n_hits`
    * (occurrences whose bigram is in the model) and `hit_count_sum` (sum
    * of the model counts of those occurrences) — all integers, so the
    * pass is hash-exact across engines. Low-coverage documents are the
    * gibberish/boilerplate outliers an LM-based quality filter drops; the
    * integer coverage stats are the exact core of that filter with the
    * float log-probability left to a trivial post-map.
    *
    * Scale shape: the model is `topN` rows — BROADCAST — and the corpus
    * side aggregates per document after a map-side probe of the model, so
    * the only corpus-sized shuffle is the final per-doc aggregation (and
    * the model build's own count aggregation). Docs with < 2 tokens have
    * no bigrams and emit zeros via the left join back to the doc list. */
  /** Per-document integer LM score against the corpus' own top-`topN`
    * bigram model: Σ log P(bigram) over the document's bigram OCCURRENCES
    * in micro-nats (`logp_q = round(ln(n/total)·1e6)`, total = the model's
    * own count mass), with a quantized floor penalty per out-of-model
    * occurrence — the "filter documents by LM perplexity" curation signal
    * in the same combine-order-free integer form as the trained language
    * classifier, so an ANSI-SQL oracle replays it hash-exactly. More
    * negative = less corpus-like; divide by `n_bigrams` for a per-token
    * score downstream.
    *
    * Scale shape: the model is `topN` rows — broadcast — so the only
    * corpus-sized shuffle is the per-doc aggregation. Docs with < 2
    * tokens score 0 over 0 bigrams via the left join back to the doc
    * list. */
  def docLmScore(docs: DataFrame, idCol: String, textCol: String,
                 topN: Int, floorLogp: Double = -12.0,
                 cacheKey: Option[String] = None): DataFrame = {
    val floorQ = math.round(floorLogp * 1e6)
    val lm0 = cacheKey.map(k => bigramLmFor(docs, textCol, topN, k))
      .getOrElse(bigramLm(docs, textCol, topN))
    val lm = quantizedLm(lm0, "logp_q")
    val db = docs
      .select(col(idCol).as("_id"), explode(bigrams(col(textCol))).as("bigram"))
    val scores = db.join(broadcast(lm), Seq("bigram"), "left_outer")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("logp_q"), lit(floorQ))).as("score_q"))
    docs.select(col(idCol).as("_id"))
      .join(scores, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("score_q"), lit(0L)).as("lm_score_q"))
  }

  def docLmCoverage(docs: DataFrame, idCol: String, textCol: String,
                    topN: Int, cacheKey: Option[String] = None): DataFrame = {
    val lm = cacheKey.map(k => bigramLmFor(docs, textCol, topN, k))
      .getOrElse(bigramLm(docs, textCol, topN))
      .select(col("bigram"), col("n").as("_lm_n"))
    val db = docs
      .select(col(idCol).as("_id"), explode(bigrams(col(textCol))).as("bigram"))
    val hits = db.join(broadcast(lm), Seq("bigram"), "left_outer")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("_lm_n")).as("n_hits"),
        coalesce(sum(col("_lm_n")), lit(0L)).as("hit_count_sum"))
    docs.select(col(idCol).as("_id"))
      .join(hits, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("hit_count_sum"), lit(0L)).as("hit_count_sum"))
  }

  /** DSIR importance weights (Xie et al. 2023, arXiv:2302.03169): per
    * document, the hashed-n-gram log importance ratio
    * `log w = Σ_bigram (log P_target(b) − log P_raw(b))` — the data
    * SELECTION signal for steering a 100-TB raw crawl toward a target
    * domain distribution. Both LMs are the corpus' own top-`topN` bigram
    * models ([[bigramLm]]): the target model fit on `targetPred` rows
    * only, the raw model on everything; each side quantizes to integer
    * micro-nats (`round(ln(n/total)·1e6)`, the proven cross-engine-exact
    * form) with the same quantized floor per out-of-model occurrence as
    * [[docLmScore]] — so the whole weight is an integer SUM,
    * combine-order-free and hash-oracled end to end. Positive = more
    * target-like than corpus-typical.
    *
    * Scale shape: both models are `topN` rows; they FULL-OUTER merge into
    * one ≤ 2·topN-row table that BROADCASTS into the single corpus scan,
    * so the only corpus-sized shuffle is the per-doc aggregation — the
    * same shape as [[docLmScore]] at any corpus size. Docs with < 2
    * tokens weigh 0 over 0 bigrams via the left join back to the doc
    * list. Output: (idCol, n_bigrams, logw_q). */
  def importanceWeights(docs: DataFrame, idCol: String, textCol: String,
                        targetPred: Column, topN: Int = 200,
                        floorLogp: Double = -12.0,
                        cacheKeys: Option[(String, String)] = None): DataFrame = {
    val floorQ = math.round(floorLogp * 1e6)
    val target = docs.where(targetPred)
    val lmT = quantizedLm(cacheKeys.map(ks =>
      bigramLmFor(target, textCol, topN, ks._1))
      .getOrElse(bigramLm(target, textCol, topN)), "logp_t_q")
    val lmR = quantizedLm(cacheKeys.map(ks =>
      bigramLmFor(docs, textCol, topN, ks._2))
      .getOrElse(bigramLm(docs, textCol, topN)), "logp_r_q")
    val merged = lmT.join(lmR, Seq("bigram"), "full_outer")
    val db = docs
      .select(col(idCol).as("_id"), explode(bigrams(col(textCol))).as("bigram"))
    val weights = db.join(broadcast(merged), Seq("bigram"), "left_outer")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("logp_t_q"), lit(floorQ)) -
          coalesce(col("logp_r_q"), lit(floorQ))).as("logw_q"))
    docs.select(col(idCol).as("_id"))
      .join(weights, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("logw_q"), lit(0L)).as("logw_q"))
  }

  /** DSIR selection: the `k` documents with the highest importance weight
    * ([[importanceWeights]]), ties broken by the engine-portable
    * md5('dsir' || id) prefix order then id — a distributed top-k
    * (TakeOrderedAndProject), never a global sort. This is the
    * temperature→0 (greedy MAP) reading of the paper's Gumbel-top-k
    * resampling, chosen so the draw replays EXACTLY in ANSI SQL; the
    * paper's stochastic variant is one additive noise column away and
    * trades the oracle for sampling diversity. Output: (idCol, logw_q),
    * the selected ids with their weights. */
  def sampleDsir(docs: DataFrame, idCol: String, textCol: String,
                 targetPred: Column, k: Int, topN: Int = 200,
                 floorLogp: Double = -12.0,
                 cacheKeys: Option[(String, String)] = None): DataFrame =
    importanceWeights(docs, idCol, textCol, targetPred, topN, floorLogp,
      cacheKeys)
      .orderBy(col("logw_q").desc,
        substring(md5(concat(lit("dsir"),
          col(idCol).cast("string")).cast("binary")), 1, 8),
        col(idCol))
      .limit(k)
      .select(col(idCol), col("logw_q"))

  /** RHO-loss excess (Mindermann et al. 2022, arXiv:2206.07137,
    * "Prioritized Training on Points that are Learnable, Worth
    * Learning, and Not Yet Learnt"): per TRAINING document, the excess
    * of its loss under the current-model proxy over its irreducible
    * loss — here both approximated by bigram LMs in the proven
    * integer micro-nat form: the "current model" is the train-corpus
    * LM, the irreducible-loss model is an LM fit on a HELD-OUT split
    * (`holdoutPred` rows), and
    * `rho_q = mean_cost_train_q − mean_cost_holdout_q`. High excess =
    * the document is poorly explained by the training corpus but WELL
    * explained by held-out data — learnable signal, not noise; low or
    * negative = already-learnt boilerplate or unlearnable junk. Both
    * per-bigram mean costs use the [[meanLmCost]] contract (negated
    * score `div` count — non-negative, so the oracle's `//` agrees;
    * bigram-less docs pin both sides to the floor, excess 0).
    *
    * Scale shape: the [[importanceWeights]] shape exactly — two
    * `topN`-row models full-outer-merge and BROADCAST into one scan of
    * the training split; the only corpus-sized shuffle is the per-doc
    * aggregation. Output:
    * (idCol, n_bigrams, cost_train_q, cost_holdout_q, rho_q). */
  def rhoExcess(docs: DataFrame, idCol: String, textCol: String,
                holdoutPred: Column, topN: Int = 200,
                floorLogp: Double = -12.0,
                cacheKeys: Option[(String, String)] = None): DataFrame = {
    val floorQ = math.round(floorLogp * 1e6)
    val floorCostQ = -floorQ
    val train = docs.where(!holdoutPred)
    val holdout = docs.where(holdoutPred)
    val lmTr = quantizedLm(cacheKeys.map(ks =>
      bigramLmFor(train, textCol, topN, ks._1))
      .getOrElse(bigramLm(train, textCol, topN)), "logp_tr_q")
    val lmHo = quantizedLm(cacheKeys.map(ks =>
      bigramLmFor(holdout, textCol, topN, ks._2))
      .getOrElse(bigramLm(holdout, textCol, topN)), "logp_ho_q")
    val merged = lmTr.join(lmHo, Seq("bigram"), "full_outer")
    val db = train
      .select(col(idCol).as("_id"), explode(bigrams(col(textCol))).as("bigram"))
    val scores = db.join(broadcast(merged), Seq("bigram"), "left_outer")
      .groupBy("_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(coalesce(col("logp_tr_q"), lit(floorQ))).as("_s_tr"),
        sum(coalesce(col("logp_ho_q"), lit(floorQ))).as("_s_ho"))
    train.select(col(idCol).as("_id"))
      .join(scores, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(floorCostQ))
          .otherwise(expr("(-_s_tr) div n_bigrams")).as("cost_train_q"),
        when(coalesce(col("n_bigrams"), lit(0L)) === 0, lit(floorCostQ))
          .otherwise(expr("(-_s_ho) div n_bigrams")).as("cost_holdout_q"))
      .withColumn("rho_q", col("cost_train_q") - col("cost_holdout_q"))
  }

  /** RHO selection: the `k` training documents with the highest excess
    * loss ([[rhoExcess]]), ties by id — a distributed top-k
    * (TakeOrderedAndProject), never a global sort. The greedy
    * (deterministic) reading of the paper's per-batch selection, chosen
    * so the draw replays exactly in ANSI SQL. */
  def sampleRho(docs: DataFrame, idCol: String, textCol: String,
                holdoutPred: Column, k: Int, topN: Int = 200,
                floorLogp: Double = -12.0,
                cacheKeys: Option[(String, String)] = None): DataFrame =
    rhoExcess(docs, idCol, textCol, holdoutPred, topN, floorLogp, cacheKeys)
      .orderBy(col("rho_q").desc, col(idCol).asc)
      .limit(k)
      .select(col(idCol), col("n_bigrams"), col("rho_q"))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020,
    * arXiv:1911.00359): per language, documents split into head / middle
    * / tail terciles by their per-bigram LM cost — the standard "keep the
    * head and middle of the perplexity distribution" curation gate for
    * web-crawl pretraining data. The LM is the corpus' own top-`topN`
    * bigram model ([[docLmScore]], micro-nat quantized with the same
    * floor per out-of-model occurrence), so the WHOLE pass is integer
    * arithmetic and hash-oracled: `mean_cost_q = (−score_q) div
    * n_bigrams` — cost is non-negative, so Spark's truncating `div` and
    * the oracle's `//` agree (floor == trunc on non-negatives; dividing
    * the raw NEGATIVE score would diverge between the engines) — and
    * bigram-less docs pin to the floor cost (worst). Tercile assignment
    * is rank-based: `rn·3 ≤ n` → head, `rn·3 ≤ 2n` → middle, else tail
    * (ties broken by id — deterministic, total).
    *
    * Scale shape: the model is broadcast and the per-doc score is one
    * scan + one keyed aggregation (the [[docLmScore]] shape). The tercile
    * window partitions by LANGUAGE — exact and oracle-checkable, but a
    * handful of language partitions each carry a corpus-sized sort at
    * 100 TB; the at-scale swap (the repo's exact-percentile convention)
    * is per-lang `approx_percentile(mean_cost_q, array(1/3, 2/3))`
    * cutoffs broadcast back over one more scan, which buckets ties
    * together instead of splitting them by rank. Output:
    * (idCol, langCol, n_bigrams, mean_cost_q, ppl_bucket). */
  /** Per-doc mean LM cost in micro-nats against the (optionally
    * memoized) corpus bigram model — the scoring half of
    * [[perplexityBuckets]] without the tercile window, reused by the
    * streaming quality gate. Non-negative by construction (see the
    * bucket scaladoc for the div/`//` parity argument); bigram-less docs
    * pin to the floor cost (worst). Output:
    * (idCol, n_bigrams, mean_cost_q). */
  def meanLmCost(docs: DataFrame, idCol: String, textCol: String,
                 topN: Int = 200, floorLogp: Double = -12.0,
                 cacheKey: Option[String] = None): DataFrame = {
    val floorCostQ = -math.round(floorLogp * 1e6)
    docLmScore(docs, idCol, textCol, topN, floorLogp, cacheKey)
      .select(col(idCol), col("n_bigrams"),
        when(col("n_bigrams") === 0, lit(floorCostQ))
          .otherwise(expr("(-lm_score_q) div n_bigrams"))
          .as("mean_cost_q"))
  }

  private val pplCutoffCache =
    new graft.SessionMemo[(String, Int), DataFrame]()

  /** Session-memoized per-language quality cutoff: the LARGEST mean cost
    * still inside the reference corpus' head+middle terciles
    * ([[perplexityBuckets]]) — the acceptance threshold a CCNet-style
    * gate applies to arriving documents. One row per language; builds
    * once per (key, topN) corpus generation, and the underlying LM lands
    * in the [[bigramLmFor]] memo under the same key so batch scoring
    * reuses it. */
  def perplexityCutoffsFor(refDocs: DataFrame, idCol: String,
                           textCol: String, langCol: String,
                           topN: Int, key: String): DataFrame =
    pplCutoffCache.getOrCompute(refDocs.sparkSession, (key, topN)) {
      perplexityBuckets(refDocs, idCol, textCol, langCol, topN,
        cacheKey = Some(key))
        .where(col("ppl_bucket") =!= "tail")
        .groupBy(col(langCol))
        .agg(max(col("mean_cost_q")).as("cutoff_cost_q"))
        .pin()
    }

  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        langCol: String, topN: Int = 200,
                        floorLogp: Double = -12.0,
                        cacheKey: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = meanLmCost(docs, idCol, textCol, topN, floorLogp, cacheKey)
      .join(docs.select(col(idCol), col(langCol)), Seq(idCol))
      .select(col(idCol), col(langCol), col("n_bigrams"),
        col("mean_cost_q"))
    val byLang = Window.partitionBy(col(langCol))
    val ranked = scored
      .withColumn("_rn", row_number().over(
        byLang.orderBy(col("mean_cost_q").asc, col(idCol).asc)))
      .withColumn("_n", count(lit(1)).over(byLang))
    ranked.select(col(idCol), col(langCol), col("n_bigrams"),
      col("mean_cost_q"),
      when(col("_rn") * 3 <= col("_n"), lit("head"))
        .when(col("_rn") * 3 <= col("_n") * 2, lit("middle"))
        .otherwise(lit("tail")).as("ppl_bucket"))
  }

  /** Per-document lexical diversity: type-token ratio and hapax share —
    * the cheap statistical gibberish/boilerplate signals (template spam
    * has few types per token; keyboard-mash has all-hapax types). Tokens
    * are the engine's standard whitespace split of lower(trim(text));
    * `ttr_ppm = n_types·10⁶ / n_tokens` and
    * `hapax_ppm = n_hapax·10⁶ / n_types` in truncating integer division
    * over non-negatives (cross-engine exact), zeros for empty docs via
    * the join back to the doc list.
    *
    * Scale shape: one tokenize scan, one (doc, token) hash aggregation,
    * one per-doc rollup — shuffles carry (id, token-hashable) pairs and
    * then (id, 3 longs), never text. The per-doc token-count HOF
    * alternative is quadratic per row; this is the linear form. */
  def lexicalDiversity(docs: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val perTok = docs
      .select(col(idCol).as("_id"), explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy(col("_id"), col("w"))
      .agg(count(lit(1)).as("c"))
    val perDoc = perTok.groupBy("_id")
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    docs.select(col(idCol).as("_id"))
      .join(perDoc, Seq("_id"), "left_outer")
      .select(col("_id").as(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
      // integer `div` over non-negatives (floor == trunc): the double-/
      // form would round the quotient before the cast — the one place
      // the engines could disagree on a boundary
      .withColumn("ttr_ppm",
        expr("n_types * 1000000 div greatest(n_tokens, 1)"))
      .withColumn("hapax_ppm",
        expr("n_hapax * 1000000 div greatest(n_types, 1)"))
  }

  /** Gopher quality rules (Rae et al. 2021, "Scaling Language Models:
    * Methods, Analysis & Insights from Training Gopher", Appendix A1.1)
    * — the canonical pre-training document filter battery, as a per-doc
    * report: each rule emits a violation flag (1 = fails) plus the
    * integer evidence it was judged on; `pass` = no rule fired. The
    * thresholds are the paper's; every ratio test is an exact CROSS-
    * MULTIPLIED integer comparison (never a float divide), so the whole
    * report hash-replays in SQL:
    *
    *  - `r_word_count`:   n_words outside [50, 100000]
    *  - `r_mean_wlen`:    mean word length outside [3, 10] chars
    *  - `r_symbol_ratio`: ('#' + ellipsis count) > 0.1 · n_words
    *  - `r_bullet`:       > 90% of lines start with a bullet mark
    *  - `r_ellipsis`:     > 30% of lines end with an ellipsis
    *  - `r_alpha`:        < 80% of words contain an [a-z] character
    *  - `r_stopwords`:    < 2 distinct hits among the paper's 8 English
    *    stop words (the, be, to, of, and, that, have, with)
    *
    * Words are the corpus-wide whitespace tokenization (`tokens`); lines
    * split the RAW text on newline. Character counts come from length
    * arithmetic over `replace` (left-to-right non-overlapping in both
    * engines); sum of word lengths is the length of the whitespace-
    * stripped stream — no per-word fold. Null/empty text reports zero
    * counts and fails `r_word_count` (the paper drops empty documents).
    *
    * Scale shape: one scan, all row-local, zero exchanges. The counts
    * come from the compiled [[org.apache.spark.sql.graft.GopherStats]]
    * kernel — two linear passes over the text inside whole-stage codegen
    * (the `dup_ngrams` lesson applied: the interpreted line/word HOF
    * battery this replaces showed up hot at sf1 — 2.68 s — for what is a
    * row-local scan); the threshold flags stay declarative below. The
    * kernel's counting semantics are pinned token-for-token against the
    * declarative form in `TextAnalysisSpec`. */
  def gopherRules(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame = {
    val st = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.GopherStats(
        org.apache.spark.sql.GraftBridge.expression(
          coalesce(col(textCol), lit("")))))
    // kernel slots: [n_words, sum_chars, n_hash, n_ellipsis, n_lines,
    // n_bullet_lines, n_ellipsis_lines, n_alpha_words, n_stopword_hits]
    val names = Seq("n_words", "sum_chars", "n_hash", "n_ellipsis",
      "n_lines", "n_bullet_lines", "n_ellipsis_lines", "n_alpha_words",
      "n_stopword_hits")
    docs.select(col(idCol), st.as("_g"))
      .select(col(idCol) +:
        names.zipWithIndex.map { case (n, k) =>
          expr(s"_g[$k]").as(n)
        }: _*)
      .withColumn("r_word_count",
        (col("n_words") < 50L || col("n_words") > 100000L).cast("long"))
      .withColumn("r_mean_wlen",
        (lit(3L) * col("n_words") > col("sum_chars") ||
          col("sum_chars") > lit(10L) * col("n_words")).cast("long"))
      .withColumn("r_symbol_ratio",
        (lit(10L) * (col("n_hash") + col("n_ellipsis")) >
          col("n_words")).cast("long"))
      .withColumn("r_bullet",
        (lit(10L) * col("n_bullet_lines") >
          lit(9L) * col("n_lines")).cast("long"))
      .withColumn("r_ellipsis",
        (lit(10L) * col("n_ellipsis_lines") >
          lit(3L) * col("n_lines")).cast("long"))
      .withColumn("r_alpha",
        (lit(5L) * col("n_alpha_words") <
          lit(4L) * col("n_words")).cast("long"))
      .withColumn("r_stopwords",
        (col("n_stopword_hits") < 2L).cast("long"))
      .withColumn("pass",
        (col("r_word_count") + col("r_mean_wlen") +
          col("r_symbol_ratio") + col("r_bullet") + col("r_ellipsis") +
          col("r_alpha") + col("r_stopwords") === 0L).cast("long"))
  }

  /** C4 line-and-page cleaning report (Raffel et al. 2020, "Exploring
    * the Limits of Transfer Learning with a Unified Text-to-Text
    * Transformer", §2.2) — the other canonical web-corpus filter. Per
    * document: how many lines the line-level rule keeps (line ends in a
    * terminal punctuation mark `. ! ? "` AND carries ≥ 5 whitespace
    * words), how many characters those kept lines hold, the sentence
    * count (terminal-mark occurrences in the raw text — the paper's
    * "fewer than 3 sentences" page gate), and the page-level flags:
    * `f_lorem` ("lorem ipsum" anywhere, case-folded), `f_brace` (a `{`
    * — the code-page signal), `f_javascript` (the word in any line),
    * `f_few_sentences` (< 3). `kept` = all page flags clear AND ≥ 1
    * kept line. All counts integer; flags are exact membership tests —
    * the report hash-replays in SQL.
    *
    * Scale shape: one scan, row-local, zero exchanges; counts from the
    * compiled [[org.apache.spark.sql.graft.C4Stats]] kernel (one linear
    * pass inside whole-stage codegen, replacing the interpreted line
    * HOFs — see [[gopherRules]]), kernel == declarative pinned in
    * `TextAnalysisSpec`. */
  def c4Filters(docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    val st = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.C4Stats(
        org.apache.spark.sql.GraftBridge.expression(
          coalesce(col(textCol), lit("")))))
    // kernel slots: [n_lines, n_kept_lines, kept_chars, n_sentences,
    // f_lorem, f_brace, f_javascript]
    val names = Seq("n_lines", "n_kept_lines", "kept_chars",
      "n_sentences", "f_lorem", "f_brace", "f_javascript")
    docs.select(col(idCol), st.as("_c"))
      .select(col(idCol) +:
        names.zipWithIndex.map { case (n, k) =>
          expr(s"_c[$k]").as(n)
        }: _*)
      .withColumn("f_few_sentences",
        (col("n_sentences") < 3L).cast("long"))
      .withColumn("kept",
        (col("f_lorem") + col("f_brace") + col("f_javascript") +
          col("f_few_sentences") === 0L && col("n_kept_lines") > 0L)
          .cast("long"))
  }

  /** Cross-document LINE dedup (the RefinedWeb/CCNet line-level pass —
    * Penedo et al. 2023 §"line-wise corrections"): a nonempty line whose
    * EXACT content appears in more than `maxDocFreq` distinct documents
    * is boilerplate (cookie banners, nav bars, share footers) and is
    * removed from every document; whitespace-only lines are structure,
    * not candidates, and are always kept. Complements the row-local
    * [[boilerplate]] rules: those judge each line alone, this one
    * judges a line against the CORPUS.
    *
    * Output per document: `n_lines`, `n_dropped`, and `clean_text` —
    * the surviving lines rejoined in original order, hash-replayable in
    * SQL (the reassembly is an order-pinned string_agg).
    *
    * Scale shape: one posexplode scan → a line-keyed distinct-doc count
    * (map-side combining; only lines ABOVE the threshold return — a set
    * bounded by corpus_line_occurrences / maxDocFreq, which AQE
    * broadcasts when small and shuffle-joins when not) → one
    * doc-keyed reassembly. Two keyed exchanges of the line table, never
    * a pairwise comparison; the hot-line table is the natural at-rest
    * artifact for incremental re-cleaning. */
  def lineDedup(docs: DataFrame, idCol: String, textCol: String,
                maxDocFreq: Long = 10L): DataFrame = {
    require(maxDocFreq >= 1, "maxDocFreq >= 1")
    val lines = docs.select(col(idCol).as("_id"),
      posexplode(split(coalesce(col(textCol), lit("")), "\n"))
        .as(Seq("_pos", "_line")))
    val hot = lines.where(trim(col("_line")) =!= "")
      .groupBy(col("_line"))
      .agg(countDistinct(col("_id")).as("_df"))
      .where(col("_df") > maxDocFreq)
      .select(col("_line"), lit(1L).as("_hot"))
    lines.join(hot, Seq("_line"), "left_outer")
      .withColumn("_keep", col("_hot").isNull)
      .groupBy(col("_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("_keep"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(
            when(col("_keep"), struct(col("_pos"), col("_line"))))),
          s => s.getField("_line")), "\n").as("clean_text"))
      .select(col("_id").as(idCol), col("n_lines"), col("n_dropped"),
        col("clean_text"))
  }

  /** Top collocations (candidate multiword expressions) by pointwise
    * mutual information over ADJACENT word pairs:
    * `pmi(x,y) = ln(c_xy·n1² / (n2·c_x·c_y))`, quantized to integer
    * micro-nats — the [[fitLanguageProfiles]] discipline: the double
    * expression is written in the exact shape the SQL oracle replays
    * (left-associated multiplies, one division, one ln, one round), so
    * the BIGINT score is cross-engine hash-exact. `minCount` guards the
    * hapax pathology — a pair seen once between two rare words maximizes
    * raw PMI — the standard collocation-extraction filter (Church &
    * Hanks). Empty tokens (empty-text artifacts of the whitespace split)
    * are excluded from both the unigram counts and the totals, mirroring
    * the vocab family's `length > 0` gate.
    *
    * Scale shape: one tokenize scan feeds two hash aggregations (unigram
    * and bigram counts, shuffling (term, partial-count) pairs, never
    * text); the two corpus totals are scalar aggregates broadcast via
    * cross join; unigram counts join the ≥minCount bigram table on the
    * term key (vocabulary-sized sides, hash-partitioned); the final cut
    * is a top-N heap (TakeOrderedAndProject), never a global sort.
    * Output: (w1, w2, c_pair, c_w1, c_w2, pmi_q), the `topN` pairs by
    * (pmi_q desc, w1, w2 — total order). */
  def collocations(docs: DataFrame, textCol: String, minCount: Long = 5,
                   topN: Int = 100): DataFrame = {
    require(minCount >= 1, "minCount >= 1")
    val uni = docs.select(explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
    val c1 = uni.groupBy("w").agg(count(lit(1)).as("c"))
    val n1 = uni.agg(count(lit(1)).as("n1"))
    val big = docs.select(explode(bigrams(col(textCol))).as("b"))
    val n2 = big.agg(count(lit(1)).as("n2"))
    val c2 = big
      .select(split(col("b"), " ", 2).as("p"))
      .select(col("p").getItem(0).as("w1"), col("p").getItem(1).as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c_pair"))
      .where(col("c_pair") >= minCount)
    c2
      .join(c1.select(col("w").as("w1"), col("c").as("c_w1")), "w1")
      .join(c1.select(col("w").as("w2"), col("c").as("c_w2")), "w2")
      .crossJoin(broadcast(n1))
      .crossJoin(broadcast(n2))
      .select(col("w1"), col("w2"), col("c_pair"), col("c_w1"), col("c_w2"),
        round(log((col("c_pair").cast("double") * col("n1") * col("n1")) /
          (col("n2").cast("double") * col("c_w1") * col("c_w2"))) * lit(1e6))
          .cast("long").as("pmi_q"))
      .orderBy(col("pmi_q").desc, col("w1").asc, col("w2").asc)
      .limit(topN)
  }

  /** Shannon entropy of each group's TOKEN DISTRIBUTION in integer
    * micro-nats: `H = −Σ_terms c·ln(c/n) / n` computed as per-term
    * quantized contributions `c · round(ln(c/n)·1e6)` summed exactly
    * (decimal(38,0) — the sum reaches ~n·2e7, past a long at corpus
    * scale) and divided once at the end. A diversity diagnostic for
    * corpus slices: low entropy = repetitive/templated text (a quality
    * signal for curation), high = diverse vocabulary. Quantize-then-sum
    * keeps the result combine-order-free and SQL-replayable — the
    * micro-nat discipline ([[fitLanguageProfiles]]).
    *
    * Scale shape: one tokenize scan → a (group, term) hash aggregation →
    * a group total join → one more group aggregation. Everything
    * shuffles counts, never text. Output: (groupCol, n_tokens, n_terms,
    * entropy_unat). */
  def tokenEntropyByGroup(docs: DataFrame, textCol: String,
                          groupCol: String): DataFrame = {
    val tc = docs
      .select(col(groupCol).as("g"), explode(tokens(col(textCol))).as("w"))
      .where(length(col("w")) > 0)
      .groupBy("g", "w").agg(count(lit(1)).as("c"))
    val tot = tc.groupBy("g")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_terms"))
    val sq = tc.join(tot.select(col("g"), col("n")), "g")
      .withColumn("t_q", (col("c") *
        round(log(col("c").cast("double") / col("n")) * lit(1e6))
          .cast("long")).cast("decimal(38,0)"))
      .groupBy("g").agg(sum(col("t_q")).as("s"))
    sq.join(tot, "g")
      .select(col("g").as(groupCol), col("n").as("n_tokens"),
        col("n_terms"),
        expr("(-s) div cast(n as decimal(38,0))").as("entropy_unat"))
  }

  /** Reciprocal-rank fusion (Cormack–Clarke–Buettcher) of any number of
    * rankings: fused score = Σ over lists of `1e6 div (k0 + rank)` —
    * reciprocal ranks in pure integer math, so the fusion is hash-exact.
    * RRF is the standard hybrid-retrieval combiner because it needs NO
    * score normalization: rankings with incomparable score scales
    * (lexical BM25 micro-units vs an LM-coverage count vs a cosine)
    * fuse through their ranks alone, and k0 (conventionally 60) damps
    * the head so one list's #1 can't dominate consensus.
    *
    * Each input must be a (idCol, rank) frame with ranks 1..k. Scale
    * shape: the inputs are already top-k cuts (≤ k rows each), so the
    * fusion is a union of tiny frames + one aggregation + the post-limit
    * single-partition rank pattern ([[bm25TopK]]) — nothing here touches
    * the corpus. Output: (idCol, rrf_score, rank), topN rows by
    * (rrf_score desc, id — total order). */
  /** Cross-document repeated-span detection — the distributed answer to
    * suffix-array exact-substring dedup (the curation step that removes
    * long verbatim repeats between training documents; ref has no
    * counterpart — extension surface). A span is a MAXIMAL run of
    * consecutive positions where two documents carry the same `k`-token
    * shingle: positional shingle fingerprints join on the fingerprint,
    * matches land on a (doc_a, doc_b, pos_a − pos_b) diagonal, and a
    * gaps-and-islands pass merges consecutive matches into runs of
    * `matched + k − 1` tokens. Only runs of at least `minSpanTokens`
    * tokens survive.
    *
    * Scale shape: the positional-shingle table is LINEAR in corpus tokens
    * and never holds shingle text (16-hex-char md5 prefix). Shingles seen
    * more than `maxDf` times are dropped before the pair join (the hot
    * set is tiny — broadcast anti-join), so each join bucket holds at
    * most `maxDf` rows and the pair count is bounded by df²·shingles,
    * never all-pairs. Three keyed shuffles total: the df aggregation, the
    * fingerprint equi-join, and the per-(pair, diagonal) window — no
    * suffix array, no global sort, no driver state. A dropped hot shingle
    * can only SPLIT a span (boilerplate that common is chunk-level
    * territory, see `chunk_dup_stats`); it never invents one.
    *
    * Output: (doc_a, doc_b, start_a, start_b, span_tokens), doc_a < doc_b,
    * starts 1-based in filtered-token coordinates. */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    k: Int = 8, minSpanTokens: Int = 20,
                    maxDf: Int = 20): DataFrame = {
    require(k >= 2, "shingle width k >= 2")
    require(minSpanTokens >= k, "minSpanTokens must be >= k")
    require(maxDf >= 2, "maxDf >= 2 (a df-1 shingle can never pair)")
    val pos = docs
      .where(col(textCol).isNotNull)
      .select(col(idCol).as("doc"),
        expr(s"filter(split($textCol, ' '), x -> x != '')").as("_toks"))
      .where(size(col("_toks")) >= k)
      .select(col("doc"), explode(expr(
        s"""transform(sequence(1, size(_toks) - ${k - 1}),
           |  i -> struct(i AS pos,
           |    substr(md5(concat_ws(' ', slice(_toks, i, $k))), 1, 16)
           |      AS sh))""".stripMargin)).as("e"))
      .select(col("doc"), col("e.pos").as("pos"), col("e.sh").as("sh"))
      // the tokenize + per-position md5 explode is the expensive scan;
      // unmaterialized it re-runs for the hot-df agg AND each side of the
      // self-join (3x). Checkpoint once — the downstream passes are cheap
      .pin()
    // hot-shingle cap: the >maxDf fingerprint set is small by definition
    // of "hot" — broadcast it and anti-join, so the big positional table
    // shuffles once (into the pair join), not twice
    val hot = pos.groupBy("sh").agg(count(lit(1)).as("df"))
      .where(col("df") > maxDf).select("sh")
    val cold = pos.join(broadcast(hot), Seq("sh"), "left_anti")
    val pairs = cold
      .select(col("sh"), col("doc").as("doc_a"), col("pos").as("pos_a"))
      .join(cold.select(col("sh"), col("doc").as("doc_b"),
        col("pos").as("pos_b")), "sh")
      .where(col("doc_a") < col("doc_b"))
      .withColumn("diag", col("pos_a") - col("pos_b"))
    // pos_b = pos_a − diag, so pos_a is unique per (pair, diagonal) and
    // row_number needs no tiebreak; consecutive pos_a collapse to one
    // island id (pos_a − rn), the standard gaps-and-islands reduction
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    pairs
      .withColumn("island", col("pos_a") - row_number().over(w))
      .groupBy("doc_a", "doc_b", "diag", "island")
      .agg(min(col("pos_a")).cast("long").as("start_a"),
        min(col("pos_b")).cast("long").as("start_b"),
        (count(lit(1)) + lit(k - 1).cast("long")).as("span_tokens"))
      .where(col("span_tokens") >= minSpanTokens)
      // (start_a, start_b) determine the diagonal, and islands on one
      // diagonal have distinct starts — rows stay unique without the
      // grouping internals
      .select("doc_a", "doc_b", "start_a", "start_b", "span_tokens")
  }

  /** Per-JVM cache of the repeated-spans table — one positional-shingle
    * build serves every consumer over the same corpus (the span DETECTION
    * and the cut TRANSFORM registry rows share it; the same index-artifact
    * contract as `Dedup.shingleGroupsFor`). */
  private val spanCache =
    new graft.SessionMemo[(String, Int, Int, Int), DataFrame]()

  /** [[repeatedSpans]] riding the per-dataset memo (the registry form). */
  def repeatedSpansFor(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, minSpanTokens: Int, maxDf: Int,
                       key: String): DataFrame =
    spanCache.getOrCompute(docs.sparkSession, (key, k, minSpanTokens, maxDf))(
      repeatedSpans(docs, idCol, textCol, k, minSpanTokens, maxDf)
        .pin())

  /** Exact-substring dedup CUT — the transform on top of
    * [[repeatedSpans]] detection: for every document, how many tokens a
    * remove-verbatim-repeats pass would cut, keeping the EARLIEST
    * (smallest-id) document's copy corpus-wide. This is the budget
    * question a curation pipeline asks before committing to the rewrite
    * ("how much of shard X is verbatim repeats of earlier shards?") and
    * the per-doc kept/removed accounting the rewrite itself needs.
    *
    * Semantics: [[repeatedSpans]] emits spans with `doc_a < doc_b`, so
    * the doc_b side is always the later copy — its interval
    * `[start_b, start_b + span − 1]` (filtered-token coordinates) is
    * marked for removal. A document repeated against several earlier
    * partners loses the UNION of the marked intervals (no double
    * counting on overlap): distinct intervals -> per-doc sorted
    * gaps-and-islands merge (an interval starts a new island iff it
    * begins past the running max end) -> summed island lengths.
    *
    * Scale shape: everything downstream of the span join is per-doc
    * interval arithmetic — rows bounded by span count, never token
    * count. The one window is keyed by doc and each doc holds at most
    * (its span partners) rows; the running-max-end island idiom is the
    * same bounded pattern as [[repeatedSpans]]' diagonal merge. Intra-doc
    * self-repeats are out of scope by construction (doc_a < doc_b is
    * strict) — that's [[dupNgramStats]]' signal.
    *
    * Output: one row per input document (span-free docs keep zeros) —
    * (idCol, n_tokens, dup_tokens, kept_tokens). */
  def substringCut(docs: DataFrame, idCol: String, textCol: String,
                   k: Int = 8, minSpanTokens: Int = 16,
                   maxDf: Int = 20, key: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spans = key match {
      case Some(kk) =>
        repeatedSpansFor(docs, idCol, textCol, k, minSpanTokens, maxDf, kk)
      case None => repeatedSpans(docs, idCol, textCol, k, minSpanTokens, maxDf)
    }
    // two earlier partners can mark the IDENTICAL interval — distinct
    // first so the union never sees duplicate rows
    val iv = spans.select(col("doc_b").as("doc"), col("start_b").as("s"),
      (col("start_b") + col("span_tokens") - 1L).as("e")).distinct()
    val w = Window.partitionBy("doc").orderBy("s", "e")
    val prevMax = max(col("e")).over(
      w.rowsBetween(Window.unboundedPreceding, -1))
    val removed = iv
      .withColumn("island",
        sum(when(col("s") > coalesce(prevMax, lit(-1L)), 1L).otherwise(0L))
          .over(w))
      .groupBy("doc", "island")
      .agg((max(col("e")) - min(col("s")) + 1L).as("len"))
      .groupBy("doc")
      .agg(sum(col("len")).as("dup_tokens"))
    docs
      .select(col(idCol),
        when(col(textCol).isNull, 0L)
          .otherwise(size(filter(split(col(textCol), " "),
            x => x =!= "")).cast("long")).as("n_tokens"))
      .join(removed.withColumnRenamed("doc", idCol), Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        (col("n_tokens") - coalesce(col("dup_tokens"), lit(0L)))
          .as("kept_tokens"))
  }

  // ---- at-rest inverted index: posting lists as a term-sorted layout ----

  /** Built inverted-index layouts, once per (session, dataset). */
  private val indexLayouts = new graft.SessionMemo[String, String]()

  /** Build (once per dataset) an at-rest inverted index: the postings
    * table (term, doc_id, tf) range-sorted by (term, doc_id) and written
    * as parquet. Term-sorted files mean a `term IN (...)` lookup prunes
    * at BOTH granularities parquet already gives us — file-level min/max
    * zones skip whole files, row-group stats skip within files — so a
    * repeated-query workload reads kilobytes of postings instead of
    * re-tokenizing the corpus (`text_phrase_search`'s scaladoc names the
    * one-off-scan tradeoff this layout is the other side of). Build cost
    * is one tokenize + one hash aggregate + one range sort; tf is exact.
    */
  def invertedIndexFor(docs: => DataFrame, idCol: String, textCol: String,
                       key: String,
                       spark: org.apache.spark.sql.SparkSession): String =
    indexLayouts.getOrCompute(spark, key) {
      val path = graft.TmpArtifacts.path("graft-textindex", key)
      docs
        .where(col(textCol).isNotNull)
        .select(col(idCol).as("doc_id"),
          explode(expr(s"filter(split($textCol, ' '), x -> x != '')"))
            .as("term"))
        .groupBy("term", "doc_id")
        .agg(count(lit(1)).as("tf"))
        .repartitionByRange(8, col("term"), col("doc_id"))
        .sortWithinPartitions("term", "doc_id")
        .write.mode("overwrite").parquet(path)
      path
    }

  /** Conjunctive (AND) term lookup over the at-rest index: documents
    * containing EVERY query term, with per-term frequencies and the
    * summed score. One pruned postings scan + one doc_id hash aggregate —
    * the corpus text is never touched. */
  def indexLookupAll(spark: org.apache.spark.sql.SparkSession, path: String,
                     terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "at least one query term")
    val distinctTerms = terms.distinct
    val names = distinctTerms.map(t =>
      "tf_" + t.replaceAll("[^A-Za-z0-9]", "_"))
    // distinct terms can sanitize onto one column name ("a-b" and "a_b"
    // both become tf_a_b) — fail loudly instead of emitting ambiguous
    // duplicate columns
    require(names.distinct.size == names.size,
      s"query terms collide after sanitization: $distinctTerms -> $names")
    val tfCols = distinctTerms.zip(names).map { case (t, n) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L)).as(n)
    }
    spark.read.parquet(path)
      .where(col("term").isin(distinctTerms: _*))
      .groupBy("doc_id")
      .agg(countDistinct(col("term")).as("_nt"),
        (tfCols :+ sum(col("tf")).as("score")): _*)
      .where(col("_nt") === distinctTerms.size)
      .drop("_nt")
  }

  /** Per-document DEFLATE compression ratio — the Gopher-family "too
    * compressible" quality signal (templated/boilerplate text compresses
    * far below prose; random or already-compressed junk barely at all).
    * Reported in integer milli-units: `ratio_milli = compressed_bytes *
    * 1000 / raw_bytes` over the UTF-8 encoding, plus both byte counts so
    * downstream thresholds can re-derive any cut.
    *
    * Row-local `mapPartitions` with ONE `Deflater` reused per partition
    * (native zlib allocation per row would dominate) — zero shuffles, a
    * pure scan-side filter pass like the rest of this surface. DEFLATE
    * output is deterministic for a fixed level within a JVM, but is NOT
    * pinned across zlib builds, so this query is rows-only at the oracle
    * gate; the ordering laws (repetition compresses below prose, random
    * hex above it, ratio bounded by deflate's worst-case overhead) are
    * spec-pinned instead. */
  /** N-gram NOVELTY score — "how much of this document appears nowhere
    * else in the corpus": the fraction of a doc's distinct word-k-shingle
    * hashes with corpus document-frequency 1, in ppm. The complement of
    * the duplication signals: boilerplate and templated docs score near
    * 0, original prose near 10⁶ — the originality axis a curation mix
    * actually balances on.
    *
    * Scale shape: the dedup family's shingle algebra reused — one explode
    * + df hash-agg over (shingle → df), one join back, one per-doc agg;
    * no pairs, no windows. Empty-shingle docs (single word) drop, like
    * the dedup operators. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    val ex = df.select(col(idCol).as("doc_id"),
      explode(graft.functions.GraftFunctions
        .shingleHashes(col(textCol), k)).as("h"))
    val dfTab = ex.groupBy("h").agg(count(lit(1)).as("df"))
    ex.join(dfTab, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1L, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_ppm", expr(
        "cast(n_novel * 1000000 div n_shingles as bigint)"))
  }

  def compressionSignal(df: DataFrame, idCol: String, textCol: String,
                        level: Int = 6): DataFrame = {
    require(level >= 1 && level <= 9, "deflate level in 1..9")
    import org.apache.spark.sql.Encoders
    implicit val enc = Encoders.product[CompressSignal]
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)](Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
      .mapPartitions { it =>
        val deflater = new java.util.zip.Deflater(level)
        // native zlib state — release at task end, not GC time
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
        val buf = new Array[Byte](64 * 1024)
        it.map { case (id, text) =>
          val raw = Option(text).getOrElse("")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8)
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var compressed = 0L
          while (!deflater.finished())
            compressed += deflater.deflate(buf)
          val ratio =
            if (raw.length == 0) 1000L else compressed * 1000L / raw.length
          CompressSignal(id, raw.length.toLong, compressed, ratio)
        }
      }.toDF()
  }

  case class CompressSignal(doc_id: Long, raw_bytes: Long,
                            deflate_bytes: Long, ratio_milli: Long)

  def rrfFuse(rankings: Seq[DataFrame], idCol: String, k0: Int = 60,
              topN: Int = 20): DataFrame = {
    require(rankings.nonEmpty, "at least one ranking")
    require(k0 >= 1, "k0 >= 1")
    val contribs = rankings.map(_.select(col(idCol),
      expr(s"cast(1000000 as bigint) div (cast($k0 as bigint) + rank)")
        .as("c")))
    val fused = contribs.reduce(_ unionByName _)
      .groupBy(idCol).agg(sum(col("c")).as("rrf_score"))
    fused.orderBy(col("rrf_score").desc, col(idCol).asc).limit(topN)
      // post-limit rank over <= topN rows in one partition (see bm25TopK)
      .coalesce(1)
      .sortWithinPartitions(col("rrf_score").desc, col(idCol).asc)
      .withColumn("rank", monotonically_increasing_id() + 1)
      .select(col(idCol), col("rrf_score"), col("rank"))
  }

  /** Frozen BPE merge table for [[bpeEncode]]: rank-ordered pairs over the
    * common English letter sequences, the shape `bpeMerges` learns. The
    * list is a FIXED tokenizer artifact (what "tokenize with the trained
    * tokenizer" means in a training pipeline) — data-independent so the
    * encoding replays exactly in the SQL oracle. Later ranks may consume
    * symbols earlier ranks create (`th`+`e`, `an`+`d`, `in`+`g`). */
  val frozenMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "i" -> "n", "a" -> "n", "e" -> "r",
    "o" -> "n", "r" -> "e", "a" -> "t", "e" -> "n", "o" -> "r",
    "e" -> "s", "an" -> "d", "in" -> "g", "e" -> "d", "s" -> "t",
    "a" -> "r", "o" -> "f", "t" -> "o", "i" -> "s", "o" -> "u")

  /** Character-per-symbol boundary wrapping: `cat` -> `>c<>a<>t<`. The
    * `<` / `>` / `|` delimiter chars are STRIPPED from the text first
    * ([[bpeEncode]]) so a document can never forge a symbol boundary or
    * inflate the `<`-count token metric; no merge pair contains them, so
    * the strip cannot change which merges fire. */
  private def wrapSymbols(w: Column): Column =
    regexp_replace(w, "(.)", ">$1<")

  /** Standard BPE ENCODING under a frozen merge table — the per-document
    * operation every training pipeline runs (exact token counts under the
    * real tokenizer, not the whitespace/regex proxy of [[tokenCounts]]).
    *
    * Mechanics: pre-tokenize like `tokenCounts` (letter runs / digit runs
    * / single punctuation), wrap every character as a `>sym<` boundary
    * unit, join words with `|` (merges can never cross it), then apply
    * each merge `(a,b) -> ab` as ONE left-to-right `replace` of
    * `>a<>b<` with `>ab<`. One pass per rank IS that rank's fixpoint: a
    * merged symbol `ab` can never recreate its own input pair (that would
    * need `ab == a` or `ab == b`, i.e. an empty side), and left-to-right
    * non-overlapping replacement is exactly the greedy order BPE
    * specifies. Token count = occurrences of `<`.
    *
    * Whole chain is codegen'd string expressions over one scan — a pure
    * filter-pass shape at any corpus size (shuffle-free on multi-split
    * data; single-row-group sources fan out first via [[graft.Fanout]]
    * so the replace chain doesn't run single-task); the oracle replays
    * the identical replace chain generated from the same
    * [[frozenMerges]] constant (see `SparkEntryOracles.bpeEncodeSql`). */
  def bpeEncode(docs0: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)] = frozenMerges): DataFrame = {
    val docs = graft.Fanout.maybe(docs0, idCol)
    val s0 = bpeSymbolString(col(textCol))
    docs.select(col(idCol),
      bpeSymbolCount(s0).as("n_symbols"),
      bpeSymbolCount(bpeApplyMerges(s0, merges)).as("n_bpe_tokens"))
  }

  /** The boundary-wrapped symbol string `>c<>a<>t<|...` [[bpeEncode]]
    * starts from (delimiters stripped, pre-tokenized, chars wrapped). */
  private def bpeSymbolString(text: Column): Column = {
    val safe = translate(lower(coalesce(text, lit(""))), "<>|", "")
    val toks = regexp_extract_all(safe,
      lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))
    array_join(transform(toks, wrapSymbols(_)), "|")
  }

  /** One left-to-right `replace` per merge rank (that rank's fixpoint —
    * see [[bpeEncode]]'s proof sketch). */
  private def bpeApplyMerges(s0: Column,
      merges: Seq[(String, String)]): Column =
    merges.foldLeft(s0) { case (s, (a, b)) =>
      replace(s, lit(">" + a + "<>" + b + "<"), lit(">" + a + b + "<"))
    }

  /** Symbol count of a boundary-wrapped string = its `<` count. */
  private def bpeSymbolCount(s: Column): Column =
    (length(s) - length(replace(s, lit("<"), lit("")))).cast("long")

  /** Per-language tokenizer FERTILITY — BPE tokens per whitespace word
    * under the frozen merge table, the standard "how well does this
    * tokenizer fit each language" diagnostic (fertility creep on a
    * language means its text costs more context budget per word). All
    * integer: summed token counts per language plus a ppm ratio by exact
    * integer division. One scan, one tiny hash agg keyed by language —
    * the same filter-pass shape as [[bpeEncode]] at any corpus size.
    *
    * Output: (lang, n_docs, sum_ws_tokens, sum_bpe_tokens,
    * fertility_ppm = sum_bpe * 1e6 div max(sum_ws, 1)). */
  def bpeFertility(docs0: DataFrame, idCol: String, textCol: String,
      langCol: String,
      merges: Seq[(String, String)] = frozenMerges): DataFrame = {
    val docs = graft.Fanout.maybe(docs0, idCol)
    val s0 = bpeSymbolString(col(textCol))
    docs
      .select(col(langCol).as("lang"),
        when(col(textCol).isNull, 0L)
          .otherwise(size(filter(split(col(textCol), " "),
            x => x =!= "")).cast("long")).as("ws"),
        bpeSymbolCount(bpeApplyMerges(s0, merges)).as("bpe"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).as("sum_ws_tokens"),
        sum(col("bpe")).as("sum_bpe_tokens"))
      .withColumn("fertility_ppm", expr(
        "cast(sum_bpe_tokens * 1000000 div greatest(sum_ws_tokens, 1)" +
          " as bigint)"))
  }

  /** Gopher-family duplicate-n-gram signals (Rae et al. 2021 §A1.1):
    * per document, the occurrence count and character mass (ppm of doc
    * chars) of the MOST FREQUENT word n-gram for n = 2..4, and the
    * character mass of ALL n-grams occurring >= 2 times for n = 5..8 —
    * the repetition filters a corpus-quality pass actually applies,
    * complementing the line-level `repetitionStats`. (Simplified from the
    * paper in one documented way: duplicate char mass sums count x gram
    * length without overlap adjustment.)
    *
    * Shape: every metric is INTRA-document, so nothing shuffles — one
    * scan calls the [[org.apache.spark.sql.graft.DupNgramStats]] kernel
    * (all seven gram widths counted in one compiled pass over a joined
    * byte buffer; see its scaladoc for why the two declarative forms —
    * explode + string-keyed hash aggs, and a sorted-array run-length
    * fold — lose by 15x and 10x). Per-doc cost linear in gram bytes: the
    * pure filter-pass shape at any corpus size (shuffle-free on
    * multi-split data; small single-row-group scans fan out first via
    * [[graft.Fanout]]). The
    * top-gram tie is deterministic by the packed-long max idiom
    * (count * 1e9 + char mass; exact while count x len < 1e9, i.e. docs
    * under ~128 MB). */
  def dupNgramStats(docs0: DataFrame, idCol: String, textCol: String): DataFrame = {
    val docs = graft.Fanout.maybe(docs0, idCol)
    val tk = filter(tokens(col(textCol)), t => length(t) > 0)
    val st = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.DupNgramStats(
        org.apache.spark.sql.GraftBridge.expression(tk)))
    val wide = docs.select(col(idCol),
      length(coalesce(col(textCol), lit(""))).cast("long").as("n_chars"),
      coalesce(st, array((0 until 10).map(_ => lit(0L)): _*)).as("st"))
    // kernel slots: [top2_cnt, top2_mass, top3_cnt, top3_mass, top4_cnt,
    // top4_mass, dup5_mass..dup8_mass]; ppm divisions are the exact
    // integer `div` (all inputs non-negative: trunc == floor == DuckDB's
    // //); greatest(n_chars, 1) keeps empty-text rows at 0 instead of
    // dividing by zero
    val outCols: Seq[Column] = (2 to 4).flatMap { n =>
      Seq(expr(s"st[${(n - 2) * 2}]").as(s"top${n}_cnt"),
        expr(s"cast(st[${(n - 2) * 2 + 1}] * 1000000" +
          s" div greatest(n_chars, 1) as bigint)").as(s"top${n}_ppm"))
    } ++ (5 to 8).map { n =>
      expr(s"cast(st[${6 + (n - 5)}] * 1000000" +
        s" div greatest(n_chars, 1) as bigint)").as(s"dup${n}_ppm")
    }
    wide.select(col(idCol) +: outCols: _*)
  }

  /** Vocabulary growth (Heaps' law) curve: the corpus in `buckets` equal
    * id slices, and per slice the NEW word types (first corpus occurrence
    * lands in that slice), cumulative types, token occurrences and
    * cumulative tokens. The curve a tokenizer/corpus plan reads to decide
    * whether more data still buys vocabulary — a flattening `new_types`
    * tail means the corpus is lexically saturated.
    *
    * Scale shape: one tokenize-explode scan → a token-keyed MIN
    * aggregation (first slice per type — map-side combining) plus a
    * slice-keyed occurrence count; everything after runs on the
    * ≤ `buckets`-row table (the sanctioned bounded window). Exact
    * integers end to end. */
  def vocabGrowth(docs: DataFrame, idCol: String, textCol: String,
                  buckets: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets >= 2, "buckets >= 2")
    // rebase on min(id): slices cover the OBSERVED id span, so negative
    // or high-based id ranges slice evenly instead of collapsing (and
    // the rebased spread is non-negative, so `div` == the oracle's `//`
    // and max-id = −1 can't divide by zero); least() clamps the top id.
    // The rebased offset × buckets product runs in decimal(38,0): a
    // full-Long id span (spread up to 2^64−1) would wrap a bigint
    // multiply into negative slices — decimal keeps it exact for ANY
    // long ids, and `div` on decimal still returns bigint. The slice is
    // computed in its OWN projection BELOW the explode: in a combined
    // select the analyzer hoists non-generator expressions above the
    // Generate, re-evaluating the decimal arithmetic once per TOKEN —
    // the r16 sf1 gate caught that as a confirmed 3.9× regression
    // (1.7 → 5.7 s); per-doc it is free
    val ids = docs.agg(min(col(idCol)).cast("long").as("_min"),
      max(col(idCol)).cast("long").as("_max"))
    val sliced = docs.crossJoin(broadcast(ids))
      .select(least(lit(buckets - 1L),
        expr(s"(cast(cast($idCol as bigint) as decimal(38,0)) - _min) " +
          s"* $buckets div (cast(_max as decimal(38,0)) - _min + 1)"))
        .as("slice"),
        col(textCol))
    val toks = sliced
      .select(col("slice"), explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
    val types = toks.groupBy(col("tok"))
      .agg(min(col("slice")).as("slice"))
      .groupBy(col("slice")).agg(count(lit(1)).as("new_types"))
    val occ = toks.groupBy(col("slice")).agg(count(lit(1)).as("n_tokens"))
    // <= buckets rows: the bounded-window exception (see buildVocab);
    // the non-foldable pmod key keeps WindowExec's "No Partition
    // Defined" warning out of the logs (house idiom, temperatureAlloc)
    val w = Window.partitionBy(pmod(col("slice"), lit(1)))
      .orderBy(col("slice"))
      .rowsBetween(Window.unboundedPreceding, 0)
    types.join(occ, Seq("slice"), "full_outer")
      .select(col("slice"),
        coalesce(col("new_types"), lit(0L)).as("new_types"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"))
      .withColumn("cum_types", sum(col("new_types")).over(w))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .select("slice", "new_types", "cum_types", "n_tokens", "cum_tokens")
  }

  /** Zipf-law fit over the corpus rank-frequency curve: the least-
    * squares slope of ln(count) against ln(rank) over the top-`topK`
    * vocabulary, emitted as the POSITIVE exponent ·10⁶ (natural text
    * sits near 1.0e6; a flat tail — templated/boilerplate corpora —
    * reads low, a too-steep head reads high). All arithmetic in the
    * micro-nat ln discipline + decimal(38,0) normal equations
    * (`a_linreg_slope`'s shape); numerator and denominator are
    * non-negative for any rank-decreasing curve, so truncating and
    * flooring division agree and the single-row report is
    * hash-replayable.
    *
    * Scale shape: one tokenize scan → token-keyed counts → a
    * distributed TakeOrdered top-K cut; the regression runs on ≤ topK
    * rows (the post-limit bounded rank, the `buildVocab` idiom). */
  def zipfFit(docs: DataFrame, textCol: String, topK: Int = 300): DataFrame = {
    def lnq(c: Column): Column =
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val top = docs.select(explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(topK)
    // post-limit rank over <= topK rows in one partition (see buildVocab)
    val ranked = top.coalesce(1)
      .sortWithinPartitions(col("cnt").desc, col("tok").asc)
      .withColumn("rank", monotonically_increasing_id() + 1)
    // n_types >= 2 guard: with <= 1 distinct token the normal-equation
    // denominator is zero — Spark's div would yield NULL while DuckDB's
    // // raises, so BOTH sides emit no row on the degenerate corpus
    // (x = lnq(rank) is distinct per rank, so n >= 2 => denominator > 0)
    ranked.select(lnq(col("rank")).as("x"), lnq(col("cnt")).as("y"))
      .agg(count(lit(1)).as("n_types"),
        sum(col("x")).as("sum_x"), sum(col("y")).as("sum_y"),
        sum(expr("cast(x as decimal(38,0)) * cast(x as decimal(38,0))"))
          .as("sum_xx"),
        sum(expr("cast(x as decimal(38,0)) * cast(y as decimal(38,0))"))
          .as("sum_xy"))
      .select(col("n_types"),
        expr("""cast((cast(sum_x as decimal(38,0)) *
              |  cast(sum_y as decimal(38,0)) -
              |  cast(n_types as decimal(38,0)) * sum_xy) * 1000000
              |div (cast(n_types as decimal(38,0)) * sum_xx -
              |  cast(sum_x as decimal(38,0)) *
              |  cast(sum_x as decimal(38,0))) as bigint)""".stripMargin)
          .as("zipf_exp_ppm"))
      .where(col("n_types") >= 2)
  }

  /** Per-source unigram KL divergence from the corpus distribution —
    * "which source's token mix is drifting from the whole" — over the
    * corpus top-`topK` vocabulary with everything else pooled into one
    * OOV cell (bounds the cell space; the tail's mass still counts).
    * KL(source ‖ corpus) = Σ_cell p_s·ln(p_s/p_c), computed in the
    * micro-nat ln-quantization discipline ([[quantizedLm]]): every ln is
    * `round(ln(integer)·1e6)` and all combination is integer, so the
    * report is hash-replayable in ANSI SQL. Emits the total divergence
    * in token·micro-nats and the per-token mean in micro-nats.
    *
    * Scale shape: one tokenize scan → token-keyed corpus counts; the
    * top-K cut is a distributed TakeOrdered; the vocab (topK rows)
    * broadcasts back onto a (source, cell) aggregation — the corpus
    * never shuffles on anything wider than (source, cell). The
    * token·micro-nat sum accumulates in decimal(38,0): count × ln-diff
    * passes int64 near 10^12 tokens per source. */
  def sourceDivergence(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String, topK: Int = 300): DataFrame = {
    def lnq(c: Column): Column =
      round(log(c.cast("double")) * lit(1e6)).cast("long")
    val toks = docs
      .select(col(sourceCol).as("source"),
        explode(tokens(col(textCol))).as("tok"))
      .where(length(col("tok")) > 0)
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("_vc"))
      .orderBy(col("_vc").desc, col("tok").asc).limit(topK)
      .select(col("tok"), lit(1L).as("_in_vocab"))
    val celled = toks.join(broadcast(vocab), Seq("tok"), "left_outer")
      .select(col("source"),
        when(col("_in_vocab").isNotNull, col("tok"))
          .otherwise(lit(" oov")).as("cell")) // " oov": no token has a space
    val bySource = celled.groupBy(col("source"), col("cell"))
      .agg(count(lit(1)).as("s_cnt"))
      .pinLazy() // three derivations below -- never re-scan the corpus
    // corpus cell counts and totals DERIVE from the (source, cell)
    // table: tiny re-aggregations instead of second corpus scans
    val corpus = bySource.groupBy(col("cell"))
      .agg(sum(col("s_cnt")).as("c_cnt"))
    val corpusTot = corpus.agg(sum(col("c_cnt")).as("c_tot"))
    val sourceTot = bySource.groupBy(col("source"))
      .agg(sum(col("s_cnt")).as("s_tot"))
    bySource
      .join(broadcast(corpus), "cell")
      .join(sourceTot, "source") // |sources| rows — AQE broadcasts
      .crossJoin(broadcast(corpusTot))
      .withColumn("_d", lnq(col("s_cnt")) - lnq(col("s_tot"))
        - lnq(col("c_cnt")) + lnq(col("c_tot")))
      .groupBy(col("source"))
      .agg(max(col("s_tot")).as("n_tokens"),
        count(lit(1)).as("n_cells"),
        expr("cast(sum(cast(s_cnt as decimal(38,0)) * _d) as bigint)")
          .as("kl_micro"))
      .withColumn("kl_mean_micro", expr("kl_micro div n_tokens"))
  }
}
