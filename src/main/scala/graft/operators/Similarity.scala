package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.Checkpoints.PinOps

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Tiers: brute-force cosine top-k (the exact baseline — a broadcast
  * join of the query set against the corpus, one scan, no corpus shuffle),
  * a sign-bucket LSH variant (random-hyperplane buckets along fixed
  * coordinate planes), and one IVF index over an integer codebook (fixed
  * or exactly trained), in memory or at rest, composed with SQ8 and PQ
  * code scoring. Queries are small and broadcast in every tier.
  */
object Similarity {

  /** Encode-side fan-out for the scan tiers: the per-vector encode
    * kernels (cell argmax, int8/PQ codes, milli-quantization) are the
    * expensive part of every ANN scan, and a single-row-group source
    * would run them single-task; [[graft.Fanout.maybe]] redistributes
    * only when the scan can't feed the cores (identity on multi-split
    * data — the 100 TB case — and on streaming frames). */
  private def fannedCorpus(corpus: DataFrame, idCol: String): DataFrame =
    graft.Fanout.maybe(corpus, idCol)

  /** Deterministic coarse bucket: the sign bits of the first `dims`
    * components packed into an int — a fixed-hyperplane LSH code. At 100 TB
    * this is the partition key: the corpus is written bucketed by this code
    * so a query touches only its own bucket's files (partition pruning). */
  def signBucket(vec: Column, dims: Int): Column =
    (0 until dims).map { d =>
      when(element_at(vec, d + 1) > 0f, lit(1 << d)).otherwise(lit(0))
    }.reduce(_ + _)

  /** Exact top-`k` cosine neighbors for each query vector. `queries` must be
    * small (it is broadcast); the corpus is scanned exactly once. The
    * per-query ranking window partitions by query id, so the shuffle volume
    * is |queries| × |corpus| score rows — for big query sets switch to the
    * bucketed variant below. Ties break by neighbor id (deterministic). */
  def knnBruteForce(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    excludeSelf: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val joined = c.crossJoin(broadcast(q))
    // Self-exclusion is opt-out: correct for self-search (corpus == queries);
    // when corpus and queries are distinct datasets whose ids merely collide,
    // pass excludeSelf = false so legitimate neighbors aren't dropped.
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val scored = kept.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** RADIUS (range) similarity search: every corpus vector whose cosine
    * to the query is at least √(simSqPpm/10⁶) — the "all neighbors
    * within a similarity ball" API that top-k search cannot express
    * (a recall-critical dedup/contamination sweep wants EVERYTHING past
    * the threshold, however many). The test is [[graft.operators.Dedup
    * .semanticDedup]]'s exact integer form — milli-quantized vectors,
    * `score²·10⁶ ≥ simSqPpm·|a|²·|b|²` in decimal, `score > 0` guard
    * (anti-similar and zero vectors never match) — so the full result
    * set replays hash-exactly in SQL.
    *
    * Scale shape: the query set broadcasts into ONE corpus scan — no
    * shuffle, no window; output size is data-determined (that's the
    * point of a radius query). For corpus-× -corpus radius joins use the
    * cell-blocked [[Dedup.semanticDedup]]/`embeddingPairs` family
    * instead — this is the bounded-query-set form. Output:
    * (query_id, neighbor_id), plus the integer score for rank-free
    * downstream ordering. */
  def knnRadius(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, simSqPpm: Long = 810000L,
                excludeSelf: Boolean = true): DataFrame = {
    require(simSqPpm >= 0 && simSqPpm <= 1000000L,
      "simSqPpm is cos² in parts-per-million: [0, 1000000]")
    val c = corpus.select(col(idCol).as("neighbor_id"),
      quantizeMilli(col(vecCol)).as("iq_c"))
      .withColumn("n2_c", dotLong(col("iq_c"), col("iq_c")))
    val q = queries.select(col(idCol).as("query_id"),
      quantizeMilli(col(vecCol)).as("iq_q"))
      .withColumn("n2_q", dotLong(col("iq_q"), col("iq_q")))
    val d = (x: Column) => x.cast("decimal(19,0)")
    val joined = c.crossJoin(broadcast(q))
      .withColumn("score", dotLong(col("iq_c"), col("iq_q")))
      .where(col("score") > 0 &&
        d(col("score")) * d(col("score")) * d(lit(1000000L)) >=
          d(lit(simSqPpm)) * d(col("n2_c")) * d(col("n2_q")))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    kept.select(col("query_id"), col("neighbor_id"), col("score"))
  }

  /** Matryoshka truncation recall (Kusupati et al. 2022, arXiv:2205.13147):
    * per query, how many of the exact top-`k` cosine neighbors survive
    * when every vector is truncated to its first `dims` components — THE
    * measurement behind "can we store/search the short prefix instead?"
    * (an MRL-trained embedder front-loads information, so high overlap at
    * small `dims` licenses a 1/2–1/4 scan-bandwidth index at 100 TB).
    *
    * Both sides reuse [[knnBruteForce]]'s exact ranking (same tiebreak),
    * so overlap is well-defined; the output is an integer overlap count
    * per query (0..k), joined back to every query so a zero-overlap query
    * still reports. Cost: two corpus scans with broadcast probes — the
    * same shape as `knn_brute`, twice. */
  def matryoshkaRecall(corpus: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       dims: Int): DataFrame = {
    def truncate(d: DataFrame) = d.select(col(idCol),
      slice(col(vecCol), 1, dims).as(vecCol))
    val full = knnBruteForce(corpus, queries, idCol, vecCol, k)
    val short = knnBruteForce(truncate(corpus), truncate(queries),
      idCol, vecCol, k)
    val overlap = full.select("query_id", "neighbor_id")
      .join(short.select("query_id", "neighbor_id"),
        Seq("query_id", "neighbor_id"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_overlap"))
    queries.select(col(idCol).cast("long").as("query_id"))
      .join(overlap, Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_overlap"), lit(0L)).as(s"overlap_at_$k"))
  }

  /** Deterministic NEGATIVE sampling for contrastive training: per query,
    * `k` pseudo-random corpus vectors that are provably NOT near neighbors
    * — the anchors' negatives a contrastive objective (InfoNCE, triplet)
    * trains against. "Random" is the md5 order on (salt, query, candidate)
    * — replayable in the SQL oracle and stable across runs/partitionings,
    * the same pinned-draw discipline as the Poisson bootstrap; "not near"
    * is an anti-join against the exact top-`excludeTopM` cosine neighbors
    * (false negatives — near-dups sampled as negatives — are the failure
    * mode this guard exists for).
    *
    * Scale shape: one corpus scan against broadcast queries (the
    * [[knnBruteForce]] contract — queries small by construction), the
    * exclusion set is |queries| × m rows (broadcast anti-join), and the
    * per-query rank window is the same |queries| × |corpus| shuffle as
    * `knn_brute` — for big query sets switch the candidate source to the
    * bucketed variant exactly as that operator documents.
    *
    * Output: (query_id, rank 1..k, negative_id), fully deterministic. */
  def negativeSamples(corpus: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String, k: Int,
                      excludeTopM: Int, salt: String = "neg"): DataFrame = {
    val near = knnBruteForce(corpus, queries, idCol, vecCol, excludeTopM)
      .select("query_id", "neighbor_id")
    val q = queries.select(col(idCol).cast("long").as("query_id"))
    val cand = corpus.select(col(idCol).cast("long").as("neighbor_id"))
      .crossJoin(broadcast(q))
      .where(col("query_id") =!= col("neighbor_id"))
      .join(near, Seq("query_id", "neighbor_id"), "left_anti")
    val w = Window.partitionBy("query_id").orderBy(
      md5(concat_ws(":", lit(salt), col("query_id"), col("neighbor_id"))
        .cast("binary")).asc,
      col("neighbor_id").asc)
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
      .select(col("query_id"), col("rank"),
        col("neighbor_id").as("negative_id"))
  }

  /** Materialize the corpus PARTITIONED BY sign bucket — the at-rest layout
    * for ANN at scale: a query's candidate set lives in one partition
    * directory, so the scan prunes to ~1/2^dims of the files before any
    * row is read (see [[knnPrePartitioned]]). */
  def writeBucketed(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, signDims: Int = 4): Unit =
    corpus.select(col(idCol), col(vecCol),
      signBucket(col(vecCol), signDims).as("bucket"))
      .write.partitionBy("bucket").mode("overwrite").parquet(path)

  /** ANN over a [[writeBucketed]] layout: the bucket predicate becomes a
    * PartitionFilter — only the query buckets' files are touched. The
    * query-side bucket set is computed driver-side (queries are the small,
    * broadcast side by construction). Output shape of [[knnBruteForce]]. */
  def knnPrePartitioned(spark: org.apache.spark.sql.SparkSession, path: String,
                        queries: DataFrame, idCol: String, vecCol: String,
                        k: Int, signDims: Int = 4,
                        multiProbe: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(probeBuckets(col(vecCol), signDims, multiProbe)).as("bucket"))
    val queryBuckets = q.select("bucket").distinct()
      .collect().map(_.getInt(0)).toSeq
    val c = spark.read.parquet(path)
      .where(col("bucket").isin(queryBuckets: _*)) // partition pruning
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        col("bucket"))
    val scored = c.join(broadcast(q), "bucket")
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** A query's probe set: its own sign bucket plus, with `multiProbe`,
    * every Hamming-1 neighbor bucket — standard multi-probe LSH. A near
    * neighbor differing in ONE hyperplane sign is recovered at the cost of
    * scanning (dims+1)/2^dims of the corpus instead of 1/2^dims (measured
    * recall@3 on the test corpus: 0.14 single-probe -> ~0.5 multi-probe). */
  def probeBuckets(vec: Column, dims: Int, multiProbe: Boolean): Column = {
    val own = signBucket(vec, dims)
    if (!multiProbe) array(own)
    else array(own +: (0 until dims).map(d => own.bitwiseXOR(lit(1 << d))): _*)
  }

  /** Bucketed ANN: queries search their own sign bucket (+ Hamming-1
    * buckets with `multiProbe`, the default). Same output shape as
    * [[knnBruteForce]]; recall < 1 by construction (standard LSH trade)
    * but the scanned fraction drops ~2^dims/(dims+1)-fold. */
  def knnBucketed(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  signDims: Int = 4, excludeSelf: Boolean = true,
                  multiProbe: Boolean = true): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      explode(probeBuckets(col(vecCol), signDims, multiProbe)).as("bucket"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      signBucket(col(vecCol), signDims).as("bucket"))
    val joined = c.join(broadcast(q), "bucket")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val scored = kept.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** Shared SQ8 tail: int8-score `kept` (must carry query_id/neighbor_id/
    * q8/c8), keep the top `candidates` per query, re-rank the survivors
    * in exact fp32 against `corpus`, emit (query_id, rank, neighbor_id).
    * One body for both quantized tiers so their cut/re-rank semantics
    * can't drift apart. */
  private def int8CutAndRerank(kept: DataFrame, corpus: DataFrame,
                               qFull: DataFrame, idCol: String, vecCol: String,
                               k: Int, candidates: Int): DataFrame =
    cutAndRerank(kept.withColumn("approx", int8Cosine(col("q8"), col("c8"))),
      corpus, qFull, idCol, vecCol, k, candidates)

  /** Shared approximate-tier tail: `scored` carries (query_id, neighbor_id,
    * approx); keep the top `candidates` per query by approx score, re-rank
    * the survivors in exact fp32 cosine against `corpus`, emit
    * (query_id, rank, neighbor_id). One body for every quantized tier
    * (SQ8, PQ) so their cut/re-rank semantics can't drift apart. */
  private def cutAndRerank(scored: DataFrame, corpus: DataFrame,
                           qFull: DataFrame, idCol: String, vecCol: String,
                           k: Int, candidates: Int): DataFrame = {
    // candidate cut through the engine's own map-side-partial top-k
    // operator instead of a rank window: each task keeps ≤ `candidates`
    // rows per query BEFORE the exchange, so the shuffle carries
    // O(tasks × queries × candidates) skinny rows, never the full scored
    // relation (at 100 TB the scored relation is corpus-sized). The
    // order (approx desc, neighbor_id asc) is TOTAL per query, so the
    // shortlist is identical to the window form — the fixed tiers'
    // oracles hash-pin it.
    val cands = org.apache.spark.sql.graft.TopKPerKeyOps.topKPerKey(
      scored.select("query_id", "neighbor_id", "approx"),
      Seq("query_id"), Seq(("approx", false), ("neighbor_id", true)),
      candidates)
      .select("query_id", "neighbor_id")
    val withVecs = cands
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("c_vec")), "neighbor_id")
      .join(broadcast(qFull.select(col("query_id"), col("q_vec"))), "query_id")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    withVecs.withColumn("cos", cosineSim(col("q_vec"), col("c_vec")))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id")
  }

  /** A FIXED literal codebook for [[knnIvf]]: centroid j puts weight
    * 100 on every dimension i with i mod nlist == j (an interleaved
    * axis-group partitioning of the space). Deterministic data-independent
    * literals, no training pass. `nlist` must divide `dims`: then every
    * centroid has the same |c|², so the IVF tier's L2 argmin and L2
    * probe ranking order cells exactly like the dot product (ties to the
    * smallest cell on both). */
  def fixedCodebook(nlist: Int, dims: Int): Seq[Seq[Long]] = {
    require(nlist >= 1 && dims % nlist == 0,
      s"nlist=$nlist must divide dims=$dims")
    Seq.tabulate(nlist)(j => Seq.tabulate(dims)(i =>
      if (i % nlist == j) 100L else 0L))
  }

  /** Milli-unit integer quantization: q(x) = floor(x·1000) per component.
    * float→double is exact and floor(double·1000) is the same IEEE op in
    * every engine, so downstream INTEGER dot products are bit-exact and
    * combine-order-free — the quantization that lets an ANN query carry a
    * full hash oracle.
    *
    * PRECONDITION: `vec` must contain no null ELEMENTS. The result is
    * wrapped in [[org.apache.spark.sql.graft.KnownNoNullElements]] so
    * consumers (`dot_long`) compile the tight no-null-guard loop; a null
    * element would flow through floor() as a null the narrowed schema
    * declares impossible, and dot_long would read unspecified values —
    * silently, defeating its null-propagation contract. All engine
    * callers feed parquet `array<float>` embeddings with
    * containsNull=false; external callers with nullable elements must
    * coalesce/filter first. (A defensive per-element coalesce here would
    * re-add the exact branch the wrapper exists to remove.) */
  def quantizeMilli(vec: Column): Column =
    // KnownNoNullElements: transform() always infers containsNull=true,
    // which would compile a per-element null guard into dot_long's hot
    // loop (~17% on knn_ivf_pq_fixed); every element here is provably
    // floor(x·1000) of a present float
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.KnownNoNullElements(
        org.apache.spark.sql.GraftBridge.expression(
          transform(vec, x => floor(x.cast("double") * lit(1000)).cast("long")))))

  /** Integer dot product of a quantized vector column against a literal
    * integer vector. */
  private def intDotLit(iq: Column, cent: Seq[Long]): Column =
    dotLong(iq, typedLit(cent))

  /** Deterministic cell of `vec` under the literal integer codebook by
    * dot-product argmax — the blocking of [[Dedup.semanticDedup]],
    * semantic decontamination and prototype pruning. Under
    * [[fixedCodebook]] it is the same cell as the IVF tier's L2 argmin
    * (spec-pinned). */
  def cellOf(vec: Column, centroids: Seq[Seq[Long]]): Column =
    fixedCell(quantizeMilli(vec), centroids)

  /** [[cellOf]] over an ALREADY-quantized integer vector (callers that
    * reuse the quantized form across cell + score, e.g.
    * [[Embeddings.prototypePrune]]). */
  def cellOfQuantized(iq: Column, centroids: Seq[Seq[Long]]): Column =
    fixedCell(iq, centroids)

  /** The exact integer similarity of a quantized vector to its OWN
    * (argmax) cell centroid — by definition the max dot over the
    * codebook, so no cell lookup is needed. */
  def cellScoreQuantized(iq: Column, centroids: Seq[Seq[Long]]): Column =
    greatest(centroids.map(c => intDotLit(iq, c)): _*)

  /** Argmax cell over the literal codebook, ties to the SMALLEST cell
    * index (greatest-struct on (score, -index)). */
  private def fixedCell(iq: Column, centroids: Seq[Seq[Long]]): Column = {
    val scored = centroids.zipWithIndex.map { case (c, j) =>
      struct(intDotLit(iq, c).as("s"), lit(-j).as("nj"))
    }
    -greatest(scored: _*).getField("nj")
  }

  // ---- IVF: one cell-partitioned index over an integer codebook ----
  // The codebook is data (`Seq[Seq[Long]]`, milli-space): either the
  // literal [[fixedCodebook]] or the exact-arithmetic k-means of
  // [[Embeddings.exactCentroidsFor]]. Every step — quantize, assign,
  // probe, score, top-k — is integer-exact, so ANSI SQL replays the
  // whole dataflow and every IVF query carries a full hash oracle.

  /** Each query's `nprobe` cells by smallest exact squared-L2 distance
    * to the centroid (expanded form −2·q·c + |c|²; the per-query |q|²
    * cannot change a ranking or its ties), ties to the smallest cell —
    * the metric the exact k-means trains with and the rule
    * [[Embeddings.l2ArgminCell]] assigns corpus rows by. For
    * [[fixedCodebook]] every |c|² is equal, so this is the dot-product
    * ranking with the same ties. */
  private def ivfProbes(queries: DataFrame, idCol: String, vecCol: String,
                        centroids: Seq[Seq[Long]],
                        nprobe: Int): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        quantizeMilli(col(vecCol)).as("q_iq"))
      .select(col("query_id"), col("q_iq"),
        posexplode(array(centroids.map(c =>
          lit(-2L) * intDotLit(col("q_iq"), c) +
            lit(c.map(x => x * x).sum)): _*))
          .as(Seq("cell", "d2")))
      .withColumn("_pr", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("d2").asc, col("cell").asc)))
      .where(col("_pr") <= nprobe)
      .select("query_id", "q_iq", "cell")

  /** IVF (inverted-file) ANN over an integer codebook: the corpus
    * partitions into cells by L2 argmin against the centroids, each
    * query probes its `nprobe` nearest cells, candidates score by exact
    * integer dot and the top `k` rank per query. Candidate fraction is
    * ~nprobe/nlist; with a trained codebook cells track the data
    * distribution, so recall holds on clustered embeddings.
    *
    * Scale shape: scan-side assignment against the literal codebook,
    * candidates from corpus ⋈ broadcast(probes) keyed on the cell — the
    * corpus never shuffles. At rest, [[writeIvf]] partitions the corpus
    * by cell and [[knnIvfPartitioned]] turns the probes into partition
    * pruning. Output: (query_id, neighbor_id, rank, score), all BIGINT. */
  def knnIvf(corpus: DataFrame, queries: DataFrame,
             idCol: String, vecCol: String, k: Int,
             centroids: Seq[Seq[Long]], nprobe: Int,
             excludeSelf: Boolean = true): DataFrame = {
    require(centroids.size >= 2, "at least two cells")
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .withColumn("cell", Embeddings.l2ArgminCell(col("c_iq"), centroids))
    ivfRank(assigned, ivfProbes(queries, idCol, vecCol, centroids, nprobe),
      k, excludeSelf)
  }

  /** Shared scoring tail of the IVF tier: candidates from the cell
    * equi-join (probes broadcast), exact-integer scores, top-k. One body
    * for the in-memory and at-rest paths so their ranking semantics
    * cannot drift. */
  private def ivfRank(assigned: DataFrame, probes: DataFrame, k: Int,
                      excludeSelf: Boolean): DataFrame = {
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    val scored = kept.withColumn("score",
      dotLong(col("q_iq"), col("c_iq")))
    scored
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** Measured IVF recall@k: [[knnIvf]] at the operating `nprobe`
    * against ITSELF probing EVERY cell — probe-all IS the exact integer-
    * dot brute force (each corpus vector lives in exactly one cell, so
    * all cells = all candidates), which isolates the one thing nprobe
    * trades (probe misses) from quantization, normalization and tie
    * semantics (identical in both arms by construction). Per query:
    * (n_exact, n_found, recall_ppm) — the measurement an nprobe choice
    * should be judged by, on the corpus' own geometry.
    *
    * Scale shape: two runs of the IVF tier (the exact arm scores
    * nlist/nprobe× more candidates — still the bounded-query-set
    * broadcast shape) + one pair-keyed join of two ≤ |queries|·k
    * relations. */
  def ivfRecallEval(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    centroids: Seq[Seq[Long]], nprobe: Int): DataFrame = {
    val ivf = knnIvf(corpus, queries, idCol, vecCol, k, centroids, nprobe)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("_f"))
    val exact = knnIvf(corpus, queries, idCol, vecCol, k, centroids,
      nprobe = centroids.size)
    exact.join(ivf, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_exact"),
        sum(coalesce(col("_f"), lit(0L))).as("n_found"))
      .withColumn("recall_ppm", expr(
        "cast(cast(n_found as decimal(38,0)) * 1000000 div n_exact" +
          " as bigint)"))
  }

  /** IVF + SQ8, composed (the FAISS "IVF,SQ8" index as a dataflow): the
    * codebook prunes the corpus to `nprobe` cells ([[knnIvf]]'s
    * assignment and probe rules), the pruned candidates are scored on
    * int8 codes (round(x·127/maxabs) + the integer-ratio cosine — the
    * `knn_int8_rerank` replay), and only the top `candidates` per query
    * are re-ranked in exact fp32 (the `knn_brute` replay). The three
    * savings multiply — at 100 TB the scan reads nprobe/nlist of the
    * PARTITIONS, a quarter of the BYTES per row scanned (codes vs fp32),
    * and computes fp32 distances for a few dozen rows per query. */
  def knnIvfSq8(corpus: DataFrame, queries: DataFrame,
                idCol: String, vecCol: String, k: Int,
                centroids: Seq[Seq[Long]], nprobe: Int,
                candidates: Int = 25,
                excludeSelf: Boolean = true): DataFrame = {
    val assigned = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        int8Codes(col(vecCol)).as("c8"),
        Embeddings.l2ArgminCell(quantizeMilli(col(vecCol)), centroids)
          .as("cell"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), int8Codes(col(vecCol)).as("q8"))
    val probes = ivfProbes(queries, idCol, vecCol, centroids, nprobe)
      .select("query_id", "cell")
      .join(broadcast(qFull.select(col("query_id"), col("q8"))), "query_id")
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    int8CutAndRerank(kept, corpus, qFull, idCol, vecCol, k, candidates)
  }

  // ---- the at-rest IVF layout: <path>/data partitioned by cell, ----
  // ---- <path>/centroids the integer codebook it was assigned with ----

  /** Materialize the corpus PARTITIONED BY IVF cell — the at-rest layout
    * of [[knnIvf]]: `<path>/data` partitioned by cell (L2 argmin, the
    * in-memory rule), `<path>/centroids` the integer codebook as a tiny
    * parquet, so every later reader and appender uses the codebook the
    * layout was built with. Queries against this layout touch only
    * their probe cells' files.
    *
    * `extraCols`: metadata the layout carries for FILTERED search
    * (labels, timestamps, source tags) — plain parquet columns inside
    * each cell partition, so a search-time predicate on them gets
    * row-group min/max skipping on top of the cell partition pruning. */
  def writeIvf(corpus: DataFrame, idCol: String, vecCol: String,
               path: String, centroids: Seq[Seq[Long]],
               extraCols: Seq[String] = Nil): Unit = {
    import corpus.sparkSession.implicits._
    corpus.select(col(idCol) +: col(vecCol) +: extraCols.map(col): _*)
      .withColumn("cell",
        Embeddings.l2ArgminCell(quantizeMilli(col(vecCol)), centroids))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/data")
    centroids.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("cell", "centroid")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** The persisted integer codebook of a [[writeIvf]] layout,
    * cell-ordered. */
  def readIvfCodebook(spark: org.apache.spark.sql.SparkSession,
                      path: String): Seq[Seq[Long]] =
    spark.read.parquet(s"$path/centroids")
      .orderBy("cell")
      .collect()
      .map(r => r.getSeq[Long](1))
      .toSeq

  /** INCREMENTAL layout maintenance — how a 100 TB corpus actually grows:
    * assign the arriving batch's cells with the layout's PERSISTED
    * codebook (no re-train, no rescan of the existing corpus) and APPEND
    * its rows, with the layout's extra columns, into the cell-partitioned
    * directory. Existing partition files are never rewritten (append adds
    * new files next to them — pinned in `SimilaritySpec`), so the
    * append's cost is proportional to the BATCH, not the corpus, and
    * concurrent readers keep their snapshot. Because the codebook is
    * read from the layout, append is always equivalent to a rebuild
    * under that codebook.
    *
    * The trade every IVF deployment makes: with a trained codebook,
    * cells drift as the data distribution drifts, so recall degrades if
    * new data is distributed unlike the build corpus. Monitor cell-size
    * skew and re-train (a full [[writeIvf]]) when it degenerates — a
    * re-train is the ONLY event that changes query results. */
  def appendToIvf(batch: DataFrame, idCol: String, vecCol: String,
                  path: String): Unit = {
    val spark = batch.sparkSession
    val extraCols = spark.read.parquet(s"$path/data").columns
      .filterNot(Set(idCol, vecCol, "cell"))
    batch.select(col(idCol) +: col(vecCol) +: extraCols.map(col): _*)
      .withColumn("cell", Embeddings.l2ArgminCell(
        quantizeMilli(col(vecCol)), readIvfCodebook(spark, path)))
      .write.partitionBy("cell").mode("append").parquet(s"$path/data")
  }

  private val ivfLayouts =
    new graft.SessionMemo[(String, Int, Int, Int), String]()

  /** The [[writeIvf]] layout of `corpus` under the trained-exact codebook
    * ([[Embeddings.exactCentroidsFor]] — shared with the in-memory tier,
    * so a caller running both trains once), built at most once per
    * (session, key, dim, nlist, iters) into its own
    * [[graft.TmpArtifacts.path]] directory. Returns the layout path for
    * [[knnIvfPartitioned]]. This is the pattern to copy at scale: the
    * codebook and the cell-partitioned corpus are persisted artifacts,
    * and queries only ever pay the partition-pruned probe read — never
    * a re-train. */
  def ivfLayoutFor(corpus: DataFrame, idCol: String, vecCol: String,
                   key: String, dim: Int, nlist: Int, iters: Int): String =
    ivfLayouts.getOrCompute(corpus.sparkSession, (key, dim, nlist, iters)) {
      val path = graft.TmpArtifacts.path("graft-ivf",
        s"$key#dim=$dim#nlist=$nlist#iters=$iters")
      writeIvf(corpus, idCol, vecCol, path, Embeddings.exactCentroidsFor(
        corpus, idCol, vecCol, dim, nlist, iters, key))
      path
    }

  /** [[knnIvf]] over a [[writeIvf]] layout, under the layout's persisted
    * codebook: probe cells become a partition filter — only those cells'
    * files are read. Identical output to the in-memory form on the same
    * corpus and codebook (shared probes and ranking tail), which is what
    * lets an at-rest or APPENDED layout answer under the same SQL oracle
    * as the in-memory query.
    *
    * `preFilter`: FILTERED ANN — a metadata predicate over the layout's
    * extra columns, applied on the raw scan so it reaches the parquet
    * reader (PushedFilters row-group skipping) UNDER the cell partition
    * pruning; candidates that fail it never quantize, score, or rank. */
  def knnIvfPartitioned(spark: org.apache.spark.sql.SparkSession,
                        path: String, queries: DataFrame,
                        idCol: String, vecCol: String, k: Int,
                        nprobe: Int, excludeSelf: Boolean = true,
                        preFilter: Option[Column] = None): DataFrame = {
    val (probes, assigned) =
      probedLayout(spark, path, queries, idCol, vecCol, nprobe, preFilter)
    ivfRank(assigned, probes, k, excludeSelf)
  }

  /** Partition-pruned RADIUS search over a [[writeIvf]] layout —
    * [[knnRadius]]'s scale form: only the queries' `nprobe` nearest
    * cells are READ from disk (cell partition pruning), then the same
    * exact integer ball test runs within the probed candidates.
    * Deterministic end to end (persisted codebook → fixed probe cells →
    * fixed candidate set), so the PRUNED result itself is hash-oracled.
    * Recall vs the full-scan [[knnRadius]] trades with `nprobe` exactly
    * as in IVF top-k — a neighbor whose cell is never probed is missed;
    * the containment law (pruned ⊆ full) is spec-pinned. */
  def knnRadiusPartitioned(spark: org.apache.spark.sql.SparkSession,
                           path: String, queries: DataFrame,
                           idCol: String, vecCol: String, nprobe: Int,
                           simSqPpm: Long = 810000L,
                           excludeSelf: Boolean = true): DataFrame = {
    require(simSqPpm >= 0 && simSqPpm <= 1000000L,
      "simSqPpm is cos² in parts-per-million: [0, 1000000]")
    val (probes, assigned) =
      probedLayout(spark, path, queries, idCol, vecCol, nprobe, None)
    val d = (x: Column) => x.cast("decimal(19,0)")
    val joined = assigned.join(broadcast(probes), "cell")
      .withColumn("score", dotLong(col("q_iq"), col("c_iq")))
      .withColumn("n2_q", dotLong(col("q_iq"), col("q_iq")))
      .withColumn("n2_c", dotLong(col("c_iq"), col("c_iq")))
      .where(col("score") > 0 &&
        d(col("score")) * d(col("score")) * d(lit(1000000L)) >=
          d(lit(simSqPpm)) * d(col("n2_c")) * d(col("n2_q")))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    // a corpus vector lives in exactly ONE stored cell, so a (query,
    // neighbor) pair meets at most once — no dedup pass needed
    kept.select(col("query_id"), col("neighbor_id"), col("score"))
  }

  /** The two sides of an at-rest search: the probes under the layout's
    * persisted codebook, and the layout rows of the probed cells only
    * (the cell predicate is a PartitionFilter), quantized for scoring.
    * The probes are pinned because their plan runs twice — collected
    * driver-side for the cell list, then as the join's broadcast side
    * (queries are small by contract, so the pin is tiny). */
  private def probedLayout(spark: org.apache.spark.sql.SparkSession,
                           path: String, queries: DataFrame, idCol: String,
                           vecCol: String, nprobe: Int,
                           preFilter: Option[Column])
      : (DataFrame, DataFrame) = {
    val probes = ivfProbes(queries, idCol, vecCol,
      readIvfCodebook(spark, path), nprobe).pin()
    val probeCells = probes.select("cell").distinct()
      .collect().map(_.getInt(0)).toSeq
    val base = spark.read.parquet(s"$path/data")
      .where(col("cell").isin(probeCells: _*)) // partition pruning
    (probes, preFilter.fold(base)(base.where)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"), col("cell")))
  }

  /** Retention for [[compactIvfCells]]'s per-cell backups (and orphaned
    * staging dirs from crashed runs): keep the newest `keepLast` backups
    * PER CELL, delete the rest, and drop any staging dir older than the
    * newest backup of its cell (a crash before the backup rename leaves
    * one; it can never be the live data). The maintenance twin of
    * [[graft.sources.Sinks.vacuumBackups]] — unbounded backup chains
    * eventually dominate storage. Only names matching the
    * `cell=N-<timestamp>` pattern are candidates; anything else under
    * the roots is never touched. Returns the deleted paths.
    *
    * `keepLast` ≥ 1 always: a cell missing after a crash is RESTORED
    * from its newest backup (the backup IS the live data in that
    * window), so the newest must survive every vacuum. Run this from
    * the same single-writer maintenance schedule as the compaction
    * itself, never concurrently with one (an in-flight staging dir
    * would read as an orphan). */
  def vacuumIvfBackups(spark: org.apache.spark.sql.SparkSession,
                       path: String, keepLast: Int = 1): Seq[String] = {
    require(keepLast >= 1, "keepLast must be >= 1 (see scaladoc)")
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val fs = FileSystem.get(new HPath(path).toUri,
      spark.sparkContext.hadoopConfiguration)
    def doomedUnder(root: HPath, keep: Int): Seq[HPath] =
      if (!fs.exists(root)) Seq.empty
      else fs.listStatus(root).map(_.getPath)
        .filter(_.getName.matches("cell=\\d+-\\d+"))
        .groupBy(_.getName.replaceAll("-\\d+$", ""))
        .values.flatMap { bs =>
          bs.sortBy(_.getName.replaceAll(".*-", "").toLong)
            .dropRight(keep)
        }.toSeq
    val doomed = doomedUnder(new HPath(s"$path/backups"), keepLast) ++
      doomedUnder(new HPath(s"$path/staging"), 0) // staging: all orphans
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(_.toString)
  }

  /** Compact the cells of an IVF layout that have accumulated small
    * files from [[appendToIvf]] — the maintenance twin of the append
    * path (every stream of appends needs one, or open/seek cost
    * eventually dominates the pruned reads the layout exists for). Only
    * cells whose file count exceeds BOTH `maxFilesPerCell` and their
    * size-derived target (`ceil(bytes/targetBytes)`) are rewritten;
    * everything else is untouched. Returns the compacted cell ids.
    *
    * Crash-safe in the [[graft.sources.Sinks.snapshotOverwrite]]
    * discipline, adapted to a partitioned layout: the rewrite STAGES
    * OUTSIDE the data directory (a `cell=N.staging-…` dir inside it
    * would corrupt concurrent readers' partition discovery), then swaps
    * via two metadata renames (cell → timestamped backup, staged →
    * cell). A crash between the renames leaves the cell missing but its
    * backup intact; the recovery sweep at the START of the next call
    * restores the newest backup of any missing cell — same
    * recover-on-open contract as the snapshot sinks. `crashPoint` is the
    * test hook ("staged" / "backed-up"), mirroring `snapshotOverwrite`. */
  def compactIvfCells(spark: org.apache.spark.sql.SparkSession,
                      path: String, maxFilesPerCell: Int = 8,
                      targetBytes: Long = 128L * 1024 * 1024,
                      crashPoint: String => Unit = _ => ()): Seq[Int] = {
    import org.apache.hadoop.fs.{FileSystem, Path => HPath}
    val data = new HPath(s"$path/data")
    val fs = FileSystem.get(data.toUri,
      spark.sparkContext.hadoopConfiguration)
    val backups = new HPath(s"$path/backups")
    // recovery sweep: a crash between the two swap renames left the cell
    // dir missing — restore its NEWEST backup (suffix is a timestamp)
    if (fs.exists(backups)) {
      fs.listStatus(backups).map(_.getPath)
        .filter(_.getName.matches("cell=\\d+-\\d+"))
        .groupBy(_.getName.replaceAll("-\\d+$", ""))
        .foreach { case (cellName, bs) =>
          val cellDir = new HPath(data, cellName)
          if (!fs.exists(cellDir)) {
            val newest = bs.maxBy(_.getName.replaceAll(".*-", "").toLong)
            if (!fs.rename(newest, cellDir)) throw new java.io.IOException(
              s"recovery rename $newest -> $cellDir failed")
          }
        }
    }
    if (!fs.exists(data)) return Seq.empty
    val cells = fs.listStatus(data)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("cell="))
      .map(_.getPath).sortBy(_.getName)
    cells.flatMap { cellDir =>
      val files = fs.listStatus(cellDir).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      val want = math.max(1,
        math.ceil(files.map(_.getLen).sum.toDouble / targetBytes).toInt)
      if (files.length <= math.max(want, maxFilesPerCell)) None
      else {
        val ts = System.currentTimeMillis()
        val staged = new HPath(s"$path/staging/${cellDir.getName}-$ts")
        spark.read.parquet(cellDir.toString).repartition(want)
          .write.mode("overwrite").parquet(staged.toString)
        crashPoint("staged")
        fs.mkdirs(backups)
        val backup = new HPath(backups, s"${cellDir.getName}-$ts")
        if (!fs.rename(cellDir, backup)) throw new java.io.IOException(
          s"rename $cellDir -> $backup failed")
        crashPoint("backed-up")
        if (!fs.rename(staged, cellDir)) throw new java.io.IOException(
          s"rename $staged -> $cellDir failed")
        Some(cellDir.getName.stripPrefix("cell=").toInt)
      }
    }.toSeq
  }

  /** PQ code of subspace `j` under the FIXED one-hot sub-books, on the
    * milli-quantized vector: sub-book j's codeword c puts weight `w` on
    * local dimension c and 0 elsewhere (ksub == dsub — [[fixedCodebook]]'s
    * axis-group construction one level down), so argmin-L2 == argmax of
    * the codeword dot == argmax_c q[j·dsub+c] (the ‖c‖² term is constant
    * across c and the ‖q‖² term across codewords), ties to the smallest
    * code. Same lambda-free struct-greatest shape as [[fixedCell]]. */
  private def fixedPqCode(iq: Column, j: Int, dsub: Int): Column = {
    val scored = (0 until dsub).map { c =>
      struct(element_at(iq, j * dsub + c + 1).as("s"), lit(-c).as("nc"))
    }
    (-greatest(scored: _*).getField("nc")).cast("long")
  }

  /** All m fixed-book PQ codes of the milli-quantized vector. */
  private def fixedPqCodes(iq: Column, m: Int, dsub: Int): Column =
    array((0 until m).map(j => fixedPqCode(iq, j, dsub)): _*)

  /** Shared ADC scoring tail of the fixed-PQ tier: candidates carry the
    * corpus side's `_codes` and the query side's `q_iq`; the asymmetric-
    * distance score is Σ_j lut[j][code_j] where the one-hot LUT collapses
    * to `weight · q_iq[j·dsub + code_j]` — m integer array lookups + adds
    * per row, all codegen'd, exactly replayable in SQL. */
  private def pqAdcFixedRank(kept: DataFrame, k: Int, m: Int, dsub: Int,
                             weight: Long): DataFrame = {
    val score = (0 until m).map(j =>
      lit(weight) * element_at(col("q_iq"),
        (element_at(col("_codes"), j + 1) + lit(j * dsub + 1)).cast("int")))
      .reduce(_ + _)
    kept.withColumn("score", score)
      .withColumn("rank", row_number().over(Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("neighbor_id").asc)).cast("long"))
      .where(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "score")
  }

  /** PQ + ADC over FIXED one-hot sub-codebooks with exact-integer scoring
    * — the PQ twin of [[knnIvf]]: encode (integer argmax per
    * subspace), LUT build and ADC scan are all replayable in ANSI SQL, so
    * the driver's hash oracle covers the complete PQ dataflow end-to-end
    * (the trained sub-books are [[knnPqAdcExact]]'s). Same
    * scale shape: the corpus scans once as m-long code rows, queries
    * broadcast. Output (query_id, neighbor_id, rank, score), all BIGINT. */
  def knnPqAdcFixed(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, dims: Int, dsub: Int = 4,
                    weight: Long = 100L,
                    excludeSelf: Boolean = true): DataFrame = {
    require(dims % dsub == 0, "dims must split into dsub-wide subspaces")
    val m = dims / dsub
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .select(col("neighbor_id"), fixedPqCodes(col("c_iq"), m, dsub).as("_codes"))
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      quantizeMilli(col(vecCol)).as("q_iq"))
    val joined = assigned.crossJoin(broadcast(q))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    pqAdcFixedRank(kept, k, m, dsub, weight)
  }

  /** IVF + PQ/ADC composed over FIXED structures: the literal coarse
    * codebook prunes to `nprobe` cells ([[knnIvf]]'s assignment and probe
    * rules), candidates score on fixed-book PQ codes, everything integer-
    * exact and SQL-replayable. */
  def knnIvfPqFixed(corpus: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, k: Int, centroids: Seq[Seq[Long]],
                    dims: Int, dsub: Int = 4, weight: Long = 100L,
                    nprobe: Int = 2, excludeSelf: Boolean = true): DataFrame = {
    require(dims % dsub == 0, "dims must split into dsub-wide subspaces")
    val m = dims / dsub
    val assigned = fannedCorpus(corpus, idCol)
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("c_iq"))
      .select(col("neighbor_id"),
        Embeddings.l2ArgminCell(col("c_iq"), centroids).as("cell"),
        fixedPqCodes(col("c_iq"), m, dsub).as("_codes"))
    val probes = ivfProbes(queries, idCol, vecCol, centroids, nprobe)
    val joined = assigned.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    pqAdcFixedRank(kept, k, m, dsub, weight)
  }

  private val exactPqBookCache =
    new graft.SessionMemo[(String, Int, Int, Int, Int), Seq[Seq[Seq[Long]]]]()

  /** TRAINED-exact PQ sub-codebooks (r17): subspace `j`'s book is
    * [[Embeddings.exactCentroids]] over the j-th `dim/m`-component slice
    * of the embedding — integer milli-space, seed-free init, L2 argmin,
    * floor-average updates — so the whole m-book set is a pure function
    * of the data that SQL re-derives (slice-then-quantize ==
    * quantize-then-slice, elementwise floor). There is NO
    * normalization: codes quantize the
    * raw vector and ADC ranks by exact integer squared-L2, the metric
    * the books were trained with (the fp32 cosine re-rank restores the
    * cosine semantics on the shortlist, as in every quantized tier).
    * Memoized per dataset (the [[Embeddings.exactCentroidsFor]]
    * contract). */
  def exactPqBooksFor(embs: DataFrame, idCol: String, vecCol: String,
                      dim: Int, m: Int, ksub: Int = 16, iters: Int = 2,
                      key: String): Seq[Seq[Seq[Long]]] = {
    require(m >= 1 && dim % m == 0, s"m=$m must divide dim=$dim")
    val dsub = dim / m
    exactPqBookCache.getOrCompute(embs.sparkSession,
        (key, dim, m, ksub, iters)) {
      (0 until m).map { j =>
        Embeddings.exactCentroids(
          embs.select(col(idCol),
            slice(col(vecCol), j * dsub + 1, dsub).as("_sub")),
          idCol, "_sub", dsub, ksub, iters)
      }
    }
  }

  /** PQ/ADC search over TRAINED-exact sub-codebooks (r17): encode =
    * per-subspace integer L2 argmin against book `j` (ties to the
    * smallest code — [[Embeddings.l2ArgminCell]]), ADC LUT per query =
    * `−2·q_j·c + |c|²` per codeword (the per-(query, subspace) `|q_j|²`
    * constant cannot change a ranking), candidates ranked by summed ADC
    * distance ascending, fp32 cosine re-rank of the shortlist — every
    * stage integer-exact or IEEE-portable, so the TRAINED PQ tier
    * carries a full hash oracle. Same scale shape: the corpus
    * scans m-byte-ish codes, LUTs broadcast, fp32 touches only
    * |queries|×candidates rows. */
  def knnPqAdcExact(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    books: Seq[Seq[Seq[Long]]], dim: Int,
                    candidates: Int = 25,
                    excludeSelf: Boolean = true): DataFrame = {
    require(books.nonEmpty && dim % books.size == 0)
    val m = books.size
    val dsub = dim / m
    // encode via the codegen'd one-loop kernel: the Column form
    // (per-subspace least over ksub structs) fell out of whole-stage
    // codegen at m=16 and ran interpreted — measured as the dominant
    // cost of the exact PQ scan (see PqCodesLong's scaladoc)
    val encoded = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        pqCodesLong(quantizeMilli(col(vecCol)), books, dsub).as("_codes"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), quantizeMilli(col(vecCol)).as("q_iq"))
    // LUTs are |queries|-bounded — the Column form is fine on this side
    val luts = pqAdcLuts(qFull, books, dsub)
    val joined = encoded.crossJoin(broadcast(luts))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    // cutAndRerank orders approx DESC — negate the (ascending) distance
    cutAndRerank(kept.withColumn("approx", -pqAdcSum(books)), corpus,
      qFull.select("query_id", "q_vec"), idCol, vecCol, k, candidates)
  }

  /** [[org.apache.spark.sql.graft.PqCodesLong]] as a DSL Column. */
  private[operators] def pqCodesLong(iq: Column,
                                     books: Seq[Seq[Seq[Long]]],
                                     dsub: Int): Column =
    org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.graft.PqCodesLong(
        org.apache.spark.sql.GraftBridge.expression(iq),
        books.flatten.flatten.toArray, books.size, books.head.size, dsub))

  /** ADC LUT table per query — ONE flat `array<long>` column `_lut` of
    * m·ksub exact integer terms `lut[j·ksub + c] = −2·q_j·c + |c|²` — and
    * its summed-lookup twin below: ONE copy shared by the flat-PQ and
    * IVF-PQ trained tiers so the LUT indexing and the ADC sum can never
    * drift between them (r17 review). The previous per-subspace Column
    * form (m array columns × ksub inlined dot_long kernels) generated a
    * >10k-line codegen fragment that failed Janino and ran interpreted
    * after a doomed ~1 s compile attempt PER EXECUTION (r18); the
    * [[org.apache.spark.sql.graft.PqAdcLutLong]] kernel is the same
    * integers as one compact loop. */
  private def pqAdcLuts(qFull: DataFrame, books: Seq[Seq[Seq[Long]]],
                        dsub: Int): DataFrame =
    qFull.select(col("query_id"),
      org.apache.spark.sql.GraftBridge.column(
        org.apache.spark.sql.graft.PqAdcLutLong(
          org.apache.spark.sql.GraftBridge.expression(col("q_iq")),
          books.flatten.flatten.toArray, books.size, books.head.size, dsub))
        .as("_lut"))

  /** Summed integer ADC distance of `_codes` against the flat `_lut`:
    * Σ_j lut[j·ksub + code_j] — m element_at lookups, codegen-compact. */
  private def pqAdcSum(books: Seq[Seq[Seq[Long]]]): Column = {
    val ksub = books.head.size
    books.indices.map(j =>
      element_at(col("_lut"),
        element_at(col("_codes"), j + 1) + lit(j * ksub + 1)))
      .reduce(_ + _)
  }

  /** IVF + PQ/ADC over TRAINED-exact codebooks (r17): [[knnIvf]]'s
    * coarse cell pruning composed with [[knnPqAdcExact]]'s code scoring —
    * the FAISS "IVF,PQ" matrix closed in its TRAINED form under one hash
    * oracle. */
  def knnIvfPqExact(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    coarse: Seq[Seq[Long]], books: Seq[Seq[Seq[Long]]],
                    dim: Int, nprobe: Int = 4, candidates: Int = 25,
                    excludeSelf: Boolean = true): DataFrame = {
    require(books.nonEmpty && dim % books.size == 0)
    val m = books.size
    val dsub = dim / m
    // the coarse cell rides the SAME one-loop kernel as an m=1 book
    // (full-L2 strict-< argmin == the least-struct expanded argmin,
    // ties to the smallest index on both)
    val encoded = fannedCorpus(corpus, idCol)
      .where(exists(col(vecCol), x => x =!= lit(0.0f)))
      .select(col(idCol).cast("long").as("neighbor_id"),
        quantizeMilli(col(vecCol)).as("_iq"))
      .select(col("neighbor_id"),
        element_at(pqCodesLong(col("_iq"), Seq(coarse), dim), 1).as("cell"),
        pqCodesLong(col("_iq"), books, dsub).as("_codes"))
    val qFull = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("q_vec"), quantizeMilli(col(vecCol)).as("q_iq"))
    val luts = pqAdcLuts(qFull, books, dsub)
    val probes = ivfProbes(queries, idCol, vecCol, coarse, nprobe)
      .select("query_id", "cell")
      .join(broadcast(luts), "query_id")
    val joined = encoded.join(broadcast(probes), "cell")
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    cutAndRerank(kept.withColumn("approx", -pqAdcSum(books)), corpus,
      qFull.select("query_id", "q_vec"), idCol, vecCol, k, candidates)
  }

  /** Scalar-quantized (SQ8) search: score the WHOLE corpus on int8 codes
    * (1 byte/component — a quarter of the fp32 scan bandwidth, the form a
    * 100 TB embedding corpus should be scanned in), keep the top
    * `candidates` per query, then re-rank only those survivors in exact
    * fp32 cosine. The quantization scales cancel inside
    * [[graft.functions.GraftFunctions.int8Cosine]]'s ratio, so the code
    * scan carries no side data. With `candidates` a few multiples of `k`,
    * recall@k is near-1 (pinned in `SimilaritySpec`); the fp32 fetch
    * touches only |queries| x candidates rows via a semi-join shape, never
    * the corpus at large. */
  def knnInt8Rerank(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    candidates: Int = 50,
                    excludeSelf: Boolean = true): DataFrame = {
    val qFull = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("q_vec"), int8Codes(col(vecCol)).as("q8"))
    // phase 1: int8-only corpus scan (no fp32 vectors materialized)
    val cCodes = corpus.select(col(idCol).as("neighbor_id"),
      int8Codes(col(vecCol)).as("c8"))
    val joined = cCodes.crossJoin(broadcast(qFull.select(col("query_id"), col("q8"))))
    val kept =
      if (excludeSelf) joined.where(col("query_id") =!= col("neighbor_id"))
      else joined
    // phase 2 (shared tail): int8 cut, then fp32 re-rank of survivors only
    int8CutAndRerank(kept, corpus, qFull, idCol, vecCol, k, candidates)
  }
}
