package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, retry-safe sampling and splitting for training-data
  * pipelines. `rand()`-based sampling (including `df.sample`/`sampleBy`)
  * is nondeterministic under task retries and partition re-planning — at
  * cluster scale the same pipeline can emit different corpora run to run.
  * Everything here derives membership from a HASH of the row's stable id
  * (+ a salt), so membership is a pure function of the data: reproducible
  * across runs, engines, retries and repartitioning, and a row keeps its
  * assignment when the corpus grows. */
object Sampling {

  /** The ENGINE-PORTABLE order key: the first 8 hex chars of
    * md5(salt ‖ key), compared lexicographically (any engine with md5
    * replays it). */
  private def md5Prefix(salt: String, key: Column): Column =
    substring(md5(concat(lit(salt), key.cast("string")).cast("binary")), 1, 8)

  /** Uniform bucket in [0, buckets) from (id, salt). */
  private def bucket(id: Column, salt: String, buckets: Int): Column =
    pmod(xxhash64(lit(salt), id), lit(buckets.toLong)).cast("int")

  /** Keep ~`fraction` of rows, deterministically by id hash. */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double,
                   salt: String = "sample"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, "fraction in [0,1]")
    df.where(bucket(col(idCol), salt, 1000000) < (fraction * 1000000).toInt)
  }

  /** Disjoint named splits covering every row: `weights` are relative
    * (e.g. train -> 98, valid -> 1, test -> 1). Adds a `split` column.
    *
    * Membership uses the same ENGINE-PORTABLE md5-prefix order as
    * [[mixtureSample]] (lexicographic hex compare against the cumulative
    * weight thresholds), so any engine with md5 reproduces the exact
    * assignment — the last split absorbs the remainder unconditionally,
    * so coverage is total by construction. */
  def split(df: DataFrame, idCol: String, weights: Seq[(String, Int)],
            salt: String = "split"): DataFrame =
    df.withColumn("split", splitAssign(col(idCol), weights, salt))

  /** The [[split]] assignment as a Column over an arbitrary key
    * expression — the seam [[clusterSafeSplit]] uses to assign by the
    * cluster representative instead of the row's own id. */
  def splitAssign(key: Column, weights: Seq[(String, Int)],
                  salt: String = "split"): Column = {
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    val total = weights.map(_._2).sum
    val prefix = md5Prefix(salt, key)
    val cuts = weights.scanLeft(0)(_ + _._2).tail
    weights.init.zip(cuts.init)
      .foldRight(lit(weights.last._1): Column) {
        case (((name, _), cut), els) =>
          when(prefix < hexThreshold(cut.toDouble / total), name).otherwise(els)
      }
  }

  /** LEAKAGE-SAFE splits: near-duplicate documents must land in the SAME
    * split — assigning independently per row leaks test examples into
    * train through their near-copies, the classic eval-contamination
    * failure a dedup pipeline exists to prevent. Assignment is
    * [[splitAssign]]'s md5 order computed on the row's CLUSTER
    * REPRESENTATIVE: `clusters` carries (`idCol`, `rep`) for every row
    * that belongs to a near-dup component (rep = the component's min id,
    * the closure's convention); rows absent from it represent
    * themselves. Every member of a component then shares its split by
    * construction. Adds (`rep_id`, `split`).
    *
    * Scale shape: one left equi-join against the cluster list (only
    * clustered docs — typically a few % of the corpus; AQE broadcasts it
    * when small) plus the row-local hash assignment. */
  def clusterSafeSplit(df: DataFrame, idCol: String, clusters: DataFrame,
                       weights: Seq[(String, Int)],
                       salt: String = "split"): DataFrame =
    df.join(clusters.withColumnRenamed("rep", "_rep"), Seq(idCol), "left")
      .withColumn("rep_id", coalesce(col("_rep"), col(idCol)))
      .withColumn("split", splitAssign(col("rep_id"), weights, salt))
      .drop("_rep")

  /** Per-stratum deterministic downsampling: each stratum value keeps its
    * own fraction (class rebalancing). Strata absent from `fractions` are
    * kept WHOLE — the complement of [[mixtureSample]]'s drop-by-default,
    * for the "downweight the over-represented classes, touch nothing
    * else" curation move. Same ENGINE-PORTABLE md5-prefix membership as
    * [[mixtureSample]], so the exact rowset replays in any engine with
    * md5. */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double],
                       salt: String = "strata"): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions in [0,1]")
    val prefix = md5Prefix(salt, col(idCol))
    val keep = fractions.foldLeft(lit(true)) { case (acc, (stratum, f)) =>
      when(col(stratumCol) === stratum, prefix < hexThreshold(f)).otherwise(acc)
    }
    df.where(keep)
  }

  /** Domain-mixture sampling with an ENGINE-PORTABLE hash: keep a row of
    * group g with probability `rates(g)`, where membership comes from
    * comparing the first 8 hex chars of md5(salt || id) against the
    * rate's hex threshold LEXICOGRAPHICALLY (hex digits sort correctly in
    * ASCII, so no integer conversion is needed and any engine with md5
    * reproduces the exact corpus — unlike xxhash64, which only Spark
    * has). This is the corpus-assembly step that up/down-weights sources
    * to hit a target domain mix; deterministic, retry-safe, and
    * oracle-checkable row for row. Groups absent from `rates` are
    * dropped. */
  def mixtureSample(df: DataFrame, idCol: String, groupCol: String,
                    rates: Map[String, Double],
                    salt: String = "mix"): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1), "rates in [0,1]")
    val prefix = md5Prefix(salt, col(idCol))
    val keep = rates.foldLeft(lit(false)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, prefix < hexThreshold(r)).otherwise(acc)
    }
    df.where(keep)
  }

  /** The 8-hex-digit threshold whose lexicographic order equals the
    * numeric order of r * 16^8 (shared with oracle generation). */
  private[operators] def hexThreshold(r: Double): String =
    f"${math.min((r * 4294967296.0).toLong, 4294967295L)}%08x"

  /** Fixed-size deterministic sample: the `k` rows with the LOWEST
    * md5(salt ‖ id) prefix, ties by id — the deterministic stand-in for a
    * reservoir sample. For a fixed corpus the pick is a pure function of
    * the data (stable across runs, engines, retries); appending rows
    * displaces at most the number of appended rows (each new row either
    * misses the cut or evicts exactly the current maximum).
    *
    * Scale shape: `orderBy + limit` plans as TakeOrderedAndProject —
    * per-partition k-heaps merged on one reducer, never a global sort —
    * so a bounded k is cheap at any corpus size. */
  def sampleFixedK(df: DataFrame, idCol: String, k: Int,
                   salt: String = "fixk"): DataFrame = {
    require(k > 0, "k must be positive")
    val prefix = md5Prefix(salt, col(idCol))
    df.orderBy(prefix.asc, col(idCol).asc).limit(k)
  }

  /** Row-weighted deterministic Bernoulli sample: keep each row with its
    * OWN probability `probCol` (any expression in [0,1] — quality scores,
    * length-proportional weights, source trust), clamped and compared as
    * an exact integer against the portable md5-prefix draw:
    * keep ⇔ u32 < floor(clamp(p)·2^32), with u32 the first 8 md5 hex
    * digits of (salt ‖ id) as an integer. The float work is one multiply
    * and one floor of a double — identical IEEE ops in any engine — so
    * membership is engine-replayable row for row, like [[mixtureSample]]
    * generalized from per-group rates to per-row weights. */
  def weightedSample(df: DataFrame, idCol: String, probCol: Column,
                     salt: String = "wsamp"): DataFrame = {
    val u32 = conv(md5Prefix(salt, col(idCol)), 16, 10).cast("long")
    val p = least(lit(1.0), greatest(lit(0.0), probCol.cast("double")))
    df.where(u32 < floor(p * lit(4294967296.0)).cast("long"))
  }

  /** Per-group cap — "at most `cap` documents per domain", the curation
    * step that stops one giant source from dominating a training mix.
    * Survivors are the `cap` rows of each group with the LOWEST
    * md5(salt || id) prefix (ties broken by id), so the kept set is a
    * pure deterministic function of the data — reproducible across runs,
    * engines, and retries, and a group's survivors only change when its
    * membership does. Uses the same engine-portable md5-prefix order as
    * [[mixtureSample]], so an oracle can replay the exact rowset.
    *
    * Scale shape: one hash shuffle on `groupCol`, then a per-group
    * top-`cap` rank — the same cost as any grouped window. For a
    * pathologically hot group (billions of rows vs a cap of thousands),
    * pre-filter with a hash threshold of ~`oversample * cap / count(g)`
    * (the [[mixtureSample]] predicate) before the exact rank so the
    * window only sees a sliver of the group. */
  def capPerGroup(df: DataFrame, idCol: String, groupCol: String,
                  cap: Int, salt: String = "cap"): DataFrame = {
    require(cap > 0, "cap must be positive")
    val prefix = md5Prefix(salt, col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(prefix.asc, col(idCol).asc)
    df.withColumn("_cap_rn", row_number().over(w))
      .where(col("_cap_rn") <= cap)
      .drop("_cap_rn")
  }

  /** Per-group TOKEN-budget cap — [[capPerGroup]] weighted by token mass:
    * each group keeps its lowest-md5 docs until the group's token budget
    * fills; the doc that CROSSES the budget is still kept (exclusive
    * running total < budget), so every non-empty group keeps at least one
    * doc and the kept mass overshoots by at most one document. This is
    * the domain-quota curation move ("at most ~N tokens per source") —
    * row caps treat a tweet and a book as equal, token caps don't.
    * Deterministic, retry-safe, engine-replayable: md5-prefix order with
    * id tiebreak, exact integer running sums.
    *
    * Scale shape: ONE hash shuffle on `groupCol` + a sorted window scan
    * per group, identical cost to [[capPerGroup]]/[[packBatches]]. */
  def capTokensPerGroup(df: DataFrame, idCol: String, groupCol: String,
                        tokensCol: String, budget: Long,
                        salt: String = "captok"): DataFrame = {
    require(budget > 0, "budget must be positive")
    val prefix = md5Prefix(salt, col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(prefix.asc, col(idCol).asc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    df.withColumn("_tok_before", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .where(col("_tok_before") < budget)
      .drop("_tok_before")
  }

  /** Token-budget batch packing PLAN: within each `partCol` stream, docs in
    * `idCol` order are assigned to consecutive batches of ~`budget` tokens
    * — `batch_id = floor(exclusive-running-token-total / budget)`, i.e. a
    * batch closes once the docs before the current one fill the budget.
    * Deterministic (pure function of the data, like everything here) and a
    * plan, not a copy: downstream writers repartition on
    * (`partCol`, `batch_id`) to materialize the packs.
    *
    * Scale shape: ONE shuffle (hash by `partCol`), then a sorted window
    * scan per stream — the same cost as any per-group running total. The
    * sequential dependency is per stream, so parallelism = number of
    * streams (at 100 TB pack per source shard, not per corpus). */
  def packBatches(df: DataFrame, idCol: String, partCol: String,
                  tokensCol: String, budget: Long): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(partCol).orderBy(col(idCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val cumBefore = coalesce(sum(col(tokensCol)).over(w), lit(0L))
    df.withColumn("batch_id",
      floor(cumBefore / lit(budget)).cast("long"))
  }

  /** Materialize the [[packBatches]] plan: one row per (stream, batch)
    * with the batch's documents CONCATENATED in `idCol` order, separated
    * by `sep` (default the record-separator control char — the GPT-style
    * "pack docs into training sequences with an EOS between them" step).
    * `collect_list` order is nondeterministic under parallel merge, so
    * the docs ride in a struct keyed by id and are `array_sort`ed before
    * joining — the emitted sequence is a pure function of the data.
    *
    * Scale shape: the window shuffle from [[packBatches]] plus ONE
    * grouped aggregation on (`partCol`, batch_id). Per-row output is
    * bounded by the token budget (a batch holds ~`budget` tokens by
    * construction), so rows stay executor-sized no matter the corpus. */
  def materializeBatches(df: DataFrame, idCol: String, partCol: String,
                         tokensCol: String, textCol: String, budget: Long,
                         sep: String = "\u001e"): DataFrame =
    packBatches(df, idCol, partCol, tokensCol, budget)
      .groupBy(col(partCol), col("batch_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(tokensCol)).cast("long").as("n_tokens"),
        array_join(
          transform(
            array_sort(collect_list(struct(col(idCol), col(textCol)))),
            s => s.getField(textCol)),
          sep).as("batch_text"))

  /** EXACT-proportion stratified splits: within each stratum, rows are
    * ranked on the engine-portable md5-prefix order (ties by id) and
    * assigned so every split gets exactly `floor(n·cum/total)` −
    * `floor(n·prev/total)` rows — unlike [[split]]'s hash-threshold
    * membership (proportions exact only in expectation), the per-stratum
    * counts here are deterministic integers: an 80/10/10 of a 500-row
    * stratum is exactly 400/50/50. The assignment `rn·total ≤ n·cum` is
    * pure integer math, so the rowset replays hash-exactly in any engine
    * with md5 and window functions.
    *
    * Scale shape: one group-partitioned sort window (rank + group count
    * share the partitioning — a single shuffle); per-group cost is the
    * sort. Output: (idCol, stratumCol, split). */
  def exactSplit(df: DataFrame, idCol: String, stratumCol: String,
                 weights: Seq[(String, Int)],
                 salt: String = "exact-split"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(weights.nonEmpty && weights.forall(_._2 > 0), "positive weights")
    val total = weights.map(_._2).sum
    val cuts = weights.scanLeft(0)(_ + _._2).tail
    val w = Window.partitionBy(stratumCol)
      .orderBy(col("_hp").asc, col(idCol).asc)
    val assign = weights.init.zip(cuts.init)
      .foldRight(lit(weights.last._1): Column) {
        case (((name, _), cut), els) =>
          when(col("_rn") * total <= col("_n") * cut, name).otherwise(els)
      }
    df
      .select(col(idCol), col(stratumCol),
        md5Prefix(salt, col(idCol)).as("_hp"))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("_n", count(lit(1))
        .over(Window.partitionBy(stratumCol)))
      .select(col(idCol), col(stratumCol), assign.as("split"))
  }

  /** Temperature-scaled group allocation (the multilingual-pretraining
    * sampling mix of Conneau & Lample 2019 / XLM-R): group g's share of a
    * document `budget` ∝ n_g^(1/T) with T = 2, i.e. weight = √n_g — the
    * exponent is FIXED at 1/2 by construction because IEEE mandates a
    * correctly rounded sqrt (identical in every engine) while pow(x, 1/T)
    * for general T is only faithfully rounded and may differ in the last
    * ulp between libms, which would break the hash oracle. Weights
    * quantize to `w_q = floor(√n_g · 10⁶)`; allocations are the
    * largest-remainder (Hamilton) apportionment of `budget` by w_q —
    * base = ⌊budget·w_q / W⌋ with the leftover units going to the largest
    * remainders (ties by group asc) — then clamped to n_g (no
    * upsampling: a clamp may leave the grand total short of `budget`;
    * the repetition-based alternative is a caller-side crossJoin of the
    * deficit). Everything after the sqrt is exact integer/decimal
    * arithmetic, so the whole allocation replays hash-identically in SQL.
    *
    * Scale shape: one group-count aggregation (tiny result: one row per
    * group); the apportionment windows run over that GROUP table —
    * constant-sized, never data-scaled — under the constant-partition-key
    * idiom (pmod(…, 1)) so the plan carries a partition spec. Output:
    * (groupCol, n_docs, w_q, alloc). */
  def temperatureAlloc(df: DataFrame, groupCol: String,
                       budget: Long): DataFrame =
    temperatureAllocRaw(df, groupCol, budget)
      .select(col(groupCol), col("n_docs"), col("w_q"),
        least(col("alloc_raw"), col("n_docs")).as("alloc"))

  /** The UNCLAMPED Hamilton apportionment behind [[temperatureAlloc]]
    * (which clamps to n_docs — no upsampling) and [[epochUpsample]]
    * (which repeats docs to fill the excess — multi-epoch upsampling).
    * `alloc_raw` sums to `budget` exactly. */
  private def temperatureAllocRaw(df: DataFrame, groupCol: String,
                                  budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(budget > 0, "budget must be positive")
    val counts = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_q",
        floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
    // decimal(38,0) for budget·w_q: at 10¹² docs/group and a 10⁹ budget
    // the long product overflows; the final alloc is back in long range
    val one = Window.partitionBy(pmod(col("w_q"), lit(1)))
    val based = counts
      .withColumn("_W", sum(col("w_q")).over(one))
      .withColumn("_prod",
        col("w_q").cast("decimal(38,0)") * lit(budget))
      .withColumn("base", expr("cast(_prod div _W as bigint)"))
      .withColumn("_rem", expr("cast(_prod % _W as decimal(38,0))"))
    val ranked = based
      .withColumn("_L", lit(budget) - sum(col("base")).over(one))
      .withColumn("_rk", row_number().over(
        // asc_nulls_last: Spark's bare asc sorts NULLs first while the
        // DuckDB oracle's ORDER BY ... ASC defaults to NULLs last — a
        // NULL group tying on remainder would take the bonus unit
        // differently between engines unless the null order is pinned
        one.orderBy(col("_rem").desc, col(groupCol).asc_nulls_last)))
    ranked.select(col(groupCol), col("n_docs"), col("w_q"),
      (col("base") +
        when(col("_rk") <= col("_L"), 1L).otherwise(0L)).as("alloc_raw"))
  }

  /** Multi-epoch upsampling plan + materialization (the "repeat the
    * high-quality sources" mix every large pretraining run ships — e.g.
    * curated sources cycled for several epochs while bulk crawl runs
    * under one): the T=2 temperature apportionment of `budget` WITHOUT
    * the no-upsampling clamp, converted into per-document repeat counts.
    * Group g's `alloc_raw` units become `alloc_raw div n_g` full epochs
    * for every doc plus one extra epoch for the `alloc_raw mod n_g` docs
    * with the smallest md5(salt‖id) prefix (id tiebreak — the engine's
    * portable sampling order), so the emitted (doc, epoch) rows number
    * exactly `budget` and replay hash-identically in SQL. `epoch` is
    * 0-based; epoch 0 is the deterministic first pass, so truncating a
    * run after epoch e keeps a valid prefix mix.
    *
    * Scale shape: one group-count aggregation (group-sized), the
    * apportionment windows over that constant-sized table, ONE broadcast
    * join of the alloc table onto the corpus, one per-group rank window
    * (the md5 order), then a row-local `sequence` explode — output rows
    * = budget by construction, never corpus × epochs unless asked. */
  def epochUpsample(df: DataFrame, idCol: String, groupCol: String,
                    budget: Long, salt: String = "epoch"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alloc = temperatureAllocRaw(df, groupCol, budget)
      .select(col(groupCol), col("n_docs"), col("alloc_raw"))
    val prefix = md5Prefix(salt, col(idCol))
    val w = Window.partitionBy(groupCol).orderBy(prefix.asc, col(idCol).asc)
    df.select(col(idCol), col(groupCol))
      .join(broadcast(alloc), Seq(groupCol))
      .withColumn("_rn", row_number().over(w).cast("long"))
      .withColumn("n_epochs", expr("cast(alloc_raw div n_docs as bigint)")
        + when(col("_rn") <= expr("alloc_raw % n_docs"), 1L).otherwise(0L))
      .where(col("n_epochs") > 0)
      .select(col(idCol), col(groupCol), col("n_epochs"),
        explode(sequence(lit(1L), col("n_epochs"))).as("_e"))
      .withColumn("epoch", col("_e") - 1L)
      .select(col(idCol), col(groupCol), col("epoch"))
  }

  /** The sampler over [[temperatureAlloc]]: each group keeps its `alloc`
    * rows with the lowest md5(salt ‖ id) prefix (id tiebreak) — the
    * [[capPerGroup]] order with a data-derived per-group cap, so the
    * exact kept rowset replays in SQL. One extra broadcast join of the
    * group-sized alloc table; same single group-shuffle shape. */
  def temperatureSample(df: DataFrame, idCol: String, groupCol: String,
                        budget: Long,
                        salt: String = "temp"): DataFrame = {
    val alloc = temperatureAlloc(df, groupCol, budget)
      .select(col(groupCol), col("alloc"))
    val prefix = md5Prefix(salt, col(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(prefix.asc, col(idCol).asc)
    df.join(broadcast(alloc), Seq(groupCol))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= col("alloc"))
      .drop("_rn", "alloc")
  }

  /** Length-bucket padding-waste report — the measurement that motivates
    * length-bucketed (dynamic) batching: batching docs of wildly mixed
    * lengths pads every sequence to the batch max, and the padded-token
    * share IS wasted compute. Buckets are power-of-two caps 16..4096
    * (docs above the last boundary pool into the top bucket) via a fixed
    * CASE chain — exact integers in any engine. Per bucket: doc count,
    * real token mass, max length, padded tokens (each bucket pads to
    * max(cap, its own longest doc) — the cap everywhere but the
    * open-ended top bucket, and never negative) and the waste share in
    * ppm (truncating div over non-negatives).
    *
    * Scale shape: one row-local bucket projection + ONE bucket-keyed
    * hash aggregation (≤ 9 groups) — map-side partials do all the work. */
  def lengthBucketReport(df: DataFrame, nTokensCol: String): DataFrame = {
    val n = col(nTokensCol)
    df.select(lengthBucketCap(n).as("bucket_cap"), n.as("_n"))
      .groupBy("bucket_cap")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("_n")).as("sum_tokens"),
        max(col("_n")).as("max_tokens"))
      // each bucket pads to max(cap, its own longest doc): identical to
      // the cap everywhere except the open-ended top bucket, and keeps
      // padded_tokens >= 0 (a negative would hit the trunc-vs-floor
      // division divergence between engines)
      .withColumn("pad_to", greatest(col("bucket_cap"), col("max_tokens")))
      .withColumn("padded_tokens",
        col("n_docs") * col("pad_to") - col("sum_tokens"))
      // decimal(38,0): padded·10⁶ overflows int64 past ~9·10¹² padded
      // tokens — a single bucket of a 100 TB corpus gets there
      .withColumn("waste_ppm", expr(
        "cast(cast(padded_tokens as decimal(38,0)) * 1000000" +
          " div (n_docs * pad_to) as bigint)"))
      .drop("pad_to")
  }

  /** Power-of-two length-bucket cap 16..4096 (docs above the last
    * boundary pool into the open-ended top bucket): a fixed CASE chain —
    * exact integers in any engine, shared by [[lengthBucketReport]] and
    * [[packBucketed]]. */
  private def lengthBucketCap(n: Column): Column = {
    val caps = (4 to 12).map(1 << _) // 16, 32, ..., 4096
    caps.init.foldRight(lit(caps.last.toLong)) { (c, els) =>
      when(n <= c, c.toLong).otherwise(els)
    }
  }

  /** Length-bucketed packing PLAN: the batch layout that realizes the
    * savings [[lengthBucketReport]] measures. Docs group by power-of-two
    * length bucket; within a bucket they pack `per_seq = max(1,
    * context div cap)` to a training sequence in id order, each padded
    * to the bucket cap (docs above the top cap truncate to it — the
    * fixed-context rule). Per (bucket_cap, seq_id): doc count, used
    * (post-truncation) tokens, truncated tokens, padded tokens — all
    * exact integers, hash-replayable in SQL.
    *
    * Scale shape: the within-bucket rank comes from
    * [[Ranking.globalRowNumbers]]' range-partitioned sort over
    * (bucket, id) rebased by the bucket's start offset (a ≤ 9-row
    * broadcast) — 9 giant buckets never funnel through 9 window tasks —
    * and the final aggregation keys on (bucket, seq_id). */
  def packBucketed(df: DataFrame, idCol: String, nTokensCol: String,
                   contextTokens: Long = 4096L): DataFrame = {
    require(contextTokens > 0, "contextTokens must be positive")
    val withB = df
      .select(col(idCol), col(nTokensCol).cast("long").as("_n"))
      .withColumn("bucket_cap", lengthBucketCap(col("_n")))
    val seqd = Ranking.globalRowNumbers(
      withB, Seq("bucket_cap", idCol), "_seq")
    val offs = seqd.groupBy(col("bucket_cap"))
      .agg(min(col("_seq")).as("_off")) // ≤ 9 rows
    seqd.join(broadcast(offs), "bucket_cap")
      .withColumn("per_seq",
        greatest(lit(1L), expr(s"$contextTokens div bucket_cap")))
      .withColumn("seq_id", expr("(_seq - _off) div per_seq"))
      .groupBy(col("bucket_cap"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(least(col("_n"), col("bucket_cap"))).as("used_tokens"),
        sum(greatest(col("_n") - col("bucket_cap"), lit(0L)))
          .as("trunc_tokens"))
      .withColumn("padded_tokens",
        col("n_docs") * col("bucket_cap") - col("used_tokens"))
  }

  /** Corpus-mix gap report: how far each group's ACTUAL token share sits
    * from the T=2 temperature TARGET share ([[temperatureAlloc]]'s w_q
    * weights — the mix the sampler would produce), in exact integer ppm.
    * Positive gap = over-represented vs the target (the sampler will
    * down-weight it), negative = under-represented. The monitoring query
    * a curation pipeline runs per corpus generation to decide whether a
    * re-mix is due.
    *
    * Scale shape: ONE group-keyed aggregation of the corpus; everything
    * after runs on the group-sized table under the constant-partition
    * window idiom. */
  def mixGap(df: DataFrame, groupCol: String,
             nTokensCol: String): DataFrame = {
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(nTokensCol)).as("sum_tokens"))
      .withColumn("w_q",
        floor(sqrt(col("n_docs").cast("double")) * lit(1e6)).cast("long"))
      // decimal(38,0): token-mass·10⁶ overflows int64 past ~9·10¹²
      // corpus tokens — under a 100 TB corpus, not over it
      .withColumn("actual_ppm", expr(
        "cast(cast(sum_tokens as decimal(38,0)) * 1000000" +
          " div (sum(sum_tokens) over " +
          "(partition by pmod(n_docs, 1))) as bigint)"))
      .withColumn("target_ppm", expr(
        "cast(cast(w_q as decimal(38,0)) * 1000000 div (sum(w_q) over " +
          "(partition by pmod(n_docs, 1))) as bigint)"))
      .withColumn("gap_ppm", col("actual_ppm") - col("target_ppm"))
      .select(col(groupCol), col("n_docs"), col("sum_tokens"),
        col("actual_ppm"), col("target_ppm"), col("gap_ppm"))
  }

  /** Curriculum interleave order: every document gets a strictly-
    * increasing `curriculum_key` such that sorting by it round-robins
    * across `buckets` fixed-width score bands — consecutive training
    * batches see the full quality spectrum instead of a long run of one
    * band (the anti-sorted-curriculum guarantee a loss curve actually
    * cares about), while WITHIN each band documents arrive in the
    * engine's portable md5(salt‖id) shuffle order. All integer:
    * `bucket = (score − min)·buckets div (max − min + 1)` (fixed-width
    * bands from the broadcast 1-row corpus bounds — no global ntile
    * window), `rn_in_bucket` the md5-order rank within the band, and
    * `curriculum_key = rn_in_bucket·buckets + bucket` (round r's keys
    * all precede round r+1's). Hash-replayable in SQL end to end.
    *
    * Scale shape: the bounds agg broadcasts one row; ranks within bands
    * come from [[Ranking.globalRowNumbers]]'s range-partitioned sort +
    * zipWithIndex over (bucket, prefix, id) MINUS the band's start
    * offset (exclusive prefix sum of the band counts, a `buckets`-row
    * broadcast) — full cluster parallelism at any corpus size, never a
    * `buckets`-way window bottleneck and never a single-partition
    * global window. */
  def curriculumInterleave(df0: DataFrame, idCol: String, scoreCol: String,
                           buckets: Int = 10,
                           salt: String = "curr"): DataFrame = {
    import graft.Checkpoints.PinOps
    require(buckets >= 2, "need at least two curriculum buckets")
    // the score input is usually an expensive per-doc battery: fan small
    // scans out, and PIN the banded projection — three consumers (band
    // counts, the range-partitioned sort, the bounds agg's sibling scan)
    // would otherwise each re-run the upstream score battery
    val df = graft.Fanout.maybe(df0, idCol)
    val bounds = df.agg(min(col(scoreCol)).cast("long").as("_mn"),
      max(col(scoreCol)).cast("long").as("_mx"))
    val prefix = md5Prefix(salt, col(idCol))
    val banded = df.select(col(idCol), col(scoreCol))
      .crossJoin(broadcast(bounds))
      .withColumn("bucket", expr(
        s"cast((($scoreCol - _mn) * $buckets)" +
          " div (_mx - _mn + 1) as bigint)"))
      .withColumn("_pfx", prefix)
      .drop("_mn", "_mx")
      .pinLazy()
    // exclusive prefix sum of band counts = each band's 0-based start in
    // the (bucket, _pfx, id)-sorted global order; buckets rows, broadcast
    val offsets = banded.groupBy("bucket")
      .agg(count(lit(1)).as("_n"))
      .withColumn("_off", sum(col("_n")).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("bucket"), lit(1)))
          .orderBy(col("bucket").asc)
          .rowsBetween(Long.MinValue, -1)))
      .select(col("bucket"), coalesce(col("_off"), lit(0L)).as("_off"))
    val seqd = Ranking.globalRowNumbers(banded,
      Seq("bucket", "_pfx", idCol), "_gseq")
    seqd.join(broadcast(offsets), "bucket")
      .withColumn("rn_in_bucket", col("_gseq") - col("_off") + 1L)
      .withColumn("curriculum_key",
        col("rn_in_bucket") * buckets + col("bucket"))
      .select(col(idCol), col(scoreCol), col("bucket"),
        col("rn_in_bucket"), col("curriculum_key"))
  }
}
