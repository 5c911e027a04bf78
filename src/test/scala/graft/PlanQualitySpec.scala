package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.graft.{HashFamily, MinHashSignature, ShingleHashes, SimHash64}
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

/** Plan-shape assertions: the properties that keep these operators viable
  * at cluster scale, pinned as tests so a regression in plan quality fails
  * CI rather than surfacing as a 100x slowdown in production. */
class PlanQualitySpec extends SparkSpec {

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("s7: filter and projection reach the parquet scan") {
    val plan = formatted(SparkEntry.queries("s7_scan_pushdown")(spark, sfDir))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("GreaterThan(l_quantity,30.0)"), plan)
    assert(plan.contains("EqualTo(l_returnflag,A)"), plan)
    // column pruning: only the 4 projected + 2 filter columns are read
    val read = plan.linesIterator.filter(_.contains("ReadSchema")).mkString
    assert(!read.contains("l_comment") && !read.contains("l_shipdate"), read)
  }

  test("normalize pipeline (incl. custom NFKC expression) stays in whole-stage codegen") {
    // '*'-prefixed nodes are inside a WholeStageCodegen stage
    val plan = formatted(SparkEntry.queries("f_normalize_text")(spark, sfDir))
    assert(plan.contains("* Project"), plan)
    val simple = SparkEntry.queries("f_normalize_text")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(simple.contains("*("), simple)
  }

  test("no query plans an unguarded cartesian product") {
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct")
    }
  }

  test("every query's output columns are atomic (driver-canonicalizable)") {
    // The driver canonicalizes EVERY dump (rows-only included) by
    // sort_values over all columns; pandas cannot sort ndarray/dict cells,
    // so an array/map/struct output column makes the entry report nothing
    // at all (round 9: mm_audio_spectrum). Flatten to scalar columns or
    // posexplode instead.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    for ((name, fn) <- SparkEntry.queries) {
      val nonAtomic = fn(spark, sfDir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"${f.name}: ${f.dataType.sql}"
      }
      assert(nonAtomic.isEmpty,
        s"$name emits non-atomic output columns ${nonAtomic.mkString(", ")}")
    }
  }

  test("knn broadcasts the query side, never shuffles the corpus for the join") {
    val plan = formatted(SparkEntry.queries("knn_brute")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("knn_ivf_fixed AND the trained-exact knn_ivf: probes broadcast, " +
    "the corpus never shuffles for the cell join") {
    for (name <- Seq("knn_ivf_fixed", "knn_ivf")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(cell"),
        s"$name corpus must not shuffle on cell:\n$plan")
    }
  }

  test("fixed PQ/SQ8 tiers: probes broadcast, the corpus never shuffles on cell") {
    for (name <- Seq("knn_ivf_pq_fixed", "knn_ivf_sq8_fixed")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin"), s"$name:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(cell"),
        s"$name corpus must not shuffle on cell:\n$plan")
    }
  }

  test("salted skew join: the physical join key carries the salt") {
    val plan = SparkEntry.queries("j_skew_salted")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_salt"), plan)
  }

  test("AQE splits a planted hot join key at runtime (OptimizeSkewedJoin) — " +
      "salting remains for AGGREGATION skew, which AQE cannot split") {
    // JOIN skew is AQE's job: a hot key's oversized shuffle partition is
    // split into sub-partitions at runtime (the other side's matching
    // partition is replicated), no query change. Thresholds are scaled
    // down here only to make test-sized partitions cross them — at
    // production scale the defaults (256MB, factor 5) play the same role.
    // Child session: the conf deltas never leak into the shared session.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
    // force a shuffle join: skew split applies to SMJ/SHJ, and a
    // broadcast of the dim side would dodge the scenario being pinned
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import org.apache.spark.sql.functions.{concat, lit}
    import s2.implicits._
    // replicated-key union: key 0 carries 200k of the ~205k fact rows
    val hot = s2.range(0, 200000).select(lit(0L).as("k"), $"id".as("v"))
    val cold = s2.range(0, 5000).select(($"id" % 50 + 1).as("k"),
      $"id".as("v"))
    val fact = hot.unionByName(cold)
    val dim = s2.range(0, 51).select($"id".as("k"),
      concat(lit("payload_"), $"id").as("p"))
    val joined = fact.join(dim, "k")
    // materialize THIS DataFrame's query execution (count() would build
    // its own) so executedPlan below is the final adaptive plan
    assert(joined.collect().length === 205000)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"),
      s"AQE did not mark the join skew-split:\n$plan")
    // the same hot key under groupBy(k) CANNOT be split by AQE — partial
    // aggregation tames it only when values collapse; a high-cardinality
    // agg state under one key still funnels to one reducer. That is the
    // case j_skew_salted's manual salt exists for (two-level agg /
    // salted join — see SkewJoin.scala and SCALE.md).
  }

  test("e3 flagship plans adaptively (AQE on for skew/broadcast decisions)") {
    val plan = formatted(SparkEntry.entry(spark))
    assert(plan.contains("AdaptiveSparkPlan"), plan)
  }

  test("sketch rollup reads ONLY the sketch table — zero fact scans") {
    val plan = formatted(
      SparkEntry.queries("a_sketch_rollup")(spark, sfDir))
    assert(plan.contains("graft-sketches"), plan) // the at-rest artifact
    assert(!plan.contains("orders.parquet"),
      s"sketch query must not rescan the fact table:\n$plan")
  }

  test("session windows plan through the native SessionWindow operator") {
    val plan = SparkEntry.queries("events_session_window")(spark, sfDir)
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("session_window"), plan)
  }

  test("q6: tight predicates reach the parquet scan") {
    val plan = formatted(SparkEntry.queries("tpch_q6_forecast")(spark, sfDir))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("LessThan(l_quantity,24.0)"), plan)
    assert(plan.contains("GreaterThanOrEqual(l_discount,0.02)"), plan)
  }

  test("q7: tiny nation dimensions are broadcast, never shuffled") {
    val plan = formatted(SparkEntry.queries("tpch_q7_volume")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("e3 scans each side once: bounded scan and shuffle counts") {
    // Pins the count-gate folding (alignByOrdinal): the old shape scanned
    // lineitem 6x and planned 9 exchanges; regressions reappear here.
    val plan = formatted(SparkEntry.queries("e3_knowledge_base")(spark, sfDir))
    val scans = plan.linesIterator.count(_.trim.startsWith("Location: InMemoryFileIndex"))
    assert(scans <= 4, s"expected <=4 file scans (2 lineitem + 2 part), got $scans")
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 6, s"expected <=6 shuffles, got $exchanges")
  }

  test("repetition stats and PII scrub are pure scan-side passes: zero exchanges") {
    for (name <- Seq("text_repetition", "text_pii_scrub")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("Exchange"),
        s"$name should be a shuffle-free scan-side pass:\n$plan")
    }
  }

  test("decontamination broadcasts the benchmark grams, never sort-merges") {
    for (name <- Seq("decontaminate", "decontaminate_hashed")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin"),
        s"$name must probe a broadcast benchmark gram set:\n$plan")
      assert(!plan.contains("SortMergeJoin"),
        s"$name must not shuffle the exploded corpus:\n$plan")
    }
  }

  test("winnow decontamination broadcasts the benchmark fingerprints and " +
    "runs the kernel once per side, never inside a Filter") {
    val plan = formatted(
      SparkEntry.queries("decontaminate_winnow")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the benchmark fingerprint set must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the exploded corpus must not shuffle for the probe:\n$plan")
    // one kernel call per side (corpus scan + benchmark build), and the
    // registry-wide inferred-filter sweep keeps it out of Conditions
    val kernelCalls = plan.linesIterator
      .filter(_.contains("winnow_fingerprints")).size
    assert(kernelCalls <= 2, s"winnow kernel evaluated $kernelCalls times:\n$plan")
  }

  test("DSIR: the merged two-model table broadcasts; only the per-doc " +
    "aggregation (and the sampler's top-k) touch corpus-sized data") {
    val plan = formatted(
      SparkEntry.queries("lm_importance_weights")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the merged target/raw LM must broadcast into the scan:\n$plan")
    val pick = formatted(SparkEntry.queries("sample_dsir")(spark, sfDir))
    assert(pick.contains("TakeOrderedAndProject"),
      s"selection must be a distributed top-k, not a global sort:\n$pick")
  }

  test("semantic decontamination broadcasts the benchmark side, corpus never shuffles for it") {
    val plan = formatted(
      SparkEntry.queries("decontaminate_semantic")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the benchmark (eval-set) side must broadcast:\n$plan")
    // the only SortMergeJoin allowed is the final per-row verdict join
    // back on vec_id — the CELL-blocked similarity probe must not
    // sort-merge (that would shuffle the whole corpus by cell)
    val smjKeys = "SortMergeJoin \\[([a-z_]+)#".r
      .findAllMatchIn(plan).map(_.group(1)).toSet
    assert(smjKeys.subsetOf(Set("vec_id")),
      s"only the verdict join may sort-merge, got keys $smjKeys:\n$plan")
  }

  test("audio segmentation windows partition per asset — no single-partition window") {
    val plan = formatted(SparkEntry.queries("mm_audio_segments")(spark, sfDir))
    assert(!plan.contains("SinglePartition"),
      s"run-grouping windows must partition by asset:\n$plan")
  }

  test("bootstrap CI: the 15M-row replicate phase aggregates in longs; " +
    "decimal only after the per-partition reduction") {
    val plan = formatted(SparkEntry.queries("ml_bootstrap_ci")(spark, sfDir))
    // inner aggregate keys on (_rep, SPARK_PARTITION_ID()): partial sums
    // stay long (the id shows up aliased _nondeterministic in plans)
    assert(plan.contains("SPARK_PARTITION_ID()"),
      s"inner aggregate must key on the partition id:\n$plan")
    // the decimal widening reads the inner aggregate's output (psv),
    // never the exploded per-row weights
    assert(!plan.contains("cast(_w#") || !plan.contains("decimal(38,0)) * _v"),
      s"no per-row decimal products in the replicate phase:\n$plan")
    // the md5 kernel must be evaluated ONCE per row: an inferred
    // size()>0 filter under the Generate would re-run it (outer explode
    // + id guard prevents that)
    assert(!plan.contains("size(poisson_weights"),
      s"inferred generator filter re-evaluates the md5 kernel:\n$plan")
  }

  test("no query's plan re-evaluates an expensive kernel inside an " +
    "inferred generator filter (registry-wide)") {
    // explode(expensiveKernel(...)) lets InferFiltersFromGenerate plant a
    // size(kernel(...))>0 Filter that runs the whole kernel once more per
    // row — there is no cross-operator subexpression elimination. The
    // fix at each site is explode_outer + a guard. This sweeps every
    // registry plan's Filter conditions for the kernel names.
    val kernels = Seq("char_ngram_counts", "shingle_hashes", "shingles(",
      "poisson_weights", "minhash_signature", "char_ngram_total",
      "repetition_signals", "int8_codes", "simhash64",
      "winnow_fingerprints")
    // each hash family's kernel name falls under one of the names swept
    val toks = Literal.create(null, ArrayType(StringType))
    val hashes = Literal.create(null, ArrayType(LongType))
    for (f <- Seq(HashFamily.Xxh64, HashFamily.Md5);
         e <- Seq(ShingleHashes(toks, 2, f), MinHashSignature(hashes, 4, f),
           SimHash64(toks, f))) {
      assert(kernels.exists(k => s"size($e".contains(s"size($k")),
        s"${e.prettyName} escapes the sweep")
    }
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // plan-build failures are owned by the correctness gate, not here
        scala.util.Try(formatted(fn(spark, sfDir))).toOption.flatMap { plan =>
          val conds = plan.linesIterator
            .filter(_.trim.startsWith("Condition :")).mkString("\n")
          val hits = kernels.filter(k => conds.contains(s"size($k"))
          if (hits.nonEmpty) Some(s"$name: ${hits.mkString(",")}") else None
        }
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  // ---- explode-hoist guard (the r16 lm_vocab_growth lesson, made ----
  // ---- structural): a select that shares a Generate with a non- ----
  // ---- trivial expression gets that expression HOISTED above the ----
  // ---- Generate by the analyzer and re-evaluated once per GENERATED ----
  // ---- row — a per-token cost invisible at sf0.1 that the sf1 gate ----
  // ---- caught as a confirmed 3.9x regression (f2f9bfe). The fix at ----
  // ---- each site is a separate projection BELOW the explode; this ----
  // ---- sweep makes the class a test failure instead of a bench find. ----

  /** Expensive-expression subtrees sitting in a `Project` above a
    * `Generate` (through pushed-down Filters) that do NOT consume the
    * generator's output — i.e. they could have been computed once per
    * input row below the Generate, but run once per generated row
    * instead. Descends Filter chains only: an intermediate Project's
    * aliases would make the reference check unsound. */
  private def hoistedExpensive(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : Seq[String] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      Filter => LFilter, Generate, LogicalPlan, Project}
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types.DecimalType
    def isExpensive(e: Expression): Boolean = e match {
      case _: RegExpExtract | _: RegExpExtractAll | _: RegExpReplace |
           _: RLike | _: StringSplit => true
      case _: XxHash64 | _: Murmur3Hash | _: Md5 | _: Sha1 | _: Sha2 |
           _: Crc32 => true
      // decimal arithmetic (the vocabGrowth slice was a decimal(38,0)
      // multiply/divide chain) — cheap long/double arithmetic stays out
      case b: BinaryArithmetic if b.dataType.isInstanceOf[DecimalType] =>
        true
      // every custom kernel (winnow/shingle/simhash/...) is expensive by
      // construction — they exist because the per-row work is heavy
      case e if e.getClass.getName.startsWith(
        "org.apache.spark.sql.graft.") => true
      case _ => false
    }
    def generateBelow(p: LogicalPlan): Option[Generate] = p match {
      case g: Generate => Some(g)
      case f: LFilter => generateBelow(f.child)
      case _ => None
    }
    plan.collect { case p: Project =>
      generateBelow(p.child).toSeq.flatMap { g =>
        val genOut = AttributeSet(g.generatorOutput)
        p.projectList.flatMap { ne =>
          ne.collect {
            case e: Expression if isExpensive(e) &&
                e.references.intersect(genOut).isEmpty =>
              e.getClass.getSimpleName
          }
        }
      }
    }.flatten
  }

  test("explode-hoist detector catches the pre-f2f9bfe vocabGrowth shape " +
    "(decimal slice sharing a select with the tokenize explode)") {
    import org.apache.spark.sql.functions._
    val docs = Tables(spark, sfDir, "documents")
    val ids = docs.agg(min(col("doc_id")).cast("long").as("_min"),
      max(col("doc_id")).cast("long").as("_max"))
    // the EXACT pre-fix shape: slice expression and explode in ONE select
    val bad = docs.crossJoin(broadcast(ids))
      .select(
        least(lit(15L), expr(
          "(cast(cast(doc_id as bigint) as decimal(38,0)) - _min) * 16 " +
            "div (cast(_max as decimal(38,0)) - _min + 1)")).as("slice"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    assert(hoistedExpensive(bad.queryExecution.optimizedPlan).nonEmpty,
      "the detector must flag the decimal slice hoisted above the Generate")
    // and the POST-fix shape (slice projected below the explode) is clean
    val good = docs.crossJoin(broadcast(ids))
      .select(least(lit(15L), expr(
        "(cast(cast(doc_id as bigint) as decimal(38,0)) - _min) * 16 " +
          "div (cast(_max as decimal(38,0)) - _min + 1)")).as("slice"),
        col("text"))
      .select(col("slice"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .where(length(col("tok")) > 0)
    assert(hoistedExpensive(good.queryExecution.optimizedPlan).isEmpty,
      "the below-the-explode projection must not flag")
  }

  test("no expensive expression is hoisted above a Generate it doesn't " +
    "consume (registry-wide explode-hoist sweep)") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        // plan-build failures are owned by the correctness gate, not here
        scala.util.Try(fn(spark, sfDir).queryExecution.optimizedPlan)
          .toOption.toSeq
          .flatMap(p => hoistedExpensive(p).distinct.map(h => s"$name: $h"))
    }
    assert(offenders.isEmpty, offenders.mkString("; "))
  }

  test("curation funnel is one corpus scan, no joins of report outputs") {
    val plan = formatted(SparkEntry.queries("text_funnel")(spark, sfDir))
    val scans = plan.linesIterator
      .count(_.trim.startsWith("Location: InMemoryFileIndex"))
    assert(scans === 1, s"funnel must be a single documents scan, got $scans")
    assert(!plan.contains("Join"), s"funnel must not join:\n$plan")
  }

  test("bm25 top-k plans as TakeOrderedAndProject, not a global sort/window") {
    val plan = formatted(SparkEntry.queries("text_bm25_topk")(spark, sfDir))
    assert(plan.contains("TakeOrderedAndProject"),
      s"the k-row cut must be a distributed top-k:\n$plan")
  }

  test("row-local passes plan zero exchanges: chunks, mixture, filter batteries") {
    for (name <- Seq("text_chunks", "sample_mixture",
        // the round-14 filter batteries are row-local by construction
        "text_gopher_rules", "text_c4_filters")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("Exchange"),
        s"$name should be a shuffle-free scan-side pass:\n$plan")
    }
  }

  test("heavy per-row embedding kernels fan small scans out, and add NOTHING else") {
    // quantize/projection are row-local, but their per-element HOF
    // kernels are the expensive part — on the single-row-group bench
    // fixtures graft.Fanout redistributes (exactly ONE id-hash exchange);
    // on multi-split data Fanout is the identity and they return to the
    // zero-exchange shape (FanoutSpec pins the conditional both ways)
    for (name <- Seq("emb_quantize_int8", "emb_random_projection")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      val exchanges = plan.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
      assert(exchanges === 1,
        s"$name should carry exactly the fan-out exchange:\n$plan")
      assert(!plan.contains("Join"), s"$name must not join:\n$plan")
    }
  }

  test("prototype pruning: ONE exchange (the cell window) over the quantize scan") {
    val plan = formatted(SparkEntry.queries("emb_prototype_prune")(spark, sfDir))
    val exchanges = plan.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges === 1,
      s"rank and count windows must share the cell partitioning, got $exchanges:\n$plan")
  }

  test("rho excess probes the merged two-model table via broadcast, never " +
    "sort-merges the corpus grams") {
    val plan = formatted(SparkEntry.queries("lm_rho_excess")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the <=2·topN-row merged model must broadcast:\n$plan")
  }

  test("quantized kNN tiers broadcast the probe side, never nested-loop the corpus") {
    for (name <- Seq("knn_int8_rerank", "knn_ivf_sq8")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastNestedLoopJoin"),
        s"$name must broadcast the tiny probe set:\n$plan")
      assert(!plan.contains("SortMergeJoin") ||
        plan.contains("BroadcastHashJoin"),
        s"$name should not shuffle the corpus for its probe join:\n$plan")
    }
  }

  test("stream-stream attribution's batch twin is an equi hash join, no nested loop") {
    val plan = formatted(SparkEntry.queries("events_attribution")(spark, sfDir))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"the user-key equi-join must carry the range predicates:\n$plan")
  }

  test("cdc snapshot diff is one key-partitioned join, both sides scanned once") {
    val plan = formatted(SparkEntry.queries("cdc_snapshot_diff")(spark, sfDir))
    // count detail headers "(n) <Join>" — tree lines would double-count
    val joins = plan.linesIterator.count(
      _.matches("\\(\\d+\\) (SortMergeJoin|ShuffledHashJoin).*"))
    assert(joins === 1, s"diff must be exactly one shuffle join:\n$plan")
    val scans = plan.linesIterator
      .count(_.trim.startsWith("Location: InMemoryFileIndex"))
    assert(scans <= 2, s"each snapshot scans once, got $scans:\n$plan")
  }

  test("scd2 build plans ONE exchange: both window passes share the entity sort") {
    val plan = formatted(SparkEntry.queries("scd2_intervals")(spark, sfDir))
    // formatted mode puts partitioning in the detail section; count the
    // "(n) Exchange" detail headers
    val exchanges = plan.linesIterator.count(_.matches("\\(\\d+\\) Exchange.*"))
    assert(exchanges === 1,
      s"run-collapse and lead must share one shuffle, got $exchanges:\n$plan")
  }

  test("as-of joins (both directions) plan no range cross product") {
    for (name <- Seq("j_asof_backward", "j_asof_forward")) {
      val plan = formatted(SparkEntry.queries(name)(spark, sfDir))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"$name must stay union-and-fill, never a cross product:\n$plan")
    }
  }

  test("lm coverage probes a broadcast model, never sort-merges the corpus grams") {
    val plan = formatted(SparkEntry.queries("lm_doc_coverage")(spark, sfDir))
    assert(plan.contains("BroadcastHashJoin"),
      s"the topN model must broadcast:\n$plan")
  }

  test("bigram lm top-N cut is a distributed TakeOrdered, not a global sort") {
    // inspect the raw operator, not the registry query: the registry
    // serves the memoized checkpoint, whose plan is just the cached RDD
    val plan = formatted(graft.operators.TextAnalysis.bigramLm(
      Tables(spark, sfDir, "documents"), "text", 200))
    assert(plan.contains("TakeOrderedAndProject"),
      s"the top-N cut must be per-partition heaps + driver merge:\n$plan")
  }

  test("pq/adc scores via a broadcast LUT join, never shuffles the corpus codes") {
    val plan = formatted(SparkEntry.queries("knn_pq_adc")(spark, sfDir))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"),
      s"the per-query LUTs must broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("mad outliers: the per-group stat tables broadcast onto the rows") {
    // the med/mad |groups|-row tables carry explicit broadcast() hints;
    // the run-table joins INSIDE exactPercentiles sit behind the
    // PrefixScan RDD bridge (unknown static size -> SMJ in the static
    // plan) and AQE converts them at runtime, so no global no-SMJ pin
    val plan = formatted(SparkEntry.queries("a_mad_outliers")(spark, sfDir))
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 2, s"med and mad stat joins must broadcast:\n$plan")
  }

  test("exact percentiles select from collapsed value runs: no group window at all") {
    // the rank selection is a row-local test over PrefixScan-cumulated
    // runs — a per-group sort window (one task per group) must not appear
    val plan = SparkEntry.queries("a_exact_percentiles")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("- Window "),
      s"expected the run-collapsed shape, found a window:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"PrefixScan's bridged run table must feed the plan:\n$plan")
  }

  test("percentile ranks: the only window partitions by TIE RUN, never by group alone") {
    // rank = run prefix base + row_number over the (group, value) tie
    // run — the window's partition spec must include the value column,
    // so the single-task unit is a tie run, not a whole group
    val plan = SparkEntry.queries("w_percentile_ranks")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val windows = plan.linesIterator.filter(_.contains("- Window ")).toSeq
    assert(windows.nonEmpty, s"expected the tie-run window:\n$plan")
    assert(windows.forall(_.contains("qty")),
      s"every window must partition by (group, value):\n$plan")
  }

  test("sorted-neighborhood join is an equi join on the shifted sequence, no nested loop") {
    val plan = SparkEntry.queries("dedup_sorted_neighborhood")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"SNM candidates must come from an equi join:\n$plan")
  }

  test("rrf fusion never rescans the corpus: inputs are top-k cuts") {
    // the fused frame unions two <=50-row rankings; the corpus-touching
    // work happens inside them, and fusion adds only one aggregation
    val plan = formatted(SparkEntry.queries("text_rrf_fusion")(spark, sfDir))
    assert(plan.contains("Union"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("winsorized mean: cut selection and clamped sum run on runs, no group window") {
    // cuts fall out of the run table with a row-local rank test; the
    // clamped sum is Σ run_count · clamp(value) over the same runs — no
    // pass revisits raw rows after the collapse, and no per-group sort
    // window exists anywhere in the plan
    val plan = SparkEntry.queries("a_winsorized_mean")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("- Window "),
      s"expected the run-collapsed shape, found a window:\n$plan")
    assert(plan.contains("ExistingRDD"),
      s"PrefixScan's bridged run table must feed the plan:\n$plan")
  }

  test("interval coverage: windows + island aggs ride the group partitioning") {
    // hashpartitioning(g) satisfies the (g, island) aggregation's
    // clustered distribution — the whole query is one shuffle
    val plan = SparkEntry.queries("w_interval_coverage")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("markov transitions: state totals broadcast onto the transition table") {
    // two exchanges are load-bearing (per-user lead window, then the
    // state-pair agg); the per-state totals join must broadcast
    val plan = SparkEntry.queries("events_markov")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"|states|-row totals must broadcast:\n$plan")
  }

  test("gap fill: the day-level agg shuffles partial counts, not raw events") {
    // groupBy(user, day) combines map-side BEFORE its exchange, then the
    // lead window shuffles only the day-level table — pin the partial agg
    // below the first exchange and no third shuffle
    val plan = SparkEntry.queries("events_gap_fill")(spark, sfDir)
      .queryExecution.executedPlan.toString
    val exchanges = plan.linesIterator
      .count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$plan")
    // the day-level count must partial-aggregate BELOW its exchange: the
    // first (deepest) exchange in the plan text has a partial_count
    // HashAggregate under it
    val firstExchange = plan.linesIterator.toSeq
      .lastIndexWhere(_.contains("Exchange hashpartitioning"))
    val below = plan.linesIterator.toSeq.drop(firstExchange)
    assert(below.exists(_.contains("partial_count")),
      s"day-level agg must combine map-side below its exchange:\n$plan")
  }

  test("edit-distance pairs: candidates from variant groups, never a nested loop") {
    val plan = SparkEntry.queries("dedup_edit_distance")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"deletion-variant blocking must not plan a quadratic join:\n$plan")
  }

  test("assoc rules: item marginals broadcast onto the pair counts") {
    val plan = SparkEntry.queries("events_assoc_rules")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"|items|-row marginals must broadcast:\n$plan")
  }

  test("repeated spans: hot-shingle cap is a broadcast anti-join, the " +
    "pair join is an equi join") {
    // pinned on the LIVE computation: the registry entry rides the
    // per-corpus memo whose localCheckpoint collapses the plan to a
    // Scan ExistingRDD (same pattern as the label-propagation pin)
    val plan = graft.operators.TextAnalysis.repeatedSpans(
        graft.Tables(spark, sfDir, "documents"), "doc_id", "text",
        k = 8, minSpanTokens = 16, maxDf = 20)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"the tiny hot set must broadcast into the anti-join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"position pairing must stay an equi join on the fingerprint:\n$plan")
  }

  test("phrase search is a pure scan-side pass: zero exchanges") {
    val plan = formatted(SparkEntry.queries("text_phrase_search")(spark, sfDir))
    assert(!plan.contains("Exchange"),
      s"row-local positional lambda must not shuffle:\n$plan")
  }

  test("ewma: one shuffle on the key, frame window only") {
    val plan = SparkEntry.queries("events_ewma")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
      === 1, s"ewma is one keyed window pass:\n$plan")
  }

  test("merge-on-read: the tombstone side broadcasts into the anti-join") {
    val plan = SparkEntry.queries("s_mor_deletes")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("SortMergeJoin"),
      s"small delete sets must broadcast, not sort-merge:\n$plan")
  }

  test("label propagation round: vote aggregation combines map-side; " +
    "no nested loop (pinned on the live round — the public entry point's " +
    "trailing checkpoint collapses its plan)") {
    import spark.implicits._
    val sym = Seq((1L, 2L, 5L), (2L, 1L, 5L), (2L, 3L, 2L), (3L, 2L, 2L))
      .toDF("u", "v", "w").repartition(3)
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("node", "lbl")
    val plan = graft.operators.Graph.lpaRound(sym, labels)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("partial_sum"),
      s"per-(node,label) weight sums must combine map-side:\n$plan")
  }
}
