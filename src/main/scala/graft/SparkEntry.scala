package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.HashFamily

import graft.functions.GraftFunctions._
import graft.operators.{Dedup, GroupedMode, LinkAlign, Multimodal, Similarity, TextAnalysis}
import graft.Checkpoints.PinOps

/** Driver contract: one named query per implemented operator of SURVEY.md §2
  * plus the extended (LLM-data-pipeline) surface, each with a DuckDB-oracle
  * ANSI-SQL twin where the semantics are SQL-expressible (hash-based ops
  * like MinHash/SimHash/xxhash fingerprints get rows-only checks and are
  * instead pinned by ScalaTest suites).
  *
  * Column names are aliased identically in the Spark plan and the oracle SQL
  * (the driver sorts columns by name and hashes values). Derived integers
  * are cast to long on both sides; timestamps are emitted as formatted
  * strings; money sums use integer micro/cent units — double-sum ordering is
  * nondeterministic at cluster scale, integer sums are exact.
  */
object SparkEntry {

  /** Memoized isolated child sessions (see `s_agg_footer_stats`). */
  private val v2Sessions = new SessionMemo[String, SparkSession]()

  /** Build-then-append fixed-codebook IVF layouts, once per (session,
    * dataset) — the append MUST happen exactly once per built layout or
    * the grown corpus would hold duplicate rows. */
  private val ivfAppendLayouts = new SessionMemo[String, String]()
  private val ivfFilteredLayouts = new SessionMemo[String, String]()

  /** The fixed-codebook IVF layout carrying `label`, built once per
    * (session, dataset); shared by `knn_ivf_filtered` and
    * `knn_radius_ivf`. */
  private def ivfFilteredLayout(s: SparkSession, dir: String,
                                emb: DataFrame): String =
    ivfFilteredLayouts.getOrCompute(s, dir) {
      val p = graft.TmpArtifacts.path("graft-ivf-filtered", dir)
      Similarity.writeIvf(emb, "vec_id", "embedding", p,
        Similarity.fixedCodebook(nlist = 4, dims = 64),
        extraCols = Seq("label"))
      p
    }

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Shared pHash image fixture: 12·4·scale pattern PNGs — 12 textures ×
    * (4·scale) noise variants, so near-dup groups are planted by
    * construction. SPARK_GRAFT_PHASH_SCALE=N (default 1, the registry
    * shape) is the SCALE.md blowup knob for the pigeonhole-blocked
    * hamming join, whose inputs are generated fixtures the parquet
    * blowup cannot grow. */
  private def phashAssets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scale = sys.env.getOrElse("SPARK_GRAFT_PHASH_SCALE", "1").toLong
    t(s, dir, "documents")
      .select(col("doc_id")).where(col("doc_id") < 48 * scale).as[Long]
      .map { id =>
        val variant = (id / 12).toInt
        val amp = if (variant == 0) 0 else if (variant == 3) 8 else 4
        (id, Multimodal.buildPatternPng((id % 12).toInt, id, amp))
      }.toDF("doc_id", "payload")
  }

  /** Per-JVM cache of the fixture pHash TABLE (the `ngramClustersFor`
    * contract: a derived bounded fingerprint artifact, built once per
    * dataset) — `mm_phash_neardup` and `mm_phash_clusters` both consume
    * it, and PNG decode + DCT dominates their cost; at scale the hash
    * table is the at-rest index, not per-query work. */
  private val phashTables = new SessionMemo[String, DataFrame]()

  private def phashTableFor(s: SparkSession, dir: String): DataFrame = {
    val scale = sys.env.getOrElse("SPARK_GRAFT_PHASH_SCALE", "1")
    phashTables.getOrCompute(s, s"$dir#phash-$scale")(
      Multimodal.perceptualHashes(phashAssets(s, dir), "doc_id", "payload")
        .toDF().where(col("ok")).pin())
  }

  /** Flagship query on sf=0.001 (driver smoke-checks rows > 0): the
    * reference's end-to-end "knowledge extraction" pipeline (E3,
    * ref `src/batch_train.py:54-176`) re-expressed on the test star schema. */
  def entry(spark: SparkSession): DataFrame =
    e3KnowledgeBase(spark, "/root/testdata/sf0.001")

  // ====================================================================
  // E3 — the reference's analytical spine (link → gate → align → vote)
  // ====================================================================

  /** Manifest-side analog: 'F'-linestatus items play `table_a_raw` rows;
    * part names play the informal goods descriptions. */
  private def e3SideA(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").where(col("l_linestatus") === "F")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(
        linkKey(concat(lit("m-"), col("l_orderkey").cast("string")),
          concat(lit("h/"), col("l_orderkey").cast("string"))).as("link_key"),
        col("l_linenumber").as("a_ln"), col("l_partkey").as("a_pk"),
        col("l_suppkey").as("a_sk"),
        col("p_name").as("desc_raw"))

  /** Declaration-side analog: 'A'-returnflag items play `table_b_history`;
    * brand/type play the official description + tariff code. */
  private def e3SideB(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").where(col("l_returnflag") === "A")
      .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
      .select(
        linkKey(concat(lit("m-"), col("l_orderkey").cast("string")),
          concat(lit("h/"), col("l_orderkey").cast("string"))).as("link_key"),
        col("l_linenumber").as("b_ln"), col("l_partkey").as("b_pk"),
        col("l_suppkey").as("b_sk"),
        col("p_brand").as("official_description"), col("p_type").as("ccc_code"))

  private def e3KnowledgeBase(s: SparkSession, dir: String): DataFrame = {
    val aligned = LinkAlign.alignByOrdinal(
      e3SideA(s, dir), e3SideB(s, dir), "link_key",
      Seq(col("a_ln"), col("a_pk"), col("a_sk")),
      Seq(col("b_ln"), col("b_pk"), col("b_sk")))
    val pairs = aligned.select(
      normalizeText(col("desc_raw")).as("original_description"),
      col("official_description"), col("ccc_code"))
    GroupedMode.modeBy(pairs, Seq("original_description"),
      Seq("official_description", "ccc_code"), "frequency")
  }


  // ====================================================================
  // Query registry
  // ====================================================================

  // lazy val, not def: build the 165-entry map and run the duplicate
  // check once, not on every registry access (mirrors SparkEntryOracles)
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] = {
    val m = queryList.toMap
    require(m.size == queryList.size, {
      val dups = queryList.map(_._1).groupBy(identity).collect {
        case (k, vs) if vs.size > 1 => k
      }
      s"duplicate query names silently collapse in a Map: ${dups.mkString(",")}"
    })
    m
  }

  // Seq, not Map, so a duplicate registration is DETECTED (a Map literal
  // keeps the last duplicate and silently drops a query from the
  // registry — bitten once by emb_label_centroids)
  private lazy val queryList: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    // ---------- scans / projections / filters ----------
    "s7_scan_pushdown" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
        .where(col("l_quantity") > 30 && col("l_returnflag") === "A")),

    "s11_lineage" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        regexp_extract(input_file_name(), "([^/]+)\\.parquet", 1)
          .as("source_stem"))),

    "p_null_gate" -> ((s, dir) =>
      t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus")
        .where(col("o_custkey").isNotNull && col("o_orderstatus").isNotNull &&
          trim(col("o_orderstatus")) =!= "")),

    // ---------- aggregations ----------
    "a1_group_count" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"))),

    "a2_vote_count" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_votes"))),

    "a3_grouped_mode" -> ((s, dir) =>
      GroupedMode.modeBy(t(s, dir, "documents"), Seq("source"), Seq("lang"),
        "frequency")),

    "a4_scalar_count" -> ((s, dir) =>
      t(s, dir, "lineitem").agg(count(lit(1)).as("n_rows"))),

    "a5_running_total" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events").select(col("event_id"), col("event_type"),
        count(lit(1)).over(w).as("running_n"))
    }),

    // Exact decimal money aggregation — the correctness upgrade over the
    // reference's float money noted in SURVEY §1.2: DECIMAL sums are
    // combine-order-independent, so they need no integer-cents workaround.
    "q1_pricing_decimal" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_extendedprice").cast("decimal(18,2)")).as("sum_base"),
        sum((col("l_extendedprice").cast("decimal(18,2)") *
          (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
            col("l_discount").cast("decimal(18,2)")))
          .cast("decimal(28,4)")).as("sum_disc_price"))),

    // Data-quality audit over lineitem: every rule in one aggregation pass
    "dq_lineitem_report" -> ((s, dir) => {
      import graft.operators.DataQuality._
      report(t(s, dir, "lineitem"), Seq(
        Complete("l_orderkey"),
        Complete("l_returnflag"),
        InRange("l_quantity", 1, 50),
        InRange("l_discount", 0, 0.1),
        Satisfies("price_positive", col("l_extendedprice") > 0),
        Satisfies("flag_domain",
          col("l_returnflag").isin("A", "N", "R"))))
    }),

    // Snapshot-vs-snapshot distribution drift triage: per-column row /
    // null / distinct counts on each side plus integer-exact drift
    // verdicts (ppm cross-multiplication, >10% distinct-count change)
    "dq_drift_report" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.DataQuality.driftReport(
        docs.where(pmod(col("doc_id"), lit(2)) === 0),
        docs.where(pmod(col("doc_id"), lit(2)) === 1),
        Seq("lang", "source", "n_chars"))
    }),

    "q1_pricing_summary" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("sum_base_cents"),
        count(lit(1)).as("n_rows"))
        .withColumn("avg_qty", col("sum_qty") / col("n_rows"))),

    // The SURVEY §1.3 correctness upgrade COMPLETED (r17; the plain
    // decimal-sum row above was the first step): the full pricing money
    // chain in DecimalType(18,4) with LEDGER semantics — inputs quantize
    // to the money scale, every per-line product rounds back to scale 4
    // (Spark decimal cast = HALF_UP, replayed in the oracle as
    // (p8+5000)//10000 on exact integers), sums are exact and
    // combine-order-free. sum_charge_float_e4 carries the SAME chain in
    // double (the reference's float money) with a portable per-line
    // floor(x·1e4+0.5) round — its delta vs sum_charge_e4 IS the drift
    // float money incurs, measured per group (see README).
    "q1_pricing_decimal_ledger" -> ((s, dir) => {
      val one4 = lit(1).cast("decimal(5,4)")
      val price = col("l_extendedprice").cast("decimal(18,4)")
      val discPrice = (price *
        (one4 - col("l_discount").cast("decimal(5,4)")))
        .cast("decimal(18,4)")
      val charge = (discPrice *
        (one4 + col("l_tax").cast("decimal(5,4)")))
        .cast("decimal(18,4)")
      val chargeF = col("l_extendedprice") * (lit(1.0) - col("l_discount")) *
        (lit(1.0) + col("l_tax"))
      t(s, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        (sum(price) * 10000).cast("long").as("sum_base_e4"),
        (sum(discPrice) * 10000).cast("long").as("sum_disc_e4"),
        (sum(charge) * 10000).cast("long").as("sum_charge_e4"),
        sum(floor(chargeF * 10000 + 0.5).cast("long"))
          .as("sum_charge_float_e4"),
        count(lit(1)).as("n_rows"))
        .withColumn("float_drift_e4",
          col("sum_charge_float_e4") - col("sum_charge_e4"))
    }),

    "a_distinct_agg" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(count_distinct(col("l_partkey")).as("n_parts"),
          count_distinct(col("l_suppkey"), col("l_partkey")).as("n_sp_pairs"))),

    // HLL++ cardinality — fully hash-oracled (r17): Spark's native
    // approx_count_distinct replays bit-for-bit in DuckDB (registers via
    // the XXH64 closed form, the harmonic sum as the same in-order IEEE
    // fold, the bias kNN from Spark's own tables — graft.HllSql). The 2%
    // relative-error bound vs exact distinct stays pinned by ScalaTest.
    "a_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem").groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"))),

    "a_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sum_base_cents"))),

    // Full grouping-sets lattice (rollup's big sibling): all 2^2 grouping
    // combinations in one pass
    "a_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("sum_base_cents"))),

    // Distribution ranking windows: quartile bucket + relative rank —
    // percent_rank is (rank-1)/(n-1) in both engines, bit-identical
    "w_ntile_quartiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_returnflag")
        .orderBy(col("l_extendedprice").asc, col("l_orderkey").asc,
          col("l_linenumber").asc)
      t(s, dir, "lineitem")
        .where(col("l_quantity") >= 45)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"))
    }),

    // Duty-amount aggregation: the tax/rate analytics the extended
    // BID_HEAD columns (XmlDeclarations: tax_base x duty rate -> duty)
    // enable, exercised on the harness star schema; integer cents keep the
    // money sum combine-order-exact
    "a_duty_amount" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sum(floor(col("l_extendedprice") * col("l_tax") * 100))
          .as("duty_cents"),
          count(lit(1)).as("n_items"))),

    "w_lag_lead" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy("l_linenumber", "l_partkey", "l_suppkey")
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        lag(col("l_extendedprice"), 1).over(w).as("prev_price"),
        lead(col("l_extendedprice"), 1).over(w).as("next_price"))
    }),

    // ---------- joins ----------
    "j1j2_count_match" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      LinkAlign.countMatchedKeys(
        li.where(col("l_linestatus") === "F"),
        li.where(col("l_returnflag") === "A"), "l_orderkey")
    }),

    "j3_semi_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val valid = LinkAlign.countMatchedKeys(
        li.where(col("l_linestatus") === "F"),
        li.where(col("l_returnflag") === "A"), "l_orderkey")
      li.join(valid, Seq("l_orderkey"), "left_semi")
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    }),

    "j4_ordinal_align" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val a = li.where(col("l_linestatus") === "F").select(
        col("l_orderkey"), col("l_quantity").as("qty_a"),
        col("l_extendedprice").as("price_a"),
        col("l_linenumber").as("a_ln"), col("l_partkey").as("a_pk"),
        col("l_suppkey").as("a_sk"))
      val b = li.where(col("l_returnflag") === "A").select(
        col("l_orderkey"), col("l_quantity").as("qty_b"),
        col("l_extendedprice").as("price_b"),
        col("l_linenumber").as("b_ln"), col("l_partkey").as("b_pk"),
        col("l_suppkey").as("b_sk"))
      LinkAlign.alignByOrdinal(a, b, "l_orderkey",
        Seq(col("a_ln"), col("a_pk"), col("a_sk")),
        Seq(col("b_ln"), col("b_pk"), col("b_sk")))
        .select("l_orderkey", "qty_a", "price_a", "qty_b", "price_b")
    }),

    "j_anti_orphans" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"),
          "left_anti")
        .select("o_orderkey", "o_orderstatus")),

    // As-of join: each click enriched with the user's most recent prior
    // purchase (time + value), null when none — oracled by DuckDB's native
    // ASOF LEFT JOIN.
    // Nearest as-of: the purchase closest in time to each click in EITHER
    // direction, ties backward, exact microseconds. The right side is
    // pre-aggregated to unique (user, ts) so the pick is total; two
    // chained keyed window passes (backward then forward), no join back
    "j_asof_nearest" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts").as("p_ts"))
        .agg(sum(floor(col("value") * 1000000).cast("long"))
          .as("p_value_micros"))
      graft.operators.AsofJoin.asofNearest(
        clicks, purchases, "user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS")
            .as("p_time"),
          col("p_value_micros"), col("asof_direction"),
          col("asof_gap_micros"))
    }),

    "j_asof_backward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          floor(col("value") * 1000000).as("purchase_value_micros"))
      graft.operators.AsofJoin.asofBackward(
        clicks, purchases, "user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"),
          col("purchase_value_micros"))
    }),

    // Runtime-filtered join: lineitem pre-filtered by a Bloom filter of
    // the selective dim side's keys BEFORE the exchange (the dynamic-
    // filtering move, as an explicit operator). Bloom false positives are
    // removed by the join itself, so the result equals the plain join
    "j_bloom_filtered" -> ((s, dir) => {
      val hi = t(s, dir, "orders").where(col("o_totalprice") > 350000.0)
      graft.operators.RuntimeFilters.bloomFilteredJoin(
        t(s, dir, "lineitem"), hi, "l_orderkey", "o_orderkey",
        expectedItems = 100000L)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * 100).cast("long"))
            .as("revenue_cents"))
    }),

    // Range join: clicks within +/-5 min of a same-user purchase, via the
    // bucketed interval join (oracled by a plain BETWEEN join in DuckDB).
    "j_range_interval" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          (col("ts") - expr("INTERVAL 300 SECONDS")).as("w_start"),
          (col("ts") + expr("INTERVAL 300 SECONDS")).as("w_end"))
      graft.operators.RangeJoin.pointInInterval(
        clicks, purchases, "user_id", "ts", "w_start", "w_end",
        bucketSec = 600)
        .select("event_id", "user_id", "purchase_id")
    }),

    // Interval x interval overlap join: same-customer order pairs whose
    // 30-day fulfillment windows [orderdate, orderdate+30d] overlap
    // (concurrent in-flight orders), via the bucketed overlap join —
    // canonical-bucket dedup, no distinct pass, oracled by a plain
    // overlap self-join. Order dates are midnight stamps, so exact
    // epoch DAYS; the 45-day bucket keeps each interval in <= 2 buckets
    "j_interval_overlap" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
      def side(p: String) = ord.select(
        col("o_custkey").as("custkey"),
        col("o_orderkey").as(s"${p}_id"),
        datediff(col("o_orderdate"), lit("1970-01-01")).cast("long")
          .as(s"${p}_start"),
        (datediff(col("o_orderdate"), lit("1970-01-01")).cast("long") + 30L)
          .as(s"${p}_end"))
      graft.operators.RangeJoin.intervalOverlap(
        side("a"), side("b"), "custkey",
        "a_start", "a_end", "b_start", "b_end", bucketWidth = 45L)
        .where(col("a_id") < col("b_id"))
        .groupBy(col("custkey").as("o_custkey"))
        .agg(count(lit(1)).as("n_overlap_pairs"))
    }),

    "j_outer_counts" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"),
          "left_outer")
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("n_items"))),

    // Full outer: both sides filtered differently so each contributes
    // unmatched keys; integer aggregates (see duckdb-parity notes)
    "j_full_outer" -> ((s, dir) => {
      val o = t(s, dir, "orders").where(col("o_orderstatus") === "O")
        .select("o_orderkey", "o_custkey")
      val l = t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .select("l_orderkey", "l_quantity")
      o.join(l, col("o_orderkey") === col("l_orderkey"), "full_outer")
        .groupBy(coalesce(col("o_orderkey"), col("l_orderkey")).as("okey"))
        .agg(max(col("o_custkey")).as("custkey"),
          count(col("l_quantity")).as("n_big_items"),
          sum(floor(col("l_quantity"))).cast("long").as("qty_units"))
    }),

    "j_right_outer" -> ((s, dir) =>
      t(s, dir, "lineitem").where(col("l_quantity") > 45)
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"), "right_outer")
        .groupBy("o_orderkey")
        .agg(count(col("l_orderkey")).as("n_heavy_items"))),

    "set_except" -> ((s, dir) =>
      t(s, dir, "lineitem").select(col("l_orderkey").as("okey")).distinct()
        .except(
          t(s, dir, "orders").where(col("o_orderstatus") === "O")
            .select(col("o_orderkey").as("okey")).distinct())),

    "e3_knowledge_base" -> ((s, dir) => e3KnowledgeBase(s, dir)),

    // ---------- TPC-H-shaped analytics (decimal-exact revenue) ----------
    // Q2-shaped min-cost supplier: the testdata has no partsupp table, so
    // supply cost is proxied by the cheapest single lineitem (exact cents)
    // per (part, supplier) within a region; the classic correlated-min is
    // a window MIN over part — one shuffle, then a broadcast part probe
    "tpch_q2_min_cost_supplier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val cents = (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long")
      val cost = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region").where(col("r_name") === "EUROPE"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("l_partkey"), col("s_suppkey"), col("s_name"),
          col("s_acctbal"), col("n_name"))
        .agg(min(cents).as("cost_cents"))
      cost
        .withColumn("_mn",
          min(col("cost_cents")).over(Window.partitionBy(col("l_partkey"))))
        .where(col("cost_cents") === col("_mn"))
        .join(t(s, dir, "part")
          .where(col("p_size") === 15 && col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .select(
          (col("s_acctbal").cast("decimal(18,2)") * 100).cast("long")
            .as("acctbal_cents"),
          col("s_name"), col("n_name"), col("p_partkey"), col("p_brand"),
          col("cost_cents"))
    }),

    "tpch_q3_shipping_priority" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      t(s, dir, "customer").where(col("c_mktsegment") === "BUILDING")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_shipdate") > lit("1998-01-01").cast("timestamp"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("o_orderpriority"))
        .agg(sum(rev).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),

    "tpch_q5_nation_revenue" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "region"), col("n_regionkey") === col("r_regionkey"))
        .where(col("r_name") === "ASIA")
        .groupBy("n_name")
        .agg(sum(rev).as("revenue"))
    }),

    // Q7-shaped bilateral trade volume: two nation roles on one dimension
    // table, year bucketing, decimal-exact revenue; the nation lookups are
    // broadcast (tiny dims), the fact-side joins shuffle on their keys
    "tpch_q7_volume" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      val n1 = t(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = t(s, dir, "nation")
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where(((col("supp_nation") === "NATION_1" &&
          col("cust_nation") === "NATION_2") ||
          (col("supp_nation") === "NATION_2" &&
            col("cust_nation") === "NATION_1")) &&
          year(col("l_shipdate")).between(1996, 1997))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        .agg(sum(rev).as("revenue"))
    }),

    // Q6-shaped revenue-change forecast: tight scan-side filter + scalar
    // aggregate — the pushdown showcase (every predicate reaches the scan)
    "tpch_q6_forecast" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1996 &&
          col("l_discount").between(0.02, 0.04) && col("l_quantity") < 24)
        .agg(sum(floor(col("l_extendedprice") * col("l_discount") * 100))
          .as("revenue_cents"), count(lit(1)).as("n_rows"))),

    // Q13-shaped order-count distribution: left outer join keeps customers
    // with zero orders, double aggregation folds to a histogram
    "tpch_q13_custdist" -> ((s, dir) =>
      t(s, dir, "customer")
        .join(t(s, dir, "orders"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))),

    // Q14-shaped promo share: numerator and denominator emitted as exact
    // decimal columns (a double ratio would be combine-order-dependent)
    "tpch_q14_promo" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(col("l_shipdate") >= "1996-09-01" &&
          col("l_shipdate") < "1996-10-01")
        .agg(sum(when(col("p_type") === "PROMO", rev)).as("promo_revenue"),
          sum(rev).as("total_revenue"))
    }),

    "tpch_q10_returned_items" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      t(s, dir, "customer")
        .join(t(s, dir, "orders"), col("c_custkey") === col("o_custkey"))
        .join(t(s, dir, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_returnflag") === "R")
        .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(rev).as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey").asc)
        .limit(20)
    }),

    // Q11-shaped important stock: per-part value (exact ten-thousandths)
    // held by one nation's suppliers, kept when above 1/1000 of that
    // nation's grand total — the scalar total rides a broadcast cross
    // join, the threshold is integer cross-multiplication
    "tpch_q11_important_value" -> ((s, dir) => {
      val valE4 = ((col("l_extendedprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(18,2)")).cast("decimal(18,4)") *
        lit(10000)).cast("long")
      val held = t(s, dir, "lineitem")
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation").where(col("n_name") === "NATION_7"),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("l_partkey"), valE4.as("v"))
      val perPart = held.groupBy("l_partkey").agg(sum(col("v")).as("value_e4"))
      // grand total = sum of the per-part sums: re-aggregate the (small)
      // aggregate instead of scanning the fact join twice
      perPart
        .crossJoin(broadcast(perPart.agg(sum(col("value_e4")).as("_total_e4"))))
        .where(col("value_e4") * 1000 > col("_total_e4"))
        .select(col("l_partkey"), col("value_e4"))
    }),

    "tpch_q18_large_orders" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val big = li.groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("total_qty"))
        .where(col("total_qty") > 300)
      t(s, dir, "orders")
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
          col("total_qty"))
    }),

    // Q4-shaped priority report: EXISTS over returned lineitems -> left-semi
    // join (never materializes the match multiplicity), then a tiny agg
    "tpch_q4_priority_exists" -> ((s, dir) =>
      t(s, dir, "orders")
        .join(t(s, dir, "lineitem").where(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))),

    // Q8-shaped market share: one nation's supplier revenue share per order
    // year inside a region. Share is emitted as an exact integer numerator /
    // denominator in revenue ten-thousandths (decimal sums widen to
    // DECIMAL(38,4)/HUGEINT differently across engines; a BIGINT sum of
    // exact per-row integers is hash-comparable everywhere)
    "tpch_q8_market_share" -> ((s, dir) => {
      val revE4 = ((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(18,4)") *
        lit(10000)).cast("long")
      val suppNation = t(s, dir, "nation")
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val custNation = t(s, dir, "nation")
        .select(col("n_nationkey").as("cn_key"), col("n_regionkey").as("cn_region"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t(s, dir, "customer"), col("o_custkey") === col("c_custkey"))
        .join(custNation, col("c_nationkey") === col("cn_key"))
        .join(t(s, dir, "region"), col("cn_region") === col("r_regionkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(suppNation, col("s_nationkey") === col("sn_key"))
        .where(col("r_name") === "ASIA")
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_3", revE4).otherwise(0L))
            .as("nation_rev_e4"),
          sum(revE4).as("total_rev_e4"))
    }),

    // Q9-shaped profit by supplier nation and year; the testdata has no
    // partsupp, so retail price x quantity stands in for supply cost —
    // the plan shape (filtered part dim joined into the fact, two more
    // broadcast dims, two-key agg) is the point
    "tpch_q9_profit_proxy" -> ((s, dir) => {
      // profit emitted in exact ten-thousandths (BIGINT) — see q8 note
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      val cost = (col("p_retailprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(18,2)")).cast("decimal(28,4)")
      val profitE4 = ((rev - cost).cast("decimal(18,4)") * lit(10000))
        .cast("long")
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").where(col("p_name").contains("red")),
          col("l_partkey") === col("p_partkey"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(sum(profitE4).as("profit_proxy_e4"))
    }),

    // Q12-shaped late-shipment report: ship lag over a join, conditional
    // (pivot-style) counts per line status
    "tpch_q12_late_lines" -> ((s, dir) => {
      val urgent = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
        .where(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
        .groupBy("l_linestatus")
        .agg(sum(when(urgent, 1L).otherwise(0L)).as("high_line_count"),
          sum(when(!urgent, 1L).otherwise(0L)).as("low_line_count"))
    }),

    // Q15-shaped top supplier: revenue ranking with a scalar-subquery max,
    // expressed as a broadcast join against the 1-row global max (no
    // unpartitioned window — that would single-thread the ranking at scale)
    "tpch_q15_top_supplier" -> ((s, dir) => {
      val rev = (col("l_extendedprice").cast("decimal(18,2)") *
        (lit(java.math.BigDecimal.ONE).cast("decimal(18,2)") -
          col("l_discount").cast("decimal(18,2)"))).cast("decimal(28,4)")
      val bysupp = t(s, dir, "lineitem")
        .where(year(col("l_shipdate")) === 1996)
        .groupBy("l_suppkey")
        .agg(sum(rev).as("total_revenue"))
      val mx = bysupp.agg(max(col("total_revenue")).as("mx"))
      bysupp.join(broadcast(mx), col("total_revenue") === col("mx"))
        .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
    }),

    // Q16-shaped supplier count per part attribute, with the NOT IN
    // "complaints" exclusion as a null-safe anti-join
    "tpch_q16_supplier_cnt" -> ((s, dir) => {
      val bad = t(s, dir, "supplier").where(col("s_acctbal") < -900)
        .select(col("s_suppkey").as("bad_key"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").where(col("p_brand") =!= "Brand#1"),
          col("l_partkey") === col("p_partkey"))
        .join(bad, col("l_suppkey") === col("bad_key"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    // Q17-shaped small-quantity revenue: the correlated per-part average is
    // re-expressed as one grouped agg joined back to the fact, and the
    // `qty < 0.2 * avg(qty)` threshold as exact integer-decimal cross
    // multiplication (5 * cnt * qty < sum) — double division would put the
    // comparison one ulp from the oracle
    "tpch_q17_small_qty" -> ((s, dir) => {
      val qd = col("l_quantity").cast("decimal(18,2)")
      val per = t(s, dir, "lineitem")
        .groupBy(col("l_partkey").as("agg_pk"))
        .agg(sum(qd).as("sum_qty"), count(lit(1)).as("cnt_qty"))
      t(s, dir, "lineitem")
        .join(t(s, dir, "part").where(col("p_brand") === "Brand#2"),
          col("l_partkey") === col("p_partkey"))
        .join(per, col("l_partkey") === col("agg_pk"))
        .where(qd * lit(5) * col("cnt_qty") < col("sum_qty"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("revenue_cents"), count(lit(1)).as("n_rows"))
    }),

    // Q19-shaped disjunctive predicate scan: three (brand, size, quantity)
    // conjunctions OR-ed over the li x part join; revenue in exact cents
    "tpch_q19_disjunctive" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#4" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(floor(col("l_extendedprice") *
            (lit(1) - col("l_discount")) * 100).cast("long"))
          .as("revenue_cents"), count(lit(1)).as("n_rows"))),

    // Q20-shaped semi-join chain: suppliers who moved > 50 units of red
    // parts — agg-with-having feeding a left-semi into the dimension
    "tpch_q20_semi_chain" -> ((s, dir) => {
      val qualifying = t(s, dir, "lineitem")
        .join(t(s, dir, "part").where(col("p_name").startsWith("red")),
          col("l_partkey") === col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("red_qty"))
        .where(col("red_qty") > 50)
      t(s, dir, "supplier")
        .join(qualifying, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_suppkey"), col("s_name"))
    }),

    // Q21-shaped waiting-supplier report: EXISTS (another supplier on the
    // order) AND NOT EXISTS (another supplier who also returned) — a
    // left-semi then left-anti self-join pair on the fact table
    "tpch_q21_waiting" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val r1 = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("r_ok"), col("l_suppkey").as("r_sk"))
      val others = li.select(col("l_orderkey").as("o2_ok"),
        col("l_suppkey").as("o2_sk"))
      val othersR = li.where(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("o3_ok"), col("l_suppkey").as("o3_sk"))
      r1.join(others,
          col("r_ok") === col("o2_ok") && col("r_sk") =!= col("o2_sk"),
          "left_semi")
        .join(othersR,
          col("r_ok") === col("o3_ok") && col("r_sk") =!= col("o3_sk"),
          "left_anti")
        .join(t(s, dir, "supplier"), col("r_sk") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
    }),

    // Q22-shaped idle customers: above-average balance (scalar subquery as
    // a broadcast 1-row cross join, threshold cross-multiplied to exact
    // decimals) with no URGENT orders (anti-join; every synthetic customer
    // has SOME order, so the classic no-orders predicate would be vacuous),
    // reported per segment
    "tpch_q22_idle_customers" -> ((s, dir) => {
      val cd = col("c_acctbal").cast("decimal(18,2)")
      val pos = t(s, dir, "customer").where(cd > 0)
        .agg(sum(cd).as("sum_bal"), count(lit(1)).as("cnt_bal"))
      t(s, dir, "customer")
        .crossJoin(broadcast(pos))
        .where(cd * col("cnt_bal") > col("sum_bal"))
        .join(t(s, dir, "orders").where(col("o_orderpriority") === "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_custs"),
          sum((cd * 100).cast("long")).as("total_bal_cents"))
    }),

    // ---------- windows ----------
    "w1_item_seq" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        row_number().over(Window.partitionBy("l_orderkey")
          .orderBy("l_linenumber", "l_partkey", "l_suppkey"))
          .cast("long").as("item_seq"))
    }),

    "w2_cumcount" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      t(s, dir, "events").select(
        col("event_id"), col("user_id"),
        row_number().over(Window.partitionBy("user_id")
          .orderBy(col("ts"), col("event_id")))
          .cast("long").as("seq"))
    }),

    "w3_ffill" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val gappy = when(col("l_returnflag") === "N", lit(null))
        .otherwise(col("l_extendedprice"))
      li.select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        ffill(gappy, Seq(col("l_orderkey")),
          Seq(col("l_linenumber"), col("l_partkey"), col("l_suppkey")))
          .as("filled_price"))
    }),

    // ---------- sorts / limits / set ops ----------
    "o1_topk_sort" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)),

    // Global sequence numbers the distributed way: range-partitioned
    // sort + per-partition offsets (zipWithIndex), never a
    // single-partition window over the whole table
    "o_global_seq" -> ((s, dir) =>
      graft.operators.Ranking.globalRowNumbers(
        t(s, dir, "documents").select(col("doc_id")), Seq("doc_id"))),

    // 2-D skyline (Pareto frontier) of customers maximizing BOTH total
    // spend and order count — no weighting, the undominated set. Engine:
    // per-x max aggregate + PrefixScan's distributed x-desc sweep +
    // frontier semi-join (O(n log n), never all-pairs); oracle: the
    // literal NOT EXISTS dominance definition (all-pairs is fine at
    // oracle scale)
    "o_skyline" -> ((s, dir) =>
      graft.operators.Skyline.pareto2d(
          t(s, dir, "orders")
            .groupBy(col("o_custkey"))
            .agg(sum(round(col("o_totalprice") * 100).cast("long"))
              .as("spend_cents"),
              count(lit(1)).as("n_orders")),
          "spend_cents", "n_orders")
        .select("o_custkey", "spend_cents", "n_orders")),

    "o3_limit_probe" -> ((s, dir) =>
      t(s, dir, "orders").select("o_orderkey")
        .orderBy(col("o_orderkey").asc).limit(1)),

    "o4_union_all" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      o.where(col("o_orderstatus") === "O").select("o_orderkey", "o_orderstatus")
        .unionByName(
          o.where(col("o_orderstatus") === "F")
            .select("o_orderkey", "o_orderstatus"))
    }),

    "set_intersect" -> ((s, dir) =>
      t(s, dir, "orders").select(col("o_custkey").as("custkey")).distinct()
        .intersect(
          t(s, dir, "customer").select(col("c_custkey").as("custkey"))
            .distinct())),

    // Bag-semantics set ops (multiplicity-preserving): INTERSECT ALL
    // keeps min(multiplicities), EXCEPT ALL subtracts them — Spark plans
    // both as a single aggregate over the union (no join), same as the
    // DISTINCT forms plus a count column. Reduced to per-key counts so
    // the multiplicity arithmetic itself is what's hash-pinned
    "set_intersect_all" -> ((s, dir) => {
      val a = t(s, dir, "orders").where(col("o_orderstatus") =!= "F")
        .select(col("o_custkey").as("custkey"))
      val b = t(s, dir, "orders").where(col("o_totalprice") > 100000.0)
        .select(col("o_custkey").as("custkey"))
      a.intersectAll(b).groupBy("custkey")
        .agg(count(lit(1)).as("n_kept"))
    }),

    "set_except_all" -> ((s, dir) => {
      val a = t(s, dir, "orders").where(col("o_orderstatus") =!= "F")
        .select(col("o_custkey").as("custkey"))
      val b = t(s, dir, "orders").where(col("o_totalprice") > 100000.0)
        .select(col("o_custkey").as("custkey"))
      a.exceptAll(b).groupBy("custkey")
        .agg(count(lit(1)).as("n_left"))
    }),

    // Misc aggregate surface in one row: count_if, bool_and/bool_or,
    // any_value (deterministic: keys are constant within each group),
    // min_by/max_by with total tie-break
    "a_misc_aggs" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
          count_if(col("o_totalprice") > 200000.0).as("n_big"),
          bool_and(col("o_totalprice") > 850.0).as("all_nontrivial"),
          bool_or(col("o_orderstatus") === "P").as("any_pending"),
          any_value(col("o_orderpriority")).as("prio_again"),
          // tie-broken total order packed into one long (price cents
          // dominate, orderkey disambiguates) — portable to the oracle
          min_by(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long") * 10000000L +
              col("o_orderkey")).as("cheapest_key"),
          max_by(col("o_orderkey"),
            floor(col("o_totalprice") * 100).cast("long") * 10000000L +
              col("o_orderkey")).as("priciest_key"))),

    // ---------- scalar functions ----------
    "f_clean_keys" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        cleanDocNo(concat(lit("BY/  /"), col("l_orderkey").cast("string"),
          lit(" /"), col("l_partkey").cast("string"))).as("doc_no"),
        cleanWaybill(concat(lit("mw-"), col("l_orderkey").cast("string"),
          lit(" /x"))).as("waybill"),
        linkKey(concat(lit("M"), col("l_orderkey").cast("string")),
          concat(lit("h/"), col("l_suppkey").cast("string"))).as("link_key"),
        lit("TWD").as("currency"), lit("PENDING").as("processing_status"))),

    "f_normalize_text" -> ((s, dir) =>
      t(s, dir, "documents").select(col("doc_id"),
        normalizeText(col("text")).as("norm_text"))),

    "f_iso_date" -> ((s, dir) => {
      val iso = date_format(col("l_shipdate"), "yyyy-MM-dd'T'HH:mm:ss+08:00")
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        date_format(isoDate(iso), "yyyy-MM-dd").as("ship_date"))
    }),

    // Higher-order array functions over the embedding column, all
    // row-local and codegen-adjacent (transform/slice/filter/aggregate —
    // no explode, no UDF): quantize to integer thousandths then derive
    // per-row reductions the same lambdas DuckDB's list functions replay
    "f_array_ops" -> ((s, dir) =>
      t(s, dir, "embeddings")
        .select(col("vec_id"),
          expr("transform(embedding, x -> cast(floor(x * 1000) as bigint))")
            .as("q"))
        .select(col("vec_id"),
          expr("aggregate(transform(slice(q, 1, 8), x -> x * x), " +
            "0L, (a, x) -> a + x)").as("sumsq8"),
          expr("cast(size(filter(q, x -> x > 0)) as bigint)").as("n_pos"),
          expr("array_max(q)").as("max_q"),
          expr("aggregate(q, 0L, (a, x) -> a + x)").as("sum_q"))),

    "f_num_coerce_json" -> ((s, dir) =>
      t(s, dir, "events").select(
        col("event_id"),
        numOrZero(get_json_object(col("props"), "$.k")).as("k_value"),
        numOrZero(col("event_type")).as("not_a_number"))),

    // Rounding mode itself (bround, Python-parity) is pinned by ScalaTest;
    // the oracle compares floor-scaled integers because DuckDB's float-path
    // round() and Spark's BigDecimal round() disagree in the last ulp.
    "f_unit_price" -> ((s, dir) =>
      t(s, dir, "lineitem").select(
        col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        when(col("l_quantity") > 0,
          floor(col("l_extendedprice") / col("l_quantity") * 10000))
          .otherwise(lit(0L)).as("unit_price_e4"))),

    "f_validate" -> ((s, dir) =>
      t(s, dir, "customer").select(
        col("c_custkey"),
        strTrim(col("c_name")).as("name_trim"),
        isAlnum(col("c_name")).as("name_alnum"),
        isRealValue(col("c_mktsegment")).as("seg_real"))),

    // ---------- events: JSON + event-time windows ----------
    // Sliding (hopping) 1h windows every 30min: each event lands in
    // exactly two windows; the DuckDB twin expands both epoch-aligned
    // candidate starts per event
    "events_sliding_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000000)).as("value_micros"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("win_start"),
          col("event_type"), col("n_events"), col("value_micros"))),

    // Trailing 7-day distinct users per active day: COUNT(DISTINCT) over
    // a sliding range frame is unsupported by Spark windows — the
    // scalable shape reduces events to the bounded (day, user) PRESENCE
    // table, range-joins it to the (tiny, broadcast) day list (each
    // presence row expands to <= 7 anchors), then one exact distinct
    // agg. Presence is |active days x daily actives| << |events|
    "events_trailing_distinct" -> ((s, dir) => {
      val pres = t(s, dir, "events")
        .select(datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"), col("user_id"))
        .distinct()
      val days = pres.select(col("day").as("d")).distinct()
      // EXPLODE the <= 7 anchor days per presence row, then an EQUI
      // hash-join against the active-day list — never the O(|pres| x
      // |days|) nested-loop a between-join would plan
      pres
        .select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .join(broadcast(days), "d")
        .groupBy(col("d"))
        .agg(countDistinct(col("user_id")).as("n_users_7d"))
        .select(col("d").as("day"), col("n_users_7d"))
    }),

    // The at-scale swap for the exact trailing distinct: ONE kilobyte
    // HLL sketch per active day, each trailing-7 window unions 7
    // sketches — when daily actives are huge the presence table above
    // stops fitting and this is the standard replacement. Rows-only
    // (sketch internals); error vs the exact twin pinned in SketchesSpec
    "events_trailing_distinct_sketch" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"), col("user_id"))
        .groupBy("day")
        .agg(hll_sketch_agg(col("user_id"), lit(12)).as("sk"))
      val days = daily.select(col("day").as("d"))
      // same anchor-explode + equi-join shape as the exact twin
      daily
        .select(col("sk"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .join(broadcast(days), "d")
        .groupBy(col("d"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false)))
          .as("n_users_7d_approx"))
        .select(col("d").as("day"), col("n_users_7d_approx"))
    }),

    // The trailing-distinct swap re-based on the HLL++ register family
    // (r17): same anchor-explode + kilobyte-union shape as the
    // DataSketches twin above, but register max-merges are byte-exact
    // and the estimator replays in DuckDB — so THIS windowed-sketch form
    // carries a full hash oracle (graft.HllSql over the (anchor, user)
    // pair table; merging per-day registers over the window equals the
    // direct aggregate over the window's users because slot maxes
    // commute with the union)
    "events_trailing_distinct_hllpp" -> ((s, dir) => {
      val daily = t(s, dir, "events")
        .select(datediff(to_date(col("ts")), lit("1970-01-01"))
          .cast("long").as("day"), col("user_id"))
        .groupBy("day")
        .agg(graft.operators.Sketches.hllppSketchAgg(col("user_id"))
          .as("sk"))
      val days = daily.select(col("day").as("d"))
      daily
        .select(col("sk"),
          explode(sequence(col("day"), col("day") + 6)).as("d"))
        .join(broadcast(days), "d")
        .groupBy(col("d"))
        .agg(graft.operators.Sketches.hllppEstimate(
          graft.operators.Sketches.hllppMergeAgg(col("sk")))
          .as("n_users_7d_hllpp"))
        .select(col("d").as("day"), col("n_users_7d_hllpp"))
    }),

    // Segment-overlap matrix, EXACT: for each event-type pair (a < b),
    // users who did both and users who did only A. The scalable shape
    // reduces events to the (segment, user) PRESENCE table first, then
    // self-equi-joins on user_id — per-user cost is (segments-per-user)²,
    // bounded by S², never |events|². Zero-overlap pairs still emit (the
    // tiny segment list crosses under a broadcast, counts coalesce to 0)
    // so the sketch twin below pins against the full matrix
    "events_user_overlap" -> ((s, dir) => {
      val seg = t(s, dir, "events")
        .select(col("event_type").as("seg"), col("user_id")).distinct()
      val both = seg.select(col("seg").as("seg_a"), col("user_id"))
        .join(seg.select(col("seg").as("seg_b"), col("user_id")), "user_id")
        .where(col("seg_a") < col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(count(lit(1)).as("n_both")) // presence rows are distinct
      val sizes = seg.groupBy(col("seg").as("seg_a"))
        .agg(count(lit(1)).as("n_a"))
      val segs = seg.select("seg").distinct()
      segs.select(col("seg").as("seg_a"))
        .join(broadcast(segs.select(col("seg").as("seg_b"))),
          col("seg_a") < col("seg_b"))
        .join(both, Seq("seg_a", "seg_b"), "left")
        .join(broadcast(sizes), "seg_a")
        .select(col("seg_a"), col("seg_b"),
          coalesce(col("n_both"), lit(0L)).as("n_both"),
          (col("n_a") - coalesce(col("n_both"), lit(0L))).as("n_a_only"))
    }),

    // The at-scale swap: the same overlap matrix from AT-REST THETA
    // sketches (custom TypedImperativeAggregate — Spark 4's built-in
    // DataSketches surface is HLL, which unions but cannot intersect or
    // difference). One kilobyte sketch per segment, built in one fact
    // scan and persisted; the matrix is |segments|² sketch set-ops with
    // ZERO fact reads — the presence-table twin above rescans the corpus
    // per run and its self-join grows with |users|. Fully hash-oracled
    // (r17): theta sketches below k=4096 distinct ids are in EXACT mode
    // by the DataSketches contract — intersections/differences are
    // exactly the set cardinalities — so at oracle scale the DuckDB twin
    // is the exact pair matrix itself (the scaladoc claim in
    // segmentOverlapFromSketches, operationalized). The estimation-mode
    // error law above k stays pinned in SketchesSpec
    "events_user_overlap_sketch" -> ((s, dir) => {
      val path = graft.operators.Sketches.thetaSketchTableFor(
        t(s, dir, "events")
          .select(col("event_type").as("seg"), col("user_id")),
        Seq("seg"), "user_id", key = s"events-tsk-$dir", spark = s)
      graft.operators.Sketches.segmentOverlapFromSketches(s, path, "seg")
    }),

    // Seasonal-means decomposition of the hourly value series: the
    // seasonal component of hour-of-day h is the exact integer mean of
    // all hour-h totals, the residual is what a threshold alert should
    // fire on (raw totals confound "3am is always quiet" with "this 3am
    // is anomalous"). Two hash aggregates + one broadcast join of the
    // 24-row seasonal profile — the profile is bounded by the CYCLE
    // length, never the series, so the shape is flat at any scale
    "events_seasonal" -> ((s, dir) => {
      val hourly = t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"))
        .agg(sum(floor(col("value") * 1000000).cast("long"))
          .as("total_micros"))
        .withColumn("hod", hour(col("h")).cast("long"))
      val seasonal = hourly.groupBy("hod")
        .agg(expr("cast(sum(total_micros) div count(1) as bigint)")
          .as("seasonal_micros"))
      hourly.join(broadcast(seasonal), "hod")
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("hod"), col("total_micros"), col("seasonal_micros"),
          (col("total_micros") - col("seasonal_micros"))
            .as("residual_micros"))
    }),

    "events_hourly_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(floor(col("value") * 1000000)).as("value_micros"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("hour_start"),
          col("event_type"), col("n_events"), col("value_micros"))),

    // Windowed leaderboard: top-3 users per hour by event count — the
    // grouped count shrinks the stream to (hour, user) pairs BEFORE the
    // per-hour rank window, so the window partition is bounded by active
    // users per hour, never raw events
    "events_top_users_hourly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("h")
        .orderBy(col("n_events").desc, col("user_id").asc)
      t(s, dir, "events")
        .groupBy(date_trunc("hour", col("ts")).as("h"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
          col("user_id"), col("n_events"), col("rk"))
    }),

    // Gap-based sessionization in batch (lag -> new-session flag -> running
    // sum as session id) — the SQL-expressible twin of the streaming
    // EventStreams.sessionize; 1800s gap.
    "events_sessionize" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
        .withColumn("new_session",
          when(col("prev_ts").isNull ||
            col("ts").cast("long") - col("prev_ts").cast("long") > 1800, 1L)
            .otherwise(0L))
        .withColumn("session_id", sum(col("new_session")).over(cum))
        .groupBy("user_id", "session_id")
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"))
    }),

    // ---------- dedup ----------
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(
        t(s, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("text")),
        "doc_id", "text")),

    // All three shingle-based passes below run off ONE cached collapse
    // table per dataset (Dedup.shingleGroupsFor) — the documented
    // corpus-scale two-step made the default
    "dedup_ngram_jaccard" -> ((s, dir) =>
      Dedup.ngramPairsFor(t(s, dir, "documents"), "doc_id", "text",
        k = 2, minJaccard = 0.8, key = dir)),

    // ASYMMETRIC containment: contained-doc pairs symmetric Jaccard
    // can't see (quote-inside-article, boilerplate wrapping); prefix
    // blocking on the contained side only, directional output
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairsFor(t(s, dir, "documents"), "doc_id", "text",
        k = 2, minContainment = 0.8, key = dir)),

    // Sorted-neighborhood blocking (Hernández–Stolfo): global order on a
    // normalized text prefix via the distributed range-sort sequence
    // numbers, candidates = the 5 successors of each doc in that order
    // (n·w pairs, no banding), exact-jaccard confirm row-local. The
    // third blocking strategy of the dedup family (LSH buckets / PPJoin
    // prefixes / sort order), oracled via a row_number + rank-distance
    // self-join replay
    "dedup_sorted_neighborhood" -> ((s, dir) =>
      Dedup.sortedNeighborhoodPairs(t(s, dir, "documents"), "doc_id",
        "text", keyLen = 12, window = 5, k = 2, minJaccard = 0.8)),

    // transitive closure of the near-dup pair list: hash-min label
    // propagation (distributed rounds = component diameter); cluster id =
    // min doc id in the component — oracled via a recursive-CTE
    // reachability replay over the same pair SQL
    "dedup_clusters" -> ((s, dir) =>
      Dedup.ngramClustersFor(t(s, dir, "documents"), "doc_id", "text",
        k = 2, minJaccard = 0.8, key = dir)
        .select(col("doc").cast("long").as("doc_id"),
          col("cluster").cast("long").as("cluster_id"))),

    // The collapse decision the cluster list exists FOR: per near-dup
    // cluster keep the best document (longest, ties to the smallest id)
    // and emit the keep/drop verdict per member — the survivor selection
    // step real dedup pipelines run after clustering
    "dedup_survivors" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val clusters = Dedup.ngramClustersFor(docs, "doc_id", "text",
        k = 2, minJaccard = 0.8, key = dir)
      val w = Window.partitionBy("cluster")
        .orderBy(col("n_chars").desc, col("doc").asc)
      clusters
        .join(docs.select(col("doc_id").as("doc"), col("n_chars")), "doc")
        .withColumn("rk", row_number().over(w))
        .select(col("doc").cast("long").as("doc_id"),
          col("cluster").cast("long").as("cluster_id"),
          col("n_chars"), (col("rk") === 1).cast("long").as("keep"))
    }),

    // GOLDEN RECORD per near-dup cluster — the field-level survivorship
    // step of entity resolution (dedup_survivors picks ONE row; this
    // MERGES fields under explicit per-field rules): representative =
    // argmax(n_chars, tie → min doc) via ONE struct-max aggregate (no
    // extra window shuffle), majority lang via the GroupedMode shape
    // (vote stream collapses map-side to (cluster, lang) rows before
    // ranking), plus count/min/max/distinct merges. Two hash aggs + one
    // cluster-keyed join — nothing touches raw text after clustering
    "dedup_golden_record" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val clusters = Dedup.ngramClustersFor(docs, "doc_id", "text",
        k = 2, minJaccard = 0.8, key = dir)
      val m = clusters.join(
        docs.select(col("doc_id").as("doc"), col("lang"), col("source"),
          col("n_chars")), "doc")
      val base = m.groupBy(col("cluster").cast("long").as("cluster_id"))
        .agg(count(lit(1)).as("n_members"),
          min(col("doc")).cast("long").as("first_doc"),
          // lexicographic struct max = max n_chars, tie -> min doc
          max(struct(col("n_chars"), (-col("doc")).as("nd"))).as("_rep"),
          max(col("n_chars")).as("max_chars"),
          countDistinct(col("source")).as("n_sources"))
        .select(col("cluster_id"), col("n_members"), col("first_doc"),
          (-col("_rep.nd")).cast("long").as("rep_doc"),
          col("max_chars"), col("n_sources"))
      val langc = m
        .groupBy(col("cluster").cast("long").as("cluster_id"), col("lang"))
        .agg(count(lit(1)).as("lang_freq"))
      val w = Window.partitionBy("cluster_id")
        .orderBy(col("lang_freq").desc, col("lang").asc)
      val langm = langc.withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("cluster_id"), col("lang").as("majority_lang"),
          col("lang_freq"))
      base.join(langm, "cluster_id")
    }),

    // Incremental dedup: each NEW document (doc_id%10 >= 8) judged
    // against the already-kept REFERENCE corpus only — asymmetric PPJoin
    // (ref-side document frequencies, cross-side pairs only), verdict
    // relation over every new doc. The arriving-batch pass of a
    // continuously growing training set
    "dedup_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      Dedup.incrementalVerdict(
        docs.where(pmod(col("doc_id"), lit(10)) >= 8),
        docs.where(pmod(col("doc_id"), lit(10)) < 8),
        "doc_id", "text", k = 2, minJaccard = 0.8,
        refKey = Some(s"$dir#incr-ref"))
    }),

    // EXACT ORACLE (r16): the DuckDB twin replays the WHOLE xxhash64
    // machinery — token hashes (XxhSql string recursion), ShingleHashes'
    // 2-fold hashLong chains, MinHashSignature's salted hashLong minima
    // (salts from the SAME XXH64.hashInt generator the kernel uses), a
    // band bucket hash (per-band seed + joined-decimal-string hash) that
    // groups the same sets as the engine's raw-slice band keys,
    // exact-Jaccard confirm and group expansion
    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairsFromGroups(
        Dedup.shingleGroupsFor(t(s, dir, "documents"), "doc_id", "text",
          k = 2, key = dir),
        numHashes = 32, bands = 8, minJaccard = 0.8)
        .select(col("id_a"), col("id_b"),
          col("intersection").cast("long"))),

    // EXACT ORACLE (r16): the DuckDB twin replays the xxhash64 kernel
    // itself — XXH64 in HUGEINT mod-2^64 arithmetic (graft.XxhSql), per
    // distinct token, then the same ±1 bit votes / sign packing and the
    // brute hamming<=3 pair relation (blocked==brute pinned in DedupSpec)
    "dedup_simhash" -> ((s, dir) =>
      Dedup.simhashPairs(t(s, dir, "documents"), "doc_id", "text",
        maxHamming = 3)
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))),

    // The two signature machines under the md5 hash family (md5-derived
    // integers any engine computes identically): the simhash/minhash
    // MATH replays in plain SQL, without the XXH64 recursion
    "dedup_simhash_md5" -> ((s, dir) =>
      Dedup.simhash(t(s, dir, "documents"), "doc_id", "text", HashFamily.Md5)
        .withColumnRenamed("simhash", "simhash60")),

    "dedup_minhash_md5" -> ((s, dir) =>
      Dedup.minhashSignatures(t(s, dir, "documents"), "doc_id", "text",
        k = 2, numHashes = 32, HashFamily.Md5)),

    // dedup_minhash_lsh's pipeline under the md5 family
    "dedup_minhash_md5_lsh" -> ((s, dir) =>
      Dedup.minhashLshPairsFromGroups(
        Dedup.shingleGroupsFor(t(s, dir, "documents"), "doc_id", "text",
          k = 2, key = dir, HashFamily.Md5),
        numHashes = 32, bands = 8, minJaccard = 0.8, family = HashFamily.Md5)
        .select(col("id_a"), col("id_b"), col("intersection").cast("long"),
          col("union_size").cast("long"))),

    // Measured LSH recall per Jaccard decile vs the exact pair relation
    // — the corpus' own s-curve; threshold 0.7 so the curve has a tail
    "dedup_lsh_recall" -> ((s, dir) =>
      Dedup.lshRecallEval(t(s, dir, "documents"), "doc_id", "text",
        k = 2, numHashes = 32, bands = 8, minJaccard = 0.7,
        key = dir)), // memo key includes the threshold; collapse shared

    "dedup_embedding" -> ((s, dir) =>
      Dedup.embeddingPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.4)),

    // SemDeDup-style semantic dedup: codebook-cell blocking + exact
    // integer cosine² test (decimal(38,0) cross-multiplication), smallest
    // id per neighborhood survives. Fixed literal codebook -> the entire
    // pass replays in SQL; threshold cos² >= 0.16 (cos >= 0.4 — the
    // synthetic embeddings top out near 0.5–0.6 cosine, so 0.4 is the
    // regime where this corpus actually HAS semantic near-dups and the
    // green row proves non-trivial flags, not an all-false table)
    "dedup_semantic" -> ((s, dir) =>
      Dedup.semanticDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64),
        simSqPpm = 160000L)),

    // ---------- similarity search ----------
    "knn_brute" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // RADIUS (range) search: ALL neighbors with cos >= 0.4 of the probe
    // set (the fixture embeddings are near-orthogonal — 0.4 is the
    // dedup_semantic threshold) — exact integer test, query side
    // broadcast into one corpus scan; output size data-determined (the
    // API top-k cannot express)
    "knn_radius" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnRadius(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", simSqPpm = 160000L)
    }),

    // the scale form: radius search reading ONLY the probe cells of the
    // at-rest fixed-codebook layout (shared with knn_ivf_filtered's
    // memoized build) — deterministic probes, so even the PRUNED result
    // is hash-oracled; pruned ⊆ full pinned in SimilaritySpec
    "knn_radius_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnRadiusPartitioned(s, ivfFilteredLayout(s, dir, emb),
        emb.where(col("vec_id") < 20), "vec_id", "embedding",
        nprobe = 2, simSqPpm = 160000L)
    }),

    "knn_bucketed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnBucketed(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // kNN label classification: majority label among the 5 exact nearest
    // neighbors (ties to the smaller label) — label propagation for data
    // curation, composed from the oracled brute-force tier + an integer
    // vote, so the whole classifier is hash-oracled
    "knn_classify" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val nn = Similarity.knnBruteForce(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5)
      nn.join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
        "neighbor_id")
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("votes"))
        .groupBy(col("query_id"))
        .agg(max_by(struct(col("label").as("l"), col("votes").as("v")),
          struct(col("votes"), -col("label"))).as("_b"))
        .select(col("query_id"), col("_b.l").cast("long").as("pred_label"),
          col("_b.v").as("votes"))
    }),

    // IVF over a FIXED literal codebook with exact-integer scoring — the
    // ANN tier with a FULL hash oracle: quantize/assign/probe/score/top-k
    // are all replayed by DuckDB over the same parquet (knn_ivf below is
    // the same search under the trained codebook)
    "knn_ivf_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5,
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64),
        nprobe = 2)
    }),

    // Measured IVF recall@k per query: nprobe=2 vs probe-ALL-cells (the
    // exact integer-dot brute force) — isolates probe misses from
    // quantization/ties, which are identical in both arms; hash-oracled
    "knn_ivf_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.ivfRecallEval(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5,
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64),
        nprobe = 2)
    }),

    // INCREMENTAL layout growth under the full oracle: the fixed-codebook
    // at-rest layout is built on a BASE slice and grown by appending the
    // remaining rows (the layout's persisted codebook, existing files
    // untouched), then queried partition-pruned. The oracle is
    // knn_ivf_fixed's SQL over the full corpus — a hash match proves the
    // append is invisible to queries, the contract appendToIvf's scaladoc
    // states
    "knn_ivf_append" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = SparkEntry.ivfAppendLayouts.getOrCompute(s, dir) {
        val p = graft.TmpArtifacts.path("graft-ivf-append", dir)
        Similarity.writeIvf(emb.where(col("vec_id") % 5 =!= 0),
          "vec_id", "embedding", p,
          Similarity.fixedCodebook(nlist = 4, dims = 64))
        Similarity.appendToIvf(emb.where(col("vec_id") % 5 === 0),
          "vec_id", "embedding", p)
        p
      }
      Similarity.knnIvfPartitioned(s, path,
        emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5,
        nprobe = 2)
    }),

    // FILTERED ANN over the at-rest fixed-codebook layout: the layout
    // carries the label column, so the search-time metadata predicate
    // (label <= 4) reaches the parquet reader as a pushed row-group
    // filter UNDER the probe-cell partition pruning — the "search only
    // documents matching X" production shape. Full hash oracle: the
    // fixed-codebook replay with the same corpus-side predicate
    "knn_ivf_filtered" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvfPartitioned(s, ivfFilteredLayout(s, dir, emb),
        emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5,
        nprobe = 2, preFilter = Some(col("label") <= 4))
    }),

    // Deterministic negative sampling for contrastive training: 5
    // md5-ordered picks per anchor, anti-joined against the exact top-10
    // cosine neighbors (the false-negative guard); fully replayable draw
    "emb_negative_samples" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.negativeSamples(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, excludeTopM = 10)
    }),

    // Matryoshka truncation recall: per probe, how many exact top-5
    // cosine neighbors survive truncating every embedding to its first
    // 32 of 64 components — the prefix-index viability measurement
    "emb_matryoshka_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.matryoshkaRecall(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = 32)
    }),

    // IVF,SQ8 composed: cell pruning x int8 scoring x fp32 re-rank (the
    // FAISS index as a dataflow). Cells come from the integer-exact
    // k-means codebook (knn_ivf's), and the int8/re-rank stages replay
    // in SQL (knn_int8_rerank / knn_ivf_sq8_fixed) — so the composed
    // TRAINED tier carries a full hash oracle.
    "knn_ivf_sq8" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = graft.operators.Embeddings.exactCentroidsFor(
        emb, "vec_id", "embedding", dim = 64, k = 16, iters = 2, key = dir)
      Similarity.knnIvfSq8(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, centroids = cb, nprobe = 4,
        candidates = 25)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // SQ8 search: whole-corpus scan on int8 codes (quarter bandwidth),
    // fp32 re-rank of the top-candidate survivors only. FULLY ORACLED:
    // codes, the integer-ratio int8 cosine, the candidate cut and the
    // re-rank all replay exactly in SQL (recall additionally pinned in
    // spec)
    "knn_int8_rerank" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnInt8Rerank(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, candidates = 25)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // IVF,SQ8 over the FIXED literal codebook — the composed dataflow
    // (cell pruning × int8 scoring × fp32 re-rank) under ONE hash oracle;
    // each piece reuses a replay already proven green in isolation
    // (knn_ivf_fixed / knn_int8_rerank / knn_brute).
    "knn_ivf_sq8_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvfSq8(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5,
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64),
        nprobe = 2, candidates = 25)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // TRAINED IVF under a FULL hash oracle (r17; previously rows-only):
    // the codebook is the exact-arithmetic k-means' (integer milli-space,
    // seed-free init, floor-average updates — Embeddings.exactCentroids),
    // so DuckDB re-derives the training bit-for-bit and replays
    // assign/probe/score/top-k end-to-end. Training cost per call: iters
    // scan-side assignment passes + k-row driver aggregates — bounded
    // driver state at any corpus size.
    "knn_ivf" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      // the codebook is a learned bounded artifact, memoized per dataset
      // (the languageProfilesFor treatment); probing stays per-query
      val cb = graft.operators.Embeddings.exactCentroidsFor(
        emb, "vec_id", "embedding", dim = 64, k = 16, iters = 2, key = dir)
      Similarity.knnIvf(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, centroids = cb, nprobe = 4)
    }),

    // IVF over the PERSISTED at-rest layout — the pattern to copy at
    // corpus scale: the cell-partitioned corpus + integer-codebook
    // parquet are built once per dataset (ivfLayoutFor memoizes per
    // session and parameters, and reuses knn_ivf's memoized codebook)
    // and every query pays only the partition-pruned probe-cell read.
    // Pruning pinned by ScaleLayoutSpec; the SAME oracle as knn_ivf — a
    // hash match proves the at-rest layout is invisible to queries (the
    // knn_ivf_append contract, on the TRAINED codebook).
    "knn_ivf_at_rest" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val path = Similarity.ivfLayoutFor(emb, "vec_id", "embedding",
        key = dir, dim = 64, nlist = 16, iters = 2)
      Similarity.knnIvfPartitioned(s, path,
        emb.where(col("vec_id") < 20), "vec_id", "embedding", k = 5,
        nprobe = 4)
    }),

    // ---------- text analysis ----------
    "text_language_id" -> ((s, dir) =>
      TextAnalysis.languageId(t(s, dir, "documents"), "doc_id", "text")),

    // TF-IDF top terms — the registry emits the integer tf/df inputs
    // instead of the double tfidf (combine-order sensitive), so the DuckDB
    // oracle compares hash-exactly; ranking semantics additionally pinned
    // by TextAnalysisSpec
    "text_top_terms" -> ((s, dir) =>
      TextAnalysis.topTerms(t(s, dir, "documents"), "doc_id", "text", 5)
        .select(col("doc_id"), col("rank"), col("term"),
          col("tf"), col("df"))),

    // trained char-n-gram profile classifier — oracled hash-exactly: the
    // fit quantizes log-probs to integer micro-nats (logp_q) and scoring
    // is a BIGINT sum, so DuckDB replays fit + classify end-to-end
    // (pad/lower/substr n-grams, top-300 per lang, integer argmax);
    // held-out accuracy additionally pinned by TextAnalysisSpec
    "text_language_profile" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      // the fit is a learned bounded artifact, memoized per dataset;
      // classification stays per-query compute
      val profiles = TextAnalysis.languageProfilesFor(docs, "text", "lang",
        key = dir)
      TextAnalysis.classifyLanguage(docs, "doc_id", "text", profiles)
        .select("doc_id", "lang_profile", "lang_score_q")
    }),

    // Gopher-style repetition stats: row-local array expressions, zero
    // shuffles; integer metrics + boolean flag -> hash-exact oracle
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionStats(t(s, dir, "documents"), "doc_id", "text")),

    // N-gram novelty/originality: fraction of each doc's shingles with
    // corpus df=1, ppm — the complement axis of the duplication signals
    "text_ngram_novelty" -> ((s, dir) =>
      TextAnalysis.ngramNovelty(t(s, dir, "documents"), "doc_id", "text",
        k = 2)),

    // Gopher-style compressibility signal: per-doc DEFLATE ratio in
    // milli-units. Rows-only at the gate (zlib bytes aren't pinned
    // across builds); ordering laws spec-pinned in TextAnalysisSpec
    "text_compress_ratio" -> ((s, dir) =>
      TextAnalysis.compressionSignal(t(s, dir, "documents"),
        "doc_id", "text")),

    // Model-inference quality filter: integer-quantized linear
    // classifier over exact SQL-replayable text features — the
    // "score every document with the trained quality model" pass,
    // hash-oracled end to end (features, margin, and decision)
    "ml_quality_score" -> ((s, dir) =>
      graft.operators.ModelScore.linearQualityScore(
        t(s, dir, "documents"), "doc_id", "text")),

    // PII detect + redact: portable regexes, counts + scrubbed text
    "text_pii_scrub" -> ((s, dir) =>
      TextAnalysis.piiScrub(t(s, dir, "documents"), "doc_id", "text")),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualityScore(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          col("n_tokens").cast("long").as("n_tokens"),
          col("n_alpha").cast("long").as("n_alpha"),
          col("n_punct").cast("long").as("n_punct"),
          col("n_stopwords").cast("long").as("n_stopwords"),
          col("mean_token_len"), col("quality_ok"))),

    "text_token_counts" -> ((s, dir) =>
      TextAnalysis.tokenCounts(t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"),
          col("n_ws_tokens").cast("long").as("n_ws_tokens"),
          col("n_bpe_tokens").cast("long").as("n_bpe_tokens"))),

    // Standard BPE encoding under the FROZEN merge table — exact token
    // counts under the real tokenizer (codegen'd replace chain, zero
    // shuffles; one left-to-right pass per rank IS that rank's fixpoint)
    "bpe_encode" -> ((s, dir) =>
      TextAnalysis.bpeEncode(t(s, dir, "documents"), "doc_id", "text")),

    // Per-language tokenizer fertility (BPE tokens per whitespace word,
    // ppm): one scan + one language-keyed hash agg
    "bpe_fertility" -> ((s, dir) =>
      TextAnalysis.bpeFertility(t(s, dir, "documents"), "doc_id", "text",
        "lang")),

    // Gopher-family duplicate-n-gram char fractions: top-gram mass for
    // n=2..4, duplicate-gram mass for n=5..8 (ppm of doc chars); one
    // generator + three shrinking hash aggs, rows linear in tokens
    "text_dup_ngrams" -> ((s, dir) =>
      TextAnalysis.dupNgramStats(t(s, dir, "documents"), "doc_id", "text")),

    "text_fingerprints" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")),

    // Winnowing fingerprints (Schleimer 2003 / MOSS): window-min char
    // k-gram hashes — any shared >= k+w-1-char substring leaves a shared
    // fingerprint at ~2/(w+1) the index size; one scan, zero exchanges
    "text_winnowing" -> ((s, dir) =>
      TextAnalysis.winnowFingerprints(t(s, dir, "documents"),
        "doc_id", "text", k = 5, w = 4)),

    // The MOSS match step: pairs sharing >= 8 winnow fingerprints, hot
    // fingerprints (df > 20) dropped before the bounded pair join
    "dedup_winnowing" -> ((s, dir) =>
      TextAnalysis.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minShared = 8, maxDf = 20)),

    // The relative-cap arm of the same join — the sizing rule of
    // SCALE.md's round-15 caps table, operationalized AND oracled: effective cap = max(20, n_docs·2%)
    // with n_docs derived in-plan from the same pinned scan, so the cap
    // tracks corpus growth where the absolute default degenerates
    // (SCALE.md round-15 caps A/B; spec law in TextAnalysisSpec). 2%
    // models the expected duplication factor; 10% was measured 5.5x
    // slower at sf0.1 for pairs no dedup policy would act on
    "dedup_winnowing_rel" -> ((s, dir) =>
      TextAnalysis.winnowPairs(t(s, dir, "documents"), "doc_id", "text",
        k = 5, w = 4, minShared = 8, maxDf = 20,
        metric = "winnow_df_cap_rel", maxDfPerMille = 20)),

    // Capstone #3 — DATA SELECTION end to end: quality gate -> winnow
    // near-dup survivors (min-id per MOSS cluster) -> winnow benchmark
    // decontamination -> DSIR top-k selection. Every stage is an
    // individually-oracled operator; the oracle replays the whole chain
    // (including the selected set's total weight), so a green hash proves
    // the COMPOSITION exact end-to-end
    "pipeline_dsir" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 7)
        .select(col("doc_id"), col("text"), col("lang"))
      // stage pins are LAZY: each q_i is consumed by the next stage AND
      // the final count row, so the pin stops double-execution — but no
      // job may fire at plan-build time (round-12 verdict item 7); the
      // blocks materialize when the first consumer runs
      val q1 = corpus.where(TextAnalysis.qualityOk(col("text")))
        .pinLazy()
      val losers = TextAnalysis.winnowClustersFor(q1, "doc_id", "text",
        k = 5, w = 4, minShared = 8, maxDf = 20, key = s"$dir#pdsir-q1")
        .where(col("doc") =!= col("cluster"))
        .select(col("doc").as("doc_id"))
      val q2 = q1.join(losers, Seq("doc_id"), "left_anti").pinLazy()
      val contaminated = graft.operators.Decontamination.contaminationWinnow(
        q2, docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", k = 12, w = 8).select("doc_id")
      val q3 = q2.join(contaminated, Seq("doc_id"), "left_anti")
        .pinLazy()
      val picked = TextAnalysis.sampleDsir(q3, "doc_id", "text",
        col("lang") === "en", k = 100, topN = 200)
      corpus.agg(count(lit(1)).as("n_input"))
        .crossJoin(q1.agg(count(lit(1)).as("n_quality")))
        .crossJoin(q2.agg(count(lit(1)).as("n_dedup")))
        .crossJoin(q3.agg(count(lit(1)).as("n_decontaminated")))
        .crossJoin(picked.agg(count(lit(1)).as("n_selected"),
          sum(col("logw_q")).as("sum_logw_q")))
    }),

    // Dedup-on-arrival under the MOSS guarantee: new batch (doc_id%10>=8)
    // probes the session-memoized df-capped reference winnow index
    "dedup_winnow_incremental" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.winnowIncrementalVerdict(
        docs.where(pmod(col("doc_id"), lit(10)) >= 8),
        docs.where(pmod(col("doc_id"), lit(10)) < 8),
        "doc_id", "text", refKey = Some(dir))
    }),

    // MOSS cluster closure: connected components over the winnow pair
    // graph — the winnowing complement of dedup_clusters' Jaccard closure
    "dedup_winnow_clusters" -> ((s, dir) =>
      TextAnalysis.winnowClustersFor(t(s, dir, "documents"), "doc_id",
        "text", k = 5, w = 4, minShared = 8, maxDf = 20, key = dir)
        .select(col("doc").cast("long").as("doc_id"),
          col("cluster").cast("long").as("cluster_id"))),

    // The md5 half of the fingerprint pair as its own ORACLED query (the
    // rolling xxhash64 signature above stays rows-only — no DuckDB twin)
    "text_fingerprints_md5" -> ((s, dir) =>
      TextAnalysis.fingerprints(t(s, dir, "documents"), "doc_id", "text")
        .select("doc_id", "md5_fp")),

    // Deterministic train/valid/test split via the PORTABLE md5-prefix
    // order (cumulative-weight hex thresholds -> DuckDB replays the exact
    // assignment; determinism/disjointness additionally pinned by
    // SamplingSpec)
    "sample_splits" -> ((s, dir) =>
      graft.operators.Sampling.split(t(s, dir, "documents"), "doc_id",
        Seq("train" -> 8, "valid" -> 1, "test" -> 1))
        .select("doc_id", "split")),

    // LEAKAGE-SAFE splits: near-dup cluster members share one split —
    // independent per-row assignment leaks test docs into train through
    // their near-copies, the eval-contamination failure dedup exists to
    // prevent. Assignment = the proven md5 split keyed on the CLUSTER
    // REPRESENTATIVE (closure min-id; singletons represent themselves).
    // Fully oracled by composing the dedup_clusters recursive-CTE closure
    // with the sample_splits threshold replay
    "sample_splits_cluster_safe" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.ngramClustersFor(docs, "doc_id", "text",
        k = 2, minJaccard = 0.8, key = dir)
        .select(col("doc").cast("long").as("doc_id"),
          col("cluster").cast("long").as("rep"))
      graft.operators.Sampling.clusterSafeSplit(
        docs.select(col("doc_id")), "doc_id", clusters,
        Seq("train" -> 8, "valid" -> 1, "test" -> 1))
        .select("doc_id", "rep_id", "split")
    }),

    // Product analytics over events: conversion funnel and cohort
    // retention, both one-shuffle groupBy(user) shapes (no per-stage
    // self-joins); oracles replay them as the textbook join chains
    "events_user_funnel" -> ((s, dir) =>
      graft.operators.EventAnalytics.funnel(t(s, dir, "events"),
        "user_id", "ts", "event_type", "view", "click", "purchase")),

    "events_retention" -> ((s, dir) =>
      graft.operators.EventAnalytics.retention(t(s, dir, "events"),
        "user_id", "ts")),

    // User-journey Markov edges: (prev type -> next type) counts over
    // each user's time-ordered stream, event_id breaking ts ties
    "events_transitions" -> ((s, dir) =>
      graft.operators.EventAnalytics.transitions(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")),

    // Gaps-and-islands: consecutive same-type runs per user via the
    // rank-difference trick — two same-partitioning windows + one agg,
    // no self-join; the dwell/bot-detection primitive
    "events_state_runs" -> ((s, dir) =>
      graft.operators.EventAnalytics.stateRuns(t(s, dir, "events"),
        "user_id", "ts", "event_id", "event_type")),

    // EXACT-integer Lloyd's k-means over the embedding column: quantize
    // to thousandths, argmin squared-L2 with ties to the smallest cell,
    // integer floor-average centroid updates, k smallest vec_ids as the
    // seed-free init — every step bit-reproducible, so the whole
    // 2-iteration clustering is hash-verified against DuckDB's unrolled
    // replay (the graph_communities treatment applied to clustering)
    "emb_kmeans" -> ((s, dir) =>
      graft.operators.Embeddings.kmeansExact(t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, k = 4, iters = 2)),

    // Per-(label, dim) centroid accumulators in exact integer millionths
    "emb_label_centroids" -> ((s, dir) =>
      graft.operators.Embeddings.labelCentroids(t(s, dir, "embeddings"),
        "label", "embedding")),

    // Symmetric int8 scalar quantization of the embedding column (4x
    // at-rest shrink), codes + per-vector scale in integer units
    "emb_quantize_int8" -> ((s, dir) =>
      graft.operators.Embeddings.quantizeInt8(t(s, dir, "embeddings"),
        "vec_id", "embedding")),

    // Fixed ±1 sign-matrix random projection 64d -> 16d, integer
    // millionths; the sign matrix is a hash formula both engines share
    "emb_random_projection" -> ((s, dir) =>
      graft.operators.Embeddings.randomProjection(t(s, dir, "embeddings"),
        "vec_id", "embedding", 16)),

    // PCA front half: exact integer second moments (count, sums,
    // upper-triangle cross-products of thousandth-quantized components)
    // via ONE custom-aggregate scan that ships a single flat array per
    // partition — never the d²/2-per-row explode the oracle replays
    "emb_pca_gram" -> ((s, dir) =>
      graft.operators.Embeddings.gramMatrix(t(s, dir, "embeddings"),
        "embedding", dim = 64)),

    // PCA back half: project every embedding onto the corpus' top-8
    // principal components (64d -> 8d), integer millionths. The
    // eigensolve is a deterministic driver-side Jacobi on the bounded
    // 64×64 covariance — no SQL twin exists for an eigendecomposition,
    // so rows-only; orthonormality, eigen-residual, trace conservation,
    // variance capture and run-to-run determinism are pinned in
    // EmbeddingsSpec
    "emb_pca_project" -> ((s, dir) =>
      graft.operators.Embeddings.pcaProject(t(s, dir, "embeddings"),
        "vec_id", "embedding", dim = 64, r = 8)),

    // Fixed-basis PCA projection twin (the knn_ivf_fixed trick): a pinned
    // exactly-representable loading matrix (±1/8 by the Knuth sign hash,
    // the emb_random_projection convention) and mean (1/2) drive the REAL
    // PcaProjectExpr path — floor(x·1000)/1000 quantization, referenced-
    // object loadings, fixed index-order DOUBLE accumulation — and the
    // oracle replays the identical fold with list_reduce, bit-for-bit.
    // This oracles the projection MACHINERY exactly; the Jacobi eigensolve
    // that feeds emb_pca_project stays spec-pinned (EmbeddingsSpec laws).
    "emb_pca_project_fixed" -> ((s, dir) => {
      val dim = 64
      val mean = Array.fill(dim)(0.5)
      val vecs = Array.tabulate(8, dim) { (j, i) =>
        if ((j * 1024L + i) * 2654435761L % 4294967296L >= 2147483648L)
          0.125 else -0.125
      }
      graft.operators.Embeddings.pcaProjectWith(
        t(s, dir, "embeddings"), "vec_id", "embedding", mean, vecs, dim)
    }),

    // BM25 ranked retrieval for a fixed query-term bag; per-term scores
    // quantized to integer micro-units before the per-doc sum
    "text_bm25_topk" -> ((s, dir) =>
      graft.operators.TextAnalysis.bm25TopK(t(s, dir, "documents"),
        "doc_id", "text", Seq("spark", "vector", "stream"), 10)),

    // TF-IDF keyword extraction: top-3 terms per document by exact
    // integer tf · idf_micro score (idf quantized to micro-nats with the
    // round(ln·1e6) discipline text_collocations proved cross-engine);
    // tf/df are two hash aggregates, df and the doc count broadcast, the
    // rank window partitions per doc over its DISTINCT terms only
    "text_tfidf_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents").where(col("text").isNotNull)
      // tf pinned lazily: the df branch and the scoring join consume it
      // with different pruned projections, so exchange reuse never fired
      // and the corpus tokenized twice (r19)
      val tf = docs
        .select(col("doc_id"),
          explode(expr("filter(split(text, ' '), x -> x != '')")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
        .pinLazy()
      val dft = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val n = docs.agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy("doc_id")
        .orderBy(col("tfidf_micro").desc, col("term").asc)
      tf.join(broadcast(dft), "term").crossJoin(broadcast(n))
        .withColumn("idf_micro",
          round(log(col("n_docs").cast("double") / col("df")) * 1e6)
            .cast("long"))
        .withColumn("tfidf_micro", col("tf") * col("idf_micro"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .where(col("rk") <= 3)
        .select(col("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf_micro"), col("rk"))
    }),

    // Conjunctive term lookup over the AT-REST inverted index: postings
    // (term, doc_id, tf) built once per dataset, term-range-sorted so the
    // IN-predicate prunes files/row-groups by min/max — the repeated-query
    // complement of text_phrase_search's one-off corpus scan. The oracle
    // replays the same AND-query from the raw documents, proving the
    // index answers exactly what the corpus says
    "text_index_lookup" -> ((s, dir) => {
      val path = graft.operators.TextAnalysis.invertedIndexFor(
        t(s, dir, "documents"), "doc_id", "text",
        key = s"textidx-$dir", spark = s)
      graft.operators.TextAnalysis.indexLookupAll(s, path,
        Seq("vector", "merge", "spark"))
    }),

    // Token-distribution entropy per language in integer micro-nats —
    // quantize-per-term-then-sum-exactly, one division at the end; the
    // low-entropy slices are the templated/repetitive text a curation
    // pass down-weights
    "text_entropy_by_lang" -> ((s, dir) =>
      graft.operators.TextAnalysis.tokenEntropyByGroup(
        t(s, dir, "documents"), "text", "lang")),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical
    // ranking with the LM-coverage quality ranking — integer reciprocal
    // ranks (1e6 div (60+rank)) need no score normalization across the
    // incomparable scales, the textbook hybrid-search combiner. Both
    // input rankings are themselves oracled queries; the coverage model
    // rides the per-dataset LM memo
    "text_rrf_fusion" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val lexical = graft.operators.TextAnalysis.bm25TopK(docs,
        "doc_id", "text", Seq("spark", "vector", "stream"), 50)
        .select(col("doc_id"), col("rank"))
      val cov = graft.operators.TextAnalysis.docLmCoverage(docs,
        "doc_id", "text", 1000, cacheKey = Some(dir))
      val quality = cov
        .orderBy(col("hit_count_sum").desc, col("doc_id").asc).limit(50)
        .coalesce(1)
        .sortWithinPartitions(col("hit_count_sum").desc, col("doc_id").asc)
        .withColumn("rank", monotonically_increasing_id() + 1)
        .select(col("doc_id"), col("rank"))
      graft.operators.TextAnalysis.rrfFuse(Seq(lexical, quality),
        "doc_id", k0 = 60, topN = 20)
    }),

    // Top-500 token vocabulary: dense ids by (count desc, token asc)
    "vocab_top_tokens" -> ((s, dir) =>
      graft.operators.TextAnalysis.buildVocab(t(s, dir, "documents"),
        "doc_id", "text", 500)
        .select(col("token"), col("token_id"),
          col("n").cast("long").as("n"))),

    // Top-100 collocations by PMI in integer micro-nats (Church-Hanks
    // with a min-count hapax guard) — candidate multiword expressions
    // for a tokenizer/phrase vocabulary; score quantization follows the
    // langid micro-nat discipline so the oracle replays it hash-exactly
    "text_collocations" -> ((s, dir) =>
      graft.operators.TextAnalysis.collocations(
        t(s, dir, "documents"), "text", minCount = 5, topN = 100)),

    // Tokenize-to-ids through the broadcast top-500 vocab, OOV -> 0;
    // exploded (doc, pos, id) so the compare is a flat relation
    "vocab_encode" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.TextAnalysis.encodeTokens(docs, "doc_id", "text",
        graft.operators.TextAnalysis.buildVocab(docs, "doc_id", "text", 500))
    }),

    // Domain-mixture sampling: per-language keep rates via a PORTABLE
    // md5-prefix threshold (lexicographic hex compare -> DuckDB replays
    // the exact row set, unlike the xxhash64 samplers)
    "sample_mixture" -> ((s, dir) =>
      graft.operators.Sampling.mixtureSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.8, "es" -> 0.5, "de" -> 0.25,
          "fr" -> 0.1, "zh" -> 1.0))
        .select("doc_id", "lang")),

    // Stratified downsampling: the named strata keep their own fraction,
    // every other stratum rides through whole (the keep-by-default
    // complement of the mixture's drop-by-default); same portable
    // md5-prefix membership, so the exact rowset is oracle-replayed
    "sample_stratified" -> ((s, dir) =>
      graft.operators.Sampling.stratifiedSample(t(s, dir, "documents"),
        "doc_id", "lang", Map("en" -> 0.25, "zh" -> 0.5))
        .select("doc_id", "lang")),

    // Fixed-size deterministic sample: exactly 100 docs, lowest md5
    // prefix wins — TakeOrderedAndProject, never a global sort
    "sample_fixed_k" -> ((s, dir) =>
      graft.operators.Sampling.sampleFixedK(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", k = 100)),

    // Row-weighted Bernoulli sample: keep probability proportional to
    // document length (capped at 1) — mixtureSample generalized from
    // per-group rates to per-row weights, same portable integer-compare
    // membership
    "sample_weighted" -> ((s, dir) =>
      graft.operators.Sampling.weightedSample(
        t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
        "doc_id", least(lit(1.0), col("n_chars") / lit(3000.0)))
        .select(col("doc_id"), col("n_chars"))),

    // Per-source document cap: at most 10 docs per source, survivors =
    // lowest md5-prefix rows per group (deterministic, engine-replayable)
    "sample_cap_per_group" -> ((s, dir) =>
      graft.operators.Sampling.capPerGroup(t(s, dir, "documents"),
        "doc_id", "source", cap = 10)
        .select("doc_id", "source")),

    // Per-source TOKEN budget — the token-mass capPerGroup: each source
    // keeps its lowest-md5 docs until ~5k ws-tokens fill (the crossing
    // doc stays: exclusive prefix < budget). Row caps treat a tweet and
    // a book as equal; token caps are the quota a corpus mix needs
    "sample_token_budget" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
        size(split(lower(trim(col("text"))), "\\s+")).cast("long")
          .as("n_tok"))
      graft.operators.Sampling.capTokensPerGroup(docs, "doc_id", "source",
        "n_tok", budget = 5000L)
        .select("doc_id", "source", "n_tok")
    }),

    // C4-style line-level boilerplate removal (token floor + marker
    // phrases; the terminal-punctuation rule is off because the synthetic
    // corpus has none — strict mode is spec-pinned), cleaned doc + counts
    "text_boilerplate" -> ((s, dir) =>
      graft.operators.TextAnalysis.boilerplate(t(s, dir, "documents"),
        "doc_id", "text", minTokens = 5, requireTerminal = false)),

    // RAG-style overlapping character chunks (size 256, overlap 56) with
    // source offsets; row-local posexplode
    "text_chunks" -> ((s, dir) =>
      graft.operators.TextAnalysis.chunks(t(s, dir, "documents"),
        "doc_id", "text", size = 256, overlap = 56)),

    // Exact per-language doc-length quartiles (quarter-step percentiles
    // interpolate exactly -> engine-portable), integer hundredths
    "text_length_quartiles" -> ((s, dir) =>
      graft.operators.TextAnalysis.lengthQuartiles(t(s, dir, "documents"),
        "lang", "n_chars")),

    // Batch twin of the stream-stream interval join (click-to-view
    // attribution within 600s); the streaming run is pinned to this by
    // EventStreamsSpec
    "events_attribution" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventStreams.attributeClicks(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "click"), 600, streaming = false)
    }),

    // Left-outer twin: unattributed clicks survive with null view fields
    "events_attribution_outer" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      graft.streaming.EventStreams.attributeClicks(
        ev.where(col("event_type") === "view"),
        ev.where(col("event_type") === "click"), 600, streaming = false,
        joinType = "left_outer")
    }),

    // Benchmark decontamination: corpus docs sharing word 4-grams with a
    // held-out benchmark bucket (deterministic doc_id % 50 split). The
    // benchmark gram set broadcasts; corpus grams probe it map-side
    "decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contamination(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 7),
        docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", 4)
    }),

    // Per-document contamination verdict: overlap fraction vs a 10%
    // threshold, decided by integer cross-multiplication (drop-list =
    // contaminated = 1)
    "decontaminate_verdict" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contaminationVerdict(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 7),
        docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", 4, thresholdPct = 10)
    }),

    // SEMANTIC decontamination: corpus embeddings flagged when a
    // benchmark embedding in their codebook cell is cosine-similar —
    // the paraphrase-robust complement of the n-gram passes. Benchmark
    // = every 50th vector, which ALSO stays in the corpus: those rows
    // flag themselves (leaked-verbatim case, cos² = 1) and their
    // near-dups flag too, while the rest stay clean — both verdicts
    // exercised, integer math end to end, hash-exact oracle
    "decontaminate_semantic" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      graft.operators.Decontamination.semanticContamination(
        emb, emb.where(pmod(col("vec_id"), lit(50)) === 7),
        "vec_id", "embedding",
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64),
        simSqPpm = 160000L)
    }),

    // Same pass over 64-bit shingle hashes — the at-scale form (rows-only:
    // xxhash64 keys; agreement with `decontaminate` pinned by spec)
    "decontaminate_hashed" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contaminationHashed(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 7),
        docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", 4)
    }),

    // Winnowing decontamination: k=12, w=8 — any verbatim >= 19-char
    // canonical run shared with the benchmark is guaranteed caught, and
    // whitespace/punct/case re-flow can't launder it
    "decontaminate_winnow" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contaminationWinnow(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 7),
        docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", k = 12, w = 8)
    }),

    // decontaminate_hashed under the md5 hash family: grams travel as
    // portable md5-prefix keys (any engine computes the same 64 bits), so
    // broadcast-probe-aggregate is hash-replayable
    "decontaminate_md5keys" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      graft.operators.Decontamination.contaminationHashed(
        docs.where(pmod(col("doc_id"), lit(50)) =!= 7),
        docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", 4, HashFamily.Md5)
    }),

    // Corpus curation funnel: quality -> repetition -> pii -> langid in
    // one scan, per-stage retention accounting (all-BIGINT, hash-exact)
    "text_funnel" -> ((s, dir) =>
      TextAnalysis.curationFunnel(t(s, dir, "documents"),
        "doc_id", "text", "lang")),

    // Token-budget batch packing plan: 2000-token batches per source
    // stream in doc_id order (exclusive running total / budget)
    "pack_batches" -> ((s, dir) =>
      graft.operators.Sampling.packBatches(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "source", "n_tokens", 2000L)),

    // Materialized packs: the batch plan above turned into actual
    // training sequences — docs concatenated in id order per batch,
    // RS-separated; one grouped agg on (source, batch_id)
    "pack_materialize" -> ((s, dir) =>
      graft.operators.Sampling.materializeBatches(
        t(s, dir, "documents").select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens"),
          col("text")),
        "doc_id", "source", "n_tokens", "text", 2000L)),

    // Length-bucket padding-waste report: power-of-two caps 16..4096,
    // per bucket doc count / token mass / padded tokens / waste ppm —
    // the measurement that motivates length-bucketed batching
    "pack_length_buckets" -> ((s, dir) =>
      graft.operators.Sampling.lengthBucketReport(
        t(s, dir, "documents").select(
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "n_tokens")),

    // Corpus-mix gap: actual per-lang token share vs the T=2 temperature
    // target share, exact integer ppm — the re-mix monitoring query
    "dq_mix_gap" -> ((s, dir) =>
      graft.operators.Sampling.mixGap(
        t(s, dir, "documents").select(col("lang"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "n_tokens")),

    // Length-bucketed packing PLAN: per (bucket, sequence) doc count /
    // used / truncated / padded tokens — the batch layout that realizes
    // the savings pack_length_buckets measures; within-bucket ranks via
    // the distributed range sort (9 giant buckets, never 9 window tasks)
    "pack_bucketed" -> ((s, dir) =>
      graft.operators.Sampling.packBucketed(
        t(s, dir, "documents").select(col("doc_id"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "n_tokens")),

    // Vocabulary growth (Heaps' law) curve: new/cumulative word types
    // and token mass per corpus id-slice — lexical-saturation profiling
    "lm_vocab_growth" -> ((s, dir) =>
      graft.operators.TextAnalysis.vocabGrowth(
        t(s, dir, "documents"), "doc_id", "text")),

    // Per-source unigram KL divergence from the corpus mix over the
    // top-300 vocab + one OOV cell, micro-nat integers — source drift
    "lm_source_divergence" -> ((s, dir) =>
      graft.operators.TextAnalysis.sourceDivergence(
        t(s, dir, "documents"), "doc_id", "text", "source")),

    // Zipf exponent of the rank-frequency curve over the top-300 vocab
    // (micro units; ~1e6 for natural text) — boilerplate reads low
    "lm_zipf_fit" -> ((s, dir) =>
      graft.operators.TextAnalysis.zipfFit(t(s, dir, "documents"), "text")),

    // Percentile stats per language (exact interpolated median/p90) and a
    // fixed-width length histogram — corpus profiling for token budgeting
    "text_length_stats" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        percentile(col("n_chars"), lit(0.5)).as("median_chars"),
        percentile(col("n_chars"), lit(0.9)).as("p90_chars"))),

    "text_length_histogram" -> ((s, dir) =>
      t(s, dir, "documents")
        .groupBy((floor(col("n_chars") / 50) * 50).as("bin_lo"))
        .agg(count(lit(1)).as("n_docs"))),

    // ---------- multimodal plumbing (see Multimodal) ----------
    // EXACT ORACLE: text payloads take the deterministic stub path, whose
    // metadata is md5-derived end to end (checksum = md5 hex, pseudo-dims
    // = md5-prefix ints) — DuckDB recomputes the whole record from the
    // text; the REAL image/audio decode branches stay pinned on true
    // fixtures in MultimodalSpec
    "mm_decode" -> ((s, dir) =>
      Multimodal.decodeAssets(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload").toDF()
        .select(col("asset_id"), col("n_bytes").cast("long").as("n_bytes"),
          col("format"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"),
          col("duration_ms"), col("checksum"))),

    // FULL raster decode + pixel features (mean RGB milli-units, 8-bucket
    // luma histogram) — real ImageIO decode proven on generated PNGs in
    // MultimodalSpec; text payloads take the ok=false stub path here
    "mm_pixel_features" -> ((s, dir) =>
      Multimodal.pixelFeatures(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload").toDF()
        .select(col("asset_id"), col("ok"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("mean_r_milli"),
          col("mean_g_milli"), col("mean_b_milli"))),

    // Frames are emitted hex-encoded: deterministic byte slicing IS
    // DuckDB-replayable, but DuckDB 1.0 has no BLOB substring — both sides
    // slice and compare the hex transcription instead
    "mm_frames" -> ((s, dir) =>
      Multimodal.sampleFrames(
        t(s, dir, "documents")
          .select(col("doc_id"), col("text").cast("binary").as("payload")),
        "doc_id", "payload", n = 3, frameBytes = 16)
        .withColumn("frame_hex", hex(col("frame"))).drop("frame")),

    // Landmark constellation fingerprints (the Shazam mechanic) over 8
    // deterministic tone-sequence WAVs; EXACT ORACLE — the integer-DFT
    // landmark chain replays in DuckDB (clip-matches-source laws are
    // additionally pinned in MultimodalSpec)
    "mm_audio_fingerprint" -> ((s, dir) => {
      import s.implicits._
      val assets = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 8).as[Long]
        .map(id => (id, Multimodal.buildToneSequenceWav(
          (0 until 8).map(j => 300.0 + ((id * 7 + j * 3) % 12) * 250.0))))
        .toDF("doc_id", "payload")
      Multimodal.audioFingerprints(assets, "doc_id", "payload")
    }),

    // Clip-to-source matching over the landmark index: probes are tone
    // subsequences (segments 2..5) of their references — the offset
    // histogram must re-align each probe to its source.
    // SPARK_GRAFT_AUDIO_SCALE=N (default 1, the registry/oracle shape)
    // multiplies the reference-index and probe-set sizes — the SCALE.md
    // blowup harness's knob for the landmark-join family, whose inputs
    // are generated fixtures the parquet blowup cannot grow
    "mm_audio_match" -> ((s, dir) => {
      import s.implicits._
      val scale = sys.env.getOrElse("SPARK_GRAFT_AUDIO_SCALE", "1").toLong
      def seqOf(id: Long) =
        (0 until 8).map(j => 300.0 + ((id * 7 + j * 3) % 12) * 250.0)
      val probeBase = math.max(100L, 8L * scale)
      val refs = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 8 * scale).as[Long]
        .map(id => (id, Multimodal.buildToneSequenceWav(seqOf(id))))
        .toDF("doc_id", "payload")
      val probes = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 4 * scale).as[Long]
        .map(id => (id + probeBase,
          Multimodal.buildToneSequenceWav(seqOf(id).slice(2, 6))))
        .toDF("doc_id", "payload")
      Multimodal.audioMatch(
        Multimodal.audioFingerprints(probes, "doc_id", "payload"),
        Multimodal.audioFingerprints(refs, "doc_id", "payload"))
    }),

    // Voice-activity segmentation (VAD): non-overlapping frame energies,
    // silence threshold in ppm of full-scale², gaps-and-islands run
    // grouping — EXACT oracle (freq 0 sits on the 50 Hz grid and emits
    // true digital silence, so the planted silent spans replay in SQL)
    "mm_audio_segments" -> ((s, dir) => {
      import s.implicits._
      val assets = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 8).as[Long]
        .map(id => (id, Multimodal.buildToneSequenceWav(
          (0 until 8).map(j =>
            if ((id * 5 + j * 7) % 4 == 0) 0.0
            else 300.0 + ((id * 7 + j * 3) % 12) * 250.0))))
        .toDF("doc_id", "payload")
      Multimodal.audioSegments(
        Multimodal.audioFrameEnergies(assets, "doc_id", "payload"))
    }),

    // EXACT ORACLE: lossless PNG frames (MPNG-in-AVI) instead of JPEG —
    // the decoded raster IS the integer color formula, so RIFF walk +
    // frame sampling + BT.601 luma all replay in SQL (the pHash
    // lossless-fixture treatment); the JPEG variant of the same
    // walk+decode path stays pinned in MultimodalSpec
    "mm_video_frames" -> ((s, dir) => {
      import s.implicits._
      val assets = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 8).as[Long]
        .map(id => (id, Multimodal.syntheticPngAvi(id, nFrames = 5,
          w = 16, h = 12)))
        .toDF("doc_id", "payload")
      Multimodal.videoFrames(assets, "doc_id", "payload", n = 3).toDF()
        .select(col("asset_id"), col("ok"),
          col("n_frames").cast("long").as("n_frames"),
          col("frame_no").cast("long").as("frame_no"),
          col("frame_idx").cast("long").as("frame_idx"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("mean_luma_milli"))
    }),

    // REAL audio decode + spectral features, EXACT-INTEGER end to end:
    // band-tone WAVs keyed by doc_id are generated executor-side from the
    // milli-quantized sine table (pure integer samples), javax.sound PCM
    // decode + the 8-band integer-DFT spectrum runs as the partition-
    // mapped batch, and because every intermediate is integer the WHOLE
    // generate→WAV→decode→analyze chain replays in DuckDB — the oracle
    // inlines the 32-entry table and recomputes band shares from doc_id
    // (round-10 ADVICE item: the last spectrum-family rows-only hole).
    // The 8 band energies are emitted as SCALAR columns, not an
    // array<long> — the driver's pandas canonicalizer sorts every output
    // column and cannot sort ndarrays, so an array column makes the whole
    // entry unreportable; round-9 lesson)
    "mm_audio_spectrum" -> ((s, dir) => {
      import s.implicits._
      val assets = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 16).as[Long]
        .map(id => (id, Multimodal.buildBandToneWav((id % 8).toInt)))
        .toDF("doc_id", "payload")
      val bands = (0 until 8).map(i =>
        element_at(col("band_energy_milli"), i + 1).as(s"band${i}_milli"))
      Multimodal.audioSpectrum(assets, "doc_id", "payload").toDF()
        .select(Seq(col("asset_id"), col("ok"),
          col("sample_rate").cast("long").as("sample_rate"),
          col("n_samples"), col("ms_ppm"), col("zero_crossings"),
          col("dominant_band").cast("long").as("dominant_band")) ++ bands: _*)
    }),

    // ---------- model-eval metrics (exact-integer, ppm) ----------
    // Shared framing: a toy "English classifier" over documents — ground
    // truth y = (lang = 'en'), score = n_chars (integral WITH ties, which
    // is exactly what exercises the midrank math), 3 folds by doc_id % 3.
    // The classifier being weak is irrelevant; correctness = the exact
    // integer metric values, hash-verified vs DuckDB. See EvalMetrics for
    // the cells-first scale shape (windows run over distinct-score cells,
    // never raw rows).
    "ml_auc_folds" -> ((s, dir) =>
      graft.operators.EvalMetrics.aucByGroup(
        t(s, dir, "documents").select(
          (col("doc_id") % 3).as("fold"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          col("n_chars").as("score")),
        "fold", "y", "score")),

    "ml_confusion_folds" -> ((s, dir) =>
      graft.operators.EvalMetrics.confusionByGroup(
        t(s, dir, "documents").select(
          (col("doc_id") % 3).as("fold"),
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("yhat")),
        "fold", "y", "yhat")),

    "ml_calibration" -> ((s, dir) =>
      graft.operators.EvalMetrics.calibrationBins(
        t(s, dir, "documents").select(
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          col("n_chars").as("score")),
        "y", "score", lo = 0L, hi = 550L, nBins = 10)),

    "ml_cohens_kappa" -> ((s, dir) =>
      graft.operators.EvalMetrics.cohensKappa(
        t(s, dir, "documents").select(
          when(col("lang") === "en", 1L).otherwise(0L).as("r1"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("r2")),
        "r1", "r2")),

    // Concentration audit: how unevenly does order revenue spread across
    // customers — the same question a sampling-weight or token-count
    // concentration check asks of a training corpus
    "ml_gini_revenue" -> ((s, dir) =>
      graft.operators.EvalMetrics.giniConcentration(
        t(s, dir, "orders").select(col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "o_custkey", "cents")),

    "ml_pr_curve" -> ((s, dir) =>
      graft.operators.EvalMetrics.prCurve(
        t(s, dir, "documents").select(
          when(col("lang") === "en", 1L).otherwise(0L).as("y"),
          col("n_chars").as("score")),
        "y", "score")),

    // Fleiss' kappa over a deterministic many-rater panel: orders with
    // EXACTLY 4 lineitems are the items, their 4 lines the raters, the
    // line's returnflag the assigned category — chance-corrected
    // agreement in exact ppm arithmetic
    "ml_fleiss_kappa" -> ((s, dir) => {
      val ratings = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_returnflag"))
      val eligible = ratings.groupBy("l_orderkey")
        .agg(count(lit(1)).as("nl")).where(col("nl") === 4)
        .select("l_orderkey")
      graft.operators.EvalMetrics.fleissKappa(
        ratings.join(eligible, Seq("l_orderkey"), "left_semi"),
        "l_orderkey", "l_returnflag", nRaters = 4)
    }),

    // Poisson-bootstrap CI for mean order value (cents): per-row
    // Poisson(1) weights from pinned md5 CDF thresholds, 100 replicates,
    // shuffle is O(partitions x reps) via map-side partial sums
    "ml_bootstrap_ci" -> ((s, dir) =>
      graft.operators.EvalMetrics.poissonBootstrapCI(
        t(s, dir, "orders").select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents")),
        "o_orderkey", "cents", reps = 100)),

    // Two-sample KS statistic per language: how separable are low- vs
    // high-index sources on the n_chars axis — exact on tie cells,
    // denominator-cleared integers, argmax threshold via packed max
    "ml_ks_statistic" -> ((s, dir) =>
      graft.operators.EvalMetrics.ksStatistic(
        t(s, dir, "documents").select(col("lang"),
          (substring(col("source"), 4, 10).cast("long") < 10L)
            .cast("long").as("y"),
          col("n_chars").as("score")),
        "lang", "y", "score")),

    // nDCG@10 per language: system ranking = n_chars desc (doc_id ties),
    // graded relevance = source index mod 4; discounts are the pinned
    // floor(1e6/log2(k+1)) ppm literals, exact integers end to end
    "ml_ndcg" -> ((s, dir) =>
      graft.operators.EvalMetrics.ndcgAtK(
        t(s, dir, "documents").select(col("doc_id"), col("lang"),
          col("n_chars"),
          (substring(col("source"), 4, 10).cast("long") % 4).as("rel")),
        "lang", "rel",
        Seq(col("n_chars").desc, col("doc_id").asc), k = 10)),

    // Fellegi-Sunter record linkage: customer x supplier candidate
    // pairs blocked on nationkey, three agreement fields with pinned
    // milli log-odds weights, three-way match/possible/nonmatch bands;
    // the gate row is the bounded per-band summary
    "ml_record_linkage" -> ((s, dir) => {
      val cust = t(s, dir, "customer").select(
        col("c_custkey"), col("c_nationkey").as("nk"),
        floor(col("c_acctbal") * 100).cast("long").as("c_cents"))
      val supp = t(s, dir, "supplier").select(
        col("s_suppkey"), col("s_nationkey").as("nk"),
        floor(col("s_acctbal") * 100).cast("long").as("s_cents"))
      val pairs = cust.join(supp, Seq("nk"))
      import graft.operators.FuzzyMatch.FsField
      graft.operators.FuzzyMatch.fellegiSunterScore(pairs, Seq(
        FsField("bal_close", abs(col("c_cents") - col("s_cents")) <= 10000L,
          2800L, -150L),
        FsField("key_tail", col("c_custkey") % 100 === col("s_suppkey") % 100,
          1200L, -300L),
        FsField("bal_sign", (col("c_cents") >= 0L) === (col("s_cents") >= 0L),
          900L, -400L)),
        matchMin = 3000L, possibleMin = 0L)
        .groupBy("band")
        .agg(count(lit(1)).as("n_pairs"),
          min(col("score_milli")).as("min_score"),
          max(col("score_milli")).as("max_score"))
    }),

    // Perceptual near-duplicate detection over IMAGES: deterministic PNG
    // fixtures (12 broadband seeded textures × 4 noise variants, built
    // executor-side like the sine WAVs), a 64-bit integer-DCT pHash per
    // asset, then the SAME pigeonhole chunk blocking the text simhash
    // path uses (Dedup.fingerprintHammingPairs) — hamming ≤ 8 pairs.
    // EXACT ORACLE (r15, was rows-only): PNG is lossless, so the pixel
    // matrix is the seeded-xorshift formula — the DuckDB twin replays
    // fixtures + DCT + median threshold in a recursive CTE and takes the
    // brute-force pair relation (blocked == brute is spec-pinned);
    // measured separation stays pinned in MultimodalSpec
    "mm_phash_neardup" -> ((s, dir) => {
      val fps = phashTableFor(s, dir)
      Dedup.fingerprintHammingPairs(fps, "asset_id", "phash",
        maxHamming = 8, metric = "phash_buckets")
        .select(col("id_a"), col("id_b"), col("hamming").cast("long"))
    }),

    // The image pipeline completed to CLUSTERS: pHash pairs feed the same
    // connected-components + summary shape the text dedup path uses —
    // transitively-linked near-dup images form one cluster labeled by its
    // min id. EXACT ORACLE (r15, was rows-only): the pair-relation replay
    // plus a min-label transitive closure in a recursive CTE; the planted
    // structure (12 texture groups of 4) stays pinned in MultimodalSpec
    "mm_phash_clusters" -> ((s, dir) => {
      val fps = phashTableFor(s, dir)
      val pairs = Dedup.fingerprintHammingPairs(fps, "asset_id", "phash",
        maxHamming = 8, metric = "phash_buckets")
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy("cluster")
        .agg(count(lit(1)).as("n_members"),
          max(col("doc")).as("max_member"))
    }),

    // Capstone #8 — the MULTIMODAL curation front door (the mm sibling of
    // pipeline_gopher): image pHash near-dup dedup to cluster
    // representatives AND an audio VAD voiced-share gate, rolled up per
    // source (asset_id mod 4). Every stage is individually oracled above
    // (mm_phash_neardup/clusters, mm_audio_segments); the oracle replays
    // the WHOLE chain, so the green hash proves the composition exact
    "pipeline_multimodal" -> ((s, dir) => {
      import s.implicits._
      val fps = phashTableFor(s, dir)
      val pairs = Dedup.fingerprintHammingPairs(fps, "asset_id", "phash",
        maxHamming = 8, metric = "phash_buckets")
      val comp = Dedup.connectedComponents(pairs, "id_a", "id_b")
      val img = fps.select(col("asset_id"))
        .join(comp.withColumnRenamed("doc", "asset_id"),
          Seq("asset_id"), "left_outer")
        .select(col("asset_id"),
          coalesce(col("cluster"), col("asset_id")).as("rep"))
      val imgRoll = img
        .groupBy(pmod(col("asset_id"), lit(4L)).as("source"))
        .agg(count(lit(1)).as("n_images"),
          sum(when(col("asset_id") === col("rep"), 1L).otherwise(0L))
            .as("n_unique_images"))
      val audioAssets = t(s, dir, "documents")
        .select(col("doc_id")).where(col("doc_id") < 8).as[Long]
        .map(id => (id, Multimodal.buildToneSequenceWav(
          (0 until 8).map(j =>
            if ((id * 5 + j * 7) % 4 == 0) 0.0
            else 300.0 + ((id * 7 + j * 3) % 12) * 250.0))))
        .toDF("doc_id", "payload")
      val aud = Multimodal.audioSegments(
        Multimodal.audioFrameEnergies(audioAssets, "doc_id", "payload"))
        .groupBy(col("asset_id"))
        .agg(sum(when(!col("is_silent"), col("n_frames")).otherwise(0L))
          .as("voiced"),
          sum(col("n_frames")).as("total"))
      val audRoll = aud
        .groupBy(pmod(col("asset_id"), lit(4L)).as("source"))
        .agg(count(lit(1)).as("n_audio"),
          sum(when(col("voiced") * 2 >= col("total"), 1L).otherwise(0L))
            .as("n_audio_kept"))
      imgRoll.join(audRoll, Seq("source"), "full_outer")
        .select(col("source"),
          coalesce(col("n_images"), lit(0L)).as("n_images"),
          coalesce(col("n_unique_images"), lit(0L)).as("n_unique_images"),
          coalesce(col("n_audio"), lit(0L)).as("n_audio"),
          coalesce(col("n_audio_kept"), lit(0L)).as("n_audio_kept"))
    }),

    // ---------- change capture / SCD2 (incremental maintenance) ----------
    // Keyed diff of two deterministic order "snapshots": keys ≡7 (mod 10)
    // exist only in prev (-> D), ≡3 only in next (-> I), and ≡0 (mod 5)
    // get a one-dollar price bump in next (-> U); everything else drops
    // SCD1 MERGE: price-bump updates for keys ≡0 (mod 5) plus inserts
    // for a key range absent from the base — updates win per key, the
    // rest of the base passes through (one anti shuffle + union)
    "cdc_upsert" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
      val base = o.where(pmod(col("o_orderkey"), lit(10)) =!= 7)
      val updates = o
        .where(pmod(col("o_orderkey"), lit(5)) === 0 ||
          pmod(col("o_orderkey"), lit(10)) === 7)
        .withColumn("price_cents", col("price_cents") + 100)
      graft.operators.ChangeCapture.upsert(base, updates, Seq("o_orderkey"))
    }),

    "cdc_snapshot_diff" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
      val prev = o.where(pmod(col("o_orderkey"), lit(10)) =!= 7)
      val next = o.where(pmod(col("o_orderkey"), lit(10)) =!= 3)
        .withColumn("price_cents",
          when(pmod(col("o_orderkey"), lit(5)) === 0, col("price_cents") + 100)
            .otherwise(col("price_cents")))
      graft.operators.ChangeCapture.snapshotDiff(prev, next,
        Seq("o_orderkey"), Seq("price_cents", "o_orderstatus"))
    }),

    // SCD2 validity intervals from the event log: per user, each run of a
    // repeated event_type becomes one [valid_from, valid_to) state row
    "scd2_intervals" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      graft.operators.ChangeCapture.scd2Intervals(
        ev, "user_id", "event_type", "ts", Seq("event_id"))
        .select(col("user_id"), col("state"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("is_current").cast("long").as("is_current"))
    }),

    // Forward as-of: each click joined to the EARLIEST purchase at-or-after
    // it (time-to-next-conversion) — mirror of j_asof_backward
    "j_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("p_ts"),
          floor(col("value") * 1000000).as("purchase_value_micros"))
      graft.operators.AsofJoin.asofForward(
        clicks, purchases, "user_id", "ts", "p_ts")
        .select(col("event_id"), col("user_id"),
          date_format(col("p_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_time"),
          col("purchase_value_micros"))
    }),

    // Rolling 30-day revenue per customer: a RANGE window frame over day
    // Exact rolling MEDIAN over the trailing 15-row frame per user — the
    // robust twin of a rolling mean (one outlier can't drag it), exact
    // because the frame is bounded: collect the ≤15 frame values, sort,
    // take the lower median by integer rank. One keyed window shuffle;
    // frame size bounds both memory and the per-row sort
    "w_rolling_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-14, Window.currentRow)
      t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          col("ts"), floor(col("value") * 1000000).cast("long").as("v"))
        .withColumn("frame", sort_array(collect_list(col("v")).over(w)))
        // rank off size(frame), NOT a count over the window: collect_list
        // drops NULLs, so a count of frame ROWS would mis-index the
        // median (or overrun the list) the moment a value is null
        .select(col("event_id"), col("user_id"),
          expr("element_at(frame, cast((size(frame) + 1) div 2 as int))")
            .as("rolling_median_micros"))
    }),

    // offsets — the time-decayed feature shape (sliding sums without
    // self-joins; one shuffle on the partition key)
    "w_range_rolling" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey").orderBy(col("day"))
        .rangeBetween(-30, 0)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("day"),
          cents(col("o_totalprice")).as("pc"))
        .withColumn("rolling_30d_cents", sum(col("pc")).over(w))
        .select("o_orderkey", "o_custkey", "day", "rolling_30d_cents")
    }),

    // Incremental aggregate maintenance from the CDC change set: the QUERY
    // takes the delta-merge path (prev agg + one pass over the small diff),
    // the ORACLE recomputes the aggregate from scratch over the next
    // snapshot — a green hash proves incremental == full, the whole point
    // of CDC at 100 TB
    "cdc_incremental_agg" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderkey"),
        cents(col("o_totalprice")).as("price_cents"), col("o_orderstatus"))
      val prev = o.where(pmod(col("o_orderkey"), lit(10)) =!= 7)
      val next = o.where(pmod(col("o_orderkey"), lit(10)) =!= 3)
        .withColumn("price_cents",
          when(pmod(col("o_orderkey"), lit(5)) === 0, col("price_cents") + 100)
            .otherwise(col("price_cents")))
      val diff = graft.operators.ChangeCapture.snapshotDiff(prev, next,
        Seq("o_orderkey"), Seq("price_cents", "o_orderstatus"))
      graft.operators.ChangeCapture
        .incrementalAgg(prev, diff, "o_orderstatus", "price_cents")
        .select(col("g").as("o_orderstatus"), col("n").as("n_orders"),
          col("s").as("sum_cents"))
    }),

    // Latest row per key as ONE max-struct aggregation (argmax without a
    // window): map-side partial max per partition, no per-key sort — the
    // at-scale form of "latest order per customer"
    "a_latest_per_key" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("day"),
          col("o_orderkey"), cents(col("o_totalprice")).as("price_cents"))
        .groupBy("o_custkey")
        .agg(max(struct(col("day"), col("o_orderkey"), col("price_cents")))
          .as("m"))
        .select(col("o_custkey"), col("m.day").as("last_day"),
          col("m.o_orderkey").as("last_orderkey"),
          col("m.price_cents").as("last_price_cents"))),

    // Read path over the Z-ordered at-rest layout (built once per dataset,
    // cached like the IVF layout): a two-column range scan that parquet
    // min/max stats prune on EITHER column; pruning never changes results,
    // so the oracle is the plain filter over the raw table
    "s_zorder_scan" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("int").as("day"),
          cents(col("o_totalprice")).as("pc"))
      val path = graft.sources.Layouts.zLayoutFor(
        orders, "o_custkey", "day", key = dir)
      s.read.parquet(path)
        .where(col("o_custkey").between(100, 500) &&
          col("day").between(1000, 1400))
        .agg(count(lit(1)).as("n_orders"),
          coalesce(sum(col("pc")), lit(0L)).as("sum_cents"))
    }),

    // File-level data skipping from parquet FOOTER stats (the Delta/
    // Iceberg manifest pattern): lineitem range-sorted by l_orderkey so
    // each file covers a tight key slice, a footer-only manifest prunes
    // the file list driver-side, and the residual filter closes the gap.
    // Skipping can only drop provably-empty files, so the oracle is the
    // plain filtered scan; the fewer-files pin lives in ScaleLayoutSpec
    "s_manifest_skipping" -> ((s, dir) => {
      val path = graft.sources.Layouts.sortedLayoutFor(
        t(s, dir, "lineitem"), "l_orderkey", key = s"manifest-$dir")
      graft.sources.Layouts.manifestPrunedRead(
          s, path, "l_orderkey", 5000L, 5999L)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("l_orderkey")).as("n_orders"),
          coalesce(sum(col("l_quantity").cast("long")), lit(0L))
            .as("sum_qty"))
    }),

    // Bloom-filter file skipping — the index for the case footer
    // min/max CANNOT help: the layout is sorted by l_shipdate, so one
    // order's lines land in the few files its ship dates touch but the
    // orderkey zones of ALL files span the whole domain (min/max prunes
    // nothing). A per-file bloom on l_orderkey has no false negatives
    // (pruning is always sound — the oracle is the plain filtered scan)
    // and prunes to the files that might hold the key; fpp bounds the
    // wasted reads. Fewer-files pin in ScaleLayoutSpec
    "s_bloom_skipping" -> ((s, dir) => {
      val path = graft.sources.Layouts.sortedLayoutFor(
        t(s, dir, "lineitem"), "l_shipdate", key = s"bloomlayout-$dir")
      graft.sources.Layouts.bloomPrunedRead(s, path, "l_orderkey", 515L)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("l_quantity").cast("long")), lit(0L))
            .as("sum_qty"),
          coalesce(sum(cents(col("l_extendedprice"))), lit(0L))
            .as("price_cents"))
    }),

    // Schema-evolution merged read: generation 1 lacks the priority
    // column, generation 2 carries it; mergeSchema presents the union
    // schema with NULLs for pre-evolution rows — grouped here so the
    // NULL-backfill semantics are what the oracle checks
    "s_evolved_schema_scan" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val path = graft.sources.Layouts.evolvedSchemaLayoutFor(
        orders.where(pmod(col("o_orderkey"), lit(2)) === 0)
          .select(col("o_orderkey"), cents(col("o_totalprice"))
            .as("price_cents")),
        orders.where(pmod(col("o_orderkey"), lit(2)) === 1)
          .select(col("o_orderkey"), cents(col("o_totalprice"))
            .as("price_cents"), col("o_orderpriority")),
        key = s"evolved-$dir")
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-evolution>"))
          .as("priority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_cents"))
    }),

    // Quantile-balanced range layout: KLL-sketch cuts (one kilobyte pass,
    // never a sort) make every bucket directory ~1/n of the rows even
    // under skew; a price-range scan prunes whole directories via the
    // memoized cuts. Pruning is IO-only — the oracle is the plain
    // filtered aggregate; balance + fewer-dirs pins in ScaleLayoutSpec
    "s_balanced_layout" -> ((s, dir) => {
      val layout = graft.sources.Layouts.balancedLayoutFor(
        t(s, dir, "lineitem").withColumn("price_cents",
          cents(col("l_extendedprice"))),
        "price_cents", key = s"balanced-$dir")
      graft.sources.Layouts.balancedPrunedRead(
          s, layout, "price_cents", lo = 100000L, hi = 2000000L)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price_cents")).as("sum_cents"))
    }),

    // Merge-on-read deletes: two tombstone batches land as key files
    // (never a base rewrite), the read anti-joins them away. Tombstones
    // only remove exactly the keyed rows, so the oracle is the plain
    // filtered aggregate; compaction round-trip is pinned in SinksSpec
    "s_mor_deletes" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
      val root = graft.sources.Sinks.morTableFor(orders, Seq(
          orders.where(pmod(col("o_orderkey"), lit(10)) === 3)
            .select("o_orderkey"),
          orders.where(pmod(col("o_orderkey"), lit(100)) === 57)
            .select("o_orderkey")),
        key = s"mor-$dir")
      graft.sources.Sinks.readMergeOnRead(s, root, Seq("o_orderkey"))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("sum_cents"))
    }),

    // Dynamic partition pruning over a Hive-partitioned at-rest layout:
    // lineitem enriched with its supplier's nation, one directory per
    // nation; the join against the region-filtered nation dim prunes 20
    // of 25 directories AT RUNTIME (dim keys -> partition filter).
    // Layouts only reorganize rows, so the oracle replays the raw joins
    "s_dpp_scan" -> ((s, dir) => {
      val path = graft.sources.Layouts.partitionedLayoutFor(
        t(s, dir, "lineitem")
          .join(t(s, dir, "supplier"), col("l_suppkey") === col("s_suppkey"))
          .select(col("l_extendedprice"), col("s_nationkey")),
        "s_nationkey", key = s"$dir#li_by_supp_nation")
      val dim = t(s, dir, "nation").where(col("n_regionkey") === 2)
      s.read.parquet(path)
        .join(dim, col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).as("n_lines"),
          sum(floor(col("l_extendedprice") * 100).cast("long"))
            .as("revenue_cents"))
    }),

    // Time-travel over the snapshot-versioned backup chain: three states
    // of a derived orders snapshot written through snapshotOverwrite
    // (built once per dataset, cached), read AS-OF the middle instant ->
    // the middle state. Backups only preserve rows, never change them, so
    // the oracle replays that state's derivation over the raw table
    "s_timetravel" -> ((s, dir) => {
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val states = Seq(
        base.where(pmod(col("o_orderkey"), lit(3)) === 0),
        base.where(pmod(col("o_orderkey"), lit(3)) <= 1),
        base)
      val (target, backups, instants) =
        graft.sources.Sinks.backupChainFor(s, states, key = dir)
      graft.sources.Sinks.readSnapshotAsOf(s, target, backups, instants(1))
    }),

    // Small-file compaction exercised end to end: a deliberately
    // fragmented (64-file) derived snapshot compacted through the
    // crash-safe overwrite protocol, then read back (built once per
    // dataset, cached; the file-count drop is pinned in ScaleLayoutSpec).
    // Compaction can't change rows, so the oracle is the plain derivation
    "s_compaction" -> ((s, dir) => {
      val lines = t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linestatus"),
          cents(col("l_extendedprice")).as("pc"))
      val (path, _, _) = graft.sources.Sinks.compactedSnapshotFor(
        lines, key = dir)
      s.read.parquet(path)
        .groupBy(col("l_linestatus"))
        .agg(count(lit(1)).as("n_lines"), sum(col("pc")).as("sum_cents"))
    }),

    // Cross-table ATOMIC generation publish — the reference's one-
    // transaction backup+TRUNCATE+append over ALL knowledge-base tables
    // (ref batch_train.py:154-176): two derived tables published
    // TOGETHER across two generations, each generation committed by a
    // single version-pointer rename; the read resolves the pointer once
    // and returns both tables of that generation — never a mixed set
    // (crash-injected at every protocol step in GenerationsSpec).
    // Publishing preserves rows, so the oracle replays the LAST
    // generation's derivation over the raw tables
    "s_generation_publish" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      def state(m: Int) = Map(
        "by_flag" -> li.where(pmod(col("l_orderkey"), lit(m)) === 0)
          .groupBy(col("l_returnflag").as("k"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("l_extendedprice"))).as("v")),
        "by_status" -> ord.where(pmod(col("o_orderkey"), lit(m)) === 0)
          .groupBy(col("o_orderstatus").as("k"))
          .agg(count(lit(1)).as("n"),
            sum(cents(col("o_totalprice"))).as("v")))
      val root = graft.sources.Generations.generationChainFor(
        s, Seq(state(2), state(1)), key = dir)
      val v = graft.sources.Generations.openVersion(s, root)
      def read(tbl: String) =
        graft.sources.Generations.readTableAt(s, root, v, tbl)
          .select(lit(tbl).as("tbl"), col("k"), col("n"), col("v"))
      read("by_flag").unionByName(read("by_status"))
    }),

    // Streaming generation maintenance replayed in batch mode: three
    // ordered batches of orders fold through the EXACT foreachBatch body
    // (each fold publishing by_group + totals + meta as ONE atomic
    // generation — the §2.9 closure of the generation publish); the read
    // resolves the pointer once and joins the final generation's two
    // derived tables. Folding is associative-exact, so the oracle is the
    // one-shot derivation over all rows; streaming == batch and the
    // per-generation cross-table law are pinned in GenerationStreamsSpec
    "s_generation_stream" -> ((s, dir) => {
      val o = t(s, dir, "orders").select(col("o_orderstatus"),
        cents(col("o_totalprice")).as("pc"), col("o_orderkey"))
      val batches = (0 until 3).map(i =>
        o.where(pmod(col("o_orderkey"), lit(3)) === i).drop("o_orderkey"))
      val root = graft.streaming.GenerationStreams.foldedGenerationsFor(
        s, batches, "o_orderstatus", "pc", key = dir)
      val v = graft.sources.Generations.openVersion(s, root)
      graft.sources.Generations.readTableAt(s, root, v, "by_group")
        .crossJoin(broadcast(
          graft.sources.Generations.readTableAt(s, root, v, "totals")))
    }),

    // Bucket-pruned point lookup over the bucketed at-rest table — the
    // read-side half of the zero-shuffle bucketing story: the scan touches
    // 1 of 16 buckets (SelectedBucketsCount pinned in ScaleLayoutSpec) and
    // the per-key aggregate rides the bucketing with no exchange. Pruning
    // can't change results, so the oracle is the plain filtered aggregate
    "s_bucket_lookup" -> ((s, dir) => {
      val orders = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
      val tbl = graft.sources.Sinks.bucketedTableFor(orders, "o_custkey",
        numBuckets = 16, key = dir)
      s.table(tbl).where(col("o_custkey") === 371)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_orderkey")).as("first_order"),
          max(col("o_orderkey")).as("last_order"))
    }),

    // Fuzzy (Levenshtein) best-match join: vowel-stripped nation names
    // matched back to the clean dimension — the approximate form of the
    // reference's informal->official description matching; broadcast dim,
    // length-band pre-gate, deterministic tiebreak, fully oracled
    // (levenshtein has identical unit-cost semantics in both engines)
    "j_fuzzy_match" -> ((s, dir) => {
      val nation = t(s, dir, "nation")
      val dirty = nation.select(col("n_nationkey"),
        regexp_replace(col("n_name"), "[AEIOU]", "").as("dirty"))
      graft.operators.FuzzyMatch.bestMatch(dirty,
        nation.select(col("n_name")), "dirty", "n_name", maxDistance = 6)
    }),

    // Salted skew join exercised against a SYNTHESIZED hot key tail (the
    // lines of orders < 100 replicated 20 extra times — the consolidated-
    // bill shape): results are identical to the plain join by construction,
    // which is exactly what the oracle replays. Hot keys are DETECTED by
    // sampling and only their dim rows replicate ×8 (blanket salting
    // shipped the whole dimension ×8 through the shuffle); the cold mass
    // joins plainly. Salt-spread + split plan shapes pinned in
    // ScaleLayoutSpec / PlanQualitySpec.
    "j_skew_salted" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(col("l_orderkey"), cents(col("l_extendedprice")).as("pc"))
      val hot = li.where(col("l_orderkey") < 100)
        .withColumn("_rep", explode(sequence(lit(1), lit(20)))).drop("_rep")
      val big = li.unionByName(hot)
      val dim = t(s, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_custkey"))
      // fixture-tuned detection: the planted hot keys carry ~84 lines
      // each, so a 10% sample sees ≥8 of them w.h.p.
      graft.operators.SkewJoin.saltedJoinHot(big, dim, "l_orderkey",
        saltBuckets = 8, sampleFraction = 0.1, hotSampleMin = 8)
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_lines"), sum(col("pc")).as("sum_cents"))
    }),

    // Exact heavy hitters: order quantities above their uniform 2% share
    // (scale-invariant selectivity: ~half the 50 values qualify at any
    // SF) — one map-side-combined aggregation + a broadcast scalar total;
    // integer ppm share
    "a_heavy_hitters" -> ((s, dir) =>
      graft.operators.Frequency.heavyHitters(
        t(s, dir, "lineitem")
          .select(col("l_quantity").cast("long").as("qty")),
        "qty", support = 0.02)),

    // Misra-Gries sketch exercised in its NO-EVICTION regime (3 distinct
    // values << k-1 counters), where the estimates are provably exact —
    // so even the sketch carries a plain GROUP BY oracle; the eviction
    // regime's superset/undercount bounds are pinned in FrequencySpec
    "a_heavy_hitters_sketch" -> ((s, dir) =>
      graft.operators.Frequency.heavyHittersSketch(
        t(s, dir, "lineitem").select(col("l_returnflag")),
        "l_returnflag", k = 10)),

    // Typed-UDAF weighted mean: quantity-weighted mean price per flag,
    // exact integer sums (Σwx, Σw) + ppm division at finish — the
    // Aggregator path of the same combine-order-free discipline
    "a_weighted_mean" -> ((s, dir) => {
      import s.implicits._
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("pc"),
          col("l_quantity").cast("long").as("qty"))
        .as[(String, Long, Long)]
        .groupByKey(_._1)
        .mapValues(r => (r._2, r._3))
        .agg(graft.operators.WeightedMeanAggregator.weightedMean.toColumn)
        .map { case (flag, (swx, sw, ppm)) => (flag, swx, sw, ppm) }
        .toDF("l_returnflag", "sum_wx", "sum_w", "mean_ppm")
    }),

    // Order-free exact moments: per-group variance from INTEGER power
    // sums (n, Σx, Σx² over cents) — var = (nΣx² − (Σx)²) div (n(n−1))
    // in integer arithmetic, so the distributed combine order can't
    // perturb a single bit (double-precision var_samp drifts with
    // reduction order and can't be hash-oracled)
    "a_variance_exact" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("c"))
        .groupBy("l_returnflag")
        // Σx² in decimal(38,0): at 100 TB scale n·Σx² ≈ 10^37 — still
        // inside 38 digits, while a long saturates at ~10^19
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sum_cents"),
          sum(col("c").cast("decimal(38,0)") * col("c").cast("decimal(38,0)"))
            .as("sum_sq"))
        .select(col("l_returnflag"), col("n"), col("sum_cents"),
          expr("""(cast(n as decimal(38,0)) * sum_sq -
                |  cast(sum_cents as decimal(38,0)) *
                |  cast(sum_cents as decimal(38,0)))
                |div (cast(n as decimal(38,0)) *
                |  cast(n - 1 as decimal(38,0)))""".stripMargin)
            .as("var_cents_sq"))),

    // Order-free exact cross-moment: per-group sample covariance between
    // quantity and price cents from INTEGER power sums (n, Σx, Σy, Σxy)
    // — cov = (n·Σxy − Σx·Σy) div (n(n−1)) in decimal(38,0). Truncating
    // division on BOTH engines (Spark `div` and DuckDB `//` each round
    // toward zero — verified on the negative R-flag group), so the
    // possibly-negative quotient still hash-matches
    "a_covariance_exact" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"),
          sum(col("x").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))
            .as("sum_xy"))
        .select(col("l_returnflag"), col("n"), col("sum_x"), col("sum_y"),
          expr("""(cast(n as decimal(38,0)) * sum_xy -
                |  cast(sum_x as decimal(38,0)) *
                |  cast(sum_y as decimal(38,0)))
                |div (cast(n as decimal(38,0)) *
                |  cast(n - 1 as decimal(38,0)))""".stripMargin)
            .as("cov_q_cents"))),

    // Full exact covariance MATRIX over four integer-quantized lineitem
    // measures in ONE scan — all 10 unordered pairs' power sums accrue in
    // a single map-side-combined aggregate, then the rows explode out of
    // the 1-row frame (never one pass per pair)
    "a_cov_matrix" -> ((s, dir) =>
      graft.operators.Moments.covMatrix(
        t(s, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          floor(col("l_discount") * 10000).cast("long").as("disc_bp"),
          floor(col("l_tax") * 10000).cast("long").as("tax_bp")),
        Seq("qty", "price_cents", "disc_bp", "tax_bp"))),

    // Exact per-group median by integer rank selection (lower median, a
    // total order inside each group) — the exact twin of the approximate
    // quantile sketch, viable whenever per-group cardinality fits a sort
    "a_exact_median" -> ((s, dir) =>
      // lower median = nearest-rank p50 ((n+1) div 2 == ceil(n/2)); the
      // run-collapsed distributed selection, never a 3-task group window
      graft.operators.Ranking.exactPercentiles(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("qty")),
        "qty", groupCols = Seq("l_returnflag"), ps = Seq(50))
        .select(col("l_returnflag"), col("value").as("median_qty"),
          col("n"))),

    // Percentile-rank normalization in ppm per group — every quantity
    // mapped onto [0, 1e6] within its flag; the rank-based score
    // normalization that makes heterogeneous quality signals mixable
    "w_percentile_ranks" -> ((s, dir) =>
      graft.operators.Ranking.percentileRanks(
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_quantity").cast("long").as("qty")),
        "qty", groupCols = Seq("l_returnflag"),
        tiebreakCols = Seq("l_orderkey", "l_linenumber"))),

    // Exact per-group percentiles by nearest-rank integer selection —
    // the generalization of a_exact_median to a percentile list; one
    // group-partitioned sort window, integer rank math end to end
    "a_exact_percentiles" -> ((s, dir) =>
      graft.operators.Ranking.exactPercentiles(
        t(s, dir, "lineitem")
          .select(col("l_returnflag"),
            col("l_quantity").cast("long").as("qty")),
        "qty", groupCols = Seq("l_returnflag"), ps = Seq(50, 90, 99))),

    // Benford first-digit audit over order prices: observed counts per
    // leading digit plus the expected Benford share in ppm — the
    // fabricated-numbers forensic (synthetic columns flunk Benford).
    // The digit is extracted from the integer's decimal string (exact
    // and engine-portable, no float log10); the expected share uses the
    // micro-nat ln discipline
    "dq_benford" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(cents(col("o_totalprice")).as("c"))
        .where(col("c") > 0)
        .select(substring(col("c").cast("string"), 1, 1)
          .cast("long").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("n_obs"))
        .withColumn("expected_ppm",
          round(log(lit(1.0) + lit(1.0) / col("digit").cast("double")) /
            log(lit(10.0)) * lit(1e6)).cast("long"))),

    // MAD-based robust outlier flags on order prices per priority class:
    // |v - median| > 3 * median(|v - median|), every statistic a
    // rank-selected integer — the robust complement to events_anomaly's
    // z-score gate (medians don't let outliers mask themselves)
    "a_mad_outliers" -> ((s, dir) =>
      graft.operators.DataQuality.madOutliers(
        t(s, dir, "orders").select(col("o_orderkey"),
          col("o_orderpriority"), cents(col("o_totalprice")).as("value_cents")),
        "value_cents", groupCols = Seq("o_orderpriority"))),

    // Equi-width price histogram in exact-below-2^53 floor math
    "a_histogram" -> ((s, dir) =>
      graft.operators.Frequency.histogram(
        t(s, dir, "orders").select(cents(col("o_totalprice")).as("pc")),
        "pc", buckets = 10)),

    // The equi-DEPTH twin of a_histogram: 8 buckets holding (near-)equal
    // row counts, boundaries wherever the data piles up — the histogram
    // that stays informative under skew, where equal-width collapses into
    // one hot bucket. Buckets come from the distributed ntile formula
    // (seq·k div n + 1) over the range-sorted global sequence — never a
    // single-partition NTILE window — then one hash aggregate for
    // count/lo/hi per bucket
    "a_equidepth_histogram" -> ((s, dir) =>
      graft.operators.Ranking.ntileScores(
        t(s, dir, "lineitem").select(
          cents(col("l_extendedprice")).as("pc"),
          col("l_orderkey").as("ok"),
          col("l_linenumber").cast("long").as("ln")),
        Seq("pc", "ok", "ln"), k = 8, scoreCol = "bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("pc").as("lo_cents"),
          max("pc").as("hi_cents"))),

    // Pivot: one row per return flag, one integer revenue column per line
    // status (values enumerated -> single-pass pivot aggregation, no
    // second scan to discover the domain)
    "a_pivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_extendedprice")).as("pc"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(coalesce(sum(col("pc")), lit(0L)))
        .withColumnsRenamed(Map("F" -> "cents_f", "O" -> "cents_o"))),

    // Unpivot (melt): the wide pivot back to (flag, status, cents) rows —
    // the schema-normalization inverse, row-local (zero shuffles beyond
    // the pivot input's)
    "a_unpivot" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_linestatus"),
          cents(col("l_extendedprice")).as("pc"))
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(coalesce(sum(col("pc")), lit(0L)))
        .unpivot(Array(col("l_returnflag")),
          Array(col("F"), col("O")), "l_linestatus", "cents")),

    // Arbitrary GROUPING SETS (the general form rollup/cube specialize):
    // per-(flag,status), per-flag, and per-status subtotals in ONE pass,
    // disambiguated by grouping_id — Spark plans a single Expand
    "a_grouping_sets" -> ((s, dir) => {
      t(s, dir, "lineitem").createOrReplaceTempView("li_gs")
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |  CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
          |  count(*) AS n_items,
          |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
          |    AS sum_cents
          |FROM li_gs
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
          |  (l_returnflag), (l_linestatus))""".stripMargin)
    }),

    // Value window functions (first/nth/cume_dist) per customer order
    // history; cume_dist emitted in exact micro-units (single IEEE
    // division then round — engine-portable)
    "w_value_functions" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("day").asc, col("o_orderkey").asc)
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long").as("day"))
        .withColumn("first_orderkey", first(col("o_orderkey")).over(wf))
        .withColumn("second_orderkey", nth_value(col("o_orderkey"), 2).over(wf))
        .withColumn("cume_e6",
          round(cume_dist().over(w) * 1000000).cast("long"))
    }),

    // Sketch-based grouped quantiles — the 100 TB swap-in for the exact
    // interpolated percentiles (one pass, bounded state per group; the
    // exact twin is text_length_quartiles). Rows-only: sketch internals
    // differ across engines; the error bound is spec-pinned instead
    "a_approx_quantiles" -> ((s, dir) =>
      t(s, dir, "documents").groupBy("lang").agg(
        count(lit(1)).as("n_docs"),
        approx_percentile(col("n_chars"), array(lit(0.25), lit(0.5),
          lit(0.75), lit(0.9)), lit(1000)).as("q_chars"))
        .select(col("lang"), col("n_docs"),
          element_at(col("q_chars"), 1).as("p25"),
          element_at(col("q_chars"), 2).as("p50"),
          element_at(col("q_chars"), 3).as("p75"),
          element_at(col("q_chars"), 4).as("p90"))),

    // Rolling z-score anomaly flag over each user's purchase history —
    // the outlier gate of an event pipeline. The flag is decided by exact
    // INTEGER cross-multiplication ((v·n − Σ)² > 9·(n·Σx² − Σ²) ⟺ z > 3),
    // so no float std-dev ever enters the compared output
    "events_anomaly" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(-20, -1)
      t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          col("ts"), cents(col("value")).as("v"))
        .withColumn("n_prev", count(lit(1)).over(w))
        .withColumn("sum_prev", coalesce(sum(col("v")).over(w), lit(0L)))
        .withColumn("sumsq_prev",
          coalesce(sum(col("v") * col("v")).over(w), lit(0L)))
        .where(col("n_prev") >= 5)
        .withColumn("dev", col("v") * col("n_prev") - col("sum_prev"))
        .withColumn("varn",
          col("n_prev") * col("sumsq_prev") - col("sum_prev") * col("sum_prev"))
        .select(col("event_id"), col("user_id"), col("v").as("value_cents"),
          col("n_prev"), col("sum_prev"), col("sumsq_prev"),
          (col("dev") * col("dev") > lit(9L) * col("varn"))
            .cast("long").as("is_anomaly"))
    }),

    // BPE merge training: distributed word-frequency aggregation, then the
    // merge loop on the bounded dictionary driver-side (the same shape
    // real BPE trainers use). Fully hash-oracled as of r17: the head
    // oracle's unroll extends to all 50 trained rounds at trivial cost
    // (~0.5 s — the symbol tables SHRINK as merges apply), so "iterative
    // merges aren't SQL-expressible" is retired; also spec-pinned on a
    // hand-computed corpus
    "bpe_merges" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", numMerges = 50)),

    // The head rows of the same merge table — kept as the cheap
    // regression probe now that the full table is oracled (r17) —
    // words as double-space-delimited symbol strings, pair counts via
    // adjacent-symbol explode, the winning merge applied with left-to-
    // right non-overlapping replace(' l  r ' -> ' lr '), which is exactly
    // the driver loop's greedy scan. Depth 8 reaches the regime where
    // merges INTERACT (later winners contain earlier merge products, so
    // the oracle also proves re-segmentation feeds selection correctly);
    // the 50-deep table above stays rows-only (spec-pinned)
    "bpe_merges_head" -> ((s, dir) =>
      TextAnalysis.bpeMerges(t(s, dir, "documents"), "text", numMerges = 16)),

    // CAPSTONE — the whole corpus-curation pipeline in one query: quality
    // gate -> near-dup survivor selection -> benchmark decontamination,
    // with per-stage retention counts. Each stage reuses the registry's
    // own (individually oracled) operators; the oracle replays the full
    // chain, so a green hash proves the COMPOSITION exact end-to-end
    "pipeline_retention" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 7)
        .select(col("doc_id"), col("text"), col("n_chars"))
      // stage 1: quality gate (materialized once — three later consumers)
      val q1 = corpus.where(TextAnalysis.qualityOk(col("text")))
        .pin()
      // stage 2: near-dup clusters over the survivors; drop non-keepers
      val losers = Dedup.ngramClustersFor(q1, "doc_id", "text", k = 2,
        minJaccard = 0.8, key = s"$dir#pipeline-q1")
        .join(q1.select(col("doc_id").as("doc"), col("n_chars")), "doc")
        .withColumn("rk", row_number().over(Window.partitionBy("cluster")
          .orderBy(col("n_chars").desc, col("doc").asc)))
        .where(col("rk") > 1)
        .select(col("doc").as("doc_id"))
      val q2 = q1.join(losers, Seq("doc_id"), "left_anti").pin()
      // stage 3: benchmark decontamination verdict on what remains
      val keptFinal = graft.operators.Decontamination.contaminationVerdict(
        q2, docs.where(pmod(col("doc_id"), lit(50)) === 7),
        "doc_id", "text", 4, thresholdPct = 10)
        .where(col("contaminated") === 0)
      corpus.agg(count(lit(1)).as("n_input"))
        .crossJoin(q1.agg(count(lit(1)).as("n_quality")))
        .crossJoin(q2.agg(count(lit(1)).as("n_dedup")))
        .crossJoin(keptFinal.agg(count(lit(1)).as("n_final")))
    }),

    // Capstone #2 — data to TRAINING SHARDS: quality gate -> dedup
    // survivors (shares the memoized cluster table with
    // pipeline_retention) -> stratified source rebalance (portable md5
    // thresholds) -> token-budget packing -> per-shard manifest. Every
    // stage is an individually-oracled registry operator; the oracle
    // replays the whole chain, so a green hash proves the composition
    "pipeline_shards" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, dir, "documents")
      val corpus = docs.where(pmod(col("doc_id"), lit(50)) =!= 7)
        .select(col("doc_id"), col("text"), col("n_chars"), col("source"))
      val q1 = corpus.where(TextAnalysis.qualityOk(col("text")))
        .pin()
      // same corpus rows as pipeline_retention's stage 2 -> same cache key
      val losers = Dedup.ngramClustersFor(q1, "doc_id", "text", k = 2,
        minJaccard = 0.8, key = s"$dir#pipeline-q1")
        .join(q1.select(col("doc_id").as("doc"), col("n_chars")), "doc")
        .withColumn("rk", row_number().over(Window.partitionBy("cluster")
          .orderBy(col("n_chars").desc, col("doc").asc)))
        .where(col("rk") > 1)
        .select(col("doc").as("doc_id"))
      val q2 = q1.join(losers, Seq("doc_id"), "left_anti")
      val rebalanced = graft.operators.Sampling.stratifiedSample(
        q2, "doc_id", "source", Map("src0" -> 0.5, "src1" -> 0.5))
      val packed = graft.operators.Sampling.packBatches(
        rebalanced.select(col("doc_id"), col("source"),
          size(tokens(col("text"))).cast("long").as("n_tokens")),
        "doc_id", "source", "n_tokens", 2000L)
      packed.groupBy(col("source"), col("batch_id").as("shard_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"))
    }),

    // Cross-document duplicated-chunk statistics: fingerprint fixed
    // non-overlapping chunks corpus-wide, then per document count chunks
    // that appear elsewhere too — the chunk-granularity boilerplate signal
    // (docs assembled from repeated blocks pass whole-doc dedup but stuff
    // training batches with repeats). Integer cross-multiplied flag
    "chunk_dup_stats" -> ((s, dir) => {
      val ch = TextAnalysis.chunks(t(s, dir, "documents"), "doc_id", "text",
        size = 200, overlap = 0)
        .select(col("doc_id"), md5(col("chunk_text").cast("binary")).as("fp"))
      val counts = ch.groupBy("fp").agg(count(lit(1)).as("n_occ"))
      ch.join(counts, "fp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
        .withColumn("boilerplate_heavy",
          (col("n_dup_chunks") * 100 > col("n_chunks") * 30).cast("long"))
    }),

    // ---------- corpus bigram LM (KenLM-style counts + coverage) ----------
    "lm_bigram_counts" -> ((s, dir) =>
      TextAnalysis.bigramLmFor(t(s, dir, "documents"), "text", 200,
        key = dir)),

    // Interpolated Kneser-Ney smoothing over the corpus' own bigram
    // table (Chen & Goodman 1998 eq. 4.25, d = 3/4) in the exact-
    // rational ppb form — the smoothed model every KenLM-style LM
    // ships, hash-oracled end to end including the backoff mass
    "lm_kneser_ney" -> ((s, dir) =>
      TextAnalysis.kneserNeyBigrams(t(s, dir, "documents"), "text", 500)),

    "lm_doc_coverage" -> ((s, dir) =>
      TextAnalysis.docLmCoverage(t(s, dir, "documents"), "doc_id", "text",
        1000, cacheKey = Some(dir))),

    // Per-document LM score in integer micro-nats: the "filter by LM
    // perplexity" signal, combine-order-free like the trained language
    // classifier, hash-oracled end to end
    "lm_doc_score" -> ((s, dir) =>
      TextAnalysis.docLmScore(t(s, dir, "documents"), "doc_id", "text",
        topN = 200, cacheKey = Some(dir))),

    // DSIR (Xie 2023): per-doc log importance ratio between the lang='en'
    // target bigram LM and the raw-corpus LM, integer micro-nats. The raw
    // model's memo key is (dir, 200) — shared with lm_doc_score's model
    "lm_importance_weights" -> ((s, dir) =>
      TextAnalysis.importanceWeights(t(s, dir, "documents"), "doc_id",
        "text", col("lang") === "en", topN = 200,
        cacheKeys = Some((dir + "#dsir_en", dir)))),

    // the selection step: top-100 docs by weight, md5-prefix tiebreak
    "sample_dsir" -> ((s, dir) =>
      TextAnalysis.sampleDsir(t(s, dir, "documents"), "doc_id", "text",
        col("lang") === "en", k = 100, topN = 200,
        cacheKeys = Some((dir + "#dsir_en", dir)))),

    // CCNet perplexity terciles (Wenzek 2020): per-language head/middle/
    // tail by per-bigram LM cost — integer micro-nats end to end, rank-
    // based terciles, hash-oracled
    "lm_perplexity_buckets" -> ((s, dir) =>
      TextAnalysis.perplexityBuckets(t(s, dir, "documents"), "doc_id",
        "text", "lang", topN = 200, cacheKey = Some(dir))),

    // per-SOURCE LM cost rollup — the "which crawl sources are
    // corpus-typical" curation dashboard: raw integer sums (never a mean
    // of means), cost-per-bigram by truncating div over non-negatives
    "lm_cost_by_source" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.docLmScore(docs, "doc_id", "text", topN = 200,
        cacheKey = Some(dir))
        .join(docs.select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("sum_bigrams"),
          sum(-col("lm_score_q")).as("sum_cost_q"))
        .withColumn("cost_per_bigram_q",
          expr("sum_cost_q div greatest(sum_bigrams, 1)"))
    }),

    // embedding-table DQ report per label: null/zero/wrong-dim counts +
    // exact integer norm² stats incl. a rank-selected lower median
    "dq_embedding_report" -> ((s, dir) =>
      graft.operators.DataQuality.embeddingReport(t(s, dir, "embeddings"),
        "vec_id", "embedding", "label", dims = 64)),

    // the quality GATE as an oracled batch query — the exact decision
    // the streaming perplexityGateIngest applies on arrival: keep iff
    // mean cost <= the per-lang head+middle cutoff (model + cutoffs
    // memoized under the same keys the stream uses)
    "lm_quality_gate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      TextAnalysis.meanLmCost(docs, "doc_id", "text", topN = 200,
        cacheKey = Some(dir))
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .join(broadcast(TextAnalysis.perplexityCutoffsFor(docs, "doc_id",
          "text", "lang", topN = 200, key = dir)), Seq("lang"), "left_outer")
        .select(col("doc_id"), col("lang"), col("n_bigrams"),
          col("mean_cost_q"), col("cutoff_cost_q"),
          (col("cutoff_cost_q").isNotNull &&
            col("mean_cost_q") <= col("cutoff_cost_q")).cast("long")
            .as("kept"))
    }),

    // type-token ratio + hapax share — the cheap statistical gibberish/
    // template signals, integer ppm
    "text_lexical_diversity" -> ((s, dir) =>
      TextAnalysis.lexicalDiversity(t(s, dir, "documents"), "doc_id",
        "text")),

    // Gopher quality rules (Rae 2021 App. A1.1): the canonical document
    // filter battery as per-doc flags + integer evidence; every ratio
    // threshold cross-multiplied, so the report is hash-exact
    "text_gopher_rules" -> ((s, dir) =>
      TextAnalysis.gopherRules(t(s, dir, "documents"), "doc_id", "text")),

    // C4 cleaning report (Raffel 2020 §2.2): line-level keeps (terminal
    // punctuation + >=5 words) and the page-level lorem/brace/javascript/
    // few-sentences gates
    "text_c4_filters" -> ((s, dir) =>
      TextAnalysis.c4Filters(t(s, dir, "documents"), "doc_id", "text")),

    // Encoding repair (the ftfy mojibake dictionary, UTF-8-as-cp1252):
    // planted damage is COMPUTED with the exact damage model at plan
    // build (never hand-typed — C1/NBSP members are invisible), the
    // count is the per-sequence replace-length delta, and the repair is
    // the longest-first replace cascade; the oracle is GENERATED from
    // the same dictionary (single source of truth), chr()-encoding the
    // awkward characters. Round-trip + fixed-point laws spec-pinned
    "text_fix_encoding" -> ((s, dir) => {
      val i = col("doc_id")
      import graft.functions.GraftFunctions.{mojibake => mj}
      val page = concat(col("text"), lit(" "),
        when(pmod(i, lit(4)) === 0,
          lit(mj("café “menu” – à la carte…")))
          .when(pmod(i, lit(4)) === 1,
            lit(mj("’s résumé «Señor» 30° • ça")))
          .otherwise(lit("clean tail")))
      t(s, dir, "documents").select(i, page.as("page"))
        .select(i, mojibakeRepair(col("page")).as("m"))
        .select(i, col("m.n_bad").as("n_bad"), col("m.fixed").as("fixed"))
        .withColumn("repaired",
          (mojibakeCount(col("fixed")) === 0L).cast("long"))
    }),

    // Cross-document LINE dedup (RefinedWeb's line-wise pass): the
    // corpus text is single-line, so the fixture builds 4-line pages —
    // a content prefix, a planted cookie banner (1 in 3 docs), a
    // share-footer variant (df ≈ n/5), and a content tail; lines seen
    // in > 10 distinct docs drop, text reassembles in original order.
    // The oracle replays fixture, df count, and the order-pinned
    // reassembly
    "text_line_dedup" -> ((s, dir) => {
      val i = col("doc_id")
      val page = concat(
        substring(col("text"), 1, 40), lit("\n"),
        when(pmod(i, lit(3)) === 0,
          lit("COOKIE NOTICE: we use cookies."))
          .otherwise(concat(lit("unique middle "), i.cast("string"))),
        lit("\n"),
        lit("Follow variant "), pmod(i, lit(5)).cast("string"),
        lit("\nTail "), substring(col("text"), 41, 40))
      graft.operators.TextAnalysis.lineDedup(
        t(s, dir, "documents").select(i, page.as("page")),
        "doc_id", "page", maxDocFreq = 10L)
    }),

    // URL canonicalization + dedup — the crawl-pipeline key dedup that
    // runs BEFORE content dedup: deterministic messy-URL fixtures from
    // doc_id (mixed-case hosts, default/explicit ports, trailing
    // slashes, tracking params, unsorted query, fragments) collapse
    // under GraftFunctions.urlCanonicalize; the oracle replays both the
    // fixture and the canonicalization (regex + list ops) in SQL.
    // Idempotence is spec-pinned in GraftFunctionsSpec
    "text_url_dedup" -> ((s, dir) => {
      val i = col("doc_id")
      val url = concat(
        when(pmod(i, lit(2)) === 0, lit("http")).otherwise(lit("https")),
        lit("://Example"), pmod(i, lit(7)).cast("string"), lit(".COM"),
        when(pmod(i, lit(4)) === 0, lit(":80"))
          .when(pmod(i, lit(4)) === 1, lit(":443"))
          .when(pmod(i, lit(4)) === 2, lit(":8080")).otherwise(lit("")),
        lit("/a/"), pmod(i, lit(5)).cast("string"),
        when(pmod(i, lit(3)) === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=x&b="), pmod(i, lit(3)).cast("string"), lit("&a=1"),
        when(pmod(i, lit(2)) === 0, lit("#sec")).otherwise(lit("")))
      t(s, dir, "documents").select(i,
          urlCanonicalize(url).as("canonical_url"))
        .groupBy("canonical_url")
        .agg(count(lit(1)).as("n_dups"), min(i).as("keeper"))
    }),

    // Capstone #6 — the Gopher-style curation front door: quality rules
    // AND C4 page gates -> exact dedup of the survivors, rolled up per
    // source. Both filter reports and the dedup are individually oracled
    // above; the oracle replays the chain, so the green hash proves the
    // COMPOSITION exact
    "pipeline_gopher" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val flags = docs
        .select(col("doc_id"), col("source"),
          md5(coalesce(col("text"), lit("")).cast("binary")).as("_fp"))
        .join(TextAnalysis.gopherRules(docs, "doc_id", "text")
          .select(col("doc_id"), col("pass")), Seq("doc_id"))
        .join(TextAnalysis.c4Filters(docs, "doc_id", "text")
          .select(col("doc_id"), col("kept")), Seq("doc_id"))
        .pinLazy() // consumed by the rollup AND the survivor dedup
      val uniq = flags.where(col("pass") === 1L && col("kept") === 1L)
        .groupBy("_fp").agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val uniqBySource = flags.join(uniq, Seq("doc_id"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("n_unique"))
      flags.groupBy("source").agg(
          count(lit(1)).as("n_docs"),
          sum(col("pass")).as("n_gopher_pass"),
          sum(col("kept")).as("n_c4_kept"),
          sum(when(col("pass") === 1L && col("kept") === 1L, 1L)
            .otherwise(0L)).as("n_both"))
        .join(uniqBySource, Seq("source"), "left_outer")
        .withColumn("n_unique", coalesce(col("n_unique"), lit(0L)))
    }),

    // Prototypicality pruning (Sorscher 2022): per fixed-codebook cell,
    // rank by exact integer closeness to the cell centroid and prune the
    // top fifth (the redundant near-center examples) — the data-pruning
    // complement of SemDeDup, hash-oracled end to end
    "emb_prototype_prune" -> ((s, dir) =>
      graft.operators.Embeddings.prototypePrune(t(s, dir, "embeddings"),
        "vec_id", "embedding",
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64))),

    // RHO-loss excess (Mindermann 2022): per training doc, LM cost under
    // the train-corpus model minus cost under a held-out-split model —
    // the "learnable, worth learning, not yet learnt" selection signal,
    // integer micro-nats end to end (holdout = doc_id % 10 == 7)
    "lm_rho_excess" -> ((s, dir) =>
      TextAnalysis.rhoExcess(t(s, dir, "documents"), "doc_id", "text",
        holdoutPred = pmod(col("doc_id"), lit(10)) === 7,
        cacheKeys = Some((s"$dir#rho_tr", s"$dir#rho_ho")))),

    // the greedy top-150 selection over that excess
    "sample_rho" -> ((s, dir) =>
      TextAnalysis.sampleRho(t(s, dir, "documents"), "doc_id", "text",
        holdoutPred = pmod(col("doc_id"), lit(10)) === 7, k = 150,
        cacheKeys = Some((s"$dir#rho_tr", s"$dir#rho_ho")))),

    // Temperature-scaled (T=2) language mix (Conneau 2019 / XLM-R):
    // per-lang share of a 400-doc budget ∝ sqrt(n_lang), largest-
    // remainder apportionment, clamped to group size — integer-exact
    // after the (IEEE-correctly-rounded) sqrt
    "sample_temperature_alloc" -> ((s, dir) =>
      graft.operators.Sampling.temperatureAlloc(t(s, dir, "documents"),
        "lang", budget = 400L)),

    // the sampler over the allocation: lowest-md5 `alloc` rows per lang
    "sample_temperature" -> ((s, dir) =>
      graft.operators.Sampling.temperatureSample(t(s, dir, "documents"),
        "doc_id", "lang", budget = 400L)
        .select("doc_id", "lang")),

    // Multi-epoch upsampling (the "repeat curated sources" mix): the T=2
    // apportionment WITHOUT the no-upsampling clamp, each source's
    // excess turned into full epochs per doc + an md5-ordered partial
    // epoch — emitted (doc, epoch) rows number exactly the budget
    "sample_epochs" -> ((s, dir) =>
      graft.operators.Sampling.epochUpsample(t(s, dir, "documents"),
        "doc_id", "source", budget = 6000L)),

    // Curriculum interleave: strictly-increasing integer key whose sort
    // order round-robins the quality-score bands (no long same-band
    // runs), md5-shuffled within band; ranks via the distributed
    // global-seq idiom, never a buckets-way window bottleneck
    "pack_curriculum" -> ((s, dir) => {
      val scored = graft.operators.ModelScore.linearQualityScore(
        t(s, dir, "documents"), "doc_id", "text")
        // fixtures have no null text, but don't let a null score reach
        // the band sort — engines disagree on null order (asc_nulls_last
        // precedent in Sampling.temperatureAlloc)
        .select(col("doc_id"),
          coalesce(col("score_milli"), lit(0L)).as("score_q"))
      graft.operators.Sampling.curriculumInterleave(
        scored, "doc_id", "score_q", buckets = 10)
    }),

    // Capstone #5 — the CCNet curation pipeline (Wenzek 2020): exact
    // dedup (min id per text hash) -> per-lang LM perplexity terciles ->
    // keep head+middle, aggregated per (lang, bucket); the oracle replays
    // the whole chain, so a green hash proves the COMPOSITION exact
    "pipeline_ccnet" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val keep = docs
        .groupBy(md5(coalesce(col("text"), lit("")).cast("binary")).as("_fp"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      // lazy pin: the bucket chain consumes survivors three times (the
      // LM build via the memo, the bigram explode, the doc-list join) —
      // without the pin each consumer re-runs the dedup scan + agg
      val survivors = docs.join(keep, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), col("lang"))
        .pinLazy()
      TextAnalysis.perplexityBuckets(survivors, "doc_id", "text", "lang",
        topN = 200, cacheKey = Some(s"$dir#ccnet"))
        .where(col("ppl_bucket") =!= "tail")
        .groupBy(col("lang"), col("ppl_bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("sum_bigrams"),
          sum(col("mean_cost_q")).as("sum_mean_cost_q"))
    }),

    // ---------- PQ/ADC similarity tier ----------
    // TRAINED PQ under a full hash oracle (r17): per-subspace sub-books
    // from the integer-exact k-means (slice-then-train — a pure function
    // of the data SQL re-derives), ADC by exact integer squared-L2,
    // fp32 re-rank; recall vs brute force also pinned in SimilaritySpec.
    "knn_pq_adc" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val books = Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
        dim = 64, m = 16, ksub = 16, key = dir)
      Similarity.knnPqAdcExact(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, books = books, dim = 64,
        candidates = 25)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // the full TRAINED FAISS "IVF,PQ" composition, exactly oracled:
    // coarse exact-kmeans cell pruning (the knn_ivf codebook, shared via
    // the same per-dataset memo) x exact PQ/ADC code scoring x fp32
    // re-rank
    "knn_ivf_pq" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val coarse = graft.operators.Embeddings.exactCentroidsFor(
        emb, "vec_id", "embedding", dim = 64, k = 16, iters = 2, key = dir)
      val books = Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
        dim = 64, m = 16, ksub = 16, key = dir)
      Similarity.knnIvfPqExact(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, coarse = coarse, books = books,
        dim = 64, nprobe = 4, candidates = 25)
        .select(col("query_id"), col("rank").cast("long").as("rank"),
          col("neighbor_id"))
    }),

    // FIXED-codebook twins of the PQ tier (the knn_ivf_fixed trick one
    // level down): one-hot sub-books make encode (integer argmax per
    // subspace), the ADC LUT and the scan-side scoring all exact-integer
    // and SQL-replayable, so the PQ encode→LUT→ADC→top-k dataflow gets a
    // full hash oracle
    "knn_pq_adc_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnPqAdcFixed(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5, dims = 64)
    }),

    "knn_ivf_pq_fixed" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      Similarity.knnIvfPqFixed(emb, emb.where(col("vec_id") < 20),
        "vec_id", "embedding", k = 5,
        centroids = Similarity.fixedCodebook(nlist = 4, dims = 64),
        dims = 64)
    }),

    // Integer-quantized PageRank over the symmetrized customer–supplier
    // purchase graph: 3 power iterations of exact long arithmetic —
    // order-independent, so the iterative distributed compute is
    // hash-replayable by an unrolled SQL oracle
    "graph_pagerank" -> ((s, dir) => {
      // the graph derivation (fact join + distinct + symmetrize) is an
      // index-like build, memoized per dataset; the rank iterations stay
      // per-query compute
      val sym = graft.operators.Graph.edgesFor(s, key = s"$dir#purchases") {
        val e = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .distinct()
          .pin() // symmetrizing union reads it twice
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      }
      graft.operators.Graph.pageRankInt(sym, "src", "dst", iters = 3,
        memoKey = Some(s"$dir#purchases"))
    }),

    // Per-customer triangle counts over the co-purchase similarity graph
    // (customers sharing >= 3 distinct parts): bipartite->unipartite
    // projection with a hot-via cap, then degree-ordered triangle
    // enumeration. The triangle set is orientation-independent, so the
    // id-ordered SQL twin replays it hash-exactly
    "graph_triangles" -> ((s, dir) => {
      val edges = graft.operators.Graph.edgesFor(s, key = s"$dir#coparts") {
        graft.operators.Graph.cooccurrenceEdges(
          t(s, dir, "lineitem")
            .join(t(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey"), col("l_partkey")),
          "o_custkey", "l_partkey", minShared = 3L)
      }
      graft.operators.Graph.triangleCounts(edges, "u", "v")
    }),

    // Synchronous weighted label propagation over the SAME memoized
    // co-purchase projection (edge build shared with graph_triangles);
    // deterministic (synchronous + min-label tiebreak), so the unrolled
    // 3-iteration SQL twin replays it hash-exactly
    "graph_communities" -> ((s, dir) => {
      val edges = graft.operators.Graph.edgesFor(s, key = s"$dir#coparts") {
        graft.operators.Graph.cooccurrenceEdges(
          t(s, dir, "lineitem")
            .join(t(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey"), col("l_partkey")),
          "o_custkey", "l_partkey", minShared = 3L)
      }
      graft.operators.Graph.labelPropagation(edges, "u", "v", "n_shared",
        iters = 3)
    }),

    // Degree distribution of the co-purchase graph in exact power-of-two
    // buckets: bucket = length(bin(degree)) = floor(log2)+1 — integer
    // string arithmetic both engines compute identically, no float log.
    // The scale-free-or-not shape of a link graph is the first diagnostic
    // before running anything iterative on it
    "graph_degree_histogram" -> ((s, dir) => {
      val edges = graft.operators.Graph.edgesFor(s, key = s"$dir#coparts") {
        graft.operators.Graph.cooccurrenceEdges(
          t(s, dir, "lineitem")
            .join(t(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey"), col("l_partkey")),
          "o_custkey", "l_partkey", minShared = 3L)
      }
      edges.select(col("u"))
        .unionByName(edges.select(col("v").as("u")))
        .groupBy("u").agg(count(lit(1)).as("d"))
        .withColumn("bucket", length(bin(col("d"))).cast("long"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_nodes"), min(col("d")).as("min_degree"),
          max(col("d")).as("max_degree"))
    }),

    // k-core of the shared co-purchase graph: customers mutually supported
    // by ≥35 fellow core members. The peel runs to its fixpoint (3 peel
    // rounds at sf0.01); the oracle unrolls 8 SQL rounds — sound because the
    // k-core is ORDER-INDEPENDENT and peeling past convergence removes
    // nothing, so any unroll ≥ the true depth lands on the same core
    "graph_kcore" -> ((s, dir) => {
      val edges = graft.operators.Graph.edgesFor(s, key = s"$dir#coparts") {
        graft.operators.Graph.cooccurrenceEdges(
          t(s, dir, "lineitem")
            .join(t(s, dir, "orders"),
              col("l_orderkey") === col("o_orderkey"))
            .select(col("o_custkey"), col("l_partkey")),
          "o_custkey", "l_partkey", minShared = 3L)
      }
      graft.operators.Graph.kCore(edges, "u", "v", k = 35L)
    }),

    // FastSS deletion-neighborhood edit-distance join: near-typo pairs
    // among customer names (ED <= 1) without the all-pairs distance
    // matrix — variants block, levenshtein confirms candidates only. The
    // oracle replays it as the brute-force quadratic (same pair SET — the
    // blocking is lossless at distance 1). The registered query runs
    // UNCAPPED (maxBucket = MaxValue) so the equality is unconditional;
    // the default cap is the library's recall-trading scale guard and
    // would silently shrink the Spark side below the exact oracle
    "dedup_edit_distance" -> ((s, dir) =>
      Dedup.editDistancePairsFor(t(s, dir, "customer"), "c_custkey", "c_name",
        maxBucket = Int.MaxValue, key = dir)),

    // Interval-union coverage per supplier: each shipment occupies the
    // supplier for [ship_day, ship_day + quantity) days; overlapping
    // windows merge into islands by the running-max trick (two
    // same-partitioning windows + one agg, no self-join); days since
    // epoch keep everything integer
    "w_interval_coverage" -> ((s, dir) =>
      graft.operators.EventAnalytics.intervalCoverage(
        t(s, dir, "lineitem")
          .select(col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
            datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
              .cast("long").as("ship_day"),
            (datediff(col("l_shipdate"), to_date(lit("1970-01-01")))
              .cast("long") + col("l_quantity").cast("long"))
              .as("busy_until")),
        groupCols = Seq("l_suppkey"), startCol = "ship_day",
        endCol = "busy_until",
        tiebreakCols = Seq("l_orderkey", "l_linenumber"))),

    // Market-basket association rules over (user, day) event baskets:
    // directed (a -> b) support / confidence / lift in exact integer ppm
    // — one basket distinct, a per-basket pair join, broadcast marginals
    "events_assoc_rules" -> ((s, dir) =>
      graft.operators.EventAnalytics.assocRules(
        t(s, dir, "events")
          .select(col("user_id"), to_date(col("ts")).as("day"),
            col("event_type")),
        basketCols = Seq("user_id", "day"), itemCol = "event_type",
        minSupport = 5L)),

    // Grouped OLS regression of price cents on quantity from the same
    // integer power sums as a_covariance_exact — slope and intercept in
    // ppm, decimal(38,0) exact, combine-order-free
    "a_linreg_slope" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          col("l_quantity").cast("long").as("x"),
          floor(col("l_extendedprice") * 100).cast("long").as("y"))
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sum_x"),
          sum(col("y")).as("sum_y"),
          sum(col("x").cast("decimal(38,0)") * col("x").cast("decimal(38,0)"))
            .as("sum_xx"),
          sum(col("x").cast("decimal(38,0)") * col("y").cast("decimal(38,0)"))
            .as("sum_xy"))
        .select(col("l_returnflag"), col("n"),
          expr("""cast((cast(n as decimal(38,0)) * sum_xy -
                |  cast(sum_x as decimal(38,0)) *
                |  cast(sum_y as decimal(38,0))) * 1000000
                |div (cast(n as decimal(38,0)) * sum_xx -
                |  cast(sum_x as decimal(38,0)) *
                |  cast(sum_x as decimal(38,0))) as bigint)""".stripMargin)
            .as("slope_ppm"),
          // intercept = (Σy·Σxx − Σx·Σxy) / D with D = n·Σxx − (Σx)²:
          // the n from b = (Σy − a·Σx)/n cancels against D's expansion
          expr("""cast((cast(sum_y as decimal(38,0)) * sum_xx -
                |  cast(sum_x as decimal(38,0)) * sum_xy) * 1000000
                |div (cast(n as decimal(38,0)) * sum_xx -
                |  cast(sum_x as decimal(38,0)) *
                |  cast(sum_x as decimal(38,0))) as bigint)""".stripMargin)
            .as("intercept_cents_ppm"))),

    // Chi-squared lang x source contingency audit over documents in
    // exact decimal(38,0) integer math — one cell aggregation, broadcast
    // marginals; the per-cell terms sum to the scaled statistic
    "dq_chi2_independence" -> ((s, dir) =>
      graft.operators.DataQuality.chi2Contingency(
        t(s, dir, "documents").select(col("lang"), col("source")),
        "lang", "source")),

    // Join-key skew diagnostics on the lineitem supplier key: exact
    // per-key count distribution reduced to the shuffle-predictive
    // numbers (max/median ratio, hottest-key share) — the pre-flight
    // check before a fact-fact join at scale
    "dq_key_skew" -> ((s, dir) =>
      graft.operators.DataQuality.keySkew(
        t(s, dir, "lineitem").select(col("l_suppkey")), "l_suppkey")),

    // k-anonymity release audit on (lang, source, n_chars) quasi-
    // identifiers: equivalence-class size histogram + violation flag,
    // two hash-aggs, fact scanned once
    "dq_k_anonymity" -> ((s, dir) =>
      graft.operators.DataQuality.kAnonymity(
        t(s, dir, "documents"), Seq("lang", "source", "n_chars"), k = 5)),

    // Missing-id gap ranges over lineitem's orderkey sequence (orders
    // with no lines are REAL holes — ~257 at sf0.01, so the green is
    // non-trivial): distributed range-sort sequence numbers + successor
    // equi-join, no global window
    "dq_id_gaps" -> ((s, dir) =>
      graft.operators.DataQuality.idGaps(
        t(s, dir, "lineitem"), "l_orderkey")),

    // FD-strength audit: how strongly does l_partkey determine
    // l_suppkey (TPC-H: each part has 4 suppliers, so the FD is badly
    // violated — a non-trivial g3); exact Kivinen-Mannila g3 in ppm
    "dq_fd_strength" -> ((s, dir) =>
      graft.operators.DataQuality.fdStrength(
        t(s, dir, "lineitem"), Seq("l_partkey"), "l_suppkey")),

    // Daily TWAP of the event value per type: irregular samples hold
    // until the next sample (last holds to midnight); exact epoch-sec
    // durations x milli values, one shared (type, day) Exchange
    "events_twap" -> ((s, dir) =>
      graft.operators.EventAnalytics.twapDaily(
        t(s, dir, "events").where(col("value").isNotNull),
        "event_type", "ts", "value")),

    // CUSUM changepoint per event type over the daily count series:
    // scaled integer statistic Ck*n = n*Pk - k*S, argmax |C| with
    // earliest-day tie-break via the packed-long max
    "events_changepoint" -> ((s, dir) =>
      graft.operators.EventAnalytics.cusumChangepoint(
        t(s, dir, "events")
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x")),
        "event_type", "day", "x")),

    // EXACT-proportion stratified splits per language: rank on the
    // portable md5-prefix order inside each stratum, assign by integer
    // rank cuts — per-stratum counts are deterministic integers, not
    // hash-threshold expectations
    "sample_splits_exact" -> ((s, dir) =>
      graft.operators.Sampling.exactSplit(t(s, dir, "documents"),
        "doc_id", "lang", Seq("train" -> 8, "valid" -> 1, "test" -> 1))),

    // Multi-source BFS over the memoized purchase graph: exact hop
    // distance from seed customer c1, one frontier join + anti-join per
    // level — the link-distance trust signal. Shares the edge build with
    // graph_pagerank via edgesFor
    "graph_shortest_paths" -> ((s, dir) => {
      val sym = graft.operators.Graph.edgesFor(s, key = s"$dir#purchases") {
        val e = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .select(concat(lit("c"), col("o_custkey")).as("src"),
            concat(lit("s"), col("l_suppkey")).as("dst"))
          .distinct()
          .pin() // symmetrizing union reads it twice
        e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      }
      graft.operators.Graph.shortestPaths(sym, "src", "dst",
        seeds = Seq("c1"), maxHops = 3)
    }),

    // Calendar gap-fill + forward fill of per-(user, day) activity: one
    // lead window then a row-local sequence explode — missing days carry
    // the last observed count with observed = 0
    "events_gap_fill" -> ((s, dir) =>
      graft.operators.EventAnalytics.forwardFillCalendar(
        t(s, dir, "events")
          .groupBy(col("user_id"),
            datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
              .cast("long").as("d"))
          .agg(count(lit(1)).as("n_events")),
        groupCols = Seq("user_id"), dayCol = "d", valCol = "n_events")),

    // First-order Markov transition matrix over per-user event streams:
    // lead window + hash agg to the |states|^2 table, broadcast
    // per-state totals, exact integer ppm probabilities
    "events_markov" -> ((s, dir) =>
      graft.operators.EventAnalytics.markovTransitions(
        t(s, dir, "events"), seqCol = "user_id",
        orderCols = Seq("ts", "event_id"), typeCol = "event_type")),

    // Winsorized mean of quantity per return flag: clamp at the exact
    // nearest-rank p5/p95 cuts selected from the collapsed value-run
    // table (distributed prefix scan — no group window, no self-join),
    // then an exact integer sum and ppm mean
    "a_winsorized_mean" -> ((s, dir) =>
      graft.operators.Ranking.winsorizedMean(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_quantity")),
        valueCol = "l_quantity", groupCols = Seq("l_returnflag"),
        loP = 5, hiP = 95)),

    // RFM customer segmentation: recency/frequency/monetary quartile
    // scores via the DISTRIBUTED ntile (range-sort sequence, never a
    // single-partition NTILE window); three sorts of the customer-level
    // aggregate, joined back on the customer key
    "a_rfm_segments" -> ((s, dir) => {
      val day = datediff(to_date(col("o_orderdate")),
        to_date(lit("1970-01-01"))).cast("long")
      val cust = t(s, dir, "orders")
        .groupBy(col("o_custkey"))
        .agg(max(day).as("last_day"), count(lit(1)).as("frequency"),
          sum(floor(col("o_totalprice") * 100).cast("long"))
            .as("monetary_cents"))
      val maxDay = cust.agg(max(col("last_day")).as("_maxd"))
      val base = cust.crossJoin(broadcast(maxDay))
        .withColumn("recency_days", col("_maxd") - col("last_day"))
        .drop("_maxd", "last_day")
        .pin() // sequenced three times, one sort per metric
      def score(metric: Column, name: String) =
        graft.operators.Ranking.ntileScores(
          base.select(col("o_custkey"), metric.as("_m")),
          Seq("_m", "o_custkey"), 4, name)
          .select(col("o_custkey"), col(name))
      base
        .join(score(-col("recency_days"), "r_score"), "o_custkey")
        .join(score(col("frequency"), "f_score"), "o_custkey")
        .join(score(col("monetary_cents"), "m_score"), "o_custkey")
        .select(col("o_custkey"), col("recency_days"), col("frequency"),
          col("monetary_cents"), col("r_score"), col("f_score"),
          col("m_score"),
          (col("r_score") * 100 + col("f_score") * 10 + col("m_score"))
            .as("rfm_code"))
    }),

    // Exact weighted median: the price at which half the shipped
    // QUANTITY is cheaper, per return flag — cumulative-weight rank
    // selection, one shuffle
    "a_weighted_median" -> ((s, dir) =>
      graft.operators.Ranking.weightedMedian(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          floor(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity")),
        valueCol = "cents", weightCol = "l_quantity",
        groupCols = Seq("l_returnflag"))),

    // Month-over-month revenue deltas per nation in exact ppm: one
    // broadcast dim join + one (nation, month) agg + one lag window
    // over the BOUNDED nation x month table
    "w_period_over_period" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val rev = t(s, dir, "orders")
        .join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_nationkey"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("yyyymm"))
        .agg(sum(floor(col("o_totalprice") * 100).cast("long"))
          .as("rev_cents"))
      val w = Window.partitionBy(col("c_nationkey")).orderBy(col("yyyymm"))
      rev
        .withColumn("prev_cents", lag(col("rev_cents"), 1).over(w))
        .withColumn("delta_ppm",
          expr("""cast((cast(rev_cents as decimal(38,0)) - prev_cents)
                |* 1000000 div prev_cents as bigint)""".stripMargin))
    }),

    // Daily new + cumulative distinct users: first-seen day per user,
    // then a running sum over the BOUNDED calendar table (constant
    // partition key documented — day count, not corpus, bounds it)
    "events_cumulative_users" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val firstDay = t(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(min(datediff(to_date(col("ts")), to_date(lit("1970-01-01")))
          .cast("long")).as("day"))
      val perDay = firstDay.groupBy(col("day"))
        .agg(count(lit(1)).as("new_users"))
      // constant-but-not-foldable partition key: pmod(day, 1) is always 0
      // yet survives constant folding, so WindowExec sees a partition
      // spec and doesn't warn — the single partition is SAFE here because
      // the frame is the per-day table (bounded by the calendar, not the
      // corpus), same bounded-rows argument as buildVocab's ranker
      val w = Window.partitionBy(pmod(col("day"), lit(1)))
        .orderBy(col("day"))
        .rowsBetween(Window.unboundedPreceding, 0)
      perDay.withColumn("cum_users", sum(col("new_users")).over(w))
    }),

    // Token-budget truncation: whitespace tokens (empties filtered so
    // both engines agree on runs of spaces), keep the first 64, report
    // counts — row-local, codegen'd, scan-side
    // Token-level phrase search: exact 3-token phrase occurrences per
    // document (the "distributed grep" shape — at 100 TB a one-off
    // phrase query IS a scan; repeated-query workloads layer an index).
    // Pure codegen'd STRING arithmetic, no per-position lambda: the
    // space-collapsed text re-joins with DOUBLE spaces, so the phrase
    // pattern ' row  column  sort ' is boundary-anchored on both sides
    // (an 'xrow' token can't match — its preceding char isn't a space)
    // and adjacent occurrences never share pattern characters (each
    // separator has two spaces, the pattern consumes one from each
    // end) — the replace()-delta count is exact, and the first token
    // index falls out of the space count before the first hit
    // (prefix holds 2·(i−1)+1 spaces). Measured vs the per-position
    // interpreted-lambda form it replaced (solo, 5-rep): sf0.1 median
    // 1.82 -> 0.41 s, sf1 17.6 (r13 interleaved) -> 1.01 s — the
    // dup_ngrams lesson again, this time with zero custom code.
    "text_phrase_search" -> ((s, dir) => {
      val p = " row  column  sort "
      val plen = p.length
      t(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          concat(lit("  "),
            replace(
              expr("btrim(regexp_replace(text, ' +', ' '), ' ')"),
              lit(" "), lit("  ")),
            lit("  ")).as("_s"))
        .withColumn("_idx", locate(p, col("_s")).cast("long"))
        .where(col("_idx") > 0L)
        .withColumn("_pre", substring_index(col("_s"), p, 1))
        .select(col("doc_id"),
          ((length(col("_s")) - length(replace(col("_s"), lit(p),
            lit("")))) / plen).cast("long").as("n_occ"),
          (((length(col("_pre")) -
            length(replace(col("_pre"), lit(" "), lit("")))) - 1) / 2 + 1)
            .cast("long").as("first_pos"))
    }),

    // Cross-document repeated spans (suffix-array-free exact-substring
    // dedup): maximal shared k=8-token runs of >= 16 tokens between
    // document pairs, hot shingles (df > 20) capped before the pair join
    "text_repeated_spans" -> ((s, dir) =>
      TextAnalysis.repeatedSpansFor(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minSpanTokens = 16, maxDf = 20, key = dir)),

    // Exact-substring dedup CUT (Lee et al. 2021 applied): per document,
    // tokens a remove-verbatim-repeats rewrite cuts (earliest doc keeps
    // its copy; overlapping marked intervals union before counting).
    // Shares the memoized span table with text_repeated_spans.
    "dedup_substring_cut" -> ((s, dir) =>
      TextAnalysis.substringCut(t(s, dir, "documents"), "doc_id", "text",
        k = 8, minSpanTokens = 16, maxDf = 20, key = Some(dir))),

    "text_truncate_budget" -> ((s, dir) =>
      t(s, dir, "documents")
        // NULL text is excluded on BOTH sides: Spark's concat_ws would
        // render it '' while DuckDB's array_to_string keeps NULL — the
        // one row-level function pair in this registry that disagrees
        .where(col("text").isNotNull)
        .select(col("doc_id"),
          expr("filter(split(text, ' '), x -> x != '')").as("_toks"))
        .select(col("doc_id"),
          size(col("_toks")).cast("long").as("n_tokens"),
          least(size(col("_toks")), lit(64)).cast("long").as("n_kept"),
          (size(col("_toks")) > 64).cast("long").as("truncated"),
          concat_ws(" ", slice(col("_toks"), 1, 64)).as("kept_text"))),

    // Semi-structured extraction: pull the JSON payload field out of the
    // props column scan-side (codegen'd path expression, no UDF) and
    // aggregate — the schema-on-read pattern for event property bags
    "events_json_extract" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), count(col("k")).as("n_with_k"),
          sum(col("k")).as("sum_k"), min(col("k")).as("min_k"),
          max(col("k")).as("max_k"))),

    // View-to-purchase conversion lag per user in exact integer
    // MICROSECONDS (per-side second-truncation would disagree across
    // engines on sub-second timestamps): two filtered min-aggregations
    // and one key join — the first purchase AT OR AFTER the first view
    "events_conversion_lag" -> ((s, dir) => {
      val e = t(s, dir, "events")
      val fv = e.where(col("event_type") === "view")
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_view"))
      e.where(col("event_type") === "purchase")
        .join(fv, "user_id")
        .where(col("ts") >= col("first_view"))
        .groupBy(col("user_id"))
        .agg(min(col("ts")).as("first_purchase"),
          min(col("first_view")).as("first_view"))
        .select(col("user_id"),
          (unix_micros(col("first_purchase")) -
            unix_micros(col("first_view"))).as("lag_micros"))
    }),

    // Column-completeness audit over documents: null/empty counts and
    // fill rates in ppm, ONE row-local aggregation pass
    // Whole-table column profile (the Deequ/profiling shape): for each of
    // five canonicalized columns — counts, nulls, exact distincts, and
    // min/max rendered through BIGINT→string so both engines print
    // identically. One TWO-PHASE aggregation per column (group on the
    // value with map-side combine, then reduce the group table), each
    // branch scanning only ITS column — measured 4× faster than the
    // single-pass multi-distinct, whose Expand re-shuffles |cols|+1
    // copies of every row while each branch here shuffles only the
    // distinct values; same total I/O either way thanks to column
    // pruning. At 100 TB the distincts can also come from the L66
    // sketch-table rollup
    "dq_schema_profile" -> ((s, dir) => {
      val cols = Seq("returnflag", "linestatus", "quantity",
        "price_cents", "ship_day")
      val src = t(s, dir, "lineitem").select(
        col("l_returnflag").as("returnflag"),
        col("l_linestatus").as("linestatus"),
        col("l_quantity").cast("long").as("quantity"),
        cents(col("l_extendedprice")).as("price_cents"),
        datediff(to_date(col("l_shipdate")), lit("1970-01-01"))
          .cast("long").as("ship_day"))
      cols.map { c =>
        src.select(col(c))
          .groupBy(col(c)).agg(count(lit(1)).as("cnt"))
          .agg(
            sum(when(col(c).isNotNull, col("cnt")).otherwise(0L)).as("n"),
            sum(when(col(c).isNull, col("cnt")).otherwise(0L)).as("n_null"),
            count(when(col(c).isNotNull, lit(1))).as("n_distinct"),
            min(col(c)).cast("string").as("min_val"),
            max(col(c)).cast("string").as("max_val"))
          .select(lit(c).as("column_name"), col("n"), col("n_null"),
            col("n_distinct"), col("min_val"), col("max_val"))
      }.reduce(_ unionByName _)
    }),

    // Declarative rule engine (the Deequ check-suite shape): named
    // predicates evaluated in ONE scan-side pass, per-rule violation
    // counts + ppm; a rule is a Column, so the whole suite is one
    // aggregate with |rules| conditional sums — adding a rule never adds
    // a pass
    "dq_rule_violations" -> ((s, dir) => {
      val rules: Seq[(String, Column)] = Seq(
        "qty_positive" -> (col("l_quantity") > 0),
        "price_positive" -> (col("l_extendedprice") > 0),
        "discount_in_unit" -> col("l_discount").between(0.0, 1.0),
        "tax_bounded" -> (col("l_tax") <= 0.10),
        "flag_domain" -> col("l_returnflag").isin("A", "N", "R"),
        "linestatus_domain" -> col("l_linestatus").isin("F", "O"),
        "shipdate_range" ->
          col("l_shipdate").between("1992-01-01", "1999-12-31"))
      val aggs = rules.map { case (nm, pred) =>
        sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L))
          .as("v_" + nm) } :+ count(lit(1)).as("n_rows")
      val stackArgs = rules.map { case (nm, _) => s"'$nm', v_$nm" }
        .mkString(", ")
      t(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
        .select(col("n_rows"),
          expr(s"stack(${rules.size}, $stackArgs) as (rule, n_violations)"))
        .select(col("rule"), col("n_violations"),
          expr("cast((cast(n_violations as decimal(38,0)) * 1000000) " +
            "div n_rows as bigint)").as("violation_ppm"))
    }),

    "dq_completeness" -> ((s, dir) =>
      t(s, dir, "documents")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("text").isNull.cast("long")).as("text_null"),
          sum((col("text") === "").cast("long")).as("text_empty"),
          sum(col("lang").isNull.cast("long")).as("lang_null"),
          sum(col("source").isNull.cast("long")).as("source_null"),
          sum(col("n_chars").isNull.cast("long")).as("n_chars_null"))
        .select(col("n_rows"), col("text_null"), col("text_empty"),
          col("lang_null"), col("source_null"), col("n_chars_null"),
          expr("""cast((cast(n_rows as decimal(38,0)) - text_null
                |- text_empty) * 1000000 div n_rows as bigint)"""
            .stripMargin).as("text_fill_ppm"))),

    // Batch twin of the stream-static enrichment (EventStreams
    // .enrichedWindowCounts runs the SAME plan on the streaming side,
    // spec-pinned): events joined to the broadcast customer dim, hourly
    // counts per nation
    "events_enriched_window" -> ((s, dir) =>
      graft.streaming.EventStreams.enrichedWindowCounts(
        t(s, dir, "events"),
        t(s, dir, "customer").select(col("c_custkey").as("user_id"),
          col("c_nationkey")),
        keyCol = "user_id", attrCol = "c_nationkey")),

    // Accumulating-snapshot fact: per-order lifecycle milestones from
    // the line items (first/last ship lag, line and quantity totals) —
    // ONE fact aggregation joined back to orders on the key
    "a_order_lifecycle" -> ((s, dir) => {
      val lines = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(min(col("l_shipdate")).as("_first_ship"),
          max(col("l_shipdate")).as("_last_ship"),
          count(lit(1)).as("n_lines"),
          sum(col("l_quantity").cast("long")).as("total_qty"))
      t(s, dir, "orders")
        .join(lines, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("n_lines"),
          col("total_qty"),
          datediff(to_date(col("_first_ship")), to_date(col("o_orderdate")))
            .cast("long").as("days_to_first_ship"),
          datediff(to_date(col("_last_ship")), to_date(col("_first_ship")))
            .cast("long").as("ship_span_days"))
    }),

    // Inter-event gap distribution: per event type, the time to the
    // user's NEXT event bucketed on portable integer thresholds — one
    // lead window + one hash agg
    "events_gap_histogram" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      t(s, dir, "events")
        .withColumn("_gap_us",
          unix_micros(lead(col("ts"), 1).over(w)) -
            unix_micros(col("ts")))
        .where(col("_gap_us").isNotNull)
        .groupBy(col("event_type"),
          when(col("_gap_us") < 60L * 1000000, "lt_1m")
            .when(col("_gap_us") < 3600L * 1000000, "lt_1h")
            .when(col("_gap_us") < 86400L * 1000000, "lt_1d")
            .otherwise("ge_1d").as("gap_bucket"))
        .agg(count(lit(1)).as("n"), sum(col("_gap_us")).as("sum_gap_us"))
    }),

    // Integer-exact EWMA over each user's last 16 events: weights are
    // powers of two (newest = 2^(n-1)), numerator and denominator stay
    // exact BIGINTs (bounded by the 16-row frame, no overflow), one
    // truncating division at the end — time-series smoothing with zero
    // float drift, one shuffle on the user key
    "events_ewma" -> ((s, dir) =>
      graft.operators.EventAnalytics.ewmaIntWindow(
        t(s, dir, "events"), "user_id", Seq("ts", "event_id"), "value",
        window = 16)
        .select("event_id", "user_id", "n", "ewma_micros")),

    // Brown's double smoothing + one-step forecast (dyadic alpha makes
    // the trend term exactly s1 - s2): two windows, one Exchange
    "events_double_ewma" -> ((s, dir) =>
      graft.operators.EventAnalytics.doubleEwmaIntWindow(
        t(s, dir, "events"), "user_id", Seq("ts", "event_id"), "value",
        window = 16)
        .select("event_id", "user_id", "n", "ewma_micros",
          "dewma_micros", "forecast_micros")),

    // Conversion-lag SLA percentiles per nation: the lag table (an
    // already-oracled stage) joined to the broadcast customer dim, then
    // exact nearest-rank percentile selection per nation
    "events_conversion_percentiles" -> ((s, dir) => {
      val lags = queries("events_conversion_lag")(s, dir)
      graft.operators.Ranking.exactPercentiles(
        lags.join(broadcast(t(s, dir, "customer")
          .select(col("c_custkey").as("user_id"), col("c_nationkey"))),
          "user_id"),
        valueCol = "lag_micros", groupCols = Seq("c_nationkey"),
        ps = Seq(50, 90, 99))
    }),

    // Whole-schema referential-integrity audit: orphan counts for every
    // FK relation in ONE result — each relation is a left-anti count
    // (child side scanned once, parent keys hash-joined), unioned into
    // a per-relation report row
    "dq_fk_orphans" -> ((s, dir) => {
      // NULL FKs are excluded on both sides (a NULL key is a
      // completeness finding, not a referential one — and anti-join vs
      // NOT IN disagree on NULL semantics)
      def orphans(rel: String, child: DataFrame, fk: String,
                  parent: DataFrame, pk: String) =
        child.select(col(fk).as("_fk")).where(col("_fk").isNotNull)
          .join(parent.select(col(pk).as("_fk")), Seq("_fk"), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_orphans"))
      orphans("lineitem_orders", t(s, dir, "lineitem"), "l_orderkey",
          t(s, dir, "orders"), "o_orderkey")
        .unionByName(orphans("lineitem_part", t(s, dir, "lineitem"),
          "l_partkey", t(s, dir, "part"), "p_partkey"))
        .unionByName(orphans("lineitem_supplier", t(s, dir, "lineitem"),
          "l_suppkey", t(s, dir, "supplier"), "s_suppkey"))
        .unionByName(orphans("orders_customer", t(s, dir, "orders"),
          "o_custkey", t(s, dir, "customer"), "c_custkey"))
        .unionByName(orphans("customer_nation", t(s, dir, "customer"),
          "c_nationkey", t(s, dir, "nation"), "n_nationkey"))
    }),

    // Top-3 suppliers per nation by shipped revenue, the long tail
    // rolled into an 'other' row — rank window over the BOUNDED
    // (nation, supplier) aggregate, then one conditional re-aggregation
    "a_topk_rollup" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bySupp = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "supplier")
          .select(col("s_suppkey"), col("s_nationkey"))),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_nationkey"), col("s_suppkey"))
        .agg(sum(floor(col("l_extendedprice") * 100).cast("long"))
          .as("rev_cents"))
      val w = Window.partitionBy(col("s_nationkey"))
        .orderBy(col("rev_cents").desc, col("s_suppkey").asc)
      bySupp
        .withColumn("_rk", row_number().over(w))
        .groupBy(col("s_nationkey"),
          when(col("_rk") <= 3, col("s_suppkey").cast("string"))
            .otherwise("other").as("supplier"))
        .agg(sum(col("rev_cents")).as("rev_cents"),
          count(lit(1)).as("n_suppliers"))
    }),

    // Global running revenue in (date, key) total order WITHOUT a
    // single-partition window: the two-phase distributed prefix scan
    // (range-sort, per-partition aggregate, driver-rolled carry-ins —
    // bounded state = one long per partition). The sanctioned shape for
    // any `agg OVER (ORDER BY ...)` with no PARTITION BY at 100 TB
    "a_prefix_scan" -> ((s, dir) => {
      val df = t(s, dir, "orders").select(
        col("o_orderkey"), col("o_orderdate"),
        coalesce(floor(col("o_totalprice") * 100).cast("long"), lit(0L))
          .as("cents")) // coalesce pins NOT NULL for the scan contract
      graft.operators.PrefixScan.runningLong(df,
          Seq("o_orderdate", "o_orderkey"), "cents",
          graft.operators.PrefixScan.Sum,
          exclCol = "cum_before_cents", inclCol = "cum_cents")
        .select(col("o_orderkey"), col("cents"),
          col("cum_before_cents"), col("cum_cents"))
    }),

    // JSON-lines scan: orders re-encoded as JSONL once per dataset
    // (Formats memo), read back SCHEMA-FIRST — inference would be a
    // second full pass at 100 TB — with FAILFAST so drift errors instead
    // of nulling. A format can't change rows: oracle replays on parquet
    // CSV interchange scan: customer re-encoded as headered CSV once per
    // dataset, read back SCHEMA-FIRST + FAILFAST (inference is an extra
    // pass and type-lossy). CSV carries no column statistics — nothing
    // prunes — which is exactly why it is an interchange format, not a
    // layout; the oracle replays the aggregation from parquet
    "s_csv_scan" -> ((s, dir) => {
      val path = graft.sources.Formats.layoutFor(
        t(s, dir, "customer").select(
          col("c_custkey"),
          col("c_nationkey").cast("long").as("nation"),
          cents(col("c_acctbal")).as("bal_cents"),
          col("c_mktsegment")),
        "csv", key = s"customer-$dir", options = Map("header" -> "true"))
      graft.sources.Formats.readCsv(s, path,
          "c_custkey long, nation long, bal_cents long, c_mktsegment string")
        .where(col("bal_cents") > 0)
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"),
          sum(col("bal_cents")).as("sum_bal_cents"))
    }),

    "s_json_scan" -> ((s, dir) => {
      val path = graft.sources.Formats.layoutFor(
        t(s, dir, "orders").select(
          col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          cents(col("o_totalprice")).as("price_cents"),
          datediff(col("o_orderdate"), lit("1992-01-01")).cast("long")
            .as("day")),
        "json", key = s"orders-$dir")
      graft.sources.Formats.readJson(s, path,
          "o_orderkey long, o_custkey long, o_orderstatus string, " +
            "price_cents long, day long")
        .where(col("day").between(1000, 2000))
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("price_cents")).as("sum_cents"))
    }),

    // ORC scan: lineitem re-encoded as ORC once per dataset; ORC carries
    // min/max stats and dictionaries like parquet, and the filter reaches
    // the scan through the same PushedFilters surface (pinned in
    // FormatScanSpec). Oracle replays the filter on the parquet table
    // Avro scan: part re-encoded ONCE into object-container files via the
    // from-scratch writer (no spark-avro module on this classpath), then
    // read schema-first — the DDL compiles to the Avro reader schema so
    // drift fails at open. Avro is row-major interchange with no column
    // stats (nothing prunes); the oracle replays the filter+agg on the
    // plain parquet table, proving the re-encode round-trips rows exactly
    "s_avro_scan" -> ((s, dir) => {
      val path = graft.sources.Avro.layoutFor(
        t(s, dir, "part").select(col("p_partkey"), col("p_brand"),
          col("p_size").cast("long").as("p_size"),
          cents(col("p_retailprice")).as("price_cents")),
        key = s"part-$dir")
      graft.sources.Avro.readAvro(s, path,
          "p_partkey bigint, p_brand string, p_size bigint, price_cents bigint")
        .where(col("p_size") > 25)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n_parts"),
          sum(col("price_cents")).as("sum_cents"))
    }),

    // The Avro date/timestamp LOGICAL-type path under the oracle: orders
    // re-encode with the raw timestamp AND its to_date projection, read
    // back schema-first, aggregate — a hash match proves epoch-micros /
    // epoch-days carry through the container bit-exactly
    "s_avro_dates" -> ((s, dir) => {
      val path = graft.sources.Avro.layoutFor(
        t(s, dir, "orders").select(col("o_orderkey"), col("o_orderdate"),
          to_date(col("o_orderdate")).as("o_day"), col("o_orderstatus")),
        key = s"orders-dates-$dir")
      graft.sources.Avro.readAvro(s, path,
          "o_orderkey bigint, o_orderdate timestamp_ntz, o_day date, " +
            "o_orderstatus string")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_day")).as("first_day"),
          max(col("o_orderdate")).as("last_ts"))
    }),

    // The Avro DECIMAL logical-type path under the oracle: money carried
    // as unscaled bytes at a declared (precision, scale) — the customs-
    // duty domain's safe interchange — then summed as exact decimal
    "s_avro_decimal" -> ((s, dir) => {
      val path = graft.sources.Avro.layoutFor(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_returnflag"),
          col("l_extendedprice").cast("decimal(12,2)").as("price")),
        key = s"lineitem-decimal-$dir")
      graft.sources.Avro.readAvro(s, path,
          "l_orderkey bigint, l_returnflag string, price decimal(12,2)")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          sum(col("price")).cast("decimal(22,2)").as("sum_price"))
    }),

    "s_orc_scan" -> ((s, dir) => {
      val path = graft.sources.Formats.layoutFor(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_quantity"),
          col("l_returnflag"),
          cents(col("l_extendedprice")).as("price_cents")),
        "orc", key = s"lineitem-$dir")
      graft.sources.Formats.readOrc(s, path)
        .where(col("l_returnflag") === "R" && col("l_quantity") > 30)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(col("price_cents")), lit(0L)).as("sum_cents"))
    }),

    // Distinct customers per order status answered from the at-rest
    // SKETCH table (per-(status,month) HLL sketches built once per
    // dataset, kilobytes): the query merges sketches — zero fact reads,
    // and one sketch table serves every rollup over a subset of its
    // keys. Sketch internals have no SQL twin -> rows-only; error and
    // merge laws pinned in SketchesSpec
    "a_sketch_rollup" -> ((s, dir) => {
      val path = graft.operators.Sketches.sketchTableFor(
        t(s, dir, "orders").select(col("o_orderstatus"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("yyyymm"),
          col("o_custkey")),
        Seq("o_orderstatus", "yyyymm"), "o_custkey",
        key = s"orders-sk-$dir", spark = s)
      graft.operators.Sketches.distinctFromSketches(s, path,
        Seq("o_orderstatus"))
    }),

    // QUANTILE rollup from at-rest KLL sketches (custom
    // TypedImperativeAggregate — Spark 4 ships DataSketches only for
    // distinct counts): per-(flag, status) sketches over price cents,
    // rolled up to flag alone by kilobyte merges, zero fact rescans.
    // Like a_sketch_rollup, sketch internals aren't SQL-replayable
    // (KLL compaction is randomized) → rows-only here; the ε rank-error
    // law, the exact-n conservation law, and agreement with
    // percentile_cont are pinned in SketchesSpec
    "a_quantile_sketch_rollup" -> ((s, dir) => {
      val path = graft.operators.Sketches.quantileSketchTableFor(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"),
          floor(col("l_extendedprice") * 100).cast("double").as("pc")),
        Seq("l_returnflag", "l_linestatus"), "pc",
        key = s"li-qsk-$dir", spark = s)
      graft.operators.Sketches.quantilesFromSketches(s, path,
        Seq("l_returnflag"))
    }),

    // At-rest FREQUENCY sketch tables (count-min): one kilobyte CMS per
    // (flag, status) built in one fact scan, persisted; any point
    // "how often did partkey X occur" over any rollup of the keys is
    // answered by EXACT counter-wise merges + a probe, zero fact reads.
    // Fully hash-oracled (r17): CMS is deterministic multiply-shift
    // hashing with FIXED constants, so the DuckDB twin rebuilds every
    // probed counter from the raw keys — same arithmetic, no sketch
    // bytes cross the engines (the j_join_size_estimate precedent at
    // width 2048). The never-undercount / e/width·N / byte-exact-merge
    // laws stay pinned in SketchesSpec; the exact twin below remains
    // the accuracy yardstick
    "a_freq_sketch_rollup" -> ((s, dir) => {
      val path = graft.operators.Sketches.cmsTableFor(
        t(s, dir, "lineitem").select(col("l_returnflag"),
          col("l_linestatus"), col("l_partkey")),
        Seq("l_returnflag", "l_linestatus"), "l_partkey",
        key = s"li-fsk-$dir", spark = s)
      graft.operators.Sketches.frequenciesFromSketches(s, path,
        Seq("l_returnflag"), probeKeys = Seq(1L, 2L, 3L, 4L, 5L))
    }),

    // the exact twin of the CMS probe set — what the sketch rollup's
    // estimates are measured against in SketchesSpec
    "a_freq_exact_probe" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_partkey").isin(1L, 2L, 3L, 4L, 5L))
        .groupBy(col("l_returnflag"), col("l_partkey").as("probe_key"))
        .agg(count(lit(1)).as("n_exact"))),

    // The same at-rest rollup contract with SPARK-NATIVE HLL++ registers
    // (r17): where a_sketch_rollup's DataSketches estimator cannot be
    // SQL-replayed (interpolated non-integer estimates even at n=400;
    // HIP/KxQ float accumulators updated in merge order), Spark's own
    // approx_count_distinct registers are order-insensitive slot maxes —
    // serialized words are RUN-IDENTICAL, disjoint-batch merges are
    // BYTE-EXACT (the CMS discipline), and the estimate replays
    // bit-for-bit in DuckDB (graft.HllSql) — so this row carries a full
    // hash oracle. Slot maxes commute with the rollup, so merging the
    // per-(status,month) sketches equals approx_count_distinct over
    // status directly (pinned in SketchesSpec)
    "a_hllpp_rollup" -> ((s, dir) => {
      val path = graft.operators.Sketches.hllppSketchTableFor(
        t(s, dir, "orders").select(col("o_orderstatus"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("yyyymm"),
          col("o_custkey")),
        Seq("o_orderstatus", "yyyymm"), "o_custkey",
        key = s"orders-hpp-$dir", spark = s)
      graft.operators.Sketches.distinctFromHllpp(s, path,
        Seq("o_orderstatus"))
    }),

    // At-rest EXACT distinct tables (Roaring64 bitmaps, from Spark's own
    // jars): the HLL table's contract — build per-(status, month) once,
    // answer any rollup by kilobyte merges, zero fact reads — but the
    // OR-merge loses NOTHING, so this rollup verifies under the plain
    // count(DISTINCT) oracle hash-exactly where a_sketch_rollup is
    // rows-only. The tradeoff (bitmap size grows with distinct keys) is
    // the scaladoc's point; pick by key density and exactness need
    "a_bitmap_rollup" -> ((s, dir) => {
      val path = graft.operators.Sketches.bitmapTableFor(
        t(s, dir, "orders").select(col("o_orderstatus"),
          (year(col("o_orderdate")) * 100 + month(col("o_orderdate")))
            .cast("long").as("yyyymm"),
          col("o_custkey")),
        Seq("o_orderstatus", "yyyymm"), "o_custkey",
        key = s"orders-bm-$dir", spark = s)
      graft.operators.Sketches.distinctFromBitmaps(s, path,
        Seq("o_orderstatus"))
    }),

    // Join-SIZE estimation from two kilobyte at-rest CMS sketches over
    // the join keys (the inner-product estimator — never undercounts):
    // the pre-flight the engine can run before committing to a join's
    // shuffle. EXACT ORACLE (r15, was rows-only): the sketch hashes with
    // FIXED multiply-shift constants, so the DuckDB twin rebuilds each
    // row's bucket counts from the raw keys and replays the min-of-dot-
    // products; ≥-exact and the measured slack stay pinned in SketchesSpec
    "j_join_size_estimate" -> ((s, dir) => {
      val w = 65536
      val liSk = t(s, dir, "lineitem").groupBy()
        .agg(graft.operators.Sketches
          .cmsSketchAgg(col("l_orderkey"), 4, w).as("a"))
      val ordSk = t(s, dir, "orders").groupBy()
        .agg(graft.operators.Sketches
          .cmsSketchAgg(col("o_orderkey"), 4, w).as("b"))
      liSk.crossJoin(broadcast(ordSk))
        .select(graft.operators.Sketches
          .cmsInnerProduct(col("a"), col("b")).as("est_join_rows"))
    }),

    "j_join_size_exact" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .join(t(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("n_join_rows"))),

    // Native session windows (Spark's SessionWindowing operator, the
    // same merge semantics Structured Streaming uses): per-user sessions
    // with a 30-minute inactivity gap — window end = last event + gap,
    // a new session starts when the gap is REACHED (>=). One keyed
    // shuffle; the oracle replays gaps-and-islands in SQL
    "events_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"))
        .select(col("user_id"),
          unix_micros(col("w.start")).as("session_start_us"),
          unix_micros(col("w.end")).as("session_end_us"),
          col("n_events"), col("n_types"))),

    // Top-2 priciest line items per order through the CUSTOM planner
    // strategy (TopKPerKeyPlan/Exec, injected via SparkSessionExtensions
    // — the whole-operator extension tier): map-side partial top-k
    // bounds the shuffle to k rows per key per partition, matching
    // Spark's native WindowGroupLimit prune (parity pinned in
    // TopKPerKeySpec) while skipping the post-shuffle per-group sort.
    // Oracle replays as the rank window
    "o_topk_per_key" -> ((s, dir) =>
      org.apache.spark.sql.graft.TopKPerKeyOps.topKPerKey(
        t(s, dir, "lineitem").select(col("l_orderkey"),
          col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_cents")),
        keyCols = Seq("l_orderkey"),
        orderCols = Seq(("price_cents", false), ("l_linenumber", true)),
        k = 2)),

    // The SAME shortlist written as the PLAIN rank-window query, run with
    // the opt-in optimizer rule enabled (child session, flag scoped):
    // `row_number() OVER (...) <= 2` is rewritten into TopKPerKeyPlan by
    // TopKWindowRewrite, so the full extension-tier stack — rule →
    // logical node → strategy → exec — runs END TO END under the DuckDB
    // gate. The rewrite firing is require()d on both the optimized and
    // physical plan: a silently-skipped rewrite would fail here, not
    // degrade into the (equally correct) window plan
    "o_topk_rewrite" -> ((s, dir) => {
      val s2 = SparkEntry.v2Sessions.getOrCompute(s, "topk-rewrite") {
        val child = s.newSession()
        child.conf.set("spark.graft.topkRewrite.enabled", "true")
        child
      }
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("l_orderkey")
        .orderBy(col("price_cents").desc, col("l_linenumber").asc)
      val df = Tables(s2, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          cents(col("l_extendedprice")).as("price_cents"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") <= 2).drop("_rn")
      require(df.queryExecution.optimizedPlan.collectFirst {
          case p: org.apache.spark.sql.graft.TopKPerKeyPlan => p
        }.nonEmpty,
        "topkRewrite enabled but the logical rewrite did not fire")
      require(df.queryExecution.executedPlan.toString.contains("TopKPerKey"),
        "TopKPerKeyExec missing from the physical plan")
      df
    }),

    // DSv2 parquet scan in an isolated child session: global
    // MIN/MAX/COUNT answered from FOOTER statistics (PushedAggregation —
    // zero row-group reads; plan pinned in FormatScanSpec). At 100 TB
    // this is a metadata operation vs a full scan. Footer stats are
    // exact, so the oracle is the plain aggregate
    "s_agg_footer_stats" -> ((s, dir) => {
      // isolated child session (v2 path + agg pushdown), memoized per
      // parent so repeated invocations don't accumulate session state
      val s2 = SparkEntry.v2Sessions.getOrCompute(s, "v2-agg-pushdown") {
        val child = s.newSession()
        child.conf.set("spark.sql.sources.useV1SourceList", "")
        child.conf.set("spark.sql.parquet.aggregatePushdown", "true")
        child
      }
      Tables(s2, dir, "lineitem")
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("_mino"),
          max(col("l_orderkey")).as("_maxo"),
          min(col("l_quantity")).as("_minq"),
          max(col("l_quantity")).as("_maxq"))
        .select(col("n_rows"),
          col("_mino").as("min_orderkey"), col("_maxo").as("max_orderkey"),
          col("_minq").cast("long").as("min_qty"),
          col("_maxq").cast("long").as("max_qty"))
    })
  )

  // ====================================================================
  // DuckDB oracle twins (ANSI SQL over the same parquet tables). Keys
  // absent here (minhash/simhash/fingerprints/multimodal) use hash
  // functions or stub codecs with no DuckDB equivalent — they get the
  // driver's rows-only check plus ScalaTest pinning.
  // ====================================================================

  def oracleSql: Map[String, String] = SparkEntryOracles.sql
}
