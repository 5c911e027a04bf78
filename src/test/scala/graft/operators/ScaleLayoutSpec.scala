package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Pins the at-scale layout mechanics: partition pruning on the bucketed
  * ANN corpus, and result-identity of the salted skew join. */
class ScaleLayoutSpec extends SparkSpec {

  test("bucketed ANN layout: queries prune partitions and match the in-memory bucketed kNN") {
    import spark.implicits._
    val emb = Tables(spark, sfDir, "embeddings")
    val path = Files.createTempDirectory("ann").toString + "/corpus"
    Similarity.writeBucketed(emb, "vec_id", "embedding", path)
    val queries = emb.where($"vec_id" < 5)

    val fromLayout = Similarity.knnPrePartitioned(spark, path, queries,
      "vec_id", "embedding", k = 3)
    // the scan must prune: PartitionFilters carries the bucket predicate
    val plan = fromLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [bucket"), plan)

    val inMemory = Similarity.knnBucketed(emb, queries, "vec_id", "embedding",
      k = 3)
    val a = fromLayout.as[(Long, Int, Long)].collect().toSet
    val b = inMemory.as[(Long, Int, Long)].collect().toSet
    assert(a === b)
    assert(a.nonEmpty)
  }

  test("IVF layout: probe cells prune partitions, results match the in-memory IVF") {
    import spark.implicits._
    val emb = Tables(spark, sfDir, "embeddings")
    val path = Files.createTempDirectory("ivf").toString + "/corpus"
    val cb = Embeddings.exactCentroids(emb, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    Similarity.writeIvf(emb, "vec_id", "embedding", path, cb)
    val queries = emb.where($"vec_id" < 5)

    val fromLayout = Similarity.knnIvfPartitioned(spark, path, queries,
      "vec_id", "embedding", k = 3, nprobe = 4)
    val plan = fromLayout.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)

    val inMemory = Similarity.knnIvf(emb, queries, "vec_id", "embedding",
      k = 3, centroids = cb, nprobe = 4)
    val a = fromLayout.as[(Long, Long, Long, Long)].collect().toSet
    val b = inMemory.as[(Long, Long, Long, Long)].collect().toSet
    assert(a === b) // the layout's persisted codebook -> identical neighbors
    assert(a.nonEmpty)
  }

  test("salted join: identical results to the plain join, salt spreads a hot key") {
    import spark.implicits._
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    val part = Tables(spark, sfDir, "part").select("p_partkey", "p_name")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = li.join(part, "l_partkey")
    val salted = SkewJoin.saltedJoin(li, part, "l_partkey", saltBuckets = 8)
    assert(salted.count() === plain.count())
    assert(salted.except(plain).count() === 0L)
    assert(plain.except(salted).count() === 0L)
    // a hot key's rows actually land in multiple salt shards
    val spread = li.withColumn("_salt",
      pmod(xxhash64(li.columns.map(col): _*), lit(8L)).cast("int"))
      .groupBy("l_partkey").agg(countDistinct("_salt").as("n_shards"))
      .agg(max("n_shards")).first().getLong(0)
    assert(spread > 1L)
  }

  test("hot-only salted join: identical to the plain join whether or not " +
    "detection fires; only detected keys' dim rows replicate") {
    import spark.implicits._
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_partkey", "l_quantity")
    // plant a hot key: every 3rd row rewritten to partkey 1
    val big = li.withColumn("l_partkey",
      when(pmod(col("l_orderkey"), lit(3)) === 0, lit(1L))
        .otherwise(col("l_partkey")))
    val part = Tables(spark, sfDir, "part").select("p_partkey", "p_name")
      .withColumnRenamed("p_partkey", "l_partkey")
    val plain = big.join(part, "l_partkey")
    // detection FIRES (the planted key is ~1/3 of the fact)
    val fired = SkewJoin.saltedJoinHot(big, part, "l_partkey",
      saltBuckets = 8, sampleFraction = 0.05, hotSampleMin = 8)
    assert(fired.count() === plain.count())
    assert(fired.except(plain).count() === 0L &&
      plain.except(fired).count() === 0L)
    // detection finds the planted key and ONLY its neighborhood: the
    // sampled-count bound caps the hot set far below the key space
    val hotKeys = big.select(col("l_partkey"))
      .sample(withReplacement = false, 0.05, seed = 42)
      .groupBy("l_partkey").count().where(col("count") >= 8)
    assert(hotKeys.count() >= 1L &&
      hotKeys.count() < 100L)
    // detection MISSES (threshold unreachable): still exact, pure cold path
    val missed = SkewJoin.saltedJoinHot(big, part, "l_partkey",
      saltBuckets = 8, sampleFraction = 0.05, hotSampleMin = 1000000)
    assert(missed.count() === plain.count())
    assert(missed.except(plain).count() === 0L)
  }

  test("salted join helper names dodge user columns CASE-INSENSITIVELY " +
    "(Spark resolves `_HOT` == `_hot` by default)") {
    import spark.implicits._
    val big = Seq((1L, "x"), (1L, "y"), (2L, "z"))
      .toDF("k", "_HOT") // differs from the generated `_hot` only by case
      .withColumn("_salt", lit(9)) // forces the numbered fallback...
      .withColumn("_Salt1", lit(0)) // ...whose first candidate also case-collides
    val dim = Seq((1L, "a"), (2L, "b")).toDF("k", "v")
    val joined = SkewJoin.saltedJoinHot(big, dim, "k",
      saltBuckets = 4, sampleFraction = 1.0, hotSampleMin = 2)
    assert(joined.count() === 3L)
    assert(joined.columns.map(_.toLowerCase).count(_ == "_hot") === 1,
      "user _HOT must survive; no case-colliding helper column may leak")
  }

  test("z-ordered layout bounds BOTH columns' per-file spans; single sort does not") {
    import spark.implicits._
    import graft.sources.Layouts
    val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
    val orders = graft.Tables(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_custkey"),
        datediff(col("o_orderdate"), lit("1992-01-01")).cast("int").as("day"))
    // per-file normalized span of a column under a layout
    def spans(path: String, c: String): Double = {
      val df = spark.read.parquet(path)
      val g = df.agg((max(col(c)) - min(col(c))).cast("double")).first().getDouble(0)
      val per = df.groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).cast("double").as("span"))
        .agg(avg("span")).first().getDouble(0)
      per / g
    }
    Layouts.writeZOrdered(orders, s"$tmp/z", "o_custkey", "day", numFiles = 16)
    orders.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions("o_custkey")
      .write.mode("overwrite").parquet(s"$tmp/single")
    val (zCust, zDay) = (spans(s"$tmp/z", "o_custkey"), spans(s"$tmp/z", "day"))
    val (sCust, sDay) =
      (spans(s"$tmp/single", "o_custkey"), spans(s"$tmp/single", "day"))
    info(f"z-order spans: custkey $zCust%.2f day $zDay%.2f | " +
      f"single-sort: custkey $sCust%.2f day $sDay%.2f")
    // single sort: primary tightly clustered, secondary spans ~everything
    assert(sCust <= 0.2 && sDay >= 0.8)
    // z-order: BOTH columns' per-file spans bounded well below full range
    assert(zCust <= 0.6 && zDay <= 0.6,
      s"z-order must bound both dimensions: custkey $zCust day $zDay")
    // and the layout loses no rows
    assert(spark.read.parquet(s"$tmp/z").count() === orders.count())
  }

  test("bucket-pruned point lookup reads 1 of N buckets") {
    import graft.sources.Sinks
    val orders = graft.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderstatus")
    val tbl = Sinks.bucketedTableFor(orders, "o_custkey", numBuckets = 16,
      key = s"spec-$sfDir")
    // the aggregate keyed on the bucket column keeps the bucketed scan
    // (a bare filter scan gets de-bucketed by autoBucketedScan) — this is
    // the registry query's shape
    val lookup = spark.table(tbl).where(col("o_custkey") === 371)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
    val plan = lookup.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 16"),
      s"point lookup must prune to one bucket:\n$plan")
    // and the memo returns the same table on a second call
    assert(Sinks.bucketedTableFor(orders, "o_custkey", 16,
      key = s"spec-$sfDir") === tbl)
  }

  test("compacted snapshot: file count drops, rows identical") {
    import graft.sources.Sinks
    val orders = graft.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey")
    val (path, before, after) =
      Sinks.compactedSnapshotFor(orders, key = s"spec-compact-$sfDir",
        fragments = 32)
    assert(before === 32)
    assert(after < before, s"compaction must shrink the file count " +
      s"($before -> $after)")
    assert(spark.read.parquet(path).count() === orders.count())
    // memo: second call returns the same build
    assert(Sinks.compactedSnapshotFor(orders, key = s"spec-compact-$sfDir",
      fragments = 32)._1 === path)
  }

  test("backup chain: as-of each instant returns that instant's state") {
    import spark.implicits._
    import graft.sources.Sinks
    val states = Seq(
      Seq((1L, "a")).toDF("k", "v"),
      Seq((1L, "a"), (2L, "b")).toDF("k", "v"),
      Seq((3L, "c")).toDF("k", "v"))
    val (target, backups, instants) =
      Sinks.backupChainFor(spark, states, key = "spec-chain")
    assert(instants.size === 3)
    states.zip(instants).foreach { case (want, at) =>
      val got = Sinks.readSnapshotAsOf(spark, target, backups, at)
        .as[(Long, String)].collect().toSet
      assert(got === want.as[(Long, String)].collect().toSet,
        s"as-of $at must return the state written just before it")
    }
  }

  test("bucketed tables: co-located join plans ZERO shuffle exchanges, results exact") {
    import graft.sources.Sinks
    val tmp = java.nio.file.Files.createTempDirectory("graft-bucketed").toString
    val orders = graft.Tables(spark, sfDir, "orders")
      .select("o_orderkey", "o_custkey", "o_totalprice")
    val lineitem = graft.Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .withColumnRenamed("l_orderkey", "o_orderkey")
    Sinks.writeBucketedTable(orders, "b_orders", "o_orderkey", 8,
      s"$tmp/orders")
    Sinks.writeBucketedTable(lineitem, "b_lineitem", "o_orderkey", 8,
      s"$tmp/lineitem")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the shuffle-join path so the pin proves BUCKETING (not a
      // broadcast) removed the exchanges
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join must not shuffle either side:\n$plan")
      // and the result is the plain join's result exactly
      val expect = orders.join(lineitem, "o_orderkey").count()
      assert(joined.count() === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("manifest skipping: footer stats prune files, results match the " +
    "plain filter, empty range is safe") {
    import spark.implicits._
    val li = Tables(spark, sfDir, "lineitem")
    val path = graft.sources.Layouts.sortedLayoutFor(
      li, "l_orderkey", key = s"$sfDir#spec_manifest", numFiles = 8)
    // the manifest lives AT REST as a parquet (f, lo, hi) index — the
    // driver holds a path string, not the per-file array (the bloom-index
    // residency contract, item: last O(all-files) driver residency)
    val idx = graft.sources.Layouts.minMaxIndexFor(spark, path, "l_orderkey")
    assert(spark.read.parquet(idx).count() === 8)
    assert(spark.read.parquet(idx).columns.sorted.toSeq === Seq("f", "hi", "lo"))
    val man = graft.sources.Layouts.manifestFor(spark, path, "l_orderkey")
    assert(man.length === 8, man.mkString(","))
    // the range-sorted layout gives nearly disjoint per-file ranges, so a
    // narrow key range must overlap STRICTLY fewer files than exist; the
    // probe is the distributed index scan returning ONLY survivors
    val (lo, hi) = (100L, 300L)
    val survivors = graft.sources.Layouts.manifestSurvivors(
      spark, path, "l_orderkey", lo, hi)
    val kept = survivors.length
    assert(kept >= 1 && kept < man.length,
      s"expected a proper subset of files, got $kept of ${man.length}")
    assert(survivors.toSet === man.filter { case (_, fLo, fHi) =>
      fHi >= lo && fLo <= hi }.map(_._1).toSet)
    // skipping can only drop provably-empty files: results identical
    val got = graft.sources.Layouts
      .manifestPrunedRead(spark, path, "l_orderkey", lo, hi)
      .groupBy("l_orderkey").count()
      .as[(Long, Long)].collect().toMap
    val expect = li.where(col("l_orderkey").between(lo, hi))
      .groupBy("l_orderkey").count()
      .as[(Long, Long)].collect().toMap
    assert(got === expect)
    assert(expect.nonEmpty)
    // a range outside the domain selects zero files and returns an empty
    // frame with the table's schema, not an error
    val empty = graft.sources.Layouts
      .manifestPrunedRead(spark, path, "l_orderkey", -100L, -1L)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq === spark.read.parquet(path).columns.toSeq)
  }

  test("bloom skipping: per-file blooms prune files min/max cannot, no " +
    "false negatives, absent key reads (almost) nothing") {
    import spark.implicits._
    val li = Tables(spark, sfDir, "lineitem")
    // sorted by SHIPDATE: every file's l_orderkey zone spans ~the whole
    // domain, so footer min/max is useless for an orderkey point lookup
    val path = graft.sources.Layouts.sortedLayoutFor(
      li, "l_shipdate", key = s"$sfDir#spec_bloom", numFiles = 8)
    val minMax = graft.sources.Layouts.manifestFor(spark, path, "l_orderkey")
    val key = 515L
    val mmKept = minMax.count { case (_, lo, hi) => lo <= key && key <= hi }
    assert(mmKept === minMax.length,
      s"premise: min/max should prune NOTHING here, kept $mmKept of ${minMax.length}")
    // the bloom index lives AT REST as a parquet (f, bf) table — the
    // driver residency that used to grow with file count is now a path
    // string; probes are a distributed scan returning ONLY survivors
    val idx = graft.sources.Layouts.bloomIndexFor(spark, path, "l_orderkey")
    assert(spark.read.parquet(idx).count() === 8)
    assert(spark.read.parquet(idx).columns.sorted.toSeq === Seq("bf", "f"))
    val kept = graft.sources.Layouts.bloomSurvivors(spark, path,
      "l_orderkey", key)
    assert(kept.length >= 1 && kept.length < 8,
      s"expected a proper subset of files, got ${kept.length} of 8")
    // no false negatives: the pruned read returns the exact row set
    val got = graft.sources.Layouts.bloomPrunedRead(spark, path,
        "l_orderkey", key)
      .select("l_linenumber").as[Long].collect().sorted.toSeq
    val expect = li.where(col("l_orderkey") === key)
      .select("l_linenumber").as[Long].collect().sorted.toSeq
    assert(got === expect)
    assert(expect.nonEmpty)
    // an absent key keeps only false-positive files (fpp = 1%: almost
    // always 0 of 8; bound loosely so the pin never flakes) and returns
    // an empty, correctly-shaped frame
    val absent = -42L
    assert(graft.sources.Layouts.bloomSurvivors(spark, path,
      "l_orderkey", absent).length <= 2)
    val empty = graft.sources.Layouts.bloomPrunedRead(spark, path,
      "l_orderkey", absent)
    assert(empty.isEmpty)
    assert(empty.columns.toSeq === spark.read.parquet(path).columns.toSeq)
  }

  test("partitioned layout: dim filter prunes fact partitions at runtime (DPP)") {
    import spark.implicits._
    val li = Tables(spark, sfDir, "lineitem")
    val supp = Tables(spark, sfDir, "supplier")
    val nation = Tables(spark, sfDir, "nation")
    val path = graft.sources.Layouts.partitionedLayoutFor(
      li.join(supp, col("l_suppkey") === col("s_suppkey"))
        .select(col("l_extendedprice"), col("s_nationkey")),
      "s_nationkey", key = s"$sfDir#spec_li_by_supp_nation")
    val dim = nation.where(col("n_regionkey") === 2)
    val got = spark.read.parquet(path)
      .join(dim, col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_lines"))
    // the fact scan must carry a runtime pruning predicate on the
    // partition column, not read all 25 nation directories
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"), plan.take(3000))
    val expect = li.join(supp, col("l_suppkey") === col("s_suppkey"))
      .join(nation.where(col("n_regionkey") === 2),
        col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_lines"))
      .as[(String, Long)].collect().toMap
    assert(got.as[(String, Long)].collect().toMap === expect)
    assert(expect.nonEmpty)
  }

  test("balanced layout: KLL cuts keep bucket sizes near 1/n even under " +
    "skew; a range scan reads a proper subset of directories; results " +
    "match the plain filter") {
    import spark.implicits._
    // heavily skewed synthetic values: 80% of rows in [0, 100), a long
    // tail to 100000 — fixed-width ranges would put 80% in one bucket
    val rows = (0 until 20000).map { i =>
      val v = if (i % 5 != 0) (i * 37 % 100).toLong
              else (100L + (i.toLong * 9973 % 99900))
      (i.toLong, v)
    }.toDF("id", "v")
    val nBuckets = 8
    val (path, cuts) = graft.sources.Layouts.balancedLayoutFor(
      rows, "v", key = "spec-balanced-skew", nBuckets = nBuckets)
    assert(cuts.length === nBuckets - 1 && cuts === cuts.sorted)
    // balance: every non-empty bucket within 3x of the ideal 1/n share
    val sizes = spark.read.parquet(path).groupBy("_bucket").count()
      .as[(Int, Long)].collect().toMap
    val ideal = 20000.0 / nBuckets
    sizes.values.foreach { n =>
      assert(n <= ideal * 3, s"bucket of $n vs ideal $ideal: $sizes")
    }
    assert(sizes.size >= nBuckets / 2, s"too few buckets used: $sizes")
    // pruning: a narrow range SELECTS a proper subset of partition dirs
    // at the scan (inputFiles ignores pushed filters — read the scan's
    // own selectedPartitions instead)
    val pruned = graft.sources.Layouts.balancedPrunedRead(
      spark, (path, cuts), "v", 0L, 50L)
    val nParts = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }.head
    assert(nParts < sizes.size,
      s"expected a proper subset, scan selected $nParts of ${sizes.size}")
    // semantics identical to the plain filter
    val got = pruned.select("id").as[Long].collect().sorted
    val expect = rows.where(col("v").between(0L, 50L))
      .select("id").as[Long].collect().sorted
    assert(got === expect && expect.nonEmpty)
  }
}
