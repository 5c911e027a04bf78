package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SimilaritySpec extends SparkSpec {

  private lazy val emb = graft.Tables(spark, sfDir, "embeddings").cache()

  test("brute-force kNN: k rows per query, ranks dense from 1, no self matches") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 5)
    val knn = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3).cache()
    assert(knn.count() === 5L * 3)
    val perQ = knn.groupBy("query_id")
      .agg(count(lit(1)).as("n"), min("rank").as("lo"), max("rank").as("hi"))
      .where($"n" =!= 3 || $"lo" =!= 1 || $"hi" =!= 3).count()
    assert(perQ === 0L)
    assert(knn.where($"query_id" === $"neighbor_id").count() === 0L)
  }

  test("bucketed kNN returns only same-bucket neighbors, ranked consistently with brute force") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 5)
    val brute = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 100)
      .withColumnRenamed("rank", "brute_rank")
    val bucketed = Similarity.knnBucketed(emb, q, "vec_id", "embedding", 3)
    // every bucketed neighbor appears in the brute ranking, and relative
    // order within a query is preserved (bucketing prunes, never reorders)
    val joined = bucketed.join(brute, Seq("query_id", "neighbor_id"))
    assert(joined.count() === bucketed.count())
    val inversions = joined.as[(Long, Long, Long, Long)] // q, n, rank, brute_rank
      .collect().groupBy(_._1).values.map { rows =>
        val sorted = rows.sortBy(_._3).map(_._4)
        sorted.zip(sorted.tail).count { case (a, b) => a > b }
      }.sum
    assert(inversions === 0)
  }

  test("bucketed ANN recall@3 vs brute-force ground truth is measured and bounded") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 50)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.knnBucketed(emb, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"recall@3 = $recall%.3f (multi-probe over 4 coordinate hyperplanes," +
      " 5/16 of corpus scanned; single-probe measured 0.14)")
    // pins the measured floor so a regression (or an accidental all-pairs
    // change) shows up; deterministic test data keeps the value stable
    assert(recall >= 0.3 && recall <= 1.0)
    assert(got.size <= truth.size) // never more than k per query
  }

  /** The trained integer codebook of the registry's IVF queries. */
  private lazy val trained = Embeddings.exactCentroids(emb, "vec_id",
    "embedding", dim = 64, k = 16, iters = 2)

  test("IVF kNN: shape invariants hold and recall@3 beats the sign-bucket LSH") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 50)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.knnIvf(emb, q, "vec_id", "embedding", 3,
      centroids = trained, nprobe = 4).cache()
    // shape: <= k dense-ranked rows per query, no self matches
    assert(ivf.where($"query_id" === $"neighbor_id").count() === 0L)
    val badRank = ivf.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("hi"))
      .where($"hi" =!= $"n" || $"n" > 3).count()
    assert(badRank === 0L)
    val got = ivf.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    val lsh = Similarity.knnBucketed(emb, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val lshRecall = lsh.intersect(truth).size.toDouble / truth.size
    info(f"IVF recall@3 = $recall%.3f (nlist=16, nprobe=4 -> ~1/4 of " +
      f"corpus; sign-bucket LSH $lshRecall%.3f)")
    // data-adaptive cells hold a higher floor than the 0.3 the fixed
    // hyperplane buckets are pinned to; deterministic (exact k-means)
    assert(recall > lshRecall)
    assert(recall >= 0.5 && recall <= 1.0)
  }

  test("fixed codebook: the IVF L2 cell and probe rules equal the " +
    "dot-product rules, and nlist must divide dims") {
    import spark.implicits._
    val cb = Similarity.fixedCodebook(nlist = 4, dims = 64)
    // every fixed centroid has the same |c|², so L2 argmin == dot argmax
    // with the same smallest-cell tie rule — on every corpus row
    val cells = emb.select(
      Similarity.cellOf($"embedding", cb).as("dot_cell"),
      Embeddings.l2ArgminCell(Similarity.quantizeMilli($"embedding"), cb)
        .as("l2_cell"))
    assert(cells.where($"dot_cell" =!= $"l2_cell").count() === 0L)
    assert(cells.select($"l2_cell").distinct().count() === 4L)
    intercept[IllegalArgumentException] {
      Similarity.fixedCodebook(nlist = 3, dims = 64)
    }
  }

  test("codebook training is order-independent: clustered corpus order trains the same codebook") {
    import spark.implicits._
    // A corpus sorted so its leading rows are ONE cluster (ordered by
    // label, the generator's cluster id): a first-rows initialization
    // would train the codebook on that shard alone. The exact k-means
    // seeds from the smallest ids, whatever the arrival order.
    val clustered = emb.orderBy($"label", $"vec_id")
    val shuffled = emb.orderBy(xxhash64($"vec_id"))
    val a = Embeddings.exactCentroids(clustered, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    val b = Embeddings.exactCentroids(shuffled, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    assert(a === b)
    assert(a === trained)
    // and recall through the full IVF path holds the pinned floor even
    // when the corpus arrives clustered
    val q = emb.where($"vec_id" < 50)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.knnIvf(clustered, q, "vec_id", "embedding", 3,
        centroids = a, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"clustered-order IVF recall@3 = $recall%.3f")
    assert(recall >= 0.5 && recall <= 1.0)
  }

  test("incremental IVF append: frozen codebook, no existing file touched, " +
      "equals a rebuild under the same codebook") {
    import spark.implicits._
    val base = emb.where($"vec_id" % 5 =!= 0)  // the built corpus
    val batch = emb.where($"vec_id" % 5 === 0) // the arriving batch
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-append").toString
    val grown = s"$dir/grown"; val rebuilt = s"$dir/rebuilt"
    Similarity.writeIvf(base, "vec_id", "embedding", grown,
      Embeddings.exactCentroids(base, "vec_id", "embedding",
        dim = 64, k = 16, iters = 2),
      extraCols = Seq("label"))

    def dataFiles(p: String): Map[String, (Long, Long)] = {
      val root = new java.io.File(s"$p/data")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath.stripPrefix(root.getAbsolutePath) ->
          ((f.length, f.lastModified))).toMap
    }
    val before = dataFiles(grown)
    Similarity.appendToIvf(batch, "vec_id", "embedding", grown)
    val after = dataFiles(grown)
    // append cost ∝ batch: every pre-existing partition file survives
    // with identical size+mtime — nothing was rewritten
    before.foreach { case (f, sig) =>
      assert(after.get(f).contains(sig), s"existing file rewritten: $f") }
    assert(after.size > before.size, "append added no files")
    // the appended rows carry the layout's extra column
    val grownRows = spark.read.parquet(s"$grown/data")
    assert(grownRows.count() === emb.count())
    assert(grownRows.where($"label".isNull).count() === 0L)

    // equivalence: the appended layout answers queries EXACTLY like a
    // full rebuild of the grown corpus under the same frozen codebook —
    // a re-train is the only event that may change results
    val codebook = Similarity.readIvfCodebook(spark, grown)
    Similarity.writeIvf(base.unionByName(batch), "vec_id", "embedding",
      rebuilt, codebook)
    val q = emb.where($"vec_id" < 30)
    def top(p: String) = Similarity
      .knnIvfPartitioned(spark, p, q, "vec_id", "embedding", 5, nprobe = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(top(grown) === top(rebuilt))

    // and recall over the grown corpus holds the IVF tier's pinned floor
    val truth = Similarity.knnBruteForce(base.unionByName(batch), q,
        "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = top(grown).map(t => (t._1, t._2))
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"grown-layout IVF recall@5 = $recall%.3f")
    assert(recall >= 0.5 && recall <= 1.0)
  }

  test("trained-exact IVF (r17 promotion): the at-rest layout's persisted " +
    "codebook IS the exact-arithmetic k-means', the partitioned query " +
    "answers identically to the in-memory form with pruned partitions, " +
    "and probe-all equals the integer brute force") {
    import spark.implicits._
    val cb = trained
    assert(cb.size === 16 && cb.forall(_.size === 64))
    // the per-dataset memo hands back the identical codebook (training
    // is deterministic, so memo-hit == fresh-train by construction)
    assert(Embeddings.exactCentroidsFor(emb, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2, key = "spec-ivf-exact") === cb)
    assert(Embeddings.exactCentroidsFor(emb, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2, key = "spec-ivf-exact") === cb)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-exact-spec").toString + "/layout"
    Similarity.writeIvf(emb, "vec_id", "embedding", dir, cb)
    // trained == exact-arith codebook: what the layout persisted is
    // bit-identical to a fresh training run (pure function of the data)
    assert(Similarity.readIvfCodebook(spark, dir) === cb)
    val q = emb.where($"vec_id" < 20)
    val inMem = Similarity.knnIvf(emb, q, "vec_id", "embedding",
      k = 5, centroids = cb, nprobe = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    val atRest = Similarity.knnIvfPartitioned(spark, dir, q,
      "vec_id", "embedding", k = 5, nprobe = 4)
    val plan = atRest.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"),
      s"probe cells must prune partitions:\n$plan")
    assert(atRest.as[(Long, Long, Long, Long)].collect().toSet === inMem)
    assert(inMem.nonEmpty)
    // probing EVERY cell is the exact integer-dot brute force (each
    // corpus vector lives in exactly one cell) — measure recall@5 of the
    // operating nprobe=4 against it and pin the floor
    val truth = Similarity.knnIvf(emb, q, "vec_id", "embedding",
      k = 5, centroids = cb, nprobe = 16)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = inMem.map(t => (t._1, t._2))
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"trained-exact IVF recall@5 at nprobe=4/16 = $recall%.3f")
    assert(recall >= 0.5 && recall <= 1.0)
  }

  test("ivfLayoutFor memoizes per (key, dim, nlist, iters): one key at " +
    "nlist 16 then 8 persists 16- and 8-cell codebooks, trained once") {
    val key = "spec-ivf-layout-memo"
    val p16 = Similarity.ivfLayoutFor(emb, "vec_id", "embedding", key,
      dim = 64, nlist = 16, iters = 2)
    val p8 = Similarity.ivfLayoutFor(emb, "vec_id", "embedding", key,
      dim = 64, nlist = 8, iters = 2)
    assert(p16 !== p8)
    assert(Similarity.readIvfCodebook(spark, p16).size === 16)
    assert(Similarity.readIvfCodebook(spark, p8).size === 8)
    // the layout's codebook is the memoized one the in-memory tier uses
    assert(Similarity.readIvfCodebook(spark, p16) ===
      Embeddings.exactCentroidsFor(emb, "vec_id", "embedding", dim = 64,
        k = 16, iters = 2, key = key))
    // a repeat call is a memo hit: same path, the layout is not rewritten
    val stamp = new java.io.File(s"$p16/centroids").lastModified
    assert(Similarity.ivfLayoutFor(emb, "vec_id", "embedding", key,
      dim = 64, nlist = 16, iters = 2) === p16)
    assert(new java.io.File(s"$p16/centroids").lastModified === stamp)
  }

  test("trained-exact IVF,SQ8: int8 cut + fp32 re-rank over exact-kmeans " +
    "cells recalls the brute-force top-k") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.knnIvfSq8(emb, q, "vec_id", "embedding",
      k = 5, centroids = trained, nprobe = 4, candidates = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"trained-exact IVF,SQ8 recall@5 = $recall%.3f")
    assert(recall >= 0.5 && recall <= 1.0)
    assert(got.size <= truth.size)
  }

  test("trained-exact PQ tiers: integer ADC over per-subspace exact " +
    "sub-books recalls the brute-force top-k; IVF composition only prunes") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val books = Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16, key = "spec-pq-exact")
    assert(books.size === 16 && books.forall(b =>
      b.size === 16 && b.forall(_.size === 4)))
    // memo-hit returns the identical books (training is deterministic)
    assert(Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16, key = "spec-pq-exact") === books)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.knnPqAdcExact(emb, q, "vec_id", "embedding",
      k = 5, books = books, dim = 64, candidates = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pqRecall = pq.intersect(truth).size.toDouble / truth.size
    info(f"trained-exact PQ/ADC recall@5 = $pqRecall%.3f")
    assert(pqRecall >= 0.5 && pqRecall <= 1.0)
    val coarse = Embeddings.exactCentroids(emb, "vec_id", "embedding",
      dim = 64, k = 16, iters = 2)
    val ivfPq = Similarity.knnIvfPqExact(emb, q, "vec_id", "embedding",
      k = 5, coarse = coarse, books = books, dim = 64, nprobe = 4,
      candidates = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfRecall = ivfPq.intersect(truth).size.toDouble / truth.size
    info(f"trained-exact IVF,PQ recall@5 = $ivfRecall%.3f")
    assert(ivfRecall >= 0.4 && ivfRecall <= 1.0)
  }

  test("IVF cell compaction: small files merge, results identical, " +
      "crash-safe at every protocol step") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ivf-compact").toString
    val p = s"$dir/layout"
    Similarity.writeIvf(emb.where($"vec_id" % 3 === 0),
      "vec_id", "embedding", p, trained)
    Similarity.appendToIvf(emb.where($"vec_id" % 3 === 1),
      "vec_id", "embedding", p)
    Similarity.appendToIvf(emb.where($"vec_id" % 3 === 2),
      "vec_id", "embedding", p)
    val queries = emb.where($"vec_id" < 30)
    def top() = Similarity
      .knnIvfPartitioned(spark, p, queries, "vec_id", "embedding", 5,
        nprobe = 4)
      .as[(Long, Long, Long, Long)].collect().toSet
    def parquetFiles(): Int = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles.toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$p/data"))
        .count(_.getName.endsWith(".parquet"))
    }
    val before = top()
    val filesBefore = parquetFiles()
    assert(filesBefore > 16, s"appends should fragment cells: $filesBefore")

    // crash after staging: the layout is untouched (stage-first order)
    intercept[RuntimeException] {
      Similarity.compactIvfCells(spark, p, maxFilesPerCell = 1,
        crashPoint = s => if (s == "staged") throw new RuntimeException("x"))
    }
    assert(top() === before)
    // crash between the two swap renames: one cell is momentarily
    // missing — the next call's recovery sweep restores its backup
    intercept[RuntimeException] {
      Similarity.compactIvfCells(spark, p, maxFilesPerCell = 1,
        crashPoint =
          s => if (s == "backed-up") throw new RuntimeException("x"))
    }
    val compacted = Similarity.compactIvfCells(spark, p, maxFilesPerCell = 1)
    assert(compacted.nonEmpty)
    assert(top() === before) // compaction is invisible to queries
    assert(parquetFiles() < filesBefore)
    // idempotent: everything is at the target now
    assert(Similarity.compactIvfCells(spark, p, maxFilesPerCell = 1).isEmpty)

    // vacuum: the compaction backups and the crashed runs' orphan staging
    // dirs are retained garbage — keepLast=1 keeps each cell's newest
    // backup (it IS the live data in the crash window) and drops the rest
    def dirsUnder(sub: String): Set[String] = {
      val d = new java.io.File(s"$p/$sub")
      if (!d.isDirectory) Set.empty
      else d.listFiles.filter(_.isDirectory).map(_.getName).toSet
    }
    assert(dirsUnder("staging").nonEmpty) // the two crash-injected runs
    val deleted = Similarity.vacuumIvfBackups(spark, p, keepLast = 1)
    assert(deleted.nonEmpty)
    assert(dirsUnder("staging").isEmpty)
    val remaining = dirsUnder("backups")
    // one newest backup per compacted cell survives
    assert(remaining.map(_.replaceAll("-\\d+$", "")).size === remaining.size)
    assert(top() === before) // vacuum can never touch live data
    intercept[IllegalArgumentException] {
      Similarity.vacuumIvfBackups(spark, p, keepLast = 0)
    }
  }

  test("excludeSelf=false keeps id-colliding neighbors across distinct datasets") {
    import spark.implicits._
    val corpus = emb.limit(10)
    val queries = emb.limit(10) // same ids, conceptually a different dataset
    val kept = Similarity.knnBruteForce(corpus, queries, "vec_id", "embedding",
      3, excludeSelf = false)
    // the identical vector (cos=1) must now rank first for each query
    val selfTop = kept.where($"rank" === 1 && $"query_id" === $"neighbor_id")
    assert(selfTop.count() === 10L)
  }

  test("int8 primitives: codes hit ±127, approx cosine tracks fp32 cosine") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{cosineSim, int8Codes, int8Cosine}
    val pairs = Seq(
      (Array(1.0f, 0.0f, 0.0f), Array(1.0f, 0.0f, 0.0f)),   // identical: 1
      (Array(1.0f, 0.0f, 0.0f), Array(0.0f, 1.0f, 0.0f)),   // orthogonal: 0
      (Array(1.0f, 0.0f, 0.0f), Array(-1.0f, 0.0f, 0.0f)),  // opposite: -1
      (Array(2.0f, 1.0f, 0.0f), Array(4.0f, 2.0f, 0.0f)),   // parallel, scaled
      (Array(0.0f, 0.0f, 0.0f), Array(1.0f, 2.0f, 3.0f)))   // zero vec: 0
      .toDF("a", "b")
    val got = pairs.select(
      int8Cosine(int8Codes($"a"), int8Codes($"b")).as("approx"),
      cosineSim($"a", $"b").as("exact"))
      .as[(Double, Double)].collect()
    assert(math.abs(got(0)._1 - 1.0) < 1e-9)
    assert(got(1)._1 === 0.0)
    assert(math.abs(got(2)._1 + 1.0) < 1e-9)
    // parallel vectors quantize to the same codes -> approx exactly 1
    assert(math.abs(got(3)._1 - 1.0) < 1e-9)
    assert(got(4)._1 === 0.0) // zero-norm guard, no NaN
    // and the non-degenerate approximations sit near their fp32 values
    got.take(4).foreach { case (a, e) => assert(math.abs(a - e) < 0.02) }
    // negative half-ticks round AWAY from zero, same contract as
    // emb_quantize_int8 and its DuckDB oracle: -1/2 * 127 = -63.5 -> -64
    val codes = Seq(Tuple1(Array(2.0f, -1.0f))).toDF("v")
      .select(graft.functions.GraftFunctions.int8Codes($"v"))
      .as[Array[Byte]].head()
    assert(codes.toSeq === Seq[Byte](127, -64))
  }

  test("IVF,SQ8 composed: recall@5 >= the IVF tier alone would allow, deterministic") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivfOnly = Similarity.knnIvf(emb, q, "vec_id", "embedding", 5,
        centroids = trained, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val run = () => Similarity
      .knnIvfSq8(emb, q, "vec_id", "embedding", 5, centroids = trained,
        nprobe = 4, candidates = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = run()
    val recall = got.intersect(truth).size.toDouble / truth.size
    val ivfRecall = ivfOnly.intersect(truth).size.toDouble / truth.size
    info(f"IVF,SQ8 recall@5 = $recall%.3f (IVF tier alone: $ivfRecall%.3f)")
    // the int8+rerank tier must not lose neighbors the IVF pruning kept:
    // recall is bounded by the probed cells, and 5x-k candidates recover
    // essentially everything inside them
    assert(recall >= ivfRecall - 0.05)
    assert(recall >= 0.4 && recall <= 1.0)
    assert(got === run()) // deterministic
  }

  test("SQ8 rerank kNN: recall@5 vs brute force is near-exact, deterministic") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val run = () => Similarity
      .knnInt8Rerank(emb, q, "vec_id", "embedding", 5, candidates = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = run()
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"SQ8 rerank recall@5 = $recall%.3f (candidates=5x k, int8 scan + fp32 re-rank)")
    // int8 quantization barely perturbs cosine order; 5x candidates must
    // recover nearly all true neighbors — far above any bucketing scheme
    assert(recall >= 0.9 && recall <= 1.0)
    assert(got === run()) // deterministic
  }

  test("PQ/ADC kNN: shape invariants, recall@5 vs brute force, deterministic") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val books = Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16, key = "spec-pq-exact")
    val run = () => Similarity.knnPqAdcExact(emb, q, "vec_id", "embedding",
      5, books = books, dim = 64, candidates = 50)
    val pq = run().cache()
    assert(pq.where($"query_id" === $"neighbor_id").count() === 0L)
    val badRank = pq.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("hi"))
      .where($"hi" =!= $"n" || $"n" > 5).count()
    assert(badRank === 0L)
    val got = pq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"PQ/ADC recall@5 = $recall%.3f (m=16 subspaces x 16 centroids," +
      " 16-code vectors, 10x-k candidate re-rank)")
    // a 10x candidate cut re-ranked in fp32 must recover most true
    // neighbors; deterministic exact training
    assert(recall >= 0.7 && recall <= 1.0)
    assert(got === run().select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet) // deterministic
  }

  test("IVF,PQ composed: shape invariants and recall floor, deterministic") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val truth = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val books = Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
      dim = 64, m = 16, ksub = 16, key = "spec-pq-exact")
    val run = () => Similarity.knnIvfPqExact(emb, q, "vec_id", "embedding",
      5, coarse = trained, books = books, dim = 64, nprobe = 4,
      candidates = 25)
    val ivfPq = run().cache()
    assert(ivfPq.where($"query_id" === $"neighbor_id").count() === 0L)
    val badRank = ivfPq.groupBy("query_id")
      .agg(count(lit(1)).as("n"), max("rank").as("hi"))
      .where($"hi" =!= $"n" || $"n" > 5).count()
    assert(badRank === 0L)
    val got = ivfPq.select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    val recall = got.intersect(truth).size.toDouble / truth.size
    info(f"IVF,PQ recall@5 = $recall%.3f (nprobe/nlist = 1/4 of cells x" +
      " 16-code vectors x fp32 re-rank)")
    // bounded below by what the IVF cell pruning admits
    assert(recall >= 0.5 && recall <= 1.0)
    assert(got === run().select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet) // deterministic
  }

  test("PQ codes: codegen'd loop == struct-greatest reference, bounded, spread") {
    import spark.implicits._
    val books = Similarity.exactPqBooksFor(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16, key = "spec-pq-codes")
    assert(books.length === 8)
    assert(books.forall(_.length === 16))
    val iq = Similarity.quantizeMilli($"embedding")
    val coded = emb
      .select(
        Similarity.pqCodesLong(iq, books, dsub = 8).as("fast") +:
          (0 until 8).map(j =>
            Embeddings.l2ArgminCell(slice(iq, j * 8 + 1, 8), books(j))
              .as(s"c$j")): _*)
      .cache()
    // the one-loop expression and the per-subspace struct-least L2
    // argmin (the exact k-means' own assignment rule) agree code-for-code
    val mismatch = coded.where(
      (0 until 8).map(j => element_at($"fast", j + 1) =!= col(s"c$j"))
        .reduce(_ || _)).count()
    assert(mismatch === 0L)
    val bad = coded.where(
      (0 until 8).map(j => col(s"c$j") < 0 || col(s"c$j") >= 16)
        .reduce(_ || _)).count()
    assert(bad === 0L)
    // a degenerate codebook would map everything to one code per subspace
    val spread = coded.select(countDistinct($"c0")).as[Long].head()
    assert(spread >= 4L, s"subspace 0 uses only $spread of 16 codes")
  }

  test("filtered ANN at rest: equals the in-memory search over the " +
    "pre-filtered corpus, every neighbor satisfies the predicate, and " +
    "the label predicate is PUSHED into the pruned parquet scan") {
    import spark.implicits._
    val cb = Similarity.fixedCodebook(nlist = 4, dims = 64)
    val path = graft.TmpArtifacts.path("graft-ivf-filtered-spec", sfDir)
    Similarity.writeIvf(emb, "vec_id", "embedding", path, cb,
      extraCols = Seq("label"))
    val q = emb.where($"vec_id" < 20)
    val got = Similarity.knnIvfPartitioned(spark, path, q,
      "vec_id", "embedding", k = 5, nprobe = 2,
      preFilter = Some($"label" <= 4)).cache()
    // semantics: identical to the in-memory tier over the label-filtered
    // corpus (probes stay unfiltered on both sides)
    val twin = Similarity.knnIvf(emb.where($"label" <= 4), q,
      "vec_id", "embedding", k = 5, centroids = cb, nprobe = 2)
    assert(got.collect().toSet === twin.collect().toSet)
    // no neighbor escapes the predicate
    val labels = emb.select($"vec_id".as("neighbor_id"), $"label")
    assert(got.join(labels, "neighbor_id").where($"label" > 4).count() === 0L)
    // the predicate reaches the reader: pushed filter + partition prune
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      plan.contains("LessThanOrEqual(label,4)"), plan.take(2000))
    assert(plan.contains("cell"), plan.take(2000))
  }

  test("negative samples: k per anchor, never self, DISJOINT from the " +
    "top-m exclusion zone, deterministic across runs, salt-sensitive") {
    import spark.implicits._
    val q = emb.where($"vec_id" < 20)
    val neg = Similarity.negativeSamples(emb, q, "vec_id", "embedding",
      k = 5, excludeTopM = 10).cache()
    assert(neg.count() === 20L * 5)
    assert(neg.where($"query_id" === $"negative_id").count() === 0L)
    val near = Similarity.knnBruteForce(emb, q, "vec_id", "embedding", 10)
      .select($"query_id", $"neighbor_id".as("negative_id"))
    assert(neg.join(near, Seq("query_id", "negative_id")).count() === 0L,
      "a sampled negative sat inside the exclusion zone")
    // pinned draw: identical across executions
    val again = Similarity.negativeSamples(emb, q, "vec_id", "embedding",
      k = 5, excludeTopM = 10)
    assert(neg.collect().toSet === again.collect().toSet)
    // a different salt draws a (generally) different set — the draw
    // really is keyed on the salt, not incidental ordering
    val other = Similarity.negativeSamples(emb, q, "vec_id", "embedding",
      k = 5, excludeTopM = 10, salt = "neg2")
    assert(other.collect().toSet !== neg.collect().toSet)
  }

  test("matryoshka recall: full-width truncation is a perfect 5, a " +
    "planted prefix-heavy corpus keeps overlap, counts bounded 0..k") {
    import spark.implicits._
    val got = Similarity.matryoshkaRecall(emb, emb.where($"vec_id" < 20),
      "vec_id", "embedding", k = 5, dims = 32).cache()
    assert(got.count() === 20L)
    assert(got.where($"overlap_at_5" < 0 || $"overlap_at_5" > 5)
      .count() === 0L)
    // dims = full width: the two rankings are identical, overlap == k
    val full = Similarity.matryoshkaRecall(emb, emb.where($"vec_id" < 3),
      "vec_id", "embedding", k = 5, dims = 64)
    assert(full.select(min($"overlap_at_5")).as[Long].head() === 5L)
  }

  test("knnRadius: exact threshold membership — in-ball pairs found, " +
    "out-of-ball and zero vectors never, identical vectors always") {
    import spark.implicits._
    // hand-built 2-d vectors with clear margins around cos = 0.9:
    // v2 ~ cos 0.950 to v1 (in), v3 ~ cos 0.70 to v1 / 0.888 to v2
    // (out), v4 zero (never matches anything, incl. itself), v5 == v1
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.95f, 0.312f)),
      (3L, Array(0.7f, 0.714f)),
      (4L, Array(0.0f, 0.0f)),
      (5L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.knnRadius(emb, emb, "vec_id", "embedding",
      simSqPpm = 810000L)
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L), (2L, 1L), (1L, 5L), (5L, 1L), (2L, 5L), (5L, 2L)))
    // threshold monotonicity: a looser ball is a superset
    val loose = Similarity.knnRadius(emb, emb, "vec_id", "embedding",
      simSqPpm = 360000L) // cos >= 0.6
      .select("query_id", "neighbor_id")
      .as[(Long, Long)].collect().toSet
    assert(got.subsetOf(loose))
    assert(loose.contains((1L, 3L)) && loose.contains((2L, 3L)))
    assert(!loose.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("knnRadiusPartitioned: pruned result is contained in the " +
    "full-scan radius result, and probe-2 finds the fixture's neighbors") {
    import spark.implicits._
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val queries = emb.where($"vec_id" < 20)
    val full = Similarity.knnRadius(emb, queries, "vec_id", "embedding",
      simSqPpm = 160000L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val cb = Similarity.fixedCodebook(nlist = 4, dims = 64)
    val path = java.nio.file.Files
      .createTempDirectory("radius-ivf").toString
    Similarity.writeIvf(emb, "vec_id", "embedding", path, cb)
    val pruned = Similarity.knnRadiusPartitioned(spark, path,
      queries, "vec_id", "embedding", nprobe = 2,
      simSqPpm = 160000L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pruned.subsetOf(full),
      s"pruned must never invent pairs: ${(pruned -- full).take(3)}")
    assert(pruned.nonEmpty, "fixture corpus has in-ball neighbors")
    // the at-rest scan must actually prune: PartitionFilters carries the
    // probe-cell predicate (same pin as the IVF top-k layouts)
    val plan = Similarity.knnRadiusPartitioned(spark, path,
      queries, "vec_id", "embedding", nprobe = 2,
      simSqPpm = 160000L).queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [cell"), plan)
    // probing ALL cells removes the prune: equality with the full scan
    val all = Similarity.knnRadiusPartitioned(spark, path,
      queries, "vec_id", "embedding", nprobe = 4,
      simSqPpm = 160000L)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(all === full)
  }

  test("ivfRecallEval: probe-all arm is exact (recall 1e6 when nprobe = " +
    "nlist); found <= exact; ppm law holds") {
    import spark.implicits._
    val rnd = new scala.util.Random(5)
    val emb = (0L until 60L).map(i =>
      (i, Array.fill(64)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val cents = Similarity.fixedCodebook(nlist = 4, dims = 64)
    val full = Similarity.ivfRecallEval(emb, emb.where($"vec_id" < 8),
      "vec_id", "embedding", k = 5, cents, nprobe = 4)
      .as[(Long, Long, Long, Long)].collect()
    assert(full.length === 8)
    full.foreach { case (_, ne, nf, ppm) =>
      assert(ne === 5L && nf === 5L && ppm === 1000000L) }
    val two = Similarity.ivfRecallEval(emb, emb.where($"vec_id" < 8),
      "vec_id", "embedding", k = 5, cents, nprobe = 2)
      .as[(Long, Long, Long, Long)].collect()
    two.foreach { case (_, ne, nf, ppm) =>
      assert(nf <= ne)
      assert(ppm === nf * 1000000L / ne) }
  }
}
