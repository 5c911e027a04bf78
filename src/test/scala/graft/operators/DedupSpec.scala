package graft.operators

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** Pins the dedup family against each other: blocked variants must agree
  * with (or be bounded by) the exact variants on the planted near-dups in
  * the driver's documents table. */
class DedupSpec extends SparkSpec {

  private lazy val docs = graft.Tables(spark, sfDir, "documents").cache()

  private def pairSet(df: DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact groups: duplicated prefixes found, keeper is min id") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val prefixed = docs.select($"doc_id", substring($"text", 1, 40).as("text"))
    val groups = Dedup.exactGroups(prefixed, "doc_id", "text")
    assert(groups.count() > 0)
    assert(groups.where($"n_dups" < 2).count() === 0L)
    assert(groups.where($"keeper_id".isNull).count() === 0L)
  }

  test("minhash LSH pairs == exact ngram-jaccard pairs at j>=0.8 (high-sim regime)") {
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.8))
    val lsh = pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text", 2, 32, 8, 0.8))
    assert(exact.nonEmpty) // the driver plants near-duplicates
    // LSH confirms candidates with exact jaccard -> precision 1
    assert(lsh.subsetOf(exact))
    // banding (r=4, b=8) at j>=0.8: collision prob >= 1-(1-0.8^4)^8 ~ 0.985;
    // on these planted ~0.99 dups recall should be total
    assert(lsh === exact)
  }

  test("1k-identical-doc cluster: collapsed before banding, pairs still complete") {
    import spark.implicits._
    val cluster = (0L until 1000L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta"))
    val nearDup = (5000L, "alpha beta gamma delta epsilon eta") // j = 4/6
    val far = (6000L, "totally different words here entirely")
    val df = (cluster :+ nearDup :+ far).toDF("doc_id", "text")
    val pairs = Dedup.minhashLshPairs(df, "doc_id", "text", 2, 32, 16,
      minJaccard = 0.5).cache()
    // all C(1000,2) intra-cluster pairs + the near-dup against every member
    // (banding at j=0.667, r=2,b=16: collision prob 1-(1-0.44)^16 ~ 0.9999,
    // deterministic given the fixed hash seeds); the far doc pairs with
    // nothing
    val n = pairs.count()
    assert(n === 499500L + 1000L, s"got $n pairs")
    // intra pairs carry intersection = set size (5 bigram shingles)
    assert(pairs.where($"id_a" === 0L && $"id_b" === 1L)
      .select("intersection").as[Int].head() === 5)
    // no pair touches the far doc
    assert(pairs.where($"id_a" === 6000L || $"id_b" === 6000L).count() === 0L)
  }

  test("maxBucket cap drops oversized blocks (cross pairs) but never intra-group pairs") {
    import spark.implicits._
    val cluster = (0L until 100L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta"))
    val nearDup = (5000L, "alpha beta gamma delta epsilon eta")
    val df = (cluster :+ nearDup).toDF("doc_id", "text")
    // maxBucket=1 kills every band bucket (pairs need >=2 members), so the
    // near-dup drops; the exact cluster's pairs come from the collapse path
    val capped = Dedup.minhashLshPairs(df, "doc_id", "text", 2, 32, 8,
      minJaccard = 0.5, maxBucket = 1)
    assert(capped.count() === 100L * 99L / 2)
    assert(capped.where($"id_a" === 5000L || $"id_b" === 5000L).count() === 0L)
    // simhash: same contract
    val cappedSim = Dedup.simhashPairs(df, "doc_id", "text", maxHamming = 3,
      maxBucket = 1)
    assert(cappedSim.count() === 100L * 99L / 2)
    assert(cappedSim.where($"hamming" =!= 0).count() === 0L)
  }

  test("shingleGroupsFor keys its memo by hash family: one dataset key " +
    "never hands one family's collapse to the other") {
    import spark.implicits._
    import org.apache.spark.sql.graft.HashFamily
    def sets(df: DataFrame) = df.select($"key").as[Seq[Long]].collect().toSet
    val key = "family-memo-spec"
    val xxh = Dedup.shingleGroupsFor(docs, "doc_id", "text", 2, key)
    val md5 = Dedup.shingleGroupsFor(docs, "doc_id", "text", 2, key, HashFamily.Md5)
    assert(sets(md5) === sets(Dedup.shingleGroups(docs, "doc_id", "text", 2,
      HashFamily.Md5)))
    assert(sets(xxh) === sets(Dedup.shingleGroups(docs, "doc_id", "text", 2)))
    assert(sets(xxh) !== sets(md5))
    // a second request per family is the memo's hit, not the other family
    assert(Dedup.shingleGroupsFor(docs, "doc_id", "text", 2, key) eq xxh)
    assert(Dedup.shingleGroupsFor(docs, "doc_id", "text", 2, key,
      HashFamily.Md5) eq md5)
  }

  test("two-step API: pairs from a parquet-persisted groups table match the one-call path") {
    val oneCall = pairSet(Dedup.minhashLshPairs(docs, "doc_id", "text", 2, 32, 8, 0.8))
    val path = java.nio.file.Files.createTempDirectory("groups").toString + "/g"
    Dedup.shingleGroups(docs, "doc_id", "text", 2)
      .write.parquet(path) // the corpus-scale materialization point
    val twoStep = pairSet(Dedup.minhashLshPairsFromGroups(
      spark.read.parquet(path), 32, 8, 0.8))
    assert(twoStep === oneCall)
    assert(twoStep.nonEmpty)
    // the SAME persisted table serves the exact ngram-Jaccard family too
    val jacOneCall = pairSet(
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.8))
    val jacTwoStep = pairSet(Dedup.ngramJaccardPairsFromGroups(
      spark.read.parquet(path), 0.8))
    assert(jacTwoStep === jacOneCall)
    assert(jacTwoStep.nonEmpty)
  }

  test("simhash: identical docs collide at hamming 0; pairs are within threshold") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
    assert(pairs.where($"hamming" > 3).count() === 0L)
    // self-check: duplicate the corpus with shifted ids; each doc must pair
    // with its clone at hamming 0
    val shifted = docs.select(($"doc_id" + 10000).as("doc_id"), $"text")
    val both = docs.select("doc_id", "text").unionByName(shifted)
    val clonePairs = Dedup.simhashPairs(both, "doc_id", "text", maxHamming = 0)
    val found = pairSet(clonePairs.select($"id_a", $"id_b"))
    val expected = docs.select("doc_id").as[Long].collect()
      .map(id => (id, id + 10000)).toSet
    assert(expected.subsetOf(found))
  }

  test("simhash: pigeonhole blocking == brute force (the dedup_simhash " +
    "oracle's brute pair relation is the engine's answer)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val blocked = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 3)
      .select($"id_a", $"id_b", $"hamming".cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val fps = Dedup.simhash(docs, "doc_id", "text")
    val brute = fps.as("a").join(fps.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast("long").as("hamming"))
      .where(col("hamming") <= 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(blocked === brute)
    assert(brute.nonEmpty) // non-trivial: the corpus has near-dup pairs
  }

  test("simhash blocking survives the width-64 edge (maxHamming=0 mask)") {
    import org.apache.spark.sql.functions._
    // regression for (1L << 64) - 1 == 0: with maxHamming=0 all keys were 0
    // -> quadratic join; now the mask is -1L and only true duplicates pair
    val tiny = docs.limit(50)
    val pairs = Dedup.simhashPairs(tiny, "doc_id", "text", maxHamming = 0)
    assert(pairs.where(col("hamming") =!= 0).count() === 0L)
  }

  test("embedding pairs: bucketed results are a subset of exact, above threshold") {
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val exact = pairSet(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3,
      exact = true))
    val blocked = pairSet(Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3))
    assert(blocked.subsetOf(exact))
    assert(blocked.nonEmpty)
  }

  test("embedding pairs: exact-collapse reconstructs the full pair set under planted clones") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // The sf corpora carry ZERO byte-identical embeddings, so the k²
    // exact-collapse added in round 11 ran only on singleton groups in
    // every other test — a broken cross/intra member expansion would
    // ship invisibly (round-11 ADVICE). Plant clones and derive the
    // expected output ANALYTICALLY from the un-cloned run: for every
    // base pair (a,b) all four {a,a'}×{b,b'} combinations are real
    // pairs, every nonzero vector pairs with its own clone (self-cosine
    // ≈ 1), and a zero vector must NOT pair with its byte-identical
    // clone (0/0 cosine is NaN, never ≥ threshold).
    val off = 100000L
    val emb = graft.Tables(spark, sfDir, "embeddings")
      .select(col("vec_id").cast("long").as("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).as[Int].head()
    val zeros = Seq((900001L, Array.fill(dim)(0.0f)),
      (900002L, Array.fill(dim)(0.0f))).toDF("vec_id", "embedding")
    val clones = emb.select((col("vec_id") + off).as("vec_id"),
      col("embedding"))
    val both = emb.unionByName(clones).unionByName(zeros)

    def expand(pairs: Set[(Long, Long)]): Set[(Long, Long)] =
      pairs.flatMap { case (a, b) =>
        Seq(a, a + off).flatMap(x => Seq(b, b + off).map(y =>
          (math.min(x, y), math.max(x, y)))) }
    val selfPairs = emb
      .where(exists(col("embedding"), (e: org.apache.spark.sql.Column) =>
        e =!= 0.0f))
      .select("vec_id").as[Long].collect()
      .map(id => (id, id + off)).toSet
    assert(selfPairs.nonEmpty)

    val baseExact = pairSet(
      Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3, exact = true))
    val cloneExact = pairSet(
      Dedup.embeddingPairs(both, "vec_id", "embedding", 0.3, exact = true))
    assert(cloneExact === (expand(baseExact) ++ selfPairs))
    assert(!cloneExact.contains((900001L, 900002L)))
    // blocked path: group reps carry the ORIGINAL ids (min of group), so
    // the candidate join equals the un-cloned one and the same expansion
    // law must hold — this is the path the 10x blowup measures
    val baseBlocked = pairSet(
      Dedup.embeddingPairs(emb, "vec_id", "embedding", 0.3))
    val cloneBlocked = pairSet(
      Dedup.embeddingPairs(both, "vec_id", "embedding", 0.3))
    assert(cloneBlocked === (expand(baseBlocked) ++ selfPairs))
  }

  test("connected components: chains merge transitively, labels are component minima") {
    import spark.implicits._
    // components: {1,2,3,4} (a chain), {10,11}, and 20-21-22 via a hub
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (20L, 22L)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("connected components converge on a long chain (exercises lineage truncation)") {
    import spark.implicits._
    // a 30-node path graph: diameter 29 -> needs many propagation rounds,
    // each one a pinned round whose lineage the next round starts from
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 40)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 30)
    assert(got.values.toSet === Set(1L)) // one component, min-labeled
  }

  test("connected components below the chain's diameter fail loudly " +
    "instead of returning over-segmented labels") {
    import spark.implicits._
    val chain = (1L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponents(chain, "id_a", "id_b", maxIter = 10)
        .collect()
    }
    assert(e.getMessage.contains("connected components"))
    assert(e.getMessage.contains("10 rounds"))
    assert(e.getMessage.contains("labels_lowered"))
  }

  test("connected components agree with per-pair transitive closure on the real corpus") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
      k = 2, minJaccard = 0.8).cache()
    val clusters = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every paired doc got a label; both ends of every pair share one;
    // every label is the minimum of its own cluster
    val ends = pairSet(pairs)
    assert(ends.forall { case (a, b) => clusters(a) == clusters(b) })
    val byCluster = clusters.groupBy(_._2).view.mapValues(_.keys.min)
    assert(byCluster.forall { case (label, minDoc) => label == minDoc })
  }

  test("incremental verdict: new docs judged against the reference only") {
    import spark.implicits._
    val ref = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val nw = Seq(
      (10L, "alpha beta gamma delta epsilon"), // exact dup of ref 1
      (11L, "alpha beta gamma delta epsilon zeta"), // near-dup: j = 4/5
      (12L, "totally unrelated fresh content here"), // kept
      // near-dups of EACH OTHER but of no ref doc: both kept (the pass
      // must never compare new against new)
      (13L, "red orange yellow green blue violet"),
      (14L, "red orange yellow green blue violet indigo"),
      (15L, "short")).toDF("doc_id", "text") // too short to shingle: kept
    val got = Dedup
      .incrementalVerdict(nw, ref, "doc_id", "text", k = 2, minJaccard = 0.8)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got === Map(
      10L -> ((1L, 1L)), 11L -> ((1L, 1L)), 12L -> ((0L, 0L)),
      13L -> ((0L, 0L)), 14L -> ((0L, 0L)), 15L -> ((0L, 0L))))
    // the pair relation itself is cross-side only
    val pairs = Dedup
      .crossCorpusPairs(nw, ref, "doc_id", "text", k = 2, minJaccard = 0.8)
      .select("new_id", "ref_id").as[(Long, Long)].collect().toSet
    assert(pairs === Set((10L, 1L), (11L, 1L)))
  }

  test("sorted neighborhood: window-adjacent near-dups found, far-apart missed") {
    import spark.implicits._
    // prefix-sharing near-dups sort adjacent -> caught; the zz/aa pair is
    // jaccard-identical but sorts far apart with >window docs between ->
    // missed BY DESIGN (the blocking contract SNM trades recall on)
    val sep = (1 to 9).map(i => (100L + i, s"filler${('b' + i).toChar} unique content block number $i"))
    // docs 1/2: 11 tokens differing only in the last -> 9 of 10 bigrams
    // shared, j = 9/11 = 0.82; docs 3/4: 12 tokens differing only in the
    // FIRST (= the sort key), j = 10/12 = 0.83 — similar enough, but the
    // key difference scatters them across the sort order
    val df = (Seq(
      (1L, "apple banana cherry date elderberry fig grape honeydew kiwi lemon mango"),
      (2L, "apple banana cherry date elderberry fig grape honeydew kiwi lemon melon"),
      (3L, "zz mango nectarine orange papaya quince rambutan soursop tamarind ugli vanilla watermelon"),
      (4L, "aa mango nectarine orange papaya quince rambutan soursop tamarind ugli vanilla watermelon"))
      ++ sep).toDF("doc_id", "text")
    val got = Dedup.sortedNeighborhoodPairs(df, "doc_id", "text",
      keyLen = 12, window = 2, k = 2, minJaccard = 0.8)
    val pairs = pairSet(got)
    assert(pairs.contains((1L, 2L))) // adjacent in sort order
    assert(!pairs.contains((3L, 4L))) // separated by > window positions
    // sizes/intersection carry the exact set math, ordered by id
    val r = got.where($"id_a" === 1L && $"id_b" === 2L)
      .select("intersection", "size_a", "size_b")
      .as[(Long, Long, Long)].collect().head
    assert(r === ((9L, 10L, 10L))) // 10 bigrams each, 9 shared
  }

  test("sorted neighborhood with a wide window agrees with exact jaccard pairs") {
    // window >= n-1 compares every pair => SNM == the exact pair relation
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta"),
      (3L, "one two three four five"),
      (4L, "one two three four five six"),
      (5L, "completely different text entirely")).toDF("doc_id", "text")
    val snm = pairSet(Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
      keyLen = 12, window = 4, k = 2, minJaccard = 0.7))
    val exact = pairSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.7))
    assert(snm === exact)
    assert(snm.nonEmpty)
  }

  test("editDistancePairs: deletion-neighborhood blocking equals brute force at d<=1") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, levenshtein}
    val names = Seq(
      (1L, "kitten"), (2L, "sitten"), // substitution, d=1
      (3L, "kittn"),                  // deletion, d=1 from kitten
      (4L, "kitten"),                 // identical under a new id, d=0
      (5L, "sittin"),                 // d=1 from sitten, d=2 from kitten
      (6L, "zebra"))                  // unrelated
      .toDF("doc_id", "name").repartition(4)
    val got = Dedup.editDistancePairs(names, "doc_id", "name")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set(
      (1L, 2L, 1L), (1L, 3L, 1L), (1L, 4L, 0L),
      (2L, 4L, 1L), (3L, 4L, 1L), (2L, 5L, 1L)))
    // the blocking is LOSSLESS at distance 1: equals the quadratic verify
    val brute = names.as("a").join(names.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id"),
        levenshtein(col("a.name"), col("b.name")).cast("long").as("d"))
      .where(col("d") <= 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got === brute)
  }

  test("md5 signature twins match a local recompute of the same formulas") {
    import spark.implicits._
    import org.apache.spark.sql.graft.{HashFamily, MinHashSignature}
    import graft.functions.GraftFunctions.shingleHashes
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val docs = Seq((1L, "alpha beta gamma"), (2L, "Alpha  Beta GAMMA"),
      (3L, "delta epsilon zeta eta"), (4L, ""), (5L, "solo"))
      .toDF("doc_id", "text").repartition(3)
    // shingle hashes: the 16-hex md5 prefix of each space-joined shingle
    val sh = docs.select($"doc_id", shingleHashes($"text", 2, HashFamily.Md5))
      .as[(Long, Seq[Long])].collect().toMap
    def prefix64(s: String) = java.lang.Long.parseUnsignedLong(md5hex(s).take(16), 16)
    assert(sh(1L) === Seq("alpha beta", "beta gamma").map(prefix64))
    assert(sh(5L).isEmpty) // < k tokens
    // simhash: 60-bit md5 prefix per token, signed votes, sign packing
    def simhashLocal(toks: Seq[String]): Long = {
      val hs = toks.map(t => java.lang.Long.parseLong(md5hex(t).take(15), 16))
      (0 until 60).map { i =>
        val v = hs.map(h => if (((h >> i) & 1L) == 1L) 1 else -1).sum
        if (v > 0) 1L << i else 0L
      }.sum
    }
    val sim = Dedup.simhash(docs, "doc_id", "text", HashFamily.Md5)
      .as[(Long, Long)].collect().toMap
    assert(sim(1L) === simhashLocal(Seq("alpha", "beta", "gamma")))
    assert(sim(1L) === sim(2L)) // normalization: lower + whitespace split
    assert(sim(3L) === simhashLocal(Seq("delta", "epsilon", "zeta", "eta")))
    assert(sim(5L) === simhashLocal(Seq("solo")))
    assert(!sim.contains(4L)) // no tokens -> absent
    // minhash: 28-bit md5 prefix per distinct 2-shingle, (a·x+b) mod p mins
    val consts = MinHashSignature.md5Consts(32)
    def minhashLocal(shingles: Seq[String]): Seq[Long] = {
      val hs = shingles.map(s => java.lang.Long.parseLong(md5hex(s).take(7), 16))
      consts.map { case (a, b) => hs.map(x => (x * a + b) % 2147483647L).min }
    }
    val mh = Dedup.minhashSignatures(docs, "doc_id", "text",
      family = HashFamily.Md5).collect().map(r => r.getLong(0) -> r).toMap
    assert((1 to 32).map(mh(1L).getLong) ===
      minhashLocal(Seq("alpha beta", "beta gamma")))
    assert((1 to 32).map(mh(3L).getLong) ===
      minhashLocal(Seq("delta epsilon", "epsilon zeta", "zeta eta")))
    assert(!mh.contains(5L)) // < k tokens -> absent
  }

  test("semantic dedup: laws on planted vectors — min-id survives, " +
      "anti-similar never flagged, threshold monotone, zero vec immune") {
    import spark.implicits._
    // 2-dim toy space, codebook = the two axes: cell 0 = x-dominant,
    // cell 1 = y-dominant. ids ordered so survivorship is checkable.
    val cb = Seq(Seq(100L, 0L), Seq(0L, 100L))
    val rows = Seq(
      (1L, Array(1.0f, 0.1f)),    // cell 0 anchor (smallest id -> survives)
      (2L, Array(0.99f, 0.11f)),  // ~parallel to 1 -> dup_of 1
      (3L, Array(2.0f, 0.2f)),    // scaled copy of 1 -> dup_of 1 (cosine!)
      // ANTI-similar to everything in cell 0 (negative-dot argmax puts
      // all-negative vectors in the least-negative cell: here cell 0);
      // cos < 0, so the score>0 guard must keep it — a bare square test
      // would wrongly flag it as a duplicate of 1
      (4L, Array(-0.1f, -1.0f)),
      (5L, Array(0.1f, 1.0f)),    // cell 1 anchor
      (6L, Array(0.1f, 1.01f)),   // ~parallel to 5 -> dup_of 5
      (7L, Array(0.9f, 0.6f)),    // cell 0, dissimilar enough to 1
      (8L, Array(0.0f, 0.0f)))    // zero vector: never a dup
      .toDF("vec_id", "embedding")
    val got = Dedup.semanticDedup(rows, "vec_id", "embedding", cb,
      simSqPpm = 980000L) // cos >= ~0.99
      .as[(Long, Int, Boolean, Option[Long])].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(1L) === ((false, None)))      // anchor survives
    assert(got(2L) === ((true, Some(1L))))   // near-parallel
    assert(got(3L) === ((true, Some(1L))))   // scale-invariant (cosine)
    assert(got(4L) === ((false, None)))      // anti-parallel must survive
    assert(got(5L) === ((false, None)))
    assert(got(6L) === ((true, Some(5L))))
    assert(got(7L) === ((false, None)))
    assert(got(8L) === ((false, None)))      // zero vec immune

    // threshold monotonicity on the real corpus: raising cos² can only
    // shrink the duplicate set (and the lower-threshold set contains it)
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val cb64 = Similarity.fixedCodebook(4, 64)
    def dupSet(ppm: Long): Set[Long] =
      Dedup.semanticDedup(emb, "vec_id", "embedding", cb64, ppm)
        .where($"is_dup").select("vec_id").as[Long].collect().toSet
    val loose = dupSet(640000L)  // cos >= 0.8
    val tight = dupSet(980000L)  // cos >= ~0.99
    assert(tight.subsetOf(loose))

    // every flagged dup really is above threshold vs its dup_of, checked
    // in independent double math (1e-9 guard for the quantization edge)
    val flagged = Dedup.semanticDedup(emb, "vec_id", "embedding", cb64,
        810000L)
      .where($"is_dup").as[(Long, Int, Boolean, Long)].collect()
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toMap
    flagged.foreach { case (vid, _, _, dupOf) =>
      assert(dupOf < vid)
      val a = vecs(vid).map(x => math.floor(x * 1000.0))
      val b = vecs(dupOf).map(x => math.floor(x * 1000.0))
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      val cos = dot / math.sqrt(a.map(x => x * x).sum *
        b.map(x => x * x).sum)
      assert(cos >= math.sqrt(0.81) - 1e-9, s"$vid vs $dupOf: cos=$cos")
    }
  }

  test("semantic dedup: identical copies collapse (exact-collapse path) " +
    "with per-row output identical to the pairwise definition") {
    import spark.implicits._
    val cb = Seq(Seq(1000L, 0L), Seq(0L, 1000L))
    // 10 byte-identical copies of a nonzero vector (the crawl-copy case
    // the collapse defends against), copies of a ZERO vector (must stay
    // non-dup: the score > 0 guard), and a near-parallel singleton that
    // must match the whole copy group through its representative
    val rows = ((1L to 10L).map(i => (i, Array(1.0f, 0.05f))) ++
      Seq((20L, Array(1.01f, 0.05f))) ++
      (30L to 33L).map(i => (i, Array(0.0f, 0.0f)))).toDF(
      "vec_id", "embedding")
    val got = Dedup.semanticDedup(rows, "vec_id", "embedding", cb,
      simSqPpm = 980000L)
      .as[(Long, Int, Boolean, Option[Long])].collect()
      .map(r => r._1 -> r._4).toMap
    (2L to 10L).foreach(i => assert(got(i) === Some(1L), s"copy $i"))
    assert(got(1L) === None)
    assert(got(20L) === Some(1L)) // cross-group match lands on the head
    (30L to 33L).foreach(i => assert(got(i) === None, s"zero copy $i"))
  }

  test("semantic dedup at rest: the (appended) IVF layout's cells are the " +
      "blocking; exact agreement with a BigInt recompute") {
    import spark.implicits._
    val emb = graft.Tables(spark, sfDir, "embeddings")
    val dir = java.nio.file.Files
      .createTempDirectory("semdedup-rest").toString
    Similarity.writeIvf(emb.where($"vec_id" % 2 === 0),
      "vec_id", "embedding", dir,
      Embeddings.exactCentroids(emb, "vec_id", "embedding",
        dim = 64, k = 16, iters = 2))
    Similarity.appendToIvf(emb.where($"vec_id" % 2 === 1),
      "vec_id", "embedding", dir)
    val got = Dedup
      .semanticDedupAtRest(spark, dir, "vec_id", "embedding", 160000L)
      .as[(Long, Int, Boolean, Option[Long])].collect().toSet
    // independent recompute: same integer test in BigInt over the same
    // at-rest rows (no int64 headroom question at all)
    val rows = spark.read.parquet(s"$dir/data")
      .select($"vec_id", $"embedding", $"cell")
      .as[(Long, Array[Float], Int)].collect()
    def q(v: Array[Float]): Array[Long] =
      v.map(x => math.floor(x.toDouble * 1000).toLong)
    val byCell = rows.groupBy(_._3)
    val expect = rows.map { case (vid, v, cell) =>
      val iq = q(v)
      val n2 = iq.map(x => BigInt(x) * x).sum
      val dupOf = byCell(cell).filter(_._1 < vid).toSeq
        .flatMap { case (pid, pv, _) =>
          val piq = q(pv)
          val score = iq.zip(piq).map { case (a, b) => BigInt(a) * b }.sum
          val pn2 = piq.map(x => BigInt(x) * x).sum
          if (score > 0 &&
            score * score * 1000000 >= BigInt(160000L) * n2 * pn2)
            Some(pid) else None
        }.sorted.headOption
      (vid, cell, dupOf.isDefined, dupOf)
    }.toSet
    assert(got === expect)
    assert(got.exists(_._3), "expected at least one semantic dup at cos>=0.4")
  }

  test("containmentPairs: finds the quote-inside-article pair symmetric " +
    "Jaccard misses; equals brute force; identical docs contain BOTH ways") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val words = (1 to 40).map(i => s"w$i")
    val big = words.mkString(" ") // 39 bigrams
    val small = words.take(12).mkString(" ") // 11 bigrams, all inside big
    val other = (100 to 120).map(i => s"x$i").mkString(" ")
    val docs = Seq((1L, big), (2L, small), (3L, other), (4L, other))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", k = 2,
      minContainment = 0.8)
      .select("contained_id", "container_id", "intersection", "size_a",
        "size_b", "containment_ppm")
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSet
    // 2 ⊂ 1 (11/11), NOT 1 ⊂ 2 (11/39); identical 3,4 both ways
    assert(got === Set(
      (2L, 1L, 11L, 11L, 39L, 1000000L),
      (3L, 4L, 20L, 20L, 20L, 1000000L),
      (4L, 3L, 20L, 20L, 20L, 1000000L)))
    // Jaccard at the same threshold misses the asymmetric pair
    val jac = Dedup.ngramJaccardPairs(docs, "doc_id", "text", k = 2,
      minJaccard = 0.8).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    assert(!jac.contains((1L, 2L)) && !jac.contains((2L, 1L)))
    assert(jac.contains((3L, 4L)))
    // blocked == brute force on a denser corpus (several partial overlaps)
    val dense = (0 until 30).map { i =>
      val start = i * 3 % 20
      (i.toLong, words.slice(start, start + 10 + i % 8).mkString(" "))
    }.toDF("doc_id", "text")
    val blocked = Dedup.containmentPairs(dense, "doc_id", "text", 2, 0.8)
      .select("contained_id", "container_id").as[(Long, Long)]
      .collect().toSet
    def bigrams(s: String) =
      s.split("\\s+").sliding(2).map(_.mkString(" ")).toSet
    val txt = dense.as[(Long, String)].collect().toMap
    val brute = (for {
      a <- txt.keys; b <- txt.keys if a != b
      sa = bigrams(txt(a)); sb = bigrams(txt(b))
      if sa.intersect(sb).size >= math.ceil(0.8 * sa.size)
    } yield (a, b)).toSet
    assert(blocked === brute && brute.nonEmpty)
  }

  test("md5-LSH pairs: planted near-dups found and verified, identical " +
    "clones expand through the collapse, misses stay out") {
    import spark.implicits._
    val docs = Seq(
      (1L, "red orange yellow green blue violet indigo"),
      (2L, "red orange yellow green blue violet indigo"), // clone of 1
      (3L, "red orange yellow green blue violet"),        // j = 5/6 vs 1
      (4L, "completely different content entirely unrelated here"),
      (5L, "x")) // too short to shingle -> absent
      .toDF("doc_id", "text")
    val md5 = org.apache.spark.sql.graft.HashFamily.Md5
    val got = Dedup.minhashLshPairsFromGroups(
        Dedup.shingleGroups(docs, "doc_id", "text", 2, md5),
        numHashes = 32, bands = 8, minJaccard = 0.8, family = md5)
      .select($"id_a", $"id_b", $"intersection".cast("long"),
        $"union_size".cast("long"))
      .as[(Long, Long, Long, Long)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4))).toMap
    // identical sets: intra pair at full overlap (6 shingles)
    assert(got((1L, 2L)) === ((6L, 6L)))
    // the j=5/6 pair must be FOUND by banding (identical prefix mins
    // dominate) and verified: intersection 5, union 6
    assert(got((1L, 3L)) === ((5L, 6L)))
    assert(got((2L, 3L)) === ((5L, 6L))) // member expansion of the clone
    assert(!got.keySet.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("lshRecallEval: deciles partition the exact pairs, found <= exact, " +
    "identical pairs land in decile 9 with full recall") {
    import spark.implicits._
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"), // identical
      (3L, "alpha beta gamma delta epsilon zeta eta iota"),  // high j
      (4L, "alpha beta gamma delta epsilon kappa mu nu"))    // lower j
      .toDF("doc_id", "text")
    val got = Dedup.lshRecallEval(docs, "doc_id", "text",
      k = 2, numHashes = 32, bands = 8, minJaccard = 0.5,
      key = "lsh-recall-spec")
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // every decile: found <= exact and recall consistent
    got.values.foreach { case (ne, nf, ppm) =>
      assert(nf <= ne)
      assert(ppm === nf * 1000000L / ne)
    }
    // the identical pair sits in decile 9 and banding cannot miss it
    val (ne9, nf9, _) = got(9L)
    assert(ne9 >= 1L && nf9 >= 1L)
    // exact pair relation at 0.5 has pairs below decile 9 too
    assert(got.keySet.exists(_ < 9L))
  }
}
