package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.GraftFunctions._

/** Expression-table tests pinning the Python↔JVM semantic deltas called out
  * in SURVEY §7 (NFKC, Unicode \w, coerce-to-zero, banker's rounding). */
class GraftFunctionsSpec extends SparkSpec {

  private def eval1(in: String, f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): String = {
    import spark.implicits._
    Seq(in).toDF("s").select(f($"s").cast("string")).first().getString(0)
  }

  test("NFKC: full-width -> half-width, circled digits, CJK preserved") {
    assert(eval1("Ｐｏｌｏ衫", nfkcNormalize) === "Polo衫")
    assert(eval1("①②③", nfkcNormalize) === "123")
    assert(eval1("ＵＳＢ", nfkcNormalize) === "USB")
    assert(eval1("plain", nfkcNormalize) === "plain")
  }

  test("normalizeText: the reference pipeline (golden from training.log:21)") {
    // NFKC + upper + last /-segment + punct->space + collapse + trim
    assert(eval1("USB风扇", normalizeText) === "USB风扇")
    assert(eval1("ｕｓｂ风扇", normalizeText) === "USB风扇")
    assert(eval1("brand/model/usb fan!!", normalizeText) === "USB FAN")
    assert(eval1("  a,b..c  ", normalizeText) === "A B C")
    assert(eval1("中文，標點。測試", normalizeText) === "中文 標點 測試") // CJK kept, \w Unicode-aware
  }

  test("cleanDocNo: golden from import_xml_history.py docstring") {
    assert(eval1("BY/  /14/440 /JM0H3", cleanDocNo) === "BY14440JM0H3")
  }

  test("cleanWaybill + linkKey hygiene") {
    assert(eval1("ab- c/d", cleanWaybill) === "ABCD")
    import spark.implicits._
    val lk = Seq(("m w-1", "h/2")).toDF("m", "h")
      .select(linkKey($"m", $"h")).first().getString(0)
    assert(lk === "MW1_H2")
  }

  test("numOrZero: pandas errors='coerce' twin") {
    for ((in, want) <- Seq("12.5" -> 12.5, "abc" -> 0.0, "" -> 0.0,
        " 7 " -> 7.0, "1e2" -> 100.0))
      assert(eval1(in, c => numOrZero(c)).toDouble === want, s"input '$in'")
  }

  test("unitPrice: banker's rounding (Python round parity) and qty<=0 guard") {
    import spark.implicits._
    def up(total: Double, qty: Double): Double =
      Seq((total, qty)).toDF("t", "q")
        .select(unitPrice($"t", $"q")).first().getDouble(0)
    assert(up(10.0, 4.0) === 2.5)
    assert(up(0.000125, 1.0) === 0.0001) // .00012|5 -> even -> down (HALF_UP would give 0.0001 too? no: 0.00013)
    assert(up(0.000375, 1.0) === 0.0004) // .00037|5 -> even -> up
    assert(up(5.0, 0.0) === 0.0)
    assert(up(5.0, -1.0) === 0.0)
  }

  test("isoDate truncates ISO-8601 with timezone") {
    assert(eval1("2025-03-22T00:00:00+08:00", c => isoDate(c)) === "2025-03-22")
  }

  test("isRealValue rejects nan/none/blank sentinels") {
    import spark.implicits._
    val got = Seq("x", "nan", "NaN", "none", "", "  ", "0")
      .toDF("s").select(isRealValue($"s")).collect().map(_.getBoolean(0))
    assert(got === Array(true, false, false, false, false, false, true))
  }

  test("shingles: overlapping k-grams, empty when too short") {
    import spark.implicits._
    val got = Seq("a b c d").toDF("s")
      .select(shingles($"s", 2)).first().getSeq[String](0)
    assert(got === Seq("a b", "b c", "c d"))
    val short = Seq("only").toDF("s")
      .select(shingles($"s", 2)).first().getSeq[String](0)
    assert(short === Seq.empty)
  }

  test("minhashSignature: n independent positions, equal sets -> equal sigs") {
    import spark.implicits._
    val df = Seq("w1 w2 w3 w4 w5", "w3 w2 w1 w4 w5", "totally different words here")
      .toDF("s").select(minhashSignature(shingleHashes($"s", 1), 16).as("sig"))
    val sigs = df.collect().map(_.getSeq[Long](0))
    assert(sigs(0).length === 16)
    assert(sigs(0) === sigs(1)) // same token SET (k=1 shingles)
    assert(sigs(0) !== sigs(2))
  }

  test("fingerprints: md5 tracks normalized content, rolling hash is order-sensitive") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val docs = Seq((1L, "alpha beta gamma"), (2L, "gamma beta alpha"),
      (3L, "ALPHA  beta,,gamma"), (4L, "alpha beta gamma")).toDF("doc_id", "text")
    val fp = TextAnalysis.fingerprints(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(fp(1) === fp(4)) // identical text -> identical fingerprints
    assert(fp(1)._1 === fp(3)._1) // md5 over NORMALIZED text: punctuation/case collapse
    assert(fp(1)._2 !== fp(2)._2) // rolling hash: token order matters
  }

  /** The higher-order-function formulation of [[GraftFunctions.shingles]]
    * — interpreted and allocation-heavy (a slice array per position), the
    * readable spec the codegen'd expression is tested against. */
  private def shinglesHof(c: Column, k: Int): Column = {
    val toks = tokens(c)
    when(size(toks) >= k,
      transform(
        sequence(lit(0), size(toks) - lit(k)),
        i => array_join(slice(toks, i + lit(1), lit(k)), " ")))
      .otherwise(array().cast("array<string>"))
  }

  /** Interpreted HOF formulation of [[GraftFunctions.minhashSignature]],
    * shingle-major so projection collapsing can't multiply the shingle
    * computation — the cross-check twin for the custom expression. */
  private def minhashSignatureHof(shingleCol: Column, n: Int): Column =
    aggregate(shingleCol,
      array_repeat(lit(Long.MaxValue), n),
      (acc, s) => zip_with(acc,
        transform(sequence(lit(0), lit(n - 1)), seed => xxhash64(seed, s)),
        (a, b) => least(a, b)))

  /** Interpreted HOF formulation of [[GraftFunctions.cosineSim]]: the
    * float-widened products and squares summed left to right in double,
    * zero for a zero-norm side. */
  private def cosineSimHof(a: Column, b: Column): Column = {
    val ad = transform(a, _.cast("double"))
    val bd = transform(b, _.cast("double"))
    val dot = aggregate(zip_with(ad, bd, (x, y) => x * y), lit(0.0), (s, x) => s + x)
    val na = aggregate(ad, lit(0.0), (s, x) => s + x * x)
    val nb = aggregate(bd, lit(0.0), (s, x) => s + x * x)
    when(na === 0.0 || nb === 0.0, lit(0.0))
      .otherwise(dot / (sqrt(na) * sqrt(nb)))
  }

  test("codegen'd CosineSimilarity == interpreted HOF formulation") {
    import spark.implicits._
    val emb = graft.Tables(spark, sfDir, "embeddings")
      .where($"vec_id" < 40).select($"vec_id", $"embedding")
    val pairs = emb.select($"vec_id".as("id_a"), $"embedding".as("va"))
      .crossJoin(emb.select($"vec_id".as("id_b"), $"embedding".as("vb")))
    // separate projections: an interpreted (CodegenFallback) expression
    // would take the kernel's projection out of whole-stage codegen
    val fast = pairs.select($"id_a", $"id_b", cosineSim($"va", $"vb"))
    val slow = pairs.select($"id_a", $"id_b", cosineSimHof($"va", $"vb"))
    def byPair(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cos = byPair(fast)
    assert(cos.size === 1600)
    assert(cos.values.exists(c => c != 0.0 && c < 0.999))
    // the kernel accumulates the same double terms in the same
    // left-to-right order as the HOF fold, so no rounding can differ:
    // the tolerance is zero
    assert(cos === byPair(slow))
    val codegenProject = new org.apache.spark.sql.execution.adaptive
        .AdaptiveSparkPlanHelper {}.collect(fast.queryExecution.executedPlan) {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }.flatMap(_.child.collect {
      case p: org.apache.spark.sql.execution.ProjectExec => p
    }).filter(_.projectList.exists(_.exists(
      _.isInstanceOf[org.apache.spark.sql.graft.CosineSimilarity])))
    assert(codegenProject.nonEmpty, fast.queryExecution.executedPlan.toString)
  }

  test("codegen'd MinHashSignature expression == interpreted HOF formulation") {
    import spark.implicits._
    val docs = graft.Tables(spark, sfDir, "documents")
    val both = docs.select(
      minhashSignature(shingleHashes($"text", 2), 32).as("fast"),
      minhashSignatureHof(shingleHashes($"text", 2), 32).as("slow"))
    assert(both.where($"fast" =!= $"slow").count() === 0L)
  }

  test("ShingleHashes, MinHashSignature, SimHash64: interpreted eval == " +
    "generated code, in both hash families") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.graft.{HashFamily, MinHashSignature, ShingleHashes, SimHash64}
    import org.apache.spark.sql.types.{ArrayType, StringType}
    import org.apache.spark.unsafe.types.UTF8String
    val corpus = graft.Tables(spark, sfDir, "documents")
      .select(tokens($"text")).as[Seq[String]].collect().toSeq
    val edge = Seq(null, Seq(), Seq(""), Seq("solo"), Seq("", "a", "", "b"),
      Seq("a", null, "b"), Seq("x", "x", "x", "x"))
    val rows = (edge ++ corpus).map { t =>
      InternalRow(if (t == null) null
        else new GenericArrayData(t.map(s =>
          if (s == null) null else UTF8String.fromString(s)).toArray[Any]))
    }
    val toks = BoundReference(0, ArrayType(StringType, containsNull = true),
      nullable = true)
    def longs(a: ArrayData) = if (a == null) null else a.toLongArray().toSeq
    for (family <- Seq(HashFamily.Xxh64, HashFamily.Md5)) {
      val sh = ShingleHashes(toks, 2, family)
      val kernels = Seq(sh, MinHashSignature(sh, 16, family), SimHash64(toks, family))
      val generated = GenerateUnsafeProjection.generate(kernels)
      var nulls = 0
      rows.foreach { row =>
        val out = generated(row)
        kernels.zipWithIndex.foreach { case (e, i) =>
          val interpreted = e.eval(row)
          val codegen = if (out.isNullAt(i)) null
            else if (e.isInstanceOf[SimHash64]) out.getLong(i)
            else out.getArray(i)
          if (interpreted == null) nulls += 1
          val same = e match {
            case _: SimHash64 => interpreted == codegen
            case _ => longs(interpreted.asInstanceOf[ArrayData]) ==
              longs(codegen.asInstanceOf[ArrayData])
          }
          assert(same, s"${e.prettyName} on ${row.getArray(0)}")
        }
      }
      assert(nulls > 0, s"$family: the null paths must be exercised")
    }
  }

  test("codegen'd Shingles expression == interpreted HOF formulation") {
    import spark.implicits._
    val docs = graft.Tables(spark, sfDir, "documents")
    for (k <- Seq(1, 2, 4)) {
      val both = docs.select(
        shingles($"text", k).as("fast"), shinglesHof($"text", k).as("slow"))
      assert(both.where($"fast" =!= $"slow").count() === 0L, s"k=$k")
    }
  }

  test("codegen'd HanCount == the \\p{IsHan} regex it replaces") {
    import spark.implicits._
    val fixtures = Seq(
      "風扇配件 usb fan", // mixed Han + ascii
      "no han at all",
      "漢漢漢",
      "𠀀ab", // U+20000, supplementary CJK ext B: one code point
      "仮名かなカナ", // kana are NOT Han; 仮/名 are
      "")
    val docs = (fixtures.toDF("text") union
      graft.Tables(spark, sfDir, "documents").select($"text")).cache()
    val both = docs.select(
      hanCount($"text").as("fast"),
      length(regexp_replace($"text", "[^\\p{IsHan}]", "")).as("slow"))
    assert(both.where($"fast" =!= $"slow").count() === 0L)
    docs.unpersist()
  }

  test("codegen'd RepetitionSignals == the HOF formulation it replaces") {
    import spark.implicits._
    val fixtures = Seq(
      "a b a b a b", // run-on bigram "a b" x3 (and "b a" x2)
      "line1\n line1 \nline1\n\n  \nother",
      "\tweird  spacing nbsp", // tab starts a token split; nbsp is NOT \s
      "single",
      "",
      "dup dup dup dup")
    val docs = (fixtures.toDF("text") union
      graft.Tables(spark, sfDir, "documents").select($"text")).cache()
    val lines = transform(
      filter(split($"text", "\n"), l => trim(l) =!= ""), l => trim(l))
    val toks = tokens($"text")
    val bigrams = when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1))))
      .otherwise(array().cast("array<string>"))
    val topBigram = aggregate(
      array_sort(bigrams),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + 1L)
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))
    val both = docs.select(
      repetitionSignals($"text").as("fast"),
      struct(
        size(lines).cast("long").as("n_lines"),
        size(array_distinct(lines)).cast("long").as("n_distinct_lines"),
        size(bigrams).cast("long").as("n_bigrams"),
        topBigram.cast("long").as("top_bigram_count")).as("slow"))
    assert(both.where($"fast" =!= $"slow").count() === 0L)
    docs.unpersist()
  }

  test("sortedIntersectCount == size(array_intersect) on random sorted " +
    "sets; null-safe; stays in whole-stage codegen") {
    import spark.implicits._
    import graft.functions.GraftFunctions.sortedIntersectCount
    // deterministic random-ish sorted distinct sets, varied sizes incl 0
    val rows = (0 until 400).map { i =>
      def set(seed: Long, n: Int) =
        (0 until n).map(j => (seed * 31 + j * j * 7919) % 1000).distinct
          .sorted.map(_.toLong)
      (i.toLong, set(i, i % 23), set(i * 13 + 5, (i * 7) % 19))
    }.toDF("id", "a", "b")
    val both = rows.select(
      sortedIntersectCount($"a", $"b").as("fast"),
      size(array_intersect($"a", $"b")).cast("long").as("slow"))
    assert(both.where($"fast" =!= $"slow").count() === 0L)
    // nulls propagate (BinaryExpression null-intolerance)
    val n = rows.select(
      sortedIntersectCount(lit(null).cast("array<long>"), $"b").as("v"))
      .where($"v".isNull).count()
    assert(n === 400L)
    // the merge walk stays inside a WholeStageCodegen span over a REAL
    // scan (a local relation constant-folds the whole projection away)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val planned = docs.select(sortedIntersectCount(
      sort_array(graft.functions.GraftFunctions.shingleHashes($"text", 2)),
      sort_array(graft.functions.GraftFunctions.shingleHashes($"text", 3)))
      .as("v"))
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan) // the codegen-span marker
    assert(planned.where($"v" >= 0).count() > 0)
  }

  test("dotLong == aggregate(zip_with) on random long vectors; " +
    "null-safe; prefix on mismatched lengths; stays in codegen") {
    import spark.implicits._
    import graft.functions.GraftFunctions.dotLong
    val rows = (0 until 400).map { i =>
      def vec(seed: Long, n: Int) =
        (0 until n).map(j => ((seed * 31 + j * 7919) % 2001) - 1000L)
      (i.toLong, vec(i, i % 17), vec(i * 13 + 5, (i * 7) % 17))
    }.toDF("id", "a", "b")
    val both = rows.select(
      dotLong($"a", $"b").as("fast"),
      aggregate(
        zip_with(slice($"a", lit(1), least(size($"a"), size($"b"))),
          slice($"b", lit(1), least(size($"a"), size($"b"))),
          (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("slow"))
    assert(both.where($"fast" =!= $"slow").count() === 0L)
    val n = rows.select(
      dotLong(lit(null).cast("array<long>"), $"b").as("v"))
      .where($"v".isNull).count()
    assert(n === 400L)
    // fused loop stays inside a WholeStageCodegen span over a REAL scan
    // (CreateArray inputs — `transform` lambdas are non-codegen and would
    // break any span, custom expression or not)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val planned = docs.select(dotLong(
      array($"n_chars", $"doc_id"), array($"doc_id", $"n_chars")).as("v"))
    val plan = planned.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    assert(planned.where($"v" >= 0).count() > 0)
  }

  test("urlCanonicalize: hand-checked normalizations, idempotence, and " +
    "non-default ports/params survive") {
    import spark.implicits._
    import graft.functions.GraftFunctions.urlCanonicalize
    val cases = Seq(
      // default ports drop per scheme; host case-folds; fragment drops
      ("HTTP://WWW.Example.COM:80/Path/?b=2&a=1#frag",
        "http://www.example.com/Path?a=1&b=2"),
      ("https://Ex.com:443/x", "https://ex.com/x"),
      // explicit non-default port survives; utm_/fbclid/gclid drop
      ("https://ex.com:8443/x?utm_source=tw&id=7&fbclid=zz&gclid=q",
        "https://ex.com:8443/x?id=7"),
      // trailing slashes strip; empty path normalizes to /
      ("http://ex.com///", "http://ex.com/"),
      ("http://ex.com", "http://ex.com/"),
      // only-tracking query vanishes entirely
      ("http://ex.com/p?utm_medium=m", "http://ex.com/p"),
      // path CASE is preserved (paths are case-sensitive, hosts are not)
      ("http://EX.com/CaseSensitive", "http://ex.com/CaseSensitive"))
    val got = cases.map(_._1).toDF("u")
      .select(urlCanonicalize($"u")).as[String].collect().toSeq
    assert(got === cases.map(_._2))
    // idempotence: canonicalizing a canonical URL is the identity
    val twice = cases.map(_._1).toDF("u")
      .select(urlCanonicalize(urlCanonicalize($"u")).as("a"),
        urlCanonicalize($"u").as("b"))
      .where($"a" =!= $"b").count()
    assert(twice === 0L)
  }

  test("mojibake repair: computed round-trip over the whole dictionary, " +
    "fixed point on once-damaged text, counts match the damage") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{mojibake, MojibakePairs,
      fixMojibake, mojibakeCount}
    // every dictionary character round-trips through the damage model
    val cleans = MojibakePairs.map(_._2).map(g => s"x${g}y ${g}${g}")
    val df = cleans.map(c => (c, mojibake(c))).toDF("clean", "damaged")
    assert(df.where(fixMojibake($"damaged") =!= $"clean").count() === 0L)
    // fixed point: repairing repaired text changes nothing
    assert(df.where(
      fixMojibake(fixMojibake($"damaged")) =!= fixMojibake($"damaged"))
      .count() === 0L)
    // counts: 3 dictionary hits per fixture row; clean text counts zero
    assert(df.where(mojibakeCount($"damaged") =!= 3L).count() === 0L)
    assert(df.where(mojibakeCount($"clean") =!= 0L).count() === 0L)
    // mixed sentence with several distinct damages
    val s = mojibake("caf\u00e9 \u201cmenu\u201d \u2013 30\u00b0\u2026")
    val got = Seq(s).toDF("d")
      .select(fixMojibake($"d"), mojibakeCount($"d"))
      .as[(String, Long)].head()
    assert(got._1 === "caf\u00e9 \u201cmenu\u201d \u2013 30\u00b0\u2026")
    assert(got._2 === 6L) // é “ ” – ° …
  }

  test("MojibakeRepair kernel == the declarative replace cascade, " +
    "count-for-count and char-for-char, over the corpus + damage") {
    import spark.implicits._
    import graft.functions.GraftFunctions.{mojibake, fixMojibake,
      mojibakeCount, mojibakeCountCascade, fixMojibakeCascade}
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(concat($"text", lit(" "),
        lit(mojibake("caf\u00e9 \u201cx\u201d \u2013 \u2026 30\u00b0")),
        lit(" plain \u00c3 tail \u00e2\u20ac")).as("page"))
    assert(docs.where(
      fixMojibake($"page") =!= fixMojibakeCascade($"page") ||
      mojibakeCount($"page") =!= mojibakeCountCascade($"page"))
      .count() === 0L)
    // adversarial boundary soup: partial keys, abutting damage, lone
    // family heads -- kernel and cascade must still agree exactly
    val soup = Seq(
      "\u00e2\u20ac", "\u00e2\u20ac\u00e2\u20ac\u2122",
      "\u00c3", "\u00c3\u00c3\u00a9\u00a9", "\u00c2",
      mojibake("\u2019") * 3, mojibake("\u00e9") + "\u00c3",
      "", "ascii only").toDF("page")
    assert(soup.where(
      fixMojibake($"page") =!= fixMojibakeCascade($"page") ||
      mojibakeCount($"page") =!= mojibakeCountCascade($"page"))
      .count() === 0L)
  }
}
