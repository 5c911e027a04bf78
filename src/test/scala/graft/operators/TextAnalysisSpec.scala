package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

class TextAnalysisSpec extends SparkSpec {

  test("ngramNovelty: hand-computed shares; boilerplate scores 0, " +
    "unique prose 1e6") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox"), // bigrams all unique -> 1e6
      (2L, "copy me now"), // shared with doc 3 -> 0
      (3L, "copy me now"),
      (4L, "copy me later") // "copy me" df=3, "me later" df=1 -> 500000
    ).toDF("doc_id", "text")
    val got = TextAnalysis.ngramNovelty(docs, "doc_id", "text", k = 2)
      .select("doc_id", "n_shingles", "n_novel", "novelty_ppm")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 3L, 3L, 1000000L)))
    assert(got(2L) === ((2L, 2L, 0L, 0L)))
    assert(got(3L) === ((3L, 2L, 0L, 0L)))
    assert(got(4L) === ((4L, 2L, 1L, 500000L)))
  }

  test("compressionSignal: ordering laws, bounds, determinism") {
    import spark.implicits._
    val repetitive = "spark " * 400 // near-pure repetition
    val prose = (1 to 40).map(i =>
      s"Sentence number $i talks about a slightly different topic.").mkString(" ")
    // incompressible-ish: decimal digits of a fixed LCG stream
    val noise = Iterator.iterate(48271L)(x => x * 48271L % 2147483647L)
      .take(600).mkString("")
    val docs = Seq((1L, repetitive), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.compressionSignal(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    // repetition compresses far below prose; prose below noise
    assert(got(1L)._4 < got(2L)._4 && got(2L)._4 < got(3L)._4)
    // deflate worst-case overhead stays bounded for non-trivial input
    assert(got(3L)._4 <= 1100L)
    // raw_bytes is the UTF-8 length; empty text pins ratio at 1000
    assert(got(2L)._2 === prose.getBytes("UTF-8").length.toLong)
    assert(got(4L) === ((4L, 0L, got(4L)._3, 1000L)))
    // deterministic within a JVM: a second run is byte-identical
    val again = TextAnalysis.compressionSignal(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("languageId: marker languages, Han-script zh, und fallback") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat and the dog is here with food"), // en markers
      (2L, "el perro es grande y la casa con jardin"), // es markers
      (3L, "USB风扇 小型 電風扇配件"), // Han chars -> zh
      (4L, "xyzzy plugh quux"), // nothing -> und
      (5L, "der hund ist gross und die katze mit")) // de markers
      .toDF("doc_id", "text")
    val got = TextAnalysis.languageId(docs, "doc_id", "text")
      .select("doc_id", "lang_pred").as[(Long, String)].collect().toMap
    assert(got === Map(1L -> "en", 2L -> "es", 3L -> "zh", 4L -> "und",
      5L -> "de"))
  }

  test("profile language-id: fit char-trigram profiles, classify held-out docs") {
    // NOTE: the driver's synthetic documents table shares one vocabulary
    // across lang labels (language is NOT inferable from its text), so
    // this trains/tests on a real multilingual fixture instead.
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val corpus = Seq(
      ("en", "the weather is nice and the children play in the garden with friends"),
      ("en", "she walks to the market and buys bread with cheese every morning"),
      ("en", "a good book is the best friend one can have on a long journey"),
      ("en", "music fills the room while everyone is dancing and singing together"),
      ("en", "coffee tastes better in the morning when the house is quiet"),
      ("en", "many students read their books at the library in the afternoon"),
      ("de", "der hund läuft schnell durch den garten und die kinder lachen laut"),
      ("de", "die sonne scheint heute und wir gehen zusammen in den park spazieren"),
      ("de", "das wetter ist schön und der himmel über der stadt ist ganz blau"),
      ("de", "ich trinke morgens gerne kaffee und lese dabei die zeitung im garten"),
      ("de", "viele studenten lesen bücher in der bibliothek am nachmittag"),
      ("de", "am abend kochen wir zusammen und sprechen über den langen tag"),
      ("fr", "le chat dort sur la table et le chien joue dans le jardin"),
      ("fr", "nous allons au marché pour acheter du pain et du fromage frais"),
      ("fr", "la mer est belle aujourd'hui et les enfants jouent sur la plage"),
      ("fr", "elle lit un livre intéressant pendant que le train traverse la campagne"),
      ("fr", "beaucoup d'étudiants lisent des livres à la bibliothèque l'après-midi"),
      ("fr", "le soir nous cuisinons ensemble et parlons de notre longue journée"),
      ("es", "el perro corre por el parque y los niños juegan con la pelota"),
      ("es", "la casa tiene un jardín grande con flores y árboles muy bonitos"),
      ("es", "vamos al mercado para comprar pan y queso para la cena de hoy"),
      ("es", "ella escribe una carta a su amiga mientras bebe café en la cocina"),
      ("es", "muchos estudiantes leen sus libros en la biblioteca por la tarde"),
      ("es", "por la noche cocinamos juntos y hablamos del largo día de trabajo"),
      ("zh", "今天天气很好我们一起去公园散步看花"),
      ("zh", "他喜欢在早上喝茶然后读报纸学习新闻"),
      ("zh", "孩子们在学校里认真学习老师很高兴"),
      ("zh", "我们坐火车去北京看朋友吃很多好吃的东西"),
      ("zh", "晚上我们一起做饭聊天说今天发生的事情"),
      ("zh", "很多学生下午在图书馆里看书学习知识"))
      .zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "lang", "text")
    val held = Seq(
      (100L, "en", "the old man sits by the river and watches the boats sail away"),
      (101L, "en", "they travel across the country visiting cities and meeting people"),
      (102L, "de", "die frau kauft brot und käse auf dem markt in der alten stadt"),
      (103L, "de", "der zug fährt heute nicht und wir warten lange auf dem bahnhof"),
      (104L, "fr", "le soleil brille sur la ville et les gens marchent dans la rue"),
      (105L, "fr", "ils préparent le dîner ensemble et parlent de leur journée de travail"),
      (106L, "es", "el sol brilla sobre la ciudad y la gente camina por la calle"),
      (107L, "es", "los estudiantes leen libros en la biblioteca durante la tarde"),
      (108L, "zh", "明天我要去市场买菜回家做饭给家人吃"),
      (109L, "zh", "她在图书馆里看书写字准备明天的考试"),
      (110L, "und", "@@@@~~~~^^^^||||")) // matches no profile gram
      .toDF("doc_id", "lang", "text")
    val profiles = TextAnalysis.fitLanguageProfiles(corpus, "text", "lang")
    val pred = TextAnalysis.classifyLanguage(held, "doc_id", "text", profiles)
      .join(held.select($"doc_id", $"lang"), "doc_id")
    val wrong = pred.where($"lang_profile" =!= $"lang")
      .select("doc_id", "lang", "lang_profile").collect()
    assert(wrong.isEmpty, s"misclassified: ${wrong.mkString(", ")}")
    // and it runs shape-complete over the driver corpus (one row per doc)
    val docs = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text", $"lang")
    val p2 = TextAnalysis.fitLanguageProfiles(docs, "text", "lang")
    assert(TextAnalysis.classifyLanguage(docs, "doc_id", "text", p2).count()
      === docs.count())
  }

  test("char_ngram_total equals sum(cnt) over char_ngram_counts on real docs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the classifier's floor penalty relies on this identity (the total
    // is a separate allocation-free loop — this pin keeps the two loops
    // from drifting apart), incl. multi-byte text and the und fixture
    val docs = graft.Tables(spark, sfDir, "documents")
      .select($"doc_id", $"text")
      .unionByName(Seq((900L, "孩子们在 学校里"), (901L, "@@@@~~~~^^^^||||"),
        (902L, ""), (903L, "   "), (904L, "a")).toDF("doc_id", "text"))
    def bridge(e: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftBridge.column(e)
    val expr = org.apache.spark.sql.GraftBridge.expression($"text")
    val bad = docs.select(
      bridge(org.apache.spark.sql.graft.CharNgramTotal(expr, 3)).as("t"),
      aggregate(
        bridge(org.apache.spark.sql.graft.CharNgramCounts(expr, 3)),
        lit(0L), (acc, e) => acc + e.getField("cnt")).as("s"))
      .where($"t" =!= $"s")
    assert(bad.count() === 0L)
  }

  test("topTerms: rare repeated terms outrank ubiquitous ones") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the zebra zebra zebra runs the the savanna"),
      (2L, "the lion sleeps the the whole day long"),
      (3L, "the river flows the the whole year round")).toDF("doc_id", "text")
    val top = TextAnalysis.topTerms(docs, "doc_id", "text", 2)
      .select("doc_id", "rank", "term", "tfidf")
      .as[(Long, Long, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    // "the" is in every doc (idf ~ 0) — never a top term despite max tf
    assert(top(1L).head === "zebra")
    assert(!top.values.flatten.toSet.contains("the"))
    // rank is dense 1..k per doc
    val perDoc = TextAnalysis.topTerms(docs, "doc_id", "text", 2)
      .groupBy("doc_id").agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")).as[(Long, Long)]
      .collect().toMap
    assert(perDoc.values.forall(_ === 2L))
  }

  test("qualityScore flags short/punctuation-heavy docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a reasonable document with more than ten proper words in it easily"),
      (2L, "short doc"),
      (3L, "!!! ??? ... ;;; ::: @@@ ### $$$ %%% ^^^ &&& *** ((( )))"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select("doc_id", "quality_ok").as[(Long, Boolean)].collect().toMap
    assert(got(1L) === true)
    assert(got(2L) === false) // too few tokens
    assert(got(3L) === false) // punctuation-dominated
  }

  test("repetitionStats flags duplicated lines and run-on bigrams, passes clean prose") {
    import spark.implicits._
    val docs = Seq(
      (1L, "one clean line\nanother different line\na third distinct line"),
      (2L, "buy now\nbuy now\nbuy now\nbuy now\nunique closing line"),
      (3L, "spam spam spam spam spam spam spam spam"),
      (4L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5)))).toMap
    assert(got(1L) === ((3L, 3L, 9L, 1L, false)))
    // 5 lines, 2 distinct -> dup fraction 3/5 > 0.3; also "buy now" x4 of
    // 8 bigrams (the cross-line "now buy" bigrams count too)
    assert(got(2L)._1 === 5L && got(2L)._2 === 2L && got(2L)._5 === true)
    // one bigram repeated 7/7 times
    assert(got(3L) === ((1L, 1L, 7L, 7L, true)))
    assert(got(4L)._5 === false) // empty doc: nothing to repeat
  }

  test("piiScrub counts and redacts emails then phones, leaves clean text alone") {
    import spark.implicits._
    val docs = Seq(
      (1L, "contact alice.smith+x@example.co.uk or call +886 2 2345 6789 now"),
      (2L, "two mails: a@b.io c@d.org and digits 123 that are no phone"),
      (3L, "nothing sensitive here")).toDF("doc_id", "text")
    val got = TextAnalysis.piiScrub(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L)._1 === 1L)
    assert(got(1L)._2 === 1L)
    assert(got(1L)._3 === "contact <EMAIL> or call <PHONE> now")
    assert(got(2L) === ((2L, 0L, "two mails: <EMAIL> <EMAIL> and digits 123 that are no phone")))
    assert(got(3L) === ((0L, 0L, "nothing sensitive here")))
  }

  test("curationFunnel chains stages and agrees with the report operators") {
    import spark.implicits._
    val docs = graft.Tables(spark, sfDir, "documents").cache()
    val funnel = TextAnalysis.curationFunnel(docs, "doc_id", "text", "lang")
      .as[(Long, String, Long, Long, Long)].collect().sortBy(_._1)
    assert(funnel.map(_._2).toSeq ===
      Seq("quality", "repetition", "pii", "langid"))
    val total = docs.count()
    assert(funnel.head._3 === total) // stage 1 sees the whole corpus
    funnel.foreach { case (_, st, nIn, nDrop, nOut) =>
      assert(nIn - nDrop === nOut, s"stage $st must balance")
    }
    funnel.sliding(2).foreach { case Array(a, b) =>
      assert(a._5 === b._3, s"n_out(${a._2}) must feed n_in(${b._2})")
    }
    // first-stage drops must equal the quality report's failures exactly
    val qualityFails = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .where(!col("quality_ok")).count()
    assert(funnel.head._4 === qualityFails)
    // survivors of stage 2 = docs passing quality AND not repetitive
    val rep = TextAnalysis.repetitionStats(docs, "doc_id", "text")
      .select(col("doc_id"), col("repetitive"))
    val bothOk = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .where(col("quality_ok")).select("doc_id")
      .join(rep.where(!col("repetitive")), "doc_id").count()
    assert(funnel(1)._5 === bothOk)
  }

  test("vocab: rank by count then token; encode maps OOV to 0, pos keeps gaps") {
    import spark.implicits._
    val docs = Seq(
      (1L, "b a b c b a"),
      (2L, "a  zz")) // double space: raw split has no empty here (single
      // split point), but 'zz' is rank-testable OOV when size=3
      .toDF("doc_id", "text")
    // columns are (token, n, token_id); sort by id
    val vocab = TextAnalysis.buildVocab(docs, "doc_id", "text", 3)
      .as[(String, Long, Long)].collect().sortBy(_._3)
    // counts: b=3, a=3, c=1, zz=1 -> ties break by token asc
    assert(vocab.toSeq === Seq(("a", 3L, 1L), ("b", 3L, 2L), ("c", 1L, 3L)))
    val enc = TextAnalysis.encodeTokens(docs, "doc_id", "text",
      TextAnalysis.buildVocab(docs, "doc_id", "text", 3))
      .as[(Long, Long, Long)].collect().sortBy(r => (r._1, r._2))
    assert(enc.filter(_._1 == 1L).map(_._3).toSeq ===
      Seq(2L, 1L, 2L, 3L, 2L, 1L)) // b a b c b a
    assert(enc.filter(_._1 == 2L).map(_._3).toSeq === Seq(1L, 0L)) // a, OOV
  }

  test("boilerplate: prose lines survive, fragments and markers drop") {
    import spark.implicits._
    val docs = Seq(
      (1L, "This is a proper sentence with enough words.\n" +
        "short line\n" + // < 5 tokens
        "No terminal punctuation here at all\n" + // no ./!/?/"
        "Please enable JavaScript to view this page properly.\n" + // marker
        "Another good line stays in the cleaned document!\n" +
        "   \n"), // blank after trim: not a line at all
      (2L, "")) // empty doc: zero lines
      .toDF("doc_id", "text")
    val got = TextAnalysis.boilerplate(docs, "doc_id", "text")
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._1 === 5L) // non-blank lines
    assert(got(1L)._2 === 2L) // kept
    assert(got(1L)._3 ===
      "This is a proper sentence with enough words.\n" +
        "Another good line stays in the cleaned document!")
    assert(got(2L) === ((0L, 0L, "")))
  }

  test("chunks: overlap window covers every char, offsets map back, tail kept") {
    import spark.implicits._
    val docs = Seq(
      (1L, "abcdefghij"), // 10 chars, size 4 / overlap 1 -> starts 0,3,6,9
      (2L, "ab"),         // shorter than size: one chunk
      (3L, ""))           // empty: no chunks
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunks(docs, "doc_id", "text", size = 4, overlap = 1)
      .as[(Long, Long, Long, String)].collect().sortBy(r => (r._1, r._2))
    assert(got.toSeq === Seq(
      (1L, 0L, 0L, "abcd"), (1L, 1L, 3L, "defg"),
      (1L, 2L, 6L, "ghij"), (1L, 3L, 9L, "j"),
      (2L, 0L, 0L, "ab")))
    // reconstruction: dropping each chunk's overlap prefix re-yields the doc
    val parts = got.filter(_._1 == 1L).map { case (_, no, _, t) =>
      if (no == 0) t else t.drop(1) } // overlap = 1
    assert(parts.mkString === "abcdefghij")
  }

  test("lengthQuartiles: exact interpolation at quarter steps") {
    import spark.implicits._
    // en lengths 10,20,30,40 -> p25 = 10*(0.25)+20*... : index 0.75 ->
    // 10 + 0.75*(20-10) = 17.5; p50 = 25; p75 = 32.5
    val docs = Seq(
      ("en", 10L), ("en", 20L), ("en", 30L), ("en", 40L),
      ("de", 7L))
      .toDF("lang", "n_chars")
    val got = TextAnalysis.lengthQuartiles(docs, "lang", "n_chars")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(got("en") === ((4L, 1750L, 2500L, 3250L)))
    assert(got("de") === ((1L, 700L, 700L, 700L))) // single doc: all = it
  }

  test("bm25TopK: rare query terms dominate, doc length penalizes, k caps") {
    import spark.implicits._
    // "zebra" appears in 2 of 5 docs (rare), "the" in all 5 (common).
    // doc 1: zebra twice, short. doc 2: zebra once, long (length penalty).
    val docs = Seq(
      (1L, "zebra zebra the"),
      (2L, "zebra the " + Seq.fill(40)("filler").mkString(" ")),
      (3L, "the cat sat"),
      (4L, "the dog ran"),
      (5L, "the bird flew here today"))
      .toDF("doc_id", "text")
    val got = TextAnalysis
      .bm25TopK(docs, "doc_id", "text", Seq("zebra", "the"), 3)
      .as[(Long, Long, Long)].collect().sortBy(_._2)
    assert(got.length === 3) // k caps the output
    // ranks are 1..k and scores are non-increasing
    assert(got.map(_._2).toSeq === Seq(1L, 2L, 3L))
    assert(got.sliding(2).forall(p => p(0)._3 >= p(1)._3))
    // doc 1 (rare term twice, short doc) must be rank 1; doc 2 (rare term
    // in a long doc) still outranks the common-term-only docs
    assert(got(0)._1 === 1L)
    assert(got(1)._1 === 2L)
  }

  test("bpeMerges learns the classic merges on a hand-computed corpus") {
    import spark.implicits._
    // "low" x4 + "lower" x2 + "newest" x6 weighted by repetition in docs
    val docs = Seq(
      (1L, "low low low low"),
      (2L, "lower lower"),
      (3L, "newest newest newest newest newest newest"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bpeMerges(docs, "text", numMerges = 3)
      .as[(Long, String, String, Long)].collect().toSeq
    // pair counts round 1: (l,o)=6, (o,w)=6, (n,e)=6, (e,w)=6, (w,e)=8,
    // (e,s)=6, (s,t)=6, (w,o) from "lower"? no — "lower" = l o w e r:
    // (l,o)=2,(o,w)=2,(w,e)=2,(e,r)=2. "low": (l,o)=4,(o,w)=4.
    // "newest": (n,e)=6,(e,w)=6,(w,e)=6,(e,s)=6,(s,t)=6.
    // totals: (w,e)=8 wins round 1 -> "we"
    assert(got.head === ((1L, "w", "e", 8L)))
    assert(got.length === 3)
    // ranks are dense from 1 and counts never increase
    assert(got.map(_._1) === Seq(1L, 2L, 3L))
    assert(got.sliding(2).forall(p => p(0)._4 >= p(1)._4))
  }

  test("bpeMerges is deterministic and bounded by available pairs") {
    import spark.implicits._
    val docs = Seq((1L, "ab ab")).toDF("doc_id", "text")
    // "ab" has ONE pair; after merging (a,b) nothing remains to merge
    val got = TextAnalysis.bpeMerges(docs, "text", numMerges = 10)
      .as[(Long, String, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a", "b", 2L)))
  }

  test("bigramLm: counts with multiplicity, total (n desc, bigram asc) order") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"), // bigrams: "a b","b a","a b","b c"
      (2L, "a b"), // "a b"
      (3L, "solo"), // 1 token -> no bigrams
      (4L, "")) // empty -> no bigrams
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLm(docs, "text", 10)
      .as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a b", 3L), (2L, "b a", 1L), (3L, "b c", 1L)))
  }

  test("docLmCoverage: hit multiplicity, model-count sums, zero rows for short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "a b"),
      (3L, "x y"), // bigram "x y" below top-2 cut -> counted, no hits
      (4L, "solo"))
      .toDF("doc_id", "text")
    // top-2 model over this corpus: "a b" (n=3), "b a" (n=1) — "b c"/"x y"
    // tie at 1 but sort after "b a"
    val got = TextAnalysis.docLmCoverage(docs, "doc_id", "text", 2)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 4L, 3L, 7L), // 2x"a b"(3+3) + "b a"(1) hit; "b c" missed
      (2L, 1L, 1L, 3L),
      (3L, 1L, 0L, 0L),
      (4L, 0L, 0L, 0L)))
  }

  test("docLmScore: micro-nat sums over occurrences, floor per miss, zeros for short docs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b c"),
      (2L, "x y"), // out-of-model bigram -> floor only
      (3L, "solo"))
      .toDF("doc_id", "text")
    // top-2 model over THIS corpus: "a b" n=2, then "b a" wins the n=1
    // tie lexicographically; total model mass 3
    val lpAb = math.round(math.log(2.0 / 3.0) * 1e6)
    val lpBa = math.round(math.log(1.0 / 3.0) * 1e6)
    val got = TextAnalysis.docLmScore(docs, "doc_id", "text", topN = 2)
      .as[(Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got === Seq(
      (1L, 4L, 2 * lpAb + lpBa - 12000000L), // "b c" takes the floor
      (2L, 1L, -12000000L),
      (3L, 0L, 0L)))
  }

  test("collocations: planted phrase tops PMI, hapax pairs are gated") {
    import spark.implicits._
    // "new york" always adjacent (strong association); "the" pairs with
    // everything (weak); "rare gem" appears once -> killed by minCount
    val docs = (
      (1 to 6).map(i => (i.toLong, "new york the city")) ++
      Seq((7L, "the a the b the c rare gem"),
          (8L, "a b c the a"))).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 2, topN = 10)
      .as[(String, String, Long, Long, Long, Long)].collect()
    val byPair = got.map(r => (r._1, r._2) -> r).toMap
    assert(!byPair.contains(("rare", "gem"))) // hapax gated
    assert(byPair.contains(("new", "york")))
    // brute-force the exact micro-nat score with the same formula
    val texts = ((1 to 6).map(_ => "new york the city") ++
      Seq("the a the b the c rare gem", "a b c the a"))
    val toks = texts.map(_.split("\\s+").toSeq)
    val unis = toks.flatten
    val bigs = toks.flatMap(t => t.sliding(2).filter(_.size == 2).map(p => (p(0), p(1))))
    val n1 = unis.size.toLong
    val n2 = bigs.size.toLong
    val cU = unis.groupBy(identity).map { case (w, xs) => w -> xs.size.toLong }
    val cP = bigs.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    def pmiQ(w1: String, w2: String) = math.round(math.log(
      (cP((w1, w2)).toDouble * n1 * n1) /
        (n2.toDouble * cU(w1) * cU(w2))) * 1e6)
    got.foreach { case (w1, w2, cp, c1, c2, q) =>
      assert(cp === cP((w1, w2)) && c1 === cU(w1) && c2 === cU(w2))
      assert(q === pmiQ(w1, w2), s"pmi_q of ($w1,$w2)")
    }
    // the always-adjacent phrase outranks the promiscuous function word
    val newYork = byPair(("new", "york"))._6
    assert(got.filter(r => r._1 == "the" || r._2 == "the")
      .forall(_._6 < newYork))
  }

  test("tokenEntropyByGroup: uniform = ln(k) micro-nats, constant = 0") {
    import spark.implicits._
    val docs = Seq(
      ("x", "a a b b"), // uniform over 2 terms -> ln 2
      ("y", "a a a a"), // single term -> 0
      ("z", "a b c d")) // uniform over 4 -> ln 4
      .toDF("lang", "text")
    val got = TextAnalysis.tokenEntropyByGroup(docs, "text", "lang")
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    val ln2 = math.round(math.log(0.5) * 1e6) // -693147
    assert(got("x") === ((4L, 2L, (-(2 * ln2 + 2 * ln2)) / 4)))
    assert(got("y") === ((4L, 1L, 0L)))
    val ln4 = math.round(math.log(0.25) * 1e6)
    assert(got("z") === ((4L, 4L, (-(4 * ln4)) / 4)))
    // sanity: more spread = more entropy
    assert(got("z")._3 > got("x")._3 && got("x")._3 > got("y")._3)
  }

  test("repeatedSpans: finds the maximal shared run, once, with exact " +
    "coordinates; sub-threshold runs excluded") {
    import spark.implicits._
    val shared = (1 to 20).map(i => f"s$i%02d")       // the 20-token block
    val short = (1 to 6).map(i => f"t$i%02d")         // 6-token block (< min)
    def filler(p: String, n: Int) = (1 to n).map(i => f"$p$i%03d")
    val doc1 = (filler("a", 10) ++ shared ++ filler("b", 10) ++ short)
      .mkString(" ")                                   // shared at 11..30
    val doc2 = (filler("c", 4) ++ shared ++ filler("d", 6) ++ short)
      .mkString(" ")                                   // shared at 5..24
    val doc3 = filler("e", 30).mkString(" ")           // unrelated
    val docs = Seq((1L, doc1), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val got = TextAnalysis.repeatedSpans(docs, "doc_id", "text",
      k = 4, minSpanTokens = 10, maxDf = 5)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    // one maximal 20-token span, exact 1-based starts; the 6-token run
    // (span 6 < 10) is below threshold and absent
    assert(got === Set((1L, 2L, 11L, 5L, 20L)))
  }

  test("repeatedSpans: hot-shingle cap suppresses corpus-wide boilerplate") {
    import spark.implicits._
    val block = (1 to 12).map(i => f"h$i%02d")
    // the same block in 6 documents: every block shingle has df = 6 > 5,
    // so the cap drops them all — corpus-wide boilerplate is chunk-stat
    // territory, not pairwise-span territory
    val docs = (1L to 6L).map { d =>
      (d, ((1 to 5).map(i => f"u$d%02d$i%02d") ++ block).mkString(" "))
    }.toDF("doc_id", "text")
    val capped = TextAnalysis.repeatedSpans(docs, "doc_id", "text",
      k = 4, minSpanTokens = 10, maxDf = 5)
    assert(capped.isEmpty)
    // raising the cap above the corpus df restores all 15 pairs
    val uncapped = TextAnalysis.repeatedSpans(docs, "doc_id", "text",
      k = 4, minSpanTokens = 10, maxDf = 100)
    assert(uncapped.count() === 15L)
  }

  test("rrfFuse: consensus beats a single #1; integer scores exact") {
    import spark.implicits._
    // A ranks 1,2,3; B ranks 3,2,4. doc2 (2nd in both) and doc3 (1st+3rd)
    // both beat doc1 (a single #1) — the no-normalization consensus
    // property RRF is used for
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((3L, 1L), (2L, 2L), (4L, 3L)).toDF("doc_id", "rank")
    val got = TextAnalysis.rrfFuse(Seq(a, b), "doc_id", k0 = 60, topN = 10)
      .as[(Long, Long, Long)].collect().toSeq
    def r(k: Long) = 1000000L / (60L + k) // truncating, like div
    assert(got === Seq(
      (3L, r(1) + r(3), 1L), // 16393+15873 = 32266
      (2L, r(2) + r(2), 2L), // 32258
      (1L, r(1), 3L),
      (4L, r(3), 4L)))
  }

  test("inverted index: AND lookup equals the from-scratch computation, " +
    "the term predicate reaches the postings scan, and the layout " +
    "memoizes per dataset") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables(spark, sfDir, "documents")
    val path = TextAnalysis.invertedIndexFor(docs, "doc_id", "text",
      key = s"textidx-spec-$sfDir", spark = spark)
    val terms = Seq("vector", "merge", "spark")
    val got = TextAnalysis.indexLookupAll(spark, path, terms)
    // ground truth straight from the corpus: same tokenizer, same AND
    val tf = docs.where(col("text").isNotNull)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ' '), x -> x != '')")).as("t"))
      .where(col("t").isin(terms: _*))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("tf"))
    val expect = tf.groupBy("doc_id")
      .agg(countDistinct(col("t")).as("nt"),
        sum(when(col("t") === "vector", col("tf")).otherwise(0L)).as("tf_vector"),
        sum(when(col("t") === "merge", col("tf")).otherwise(0L)).as("tf_merge"),
        sum(when(col("t") === "spark", col("tf")).otherwise(0L)).as("tf_spark"),
        sum(col("tf")).as("score"))
      .where(col("nt") === 3).drop("nt")
    val cols = Seq("doc_id", "tf_vector", "tf_merge", "tf_spark", "score")
    assert(got.select(cols.map(col): _*).orderBy("doc_id").collect().toSeq ===
      expect.select(cols.map(col): _*).orderBy("doc_id").collect().toSeq)
    assert(got.count() > 0)
    // the lookup never touches the corpus: its scan is the postings
    // parquet with the In predicate pushed down
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters:") && plan.contains("In(term"), plan)
    assert(!plan.contains("documents.parquet"), plan)
    // memo: a second call returns the same layout without a rebuild
    val again = TextAnalysis.invertedIndexFor(
      sys.error("memo hit must not re-evaluate the input"): org.apache.spark.sql.DataFrame,
      "doc_id", "text", key = s"textidx-spec-$sfDir", spark = spark)
    assert(again === path)
  }

  test("bpeEncode: hand-traced merges, pre-tok classes, delimiter strip, " +
    "monotone in the merge list") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the theater"), // the->1; theater: th|e->the,a,t,e,r; e+r; a+t -> 3
      (2L, "zq xv"),       // no merge applies: 4 symbols stay 4 tokens
      (3L, "a1b2! c"),     // letter/digit/punct runs split: 6 single symbols
      (4L, "<<>>||"),      // delimiter chars are stripped -> empty
      (5L, "that onto"),   // th,at = 2; o+n? no: t-o wins later? hand: below
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 10L, 4L)))
    assert(got(2L) === ((2L, 4L, 4L)))
    assert(got(3L) === ((3L, 6L, 6L)))
    assert(got(4L) === ((4L, 0L, 0L)))
    // "that": t,h,a,t -> th,a,t (rank 1) -> th,at (rank 8) = 2
    // "onto": o,n,t,o -> on,t,o (rank 6) -> on,to (rank 18) = 2
    assert(got(5L) === ((5L, 8L, 4L)))
    assert(got(6L) === ((6L, 0L, 0L)))
    // each added merge can only shrink (or keep) every doc's token count
    val prefixes = (0 to TextAnalysis.frozenMerges.size).map { k =>
      TextAnalysis.bpeEncode(docs, "doc_id", "text",
        TextAnalysis.frozenMerges.take(k))
        .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    }
    prefixes.sliding(2).foreach { case Seq(a, b) =>
      a.keys.foreach(k => assert(b(k) <= a(k)))
    }
    // zero merges leaves every symbol a token
    assert(prefixes.head.values.toSeq.sorted ===
      got.values.map(_._2).toSeq.sorted)
  }

  test("bpeEncode: left-to-right greedy pass per rank (consecutive pairs)") {
    import spark.implicits._
    // merge (t,o) twice in "tototo": greedy left-to-right -> to,to,to;
    // "ototo" -> o,to,to (first char unpaired)
    val docs = Seq((1L, "tototo"), (2L, "ototo")).toDF("doc_id", "text")
    val got = TextAnalysis.bpeEncode(docs, "doc_id", "text")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got(1L) === 3L)
    assert(got(2L) === 3L)
  }

  test("dupNgramStats: hand-computed top-gram mass, dup mass, short docs " +
    "zeroed, packed tie-break determinism") {
    import spark.implicits._
    val docs = Seq(
      // "a b a b a b": bigram "a b" x3 (packed winner), "b a" x2;
      // 5-grams both distinct -> dup5 = 0; n_chars = 11
      (1L, "a b a b a b"),
      (2L, "hi"), // one token: no grams at any n -> all zeros
      // 8 tokens of one word: every n-gram duplicates for n <= 6;
      // 7-gram x2 -> dup7 > 0; single 8-gram -> dup8 = 0
      (3L, "w w w w w w w w"),
      (4L, "") // empty: all zeros via the left join
    ).toDF("doc_id", "text")
    val out = TextAnalysis.dupNgramStats(docs, "doc_id", "text")
    val cols = out.columns.toSeq
    assert(cols === Seq("doc_id", "top2_cnt", "top2_ppm", "top3_cnt",
      "top3_ppm", "top4_cnt", "top4_ppm", "dup5_ppm", "dup6_ppm",
      "dup7_ppm", "dup8_ppm"))
    val got = out.collect().map(r => r.getLong(0) ->
      cols.tail.map(c => r.getAs[Long](c))).toMap
    // doc 1: top2 "a b" cnt 3, mass 9 -> 9e6/11 = 818181
    assert(got(1L)(0) === 3L && got(1L)(1) === 818181L)
    // top3: "a b a" x2 vs "b a b" x2 — equal cnt AND mass: packed equal,
    // ppm well-defined: mass 10 -> 909090
    assert(got(1L)(2) === 2L && got(1L)(3) === 909090L)
    assert(got(1L)(6) === 0L && got(1L)(7) === 0L) // dup5, dup6
    assert(got(2L) === Seq.fill(10)(0L))
    assert(got(4L) === Seq.fill(10)(0L))
    // doc 3 (n_chars 15): dup7 mass = 2 * 13 = 26 -> 26e6/15 = 1733333
    assert(got(3L)(8) === 1733333L)
    assert(got(3L)(9) === 0L) // dup8: the single 8-gram is not duplicate
    // dup5: 4 occurrences of the one distinct 5-gram, mass 4*9=36
    assert(got(3L)(6) === 36L * 1000000L / 15L)
  }

  test("DupNgramStats kernel equals a from-scratch reference over seeded " +
    "random token arrays (small vocab -> dense duplicates; unicode " +
    "tokens pin code-point vs UTF-16 length)") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def reference(toks: Seq[String]): Seq[Long] = {
      val out = Array.fill(10)(0L)
      for (g <- 2 to 8; if toks.size >= g) {
        val counts = toks.sliding(g).map(_.mkString(" ")).toSeq
          .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
        def chars(s: String) = s.codePointCount(0, s.length).toLong
        if (g <= 4) {
          val top = counts
            .map { case (k, c) => c * 1000000000L + c * chars(k) }
            .foldLeft(0L)(math.max)
          out((g - 2) * 2) = top / 1000000000L
          out((g - 2) * 2 + 1) = top % 1000000000L
        } else out(6 + g - 5) = counts.collect {
          case (k, c) if c >= 2 => c * chars(k)
        }.sum
      }
      out.toSeq
    }
    // vocab mixes ascii, CJK and an astral-plane emoji (UTF-16 length 2,
    // code-point length 1 — a chars-vs-utf16 bug shows immediately)
    val vocab = Vector("t0", "t1", "風扇", "😀", "longertoken5")
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 300) {
      val n = rnd.nextInt(30)
      val toks = Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      val got = org.apache.spark.sql.graft.DupNgramStats
        .compute(new GenericArrayData(
          toks.map(UTF8String.fromString).toArray[Any]))
        .toLongArray().toSeq
      assert(got === reference(toks), s"trial $trial toks=$toks")
    }
  }

  test("winnow incremental verdict: a new doc sharing a long verbatim run " +
    "with a reference doc drops, clean and too-short docs pass, and the " +
    "memoized-ref path equals the uncached one") {
    import spark.implicits._
    val excerpt = "a very long shared run of characters for the index"
    val ref = Seq(
      (1L, "ref doc says " + excerpt + " and more"),
      (2L, "another unrelated reference document entirely")
    ).toDF("doc_id", "text")
    val fresh = Seq(
      (10L, "incoming copy with " + excerpt + " inside"),   // -> dropped
      (11L, "totally novel incoming content qqq zzz"),       // -> kept
      (12L, "hi")                                            // too short
    ).toDF("doc_id", "text")
    val got = TextAnalysis.winnowIncrementalVerdict(fresh, ref,
      "doc_id", "text", minShared = 1)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got(10L)._2 >= 1L && got(10L)._3 === 1L, got.toString)
    assert(got(11L) === ((11L, 0L, 0L)) && got(12L) === ((12L, 0L, 0L)))
    val cached = TextAnalysis.winnowIncrementalVerdict(fresh, ref,
      "doc_id", "text", minShared = 1, refKey = Some("winc-test"))
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(cached === got)
  }

  test("DSIR importance weights: identity predicate zeroes every weight, " +
    "target-like docs outrank off-target ones, short/null docs zero, " +
    "and sampleDsir is deterministic with |result| <= k") {
    import spark.implicits._
    // two sub-languages: target docs repeat "alpha beta", raw noise docs
    // repeat "gamma delta" — the target model loves one, the raw model
    // splits its mass, so target docs must carry strictly higher logw_q
    val docs = (
      (1L to 10L).map(i => (i, "alpha beta alpha beta alpha beta", "en")) ++
      (11L to 20L).map(i => (i, "gamma delta gamma delta gamma delta", "de")) ++
      Seq((21L, "alpha", "en"), (22L, null.asInstanceOf[String], "de"))
    ).toDF("doc_id", "text", "lang")
    // law 1: target == whole corpus -> both models identical -> logw_q 0
    val ident = TextAnalysis.importanceWeights(docs, "doc_id", "text",
      lit(true), topN = 50)
      .as[(Long, Long, Long)].collect()
    assert(ident.forall(_._3 === 0L), ident.mkString(","))
    // law 2: en-target weights separate the sub-languages
    val w = TextAnalysis.importanceWeights(docs, "doc_id", "text",
      col("lang") === "en", topN = 50)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert((1L to 10L).forall(i => w(i)._3 > w(11L)._3),
      w.values.toSeq.sortBy(_._1).mkString(","))
    // law 3: <2 tokens / null text -> 0 bigrams, 0 weight
    assert(w(21L)._2 === 0L && w(21L)._3 === 0L)
    assert(w(22L)._2 === 0L && w(22L)._3 === 0L)
    // law 4: selection keeps the k highest and replays identically
    val pick = TextAnalysis.sampleDsir(docs, "doc_id", "text",
      col("lang") === "en", k = 10, topN = 50)
      .as[(Long, Long)].collect()
    assert(pick.length === 10 && pick.forall(_._1 <= 10L), pick.mkString(","))
    val again = TextAnalysis.sampleDsir(docs, "doc_id", "text",
      col("lang") === "en", k = 10, topN = 50)
      .as[(Long, Long)].collect()
    assert(pick.toSeq === again.toSeq)
  }

  test("WinnowFingerprints kernel equals a from-scratch reference over " +
    "seeded random texts across (k, w), including w=1, empty, and " +
    "multi-byte chars (dropped whole by the byte-level canonicalizer)") {
    import org.apache.spark.unsafe.types.UTF8String
    def reference(text: String, k: Int, w: Int): Seq[String] = {
      val canon = text.toLowerCase.filter(c =>
        (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9'))
      if (canon.length < k) return Seq.empty
      val md = java.security.MessageDigest.getInstance("MD5")
      val grams = canon.sliding(k).map { g =>
        val d = md.digest(g.getBytes("UTF-8"))
        d.take(8).map(b => f"${b & 0xff}%02x").mkString
      }.toVector
      if (grams.length < w) Seq.empty
      else grams.sliding(w).map(_.min).toVector.distinct.sorted
    }
    // vocab: ascii case/digits/punct/space + CJK and an astral emoji
    // (multi-byte — every byte >= 0x80, so the kernel drops the char
    // exactly like the reference's filter; no U+212A/U+0130-class chars,
    // whose exotic lower-case folds are documented out of scope)
    val vocab = "aAbBzZ059 .,-!風😀"
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 300) {
      val text = Seq.fill(rnd.nextInt(200))(
        vocab(rnd.nextInt(vocab.length))).mkString
      val k = 3 + rnd.nextInt(4)
      val w = 1 + rnd.nextInt(5)
      val got = org.apache.spark.sql.graft.WinnowFingerprints
        .compute(UTF8String.fromString(text), k, w)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      assert(got === reference(text, k, w), s"trial $trial k=$k w=$w text=$text")
      assert(got === got.sorted, "kernel output must be sorted (digest relies on it)")
    }
  }

  test("winnowing: the >= k+w-1 shared-substring guarantee holds, the " +
    "canonicalization is whitespace/punct-insensitive, short docs " +
    "zeroed, and the pair step finds plants without inventing pairs") {
    import spark.implicits._
    // k=5, w=4: any shared canonical substring of >= 8 chars must leave
    // a shared fingerprint. Docs 1/2 share "sharedrun..." (>= 8 canonical
    // chars) inside different surroundings; doc 3 shares with doc 1 only
    // via DIFFERENT spacing/punct (canonicalization must erase that);
    // doc 4 is unrelated; doc 5 too short; doc 6 null.
    val shared = "sharedrunofcharacters"
    val docs = Seq(
      (1L, "alpha " + shared + " omega"),
      (2L, "zzz prefix " + shared + " and more words here"),
      (3L, "ALPHA!! " + shared.grouped(4).mkString(" ") + "-omega"),
      (4L, "completely unrelated content block qqq"),
      (5L, "hi"),
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(fps(5L)._2 === 0L && fps(6L)._2 === 0L)
    assert(fps(5L)._3 === fps(6L)._3) // both digest the empty set
    assert(fps(1L)._2 > 0L && fps(1L)._2 <= 22L) // <= window count
    // doc 3 canonicalizes to the same char stream as doc 1 -> identical
    // fingerprint SET (surroundings differ only in case/punct/spacing)
    assert(fps(1L)._3 === fps(3L)._3)
    // guarantee + pair step: every plant found with a low minShared, and
    // the unrelated doc never pairs
    val pairs = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 20)
      .as[(Long, Long, Long)].collect().map(r => (r._1, r._2)).toSet
    assert(pairs.contains((1L, 2L)), s"guarantee violated: $pairs")
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 === 4L || p._2 === 4L))
    // determinism across runs
    val again = TextAnalysis.winnowFingerprints(docs, "doc_id", "text")
      .as[(Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(again === fps)
    // cluster closure: 1-2 and 1-3 pairs close {1,2,3} into one cluster
    // labeled by its min id; the unrelated doc never appears
    val cl = Dedup.connectedComponents(
      TextAnalysis.winnowPairs(docs, "doc_id", "text",
        minShared = 1, maxDf = 20).select($"id_a", $"id_b"),
      "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L).forall(cl.get(_).contains(1L)), cl.toString)
    assert(!cl.contains(4L), cl.toString)
  }

  test("winnowPairs materialization is leak-free: repeated calls return " +
    "identical pairs and register NO CacheManager entry (lineage pins " +
    "only — safe for long-lived sessions and per-micro-batch streaming; " +
    "the r16-r18 persist+rotation machinery is gone)") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "THE QUICK  brown fox... jumps over the lazy dog AGAIN and again"),
      (3L, "completely different content that pairs with nothing here")
    ).toDF("doc_id", "text")
    val cm = spark.sharedState.cacheManager
    cm.clearCache()
    val first = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 20)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    val second = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      minShared = 1, maxDf = 20)
      .as[(Long, Long, Long)].collect().sorted.toSeq
    assert(second === first)
    assert(first.nonEmpty)
    assert(cm.isEmpty, "winnowPairs must not register a cache entry")
  }

  test("substringCut: earliest doc keeps its copy; later docs lose the " +
    "interval UNION of marked spans (identical and overlapping marks " +
    "never double-count); short and null docs zeroed") {
    import spark.implicits._
    def toks(p: String, a: Int, b: Int) =
      (a until b).map(i => s"$p$i").mkString(" ")
    val run = toks("r", 0, 20) // the 20-token verbatim repeat
    val docs = Seq(
      (1L, toks("a", 0, 10) + " " + run + " " + toks("a", 10, 20)), // 40 tk
      (2L, toks("b", 0, 7) + " " + run + " " + toks("b", 7, 12)),   // 32 tk
      (3L, toks("c", 0, 5) + " " + run),                            // 25 tk
      (4L, "short text"),
      (5L, null.asInstanceOf[String]),
      // overlap-union block: 9 is the source; 10/11 copy halves; 12 is a
      // full clone and collects THREE marks ([1,30], [1,20], [11,30])
      (9L, toks("s", 0, 30)),
      (10L, toks("s", 0, 20)),
      (11L, toks("s", 10, 30)),
      (12L, toks("s", 0, 30))
    ).toDF("doc_id", "text")
    val got = TextAnalysis.substringCut(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.size === 9)
    assert(got(1L) === ((1L, 40L, 0L, 40L))) // smallest id: keeps all
    assert(got(2L) === ((2L, 32L, 20L, 12L)))
    // marked identically by docs 1 AND 2 at [6, 25] — one interval
    assert(got(3L) === ((3L, 25L, 20L, 5L)))
    assert(got(4L) === ((4L, 2L, 0L, 2L)))
    assert(got(5L) === ((5L, 0L, 0L, 0L)))
    assert(got(9L) === ((9L, 30L, 0L, 30L)))
    assert(got(10L) === ((10L, 20L, 20L, 0L)))
    // vs 9: full [1,20]; vs 10 only 10 shared tokens — below minSpan
    assert(got(11L) === ((11L, 20L, 20L, 0L)))
    // three overlapping marks union to [1, 30], counted once
    assert(got(12L) === ((12L, 30L, 30L, 0L)))
  }

  test("bpeFertility: per-language integer sums and exact ppm ratio; " +
    "empty-language guard divides by 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "en", "the theater"), // ws 2; bpe 1 + 3 = 4
      (2L, "en", "that onto"),   // ws 2; bpe 2 + 2 = 4
      (3L, "xx", "zq xv"),       // ws 2; bpe 4 (no merge applies)
      (4L, "nn", null.asInstanceOf[String]) // ws 0; bpe 0 -> ppm 0
    ).toDF("doc_id", "lang", "text")
    val got = TextAnalysis
      .bpeFertility(docs, "doc_id", "text", "lang")
      .as[(String, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got("en") === (("en", 2L, 4L, 8L, 2000000L)))
    assert(got("xx") === (("xx", 1L, 2L, 4L, 2000000L)))
    assert(got("nn") === (("nn", 1L, 0L, 0L, 0L)))
  }

  test("winnow df-cap drop is OBSERVED, never silent: a planted hot " +
    "fingerprint corpus reports dropped_fingerprints/postings and " +
    "produces no pairs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // 25 docs (> maxDf = 20) all embed the SAME long canonical run, so
    // its interior winnow fingerprints have df = 25 and must be dropped;
    // each doc's unique filler keeps boundary fingerprints distinct, so
    // with the hot set shed there is NOTHING left to pair on
    val hotRun = "thisboilerplatefooterisrepeatedverbatimacrosseverysingle" +
      "documentinthecorpusandkeepsgoingonforawhile"
    // filler i = 12 copies of letter i: no two docs share any filler
    // k-gram (digit fillers would — "lead1" is a substring of "lead19")
    val docs = (1 to 25)
      .map(i => (i.toLong, ('a' + i - 1).toChar.toString * 12 + " " + hotRun))
      .toDF("doc_id", "text")
    val metrics =
      new java.util.concurrent.ConcurrentHashMap[
        String, org.apache.spark.sql.Row]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution,
                             ns: Long): Unit =
        qe.observedMetrics.foreach { case (n, r) => metrics.put(n, r) }
      override def onFailure(f: String, qe: QueryExecution,
                             e: Exception): Unit = ()
    }
    def await(name: String): org.apache.spark.sql.Row = {
      val deadline = System.currentTimeMillis + 30000
      while (System.currentTimeMillis < deadline) {
        val r = metrics.get(name)
        if (r != null) return r
        Thread.sleep(50)
      }
      fail(s"observed metric $name never arrived; saw ${metrics.keySet()}")
    }
    spark.listenerManager.register(listener)
    try {
      // minShared = 8 (the default): window-min selection is context-
      // dependent near the filler|run boundary, so two docs can share a
      // stray below-cap fingerprint or two — but only the capped hot run
      // could ever reach 8 shared
      val pairs = TextAnalysis.winnowPairs(docs, "doc_id", "text",
        minShared = 8, maxDf = 20).collect()
      assert(pairs.isEmpty,
        s"hot-capped corpus must yield no pairs, got ${pairs.length}")
      val m = await("winnow_df_cap")
      val droppedFps = m.getAs[Long]("dropped_fingerprints")
      val droppedPost = m.getAs[Long]("dropped_postings")
      assert(droppedFps >= 1L, "the planted hot fingerprints must be cut")
      // every dropped fingerprint carried more than maxDf postings
      assert(droppedPost >= droppedFps * 21L, s"$droppedFps/$droppedPost")

      // the incremental reference index reports through its own metric.
      // new doc 101 shares a BELOW-cap run with ref doc 3 only (df = 1
      // in the ref index) -> it must still be caught after the hot run
      // is shed; new doc 102 matches nothing
      val rareRun = "araretwentysixletterrunsharedbyexactlyonereference" +
        "documentandonenewarrivalnothingelse"
      val fresh = Seq(
        (101L, "mmmm " + rareRun), (102L, "nnnn unrelated arrival")
      ).toDF("doc_id", "text")
      val ref = docs.where($"doc_id" > 2).withColumn("text",
        concat($"text", when($"doc_id" === 3L, lit(" " + rareRun))
          .otherwise(lit(""))))
      val verdicts = TextAnalysis.winnowIncrementalVerdict(
        fresh, ref, "doc_id", "text", minShared = 8, maxDf = 20)
        .collect().map(r => r.getAs[Long]("new_id") ->
          r.getAs[Long]("dropped")).toMap
      // 101 caught via the rare run; 102 clean — and the 23-doc hot run
      // was cut from the ref index without hiding the rare match
      assert(verdicts === Map(101L -> 1L, 102L -> 0L))
      val rm = await("winnow_ref_df_cap")
      assert(rm.getAs[Long]("dropped_fingerprints") >= 1L)
    } finally spark.listenerManager.unregister(listener)
  }

  test("lexicalDiversity: hand-computed TTR and hapax share; empty and " +
    "null docs zeroed") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a a a b"),          // 4 tokens, 2 types, 1 hapax (b)
      (2L, "x y z"),            // 3 tokens, 3 types, 3 hapax
      (3L, ""),                 // no tokens
      (4L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(1L) === ((1L, 4L, 2L, 1L, 500000L, 500000L)))
    assert(got(2L) === ((2L, 3L, 3L, 3L, 1000000L, 1000000L)))
    assert(got(3L) === ((3L, 0L, 0L, 0L, 0L, 0L)))
    assert(got(4L) === ((4L, 0L, 0L, 0L, 0L, 0L)))
  }

  test("perplexityBuckets: terciles are per-lang, rank-based, " +
    "deterministic; model-fluent docs land in the head, gibberish and " +
    "empty docs in the tail") {
    import spark.implicits._
    // 6 en docs: 3 made of the corpus' dominant bigram stream (cheap),
    // 2 of out-of-model gibberish (floor cost), 1 empty (pinned floor);
    // 3 xx docs bucket independently of the en ranks
    val fluent = "the cat sat on the mat and the cat sat again"
    val docs = Seq(
      (1L, fluent, "en"), (2L, fluent + " the cat sat", "en"),
      (3L, "the cat sat on the mat", "en"),
      (4L, "qq ww ee rr tt yy", "en"), (5L, "zz xx cc vv bb nn", "en"),
      (6L, "", "en"),
      (7L, fluent, "xx"), (8L, "uu ii oo pp", "xx"), (9L, "", "xx")
    ).toDF("doc_id", "text", "lang")
    val got = TextAnalysis.perplexityBuckets(docs, "doc_id", "text",
      "lang", topN = 50)
      .select("doc_id", "lang", "ppl_bucket")
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    // en: 6 docs -> ranks 1-2 head, 3-4 middle, 5-6 tail
    val enBuckets = (1L to 6L).map(got(_)._3)
    assert(enBuckets.count(_ == "head") === 2)
    assert(enBuckets.count(_ == "middle") === 2)
    assert(enBuckets.count(_ == "tail") === 2)
    // the fluent docs beat the gibberish, gibberish beats nothing: the
    // empty doc (floor cost) and one gibberish doc are the tail
    assert(got(6L)._3 === "tail")
    assert(Seq(got(4L)._3, got(5L)._3).contains("tail"))
    assert(got(1L)._3 === "head" || got(2L)._3 === "head" ||
      got(3L)._3 === "head")
    // xx: 3 docs -> exactly one of each bucket, ranked within xx only
    val xxBuckets = (7L to 9L).map(got(_)._3)
    assert(xxBuckets.sorted === Seq("head", "middle", "tail"))
    assert(got(7L)._3 === "head") // fluent
    assert(got(9L)._3 === "tail") // empty
    // determinism
    val again = TextAnalysis.perplexityBuckets(docs, "doc_id", "text",
      "lang", topN = 50)
      .select("doc_id", "lang", "ppl_bucket")
      .as[(Long, String, String)].collect().map(r => r._1 -> r).toMap
    assert(again === got)
  }

  test("rhoExcess: a doc the holdout model explains but the train model " +
    "doesn't gets POSITIVE excess and wins selection; train-typical docs " +
    "go negative; holdout docs never appear") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),   // train-typical: in train LM, OOV to holdout
      (2L, "a b a b"),
      (3L, "h k h k"),       // train-RARE but holdout-common: learnable
      (7L, "h k h k h k h k") // the held-out fold (doc_id % 10 == 7)
    ).toDF("doc_id", "text")
    val ho = pmod(col("doc_id"), lit(10)) === 7
    // topN=2: train model = {a b, b a}; holdout model = {h k, k h}
    val got = TextAnalysis.rhoExcess(docs, "doc_id", "text", ho, topN = 2)
      .as[(Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(got.keySet === Set(1L, 2L, 3L), "holdout docs must not score")
    assert(got(3L)._5 > 0L, s"learnable doc must have positive excess: $got")
    assert(got(1L)._5 < 0L && got(2L)._5 < 0L,
      s"train-typical docs must have negative excess: $got")
    assert(got(3L)._2 === 3L) // h k, k h, h k
    val sel = TextAnalysis.sampleRho(docs, "doc_id", "text", ho, k = 1,
      topN = 2).select("doc_id").as[Long].collect()
    assert(sel.toSeq === Seq(3L))
  }

  test("gopherRules: each rule fires on its planted violation and stays " +
    "quiet on a clean document; null text fails the word-count gate") {
    import spark.implicits._
    // 10 words incl. 4 distinct stop words, all alphabetic, mean wlen
    // 33/10 chars — repeated 6x = a 60-word clean document
    val clean = Seq.fill(6)("the cat and the dog have fun with big toys")
      .mkString(" ")
    val bullets = (1 to 9).map(i => s"- item $i").mkString("\n") + "\nplain"
    val ellipsisDoc = "first line goes on...\nsecond line also trails…\n" +
      "a plain line\nanother plain line"
    val docs = Seq(
      (1L, clean),
      (2L, "tiny doc"),                 // word count + stopwords
      (3L, bullets),                    // 9 of 10 lines bulleted -> NOT
      // flagged (exactly 90% is not > 90%)
      (4L, (1 to 10).map(i => s"- b $i").mkString("\n")), // 10/10 -> flags
      (5L, ellipsisDoc),                // 2 of 4 lines -> 50% > 30%
      (6L, "x ###### y"),               // symbols + non-alpha word
      (7L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getValuesMap[Long](Seq(
        "n_words", "sum_chars", "n_hash", "n_ellipsis", "n_lines",
        "n_bullet_lines", "n_ellipsis_lines", "n_alpha_words",
        "n_stopword_hits", "r_word_count", "r_mean_wlen",
        "r_symbol_ratio", "r_bullet", "r_ellipsis", "r_alpha",
        "r_stopwords", "pass"))).toMap
    val d1 = got(1L)
    assert(d1("n_words") === 60L && d1("sum_chars") === 33L * 6)
    assert(d1("n_stopword_hits") === 4L && d1("pass") === 1L)
    val d2 = got(2L)
    assert(d2("r_word_count") === 1L && d2("r_stopwords") === 1L &&
      d2("r_mean_wlen") === 0L && d2("pass") === 0L)
    assert(got(3L)("n_bullet_lines") === 9L && got(3L)("r_bullet") === 0L)
    assert(got(4L)("r_bullet") === 1L)
    val d5 = got(5L)
    assert(d5("n_ellipsis_lines") === 2L && d5("r_ellipsis") === 1L &&
      d5("n_ellipsis") === 2L)
    val d6 = got(6L)
    assert(d6("n_hash") === 6L && d6("r_symbol_ratio") === 1L &&
      d6("n_alpha_words") === 2L && d6("r_alpha") === 1L)
    val d7 = got(7L)
    assert(d7("n_words") === 0L && d7("r_word_count") === 1L &&
      d7("pass") === 0L)
  }

  test("c4Filters: line keeps need terminal punctuation AND five words; " +
    "each page gate fires on its plant; kept_chars sums raw kept lines") {
    import spark.implicits._
    val l1 = "This is a good line with punctuation."
    val l2 = "short line"
    val l3 = "Another proper sentence line here today!"
    val l4 = "no terminal punctuation on this long line"
    val l5 = "A third full sentence appears right here."
    val good = Seq(l1, l2, l3, l4, l5).mkString("\n")
    val docs = Seq(
      (1L, good),
      (2L, "Plenty of words but Lorem Ipsum lurks inside here today.\n" +
        "Second proper sentence right here friends.\nThird one lands now."),
      (3L, "A code block { appears here today.\nMore sentences follow on." +
        "\nAnd a third one too."),
      (4L, "Some JavaScript mention appears right here.\nSecond full " +
        "sentence lands here.\nThird sentence closes it out."),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val got = TextAnalysis.c4Filters(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getValuesMap[Long](Seq(
        "n_lines", "n_kept_lines", "kept_chars", "n_sentences",
        "f_lorem", "f_brace", "f_javascript", "f_few_sentences",
        "kept"))).toMap
    val d1 = got(1L)
    assert(d1("n_lines") === 5L && d1("n_kept_lines") === 3L)
    assert(d1("kept_chars") === (l1.length + l3.length + l5.length).toLong)
    assert(d1("n_sentences") === 3L && d1("kept") === 1L)
    assert(got(2L)("f_lorem") === 1L && got(2L)("kept") === 0L)
    assert(got(3L)("f_brace") === 1L && got(3L)("kept") === 0L)
    assert(got(4L)("f_javascript") === 1L && got(4L)("kept") === 0L)
    val d5 = got(5L)
    assert(d5("n_kept_lines") === 0L && d5("f_few_sentences") === 1L &&
      d5("kept") === 0L)
  }

  test("GopherStats/C4Stats kernels: count-for-count identical to the " +
    "declarative expression battery they replaced, on the sf corpus " +
    "plus adversarial whitespace/unicode fixtures") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val fixtures = Seq(
      (9000001L, null.asInstanceOf[String]),
      (9000002L, ""),
      (9000003L, "   "),
      (9000004L, "\n\n\n"),
      (9000005L, "a\tbc\fd\re f"),          // every \s class
      (9000006L, "  - leading spaces bullet\n\t- tab before dash\n" +
        "* star\n• unicode bullet\nplain"),        // ltrim is space-only
      (9000007L, "ends in dots...\nends in dots...   \n" +
        "ends in ellipsis…\nends with tab after dots...\t\n......"),
      (9000008L, "The QUICK Brown FOX has #hash## tags... and…more…"),
      (9000009L, "😀 emoji words 😀😀 " +
        "count once. Five words here to keep!"),   // surrogate pairs
      (9000010L, "İstanbul STRASSE ÄÖÜ weiß"),     // case-fold edge chars
      (9000011L, "Good sentence line with five words.\nfour words not " +
        "kept.\nA quoted keeper line it is \"\nShort.\nno terminal here " +
        "at all\nBrace { page gate\nJAVASCRIPT shouts\nlorem IPSUM mixed"),
      (9000012L, "trailing newline keeps empty line\n"),
      (9000013L, "the be to of and that have with"), // all 8 stopwords
      (9000014L, "汉字没有空格但有句号。!?...")       // CJK + terminal marks
    ).toDF("doc_id", "text")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), col("text"))
      .unionByName(fixtures)
    // the pre-kernel declarative forms, verbatim
    def declGopher(d: org.apache.spark.sql.DataFrame) = {
      val txt = coalesce(col("text"), lit(""))
      val low = lower(trim(txt))
      val words = filter(graft.functions.GraftFunctions.tokens(txt),
        w => length(w) > 0)
      val lines = split(txt, "\n")
      val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
      d.select(
        col("doc_id"),
        size(words).cast("long").as("n_words"),
        length(regexp_replace(low, "\\s+", "")).cast("long").as("sum_chars"),
        (length(txt) - length(replace(txt, lit("#"), lit(""))))
          .cast("long").as("n_hash"),
        (((length(txt) - length(replace(txt, lit("..."), lit("")))) / 3)
          .cast("long") +
          (length(txt) - length(replace(txt, lit("…"), lit(""))))
            .cast("long")).as("n_ellipsis"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, l => ltrim(l).startsWith("-") ||
          ltrim(l).startsWith("*") || ltrim(l).startsWith("•")))
          .cast("long").as("n_bullet_lines"),
        size(filter(lines, l => rtrim(l).endsWith("...") ||
          rtrim(l).endsWith("…"))).cast("long").as("n_ellipsis_lines"),
        size(filter(words, _.rlike("[a-z]"))).cast("long")
          .as("n_alpha_words"),
        stops.map(sw => when(array_contains(words, sw), 1L).otherwise(0L))
          .reduce(_ + _).as("n_stopword_hits"))
    }
    def declC4(d: org.apache.spark.sql.DataFrame) = {
      val txt = coalesce(col("text"), lit(""))
      val low = lower(txt)
      val lines = split(txt, "\n")
      def keptLine(l: org.apache.spark.sql.Column) = {
        val t = rtrim(l)
        (t.endsWith(".") || t.endsWith("!") || t.endsWith("?") ||
          t.endsWith("\"")) &&
          size(filter(split(trim(l), "\\s+"), w => length(w) > 0)) >= 5
      }
      d.select(
        col("doc_id"),
        size(lines).cast("long").as("n_lines"),
        size(filter(lines, keptLine _)).cast("long").as("n_kept_lines"),
        aggregate(filter(lines, keptLine _), lit(0L),
          (acc, l) => acc + length(l).cast("long")).as("kept_chars"),
        (length(txt) - length(translate(txt, ".!?", ""))).cast("long")
          .as("n_sentences"),
        low.contains("lorem ipsum").cast("long").as("f_lorem"),
        low.contains("{").cast("long").as("f_brace"),
        low.contains("javascript").cast("long").as("f_javascript"))
    }
    val gCols = Seq("n_words", "sum_chars", "n_hash", "n_ellipsis",
      "n_lines", "n_bullet_lines", "n_ellipsis_lines", "n_alpha_words",
      "n_stopword_hits")
    val gGot = TextAnalysis.gopherRules(docs, "doc_id", "text")
      .select("doc_id", gCols: _*)
    assert(gGot.except(declGopher(docs)).count() === 0L &&
      declGopher(docs).except(gGot).count() === 0L, "gopher kernel drift")
    val cCols = Seq("n_lines", "n_kept_lines", "kept_chars",
      "n_sentences", "f_lorem", "f_brace", "f_javascript")
    val cGot = TextAnalysis.c4Filters(docs, "doc_id", "text")
      .select("doc_id", cCols: _*)
    assert(cGot.except(declC4(docs)).count() === 0L &&
      declC4(docs).except(cGot).count() === 0L, "c4 kernel drift")
  }

  test("Gopher/C4 filter batteries are STREAMING-SAFE: the same row-local " +
    "expressions run directly on a stream (no foreachBatch) with verdicts " +
    "equal to the batch pass, independent of batch boundaries") {
    import spark.implicits._
    import graft.operators.TextAnalysis
    val tmp = Files.createTempDirectory("gate-stateless").toString
    val docs = Seq(
      (1L, Seq.fill(6)("the cat and the dog have fun with big toys")
        .mkString(" ")),
      (2L, "tiny doc"),
      (3L, (1 to 10).map(i => s"- b $i").mkString("\n")),
      (4L, null.asInstanceOf[String]))
    val batch = TextAnalysis.gopherRules(
        docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "pass").as[(Long, Long)].collect().toMap
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[(Long, String)]
    // ROW-LOCAL means the battery composes with readStream directly —
    // no state, no foreachBatch, exactly-once by projection purity
    val q = TextAnalysis.gopherRules(
        ms.toDF().toDF("doc_id", "text"), "doc_id", "text")
      .select("doc_id", "pass")
      .writeStream.format("parquet")
      .option("path", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(Trigger.ProcessingTime(0))
      .start()
    try {
      ms.addData(docs(0), docs(1)) // two boundaries, same verdicts
      q.processAllAvailable()
      ms.addData(docs(2), docs(3))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(s"$tmp/out")
      .as[(Long, Long)].collect().toMap
    assert(streamed === batch)
  }

  test("lineDedup: corpus-hot lines drop everywhere, order and " +
    "whitespace structure survive, all-dropped pages go empty") {
    import spark.implicits._
    val banner = "COOKIE BANNER"
    // 12 docs carry the banner (> maxDocFreq 10); 2 carry a rare line
    val docs = ((1 to 12).map(i =>
      (i.toLong, s"$banner\nbody $i\n\n$banner")) ++ Seq(
      (20L, "rare shared\nown text"),
      (21L, "rare shared\nmore text"),
      (22L, s"$banner\n$banner")) // every nonempty line hot
    ).toDF("doc_id", "text")
    val got = TextAnalysis.lineDedup(docs, "doc_id", "text",
      maxDocFreq = 10)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // banner dropped twice, body + the EMPTY structural line kept in order
    assert(got(1L) === ((4L, 2L, "body 1\n")))
    // df=2 <= 10: rare lines survive
    assert(got(20L) === ((2L, 0L, "rare shared\nown text")))
    // all nonempty lines hot -> empty clean_text, counts still honest
    assert(got(22L) === ((2L, 2L, "")))
  }

  test("kneserNeyBigrams: exact BigInt recompute on a planted corpus, " +
    "and probabilities over the full vocabulary sum to EXACTLY 1") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat ate the fish"),
      (3L, "a dog sat on a mat"),
      (4L, "one-word"),
      (5L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.kneserNeyBigrams(docs, "text", Int.MaxValue)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap

    // local brute force with BigInt rational arithmetic
    val texts = Seq("the cat sat on the mat", "the cat ate the fish",
      "a dog sat on a mat", "one-word", "")
    val occ = texts.flatMap { t =>
      val ws = t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (ws.length >= 2) ws.sliding(2).map(p => (p(0), p(1))).toSeq
      else Seq.empty
    }
    val c12 = occ.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = c12.groupBy(_._1._1).view
      .mapValues(_.values.sum).toMap
    val n1f = c12.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1b = c12.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val bTypes = c12.size.toLong
    assert(got.size === c12.size)
    c12.foreach { case ((w1, w2), c) =>
      val (gc12, gc1, gn1f, gn1b, pPpb, lPpb) = got(s"$w1 $w2")
      assert(gc12 === c && gc1 === c1(w1) && gn1f === n1f(w1) &&
        gn1b === n1b(w2), s"$w1 $w2")
      val num = BigInt(4 * c - 3) * bTypes + BigInt(3) * n1f(w1) * n1b(w2)
      val den = BigInt(4) * c1(w1) * bTypes
      assert(BigInt(pPpb) === num * 1000000000 / den, s"p($w2|$w1)")
      assert(BigInt(lPpb) ===
        BigInt(3) * n1f(w1) * 1000000000 / (BigInt(4) * c1(w1)), s"λ($w1)")
    }
    // the interpolated-KN normalization law, exactly in rationals: for
    // every context w1, Σ_{w2 ∈ V} p_KN(w2|w1) = 1, i.e.
    // Σ_observed [(4c12−3)B + 3·N1f·N1b] + Σ_unseen [3·N1f·N1b] = 4·c1·B
    val vocabN1b = n1b // pcont is 0 for words never seen as a right side
    c1.keys.foreach { w1 =>
      val sum = vocabN1b.map { case (w2, nb) =>
        val obs = c12.get((w1, w2)).map(c =>
          BigInt(4 * c - 3) * bTypes).getOrElse(BigInt(0))
        obs + BigInt(3) * n1f(w1) * nb
      }.sum
      assert(sum === BigInt(4) * c1(w1) * bTypes,
        s"KN normalization broken for context '$w1'")
    }
  }

  test("vocabGrowth: hand-checked slices, cumulative counts reconcile") {
    import spark.implicits._
    val docs = Seq((0L, "a b"), (1L, "a c"), (2L, "c d"), (3L, "d e a"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, "doc_id", "text", buckets = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // slice 0 = docs 0,1: types a,b,c first appear; 4 tokens
    assert(got(0L) === ((3L, 3L, 4L, 4L)))
    // slice 1 = docs 2,3: new types d,e; 5 tokens
    assert(got(1L) === ((2L, 5L, 5L, 9L)))
  }

  test("vocabGrowth: slices rebase on min(id) — high-based and negative " +
    "id ranges slice exactly like the zero-based corpus") {
    import spark.implicits._
    val base = Seq((0L, "a b"), (1L, "a c"), (2L, "c d"), (3L, "d e a"))
    def run(shift: Long) = TextAnalysis.vocabGrowth(
      base.map { case (i, t) => (i + shift, t) }.toDF("doc_id", "text"),
      "doc_id", "text", buckets = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val expect = run(0L)
    assert(expect.map(_._1) === Set(0L, 1L)) // both slices populated
    assert(run(1000000L) === expect) // high base: no last-slice collapse
    assert(run(-17L) === expect)     // negative ids: no negative slices
  }

  test("sourceDivergence: one source diverges zero; disjoint vocabularies " +
    "diverge by exactly the quantized ln 2") {
    import spark.implicits._
    val one = (1 to 20).map(i => (i.toLong, "src", s"tok${i % 5} tok${i % 3}"))
      .toDF("doc_id", "source", "text")
    val gotOne = TextAnalysis.sourceDivergence(one, "doc_id", "text", "source")
      .collect()
    assert(gotOne.length === 1)
    assert(gotOne.head.getLong(3) === 0L) // s_cnt==c_cnt everywhere -> KL 0
    // two sources with disjoint single-token vocabularies, equal mass n:
    // every cell has s_tot = n, c_cnt = s_cnt, c_tot = 2n ->
    // dd = lnq(2n) - lnq(n) per occurrence
    val n = 12L
    val two = ((1 to n.toInt).map(i => (i.toLong, "x", "aaa")) ++
      (1 to n.toInt).map(i => (100L + i, "y", "bbb")))
      .toDF("doc_id", "source", "text")
    val exp = math.round(math.log(2.0 * n) * 1e6) -
      math.round(math.log(n.toDouble) * 1e6)
    val got = TextAnalysis.sourceDivergence(two, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(3), r.getLong(4)))).toMap
    assert(got("x") === ((n, n * exp, exp)))
    assert(got("y") === ((n, n * exp, exp)))
  }

  test("zipfFit: hand-computed ln-ln regression on a planted curve; a " +
    "uniform curve fits exponent zero") {
    import spark.implicits._
    // counts 8,4,2,1 over ranks 1..4: y = ln2*(3,2,1,0), x = ln(rank) —
    // replicate docs so token counts are exact
    val docs = (Seq.fill(8)("aa") ++ Seq.fill(4)("bb") ++
      Seq.fill(2)("cc") ++ Seq("dd")).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextAnalysis.zipfFit(docs, "text")
      .as[(Long, Long)].collect().head
    assert(got._1 === 4L)
    def lnq(v: Double): Long = math.round(math.log(v) * 1e6)
    val xs = (1 to 4).map(r => lnq(r.toDouble))
    val ys = Seq(8L, 4L, 2L, 1L).map(c => lnq(c.toDouble))
    val n = 4L
    val (sx, sy) = (xs.sum, ys.sum)
    val sxx = xs.map(x => BigInt(x) * x).sum
    val sxy = xs.zip(ys).map { case (x, y) => BigInt(x) * y }.sum
    val exp = (BigInt(sx) * sy - n * sxy) * 1000000 /
      (n * sxx - BigInt(sx) * sx)
    assert(got._2 === exp.toLong)
    // counts halving per RANK are steeper than Zipf-1 on a ln-ln fit
    assert(got._2 > 1000000L && got._2 < 2000000L)
    // uniform counts -> numerator 0 -> exponent 0
    val uni = Seq((1L, "aa bb cc dd"), (2L, "aa bb cc dd"))
      .toDF("doc_id", "text")
    assert(TextAnalysis.zipfFit(uni, "text")
      .as[(Long, Long)].collect().head._2 === 0L)
    // degenerate corpora (<= 1 distinct token) zero the denominator:
    // the engine emits NO row — by construction the DuckDB replay (which
    // would raise on //0) carries the same n >= 2 guard
    val mono = Seq((1L, "aa aa aa"), (2L, "aa")).toDF("doc_id", "text")
    assert(TextAnalysis.zipfFit(mono, "text").count() === 0L)
    val empty = Seq((1L, ""), (2L, " ")).toDF("doc_id", "text")
    assert(TextAnalysis.zipfFit(empty, "text").count() === 0L)
  }

  test("winnowPairs maxDfPerMille: the relative cap keeps the pairs a " +
    "grown corpus's absolute cap would drop — the CapBench sizing rule " +
    "operationalized") {
    import spark.implicits._
    val hotRun = "thisboilerplatefooterisrepeatedverbatimacrosseverysingle" +
      "documentinthecorpusandkeepsgoingonforawhile"
    // 30 docs share the run: df = 30 > the absolute default 20
    val docs = (1 to 30)
      .map(i => (i.toLong, ('a' + (i - 1) % 26).toChar.toString * 12 +
        i.toString * 3 + " " + hotRun))
      .toDF("doc_id", "text")
    val absolute = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      minShared = 8, maxDf = 20).count()
    assert(absolute === 0L) // the r15 CapBench degeneration, reproduced
    // relative cap: max(20, 30 docs * 1000/1000) = 30 -> the run survives
    val relative = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      minShared = 8, maxDf = 20, maxDfPerMille = 1000).count()
    assert(relative === 435L) // all C(30,2) true clone pairs
    // perMille below the duplication factor still drops (it IS a cap)
    val tight = TextAnalysis.winnowPairs(docs, "doc_id", "text",
      minShared = 8, maxDf = 20, maxDfPerMille = 500).count()
    assert(tight === 0L)
  }
}
