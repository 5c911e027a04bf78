package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench-artifact plumbing that the driver depends on: the
  * previous-round median extraction must read BOTH artifact shapes (the
  * raw BENCH_FULL.json line and the driver's escaped-"tail" wrapper), and
  * the family bucketing must cover every registered query so the compact
  * stdout line's subtotals account for the whole registry. */
class BenchFormatSpec extends AnyFunSuite {

  test("previousMedians parses a raw JSON line") {
    val raw =
      """{"metric":"total","value":9.9,"unit":"sec","queries":{"q1":0.500,"knn_ivf":2.993},"regressions":{},"sf":"x"}"""
    assert(Bench.previousMedians(raw) === Map("q1" -> 0.5, "knn_ivf" -> 2.993))
  }

  test("previousMedians parses the driver wrapper with escaped quotes") {
    val wrapped =
      """{"n":5,"rc":0,"tail":"...{\"queries\":{\"a\":1.250,\"b\":0.125},\"regressions\":{}}...","parsed":null}"""
    assert(Bench.previousMedians(wrapped) === Map("a" -> 1.25, "b" -> 0.125))
  }

  test("previousMins reads queries_min, not the queries block; absent " +
    "field disables the gate (empty map)") {
    val raw =
      """{"metric":"total","queries":{"q1":0.500,"b":2.000},"queries_min":{"q1":0.400,"b":1.500},"regressions":{},"sf":"x"}"""
    assert(Bench.previousMins(raw) === Map("q1" -> 0.4, "b" -> 1.5))
    assert(Bench.previousMedians(raw) === Map("q1" -> 0.5, "b" -> 2.0))
    val pre12 = """{"metric":"total","queries":{"q1":0.500},"sf":"x"}"""
    assert(Bench.previousMins(pre12) === Map.empty)
  }

  test("the gates take a baseline only from the same scale factor; a " +
    "mismatch names both values and leaves the tables empty") {
    val sf01 =
      """{"metric":"total","queries":{"graph_kcore":0.493},"queries_min":{"graph_kcore":0.400},"canary_before":{"a":0.100},"sf":"/data/sf0.1"}"""
    val wrapped =
      """{"n":5,"sf": 0.1,"tail":"...{\"queries\":{\"a\":1.250},\"sf\":\"/d/sf0.1\"}...","parsed":null}"""
    assert(Bench.previousSf(sf01) === Some("/data/sf0.1"))
    assert(Bench.previousSf(wrapped) === Some("/d/sf0.1"))
    assert(Bench.sameScaleBaseline(sf01, "/data/sf0.1") === Right(sf01))
    assert(Bench.sameScaleBaseline(sf01, "/elsewhere/sf0.1/") === Right(sf01))
    // the graph_kcore case: an sf0.01 run against the sf0.1 artifact
    val mismatch = Bench.sameScaleBaseline(sf01, "/data/sf0.01")
    assert(mismatch.isLeft)
    val msg = mismatch.left.getOrElse("")
    assert(msg.startsWith("[bench]") && msg.contains("/data/sf0.1 ") &&
      msg.contains("/data/sf0.01"), msg)
    assert(Bench.sameScaleBaseline("""{"queries":{"q":1.0}}""", "sf0.1")
      .left.exists(_.contains("unrecorded")))
    // what main gates with after the mismatch: nothing flags, factor 1
    val prev = mismatch.toOption
    val medians = prev.map(Bench.previousMedians).getOrElse(Map.empty)
    assert(Bench.flagRegressions(Seq("graph_kcore" -> 1.141), medians,
      1.5, 0.3).isEmpty)
    assert(Bench.canaryLoadFactor(prev, Seq("a" -> 0.5)) === 1.0)
  }

  test("min gate flags a planted slowdown the median gate misses " +
    "(the r13 dedup_winnowing shape: 0.491 -> 1.011s best-of-N)") {
    // prev: median 0.786 / min 0.491; cur: median 1.083 / min 1.011.
    // Median gate (1.5x AND +0.3s on the median): 1.083 < 1.5*0.786 —
    // not flagged, exactly how r13 shipped the drift. Min gate (1.3x,
    // +0.3s on best-of-N): 1.011 > 1.3*0.491 and +0.52s — flagged.
    val prevMed = Map("dedup_winnowing" -> 0.786)
    val prevMin = Map("dedup_winnowing" -> 0.491)
    val curMed = Seq("dedup_winnowing" -> 1.083)
    val curMin = Seq("dedup_winnowing" -> 1.011)
    assert(Bench.flagRegressions(curMed, prevMed, 1.5, 0.3).isEmpty)
    assert(Bench.flagRegressions(curMin, prevMin, 1.3, 0.3) ===
      Seq(("dedup_winnowing", 0.491, 1.011)))
    // and the min gate stays quiet on a sub-threshold wobble
    assert(Bench.flagRegressions(Seq("q" -> 0.70), Map("q" -> 0.55),
      1.3, 0.3).isEmpty, "0.15s absolute drift must not flag")
    // a failed previous rep (-1.0) can never seed a baseline
    assert(Bench.flagRegressions(Seq("q" -> 9.9), Map("q" -> -1.0),
      1.3, 0.3).isEmpty)
  }

  test("canary load factor: per-name quietest over the intersection, " +
    "clamped [1,2], 1.0 on missing fields") {
    val prev = Some(
      """{"metric":"total","queries":{"q1":1.0},"canary_before":{"a":1.000,"b":0.640},"canary_after":{"a":0.700,"b":0.380},"sf":"x"}""")
    // prev quiet per name: a -> 0.7, b -> 0.38 (sum 1.08 on the common
    // set); an at-or-under current clamps to exactly 1.0
    assert(Bench.canaryLoadFactor(prev, Seq("a" -> 0.6, "b" -> 0.4)) === 1.0)
    assert(math.abs(Bench.canaryLoadFactor(prev,
      Seq("a" -> 1.0, "b" -> 0.62)) - 1.5) < 1e-9)
    // clamp: a 5x-drifted canary never more than doubles the ratio
    assert(Bench.canaryLoadFactor(prev, Seq("a" -> 4.0, "b" -> 1.4)) === 2.0)
    // a QUIETER box never tightens below the base ratios
    assert(Bench.canaryLoadFactor(prev, Seq("a" -> 0.3, "b" -> 0.2)) === 1.0)
    // pre-r16 artifact (no canary fields) and missing current → 1.0
    assert(Bench.canaryLoadFactor(
      Some("""{"metric":"total","queries":{"q1":1.0},"sf":"x"}"""),
      Seq("a" -> 1.5)) === 1.0)
    assert(Bench.canaryLoadFactor(prev, Seq.empty) === 1.0)
    assert(Bench.canaryLoadFactor(None, Seq("a" -> 1.5)) === 1.0)
    // a canary pass of all-failed (-1) entries is not a baseline
    assert(Bench.canaryLoadFactor(Some(
      """{"canary_before":{"a":-1.000},"canary_after":{"a":-1.000}}"""),
      Seq("a" -> 9.9)) === 1.0)
    // r17 review: a FAILED previous canary must drop that name from BOTH
    // sums — one failed prev canary on an idle box must NOT read as load
    assert(Bench.canaryLoadFactor(Some(
      """{"canary_before":{"a":1.000,"b":-1.0},"canary_after":{"a":0.900,"b":-1.0}}"""),
      Seq("a" -> 0.9, "b" -> 0.5)) === 1.0)
    // a renamed canary shares no names with the previous artifact → 1.0
    assert(Bench.canaryLoadFactor(prev, Seq("c" -> 5.0)) === 1.0)
    // a FAILED current canary contributes nothing either
    assert(math.abs(Bench.canaryLoadFactor(prev,
      Seq("a" -> 1.05, "b" -> -1.0)) - 1.5) < 1e-9)
  }

  test("every registered query maps to a named family (no 'other')") {
    val unbucketed = SparkEntry.queries.keys.filter(Bench.familyOf(_) == "other")
    assert(unbucketed.isEmpty, s"unbucketed queries: $unbucketed")
  }

  test("the benign-accumulator-race deny filter drops EXACTLY the known " +
    "message and nothing else on the DAGScheduler logger") {
    Bench.denyBenignAccumulatorRace()
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.Filter.Result
    import org.apache.logging.log4j.core.impl.Log4jLogEvent
    import org.apache.logging.log4j.message.SimpleMessage
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val lc = ctx.getConfiguration
      .getLoggerConfig("org.apache.spark.scheduler.DAGScheduler")
    assert(lc.getName === "org.apache.spark.scheduler.DAGScheduler")
    val f = lc.getFilter
    assert(f != null, "filter not installed")
    def ev(msg: String) = Log4jLogEvent.newBuilder()
      .setLoggerName("org.apache.spark.scheduler.DAGScheduler")
      .setLevel(Level.ERROR).setMessage(new SimpleMessage(msg)).build()
    assert(f.filter(ev(
      "Failed to update accumulator 383846 (Unknown class) for task 0"))
      === Result.DENY)
    // a REAL scheduler error must pass through untouched
    assert(f.filter(ev("Shuffle files lost for executor 3")) === Result.NEUTRAL)
    // and a named-class accumulator failure (not the benign race) too
    assert(f.filter(ev(
      "Failed to update accumulator 12 (SQLMetric) for task 4"))
      === Result.NEUTRAL)
  }

  test("compact headline stays within the harness tail budget") {
    // 113 query names at ~24 chars each overflowed the 2000-char tail in
    // r4/r5; the compact line carries ≤ 10 slowest + 8 core + families.
    // Worst-case synthetic render of those pieces must fit with ~500 chars
    // of summary/ingest fields to spare.
    val names = SparkEntry.queries.keys.toSeq.sortBy(-_.length).take(18)
    val qmap = names.map(n => "\"" + n + "\":99.99").mkString("{", ",", "}")
    val fams = SparkEntry.queries.keys.map(Bench.familyOf).toSet.toSeq.sorted
      .map(f => "\"" + f + "\":999.99").mkString("{", ",", "}")
    assert(qmap.length + fams.length <= 1500,
      s"headline render too large: ${qmap.length + fams.length}")
  }

  test("a section that cannot run reports \"skipped: <reason>\" as " +
    "valid JSON, and two of them fit the tail budget") {
    val reason = "IOException: \"quoted\" \\ path\nnext line " + "x" * 500
    val ingest = Bench.skippedField("xml_ingest", reason)
    val build = Bench.skippedField("ivf_layout_build_sec", reason)
    assert(ingest.startsWith(""","xml_ingest":"skipped: IOException: """))
    val parsed = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree("{" + ingest.drop(1) + build + "}")
    val text = parsed.get("xml_ingest").asText()
    assert(text.startsWith("skipped: ") && text.length <= 89, text)
    assert(parsed.get("ivf_layout_build_sec").asText() === text)
    // the worst-case headline render plus both skipped sections still
    // leaves room for the fixed summary fields in the 2000-char tail
    val names = SparkEntry.queries.keys.toSeq.sortBy(-_.length).take(18)
    val qmap = names.map(n => "\"" + n + "\":99.99").mkString("{", ",", "}")
    val fams = SparkEntry.queries.keys.map(Bench.familyOf).toSet.toSeq.sorted
      .map(f => "\"" + f + "\":999.99").mkString("{", ",", "}")
    assert(qmap.length + fams.length + ingest.length + build.length <= 1750,
      s"render too large: ${qmap.length + fams.length} + skipped " +
        s"${ingest.length + build.length}")
  }
}
