package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, V2WriteCommand}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.PlanMetricsDump

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line {"metric":...,"queries":{...}}.
  *
  * Output budget: the harness that collects this line keeps only the LAST
  * ~2000 characters of the run's output (BENCH_r04/r05 both captured a
  * truncated, unparseable line once the registry passed ~90 queries). So
  * the stdout line is a COMPACT summary — total, per-family subtotals, the
  * slowest queries, a fixed headline core, regressions — and the complete
  * per-query medians + p25/p75 spread are written to `BENCH_FULL.json` in
  * the working directory (`"full"` field points there).
  *
  * Methodology: results are written to the `noop` sink, not `count()`ed — a
  * bare count lets Catalyst prune every column and would benchmark the scan,
  * not the compute (normalize/minhash/cosine would be optimized away). Each
  * query runs SPARK_GRAFT_BENCH_REPS times (default 3), the reps
  * INTERLEAVED round-robin across queries so transient machine load spreads
  * over every query's samples instead of clustering on one; reported are
  * the MEDIAN, the p25/p75 spread (`queries_lo`/`queries_hi`) and the
  * best-of-N (`queries_min`). A failed query reports -1.0 so it can never
  * masquerade as a fast run, and the failure is printed to stderr.
  *
  * Regression tracking: when a previous round's bench JSON is present
  * (SPARK_GRAFT_BENCH_PREV=<file>, else BENCH_FULL.json, else the highest
  * BENCH_r*.json in the working directory) and recorded this run's `sf`
  * (compared by directory name), TWO gates run. A baseline of another
  * scale factor is set aside with one `[bench]` stderr line: both tables
  * stay `{}` and the canary factor stays 1. Median gate (`"regressions"`): a
  * query is flagged only when BOTH its median and its best-of-N are slower
  * than 1.5x the previous median by >0.3s absolute — a real plan
  * regression slows every rep, concurrent load rarely does (the r4–r6
  * phantom-regression lesson, encoded). Min gate (`"regressions_min"`):
  * best-of-N vs the previous artifact's best-of-N at 1.3x and >0.3s — the
  * load-immune statistic with the tighter ratio it earns (the r13
  * `dedup_winnowing` 2.06x min drift slipped the median gate by 3 ms).
  * Both gates share the quiesced-re-run confirmation discipline.
  *
  * SPARK_GRAFT_BENCH_ONLY=<name,name,...> restricts the run to a subset —
  * the triage loop for exactly such regressions.
  *
  * Each query's executed plan (last rep, AQE final stages, non-zero
  * operator metrics) goes to `plans/last/<query>.txt`, off the clock.
  *
  * Box-load canary: full runs bracket the battery with a fixed 3-query
  * best-of-3 pass (`canary_before`/`canary_after` maps in
  * BENCH_FULL.json, summed `canary_before_sec`/`canary_after_sec` on
  * stdout). A drifted canary means the box, not the code — the r15 sf1
  * noise-attribution argument, measured per artifact instead of argued
  * from history. Since r17 the canary also NORMALIZES the gates: both
  * flag ratios scale by `canary_load_factor` = this run's opening canary
  * over the previous artifact's quietest canary pass, clamped to
  * [1.0, 2.0] (a quiet box never tightens below the base ratios; a
  * broken canary can never more than double them). The confirm re-runs
  * stay at base ratios. */
object Bench {

  private val PlanDir = Paths.get("plans", "last")

  /** Executed plans of the context's V2 writes, from every session (two
    * registry queries write through child sessions of their own).
    * [[planOf]] drains the listener bus, then renders the latest write
    * only if it wrote `df`'s own analyzed plan: eager pins fired by
    * `df`'s build post their own executions, so the last one to arrive
    * may be a pin's. */
  private[graft] final class PlanCapture(spark: SparkSession)
      extends SparkListener {
    @volatile private var last: (LogicalPlan, QueryExecution) = null
    spark.sparkContext.addSparkListener(this)
    override def onOtherEvent(e: SparkListenerEvent): Unit =
      PlanMetricsDump.executionOf(e).foreach(qe => qe.logical match {
        case w: V2WriteCommand => last = (w.query, qe)
        case _ =>
      })
    def planOf(df: DataFrame): Option[String] = {
      PlanMetricsDump.drainListenerBus(spark)
      Option(last).collect {
        case (in, qe) if in eq df.queryExecution.analyzed =>
          PlanMetricsDump.render(qe.executedPlan)
      }
    }
    def close(): Unit = spark.sparkContext.removeSparkListener(this)
  }

  /** `df`'s plan to `plans/last/<name>.txt`; a failed last rep (`df`
    * empty) or a missed capture leaves no file. Never fatal. */
  private def savePlan(capture: PlanCapture, name: String,
                       df: Option[DataFrame]): Unit = {
    val file = PlanDir.resolve(s"$name.txt")
    try df.flatMap(capture.planOf) match {
      case Some(plan) =>
        Files.createDirectories(PlanDir)
        Files.write(file, plan.getBytes(StandardCharsets.UTF_8))
      case None =>
        Files.deleteIfExists(file)
        if (df.nonEmpty) System.err.println(s"[bench] $name: no plan captured")
    } catch {
      case NonFatal(e) => System.err.println(
        s"[bench] $name: plan capture failed: ${failureReason(e)}")
    }
  }

  /** Median and the p25/p75 order statistics of the rep times. */
  private def stats(times: Seq[Double]): (Double, Double, Double) = {
    val s = times.sorted
    val n = s.length
    (s(n / 2), s(((n - 1) * 0.25).toInt), s(math.ceil((n - 1) * 0.75).toInt))
  }

  /** Pull a named per-query map out of a previous bench artifact. The file
    * may be the raw JSON line or the driver's wrapper (JSON embedded in a
    * "tail" string with escaped quotes) — a regex over both shapes keeps
    * this dependency-free. */
  private[graft] def previousMap(text: String,
                                 field: String): Map[String, Double] = {
    val unescaped = text.replace("\\\"", "\"")
    val qBlock = ("\"" + field + "\":\\{([^}]*)\\}").r
    qBlock.findFirstMatchIn(unescaped).map { m =>
      val pair = "\"([A-Za-z0-9_]+)\":(-?[0-9.]+)".r
      pair.findAllMatchIn(m.group(1))
        .map(p => p.group(1) -> p.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
  }

  private[graft] def previousMedians(text: String): Map[String, Double] =
    previousMap(text, "queries")

  /** Per-query best-of-N from a previous artifact (absent in pre-r12
    * artifacts and in the driver wrapper's truncated tail → empty map,
    * which disables the min gate rather than fabricating a baseline). */
  private[graft] def previousMins(text: String): Map[String, Double] =
    previousMap(text, "queries_min")

  /** The `sf` (scale-factor directory) a previous artifact recorded, in
    * either artifact shape. */
  private[graft] def previousSf(text: String): Option[String] =
    "\"sf\":\\s*\"([^\"]*)\"".r
      .findFirstMatchIn(text.replace("\\\"", "\"")).map(_.group(1))

  /** A previous artifact as this run's baseline only when it ran the same
    * scale factor (compared by directory name); otherwise the reason it
    * was set aside, naming both values. */
  private[graft] def sameScaleBaseline(text: String,
                                       sfDir: String): Either[String, String] = {
    val name = (d: String) => new java.io.File(d).getName
    previousSf(text) match {
      case Some(p) if name(p) == name(sfDir) => Right(text)
      case p => Left(s"[bench] previous artifact sf=${p.getOrElse("unrecorded")}" +
        s" differs from this run's sf=$sfDir: no regression gate, no canary factor")
    }
  }

  /** Canary-normalized gate scaling as a pure seam: this run's opening
    * canary over the PREVIOUS artifact's quietest values, compared
    * per-NAME over the INTERSECTION of canaries positive on both sides
    * — a canary that failed (recorded < 0) or was renamed on either
    * side drops out of BOTH sums, so a mismatched canary set can never
    * masquerade as box load (r17 review: the old sum-over-whatever-
    * each-side-had comparison let one failed previous canary inflate
    * the factor toward 2x on an idle box, loosening both gates for
    * nothing). Clamped to [1.0, 2.0]; 1.0 when no common canary
    * survives (pre-r16 artifacts carry no canary fields; triage runs
    * skip the canary). */
  private[graft] def canaryLoadFactor(
      prevText: Option[String],
      curCanary: Seq[(String, Double)]): Double = {
    val prevQuiet: Map[String, Double] = prevText.map { t =>
      val maps = Seq("canary_before", "canary_after")
        .map(f => previousMap(t, f))
      maps.flatMap(_.keys).distinct.flatMap { n =>
        val vs = maps.flatMap(_.get(n)).filter(_ > 0)
        if (vs.isEmpty) None else Some(n -> vs.min)
      }.toMap
    }.getOrElse(Map.empty)
    val common = curCanary.filter { case (n, v) =>
      v > 0 && prevQuiet.contains(n)
    }
    val curSum = common.map(_._2).sum
    val prevSum = common.map { case (n, _) => prevQuiet(n) }.sum
    if (curSum > 0 && prevSum > 0)
      math.min(2.0, math.max(1.0, curSum / prevSum))
    else 1.0
  }

  /** The regression rule as a pure seam: flag (name, prev, cur) when the
    * current statistic is both `ratio`× and `abs` seconds slower than the
    * previous one. Median gate: 1.5× (interleaved medians are noisy);
    * min gate: 1.3× (best-of-N is the load-immune statistic — the r13
    * `dedup_winnowing` 2.06× min drift sat 3 ms under the median gate's
    * absolute threshold and shipped unflagged). */
  private[graft] def flagRegressions(
      cur: Seq[(String, Double)], prev: Map[String, Double],
      ratio: Double, abs: Double): Seq[(String, Double, Double)] =
    cur.flatMap { case (name, v) =>
      prev.get(name)
        .filter(p => p > 0 && v > ratio * p && v - p > abs)
        .map(p => (name, p, v))
    }

  private def previousBenchFile(): Option[java.io.File] =
    sys.env.get("SPARK_GRAFT_BENCH_PREV").map(new java.io.File(_)).orElse {
      // BENCH_FULL.json (complete medians from the latest full run) beats
      // the driver's BENCH_r*.json wrapper, whose 2000-char tail holds only
      // a fragment of the per-query map.
      Some(new java.io.File("BENCH_FULL.json")).filter(_.isFile)
    }.orElse {
      val cwd = new java.io.File(".")
      Option(cwd.listFiles()).toSeq.flatten
        .filter(_.getName.matches("BENCH_r\\d+\\.json"))
        .sortBy(_.getName).lastOption
    }.filter(_.isFile)

  /** Family key for the compact per-family subtotals. The short-name rule
    * is anchored — a single letter plus optional digits, terminated by an
    * underscore ("j4_", "a_", "s11_") — so a novel name that merely STARTS
    * with one of these letters maps to "other" and fails the no-'other'
    * pin in `BenchFormatSpec` instead of silently mis-bucketing. */
  private[graft] def familyOf(name: String): String = {
    val prefixes = Seq(
      "tpch_" -> "tpch", "text_" -> "text", "dedup_" -> "dedup",
      "decontaminate" -> "dedup", "knn_" -> "knn", "emb_" -> "emb",
      "events_" -> "events", "sample_" -> "sample", "pack_" -> "pack",
      "vocab_" -> "vocab", "mm_" -> "mm", "q1_" -> "pricing", "dq_" -> "agg",
      "cdc_" -> "cdc", "scd2_" -> "cdc", "lm_" -> "text", "graph_" -> "dedup",
      "bpe_" -> "vocab", "chunk_" -> "text", "pipeline_" -> "pipeline",
      "e3_" -> "e3", "f_" -> "fx", "set_" -> "setops", "p_" -> "scan",
      "j1j2_" -> "join", "ml_" -> "ml")
    val shortFamilies = Map("j" -> "join", "w" -> "window", "a" -> "agg",
      "o" -> "ord", "s" -> "scan")
    val shortName = "^([jwaos])[0-9]*_.*".r
    prefixes.collectFirst { case (p, f) if name.startsWith(p) => f }
      .orElse(name match {
        case shortName(l) => shortFamilies.get(l)
        case _ => None
      })
      .getOrElse("other")
  }

  /** A bench section that could not run, as the JSON field
    * `,"<name>":"skipped: <reason>"`: the artifact says why instead of
    * dropping the field. The reason loses quotes, backslashes and control
    * characters (the line stays valid JSON) and is cut to 80 characters,
    * so two skipped sections still fit the stdout tail budget. */
  private[graft] def skippedField(name: String, reason: String): String = {
    val clean = reason.replaceAll("[\"\\\\\\p{Cntrl}]", " ").take(80)
    s""","$name":"skipped: $clean""""
  }

  /** A failed section's reason: the exception class and message. */
  private def failureReason(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${e.getMessage}"

  /** Deny-filter for ONE known-benign log pattern (root-caused r16, see
    * SCALE.md): `DAGScheduler: Failed to update accumulator N (Unknown
    * class)` + its `attempted to access non-existent accumulator` stack.
    * A task-completion event can arrive after its query already returned
    * and its accumulators were unregistered (stages cancelled mid-flight
    * — AQE replans, limits); the update targets a finished query, so
    * results are unaffected (rc=0, n_failed=0 in the same runs). The
    * bench artifact's tail is the regression-signal log, and this racy
    * burst landing near process exit (BENCH_r15) buries real signal —
    * so the BENCH session denies exactly this message on exactly this
    * logger. Real executor/scheduler failures still surface: a failed
    * query reports -1.0 + a [bench] FAILED stderr line regardless of
    * logging. Filter scope: this JVM only; the library never touches
    * log config. */
  private[graft] def denyBenignAccumulatorRace(): Unit = {
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.LoggerContext
    import org.apache.logging.log4j.core.config.LoggerConfig
    import org.apache.logging.log4j.core.Filter.Result
    import org.apache.logging.log4j.core.filter.RegexFilter
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    val name = "org.apache.spark.scheduler.DAGScheduler"
    val lc = new LoggerConfig(name, Level.WARN, true)
    lc.addFilter(RegexFilter.createFilter(
      ".*Failed to update accumulator \\d+ \\(Unknown class\\).*",
      null, java.lang.Boolean.FALSE, Result.DENY, Result.NEUTRAL))
    cfg.addLogger(name, lc)
    ctx.updateLoggers()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // default matches the graded environment (local[32]); SPARK_GRAFT_CPUS
    // overrides for constrained triage runs — artifacts record the value
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Sessions.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    denyBenignAccumulatorRace()
    // JIT/codegen warmup so the alphabetically-first query doesn't absorb
    // first-run compilation cost (~4s of noise on a sub-second query)
    Tables(spark, sfDir, "lineitem")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    // One-time index build, OUTSIDE the timed region: knn_ivf_at_rest
    // measures the partition-pruned read path ("index once, query many"),
    // so the layout build is timed separately as ivf_layout_build_sec —
    // folding it into the first rep made the median conflate build+query.
    val ivfBuild =
      if (only.forall(_.contains("knn_ivf_at_rest")))
        try {
          val t0 = System.nanoTime()
          graft.operators.Similarity.ivfLayoutFor(
            Tables(spark, sfDir, "embeddings"), "vec_id", "embedding",
            key = sfDir, dim = 64, nlist = 16, iters = 2)
          f""","ivf_layout_build_sec":${(System.nanoTime() - t0) / 1e9}%.3f"""
        } catch {
          case NonFatal(e) =>
            skippedField("ivf_layout_build_sec", failureReason(e))
        }
      else skippedField("ivf_layout_build_sec",
        "knn_ivf_at_rest not in SPARK_GRAFT_BENCH_ONLY")
    // Box-load canary (r15 advice #6): a fixed fast 3-query subset runs
    // best-of-3 BEFORE and AFTER the battery, so "the +10% was machine
    // load" is measured in the artifact instead of argued from history —
    // a loaded box slows the canary too; a plan change doesn't touch it.
    // best-of-N because the canary asks about the box, not the queries.
    val canaryNames = Seq("q1_pricing_summary", "j3_semi_join",
      "events_sessionize")
    def canary(): Seq[(String, Double)] =
      canaryNames.flatMap { n =>
        // get, not apply: a renamed canary query must degrade to a logged
        // skip, never abort the whole battery before results are written
        SparkEntry.queries.get(n) match {
          case None =>
            System.err.println(s"[bench] canary query $n not in the " +
              "registry — skipped (update canaryNames)")
            None
          case Some(fn) =>
            val ts = (1 to 3).flatMap { _ =>
              val t0 = System.nanoTime()
              try {
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
                Some((System.nanoTime() - t0) / 1e9)
              } catch { case _: Throwable => None }
            }
            Some(n -> (if (ts.isEmpty) -1.0 else ts.min))
        }
      }
    def canaryJson(c: Seq[(String, Double)]): String =
      c.map { case (n, v) => "\"" + n + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    val canaryBefore = if (only.isEmpty) canary() else Seq.empty
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Reps interleave ROUND-ROBIN across queries (pass 1 of every query,
    // then pass 2, ...) instead of back-to-back per query: transient
    // machine load (the driver's closing run writes artifacts concurrently)
    // then spreads evenly over all queries' samples rather than landing all
    // N reps of whichever query it overlapped — three rounds of
    // judge-adjudicated phantom regressions (r4/r5/r6) came from exactly
    // that clustering.
    val timesByName = scala.collection.mutable.LinkedHashMap[
      String, Vector[Double]](selected.map(_._1 -> Vector.empty[Double]): _*)
    val capture = new PlanCapture(spark)
    for (rep <- 1 to reps; (name, fn) <- selected) {
      val t0 = System.nanoTime()
      val (t, written) =
        try {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          ((System.nanoTime() - t0) / 1e9, Some(df))
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] $name FAILED (rep $rep): ${e.getMessage}")
            (-1.0, None)
        }
      timesByName(name) = timesByName(name) :+ t
      if (rep == reps) savePlan(capture, name, written)
    }
    capture.close()
    val results: Seq[(String, (Double, Double, Double))] =
      selected.map { case (name, _) =>
        val times = timesByName(name)
        val st =
          if (times.exists(_ < 0)) (-1.0, -1.0, -1.0)
          else stats(times)
        name -> st
      }
    // best-of-N per query: the load-immune statistic (a genuine plan
    // regression slows EVERY rep; background load rarely slows all N)
    val mins: Map[String, Double] = timesByName.toMap.collect {
      case (n, ts) if ts.nonEmpty && ts.forall(_ >= 0) => n -> ts.min
    }
    def jmap(f: ((String, (Double, Double, Double))) => Double): String =
      results.map { case (k, v) => "\"" + k + "\":" + f"${f((k, v))}%.3f" }
        .mkString("{", ",", "}")
    val ok = results.filter(_._2._1 >= 0)
    val total = ok.map(_._2._1).sum
    // Flag regressions vs the previous round's medians (1.5x and >0.3s)
    // AND vs its best-of-N (1.3x and >0.3s) — two independent tables.
    val prevText = previousBenchFile()
      .map(f => new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8))
      .flatMap(t => sameScaleBaseline(t, sfDir).left.map(System.err.println).toOption)
    val prev = prevText.map(previousMedians).getOrElse(Map.empty)
    val prevMin = prevText.map(previousMins).getOrElse(Map.empty)
    val curMed = ok.map { case (name, (med, _, _)) => name -> med }
    val curMin = ok.map { case (name, (med, _, _)) =>
      name -> mins.getOrElse(name, med) }
    // Canary-normalized gate thresholds (r16 advice #3): when THIS run's
    // opening canary is slower than the previous artifact's quietest
    // canary pass, the whole battery inflates with it — scale the flag
    // ratios by that measured box-load ratio instead of adjudicating the
    // phantom flags after the fact. Clamped to [1.0, 2.0]: a quieter box
    // never TIGHTENS below the documented base ratios (prev-run load is
    // the confirm pass's job to sort out), and a broken/drifted canary
    // can never more than double the ratio, so the gate cannot be
    // silently disabled. Triage (BENCH_ONLY) runs skip the canary and
    // keep factor 1. The confirm re-runs below stay at BASE ratios —
    // they run after the battery quiesces and are themselves the
    // load-control.
    val curCanarySum = canaryBefore.map(_._2).filter(_ >= 0).sum
    val loadFactor: Double =
      canaryLoadFactor(prevText, canaryBefore)
    if (loadFactor > 1.0)
      System.err.println(
        f"[bench] canary load factor $loadFactor%.2f (opening canary " +
          f"$curCanarySum%.3fs vs the previous artifact's quietest pass)" +
          " — gate ratios scaled accordingly")
    // Median gate: flagged only when MEDIAN and MIN both regress vs the
    // previous MEDIAN (the median alone trips on concurrent-load noise,
    // while a real regression — a worse plan — slows the best rep too).
    val minAlsoSlow =
      flagRegressions(curMin, prev, 1.5 * loadFactor, 0.3).map(_._1).toSet
    val flagged = flagRegressions(curMed, prev, 1.5 * loadFactor, 0.3)
      .filter { case (name, _, _) => minAlsoSlow(name) }
    // Min gate: best-of-N vs previous best-of-N, tighter ratio — the
    // cleanest signal on a noisy 32-core box (r13 lesson: a 2.06x min
    // drift shipped because the median table alone was consulted).
    val minFlagged = flagRegressions(curMin, prevMin, 1.3 * loadFactor, 0.3)
    // Confirmation pass (the r9 lesson: four ≥1.6x phantom rows shipped
    // unexplained): every flagged query is re-run `reps` more times AFTER
    // the full interleaved pass has quiesced, and the flag survives only
    // if the re-run's BEST time still regresses. Environmental pressure
    // (GC from 250+ prior queries, memo churn) does not reproduce on a
    // quiet re-run; a genuinely worse plan does. Confirmation is capped
    // at the 12 worst flags by ratio so a machine-wide slowdown (every
    // query flagged) cannot double the run — uncapped flags pass through
    // unconfirmed, which is the conservative direction (kept, reported).
    // A query flagged by BOTH gates re-runs once (memoized best).
    val rerunBest = scala.collection.mutable.Map[String, Double]()
    def bestOfRerun(name: String): Double =
      rerunBest.getOrElseUpdate(name, {
        val fn = SparkEntry.queries(name)
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          } catch { case _: Throwable => Double.MaxValue }
        }.min
      })
    def confirmPass(flags: Seq[(String, Double, Double)], ratio: Double,
                    gate: String): Seq[(String, Double, Double)] = {
      val (toConfirm, unconfirmed) =
        flags.sortBy { case (_, p, v) => -(v / p) }.splitAt(12)
      unconfirmed.foreach { case (name, p, v) =>
        System.err.println(
          f"[bench] REGRESSION($gate) $name: $p%.3fs -> $v%.3fs (${v / p}%.1fx), kept UNCONFIRMED (past the re-run cap)")
      }
      unconfirmed ++ toConfirm.flatMap { case (name, p, v) =>
        val mn = bestOfRerun(name)
        if (mn > ratio * p && mn - p > 0.3) {
          System.err.println(
            f"[bench] REGRESSION($gate) $name: $p%.3fs -> $v%.3fs (${v / p}%.1fx), confirmed on re-run (best $mn%.3fs)")
          Some((name, p, math.min(v, mn)))
        } else {
          System.err.println(
            f"[bench] regression($gate) NOT confirmed $name: $p%.3fs -> $v%.3fs interleaved, but re-run best $mn%.3fs — environmental")
          None
        }
      }
    }
    val regressions = confirmPass(flagged, 1.5, "median")
    val regressionsMin = confirmPass(minFlagged, 1.3, "min")
    // The stdout line must survive a 2000-char tail: cap each table at the
    // 8 worst by ratio (the full list is in BENCH_FULL.json regardless).
    def regsJson(rs: Seq[(String, Double, Double)]): String =
      rs.sortBy { case (_, p, c) => -(c / p) }.take(8)
        .map { case (n, p, c) => "\"" + n + "\":[" + f"$p%.3f,$c%.3f]" }
        .mkString("{", ",", "}")
    val regs = regsJson(regressions)
    val regsMin = regsJson(regressionsMin)
    // Ingestion throughput on the reference's own production zips, the
    // direct comparison point to BASELINE.md's headline 1,457 rows/s
    // (zip->XML ingest, import_xml.log:30277-30281).
    val ingest =
      try {
        val dir = "/root/reference/uploads/xml_history/processed"
        if (only.nonEmpty)
          skippedField("xml_ingest", "SPARK_GRAFT_BENCH_ONLY run")
        else if (!new java.io.File(dir).isDirectory)
          skippedField("xml_ingest", s"no reference zips in $dir")
        else {
          val t0 = System.nanoTime()
          val rows = graft.sources.XmlDeclarations.read(spark, dir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          f""","xml_ingest_rows":$rows,"xml_ingest_sec":$sec%.3f,"xml_ingest_rows_per_sec":${rows / sec}%.0f,"baseline_rows_per_sec":1457"""
        }
      } catch {
        case NonFatal(e) => skippedField("xml_ingest", failureReason(e))
      }

    // Complete artifact: every query's median + p25/p75, same shape as the
    // old stdout line. Written to the working directory so later rounds
    // (and the regression tracker above) read exact medians, not a tail.
    // A SPARK_GRAFT_BENCH_ONLY triage run must NOT clobber the full
    // artifact — it would shrink the next run's regression baseline to the
    // triaged subset.
    // closing canary: after the battery AND the confirm re-runs, so it
    // brackets everything the totals above absorbed
    val canaryAfter = if (only.isEmpty) canary() else Seq.empty
    val canaryFull =
      if (only.isEmpty)
        s""","canary_before":${canaryJson(canaryBefore)},"canary_after":${canaryJson(canaryAfter)}""" +
          f""","canary_load_factor":$loadFactor%.3f"""
      else ""
    val canaryCompact =
      if (only.isEmpty)
        f""","canary_before_sec":${canaryBefore.map(_._2).sum}%.3f,"canary_after_sec":${canaryAfter.map(_._2).sum}%.3f,"canary_load_factor":$loadFactor%.3f"""
      else ""
    if (only.isEmpty) {
      val fullJson =
        s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":${results.size - ok.size},"cpus":$cpus,"queries":${jmap(_._2._1)},"queries_lo":${jmap(_._2._2)},"queries_hi":${jmap(_._2._3)},"queries_min":${jmap(p => mins.getOrElse(p._1, p._2._1))},"regressions":$regs,"regressions_min":$regsMin$ingest$ivfBuild$canaryFull,"sf":"$sfDir"}"""
      java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_FULL.json"),
        (fullJson + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    // Compact stdout line (budget ~1700 chars): per-family subtotals, the
    // 10 slowest queries, and a fixed headline core covering the BASELINE
    // comparison points (analytical spine, pricing summary, flagship join/
    // dedup/ANN/tpch representatives).
    val medians = results.collect { case (n, (m, _, _)) if m >= 0 => n -> m }
    val families = medians.groupBy { case (n, _) => familyOf(n) }
      .toSeq.map { case (f, xs) => f -> xs.map(_._2).sum }.sortBy(_._1)
      .map { case (f, s) => "\"" + f + "\":" + f"$s%.2f" }
      .mkString("{", ",", "}")
    val slowest = medians.sortBy(-_._2).take(10)
    val core = Set("q1_pricing_summary", "e3_knowledge_base",
      "j4_ordinal_align", "dedup_ngram_jaccard", "knn_ivf",
      "tpch_q5_nation_revenue", "tpch_q9_profit_proxy", "events_sessionize")
    val headline = (slowest ++ medians.filter(p => core(p._1)))
      .distinctBy(_._1).sortBy(_._1)
      .map { case (n, m) => "\"" + n + "\":" + f"$m%.2f" }
      .mkString("{", ",", "}")
    // Triage (BENCH_ONLY) runs don't write BENCH_FULL, so surface the
    // best-of-N inline — the statistic regression triage actually needs
    // (medians alone made the r13 winnow A/B unreadable). Subset lines
    // are small; the tail budget concern is the full-registry line only.
    val minsInline =
      if (only.isEmpty) ""
      else s""","queries_min":${jmap(p => mins.getOrElse(p._1, p._2._1))}"""
    val stdoutLine =
      s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n_queries":${results.size},"n_failed":${results.size - ok.size},"cpus":$cpus,"families":$families,"queries":$headline$minsInline,"regressions":$regs,"regressions_min":$regsMin$ingest$ivfBuild$canaryCompact,"full":"BENCH_FULL.json","sf":"$sfDir"}"""
    // print AFTER spark.stop(): the shutdown's INFO flood otherwise lands
    // between this line and process exit, displacing it from a harness
    // that keeps only the output tail (BENCH_r11 "parsed": null)
    spark.stop()
    println(stdoutLine)
    System.out.flush()
  }
}
