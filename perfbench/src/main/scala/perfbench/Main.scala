package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Pipelines, Sessions, SparkEntry, Tables}
import graft.functions.GraftFunctions
import graft.sources.{CsvManifests, XmlDeclarations}

/** The benchmark's JVM side. `run.py` prepares inputs, starts this main
  * once per run and checks the outputs it leaves behind; this main only
  * drives the engine through its public calls and measures.
  *
  * Modes:
  *  - `--mode oracles --queries a,b --out f.json`: write the DuckDB twin
  *    SQL of the named registry queries.
  *  - `--mode run --workload w ...`: set up once, measure passes until
  *    `--seconds` have elapsed (and at least `MinWarm` warm passes ran),
  *    write the outputs to check, and write one result JSON with the
  *    raw samples and, when traced, the per-layer figures. */
object Main {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
  }

  def parse(argv: Array[String]): Opts =
    Opts(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)

  val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Rows of the fixed column each kernel-tier function is timed over. */
  val KernelRows = 200000

  /** Warm passes every run makes, however short `--seconds`: a warm-pass
    * median needs at least three. */
  val MinWarm = 3

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    o("mode") match {
      case "oracles" =>
        val names = o("queries").split(",").toSeq
        val sql = SparkEntry.oracleSql
        Files.writeString(Paths.get(o("out")),
          json.writeValueAsString(names.map(n => n -> sql(n)).toMap))
      case "run" => new Run(o).execute()
    }
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.length
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()
}

/** One measured operation: a query (build + execute) or a pipeline step. */
final case class Sample(pass: Int, op: String, buildS: Double, execS: Double,
                        ok: Boolean, traced: Boolean)

final class Run(o: Main.Opts) {
  import Main.{json, median, noop, MinWarm}

  private val workload = o("workload")
  private val seed = o("seed").toLong
  private val seconds = o("seconds").toDouble
  private val traced = o("trace") == "1"
  private val cpus = o("cpus")
  private val work = o("work")
  private val registry = workload != "customs_etl"
  private val trace = new Trace(s"$workload-$seed-${o("trace")}", traced)

  private val samples = mutable.ArrayBuffer[Sample]()
  private val passWall = mutable.ArrayBuffer[(Int, Boolean, Double)]()
  private val errors = mutable.ArrayBuffer[String]()
  private val layer = mutable.LinkedHashMap[String, Double]()
  private val info = mutable.LinkedHashMap[String, Any]()
  /** pass → (span ids, start ms, end ms, exchanges) for traced passes. */
  private val passSpans = mutable.LinkedHashMap[Int, (Set[Int], Long, Long, Long)]()

  private def fail(what: String, e: Throwable): Unit = {
    val msg = s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
    errors += msg.take(400)
    System.err.println(s"[perfbench] FAILED $msg")
  }

  // ---------------------------------------------------------------- setup

  private def buildSession(): SparkSession =
    trace.span("sessions.build") {
      Sessions.builder(cpus)
        .config("spark.local.dir", s"$work/spark-local")
        .getOrCreate()
    }

  private def warmUp(spark: SparkSession): Unit =
    if (registry) {
      trace.span("tables.resolve") {
        Tables.names.foreach(n => Tables(spark, o("data"), n))
      }
      noop(Tables(spark, o("data"), "lineitem").groupBy("l_returnflag").count())
    } else
      noop(spark.range(200000).selectExpr("id % 97 AS k", "CAST(id AS STRING) AS s")
        .groupBy("k").agg(count("s")))

  /** Set up once, timed from JVM start: what a user pays before the first
    * query (JVM start, class loading, the first session and its codegen). */
  private def setUp(): SparkSession = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    info("jvm_to_main_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = buildSession()
    spark.sparkContext.setLogLevel("WARN")
    warmUp(spark)
    info("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spans = trace.all
    layer("sessions.build_s") = spans.filter(_.name == "sessions.build").map(_.seconds).sum
    layer("tables.resolve_s") = spans.filter(_.name == "tables.resolve").map(_.seconds).sum
    spark
  }

  // ------------------------------------------------------------- measuring

  /** Passes: the cold one, then warm ones until the time is up. In a traced
    * run, half the warm passes run untraced so the trace overhead is
    * measured in the same process. */
  private def measure(onePass: (Int, Boolean) => Unit,
                      afterTraced: Int => Unit = _ => ()): Unit = {
    val t0 = System.nanoTime()
    var pass = 0
    def warm = pass - 1
    while (pass == 0 || warm < (if (traced) 2 * MinWarm + 1 else MinWarm) ||
           (System.nanoTime() - t0) / 1e9 < seconds) {
      // traced runs: the first warm pass settles untraced, then ABBA order
      // (T P P T T P ...) so the rest of the warm-up trend cancels out of
      // the traced-versus-untraced comparison
      val tracedPass = traced && (pass == 0 || (pass >= 2 && Set(0, 3)((pass - 2) % 4)))
      trace.recording = tracedPass
      val ex0 = trace.exchangesSoFar
      val firstSpan = trace.all.size
      val startMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      onePass(pass, tracedPass)
      val wall = (System.nanoTime() - p0) / 1e9
      val endMs = System.currentTimeMillis()
      passWall += ((pass, tracedPass, wall))
      trace.sync()
      if (tracedPass) {
        val ids = trace.all.drop(firstSpan).map(_.id).toSet
        passSpans(pass) = (ids, startMs, endMs, trace.exchangesSoFar - ex0)
        afterTraced(pass) // untimed per-layer extras, outside the pass
        trace.sync()
      }
      pass += 1
    }
    trace.recording = traced
  }

  private def registryPass(spark: SparkSession, queries: Seq[String])
                          (pass: Int, tracedPass: Boolean): Unit = {
    val order = new Random(seed * 7919L + pass).shuffle(queries)
    order.foreach { n =>
      val b0 = System.nanoTime()
      var built = 0.0
      val ok =
        try {
          val df = trace.span("entry.build", n, pass) {
            SparkEntry.queries(n)(spark, o("data"))
          }
          built = (System.nanoTime() - b0) / 1e9
          trace.span("entry.exec", n, pass)(noop(df))
          true
        } catch { case e: Throwable => fail(s"$n (pass $pass)", e); false }
      val total = (System.nanoTime() - b0) / 1e9
      samples += Sample(pass, n, built, total - built, ok, tracedPass)
    }
  }

  /** One more pass, after the measured ones and untimed: store each
    * query's result for the check against its DuckDB twin. Returns the
    * queries whose result was written. */
  private def writeOutputs(spark: SparkSession, queries: Seq[String]): Seq[String] = {
    trace.recording = false
    val written = queries.filter { n =>
      try {
        SparkEntry.queries(n)(spark, o("data")).write.mode("overwrite").parquet(s"$work/out/$n")
        true
      } catch { case e: Throwable => fail(s"$n (output)", e); false }
    }
    trace.sync()
    trace.recording = traced
    written
  }

  private def listFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten.filter(_.isFile).sortBy(_.getName)

  private def dataFiles(dir: String): Seq[File] =
    listFiles(dir).filter(f => f.getName.endsWith(".parquet"))

  private val cycles = mutable.ArrayBuffer[mutable.Map[String, Any]]()

  private def customsCycle(spark: SparkSession, drops: Seq[String])
                          (pass: Int, tracedPass: Boolean): Unit = {
    val drop = drops(pass % drops.size)
    val cyc = s"$work/cycles/c$pass"
    val inbox = s"$cyc/inbox"
    new File(inbox).mkdirs()
    listFiles(s"$drop/decl").foreach(f => Files.copy(f.toPath,
      Paths.get(inbox, f.getName), StandardCopyOption.REPLACE_EXISTING))
    val kb = s"$work/kb"
    def step[T](name: String)(body: => T): Option[T] = {
      val t0 = System.nanoTime()
      val r =
        try Some(trace.span(name, name, pass)(body))
        catch { case e: Throwable => fail(s"$name (cycle $pass)", e); None }
      samples += Sample(pass, name, 0.0, (System.nanoTime() - t0) / 1e9,
        r.isDefined, tracedPass)
      r
    }
    val batches = step("pipelines.importDeclarations") {
      val q = Pipelines.importDeclarations(spark, inbox, s"$cyc/history",
        s"$cyc/archive", s"$cyc/checkpoint")
      q.awaitTermination()
      q.exception.foreach(e => throw e)
      q.recentProgress.length
    }
    val rejects = step("pipelines.importManifests") {
      Pipelines.importManifests(spark, s"$drop/manifests", s"$cyc/raw")
        .collect().map(r => r.getString(0)).toSeq.sorted
    }
    val backup = step("pipelines.train") {
      Pipelines.train(spark, s"$cyc/raw", s"$cyc/history", kb, s"$cyc/backups")
    }
    val c = mutable.LinkedHashMap[String, Any](
      "cycle" -> pass, "drop" -> new File(drop).getName, "dir" -> cyc,
      "rejects" -> rejects.getOrElse(Seq("<failed>")),
      "backup" -> backup.flatten.orNull, "train_ok" -> backup.isDefined,
      "drain_batches" -> batches.getOrElse(-1))
    cycles += c
  }

  /** Traced cycles only, after the cycle's clock stopped: the source
    * readers on their own (to the noop sink) and the files the cycle left. */
  private def customsExtras(spark: SparkSession, drops: Seq[String])(pass: Int): Unit = {
    val drop = drops(pass % drops.size)
    val parse = Seq(
      "sources.decl_parse" -> (() => noop(XmlDeclarations.read(spark, s"$drop/decl"))),
      "sources.manifest_parse" -> (() => noop(CsvManifests.readAll(spark, s"$drop/manifests"))))
    parse.foreach { case (name, f) =>
      try trace.span(name, name, pass)(f())
      catch { case e: Throwable => fail(s"$name (cycle $pass)", e) }
    }
    val cyc = s"$work/cycles/c$pass"
    cycles.find(_("cycle") == pass).foreach(_("files_written") =
      Seq(s"$cyc/history", s"$cyc/raw", s"$work/kb").map(d => dataFiles(d).size).sum)
  }

  // ---------------------------------------------------------- per-layer

  private def spansOf(pass: Int): Seq[Span] = {
    val ids = passSpans(pass)._1
    trace.all.filter(s => ids.contains(s.id))
  }

  private def perLayer(): Unit = {
    val warm = passSpans.keys.filter(_ > 0).toSeq
    def med(f: Int => Double): Double = median(warm.map(f))
    def work(p: Int) = trace.workFor(passSpans(p)._1)
    def wallOf(p: Int) = passWall.find(_._1 == p).map(_._3).getOrElse(0.0)
    val nCores = cpus.toDouble
    layer("exec.jobs") = med(work(_).jobs.toDouble)
    layer("exec.tasks") = med(work(_).tasks.toDouble)
    layer("exec.task_busy_s") = med(work(_).taskBusyS)
    layer("exec.task_cpu_s") = med(work(_).taskCpuS)
    layer("exec.gc_s") = med(work(_).gcS)
    layer("exec.busy_frac") = med(p => work(p).taskBusyS / (wallOf(p) * nCores))
    layer("exec.no_job_s") = med { p =>
      val (ids, s, e, _) = passSpans(p)
      (e - s) / 1e3 - trace.jobCoveredSeconds(ids, s, e)
    }
    layer("exec.shuffle_bytes") = med(work(_).shuffleBytes.toDouble)
    layer("exec.spill_bytes") = med(work(_).spillBytes.toDouble)
    layer("exec.exchanges") = med(passSpans(_)._4.toDouble)
    if (registry) {
      def phase(p: Int, name: String) = spansOf(p).filter(_.name == name)
      val buildJobs = (p: Int) =>
        trace.workFor(phase(p, "entry.build").map(_.id)).jobs.toDouble
      val buildS = (p: Int) => phase(p, "entry.build").map(_.seconds).sum
      layer("entry.build_s") = med(buildS)
      layer("entry.exec_s") = med(phase(_, "entry.exec").map(_.seconds).sum)
      layer("pins.build_jobs") = med(buildJobs)
      layer("pins.cold_build_jobs") = buildJobs(0)
      layer("memo.cold_extra_s") = buildS(0) - med(buildS)
    } else {
      val tracedCycles = cycles.filter { c =>
        val n = c("cycle").asInstanceOf[Int]
        n > 0 && passSpans.contains(n)
      }
      def spanS(name: String) =
        med(p => trace.all.filter(x => x.pass == p && x.name == name).map(_.seconds).sum)
      layer("sources.decl_parse_s") = spanS("sources.decl_parse")
      layer("sources.manifest_parse_s") = spanS("sources.manifest_parse")
      layer("sources.rejected_files") =
        median(tracedCycles.map(_("rejects").asInstanceOf[Seq[String]].size.toDouble).toSeq)
      layer("sinks.bytes_written") = med { p =>
        trace.workFor(spansOf(p).filter(_.name.startsWith("pipelines.")).map(_.id))
          .outputBytes.toDouble
      }
      layer("sinks.files_written") =
        median(tracedCycles.map(_("files_written").asInstanceOf[Int].toDouble).toSeq)
      layer("pipelines.drain_batches") =
        median(tracedCycles.map(_("drain_batches").asInstanceOf[Int].toDouble).toSeq)
    }
  }

  /** Kernel tier: rows/s of one custom function over a fixed, cached
    * column, written to the noop sink (whole-stage codegen on). */
  private def kernelTier(spark: SparkSession): Unit = {
    import GraftFunctions._
    val kernelRows = Main.KernelRows
    // a document is ~50 words, so the per-document kernels get fewer rows
    def fixed(df: DataFrame, rows: Int = kernelRows): DataFrame = {
      val n = df.count()
      val reps = math.max(1L, (rows + n - 1) / n)
      val out = df.crossJoin(spark.range(reps).select(col("id").as("_rep")))
        .drop("_rep").limit(rows).persist()
      out.count()
      out
    }
    def time(name: String, in: DataFrame, f: DataFrame => DataFrame): Unit = {
      val n = in.count()
      noop(f(in)) // compile once
      val ts = (1 to 5).map { _ =>
        trace.span(s"kernel.$name", name) {
          val t0 = System.nanoTime()
          noop(f(in))
          (System.nanoTime() - t0) / 1e9
        }
      }
      layer(s"kernel.$name.rows_per_s") = n / median(ts)
    }
    val inputs = mutable.ArrayBuffer[DataFrame]()
    def keep(df: DataFrame): DataFrame = { inputs += df; df }
    // text kernels: the customs run's own manifest column, or the
    // lineitem/part column e3_knowledge_base and f_clean_keys read
    val text =
      if (registry)
        Tables(spark, o("data"), "lineitem").where(col("l_linestatus") === "F")
          .join(Tables(spark, o("data"), "part"), col("l_partkey") === col("p_partkey"))
          .select(col("p_name").as("text"),
            concat(lit("m-"), col("l_orderkey").cast("string")).as("mawb"),
            concat(lit("h/"), col("l_orderkey").cast("string")).as("hawb"))
      else
        spark.read.parquet(s"$work/cycles/c0/raw").select(
          col("description_original").as("text"), col("mawb_no").as("mawb"),
          col("hawb_no").as("hawb"))
    val in = keep(fixed(text))
    time("normalizeText", in, _.select(normalizeText(col("text"))))
    time("linkKey", in, _.select(linkKey(col("mawb"), col("hawb"))))
    time("nfkcNormalize", in, _.select(nfkcNormalize(col("text"))))
    if (registry) { // LLM-ops kernels over documents and embeddings
      val docs = keep(fixed(Tables(spark, o("data"), "documents").select("text"),
        kernelRows / 8))
      time("shingleHashes", docs, _.select(shingleHashes(col("text"), 5)))
      val sh = keep(fixed(Tables(spark, o("data"), "documents")
        .select(sort_array(shingleHashes(col("text"), 5)).as("sh")), kernelRows / 8))
      time("minhashSignature", sh, _.select(minhashSignature(col("sh"), 64)))
      val e = Tables(spark, o("data"), "embeddings")
      val nVec = e.count()
      val pairs = keep(fixed(e.as("a").join(e.as("b"),
        col("b.vec_id") === (col("a.vec_id") + 1) % nVec)
        .select(col("a.embedding").as("va"), col("b.embedding").as("vb"))))
      time("cosineSim", pairs, _.select(cosineSim(col("va"), col("vb"))))
      val codes = keep(fixed(pairs.select(int8Codes(col("va")).as("ca"),
        int8Codes(col("vb")).as("cb"))))
      time("int8Cosine", codes, _.select(int8Cosine(col("ca"), col("cb"))))
    }
    inputs.foreach(_.unpersist())
  }

  /** Heap still in use after full collections: what the session keeps
    * between passes (memos, pins, cached plans). Spark's ContextCleaner
    * frees broadcast and shuffle blocks only after a collection has cleared
    * their references, so collect until two readings agree. */
  private def liveHeapMb(): Double = {
    def collect(): Double = {
      System.gc()
      Thread.sleep(300) // let the cleaner thread act on the cleared references
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024)
    }
    var (prev, cur, n) = (Double.MaxValue, collect(), 1)
    while (prev - cur > 1.0 && n < 10) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def execute(): Unit = {
    val spark = setUp()
    trace.attach(spark)
    var written: Seq[String] = Nil
    if (registry) {
      val queries = o("queries").split(",").toSeq
      measure(registryPass(spark, queries))
    } else {
      val drops = Option(new File(o("inputs")).listFiles()).toSeq.flatten
        .filter(f => f.isDirectory && f.getName.startsWith("drop_"))
        .map(_.getPath).sorted
      require(drops.nonEmpty, s"no drops under ${o("inputs")}")
      measure(customsCycle(spark, drops), customsExtras(spark, drops))
    }
    val liveHeap = liveHeapMb()
    if (registry) written = writeOutputs(spark, o("queries").split(",").toSeq)
    if (traced) {
      perLayer()
      kernelTier(spark)
      val plain = passWall.filter(p => p._1 > 1 && !p._2).map(_._3).toSeq
      val withTrace = passWall.filter(p => p._1 > 0 && p._2).map(_._3).toSeq
      layer("trace.overhead_frac") = median(withTrace) / median(plain) - 1.0
      Files.write(Paths.get(s"$work/spans.jsonl"),
        trace.jsonLines.mkString("", "\n", "\n").getBytes(UTF_8))
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "traced" -> traced,
      "cpus" -> cpus.toInt, "master" -> spark.sparkContext.master,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "samples" -> samples.map(s => Map("pass" -> s.pass, "op" -> s.op,
        "build_s" -> s.buildS, "exec_s" -> s.execS, "ok" -> s.ok,
        "traced" -> s.traced)).toSeq,
      "passes" -> passWall.map(p => Map("pass" -> p._1, "traced" -> p._2,
        "wall_s" -> p._3)).toSeq,
      "cycles" -> cycles.map(_.toMap).toSeq,
      "outputs" -> written,
      "errors" -> errors.toSeq,
      "per_layer" -> layer.toMap,
      "info" -> info.toMap,
      "live_heap_mb" -> liveHeap,
      "peak_rss_mb" -> peakRssMb())
    Files.writeString(Paths.get(o("out")), json.writeValueAsString(result))
    spark.stop()
  }
}
