package graft

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming-path scale measurement (SCALE.md §Streaming): drives the
  * REAL foreachBatch ingest bodies — not their batch twins — against
  * micro-batches cut from a large corpus and reports per-batch wall
  * times straight from Structured Streaming's own progress events.
  *
  * Method: each arrival batch is written as ONE parquet file under a
  * source directory; the stream reads it with `maxFilesPerTrigger=1` +
  * `Trigger.AvailableNow`, so file i == micro-batch i and progress
  * entry i's `batchDuration` is the honest wall cost of the ingest body
  * on that batch — INCLUDING the state the path carries at batch i (the
  * winnow ingest's kept-corpus re-read grows every batch, the CDC and
  * sketch targets rewrite per batch). That state dependence is exactly
  * what the batch twins certified at sf1 cannot see, and what this
  * harness exists to measure.
  *
  * Paths (every §2.9 family with per-batch state — the four foreachBatch
  * ingest bodies plus the stateful-operator and layout-growth paths):
  *  - `ppl_gate`   — [[streaming.DocumentStreams.perplexityGateIngest]]
  *    (frozen reference LM + cutoffs, memoized; expect ~flat batches
  *    after the first pays the model build)
  *  - `winnow_ingest` — [[streaming.DocumentStreams.dedupIngestWinnow]]
  *    (kept corpus grows per batch and is re-read; expect linear-in-
  *    state growth per batch — the documented trade, quantified here)
  *  - `cdc_upsert` — [[streaming.ChangeCaptureStreams.upsertIngest]]
  *    (copy-on-write keyed table; per-batch cost tracks TABLE size =
  *    key cardinality, not stream length)
  *  - `cms_maintain` — [[streaming.SketchStreams.cmsIngest]] (per-group
  *    CMS build over the batch + kilobyte merges into the at-rest table;
  *    expect ~flat)
  *  - `bitmap_maintain` — [[streaming.SketchStreams.bitmapIngest]] (the
  *    idempotent-merge sibling; bitmap bytes grow with distinct keys)
  *  - `mix_gap` — [[streaming.DocumentStreams.mixGapMonitor]] (batch
  *    self-agg + |groups|-row state merge; expect ~flat)
  *  - `session_windows` — [[streaming.EventStreams.sessionWindowCounts]]
  *    (native session_window state, time-ordered arrivals so the
  *    watermark closes sessions as it advances; state ~ active users)
  *  - `temporal_join` — [[streaming.EventStreams.temporalJoin]]
  *    (flatMapGroupsWithState as-of buffers on BOTH streams; state ~
  *    keys × horizon)
  *  - `ivf_append` — [[streaming.EmbeddingStreams.ivfAppendIngest]]
  *    (cell assignment under the layout's persisted integer codebook +
  *    partitioned append; cost ~
  *    batch, never corpus)
  *  - `gen_publish` — [[streaming.GenerationStreams.generationIngest]]
  *    (per-batch fold + atomic multi-table generation publish; state ~
  *    group cardinality, commit O(1) metadata)
  *
  * Usage: SPARK_GRAFT_SF_DIR=<corpus dir> runMain graft.StreamBench
  *   [nBatches] [docBatchRows] [eventBatchRows]
  * `SPARK_GRAFT_STREAM_ONLY=a,b` restricts to named paths.
  * Prints one `[streambench] path=… batch=… rows=… sec=…` line per
  * micro-batch and one compact JSON summary line per path. */
object StreamBench {

  private def rmrf(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))

  private def freshDir(root: String, name: String): String = {
    val p = Paths.get(root, name)
    rmrf(p)
    Files.createDirectories(p)
    p.toString
  }

  /** Write `df` as exactly one parquet FILE per slice under `dir`,
    * slice i = rows with pmod(hash-free modulo of a provided index
    * column already present) — the caller supplies `sliceCol` in
    * [0, n). One file per slice keeps file i == micro-batch i. */
  private def writeSlices(df: DataFrame, sliceCol: String, n: Int,
                          dir: String): Unit =
    (0 until n).foreach { i =>
      df.where(col(sliceCol) === i).drop(sliceCol)
        .coalesce(1) // one FILE == one micro-batch (measurement harness
        // only — never a library path)
        .write.mode("append").parquet(dir)
    }

  /** Await `q` and return (batchId, inputRows, seconds) per progress
    * entry with rows > 0. */
  private def timedQuery(q: StreamingQuery): Seq[(Long, Long, Double)] = {
    q.awaitTermination()
    q.recentProgress.toSeq
      .filter(_.numInputRows > 0)
      .map(p => (p.batchId, p.numInputRows,
        p.durationMs.getOrDefault("triggerExecution", 0L) / 1000.0))
  }

  /** One-file-per-trigger stream over `srcDir` (file i == micro-batch i). */
  private def fileStream(spark: SparkSession, srcDir: String,
                         schema: org.apache.spark.sql.types.StructType)
      : DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)

  /** Run `start` over a one-file-per-trigger stream of `srcDir`, await
    * completion, and return per-batch timings. */
  private def timedStream(spark: SparkSession, srcDir: String,
                          schema: org.apache.spark.sql.types.StructType,
                          start: DataFrame => StreamingQuery)
      : Seq[(Long, Long, Double)] =
    timedQuery(start(fileStream(spark, srcDir, schema)))

  private def report(path: String, rows: Seq[(Long, Long, Double)]): Unit = {
    rows.foreach { case (b, n, s) =>
      println(f"[streambench] path=$path batch=$b rows=$n sec=$s%.3f")
    }
    val secs = rows.map(_._3)
    val js = rows.map { case (b, _, s) => f""""$b":$s%.3f""" }
      .mkString("{", ",", "}")
    println(f"""{"path":"$path","n_batches":${rows.size},"total_sec":${secs.sum}%.3f,"first_sec":${secs.headOption.getOrElse(0.0)}%.3f,"last_sec":${secs.lastOption.getOrElse(0.0)}%.3f,"batches":$js}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/tmp/blowup10")
    val nBatches = args.headOption.map(_.toInt).getOrElse(10)
    val docRows = args.lift(1).map(_.toInt).getOrElse(2500)
    val evRows = args.lift(2).map(_.toInt).getOrElse(10000)
    val spark = Sessions.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val root = Files.createTempDirectory("graft-streambench").toString
    val only = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    def wanted(path: String): Boolean = only.forall(_.contains(path))
    println(s"[streambench] corpus=$sfDir work=$root " +
      s"nBatches=$nBatches docRows=$docRows evRows=$evRows" +
      only.fold("")(o => s" only=${o.mkString(",")}"))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    // Tables normalizes events.ts across SF dirs (nanos-long vs NTZ)
    val eventsTs = Tables(spark, sfDir, "events")
      .withColumn("ts", col("ts").cast("timestamp"))
    val events = eventsTs
      .withColumn("ts", unix_micros(col("ts")))

    // ---- ppl_gate: frozen 50k-corpus reference, nBatches × docRows ----
    if (wanted("ppl_gate")) {
      val refDir = s"$sfDir/documents.parquet" // frozen generation
      val srcDir = freshDir(root, "ppl_src")
      val arrivals = docs.orderBy("doc_id").limit(nBatches * docRows)
        .withColumn("_slice", pmod(col("doc_id"), lit(nBatches)).cast("int"))
      writeSlices(arrivals, "_slice", nBatches, srcDir)
      val rows = timedStream(spark, srcDir, docs.schema, src =>
        streaming.DocumentStreams.perplexityGateIngest(src, refDir,
          freshDir(root, "ppl_out"), freshDir(root, "ppl_kept"),
          freshDir(root, "ppl_ckpt"), "doc_id", "text", "lang"))
      report("ppl_gate", rows)
    }

    // ---- winnow_ingest: seed = half the corpus, arrivals = the rest ----
    if (wanted("winnow_ingest")) {
      val srcDir = freshDir(root, "win_src")
      val refDir = freshDir(root, "win_ref")
      val n = docs.count()
      val seed = docs.where(pmod(col("doc_id"), lit(2)) === 0)
      seed.write.mode("overwrite").parquet(refDir)
      val arrivals = docs.where(pmod(col("doc_id"), lit(2)) === 1)
        .orderBy("doc_id").limit(nBatches * docRows)
        .withColumn("_slice",
          pmod(col("doc_id") - 1, lit(2L * nBatches)).cast("int") / 2)
        .withColumn("_slice", col("_slice").cast("int"))
      writeSlices(arrivals, "_slice", nBatches, srcDir)
      println(s"[streambench] winnow seed=${n / 2} arrivals=" +
        s"${nBatches.toLong * docRows}")
      val rows = timedStream(spark, srcDir, docs.schema, src =>
        streaming.DocumentStreams.dedupIngestWinnow(src, refDir,
          freshDir(root, "win_out"), freshDir(root, "win_ckpt"),
          "doc_id", "text"))
      report("winnow_ingest", rows)
    }

    // ---- cdc_upsert: events as a change feed over ~20k keys ----
    if (wanted("cdc_upsert")) {
      val srcDir = freshDir(root, "cdc_src")
      val changes = events.orderBy("event_id").limit(nBatches * evRows)
        .select(
          pmod(col("event_id"), lit(20000)).as("k"),
          col("ts"),
          when(pmod(col("event_id"), lit(17)) === 0, "D").otherwise("U")
            .as("op"),
          col("event_type"), col("value"),
          pmod(col("event_id"), lit(nBatches)).cast("int").as("_slice"))
      writeSlices(changes, "_slice", nBatches, srcDir)
      val schema = changes.drop("_slice").schema
      val target = s"$root/cdc_target"
      val rows = timedStream(spark, srcDir, schema, src =>
        streaming.ChangeCaptureStreams.upsertIngest(src, target,
          freshDir(root, "cdc_backup"), freshDir(root, "cdc_ckpt"),
          "k", "ts", "op"))
      report("cdc_upsert", rows)
    }

    // ---- cms_maintain: per-event-type CMS over user ids ----
    if (wanted("cms_maintain")) {
      val srcDir = freshDir(root, "cms_src")
      val feed = events.orderBy("event_id").limit(nBatches * evRows)
        .select(col("event_type"), col("user_id"),
          pmod(col("event_id"), lit(nBatches)).cast("int").as("_slice"))
      writeSlices(feed, "_slice", nBatches, srcDir)
      val schema = feed.drop("_slice").schema
      val target = s"$root/cms_target"
      val rows = timedStream(spark, srcDir, schema, src =>
        streaming.SketchStreams.cmsIngest(src, target,
          freshDir(root, "cms_backup"), freshDir(root, "cms_ckpt"),
          Seq("event_type"), "user_id"))
      report("cms_maintain", rows)
    }

    // ---- bitmap_maintain: per-event-type EXACT distinct-user bitmaps ----
    if (wanted("bitmap_maintain")) {
      val srcDir = freshDir(root, "bm_src")
      val feed = events.orderBy("event_id").limit(nBatches * evRows)
        .select(col("event_type"), col("user_id"),
          pmod(col("event_id"), lit(nBatches)).cast("int").as("_slice"))
      writeSlices(feed, "_slice", nBatches, srcDir)
      val schema = feed.drop("_slice").schema
      val rows = timedStream(spark, srcDir, schema, src =>
        streaming.SketchStreams.bitmapIngest(src, s"$root/bm_target",
          freshDir(root, "bm_backup"), freshDir(root, "bm_ckpt"),
          Seq("event_type"), "user_id"))
      report("bitmap_maintain", rows)
    }

    // ---- mix_gap: per-source (docs, tokens) state + full report ----
    if (wanted("mix_gap")) {
      val srcDir = freshDir(root, "mix_src")
      val feed = docs.orderBy("doc_id").limit(nBatches * docRows)
        .select(col("source"),
          size(functions.GraftFunctions.tokens(col("text"))).cast("long")
            .as("n_tokens"),
          pmod(col("doc_id"), lit(nBatches)).cast("int").as("_slice"))
      writeSlices(feed, "_slice", nBatches, srcDir)
      val schema = feed.drop("_slice").schema
      val rows = timedStream(spark, srcDir, schema, src =>
        streaming.DocumentStreams.mixGapMonitor(src, s"$root/mix_state",
          freshDir(root, "mix_out"), freshDir(root, "mix_backup"),
          freshDir(root, "mix_ckpt"), "source", "n_tokens"))
      report("mix_gap", rows)
    }

    // ---- gen_publish: atomic generation-set maintenance per batch ----
    if (wanted("gen_publish")) {
      val srcDir = freshDir(root, "gen_src")
      val feed = events.orderBy("event_id").limit(nBatches * evRows)
        .select(col("event_type"), col("value").cast("long").as("v"),
          pmod(col("event_id"), lit(nBatches)).cast("int").as("_slice"))
      writeSlices(feed, "_slice", nBatches, srcDir)
      val schema = feed.drop("_slice").schema
      val rows = timedStream(spark, srcDir, schema, src =>
        streaming.GenerationStreams.generationIngest(src,
          s"$root/gen_target", freshDir(root, "gen_ckpt"),
          "event_type", "v"))
      report("gen_publish", rows)
    }

    // time-ordered slicing for the event-time stateful operators: the
    // watermark must ADVANCE across micro-batches for session/buffer
    // state to close and flush — id-modulo slices would interleave the
    // whole time range into every batch (harness-side window, bounded)
    def timeSliced(df: DataFrame, limit: Int): DataFrame = {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(pmod(lit(0L), lit(1L)))
        .orderBy(col("ts"), col("event_id"))
      df.orderBy("ts", "event_id").limit(limit)
        .withColumn("_slice", (ntile(nBatches).over(w) - 1).cast("int"))
    }

    // ---- session_windows: native session_window state per user ----
    if (wanted("session_windows")) {
      val srcDir = freshDir(root, "sw_src")
      val feed = timeSliced(
        eventsTs.select(col("event_id"), col("ts"), col("user_id")),
        nBatches * evRows)
      writeSlices(feed, "_slice", nBatches, srcDir)
      val schema = feed.drop("_slice").schema
      val rows = timedStream(spark, srcDir, schema, src =>
        streaming.EventStreams.sessionWindowCounts(src)
          .writeStream.format("parquet")
          .option("path", freshDir(root, "sw_out"))
          .option("checkpointLocation", freshDir(root, "sw_ckpt"))
          .trigger(Trigger.AvailableNow())
          .start())
      report("session_windows", rows)
    }

    // ---- temporal_join: as-of buffers on BOTH streams ----
    if (wanted("temporal_join")) {
      import spark.implicits._
      val keyed = eventsTs.select(col("event_id"), col("ts"),
        pmod(col("user_id"), lit(2000)).as("key"), col("event_type"))
      // change stream: every 5th event becomes a state change; (key, ts)
      // made unique by the min-collapse (the asofBackward contract)
      val chgSrc = freshDir(root, "tj_chg_src")
      val chg = timeSliced(
        keyed.where(pmod(col("event_id"), lit(5)) === 0)
          .groupBy(col("key"), col("ts"))
          .agg(min(col("event_type")).as("state"),
            min(col("event_id")).as("event_id"))
          .select(col("key"), col("ts"), col("state"), col("event_id")),
        nBatches * evRows / 5)
      writeSlices(chg.drop("event_id"), "_slice", nBatches, chgSrc)
      val evSrc = freshDir(root, "tj_ev_src")
      val ev = timeSliced(
        keyed.where(pmod(col("event_id"), lit(5)) =!= 0)
          .select(col("key"), col("ts"), col("event_id")),
        nBatches * evRows)
      writeSlices(ev, "_slice", nBatches, evSrc)
      val changes = fileStream(spark, chgSrc, chg.drop("event_id", "_slice")
        .schema).as[streaming.EventStreams.StateChange]
      val evs = fileStream(spark, evSrc, ev.drop("_slice").schema)
        .as[streaming.EventStreams.KeyedEvent]
      val rows = timedQuery(
        streaming.EventStreams.temporalJoin(changes, evs)
          .writeStream.format("parquet")
          .option("path", freshDir(root, "tj_out"))
          .option("checkpointLocation", freshDir(root, "tj_ckpt"))
          .trigger(Trigger.AvailableNow())
          .start())
      report("temporal_join", rows)
    }

    // ---- ivf_append: layout growth under the persisted codebook ----
    if (wanted("ivf_append")) {
      val vecs = spark.read.parquet(s"$sfDir/embeddings.parquet")
      val layout = freshDir(root, "ivf_layout")
      val seed = vecs.where(pmod(col("vec_id"), lit(2)) === 0)
      operators.Similarity.writeIvf(seed, "vec_id", "embedding", layout,
        operators.Embeddings.exactCentroids(seed, "vec_id", "embedding",
          dim = 64, k = 16, iters = 2))
      val nSeed = seed.count()
      val srcDir = freshDir(root, "ivf_src")
      val arrivals = vecs.where(pmod(col("vec_id"), lit(2)) === 1)
        .withColumn("_slice",
          pmod(expr("vec_id div 2"), lit(nBatches)).cast("int"))
      writeSlices(arrivals, "_slice", nBatches, srcDir)
      println(s"[streambench] ivf seed=$nSeed arrivals=" +
        s"${vecs.count() - nSeed}")
      val rows = timedStream(spark, srcDir, vecs.schema, src =>
        streaming.EmbeddingStreams.ivfAppendIngest(src, layout,
          freshDir(root, "ivf_ckpt"), "vec_id", "embedding"))
      report("ivf_append", rows)
    }

    spark.stop()
  }
}
