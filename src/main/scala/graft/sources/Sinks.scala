package graft.sources

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Write-side lifecycle (SURVEY §2.1 S8-S10).
  *
  * S9's reference semantics is a single MySQL transaction doing
  * backup-CTAS + TRUNCATE + INSERT (ref `src/batch_train.py:154-176`).
  * Spark has no cross-table transaction; the closest safe protocol is
  * all-renames: write the new snapshot to a staging dir, rename the old
  * target to the backup path (metadata-only — no second read+write of the
  * data), rename staging in. Directory renames are atomic per-filesystem
  * (true on HDFS, best-effort on object stores, documented delta). A crash
  * at any step leaves a recoverable state: before the backup rename the
  * old target is untouched; between the two renames the target is briefly
  * absent but BOTH the old data (backup) and new data (staging) are intact
  * on disk, and [[Sinks.recover]] — run automatically at the start of every
  * `snapshotOverwrite` — rolls the swap forward. Single-writer protocol,
  * like the reference's one-process pipelines. */
object Sinks {

  /** S8 — append sink (ref `to_sql(..., if_exists='append')`). */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  private def fsOf(spark: SparkSession) =
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def stagingsOf(fs: org.apache.hadoop.fs.FileSystem,
                         target: String): Seq[Path] = {
    val parent = new Path(target).getParent
    val prefix = new Path(target).getName + ".staging-"
    if (parent == null || !fs.exists(parent)) Seq.empty
    else fs.listStatus(parent).map(_.getPath)
      .filter(_.getName.startsWith(prefix)).toSeq
  }

  /** Recover-on-open for [[snapshotOverwrite]]: a crash between the two
    * renames leaves the target absent with the new snapshot still in a
    * staging dir — roll the swap forward (newest COMMITTED staging wins;
    * committed = the write finished, witnessed by the `_SUCCESS` marker
    * the parquet committer drops). A torn staging — crash mid-write — is
    * never promoted, only deleted; when the target exists, orphaned
    * stagings are aborted writes and are dropped too. */
  def recover(spark: SparkSession, target: String): Unit = {
    val fs = fsOf(spark)
    val targetPath = new Path(target)
    val committed = stagingsOf(fs, target)
      .filter(s => fs.exists(new Path(s, "_SUCCESS")))
    if (!fs.exists(targetPath) && committed.nonEmpty) {
      val newest = committed.maxBy(_.getName)
      if (!fs.rename(newest, targetPath))
        throw new java.io.IOException(s"recover: rename $newest -> $target failed")
    }
    stagingsOf(fs, target).foreach(fs.delete(_, true))
  }

  /** Open a snapshot table with recover-on-open: completes any interrupted
    * swap (see [[recover]]) before reading, so a reader arriving after a
    * mid-swap crash sees the committed new snapshot, never an absent dir. */
  def readSnapshot(spark: SparkSession, target: String): DataFrame = {
    recover(spark, target)
    spark.read.parquet(target)
  }

  /** Backup directory names: `backup_yyyyMMdd_HHmmss`, plus `_<n>` for the
    * n-th further backup taken within the same second. */
  private val BackupName = """backup_(\d{8}_\d{6})(?:_(\d+))?""".r

  /** Creation order of a [[snapshotOverwrite]] backup directory: (instant
    * of its second, same-second counter), or None for any other name —
    * the one parser [[readSnapshotAsOf]] and [[vacuumBackups]] share.
    * STRICT: SimpleDateFormat alone is lenient (it stops at trailing text
    * and rolls over impossible dates), which would make a manual copy like
    * `backup_20250101_101010_keep` look like a backup. */
  private def backupOrder(name: String): Option[(Long, Int)] = name match {
    case BackupName(ts, n) =>
      val fmt = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
      fmt.setLenient(false)
      scala.util.Try(fmt.parse(ts).getTime).toOption
        .map(_ -> Option(n).fold(0)(_.toInt))
    case _ => None
  }

  /** The [[backupOrder]]-sorted backups under `backupRoot`, oldest first. */
  private def backupsOf(fs: org.apache.hadoop.fs.FileSystem,
                        backupRoot: String): Seq[((Long, Int), Path)] =
    if (!fs.exists(new Path(backupRoot))) Seq.empty
    else fs.listStatus(new Path(backupRoot)).map(_.getPath).toSeq
      .flatMap(p => backupOrder(p.getName).map(_ -> p))
      .sortBy(_._1)

  /** S9 — snapshot-versioned overwrite: if the target exists and is
    * non-empty, it survives as `<backupRoot>/backup_<ts>` (the reference's
    * timestamped backup tables) via a metadata-only rename, and the new
    * snapshot replaces it via staging dir + rename. A further backup in
    * the same second becomes `backup_<ts>_<n>` — renaming onto an existing
    * directory would nest the old snapshot inside it. Returns the backup
    * path, if one was taken. See the object doc for the crash protocol;
    * `crashPoint` is a test hook fired between protocol steps. */
  def snapshotOverwrite(spark: SparkSession, df: DataFrame, target: String,
                        backupRoot: String,
                        clock: () => Long = () => System.currentTimeMillis(),
                        crashPoint: String => Unit = _ => ())
      : Option[String] = {
    val fs = fsOf(spark)
    val targetPath = new Path(target)
    recover(spark, target)
    // A4 non-empty gate, ref :157-158. Read with the new frame's schema:
    // no inference job, and a dir without parquet files reads as empty;
    // isEmpty selects no column, so an older schema cannot conflict.
    val oldNonEmpty = fs.exists(targetPath) &&
      !spark.read.schema(df.schema).parquet(target).isEmpty
    // stage FIRST: df may itself read from the current target
    val staging = new Path(target + ".staging-" + clock())
    df.write.mode("overwrite").parquet(staging.toString)
    crashPoint("staged")
    val backup: Option[String] =
      if (oldNonEmpty) {
        val ts = new java.text.SimpleDateFormat("yyyyMMdd_HHmmss")
          .format(new java.util.Date(clock()))
        val b = Iterator.from(0)
          .map(n => if (n == 0) s"backup_$ts" else s"backup_${ts}_$n")
          .map(name => new Path(backupRoot, name))
          .find(!fs.exists(_)).get
        val parent = b.getParent
        if (parent != null) fs.mkdirs(parent)
        if (!fs.rename(targetPath, b)) // metadata-only, never a data copy
          throw new java.io.IOException(s"rename $target -> $b failed")
        Some(b.toString)
      } else {
        if (fs.exists(targetPath)) fs.delete(targetPath, true) // empty dir
        None
      }
    crashPoint("backed-up")
    if (!fs.rename(staging, targetPath))
      throw new java.io.IOException(s"rename $staging -> $target failed")
    backup
  }

  /** Continuously-maintained aggregate snapshot: a stream of
    * [[graft.operators.ChangeCapture.snapshotDiff]]-shaped change rows
    * folds per micro-batch into a grouped (count, sum) snapshot at
    * `target` via the delta merge ([[graft.operators.ChangeCapture
    * .incrementalAggFromAgg]]) and the crash-safe [[snapshotOverwrite]]
    * protocol — streaming + CDC + versioned sink composed: the at-scale
    * replacement for "re-aggregate the world each run".
    *
    * Exactly-once across foreachBatch replays: the snapshot carries the
    * last applied micro-batch id in a `_batch` column (it rides through
    * the atomic staging rename WITH the data, so data and marker can't
    * tear); a replayed batch with id <= the stored marker is skipped.
    * Trade-off documented in [[drainDeclarations]]'s scaladoc applies
    * otherwise. */
  def maintainAggSnapshot(changes: DataFrame, target: String,
                          backupRoot: String, checkpoint: String,
                          groupCol: String, valueCol: String): StreamingQuery =
    changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyAggBatch(batch, batchId, target, backupRoot, groupCol, valueCol)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()

  /** One micro-batch of [[maintainAggSnapshot]] — separated so the replay
    * idempotence is directly testable. */
  def applyAggBatch(batch: DataFrame, batchId: Long, target: String,
                    backupRoot: String, groupCol: String,
                    valueCol: String): Unit = {
    val spark = batch.sparkSession
    val fs = fsOf(spark)
    val exists = { recover(spark, target); fs.exists(new Path(target)) }
    val aggSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("g",
        batch.schema(s"new_$groupCol").dataType),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("_batch",
        org.apache.spark.sql.types.LongType)))
    val prev =
      if (exists) spark.read.parquet(target)
      else spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], aggSchema)
    val lastApplied =
      if (exists && prev.columns.contains("_batch"))
        prev.select(max(col("_batch"))).first() match {
          case r if r.isNullAt(0) => -1L
          case r => r.getLong(0)
        }
      else -1L
    if (batchId > lastApplied) {
      val merged = graft.operators.ChangeCapture
        .incrementalAggFromAgg(
          prev.select("g", "n", "s").where(col("n") > 0), batch,
          groupCol, valueCol)
        .withColumn("_batch", lit(batchId))
      // marker SENTINEL row (n = 0, null group): keeps the applied-batch
      // watermark even when every group empties — without it, a replay
      // after an all-groups-deleted batch sees an empty snapshot, loses
      // the marker, and re-applies inserts. Readers go through
      // [[readAggSnapshot]], which drops it.
      val sentinel = merged.sparkSession.createDataFrame(
        merged.sparkSession.sparkContext.parallelize(Seq(
          org.apache.spark.sql.Row(null, 0L, 0L, batchId))),
        merged.schema)
      snapshotOverwrite(spark, merged.unionByName(sentinel), target,
        backupRoot)
    }
  }

  /** Read a [[maintainAggSnapshot]] aggregate: the (g, n, s) rows with the
    * marker sentinel removed. */
  def readAggSnapshot(spark: SparkSession, target: String): DataFrame = {
    recover(spark, target)
    spark.read.parquet(target).where(col("n") > 0).select("g", "n", "s")
  }

  /** Time-travel read over the [[snapshotOverwrite]] backup chain: the
    * snapshot as it existed AT `asOfMillis` — the oldest
    * `backup_yyyyMMdd_HHmmss[_n]` whose overwrite happened strictly AFTER
    * the asked instant holds that instant's data (each backup is the state
    * REPLACED at its timestamp); if every backup predates the instant (or
    * none exist), the live target is current as of it. None when the
    * table didn't exist yet at `asOfMillis` (asked instant earlier than
    * the oldest backup's creation... indistinguishable from pre-history —
    * callers get the oldest backup in that case, documented). Mirrors the
    * reference's timestamped backup tables (ref `import_xml_history.py`'s
    * `table_b_history_backup_*`), upgraded from "manual restore source"
    * to a queryable read path. */
  def readSnapshotAsOf(spark: SparkSession, target: String,
                       backupRoot: String, asOfMillis: Long): DataFrame = {
    val fs = fsOf(spark)
    recover(spark, target)
    // the earliest backup taken after the instant = the state at the instant
    backupsOf(fs, backupRoot).find { case ((ts, _), _) => ts > asOfMillis } match {
      case Some((_, p)) => spark.read.parquet(p.toString)
      case None => spark.read.parquet(target)
    }
  }

  /** Small-file compaction for an at-rest parquet snapshot: rewrite the
    * directory into ceil(totalBytes / targetBytes) files via the
    * crash-safe [[snapshotOverwrite]] protocol (which stages BEFORE
    * touching the target precisely so a job may read its own target — a
    * compaction is exactly that job). A no-op when the directory is
    * already at or below the target file count. Streaming appends and
    * micro-batch sinks accumulate small files; at 100 TB unchecked small
    * files dominate open/seek cost, so compaction is a first-class
    * maintenance operator, not an afterthought. Returns the file count
    * written (or the current count when skipped). */
  def compactSnapshot(spark: SparkSession, target: String, backupRoot: String,
                      targetBytes: Long = 128L * 1024 * 1024): Int = {
    val fs = fsOf(spark)
    recover(spark, target)
    val files = fs.listStatus(new Path(target))
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    if (files.isEmpty) return 0
    val total = files.map(_.getLen).sum
    val want = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    if (files.length <= want) files.length
    else {
      snapshotOverwrite(spark,
        spark.read.parquet(target).repartition(want), target, backupRoot)
      want
    }
  }

  /** Backup RETENTION for the [[snapshotOverwrite]] chain: delete all but
    * the newest `keepLast` backups under `backupRoot`. Every overwrite
    * adds a backup directory; unbounded chains eventually dominate
    * storage, so retention is the maintenance twin of [[compactSnapshot]]
    * — after a vacuum, [[readSnapshotAsOf]] can only travel as far back
    * as the oldest kept backup (that is the retention contract, same as
    * any lakehouse VACUUM). Only directories matching the
    * `backup_yyyyMMdd_HHmmss[_n]` pattern are candidates — anything else
    * under the root is never touched. Returns the deleted paths. */
  def vacuumBackups(spark: SparkSession, backupRoot: String,
                    keepLast: Int): Seq[String] = {
    require(keepLast >= 0, "keepLast must be >= 0")
    val fs = fsOf(spark)
    val doomed = backupsOf(fs, backupRoot).dropRight(keepLast).map(_._2)
    doomed.foreach(p => fs.delete(p, true))
    doomed.map(_.toString).toSeq
  }

  /** Bucketed at-rest table: hash-bucketed (and bucket-sorted) by the
    * join/aggregation key, registered in the catalog with its files at
    * `path`. Two tables bucketed the same way join WITHOUT any exchange —
    * the scan's reported partitioning already satisfies the join's
    * requirement — which at 100 TB converts every recurring fact⋈fact
    * join on the bucket key from a full dual shuffle into a local merge
    * (pinned by `ScaleLayoutSpec`: SortMergeJoin, zero shuffle exchanges).
    * The same layout serves bucket-pruned point lookups and map-side
    * partial aggregation on the key. */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
                         numBuckets: Int, path: String): Unit =
    df.write.format("parquet")
      .bucketBy(numBuckets, bucketCol)
      .sortBy(bucketCol)
      .option("path", path)
      .mode("overwrite")
      .saveAsTable(table)

  /** Per-JVM registry of built time-travel backup chains, keyed by the
    * owning session + a caller key that must uniquely identify the input
    * (same cache contract as the dedup/layout memos). The builder writes
    * the given snapshot STATES in order through [[snapshotOverwrite]] —
    * so states 0..n-2 survive as timestamped backups — and records the
    * instant just after each overwrite; `readSnapshotAsOf(instants(i))`
    * then returns exactly `states(i)`. Writes sleep past the backup
    * name's 1-second resolution so chain timestamps are strictly
    * ordered (a one-time build cost; reads are cached). */
  private val ttChains =
    new graft.SessionMemo[String, (String, String, Seq[Long])]()

  def backupChainFor(spark: SparkSession, states: Seq[DataFrame],
                     key: String,
                     baseDir: String =
                       sys.props("java.io.tmpdir") + "/graft-timetravel")
      : (String, String, Seq[Long]) = {
    require(states.nonEmpty, "at least one state")
    ttChains.getOrCompute(spark, key) {
      val root = graft.TmpArtifacts.under(baseDir, key)
      val target = s"$root/table"
      val backups = s"$root/backups"
      fsOf(spark).delete(new Path(root), true)
      val instants = states.zipWithIndex.map { case (df, i) =>
        if (i > 0) Thread.sleep(1100) // backup names resolve to seconds
        snapshotOverwrite(spark, df, target, backups)
        System.currentTimeMillis()
      }
      (target, backups, instants)
    }
  }

  /** Per-JVM registry of compacted snapshots: writes `df` deliberately
    * FRAGMENTED (`fragments` files), then runs [[compactSnapshot]] over it
    * — the small-files maintenance path end to end, built once per
    * session + dataset key. Returns (path, filesBefore, filesAfter);
    * reads of the path see the same rows either way, which is what the
    * registry oracle checks. */
  private val compacted = new graft.SessionMemo[String, (String, Int, Int)]()

  def compactedSnapshotFor(df: DataFrame, key: String, fragments: Int = 64,
                           targetBytes: Long = 128L * 1024 * 1024,
                           baseDir: String =
                             sys.props("java.io.tmpdir") + "/graft-compact")
      : (String, Int, Int) = {
    val spark = df.sparkSession
    compacted.getOrCompute(spark, key) {
      val root = graft.TmpArtifacts.under(baseDir, key)
      val target = s"$root/table"
      val fs = fsOf(spark)
      fs.delete(new Path(root), true)
      df.repartition(fragments).write.mode("overwrite").parquet(target)
      def nFiles = fs.listStatus(new Path(target))
        .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      val before = nFiles
      compactSnapshot(spark, target, s"$root/backups", targetBytes)
      (target, before, nFiles)
    }
  }

  // ---- merge-on-read deletes (the deletion-vector/tombstone pattern) ----
  // A delete at 100 TB must not rewrite the table (copy-on-write pays a
  // full write amplification per delete batch): instead the delete lands
  // as a tiny KEY tombstone file, readers anti-join base against
  // tombstones, and a maintenance-time compaction folds the tombstones
  // into a rewritten base. Crash ordering is safe by idempotence: the
  // compacted base replaces the old one via the [[snapshotOverwrite]]
  // staging protocol BEFORE the tombstone directory is cleared, and
  // re-applying a tombstone whose rows are already gone is a no-op
  // anti-join — a crash between the two steps loses nothing.

  /** Initialize a merge-on-read table root: `<root>/base` holds the data,
    * `<root>/tombstones` (created on first delete) holds delete keys. */
  def morInit(df: DataFrame, root: String): Unit =
    df.write.mode("overwrite").parquet(s"$root/base")

  /** Record deletes as a KEY tombstone file — an append of the key rows
    * only, never a base rewrite. Keys must be non-null (an anti-join
    * cannot target a null key; same contract as
    * [[graft.operators.ChangeCapture.upsert]]). */
  def softDelete(keys: DataFrame, root: String): Unit =
    keys.write.mode("append").parquet(s"$root/tombstones")

  /** The merged view: base rows minus tombstoned keys, one anti-join on
    * the key. Delete sets are typically small (AQE broadcasts the
    * tombstone side); a pathological mass delete degrades to one keyed
    * shuffle, still never a rewrite. */
  def readMergeOnRead(spark: SparkSession, root: String,
                      keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "at least one key column")
    val base = spark.read.parquet(s"$root/base")
    val t = new Path(s"$root/tombstones")
    if (!fsOf(spark).exists(t)) base
    else base.join(
      spark.read.parquet(t.toString).select(keyCols.map(col): _*),
      keyCols, "left_anti")
  }

  /** Fold tombstones into the base: rewrite `<root>/base` as the merged
    * view (crash-safe via [[snapshotOverwrite]] — staged first, old base
    * survives as a backup), THEN clear the tombstone directory. Returns
    * the backup path, if one was taken. */
  def compactTombstones(spark: SparkSession, root: String,
                        keyCols: Seq[String]): Option[String] = {
    val merged = readMergeOnRead(spark, root, keyCols)
    val backup = snapshotOverwrite(spark, merged, s"$root/base",
      s"$root/backups")
    fsOf(spark).delete(new Path(s"$root/tombstones"), true)
    backup
  }

  /** Per-JVM registry of merge-on-read table roots (same contract as
    * [[compactedSnapshotFor]]: `key` uniquely identifies the input;
    * built once per session + key): base written, then each delete batch
    * appended as its own tombstone file. */
  private val morTables = new graft.SessionMemo[String, String]()

  def morTableFor(df: => DataFrame, deletes: Seq[DataFrame], key: String,
                  baseDir: String =
                    sys.props("java.io.tmpdir") + "/graft-mor"): String = {
    val spark = df.sparkSession
    morTables.getOrCompute(spark, key) {
      val root = graft.TmpArtifacts.under(baseDir, key)
      fsOf(spark).delete(new Path(root), true)
      morInit(df, root)
      deletes.foreach(softDelete(_, root))
      root
    }
  }

  /** Per-JVM registry of bucketed at-rest tables ([[writeBucketedTable]]
    * under a derived catalog name, built once per session + dataset key):
    * the read-side entry point for bucket-pruned lookups and zero-shuffle
    * joins — `spark.table(bucketedTableFor(...))`. */
  private val bucketedTables = new graft.SessionMemo[String, String]()

  def bucketedTableFor(df: DataFrame, bucketCol: String, numBuckets: Int,
                       key: String,
                       baseDir: String =
                         sys.props("java.io.tmpdir") + "/graft-buckets")
      : String = {
    val spark = df.sparkSession
    bucketedTables.getOrCompute(spark, key) {
      // catalog identifier: letters/digits/underscore only, hash suffix so
      // sanitized-away characters can't collide two keys
      val tbl = ("graft_bkt_" + key.replaceAll("[^A-Za-z0-9_]", "_")
        .takeRight(80) + "_" + java.lang.Integer.toHexString(
          scala.util.hashing.MurmurHash3.stringHash(key))).toLowerCase
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      writeBucketedTable(df, tbl, bucketCol, numBuckets, s"$baseDir/$tbl")
      tbl
    }
  }

  /** S10 — drop-directory drain: Structured Streaming file source with
    * `cleanSource=archive` and `Trigger.AvailableNow` (process the
    * backlog, then stop — exactly the reference's "run the script, drain
    * the directory" loop, ref `import_xml_history.py:205-211`).
    *
    * Delivery: the checkpoint guarantees no file is REPROCESSED after its
    * batch commits, but the sink is a plain parquet append, so a hard
    * crash inside the window between the append and the offset commit
    * re-appends that batch on restart — at-least-once across crashes,
    * exactly-once in every run that completes. The reference's
    * import-then-move loop has the same crash window (move after write);
    * a transactional target (e.g. [[Jdbc.append]] with an upsert key, or
    * per-batch overwrite subdirs keyed on `batchId`) upgrades it.
    *
    * Archival-timing delta vs the reference (observed, pinned by test):
    * Spark's source cleaner archives a batch's files when a LATER batch or
    * run touches the source, so the final batch's inputs remain in the
    * inbox until the next drain. Correctness is unaffected — the
    * checkpoint, not the move, provides exactly-once (the reference's
    * move-after-write is itself only at-least-once across crashes). */
  def drainDeclarations(spark: SparkSession, srcDir: String, target: String,
                        archiveDir: String, checkpoint: String): StreamingQuery = {
    XmlDeclarations.readStreamRaw(spark, srcDir, Some(archiveDir))
      .writeStream
      // rows arrive numbered by the parser and cleanse() is row-local, so
      // each micro-batch is one map-only stage into a plain parquet append
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(XmlDeclarations.cleanse(batch), target)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }

  /** S10 twin for Pipeline A: drain the manifest drop directory
    * (.csv/.xlsx/.xls) into the raw-orders table, archiving processed
    * files (ref `process_excel_order.py:249-262`'s loop; same delivery
    * semantics as [[drainDeclarations]] — see its doc). Files matching
    * neither layout are skipped, as in the batch path. */
  def drainManifests(spark: SparkSession, srcDir: String, target: String,
                     archiveDir: String, checkpoint: String): StreamingQuery = {
    CsvManifests.readStreamParsed(spark, srcDir, Some(archiveDir))
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        append(CsvManifests.finalizeBatch(batch), target)
      }
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
  }
}
