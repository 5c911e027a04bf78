package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

class SinksSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("graft-sinks").toString

  test("maintained aggregate snapshot: batches fold in, replays are idempotent") {
    import spark.implicits._
    val base = tmp()
    val target = base + "/agg"
    val backups = base + "/backups"
    def diff(rows: Seq[(String, Option[String], Option[String],
                        Option[Long], Option[Long])]) =
      rows.toDF("change_type", "old_g", "new_g", "old_v", "new_v")
    // batch 0: three inserts
    Sinks.applyAggBatch(
      diff(Seq(
        ("I", None, Some("A"), None, Some(10L)),
        ("I", None, Some("A"), None, Some(20L)),
        ("I", None, Some("B"), None, Some(5L)))),
      0L, target, backups, "g", "v")
    def state() = Sinks.readAggSnapshot(spark, target)
      .as[(String, Long, Long)].collect().sortBy(_._1)
    assert(state() === Array(("A", 2L, 30L), ("B", 1L, 5L)))
    // batch 1: update in A, delete B's only row, insert C
    val b1 = diff(Seq(
      ("U", Some("A"), Some("A"), Some(10L), Some(15L)),
      ("D", Some("B"), None, Some(5L), None),
      ("I", None, Some("C"), None, Some(7L))))
    Sinks.applyAggBatch(b1, 1L, target, backups, "g", "v")
    assert(state() === Array(("A", 2L, 35L), ("C", 1L, 7L)))
    // REPLAY of batch 1 (foreachBatch crash-retry): must be a no-op
    Sinks.applyAggBatch(b1, 1L, target, backups, "g", "v")
    assert(state() === Array(("A", 2L, 35L), ("C", 1L, 7L)))
    // versioned backups exist from the overwrites
    assert(new java.io.File(backups).listFiles().nonEmpty)
    // batch 2 empties EVERY group; the marker must survive so a replay
    // of the same batch cannot re-apply its deletes-then-inserts
    val b2 = diff(Seq(
      ("D", Some("A"), None, Some(15L), None),
      ("D", Some("A"), None, Some(20L), None),
      ("D", Some("C"), None, Some(7L), None)))
    Sinks.applyAggBatch(b2, 2L, target, backups, "g", "v")
    assert(state().isEmpty)
    // replay of an OLDER batch against the emptied snapshot: still a no-op
    Sinks.applyAggBatch(b1, 1L, target, backups, "g", "v")
    assert(state().isEmpty)
  }

  test("maintained aggregate snapshot: streaming end-to-end equals the delta fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val base = tmp()
    val stream =
      MemoryStream[(String, Option[String], Option[String], Option[Long], Option[Long])]
    stream.addData(
      ("I", None, Some("x"), None, Some(3L)),
      ("I", None, Some("y"), None, Some(4L)),
      ("U", Some("x"), Some("x"), Some(3L), Some(9L)))
    val q = Sinks.maintainAggSnapshot(
      stream.toDF().toDF("change_type", "old_g", "new_g", "old_v", "new_v"),
      base + "/agg", base + "/backups", base + "/ckpt", "g", "v")
    q.awaitTermination()
    val got = Sinks.readAggSnapshot(spark, base + "/agg")
      .as[(String, Long, Long)].collect().sortBy(_._1)
    // all three changes land in one micro-batch: x inserted then updated
    assert(got === Array(("x", 1L, 9L), ("y", 1L, 4L)))
  }

  test("time travel: as-of reads walk the backup chain to the right version") {
    import spark.implicits._
    val base = tmp()
    val target = base + "/t"
    val backups = base + "/backups"
    // three versions written at controlled clock instants
    var now = 1000000000000L
    val clock = () => now
    Sinks.snapshotOverwrite(spark, Seq(1).toDF("v"), target, backups, clock)
    now += 60000 // v2 at +60s (backs up v1 stamped with this instant)
    Sinks.snapshotOverwrite(spark, Seq(1, 2).toDF("v"), target, backups, clock)
    now += 60000 // v3 at +120s
    Sinks.snapshotOverwrite(spark, Seq(1, 2, 3).toDF("v"), target, backups, clock)
    def asOf(t: Long) = Sinks.readSnapshotAsOf(spark, target, backups, t)
      .as[Int].collect().sorted.toSeq
    // between v1 and v2 -> v1; between v2 and v3 -> v2; after v3 -> live
    assert(asOf(1000000000000L + 30000) === Seq(1))
    assert(asOf(1000000000000L + 90000) === Seq(1, 2))
    assert(asOf(1000000000000L + 999000) === Seq(1, 2, 3))
  }

  test("vacuum keeps the newest backups, bounds time travel, spares foreign dirs") {
    import spark.implicits._
    val base = tmp()
    val target = base + "/t"
    val backups = base + "/backups"
    var now = 1000000000000L
    val clock = () => now
    for (n <- 1 to 4) {
      Sinks.snapshotOverwrite(spark, (1 to n).toDF("v"), target, backups,
        clock)
      now += 60000
    } // 3 backups exist (v1, v2, v3); a non-backup dir must survive vacuum
    new java.io.File(backups + "/not_a_backup").mkdirs()
    val deleted = Sinks.vacuumBackups(spark, backups, keepLast = 1)
    assert(deleted.size === 2)
    val left = new java.io.File(backups).listFiles().map(_.getName).toSet
    assert(left.count(_.startsWith("backup_")) === 1)
    assert(left.contains("not_a_backup"))
    // travel within the kept window still works; beyond it degrades to
    // the oldest kept state (the documented retention contract)
    def asOf(t: Long) = Sinks.readSnapshotAsOf(spark, target, backups, t)
      .as[Int].collect().sorted.toSeq
    assert(asOf(1000000000000L + 150000) === Seq(1, 2, 3)) // kept backup
    assert(asOf(1000000000000L + 30000) === Seq(1, 2, 3)) // pre-history now
    assert(asOf(1000000000000L + 999000) === Seq(1, 2, 3, 4)) // live
  }

  test("compaction shrinks a many-file snapshot, loses no rows, keeps a backup") {
    import spark.implicits._
    val base = tmp()
    val target = base + "/t"
    (1 to 1000).toDF("v").repartition(50).write.parquet(target)
    val before = new java.io.File(target).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(before === 50)
    // huge target size -> everything fits one file
    val written = Sinks.compactSnapshot(spark, target, base + "/backups")
    assert(written === 1)
    val after = new java.io.File(target).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(after === 1)
    assert(spark.read.parquet(target).as[Int].collect().sorted
      === (1 to 1000).toArray)
    assert(new java.io.File(base + "/backups").listFiles().nonEmpty)
    // idempotent: already compact -> no rewrite
    assert(Sinks.compactSnapshot(spark, target, base + "/backups") === 1)
  }

  test("merge-on-read deletes: tombstones hide rows without a rewrite, " +
    "compaction folds them, a crash-stranded tombstone is harmless") {
    import spark.implicits._
    val root = tmp() + "/mor"
    Sinks.morInit((1 to 100).map(i => (i.toLong, i * 10L))
      .toDF("k", "v"), root)
    val baseFile = new java.io.File(root + "/base")
    val baseMtimes = baseFile.listFiles().map(f => f.getName -> f.lastModified)
      .toMap
    // two delete batches -> two tombstone appends, base files untouched
    Sinks.softDelete(Seq(3L, 7L).toDF("k"), root)
    Sinks.softDelete(Seq(7L, 50L).toDF("k"), root) // overlap is fine
    assert(baseFile.listFiles().map(f => f.getName -> f.lastModified).toMap
      === baseMtimes, "soft delete must never touch the base")
    val expect = (1 to 100).filterNot(Set(3, 7, 50)).map(_.toLong).toSet
    def readKeys() = Sinks.readMergeOnRead(spark, root, Seq("k"))
      .select("k").as[Long].collect().toSet
    assert(readKeys() === expect)
    // compaction folds tombstones into the base and clears them
    assert(Sinks.compactTombstones(spark, root, Seq("k")).nonEmpty)
    assert(!new java.io.File(root + "/tombstones").exists())
    assert(readKeys() === expect)
    // crash-stranded tombstone (compacted base, tombstones not yet
    // cleared): re-applying is a no-op anti-join, not data loss
    Sinks.softDelete(Seq(50L).toDF("k"), root) // 50 already gone
    assert(readKeys() === expect)
    // and deletes keep working after compaction
    Sinks.softDelete(Seq(1L).toDF("k"), root)
    assert(readKeys() === expect - 1L)
  }

  test("schema evolution: appends with a new column read back merged, old rows null") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Sinks.append(Seq((1L, "a")).toDF("k", "v"), dir)
    // later batches carry an extra column — the additive-evolution case
    Sinks.append(Seq((2L, "b", 9L)).toDF("k", "v", "extra"), dir)
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.sorted === Array("extra", "k", "v"))
    val got = merged.select("k", "extra").as[(Long, Option[Long])]
      .collect().sortBy(_._1)
    assert(got === Array((1L, None), (2L, Some(9L))))
  }

  test("append sink accumulates batches") {
    import spark.implicits._
    val dir = tmp() + "/t"
    Sinks.append(Seq(1, 2).toDF("v"), dir)
    Sinks.append(Seq(3).toDF("v"), dir)
    assert(spark.read.parquet(dir).as[Int].collect().sorted === Array(1, 2, 3))
  }

  test("snapshot overwrite: first write takes no backup, second backs up old") {
    import spark.implicits._
    val root = tmp()
    val target = s"$root/kb"
    var t = 1700000000000L
    val clock = () => { t += 1000; t }
    val b1 = Sinks.snapshotOverwrite(spark, Seq("a").toDF("v"), target, root, clock)
    assert(b1.isEmpty) // no previous snapshot
    val b2 = Sinks.snapshotOverwrite(spark, Seq("b", "c").toDF("v"), target, root, clock)
    assert(b2.isDefined && b2.get.contains("backup_"))
    // target holds the new snapshot, backup holds the old
    assert(spark.read.parquet(target).as[String].collect().sorted === Array("b", "c"))
    assert(spark.read.parquet(b2.get).as[String].collect() === Array("a"))
    // no staging leftovers
    val leftovers = new java.io.File(root).listFiles()
      .map(_.getName).filter(_.contains("staging"))
    assert(leftovers.isEmpty)
  }

  test("snapshot overwrite: an existing target without parquet files takes no backup") {
    import spark.implicits._
    val root = tmp()
    val target = s"$root/kb"
    new java.io.File(target).mkdirs()
    val b = Sinks.snapshotOverwrite(spark, Seq("a", "b").toDF("v"), target, root)
    assert(b.isEmpty)
    assert(!new java.io.File(root).list().exists(_.startsWith("backup_")))
    assert(spark.read.parquet(target).as[String].collect().sorted === Array("a", "b"))
  }

  test("snapshot overwrite: an old snapshot of another schema is still backed up") {
    import spark.implicits._
    val root = tmp()
    val target = s"$root/kb"
    Sinks.snapshotOverwrite(spark, Seq((1L, 2.5)).toDF("k", "w"), target, root)
    val b = Sinks.snapshotOverwrite(spark, Seq("x").toDF("v"), target, root)
    assert(b.isDefined)
    assert(spark.read.parquet(b.get).as[(Long, Double)].collect() === Array((1L, 2.5)))
    assert(spark.read.parquet(target).as[String].collect() === Array("x"))
  }

  test("snapshot overwrite: same-second backups get distinct names, none hidden") {
    import spark.implicits._
    val root = tmp()
    val target = s"$root/kb"
    val clock = () => 1700000000000L // every call in the same second
    Sinks.snapshotOverwrite(spark, Seq(1).toDF("v"), target, root, clock)
    val b2 = Sinks.snapshotOverwrite(spark, Seq(1, 2).toDF("v"), target, root, clock)
    val b3 = Sinks.snapshotOverwrite(spark, Seq(1, 2, 3).toDF("v"), target, root, clock)
    assert(b2.isDefined && b3.isDefined && b2 != b3)
    def rows(p: String) = spark.read.parquet(p).as[Int].collect().sorted.toSeq
    assert(rows(b2.get) === Seq(1))
    assert(rows(b3.get) === Seq(1, 2)) // not nested inside b2
    assert(!new java.io.File(b2.get.stripPrefix("file:"), "kb").exists())
    assert(rows(target) === Seq(1, 2, 3))
    // time travel and retention order same-second backups by creation
    assert(Sinks.readSnapshotAsOf(spark, target, root, 1699999999000L)
      .as[Int].collect().toSeq === Seq(1))
    val deleted = Sinks.vacuumBackups(spark, root, keepLast = 1)
    assert(deleted.size === 1 && deleted.head.endsWith(b2.get))
    assert(rows(b3.get) === Seq(1, 2))
  }

  test("snapshot overwrite: crash at ANY protocol step loses no snapshot") {
    import spark.implicits._
    class Boom extends RuntimeException("injected crash")
    def crashAt(p: String): String => Unit =
      q => if (q == p) throw new Boom

    // -- crash after staging, before the backup rename: old target intact
    val root1 = tmp()
    val t1 = s"$root1/kb"
    Sinks.snapshotOverwrite(spark, Seq("a").toDF("v"), t1, root1)
    intercept[Boom] {
      Sinks.snapshotOverwrite(spark, Seq("b").toDF("v"), t1, root1,
        crashPoint = crashAt("staged"))
    }
    assert(spark.read.parquet(t1).as[String].collect() === Array("a"))
    // retry succeeds and cleans the orphaned staging
    Sinks.snapshotOverwrite(spark, Seq("b").toDF("v"), t1, root1)
    assert(spark.read.parquet(t1).as[String].collect() === Array("b"))
    assert(!new java.io.File(root1).listFiles().map(_.getName)
      .exists(_.contains("staging")))

    // -- crash between the two renames: old is in the backup, new in
    //    staging; recover() rolls the swap forward, nothing lost
    val root2 = tmp()
    val t2 = s"$root2/kb"
    Sinks.snapshotOverwrite(spark, Seq("v1").toDF("v"), t2, root2)
    intercept[Boom] {
      Sinks.snapshotOverwrite(spark, Seq("v2").toDF("v"), t2, root2,
        crashPoint = crashAt("backed-up"))
    }
    val backups = new java.io.File(root2).listFiles()
      .filter(_.getName.startsWith("backup_")).map(_.toString)
    assert(backups.length === 1) // old snapshot survived the crash
    assert(spark.read.parquet(backups.head).as[String].collect() === Array("v1"))
    // recover-on-open: the reader itself completes the interrupted swap
    assert(Sinks.readSnapshot(spark, t2).as[String].collect() === Array("v2"))

    // -- a TORN staging (crash mid-write: no _SUCCESS) is never promoted
    val root4 = tmp()
    val t4 = s"$root4/kb"
    val torn = new java.io.File(s"$t4.staging-123")
    torn.mkdirs()
    Files.writeString(torn.toPath.resolve("part-00000.parquet"), "garbage")
    Sinks.recover(spark, t4)
    assert(!new java.io.File(t4).exists()) // not promoted...
    assert(!torn.exists()) // ...and cleaned up

    // -- the backup is a rename, not a copy: same physical parquet files
    val root3 = tmp()
    val t3 = s"$root3/kb"
    Sinks.snapshotOverwrite(spark, Seq("x").toDF("v"), t3, root3)
    val before = new java.io.File(t3).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    val b3 = Sinks.snapshotOverwrite(spark, Seq("y").toDF("v"), t3, root3)
    val after = new java.io.File(b3.get).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => f.getName -> f.lastModified).toMap
    assert(after === before) // identical file names + mtimes -> moved, not rewritten
  }

  test("manifest drain: streams all three formats, matches the batch reader, idempotent") {
    val root = tmp()
    val src = s"$root/inbox"; val out = s"$root/raw"
    val archive = s"$root/archive"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    val fixtures = new java.io.File("src/test/resources/manifests")
    for (f <- fixtures.listFiles())
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$src/${f.getName}"))
    // a corrupt binary file must not poison the stream (reject, not crash)
    Files.write(java.nio.file.Paths.get(s"$src/junk.xls"),
      Array.tabulate[Byte](600)(i => (i * 7).toByte))
    Sinks.drainManifests(spark, src, out, archive, ckpt).awaitTermination()
    val got = spark.read.parquet(out)
    assert(got.count() === 12L) // 4 files x 3 rows, same as readAll
    val batch = CsvManifests.readAll(spark, fixtures.getAbsolutePath)
    assert(got.except(batch).count() === 0L)
    assert(batch.except(got).count() === 0L)
    // nothing new -> no duplicates (checkpointed exactly-once)
    Sinks.drainManifests(spark, src, out, archive, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() === 12L)
  }

  test("streaming drain: AvailableNow drains the dir, archives inputs, is idempotent") {
    val root = tmp()
    val src = s"$root/inbox"; val out = s"$root/out"
    val archive = s"$root/archive"; val ckpt = s"$root/ckpt"
    new java.io.File(src).mkdirs()
    def drop(z: String): Unit = Files.copy(
      java.nio.file.Paths.get(s"/root/reference/uploads/xml_history/processed/$z"),
      java.nio.file.Paths.get(s"$src/$z"))
    drop("IPC250403407EX.zip")
    Sinks.drainDeclarations(spark, src, out, archive, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() === 2649L) // golden, import_xml.log
    // second drain with a new file: processes only the new file (checkpoint)
    // and archives the PREVIOUS batch's input (deferred cleanSource — the
    // cleaner runs when a later batch executes)
    drop("IPC250403408EX.zip")
    Sinks.drainDeclarations(spark, src, out, archive, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() === 2649L + 2306L)
    Thread.sleep(2000) // cleaner is async
    def find(f: java.io.File): Seq[String] =
      if (f.isFile) Seq(f.getName)
      else Option(f.listFiles()).toSeq.flatten.flatMap(find)
    assert(find(new java.io.File(archive)) === Seq("IPC250403407EX.zip"))
    assert(new java.io.File(src).list().toSeq === Seq("IPC250403408EX.zip"))
    // third drain, nothing new: no duplicate rows
    Sinks.drainDeclarations(spark, src, out, archive, ckpt).awaitTermination()
    assert(spark.read.parquet(out).count() === 2649L + 2306L)
    // per-(file, hawb) sequencing survived the streaming path
    val bad = spark.read.parquet(out)
      .groupBy("data_source_file", "hawb_no")
      .agg(count(lit(1)).as("n"), max("item_sequence").as("hi"))
      .where(col("hi") =!= col("n")).count()
    assert(bad === 0L)
  }
}
