package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

/** The three reference entry points as pipelines, driven end to end over
  * temp directories: the two-zip [[graft.sources.DeclarationZipFixture]]
  * inbox for E1, the csv/xlsx fixtures (plus a bad file) for E2,
  * synthetic linked tables for E3's vote + snapshot. */
class PipelinesSpec extends SparkSpec {

  test("importDeclarations drains the inbox into the history table") {
    val root = Files.createTempDirectory("pipe_b")
    val inbox = Files.createDirectories(root.resolve("inbox"))
    graft.sources.DeclarationZipFixture.corpus(inbox)
    Pipelines.importDeclarations(spark, inbox.toString, s"$root/history",
      s"$root/archive", s"$root/ckpt").awaitTermination()
    val out = spark.read.parquet(s"$root/history")
    assert(out.count() === graft.sources.DeclarationZipFixture.keptRows)
    assert(out.columns.contains("tot_tax_amt")) // extended fields flow through
  }

  test("importManifests appends all layouts in one pass and reports rejects") {
    import spark.implicits._
    val root = Files.createTempDirectory("pipe_a").toString
    val dir = s"$root/manifests"
    new java.io.File(dir).mkdirs()
    val fixtures = new java.io.File("src/test/resources/manifests")
    for (f <- fixtures.listFiles())
      Files.copy(f.toPath, java.nio.file.Paths.get(s"$dir/${f.getName}"))
    Files.writeString(java.nio.file.Paths.get(s"$dir/broken.csv"),
      "not,a,manifest\nat,all,\n")
    val rejects = Pipelines.importManifests(spark, dir, s"$root/raw")
    assert(spark.read.parquet(s"$root/raw").count() === 12L) // 4 files x 3
    assert(rejects.as[(String, String)].collect().map(_._1).toSeq
      === Seq("broken.csv"))
  }

  test("train votes the majority mapping and snapshots with backup") {
    import spark.implicits._
    val root = Files.createTempDirectory("pipe_c").toString
    // 3 bills map FAN->(FAN OFFICIAL, 8414); 1 bill maps FAN->(OTHER, 9999);
    // 1 bill has a count mismatch and must be dropped by the gate
    def aRow(mawb: String, item: Int, desc: String) =
      (mawb, "H1", item, desc, s"$mawb.csv")
    def bRow(mawb: String, item: Int, off: String, ccc: String) =
      (mawb, "H1", item, off, ccc, s"$mawb.xml")
    val a = Seq(
      aRow("M1", 1, "usb fan"), aRow("M2", 1, "usb fan"),
      aRow("M3", 1, "usb fan"), aRow("M4", 1, "usb fan"),
      aRow("M5", 1, "ghost row"), aRow("M5", 2, "extra row")) // mismatch
      .toDF("mawb_no", "hawb_no", "item_no", "description_original",
        "data_source_file")
    val b = Seq(
      bRow("M1", 1, "FAN OFFICIAL", "8414"), bRow("M2", 1, "FAN OFFICIAL", "8414"),
      bRow("M3", 1, "FAN OFFICIAL", "8414"), bRow("M4", 1, "OTHER", "9999"),
      bRow("M5", 1, "NEVER", "0000"))
      .toDF("mawb_no", "hawb_no", "item_sequence", "description_official",
        "ccc_code", "data_source_file")
    a.write.parquet(s"$root/a"); b.write.parquet(s"$root/b")

    val backup1 = Pipelines.train(spark, s"$root/a", s"$root/b",
      s"$root/kb", root)
    assert(backup1.isEmpty) // first snapshot: nothing to back up
    val kb = spark.read.parquet(s"$root/kb")
      .as[(String, String, String, Long)].collect()
    assert(kb === Array(("USB FAN", "FAN OFFICIAL", "8414", 3L)))
    // second train run: previous KB snapshot survives as a backup
    val backup2 = Pipelines.train(spark, s"$root/a", s"$root/b",
      s"$root/kb", root)
    assert(backup2.isDefined)
    assert(spark.read.parquet(backup2.get).count() === 1L)
  }
}
