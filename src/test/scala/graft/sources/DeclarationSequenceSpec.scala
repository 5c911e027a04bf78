package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The parser-numbered `item_sequence` against the window it replaced, on
  * the [[DeclarationZipFixture]] corpus: every read surface (batch
  * [[XmlDeclarations.read]], the streaming [[Sinks.drainDeclarations]],
  * the `customs-xml` DSv2 source) must carry exactly
  * `row_number() over (partition by data_source_file, hawb_no order by
  * ordinal)` computed from [[XmlDeclarations.readRaw]]. */
class DeclarationSequenceSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = Files.createTempDirectory("decl-fixture")
    DeclarationZipFixture.corpus(d)
    d.toString
  }

  /** (data_source_file, ordinal, description_official, item_sequence) as
    * the removed cleanse window numbered it. */
  private lazy val windowed: DataFrame =
    XmlDeclarations.readRaw(spark, dir).toDF()
      .where(trim(col("hawb_no")) =!= "")
      .withColumn("item_sequence", row_number().over(
        Window.partitionBy("data_source_file", "hawb_no").orderBy("ordinal")))
      .select("data_source_file", "ordinal", "description_official",
        "item_sequence")
      .cache()

  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.exceptAll(b).count() === 0L)
    assert(b.exceptAll(a).count() === 0L)
  }

  private val keyed = Seq("data_source_file", "description_official",
    "item_sequence")

  test("the window baseline numbers the fixture's edge cases as expected") {
    import spark.implicits._
    // 32 rows in real members, 4 blank/absent HAWBs dropped, junk skipped
    assert(windowed.count() === 28L)
    def seqOf(member: String) = windowed
      .where($"data_source_file" === s"DA250401EX.zip::$member")
      .orderBy("ordinal").select("item_sequence").as[Int].collect().toSeq
    assert(seqOf("m1.xml") === Seq(1, 1, 2, 1, 3)) // H1 H2 H1 H3 H1
    assert(seqOf("m2.xml") === Seq(1, 1)) // restarts in a new document
    assert(seqOf("m3.xml") === Seq(1)) // only H4 survives
    // " H5", "H5", "\tH5", "H5 ", "H5": padding makes distinct raw keys
    assert(seqOf("m4.xml") === Seq(1, 1, 1, 1, 2))
    assert(windowed.where($"description_official".contains("__MACOSX") ||
      $"description_official".contains("readme")).count() === 0L)
  }

  test("readRaw and read carry the window's item_sequence") {
    val raw = XmlDeclarations.readRaw(spark, dir).toDF()
      .where(trim(col("hawb_no")) =!= "")
    sameRows(raw.select(windowed.columns.map(col): _*), windowed)
    sameRows(XmlDeclarations.read(spark, dir).select(keyed.map(col): _*),
      windowed.select(keyed.map(col): _*))
  }

  test("the customs-xml source carries the window's item_sequence") {
    val viaV2 = spark.read.format("customs-xml").load(dir)
      .where(trim(col("hawb_no")) =!= "")
    sameRows(viaV2.select(windowed.columns.map(col): _*), windowed)
  }

  /** The corpus drained through [[Sinks.drainDeclarations]]. */
  private lazy val drained: DataFrame = {
    val root = Files.createTempDirectory("decl-drain").toString
    val inbox = java.nio.file.Paths.get(s"$root/inbox")
    Files.createDirectories(inbox)
    DeclarationZipFixture.corpus(inbox)
    Sinks.drainDeclarations(spark, inbox.toString, s"$root/out",
      s"$root/archive", s"$root/ckpt").awaitTermination()
    spark.read.parquet(s"$root/out")
  }

  test("the streaming drain carries the window's item_sequence") {
    sameRows(drained.select(keyed.map(col): _*),
      windowed.select(keyed.map(col): _*))
  }

  test("read plans as one map-only stage: no window, no exchange") {
    val plan = XmlDeclarations.read(spark, dir).queryExecution.sparkPlan
    val shuffles = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.Exchange => e
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(shuffles.isEmpty, plan.treeString)
  }

  test("missing or malformed DCL_DATE/DOC_DATE land as NULL, not a failed read") {
    import spark.implicits._
    def dates(df: DataFrame) = df
      .where($"data_source_file" === "DA250401EX.zip::sub/m5.xml")
      .orderBy("item_sequence")
      .select($"item_sequence", date_format($"dcl_date", "yyyy-MM-dd"),
        date_format($"doc_date", "yyyy-MM-dd"))
      .as[(Int, Option[String], Option[String])].collect().toSeq
    val expected = Seq(
      (1, Some("2025-04-03"), Some("2025-04-02")),
      (2, None, None), // elements absent
      (3, None, None)) // 'not-a-date' and ''
    assert(dates(XmlDeclarations.read(spark, dir)) === expected)
    // the drain writes every column, so a failing cast would fail it
    assert(dates(drained) === expected)
  }
}
