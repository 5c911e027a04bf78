package graft.sources

import java.io.{ByteArrayInputStream, InputStream}
import java.util.zip.ZipInputStream

import javax.xml.stream.{XMLInputFactory, XMLStreamConstants, XMLStreamReader}

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._

/** Customs-declaration XML ingestion (SURVEY §2.1 S2 + S3 + S11, §2.5 W1):
  * scans a directory of `.xml` and `.zip` files, extracts every `BID_HEAD`
  * line item in document order, and produces `table_b_history`-shaped rows
  * (ref `src/import_xml_history.py:35-163`).
  *
  * Architecture (Spark-first, scales to a large cluster):
  *  - `binaryFile` scan distributes whole files across executors — one zip
  *    (or xml) per task, sized by `maxPartitionBytes`. No driver-side file
  *    loop, no temp files.
  *  - The only JVM code is the flatMap parser (the UDTF analog of the
  *    reference's file→rows extractor): StAX pull-parsing over streams —
  *    zip members are streamed via `ZipInputStream` (mirrors the
  *    reference's streaming member reads), never extracted to disk.
  *  - The parser emits RAW strings plus a per-file document ordinal; all
  *    cleansing (doc-no hygiene, date truncation, numeric coercion, unit
  *    price) happens as codegen'd Column expressions AFTER the parse, so
  *    Catalyst can prune/push/fold them.
  *  - Per-HAWB 1-based `item_sequence` (the reference's streaming counter,
  *    `import_xml_history.py:44,56,73`) is counted by the parser itself in
  *    document order, like the reference. A document is parsed whole by
  *    one task, so the count needs no exchange, sort or window: every read
  *    path (batch [[read]], the streaming drain, the `customs-xml` DSv2
  *    source) is a single map-only stage.
  *
  * Lineage: `data_source_file` is `<file>` for plain xml and
  * `<zip>::<member>` for zip members (ref `:59,154`).
  */
object XmlDeclarations {

  /** One raw BID_HEAD extraction: untyped strings, the document ordinal
    * and the per-(document, raw HAWB_NO) 1-based `item_sequence`. Covers
    * the reference's 17 read fields plus the 18 declared-but-unread
    * extended fields (SURVEY §1.3 — tax amounts, exchange rates, document
    * dates/types, broker metadata) that declarations analytics wants. */
  case class RawBid(
      data_source_file: String, ordinal: Int, item_sequence: Int,
      dcl_doc_no: String, mawb_no: String, hawb_no: String, flight_no: String,
      import_date_raw: String, description_official: String, ccc_code: String,
      qty_raw: String, qty_unit: String, item_total_raw: String,
      hawb_total_raw: String, duty_rate: String, consignee_id: String,
      consignee_name: String, consignee_phone: String, shipper_name: String,
      export_port: String,
      // extended fields (raw)
      auto_seq_raw: String, seq_no_raw: String, dcl_doc_type: String,
      dcl_doc_no_5: String, dcl_date_raw: String, doc_date_raw: String,
      cnee_code: String, tax_amt1_raw: String, tax_amt3_raw: String,
      tax_amt4_raw: String, tot_tax_amt_raw: String, tax_base_raw: String,
      currency: String, ex_rate_raw: String, hawb_ex_rate_raw: String,
      coloader: String, cnee_c_name: String, broker_box_no: String)

  private val fields = Array(
    "DCL_DOC_NO", "MAWB", "HAWB_NO", "FLY_NO", "IMPORT_DATE", "DESCRIPTION",
    "CLASSIFY_NO", "QTY", "QTY_UM", "PAY_TAX_AMT", "FOB_AMT_TWD",
    "IMPORT_DUTY_RATE", "CNEE_BAN_ID", "CNEE_E_NAME", "OTHER_ITEN_2",
    "SHPR_E_NAME", "FROM_CODE",
    // extended (SURVEY §1.3 unread-but-present set)
    "AUTO_SEQ", "SEQ_NO", "DCL_DOC_TYPE", "DCL_DOC_NO_5", "DCL_DATE",
    "DOC_DATE", "CNEE_CODE", "TAX_AMT1", "TAX_AMT3", "TAX_AMT4",
    "TOT_TAX_AMT", "TAX_BASE", "CURRENCY", "EX_RATE", "HAWB_EX_RATE",
    "COLOADER", "CNEE_C_NAME", "BROKER_BOX_NO")
  private val fieldIndex: Map[String, Int] = fields.zipWithIndex.toMap
  private val HawbNo = fieldIndex("HAWB_NO")

  /** StAX factories are not documented thread-safe, and building one per
    * document costs a service lookup; one per task thread serves every
    * document that thread parses. */
  private val xmlFactory = ThreadLocal.withInitial[XMLInputFactory] { () =>
    val f = XMLInputFactory.newInstance()
    f.setProperty(XMLInputFactory.SUPPORT_DTD, false)
    f.setProperty(XMLInputFactory.IS_SUPPORTING_EXTERNAL_ENTITIES, false)
    f
  }

  /** Pull-parse one XML document into raw rows in document order. The
    * embedded XSD also *mentions* BID_HEAD (as
    * `<xs:element name="BID_HEAD">`), but those are `element` nodes — only
    * real `<BID_HEAD>` data elements match here, same as the reference's
    * `findall('.//BID_HEAD')`. Each row carries its document ordinal and
    * its 1-based position among the document's rows with the same raw
    * `HAWB_NO` string (W1, the reference's `hawb_item_counters[hawb] += 1`,
    * ref `:44,56,73`). Numbering keys on the raw string, so it is exactly
    * `row_number()` over (document, raw hawb) by ordinal; the blank-HAWB
    * filter in [[cleanse]] depends on that key alone, so it drops whole
    * keys and never leaves a gap. */
  private def parseXml(src: String, in: InputStream): Seq[RawBid] = {
    val r: XMLStreamReader = xmlFactory.get().createXMLStreamReader(in)
    val out = Seq.newBuilder[RawBid]
    val perHawb = scala.collection.mutable.HashMap.empty[String, Int]
    var ordinal = 0
    try {
      while (r.hasNext) {
        if (r.next() == XMLStreamConstants.START_ELEMENT &&
            r.getLocalName == "BID_HEAD") {
          val v = new Array[String](fields.length) // null = element absent
          var done = false
          while (!done && r.hasNext) {
            r.next() match {
              case XMLStreamConstants.START_ELEMENT =>
                val i = fieldIndex.getOrElse(r.getLocalName, -1)
                val text = r.getElementText // simple-content children only
                if (i >= 0) v(i) = text
              case XMLStreamConstants.END_ELEMENT
                  if r.getLocalName == "BID_HEAD" => done = true
              case _ =>
            }
          }
          val hawb = if (v(HawbNo) == null) "" else v(HawbNo)
          val seq = perHawb.getOrElse(hawb, 0) + 1
          perHawb.update(hawb, seq)
          out += toRaw(src, ordinal, seq, v)
          ordinal += 1
        }
      }
    } finally r.close()
    out.result()
  }

  /** `v` holds BID_HEAD child texts in [[fields]] order. */
  private def toRaw(src: String, ordinal: Int, itemSequence: Int,
                    v: Array[String]): RawBid = {
    def g(k: String) = { val s = v(fieldIndex(k)); if (s == null) "" else s }
    RawBid(src, ordinal, itemSequence,
      dcl_doc_no = g("DCL_DOC_NO"), mawb_no = g("MAWB"), hawb_no = g("HAWB_NO"),
      flight_no = g("FLY_NO"), import_date_raw = g("IMPORT_DATE"),
      description_official = g("DESCRIPTION"), ccc_code = g("CLASSIFY_NO"),
      qty_raw = g("QTY"), qty_unit = g("QTY_UM"),
      item_total_raw = g("PAY_TAX_AMT"), hawb_total_raw = g("FOB_AMT_TWD"),
      duty_rate = g("IMPORT_DUTY_RATE"), consignee_id = g("CNEE_BAN_ID"),
      consignee_name = g("CNEE_E_NAME"), consignee_phone = g("OTHER_ITEN_2"),
      shipper_name = g("SHPR_E_NAME"), export_port = g("FROM_CODE"),
      auto_seq_raw = g("AUTO_SEQ"), seq_no_raw = g("SEQ_NO"),
      dcl_doc_type = g("DCL_DOC_TYPE"), dcl_doc_no_5 = g("DCL_DOC_NO_5"),
      dcl_date_raw = g("DCL_DATE"), doc_date_raw = g("DOC_DATE"),
      cnee_code = g("CNEE_CODE"), tax_amt1_raw = g("TAX_AMT1"),
      tax_amt3_raw = g("TAX_AMT3"), tax_amt4_raw = g("TAX_AMT4"),
      tot_tax_amt_raw = g("TOT_TAX_AMT"), tax_base_raw = g("TAX_BASE"),
      currency = g("CURRENCY"), ex_rate_raw = g("EX_RATE"),
      hawb_ex_rate_raw = g("HAWB_EX_RATE"), coloader = g("COLOADER"),
      cnee_c_name = g("CNEE_C_NAME"), broker_box_no = g("BROKER_BOX_NO"))
  }

  /** Parse one ingested file (xml or zip of xmls) into raw rows. Zip
    * members are streamed; `__MACOSX/` junk and non-xml members are skipped
    * (ref `import_xml_history.py:141-148`). A malformed member/file yields
    * no rows rather than failing the task (per-file error isolation, ref
    * `:213-214`). */
  def parseFile(path: String, content: Array[Byte]): Seq[RawBid] = {
    val name = path.substring(path.lastIndexOf('/') + 1)
    def safeParse(src: String, in: InputStream): Seq[RawBid] =
      try parseXml(src, in)
      catch { case _: Exception => Seq.empty }
    if (name.toLowerCase.endsWith(".zip")) {
      val zis = new ZipInputStream(new ByteArrayInputStream(content))
      val out = Seq.newBuilder[RawBid]
      try {
        var entry = zis.getNextEntry
        while (entry != null) {
          val en = entry.getName
          if (!entry.isDirectory && en.toLowerCase.endsWith(".xml") &&
              !en.startsWith("__MACOSX")) {
            // ZipInputStream closes per-entry on getNextEntry; shield it
            // from the StAX reader's close()
            out ++= safeParse(s"$name::$en", new java.io.FilterInputStream(zis) {
              override def close(): Unit = ()
            })
          }
          entry = zis.getNextEntry
        }
      } catch { case _: Exception => }
      finally zis.close()
      out.result()
    } else safeParse(name, new ByteArrayInputStream(content))
  }

  /** Raw scan: distributed binaryFile read + flatMap parse. */
  def readRaw(spark: SparkSession, dir: String): Dataset[RawBid] = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.{xml,zip,XML,ZIP}")
      .load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, c) => parseFile(p, c) }
  }

  /** Full `table_b_history` ingestion: parse (which numbers items per
    * (file, HAWB) in document order), drop blank-HAWB rows, cleanse. */
  def read(spark: SparkSession, dir: String): DataFrame =
    cleanse(readRaw(spark, dir).toDF())

  /** [[read]] with money columns as exact DECIMAL(18,4) instead of the
    * reference's floats — see [[cleanse]]'s `decimalMoney`. */
  def readDecimal(spark: SparkSession, dir: String): DataFrame =
    cleanse(readRaw(spark, dir).toDF(), decimalMoney = true)

  /** The cleansing plan, separated so tests, the streaming variant and
    * the DSv2 source share it. Expects RawBid-shaped input; row-local, so
    * it plans as one map-only stage.
    *
    * `decimalMoney = true` switches every money column (item/hawb totals,
    * derived unit price, tax amounts) to DECIMAL(18,4), coerced straight
    * from the raw source strings (never via the double) so the arithmetic
    * is exact — the correctness upgrade SURVEY §1.3 documents over the
    * reference's float money. Default stays double for reference
    * bit-parity; goldens pin the two variants against each other. */
  def cleanse(raw: DataFrame, decimalMoney: Boolean = false): DataFrame = {
    val money: Column => Column =
      if (decimalMoney) numOrZeroDec else numOrZero
    val unitP: (Column, Column) => Column =
      if (decimalMoney) (t, q) => unitPriceDec(t, q)
      else (t, q) => unitPrice(numOrZero(t), numOrZero(q))
    // isoDate's NULL-on-garbage twin: to_date(s) is cast(s AS date), which
    // under ANSI fails the whole query on '' or junk
    val dateOrNull: Column => Column =
      c => substring_index(c, "T", 1).try_cast("date")
    raw
      .where(trim(col("hawb_no")) =!= "") // P3, ref :51-53
      .select(
        col("data_source_file"),
        cleanDocNo(col("dcl_doc_no")).as("dcl_doc_no"), // F1, ref :26-33
        strTrim(col("mawb_no")).as("mawb_no"),
        strTrim(col("hawb_no")).as("hawb_no"),
        strTrim(col("flight_no")).as("flight_no"),
        isoDate(col("import_date_raw")).as("import_date"), // F5, ref :66-71
        col("item_sequence"), // W1, numbered by the parser
        col("description_official"),
        col("ccc_code"),
        numOrZero(col("qty_raw")).as("qty"), // F6, ref :78-82
        col("qty_unit"),
        money(col("item_total_raw")).as("item_total_amount"),
        money(col("hawb_total_raw")).as("hawb_total_amount"),
        unitP(col("item_total_raw"),
          col("qty_raw")).as("unit_price_calculated"), // F7, ref :94-98
        col("duty_rate"),
        col("consignee_id"), col("consignee_name"), col("consignee_phone"),
        col("shipper_name"), col("export_port"),
        // extended fields, typed: ids/sequences, dates and exchange rates
        // coerce to NULL on absence or garbage (0 or a failed drain would
        // be fictional); money amounts follow the reference's F6
        // coerce-to-zero convention
        col("auto_seq_raw").try_cast("long").as("auto_seq"),
        col("seq_no_raw").try_cast("double").as("seq_no"),
        strTrim(col("dcl_doc_type")).as("dcl_doc_type"),
        strTrim(col("dcl_doc_no_5")).as("dcl_doc_no_5"),
        dateOrNull(col("dcl_date_raw")).as("dcl_date"),
        dateOrNull(col("doc_date_raw")).as("doc_date"),
        strTrim(col("cnee_code")).as("cnee_code"),
        money(col("tax_amt1_raw")).as("tax_amt1"),
        money(col("tax_amt3_raw")).as("tax_amt3"),
        money(col("tax_amt4_raw")).as("tax_amt4"),
        money(col("tot_tax_amt_raw")).as("tot_tax_amt"),
        money(col("tax_base_raw")).as("tax_base"),
        strTrim(col("currency")).as("currency"),
        col("ex_rate_raw").try_cast("double").as("ex_rate"),
        col("hawb_ex_rate_raw").try_cast("double").as("hawb_ex_rate"),
        strTrim(col("coloader")).as("coloader"),
        strTrim(col("cnee_c_name")).as("cnee_c_name"),
        strTrim(col("broker_box_no")).as("broker_box_no"))
  }

  /** Streaming variant of the drop-directory scan (S10): same parse over a
    * file stream, with processed inputs archived by the source itself
    * (`cleanSource=archive` — the exactly-once upgrade of the reference's
    * import-then-`shutil.move` loop, ref `import_xml_history.py:205-211`).
    * Rows arrive already numbered; cleansing happens per micro-batch in the
    * sink's `foreachBatch`. */
  def readStreamRaw(spark: SparkSession, dir: String,
                    archiveDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val binaryFileSchema = StructType(Seq( // the binaryFile source's fixed schema
      StructField("path", StringType), StructField("modificationTime", TimestampType),
      StructField("length", LongType), StructField("content", BinaryType)))
    val reader = spark.readStream.format("binaryFile")
      .schema(binaryFileSchema)
      .option("pathGlobFilter", "*.{xml,zip,XML,ZIP}")
      .option("maxFilesPerTrigger", "64")
    archiveDir.foreach { a =>
      reader.option("cleanSource", "archive").option("sourceArchiveDir", a)
    }
    reader.load(dir)
      .select("path", "content")
      .as[(String, Array[Byte])]
      .flatMap { case (p, c) => parseFile(p, c) }
      .toDF()
  }
}
