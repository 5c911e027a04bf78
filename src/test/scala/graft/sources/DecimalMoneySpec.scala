package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.SparkSpec

/** Goldens for the DECIMAL(18,4) money variant of both readers (SURVEY
  * §1.3's documented upgrade over the reference's float money): the decimal
  * path must agree with the double path everywhere floats are faithful, be
  * typed DECIMAL(18,4), and be EXACT where binary floating point is not —
  * coercion comes straight from the raw source strings, never through the
  * parsed double. */
class DecimalMoneySpec extends SparkSpec {

  private val processedDir = "/root/reference/uploads/xml_history/processed"

  test("declaration reader: decimal money matches double money on the production zips") {
    val dbl = XmlDeclarations.read(spark, processedDir)
      .select(col("data_source_file"), col("hawb_no"), col("item_sequence"),
        col("item_total_amount"), col("hawb_total_amount"),
        col("unit_price_calculated"))
    val dec = XmlDeclarations.readDecimal(spark, processedDir)
      .select(col("data_source_file"), col("hawb_no"), col("item_sequence"),
        col("item_total_amount").as("d_item"),
        col("hawb_total_amount").as("d_hawb"),
        col("unit_price_calculated").as("d_unit"))
    assert(dec.schema("d_item").dataType === DecimalType(18, 4))
    assert(dec.schema("d_unit").dataType === DecimalType(18, 4))
    val joined = dbl.join(dec,
      Seq("data_source_file", "hawb_no", "item_sequence")).cache()
    assert(joined.count() === dbl.count()) // same rows survive both paths
    // source amounts carry <= 4 decimal places, where doubles are faithful
    // to 1e-12 relative — any larger gap means a path diverged. Phrased
    // as NOT(gap <= eps) rather than gap > eps: a NaN on the double side
    // (e.g. a literal 'nan' cell numOrZero parses but the decimal path
    // coerces to 0) makes `gap > eps` NULL and would slip through
    def diverged(a: Column, b: Column, eps: Double): Column =
      !(abs(a - b.cast("double")) <= eps)
    val bad = joined.where(
      diverged(col("item_total_amount"), col("d_item"), 1e-6) ||
      diverged(col("hawb_total_amount"), col("d_hawb"), 1e-6) ||
      diverged(col("unit_price_calculated"), col("d_unit"), 1e-4))
    assert(bad.count() === 0L)
  }

  test("decimal division is exact where the double path rounds the wrong way") {
    import spark.implicits._
    // 0.00135 / 3 is exactly 0.00045 — a true HALF_EVEN tie at 4 dp that
    // rounds to 0.0004 (preceding digit even). The binary division yields
    // 0.00045000000000000004, strictly above the tie, so the double path
    // rounds UP to 0.0005 — exactly the class of error the decimal
    // upgrade removes.
    val n: String = null
    val allRaw = Seq(XmlDeclarations.RawBid(
      data_source_file = "f.xml", ordinal = 1, item_sequence = 1,
      dcl_doc_no = "D1", mawb_no = "M1", hawb_no = "H1", flight_no = "FL",
      import_date_raw = "2025-01-02T00:00:00",
      description_official = "desc", ccc_code = "ccc",
      qty_raw = "3", qty_unit = "PCE",
      item_total_raw = "0.00135", hawb_total_raw = "2.5",
      duty_rate = "1", consignee_id = n, consignee_name = n,
      consignee_phone = n, shipper_name = n, export_port = n,
      auto_seq_raw = n, seq_no_raw = n, dcl_doc_type = n, dcl_doc_no_5 = n,
      dcl_date_raw = n, doc_date_raw = n, cnee_code = n, tax_amt1_raw = n,
      tax_amt3_raw = n, tax_amt4_raw = n, tot_tax_amt_raw = n,
      tax_base_raw = n, currency = n, ex_rate_raw = n, hawb_ex_rate_raw = n,
      coloader = n, cnee_c_name = n, broker_box_no = n)).toDF()
    val dbl = XmlDeclarations.cleanse(allRaw)
      .select("unit_price_calculated").as[Double].head()
    val dec = XmlDeclarations.cleanse(allRaw, decimalMoney = true)
      .select("unit_price_calculated").as[java.math.BigDecimal].head()
    assert(dbl === 0.0005) // float artifact: quotient lands above the tie
    assert(dec === new java.math.BigDecimal("0.0004")) // exact HALF_EVEN
  }

  test("manifest reader: decimal money typed DECIMAL(18,4) and value-identical on a CSV fixture") {
    val dir = java.nio.file.Files.createTempDirectory("dec_money").toFile
    val csv = new java.io.File(dir, "M123.csv")
    val w = new java.io.PrintWriter(csv, "UTF-8")
    // new-format layout: header on line index 2 with >= 15 columns
    w.println("M123")
    w.println("meta")
    w.println((0 to 15).map(i => s"c$i").mkString(","))
    w.println("H1,x,x,goods-a,x,x,x,x,x,2,PCE,x,x,19.99,39.98,x")
    w.println("H1,x,x,goods-b,x,x,x,x,x,1,PCE,x,x,0.1,0.1,x")
    w.close()
    val dbl = CsvManifests.readAll(spark, dir.getAbsolutePath)
      .select(col("hawb_no"), col("item_no"), col("unit_price"),
        col("total_amount"))
    val dec = CsvManifests.readAllDecimal(spark, dir.getAbsolutePath)
      .select(col("hawb_no"), col("item_no"),
        col("unit_price").as("d_price"), col("total_amount").as("d_total"))
    assert(dec.schema("d_price").dataType === DecimalType(18, 4))
    assert(dec.schema("d_total").dataType === DecimalType(18, 4))
    val joined = dbl.join(dec, Seq("hawb_no", "item_no")).cache()
    assert(joined.count() === 2L)
    val bad = joined.where(
      abs(col("unit_price") - col("d_price").cast("double")) > 1e-9 ||
      abs(col("total_amount") - col("d_total").cast("double")) > 1e-9)
    assert(bad.count() === 0L)
  }
}
