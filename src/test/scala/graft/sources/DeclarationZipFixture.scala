package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Test-side writer for customs-declaration zips shaped like the production
  * drops (FIXTURES.md §1): a `GicDataSet` root whose embedded XSD mentions
  * `BID_HEAD` as an `xs:element`, then the `BID_HEAD` rows, then an
  * ignored trailing section. [[corpus]] writes two zips of five members
  * each, 1–5 rows a member, covering the sequencing edge cases:
  *  - one HAWB repeated non-contiguously inside a document, and the same
  *    HAWB again in another member (numbering restarts per document);
  *  - a blank, an all-spaces and an absent HAWB (all dropped by cleanse);
  *  - space- and tab-padded HAWBs (distinct raw keys);
  *  - rows without DCL_DATE/DOC_DATE, and with a malformed DCL_DATE;
  *  - a `__MACOSX/` member and a non-XML member, each holding well-formed
  *    declaration XML, so they show up if the reader fails to skip them.
  *
  * Every row's DESCRIPTION is unique across the corpus, so it identifies
  * the row in the cleansed table, which has no ordinal. */
object DeclarationZipFixture {

  /** One `BID_HEAD`: `hawb = None` omits the HAWB_NO element. */
  private case class Bid(hawb: Option[String], fields: Seq[(String, String)] = Nil)

  /** A whole declaration document holding `bids`; each gets a DESCRIPTION
    * of `<descPrefix>-<index>`. */
  private def document(descPrefix: String, bids: Seq[Bid]): String = {
    val rows = bids.zipWithIndex.map { case (b, i) =>
      val kv = b.hawb.map("HAWB_NO" -> _).toSeq ++
        Seq("DESCRIPTION" -> s"$descPrefix-$i", "MAWB" -> "FX01EX",
          "IMPORT_DATE" -> "2025-04-01T00:00:00+08:00", "QTY" -> "1",
          "PAY_TAX_AMT" -> "10") ++ b.fields
      "<BID_HEAD>" + kv.map { case (k, v) => s"<$k>$v</$k>" }.mkString +
        "</BID_HEAD>"
    }
    """<?xml version="1.0" encoding="UTF-8" standalone="yes"?><GicDataSet>""" +
      """<xs:schema id="GicDataSet" xmlns="" """ +
      """xmlns:xs="http://www.w3.org/2001/XMLSchema">""" +
      """<xs:element name="BID_HEAD"><xs:complexType><xs:sequence>""" +
      """<xs:element name="HAWB_NO" type="xs:string" minOccurs="0" />""" +
      """</xs:sequence></xs:complexType></xs:element></xs:schema>""" +
      rows.mkString("\n", "\n", "\n") +
      "<COMP_DATA><NAME>ignored</NAME></COMP_DATA></GicDataSet>"
  }

  private def writeZip(path: Path, members: Seq[(String, String)]): Unit = {
    val zos = new ZipOutputStream(Files.newOutputStream(path))
    try members.foreach { case (name, body) =>
      zos.putNextEntry(new ZipEntry(name))
      zos.write(body.getBytes(UTF_8))
      zos.closeEntry()
    } finally zos.close()
  }

  private def h(s: String) = Bid(Some(s))
  private val dated = Seq("DCL_DATE" -> "2025-04-03T00:00:00+08:00",
    "DOC_DATE" -> "2025-04-02T00:00:00+08:00")

  /** (zip name, members) of the corpus [[corpus]] writes. */
  private val zips: Seq[(String, Seq[(String, Seq[Bid])])] = Seq(
    "DA250401EX.zip" -> Seq(
      "m1.xml" -> Seq(h("H1"), h("H2"), h("H1"), h("H3"), h("H1")),
      "m2.xml" -> Seq(h("H1"), h("H2")),
      "m3.xml" -> Seq(h(""), h("   "), h("H4"), Bid(None)),
      "m4.xml" -> Seq(h(" H5"), h("H5"), h("\tH5"), h("H5 "), h("H5")),
      "sub/m5.xml" -> Seq(Bid(Some("H6"), dated), h("H6"),
        Bid(Some("H6"), Seq("DCL_DATE" -> "not-a-date", "DOC_DATE" -> "")))),
    "DB250402EX.zip" -> Seq(
      "m1.xml" -> Seq(h("H7"), h("H1"), h("H7")),
      "m2.xml" -> Seq(h("H8")),
      "m3.xml" -> Seq(h("H9"), h("H9"), h("H9"), h("H9")),
      "m4.xml" -> Seq(h("H1"), h(""), h("H1")),
      "m5.xml" -> Seq(h("H10"), h("H11"))))

  /** Members that hold declaration XML but must never be read. */
  private val junk = Seq("__MACOSX/._m1.xml", "readme.txt")

  /** Write the two-zip corpus into `dir`. */
  def corpus(dir: Path): Unit =
    for ((zip, members) <- zips) {
      val real = members.map { case (m, bids) =>
        m -> document(s"$zip::$m", bids)
      }
      val skipped = junk.map(j => j -> document(s"$zip::$j", Seq(h("HJ"))))
      writeZip(dir.resolve(zip), real ++ skipped)
    }
}
