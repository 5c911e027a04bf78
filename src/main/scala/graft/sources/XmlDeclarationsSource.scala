package graft.sources

import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSourceV2 table provider for the customs-declaration XML corpus —
  * the catalog-integrated face of [[XmlDeclarations]]:
  *
  * {{{
  *   spark.read.format("customs-xml").load(dir)              // DataFrame API
  *   CREATE TEMPORARY VIEW d USING `customs-xml` OPTIONS (path '...')  -- SQL
  * }}}
  *
  * Emits the RAW extraction schema (one row per BID_HEAD, untyped strings +
  * document ordinal + the parser-numbered per-HAWB `item_sequence` —
  * [[XmlDeclarations.RawBid]]); compose with
  * [[XmlDeclarations.cleanse]] for the typed table. Planning creates one
  * input partition per file (a zip is one work unit, exactly like the
  * `binaryFile` path), and required-column pushdown prunes the emitted
  * fields so `SELECT count(*)`-style scans never materialize the 37-field
  * row. The flatMap-based [[XmlDeclarations.readRaw]] remains the primary
  * path; this provider exists for catalog/SQL surfaces. */
class XmlDeclarationsSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "customs-xml"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    XmlDeclarationsSource.rawSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new XmlDeclarationsSource.DeclTable(
      Option(properties.get("path")).getOrElse(
        throw new IllegalArgumentException("customs-xml: 'path' option is required")))

  override def supportsExternalMetadata(): Boolean = false
}

object XmlDeclarationsSource {

  /** Schema of [[XmlDeclarations.RawBid]], derived so they can't drift. */
  val rawSchema: StructType =
    org.apache.spark.sql.Encoders.product[XmlDeclarations.RawBid]
      .schema.asInstanceOf[StructType]

  private class DeclTable(path: String) extends Table with SupportsRead {
    override def name(): String = s"customs-xml `$path`"
    override def schema(): StructType = rawSchema
    override def capabilities(): java.util.Set[TableCapability] =
      java.util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new DeclScanBuilder(path)
  }

  private class DeclScanBuilder(path: String)
      extends ScanBuilder with SupportsPushDownRequiredColumns {
    private var required: StructType = rawSchema
    override def pruneColumns(requiredSchema: StructType): Unit =
      required = requiredSchema
    override def build(): Scan = new DeclScan(path, required)
  }

  /** The session's Hadoop configuration (spark.hadoop.*, credentials,
    * default FS) — a bare `new Configuration()` would drop all of it. */
  private def sessionHadoopConf(): Configuration =
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()

  private class DeclScan(path: String, required: StructType)
      extends Scan with Batch {
    override def readSchema(): StructType = required
    override def toBatch: Batch = this

    /** Recursive listing + size-weighted packing: files are the work unit
      * (a zip can't split), sorted descending and first-fit packed into
      * bins of `spark.sql.files.maxPartitionBytes`, charging
      * `spark.sql.files.openCostInBytes` per file — the same policy the
      * built-in file sources apply, so ten thousand small declaration
      * files become a bounded number of partitions instead of ten
      * thousand single-file tasks. */
    override def planInputPartitions(): Array[InputPartition] = {
      val p = new Path(path)
      val fs = p.getFileSystem(sessionHadoopConf())
      val status = fs.getFileStatus(p)
      val files: Seq[(String, Long)] =
        if (status.isFile) Seq(p.toString -> status.getLen)
        else {
          val it = fs.listFiles(p, true) // recursive
          val buf = Seq.newBuilder[(String, Long)]
          while (it.hasNext) {
            val s = it.next()
            if (s.isFile) buf += (s.getPath.toString -> s.getLen)
          }
          buf.result()
        }
      val matched = files.filter { case (f, _) =>
        f.substring(f.lastIndexOf('/') + 1).toLowerCase.matches(".*\\.(xml|zip)")
      }
      val conf = org.apache.spark.sql.internal.SQLConf.get
      val target = conf.filesMaxPartitionBytes
      val openCost = conf.filesOpenCostInBytes
      val bins = Seq.newBuilder[Seq[String]]
      var bin = List.empty[String]
      var binBytes = 0L
      for ((f, len) <- matched.sortBy(-_._2)) {
        val cost = len + openCost
        if (bin.nonEmpty && binBytes + cost > target) {
          bins += bin.reverse; bin = Nil; binBytes = 0L
        }
        bin ::= f; binBytes += cost
      }
      if (bin.nonEmpty) bins += bin.reverse
      bins.result().map(DeclPartition(_): InputPartition).toArray
    }

    override def createReaderFactory(): PartitionReaderFactory = {
      // readers run on executors: ship the conf entries, not the session
      val confMap = sessionHadoopConf().asScala
        .map(e => e.getKey -> e.getValue).toMap
      new DeclReaderFactory(
        required.fieldNames.map(rawSchema.fieldIndex), confMap)
    }
  }

  private case class DeclPartition(files: Seq[String]) extends InputPartition

  /** `projection(i)` = RawBid field ordinal of output column i. */
  private class DeclReaderFactory(projection: Array[Int],
                                  confMap: Map[String, String])
      extends PartitionReaderFactory {
    override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
      val files = partition.asInstanceOf[DeclPartition].files
      new PartitionReader[InternalRow] {
        // files stream one at a time: only the file being parsed is in
        // memory, however many were packed into this partition
        private val rows: Iterator[XmlDeclarations.RawBid] = {
          val conf = new Configuration(false)
          confMap.foreach { case (k, v) => conf.set(k, v) }
          files.iterator.flatMap { file =>
            val p = new Path(file)
            val fs = p.getFileSystem(conf)
            val in = fs.open(p)
            val bytes =
              try in.readAllBytes()
              finally in.close()
            XmlDeclarations.parseFile(file, bytes)
          }
        }
        private var current: InternalRow = _
        override def next(): Boolean =
          if (!rows.hasNext) false
          else {
            val bid = rows.next()
            val out = new Array[Any](projection.length)
            var i = 0
            while (i < projection.length) {
              out(i) = bid.productElement(projection(i)) match {
                case s: String => UTF8String.fromString(s)
                case v => v // ordinal, item_sequence: Int
              }
              i += 1
            }
            current = new GenericInternalRow(out)
            true
          }
        override def get(): InternalRow = current
        override def close(): Unit = ()
      }
    }
  }
}
