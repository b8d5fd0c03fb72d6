package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import graft.sources.CcsdsSource
import graft.telemetry.PacketRow
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Splittable CCSDS packet-stream source (DataSource V2, SURVEY.md §2.1 /
  * §7.2 scale path).
  *
  * Every file is at least one partition. When the stream is framed
  * with 0x1ACFFC1D sync markers, byte ranges ARE safely splittable: each
  * split owns the packets whose marker position p lies in [start, end),
  * seeking forward from its start offset to the first marker (the record
  * straddling a boundary belongs to the left split — the same ownership
  * rule Hadoop text input format uses for newlines). Without markers a
  * file is a single partition (variable-length records, no resync point).
  *
  * Usage:
  *   spark.read.format("ccsds")          // via DataSourceRegister
  *     .option("path", "/data/&#42;.bin")   // globs supported
  *     .option("frame_sync", "true")
  *     .option("split_size", 128 << 20)  // target split bytes
  *     .option("sec_hdr_length", "4")
  *     .load()
  *
  * `CcsdsSource.Options.parse` reads and checks the options and rejects
  * any key it does not know.
  *
  * APID predicates (`apid = x`, `apid IN (...)`) push into the scan
  * (SupportsPushDownFilters): filtered packets are dropped during the
  * byte walk, before row materialization — the reference's scan-level
  * apid_filter (binary.py:103-104) made distributed.
  */
class CcsdsDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "ccsds"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CcsdsDataSource.schema
  override def getTable(
      schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = new CaseInsensitiveStringMap(properties).get("path")
    require(path != null, "ccsds source requires a 'path' option")
    new CcsdsTable(path, CcsdsSource.Options.parse(properties.asScala.toMap))
  }
}

object CcsdsDataSource {
  val schema: StructType = Encoders.product[PacketRow].schema
}

/** `opts` are parsed from `load()`'s options, which are also the ones a
  * `DataFrameReader` scan sees, so the scan does not read them again.
  */
class CcsdsTable(path: String, opts: CcsdsSource.Options) extends Table with SupportsRead {
  override def name(): String = s"ccsds($path)"
  override def schema(): StructType = CcsdsDataSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new CcsdsScanBuilder(path, opts)
}

class CcsdsScanBuilder(path: String, opts: CcsdsSource.Options)
    extends ScanBuilder with SupportsPushDownFilters {
  private var pushedApids: Option[Seq[Int]] = None
  private var pushed: Array[Filter] = Array.empty

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (supported, rest) = filters.partition {
      case EqualTo("apid", _: Number) => true
      case In("apid", vs) => vs.forall(_.isInstanceOf[Number])
      case _ => false
    }
    val apids = supported.flatMap {
      case EqualTo("apid", v: Number) => Seq(v.intValue)
      case In("apid", vs) => vs.map(_.asInstanceOf[Number].intValue).toSeq
      case _ => Nil
    }
    if (apids.nonEmpty) pushedApids = Some(apids.toSeq.distinct)
    pushed = supported
    // keep the filters in the residual too (cheap, keeps semantics safe
    // if several apid filters intersect)
    rest ++ supported
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new CcsdsScan(path, opts.copy(apidFilter = pushedApids))
}

class CcsdsScan(path: String, opts: CcsdsSource.Options) extends Scan with Batch {
  override def readSchema(): StructType = CcsdsDataSource.schema
  override def description(): String =
    s"CcsdsScan(pushed apids: ${opts.apidFilter.getOrElse(Seq("*")).mkString(",")})"
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // hidden/metadata artifacts (_SUCCESS, .*.crc) are not packet data —
    // Spark's built-in file sources skip them too
    def isDataFile(s: org.apache.hadoop.fs.FileStatus): Boolean = {
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val matches = Option(fs.globStatus(p)).getOrElse(
      Array.empty[org.apache.hadoop.fs.FileStatus])
    if (matches.isEmpty) {
      // a silent empty read would turn a typo'd path into data loss
      // (globStatus: null for a missing literal path, empty for a
      // matchless glob — both are config errors here)
      throw new IllegalArgumentException(s"ccsds source: path does not exist: $path")
    }
    val files = matches.flatMap { s =>
      if (s.isDirectory) fs.listStatus(s.getPath).filter(isDataFile)
      else Array(s).filter(isDataFile)
    }
    files.flatMap { f =>
      val len = f.getLen
      if (!opts.frameSync || len <= opts.splitSize) {
        Array(CcsdsInputPartition(f.getPath.toString, 0L, len): InputPartition)
      } else {
        // marker-framed: arbitrary byte ranges; the reader resyncs
        val n = math.ceil(len.toDouble / opts.splitSize).toInt
        val step = math.ceil(len.toDouble / n).toLong
        (0 until n).map { i =>
          CcsdsInputPartition(f.getPath.toString, i * step,
            math.min((i + 1) * step, len)): InputPartition
        }.toArray
      }
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // executors must see the session's fs.* settings: an empty
    // `new Configuration()` loses s3a/hdfs credentials and impls
    val conf = new SerializableConfiguration(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration)
    new CcsdsReaderFactory(opts, conf)
  }
}

case class CcsdsInputPartition(file: String, start: Long, end: Long)
    extends InputPartition

class CcsdsReaderFactory(opts: CcsdsSource.Options, conf: SerializableConfiguration)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CcsdsPartitionReader(
      partition.asInstanceOf[CcsdsInputPartition], opts, conf.value)
}

/** Walks one split with the shared [[CcsdsSource.Walker]] over a seekable
  * Hadoop stream (bounded read-ahead: O(max packet size) memory).
  */
class CcsdsPartitionReader(
    part: CcsdsInputPartition, opts: CcsdsSource.Options,
    hadoopConf: org.apache.hadoop.conf.Configuration)
    extends PartitionReader[InternalRow] {

  private val packets = {
    val p = new Path(part.file)
    val raw = p.getFileSystem(hadoopConf).open(p)
    // a reposition re-seeks the one Hadoop stream behind a fresh buffer
    new CcsdsSource.Walker(
      offset => { raw.seek(offset); new java.io.BufferedInputStream(raw, 1 << 16) },
      part.start, part.end, opts)
  }
  private val groundReceiptTime = opts.groundReceiptTime.map(java.lang.Double.valueOf).orNull
  private val sourceId = opts.sourceId.map(UTF8String.fromString).orNull
  private var current: InternalRow = _

  override def next(): Boolean = {
    val p = packets.nextPacket()
    if (p != null) current = InternalRow(
      p.version, p.type_flag, p.sec_hdr_flag, p.apid, p.seq_flags, p.seq_count,
      p.data_length, p.secondary_header, p.user_data, null, groundReceiptTime, sourceId)
    p != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = packets.close()
}
