package graft.sources.v2

import java.util
import scala.jdk.CollectionConverters._

import graft.sources.CcsdsSource
import graft.telemetry.PacketRow
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Splittable CCSDS packet-stream source (DataSource V2, SURVEY.md §2.1 /
  * §7.2 scale path).
  *
  * Every file is at least one split; Spark packs splits into partitions.
  * When the stream is framed with 0x1ACFFC1D sync markers, byte ranges
  * ARE safely splittable: each split owns the packets whose marker
  * position p lies in [start, end), seeking forward from its start offset
  * to the first marker (the record straddling a boundary belongs to the
  * left split — the same ownership rule Hadoop text input format uses for
  * newlines). Without markers a file is a single split (variable-length
  * records, no resync point). As in Spark's own file scans, the splits
  * are packed in listing order into `FilePartition`s by
  * `spark.sql.files.maxPartitionBytes`, `spark.sql.files.openCostInBytes`
  * and the session's parallelism, and a task walks its partition's splits
  * one after another, so one file's packets come out in stream order.
  *
  * Usage:
  *   spark.read.format("ccsds")          // via DataSourceRegister
  *     .option("path", "/data/&#42;.bin")   // globs supported
  *     .option("frame_sync", "true")
  *     .option("split_size", 128 << 20)  // framed split bytes
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

  /** The listed files' splits, in listing order: a whole file, or
    * `split_size` chunks of a framed one.
    */
  private def splits(spark: SparkSession): Seq[PartitionedFile] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // hidden/metadata artifacts (_SUCCESS, .*.crc) are not packet data —
    // Spark's built-in file sources skip them too
    def isDataFile(s: FileStatus): Boolean = {
      val n = s.getPath.getName
      s.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    val matches = Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
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
    files.toSeq.flatMap { f =>
      val len = f.getLen
      def split(start: Long, end: Long) =
        PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), start, end - start)
      if (!opts.frameSync || len <= opts.splitSize) {
        Seq(split(0L, len))
      } else {
        // marker-framed: arbitrary byte ranges; the reader resyncs
        val n = math.ceil(len.toDouble / opts.splitSize).toInt
        val step = math.ceil(len.toDouble / n).toLong
        (0 until n).map(i => split(i * step, math.min((i + 1) * step, len)))
      }
    }
  }

  /** Spark's file-scan rule packs the splits, in order, into partitions
    * of about `spark.sql.files.maxPartitionBytes`, or fewer bytes when
    * that spreads them over the session's parallelism; every split costs
    * `spark.sql.files.openCostInBytes` on top of its length.
    */
  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    val all = splits(spark)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val maxSplitBytes = FilePartition.maxSplitBytes(spark, all.map(_.length + openCost).sum)
    FilePartition.getFilePartitions(spark, all, maxSplitBytes).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // executors must see the session's fs.* settings: an empty
    // `new Configuration()` loses s3a/hdfs credentials and impls. The
    // factory stays in the plan, so every task downstream of the scan
    // deserializes it: it carries the conf as a broadcast handle, once
    // per executor, not the whole conf per task.
    val sc = SparkSession.active.sparkContext
    new CcsdsReaderFactory(opts,
      sc.broadcast(new SerializableConfiguration(sc.hadoopConfiguration)))
  }
}

class CcsdsReaderFactory(opts: CcsdsSource.Options, conf: Broadcast[SerializableConfiguration])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new CcsdsPartitionReader(
      partition.asInstanceOf[FilePartition].files, opts, conf.value.value)
}

/** Walks a partition's splits one after another, each with its own
  * [[CcsdsSource.Walker]] over a seekable Hadoop stream (bounded
  * read-ahead: O(max packet size) memory).
  */
class CcsdsPartitionReader(
    splits: Array[PartitionedFile], opts: CcsdsSource.Options, hadoopConf: Configuration)
    extends PartitionReader[InternalRow] {

  private def walk(split: PartitionedFile): CcsdsSource.Walker = {
    val p = split.toPath
    val raw = p.getFileSystem(hadoopConf).open(p)
    // a reposition re-seeks the one Hadoop stream behind a fresh buffer
    new CcsdsSource.Walker(
      offset => { raw.seek(offset); new java.io.BufferedInputStream(raw, 1 << 16) },
      split.start, split.start + split.length, opts)
  }

  private val pending = splits.iterator
  private var packets: CcsdsSource.Walker = _ // the split being walked, or null
  private val groundReceiptTime = opts.groundReceiptTime.map(java.lang.Double.valueOf).orNull
  private val sourceId = opts.sourceId.map(UTF8String.fromString).orNull
  private var current: InternalRow = _

  override def next(): Boolean = {
    var p = if (packets == null) null else packets.nextPacket()
    while (p == null && pending.hasNext) {
      close()
      packets = walk(pending.next())
      p = packets.nextPacket()
    }
    if (p != null) current = InternalRow(
      p.version, p.type_flag, p.sec_hdr_flag, p.apid, p.seq_flags, p.seq_count,
      p.data_length, p.secondary_header, p.user_data, null, groundReceiptTime, sourceId)
    p != null
  }

  override def get(): InternalRow = current
  override def close(): Unit = if (packets != null) { packets.close(); packets = null }
}
