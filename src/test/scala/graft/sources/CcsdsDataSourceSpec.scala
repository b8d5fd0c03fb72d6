package graft.sources

import graft.{SparkSpec, TestSpark}
import graft.telemetry.Fixtures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, DoubleType, IntegerType, StringType}

/** V2 source: split correctness (marker-framed files), the ownership
  * rule, false-sync rejection, APID pushdown, and how splits are packed
  * into partitions.
  */
class CcsdsDataSourceSpec extends SparkSpec {
  import CcsdsDataSourceSpec._

  private def markerFramedFile(n: Int): java.nio.file.Path = {
    val bytes = (0 until n).flatMap { i =>
      CcsdsSource.SyncMarker ++ Fixtures.makeRawPacket(
        apid = if (i % 3 == 0) 0x200 else 0x100, seqCount = i % 16384,
        userData = graft.telemetry.BinaryFieldOps.packNumberBE(
          (i * 7).toDouble, 32, graft.telemetry.ParameterType.UINT),
        secHdr = Array[Byte](1, 2, 3, 4))
    }.toArray
    val dir = java.nio.file.Files.createTempDirectory("v2src")
    val f = dir.resolve("stream.bin")
    java.nio.file.Files.write(f, bytes)
  }

  test("splittable read: many small splits reproduce the whole stream exactly") {
    val f = markerFramedFile(500)
    val df = spark.read.format("ccsds")
      .option("path", f.toString)
      .option("frame_sync", "true")
      .option("sec_hdr_length", "4")
      .option("split_size", "1024") // force many splits
      .load()
    assert(plannedSplits(df) > 5, "expected the file to split")
    val parts = plannedPartitions(df)
    assert(parts.exists(_.files.length > 1), s"no partition packs two splits: ${parts.map(_.files.length)}")
    // every fixture packet comes back exactly once, bit for bit, in stream
    // order without a sort: a task walks its packed splits in file order
    val got = df.select("apid", "seq_count", "secondary_header", "user_data").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getAs[Array[Byte]](2).toSeq,
        r.getAs[Array[Byte]](3).toSeq)).toSeq
    val expected = (0 until 500).map { i =>
      (if (i % 3 == 0) 0x200 else 0x100, i, Seq[Byte](1, 2, 3, 4),
        graft.telemetry.BinaryFieldOps.packNumberBE(
          (i * 7).toDouble, 32, graft.telemetry.ParameterType.UINT).toSeq)
    }
    assert(got == expected)
  }

  test("split boundaries never duplicate or drop packets (ownership rule)") {
    val f = markerFramedFile(199)
    for (split <- Seq(137L, 256L, 1000L, 100000L)) {
      val n = spark.read.format("ccsds")
        .option("path", f.toString).option("frame_sync", "true")
        .option("split_size", split.toString).load().count()
      assert(n == 199, s"split_size=$split gave $n")
    }
  }

  test("apid predicate pushes into the scan") {
    val f = markerFramedFile(300)
    val df = spark.read.format("ccsds")
      .option("path", f.toString).option("frame_sync", "true").load()
      .where(col("apid") === 0x200)
    assert(df.count() == 100) // every 3rd packet
    val scanDesc = df.queryExecution.executedPlan.toString
    assert(scanDesc.contains("pushed apids: 512"), s"scan not pushed:\n$scanDesc")
  }

  test("spurious sync pattern inside payload does not corrupt split reads") {
    // payload contains the 0x1ACFFC1D pattern followed by bytes that
    // parse into a plausible-but-wrong header; splits starting inside
    // the payload must reject that candidate and resync on real framing
    val evilPayload = Array[Byte](
      0x1a.toByte, 0xcf.toByte, 0xfc.toByte, 0x1d.toByte, // fake marker
      0x08.toByte, 0x01.toByte, 0x00.toByte, 0x05.toByte, // fake header ...
      0x00.toByte, 0x03.toByte, 0x11.toByte, 0x22.toByte,
      0x33.toByte, 0x44.toByte, 0x55.toByte, 0x66.toByte)
    val bytes = (0 until 100).flatMap { i =>
      CcsdsSource.SyncMarker ++ Fixtures.makeRawPacket(
        apid = 0x100, seqCount = i, userData = evilPayload)
    }.toArray
    val dir = java.nio.file.Files.createTempDirectory("v2evil")
    val f = dir.resolve("evil.bin")
    java.nio.file.Files.write(f, bytes)
    for (split <- Seq(41L, 64L, 100L, 333L)) {
      val got = spark.read.format("ccsds")
        .option("path", f.toString).option("frame_sync", "true")
        .option("split_size", split.toString).load()
        .select("seq_count").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == (0 until 100), s"split_size=$split corrupted: ${got.size} rows")
    }
  }

  test("a sync marker cut short by the end of the file keeps the last whole packet") {
    // the split that starts inside packet 39 validates it by what follows:
    // here only the first 1-3 bytes of one more marker, then EOF
    val packets = (0 until 40).flatMap { i =>
      CcsdsSource.SyncMarker ++ Fixtures.makeRawPacket(
        apid = 0x100, seqCount = i, userData = Array.fill[Byte](30)(5))
    }.toArray
    val dir = java.nio.file.Files.createTempDirectory("v2cut")
    for (keep <- 0 to 4) {
      val f = dir.resolve(s"cut$keep.bin")
      java.nio.file.Files.write(f, packets ++ CcsdsSource.SyncMarker.take(keep))
      val got = spark.read.format("ccsds")
        .option("path", f.toString).option("frame_sync", "true")
        .option("split_size", "20").load()
        .select("seq_count").collect().map(_.getInt(0)).sorted.toSeq
      assert(got == (0 until 40), s"marker cut to $keep bytes: ${got.size} rows")
    }
  }

  test("hidden and metadata files are skipped; missing path errors loudly") {
    val dir = java.nio.file.Files.createTempDirectory("v2meta")
    java.nio.file.Files.write(dir.resolve("data.bin"), Fixtures.hkStream(10))
    java.nio.file.Files.write(dir.resolve("_SUCCESS"), Array.emptyByteArray)
    java.nio.file.Files.write(dir.resolve(".data.bin.crc"), Fixtures.hkStream(3))
    val df = spark.read.format("ccsds")
      .option("path", dir.toString).option("sec_hdr_length", "4").load()
    assert(df.count() == 10) // crc/_SUCCESS bytes not parsed as packets
    val err = intercept[Exception] {
      spark.read.format("ccsds")
        .option("path", dir.toString + "/nope/*.bin").load().count()
    }
    assert(err.getMessage.contains("does not exist"))
  }

  /** The planning error a framed read with `option` = `value` raises:
    * an `IllegalArgumentException` on the driver, not a task failure.
    */
  private def rejected(option: String, value: String): String = {
    val f = markerFramedFile(50)
    intercept[IllegalArgumentException] {
      spark.read.format("ccsds")
        .option("path", f.toString).option("frame_sync", "true")
        .option(option, value).load().count()
    }.getMessage
  }

  test("split_size <= 0 is rejected at planning, naming the option") {
    // unchecked, -1 plans no partition (0 rows, no error) and 0 plans
    // Int.MaxValue partitions
    for (v <- Seq("-1", "0"))
      assert(rejected("split_size", v).contains(s"split_size must be > 0, got $v"))
  }

  test("a negative resync_window is rejected at planning, naming the option") {
    // unchecked, every mid-file split rejects its first real packet
    assert(rejected("resync_window", "-1").contains("resync_window must be >= 0, got -1"))
  }

  test("a negative sec_hdr_length is rejected at planning, naming the option") {
    // unchecked, the tasks fail with a bare copyOfRange error
    assert(rejected("sec_hdr_length", "-4").contains("sec_hdr_length must be >= 0, got -4"))
  }

  test("a resync_window whose scan length overflows an Int is rejected, naming the option") {
    // unchecked, every mid-file split rejects each candidate and reads nothing
    assert(rejected("resync_window", Int.MaxValue.toString)
      .contains(s"resync_window must be <= ${Int.MaxValue - 4}"))
  }

  test("malformed option values are rejected, naming the option") {
    for ((key, value, msg) <- Seq(
        ("sec_hdr_length", "4.0", "sec_hdr_length must be an integer, got '4.0'"),
        ("frame_sync", "yes", "frame_sync must be true or false, got 'yes'"),
        ("ground_receipt_time", "noon", "ground_receipt_time must be a number, got 'noon'")))
      assert(rejected(key, value).contains(msg), s"$key=$value")
  }

  test("format(ccsds) schema: 12 packet columns, the 7 header ints non-null") {
    val schema = spark.read.format("ccsds").option("path", markerFramedFile(1).toString).load().schema
    val header = Seq("version", "type_flag", "sec_hdr_flag", "apid", "seq_flags", "seq_count",
      "data_length").map((_, IntegerType, false))
    assert(schema.map(f => (f.name, f.dataType, f.nullable)) == header ++ Seq(
      ("secondary_header", BinaryType, true), ("user_data", BinaryType, true),
      ("source_time_tai", DoubleType, true), ("ground_receipt_time", DoubleType, true),
      ("source_id", StringType, true)))
  }

  test("unframed file reads as a single partition") {
    val dir = java.nio.file.Files.createTempDirectory("v2plain")
    val f = dir.resolve("plain.bin")
    java.nio.file.Files.write(f, Fixtures.hkStream(50))
    val df = spark.read.format("ccsds")
      .option("path", f.toString).option("sec_hdr_length", "4").load()
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 50)
  }

  private def readFramed(f: java.nio.file.Path, splitSize: Int): DataFrame =
    spark.read.format("ccsds")
      .option("path", f.toString).option("frame_sync", "true")
      .option("sec_hdr_length", "4").option("split_size", splitSize.toString).load()

  test("24 small unframed files pack into 4 partitions at local[4], each file in exactly one") {
    val dir = java.nio.file.Files.createTempDirectory("v2pack")
    for (i <- 0 until 24) Fixtures.writeHkFile(dir.resolve(f"pass$i%02d.bin"), 20)
    val df = spark.read.format("ccsds")
      .option("path", dir.toString).option("sec_hdr_length", "4").load()
    val parts = plannedPartitions(df)
    assert(parts.size == 4, s"partitions: ${parts.map(_.files.length)}")
    val files = parts.flatMap(_.files.map(_.toPath.getName))
    assert(files.sorted == (0 until 24).map(i => f"pass$i%02d.bin"), files)
    assert(df.count() == 24 * 20)
  }

  test("spark.sql.files.maxPartitionBytes of 1 byte makes every split its own partition") {
    val f = markerFramedFile(500)
    TestSpark.withConf("spark.sql.files.maxPartitionBytes" -> "1") {
      val df = readFramed(f, 1024)
      val parts = plannedPartitions(df)
      assert(parts.size > 5 && parts.forall(_.files.length == 1),
        s"splits per partition: ${parts.map(_.files.length)}")
      assert(df.select("seq_count").collect().map(_.getInt(0)).toSeq == (0 until 500))
    }
  }

  test("the scan's reader factory serializes small: the Hadoop conf is a broadcast") {
    // with the session's Hadoop conf embedded it serialized to ~110 KB,
    // deserialized again by every task downstream of the scan
    val df = readFramed(markerFramedFile(50), 1024)
    val factory = scan(df).readerFactory
    assert(factory.isInstanceOf[v2.CcsdsReaderFactory], factory)
    val bytes = new java.io.ByteArrayOutputStream
    val out = new java.io.ObjectOutputStream(bytes)
    out.writeObject(factory)
    out.close()
    assert(bytes.size < 8192, s"CcsdsReaderFactory serializes to ${bytes.size} bytes")
  }
}

object CcsdsDataSourceSpec extends AdaptiveSparkPlanHelper {

  /** The `ccsds` scan in `df`'s executed plan. */
  def scan(df: DataFrame): BatchScanExec =
    collectFirst(df.queryExecution.executedPlan) { case s: BatchScanExec => s }
      .getOrElse(throw new AssertionError(s"no BatchScanExec in\n${df.queryExecution.executedPlan}"))

  /** The partitions that scan packed its splits into. */
  def plannedPartitions(df: DataFrame): Seq[FilePartition] =
    scan(df).inputPartitions.map(_.asInstanceOf[FilePartition])

  /** The number of splits that scan planned, over all its partitions. */
  def plannedSplits(df: DataFrame): Int = plannedPartitions(df).map(_.files.length).sum
}
