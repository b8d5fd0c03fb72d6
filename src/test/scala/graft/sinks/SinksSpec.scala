package graft.sinks

import graft.SparkSpec
import graft.operators.{Calibration, Decom}
import graft.sources.CcsdsSource
import graft.telemetry.Fixtures
import org.apache.spark.sql.functions._

/** Write-then-read-back checks (the reference's loader test pattern,
  * tests/test_plugins_loaders.py).
  */
class SinksSpec extends SparkSpec {

  private lazy val samples = Calibration(
    Decom(
      CcsdsSource.packetsFromBytes(
        spark, Seq(Fixtures.hkStream(20)), CcsdsSource.Options(secHdrLength = 4)),
      Fixtures.hkParamDefs),
    Fixtures.hkCalibrations)

  test("tidy parquet sink partitions by parameter and appends") {
    val dir = java.nio.file.Files.createTempDirectory("sink_pq").toString
    Sinks.writeTidyParquet(samples, dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 80)
    assert(new java.io.File(dir, "name=obc_temp_dn").isDirectory)
    Sinks.writeTidyParquet(samples, dir, overwrite = false)
    assert(spark.read.parquet(dir).count() == 160) // append accumulates
  }

  test("tidy sinks cluster each parameter into at most 2 files; rows and layout unchanged") {
    // four input partitions, as four pass files would give
    val spread = samples.repartition(4)
    val cols = Seq("name", "time_tai", "apid", "seq_count", "raw_value",
      "eng_value", "unit", "validity", "out_of_limit", "alarm_level")
    val expected = samples.select(cols.map(col): _*).collect().map(_.toSeq.toString).sorted.toSeq
    def dataFiles(d: java.io.File) = d.listFiles().filter(_.getName.startsWith("part-")).toSeq

    val pq = java.nio.file.Files.createTempDirectory("sink_cluster_pq").toFile
    Sinks.writeTidyParquet(spread, pq.toString)
    val nameDirs = pq.listFiles().filter(_.isDirectory).sortBy(_.getName).toSeq
    assert(nameDirs.map(_.getName) == Fixtures.hkParamDefs.map("name=" + _.name).sorted)
    nameDirs.foreach { d =>
      val files = dataFiles(d)
      assert(files.nonEmpty && files.size <= 2, s"${d.getName}: ${files.map(_.getName)}")
      files.foreach { f =>
        val times = spark.read.parquet(f.toString).select("time_tai").collect().map(_.getDouble(0)).toSeq
        assert(times == times.sorted, s"${f.getName} is not in time order")
      }
    }
    val back = spark.read.parquet(pq.toString).select(cols.map(col): _*)
    assert(back.collect().map(_.toSeq.toString).sorted.toSeq == expected)

    val csv = java.nio.file.Files.createTempDirectory("sink_cluster_csv").toFile
    Sinks.writeTidyCsv(spread, csv.toString)
    val csvDirs = csv.listFiles().filter(_.isDirectory).toSeq
    assert(csvDirs.size == 4 && csvDirs.forall(d => dataFiles(d).size <= 2),
      csvDirs.map(d => d.getName -> dataFiles(d).size))
    assert(spark.read.option("header", "true").csv(csv.toString).count() == 80)
  }

  test("every Registry loader and the wide sink write file: paths through LocalFs") {
    import org.apache.hadoop.fs.{FileSystem, RawLocalFileSystem}
    // bytes each local file system class wrote, .crc sidecars included
    def written(cls: Class[_ <: FileSystem]) = FileSystem.getStatistics("file", cls).getBytesWritten
    def partDirs(d: java.io.File) = d.listFiles().filter(_.isDirectory).sortBy(_.getName).toSeq
    def dataFiles(d: java.io.File) = d.listFiles().filter(_.getName.startsWith("part-")).toSeq
    val names = Fixtures.hkParamDefs.map("name=" + _.name).sorted
    val spread = samples.repartition(4)
    val packets = CcsdsSource.packetsFromBytes(
      spark, Seq(Fixtures.hkStream(20)), CcsdsSource.Options(secHdrLength = 4))
    val cases: Seq[(String, (String => Unit), (String => Unit))] = Seq(
      ("parquet", dir => graft.Registry.getLoader("parquet")(spread, graft.Registry.parseConfig(
        s"""{"output_dir": "$dir"}""")), { dir =>
        val d = new java.io.File(dir)
        assert(partDirs(d).map(_.getName) == names)
        assert(partDirs(d).forall(n => dataFiles(n).size <= 2))
        assert(spark.read.parquet(dir).count() == 80)
      }),
      ("csv", dir => graft.Registry.getLoader("csv")(spread, graft.Registry.parseConfig(
        s"""{"output_dir": "$dir"}""")), { dir =>
        val d = new java.io.File(dir)
        assert(partDirs(d).map(_.getName) == names)
        assert(partDirs(d).forall(n => dataFiles(n).size <= 2))
        assert(spark.read.option("header", "true").csv(dir).count() == 80)
      }),
      ("jsonl", dir => graft.Registry.getLoader("jsonl")(samples, graft.Registry.parseConfig(
        s"""{"output_dir": "$dir"}""")), dir => assert(spark.read.json(dir).count() == 80)),
      ("orc", dir => graft.Registry.getLoader("orc")(samples, graft.Registry.parseConfig(
        s"""{"output_dir": "$dir"}""")), dir => assert(spark.read.orc(dir).count() == 80)),
      ("ccsds", dir => graft.Registry.getLoader("ccsds")(packets, graft.Registry.parseConfig(
        s"""{"output_dir": "$dir"}""")), dir => assert(spark.read.format("ccsds")
        .option("path", dir).option("sec_hdr_length", "4").load().count() == 20)),
      ("wide", dir => Sinks.writeWideParquet(graft.operators.Telemetry.wide(samples), dir),
        dir => assert(spark.read.parquet(dir).count() == 20)))
    assert(cases.map(_._1).toSet - "wide" == graft.Registry.loaders.keySet)
    cases.foreach { case (name, write, check) =>
      val dir = java.nio.file.Files.createTempDirectory(s"sink_fs_$name").toString
      val (nio, hadoop) = (written(classOf[LocalFs.NioRaw]), written(classOf[RawLocalFileSystem]))
      write(dir)
      assert(written(classOf[LocalFs.NioRaw]) > nio, s"$name wrote nothing through LocalFs")
      assert(written(classOf[RawLocalFileSystem]) == hadoop, s"$name wrote through Hadoop's local FS")
      check(dir)
    }
    val conf = spark.sessionState.newHadoopConfWithOptions(Sinks.LocalFsOptions)
    assert(FileSystem.get(java.net.URI.create("file:///"), conf).getClass == classOf[LocalFs])
  }

  test("apid-partitioned layout adds apid subdirectories") {
    val dir = java.nio.file.Files.createTempDirectory("sink_apid").toString
    Sinks.writeTidyParquet(samples, dir, partitionByApid = true)
    assert(new java.io.File(dir, "name=obc_temp_dn/apid=256").isDirectory)
    val back = spark.read.parquet(dir)
    assert(back.where(col("apid") === 256).count() == 80)
  }

  test("wide parquet and csv sinks round-trip") {
    val wideDir = java.nio.file.Files.createTempDirectory("sink_wide").toString
    Sinks.writeWideParquet(graft.operators.Telemetry.wide(samples), wideDir)
    val wide = spark.read.parquet(wideDir)
    assert(wide.count() == 20)
    assert(wide.columns.contains("obc_temp_dn"))

    val csvDir = java.nio.file.Files.createTempDirectory("sink_csv").toString
    Sinks.writeTidyCsv(samples, csvDir)
    val csv = spark.read.option("header", "true").option("inferSchema", "true").csv(csvDir)
    assert(csv.count() == 80)
    assert(csv.columns.contains("eng_value"))
  }

  test("ccsds binary sink overwrites: fewer partitions leave no stale files") {
    val packets = CcsdsSource.packetsFromBytes(
      spark, Seq(Fixtures.hkStream(20)), CcsdsSource.Options(secHdrLength = 4))
    val dir = java.nio.file.Files.createTempDirectory("sink_ccsds").toString
    Sinks.writeCcsdsFiles(packets.repartition(4), dir)
    val firstFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".bin"))
    assert(firstFiles > 2, s"expected >2 files from 4 partitions, got $firstFiles")
    // rewrite with FEWER partitions: the higher-numbered part files of
    // the first write must be gone, and the round-trip reads exactly
    // the second write's packets (not theirs + stale ones)
    Sinks.writeCcsdsFiles(packets.repartition(2), dir)
    val secondFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".bin"))
    assert(secondFiles <= 2, s"stale part files survived the rewrite: $secondFiles")
    val back = spark.read.format("ccsds").option("path", dir)
      .option("sec_hdr_length", "4").load()
    assert(back.count() == 20, "round-trip count changed after rewrite")
  }
}
