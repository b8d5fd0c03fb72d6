package graft.sinks

import graft.telemetry.CcsdsColumns
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.util.SerializableConfiguration

/** File sinks (reference loaders, SURVEY.md §2.9).
  *
  * ParquetLoader/CsvLoader per-parameter mode → `partitionBy("name")`
  * (one directory per parameter instead of one file — same logical
  * content, scalable layout); `partition_by_apid` → additional
  * `partitionBy("apid")`. The tidy sinks first cluster rows by those
  * partition columns (a `rebalance` hint: one hash shuffle that AQE may
  * split for a very large parameter), so each parameter lands in one or
  * a few files instead of one per input partition. A range repartition
  * is not used: its sampling job re-runs the upstream plan, and so its
  * `observe` counts. Append mode → native `mode("append")` (the
  * reference's read-concat-rewrite is non-atomic; Spark's commit protocol
  * is the durable version of the same semantics).
  *
  * Every loader's write carries [[LocalFsOptions]]. Without Hadoop's
  * native library, its local file system forks `chmod` for every file,
  * `.crc` sidecar and directory it creates (~250 forks per tidy write of
  * 80 parameters); with the options, `file:` paths resolve to
  * [[LocalFs]], which sets the same modes through `java.nio`. The keys
  * name only the `file:` scheme, so HDFS or S3 writes are unchanged, and
  * they ride on each write, not on the session, so any `SparkSession`
  * gets them.
  *
  * HDF5 is intentionally out of scope (no JVM-native Spark writer;
  * SURVEY.md §2.9) — Parquet is the durable format.
  */
object Sinks {

  /** Hadoop keys that resolve `file:` to [[LocalFs]]. The cache must be
    * off for that scheme: `FileSystem.get` would otherwise hand back the
    * default instance another caller already made.
    */
  val LocalFsOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** `df.write` with [[LocalFsOptions]]; every loader starts its write here. */
  def writer(df: DataFrame): DataFrameWriter[Row] = df.write.options(LocalFsOptions)

  /** Per-parameter tidy sink (parquet.py:50-78 per-parameter mode). */
  def writeTidyParquet(
      samples: DataFrame, dir: String,
      partitionByApid: Boolean = false, overwrite: Boolean = true): Unit = {
    val partCols = if (partitionByApid) Seq("name", "apid") else Seq("name")
    writer(clustered(samples, partCols))
      .partitionBy(partCols: _*)
      .mode(if (overwrite) "overwrite" else "append")
      .parquet(dir)
  }

  /** The tidy columns, clustered by `partCols` and sorted by them and
    * `time_tai` within each task, the order the partitioned writer needs.
    */
  private def clustered(samples: DataFrame, partCols: Seq[String]): DataFrame =
    samples
      .select("name", "time_tai", "apid", "seq_count", "raw_value",
        "eng_value", "unit", "validity", "out_of_limit", "alarm_level")
      .hint("rebalance", partCols.map(col): _*)
      .sortWithinPartitions((partCols :+ "time_tai").map(col): _*)

  /** Wide sink (parquet.py wide mode → single pivoted table). */
  def writeWideParquet(wide: DataFrame, dir: String, overwrite: Boolean = true): Unit =
    writer(wide).mode(if (overwrite) "overwrite" else "append").parquet(dir)

  /** CCSDS packet-stream sink: serializes parsed packets (the ccsds V2
    * source schema) back to raw big-endian byte streams, one file per
    * partition — the write-side counterpart of the splittable reader,
    * and the inverse of CCSDSPrimaryHeader.from_bytes
    * (/root/reference/src/mdp/models/packet.py:57-71). The byte pack is
    * a codegen'd column expression; only the final file append is
    * imperative. Each task re-creates its own file (overwrite=true), so
    * retries are idempotent; like any non-committed sink, concurrent
    * speculative attempts of one task should be disabled when using it
    * on a real cluster.
    */
  def writeCcsdsFiles(packets: DataFrame, dir: String): Unit = {
    // Overwrite semantics: clear the target before writing. Without
    // this, re-running with FEWER partitions leaves stale higher-
    // numbered part-*.bin files from the previous run in place, and the
    // extractor silently reads them back into the round-trip.
    val sc = packets.sparkSession.sparkContext
    val hadoopConf = new Configuration(sc.hadoopConfiguration)
    LocalFsOptions.foreach { case (k, v) => hadoopConf.set(k, v) }
    locally {
      val target = new Path(dir)
      val fs = target.getFileSystem(hadoopConf)
      if (fs.exists(target)) fs.delete(target, true)
      fs.mkdirs(target)
    }
    val bytes = packets.select(concat(
      CcsdsColumns.packHeader(col("version"), col("type_flag"),
        col("sec_hdr_flag"), col("apid"), col("seq_flags"),
        col("seq_count"), col("data_length")),
      coalesce(col("secondary_header"), lit(Array.emptyByteArray)),
      coalesce(col("user_data"), lit(Array.emptyByteArray))).as("pkt"))
    // one broadcast copy per executor, not the whole conf in every task
    val conf = sc.broadcast(new SerializableConfiguration(hadoopConf))
    bytes.foreachPartition { (it: Iterator[Row]) =>
      if (it.hasNext) {
        val path = new Path(dir, f"part-${TaskContext.getPartitionId()}%05d.bin")
        val fs = path.getFileSystem(conf.value.value)
        val out = fs.create(path, true)
        try it.foreach(r => out.write(r.getAs[Array[Byte]](0)))
        finally out.close()
      }
    }
  }

  /** CSV sink (csv loader, header on, per-parameter partitioning). */
  def writeTidyCsv(
      samples: DataFrame, dir: String, overwrite: Boolean = true): Unit =
    writer(clustered(samples, Seq("name")))
      .option("header", "true")
      .partitionBy("name")
      .mode(if (overwrite) "overwrite" else "append")
      .csv(dir)
}
