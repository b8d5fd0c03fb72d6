package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface for the telemetry domain.
  *
  * The reference is pull-based micro-batching over finite files
  * (SURVEY.md §2.11) with no event-time semantics; this module provides
  * the Spark-native upgrade path: file-stream packet ingestion,
  * watermarked event-time windows, and a stateful sequence-gap monitor
  * (the reference leaves seq_count wrap/loss unhandled — packet.py:43).
  *
  * Everything here is expressed on streaming DataFrames, so the same
  * decom/calibration transforms from the batch path run unchanged on the
  * stream (they are narrow column maps).
  */
object TelemetryStreaming {

  /** Ingest CCSDS packet files as they land in a directory. The `ccsds`
    * V2 source is batch-only, so `binaryFile` supplies each new file's
    * bytes and [[graft.sources.CcsdsSource.parseStream]] walks them with
    * the same walker that source uses (one file per task; a 2 GiB
    * `binaryFile` cap per file).
    */
  def packetFileStream(
      spark: SparkSession, dir: String,
      opts: graft.sources.CcsdsSource.Options = graft.sources.CcsdsSource.Options(),
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    // streaming sources require an explicit schema; this is binaryFile's
    val binaryFileSchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val reader = spark.readStream
      .format("binaryFile")
      .schema(binaryFileSchema)
    maxFilesPerTrigger.foreach(n => reader.option("maxFilesPerTrigger", n))
    reader
      .load(dir)
      .select("content")
      .as[Array[Byte]]
      .flatMap(bytes => graft.sources.CcsdsSource.parseStream(bytes, opts))
      .toDF()
  }

  /** Watermarked tumbling-window aggregation over sample event time.
    * time_tai (seconds) becomes an event-time timestamp; late samples
    * beyond the watermark are dropped (the reference silently last-wins
    * instead — documented upgrade).
    */
  def windowedStats(
      samples: DataFrame, windowSeconds: Int, watermarkSeconds: Int): DataFrame =
    samples
      .withColumn("event_time", timestamp_seconds(col("time_tai")))
      .withWatermark("event_time", s"$watermarkSeconds seconds")
      .groupBy(window(col("event_time"), s"$windowSeconds seconds"), col("name"))
      .agg(
        count(lit(1)).as("n_samples"),
        min("eng_value").as("eng_min"),
        max("eng_value").as("eng_max"),
        avg("eng_value").as("eng_avg"))
      .select(col("window.start").as("window_start"), col("name"),
        col("n_samples"), col("eng_min"), col("eng_max"), col("eng_avg"))

  case class SeqState(lastSeq: Int, gaps: Long, received: Long)
  case class SeqGapReport(apid: Int, received: Long, gaps: Long, last_seq: Int)

  /** Stateful per-APID sequence-count monitor: counts gaps in the
    * 14-bit wrapping seq_count stream — the kind of continuity check a
    * ground system runs that the reference models but never implements.
    */
  def sequenceGapMonitor(
      packets: Dataset[(Int, Int)] /* (apid, seq_count) */): Dataset[SeqGapReport] = {
    import packets.sparkSession.implicits._
    // NOTE: a flatMapGroupsWithState iterator has no inherent order; the
    // per-batch wrap-aware sort below assumes a batch spans < one full
    // 16384-count cycle (true for any sane micro-batch interval).
    packets
      .groupByKey(_._1)
      .flatMapGroupsWithState[SeqState, SeqGapReport](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        case (apid, rows, state: GroupState[SeqState]) =>
          var st = state.getOption.getOrElse(SeqState(-1, 0L, 0L))
          val batch = rows.map(_._2).toSeq // the iterator is single-use
          // order by wrap-aware distance from the expected next count,
          // NOT numerically: a batch spanning the 14-bit wrap
          // ([16382, 16383, 0, 1]) must process 0/1 last, not first
          val anchor =
            if (st.lastSeq >= 0) (st.lastSeq + 1) & 0x3fff
            else batch.headOption.getOrElse(0)
          val seqs = batch.sortBy(s => (s - anchor) & 0x3fff)
          seqs.foreach { s =>
            if (st.lastSeq >= 0) {
              val expected = (st.lastSeq + 1) & 0x3fff
              if (s != expected) st = st.copy(gaps = st.gaps + 1)
            }
            st = st.copy(lastSeq = s, received = st.received + 1)
          }
          state.update(st)
          Iterator(SeqGapReport(apid, st.received, st.gaps, st.lastSeq))
      }
  }
}
