package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShims.{column, expression}
import org.apache.spark.sql.catalyst.expressions.GetStructField
import org.apache.spark.sql.functions._

/** Filters, exports, set ops, and summary aggregates over packet and
  * sample frames — the reference's remaining data-touching operators
  * (SURVEY.md §2.2, §2.4, §2.6, §2.7).
  */
object Telemetry {

  /** APID include/exclude filter (reference filter.py:27-46): include and
    * exclude are mutually exclusive; neither set = no-op.
    */
  def apidFilter(df: DataFrame, include: Seq[Int] = Nil, exclude: Seq[Int] = Nil): DataFrame = {
    require(include.isEmpty || exclude.isEmpty,
      "include and exclude are mutually exclusive")
    if (include.nonEmpty) df.where(col("apid").isin(include.map(Integer.valueOf): _*))
    else if (exclude.nonEmpty) df.where(!col("apid").isin(exclude.map(Integer.valueOf): _*))
    else df
  }

  /** Tidy/long export (dataset.py:63-82): 9 sample fields sorted by time.
    * The sort covers ALL output columns: several samples of one packet
    * share (time_tai, apid, seq_count), so anything less is a
    * partition-dependent order (pandas' stable sort hid this in the
    * reference; a distributed sort needs the full tiebreak).
    */
  def tidy(samples: DataFrame): DataFrame =
    samples
      .select("time_tai", "apid", "seq_count", "raw_value", "eng_value",
        "unit", "validity", "out_of_limit", "alarm_level")
      .orderBy("time_tai", "apid", "seq_count", "raw_value", "eng_value",
        "unit", "validity", "out_of_limit", "alarm_level")

  /** Wide/pivoted export (dataset.py:84-95): one column per parameter,
    * full-outer aligned on time. The reference's dict-overwrite makes
    * duplicate (name, time) pairs collapse last-wins in sample order ==
    * seq order: the highest seq_count wins, and equal seq_counts (the
    * reference's arbitrary insertion order) break deterministically by
    * value. One [[PivotLastWins]] aggregate per time carries every
    * parameter's (seq_count, eng_value) winner, and each output column is
    * one field of its result: the winners `max(struct(seq_count,
    * eng_value))` would elect per `pivot` slot, in a hash aggregate.
    *
    * PASS `parameterNames` on any data path: with names, building the
    * plan launches NO job (spec-asserted in GuardsSpec). The empty
    * default runs an EAGER distinct scan of the whole sample frame at
    * PLAN time to discover the columns, as `pivot("name")` does (sorted,
    * at most `spark.sql.pivotMaxValues` names) — acceptable
    * interactively, wrong inside a pipeline whose inputs are 100 TB (the
    * scan runs even if the query is never executed). The MIB/decom
    * definitions already know the parameter set; thread it through.
    */
  def wide(samples: DataFrame, parameterNames: Seq[String] = Nil): DataFrame = {
    val names = if (parameterNames.nonEmpty) parameterNames else distinctNames(samples)
    val repeated = names.diff(names.distinct).distinct
    require(repeated.isEmpty, s"wide: parameter names repeat: ${repeated.mkString(", ")}")
    val winners = samples.groupBy(col("time_tai")).agg(column(
      PivotLastWins(expression(col("name")), expression(col("seq_count")),
        expression(col("eng_value")), names).toAggregateExpression()).as("winners"))
    winners
      .select(col("time_tai") +: names.indices.map(i =>
        column(GetStructField(expression(col("winners")), i)).as(String.valueOf(names(i)))): _*)
      .orderBy("time_tai")
  }

  /** The distinct names of `samples`, sorted with null first, as
    * `pivot("name")` discovers them.
    */
  private def distinctNames(samples: DataFrame): Seq[String] = {
    val maxValues = samples.sparkSession.conf.get("spark.sql.pivotMaxValues").toInt
    val found = samples.select(col("name")).distinct().limit(maxValues + 1)
      .sort(col("name")).collect().toSeq.map(r => Option(r.get(0)).map(_.toString).orNull)
    require(found.size <= maxValues,
      s"wide: more than $maxValues distinct names (spark.sql.pivotMaxValues); pass parameterNames")
    found
  }

  /** Dataset union (dataset.py:112-130 `merge`): concatenation, no dedup. */
  def merge(a: DataFrame, b: DataFrame): DataFrame = a.unionByName(b)

  /** Per-parameter record stats: count + time_range
    * (parameter.py:68-77) as one grouped aggregation.
    */
  def parameterStats(samples: DataFrame): DataFrame =
    samples.groupBy("name").agg(
      count(lit(1)).as("n_samples"),
      min("time_tai").as("time_min"),
      max("time_tai").as("time_max"))

  /** Batch sequence-gap report: per APID, packets whose 14-bit
    * seq_count is not the successor of the previous packet's (by
    * source time) — the batch form of the streaming
    * sequenceGapMonitor, same modular arithmetic. A REPEATED seq_count
    * is a retransmit/duplicate, not a near-full-cycle loss: it is
    * flagged `is_dup` with missing = 0 instead of the naive modular
    * 16383. The (time, seq) order is total modulo fully-identical
    * rows, so the lag pairing is deterministic.
    *
    * `timeBucketSeconds`: the scale path. A plain per-APID window has
    * parallelism = |APIDs| — a spacecraft with 2 chatty APIDs leaves
    * 998 of 1000 executors idle and builds two giant sort partitions.
    * With a bucket width set, the lag runs per (apid, time-bucket) and
    * bucket boundaries are stitched by handing each bucket's last
    * seq_count to the next bucket's first row via a window over the
    * one-row-per-bucket summary (metadata-scale, so its per-APID
    * ordering is free). Output is row-identical to the plain pass.
    */
  def sequenceGapReport(
      packets: DataFrame, timeBucketSeconds: Option[Double] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = packets.select(col("apid"), col("seq_count"), col("source_time_tai"))
    val paired = timeBucketSeconds match {
      case None =>
        val w = Window.partitionBy("apid").orderBy("source_time_tai", "seq_count")
        base.withColumn("prev_seq", lag(col("seq_count"), 1).over(w))
      case Some(b) =>
        require(b > 0, "bucket width must be positive")
        val bucketed = base.withColumn("bucket",
          floor(col("source_time_tai") / b).cast("long"))
        val w = Window.partitionBy("apid", "bucket")
          .orderBy("source_time_tai", "seq_count")
        val inBucket = bucketed
          .withColumn("prev_seq", lag(col("seq_count"), 1).over(w))
        // one row per non-empty (apid, bucket): its last seq in the
        // total order, handed to the NEXT non-empty bucket's first row
        val wb = Window.partitionBy("apid").orderBy("bucket")
        val handover = bucketed.groupBy("apid", "bucket")
          .agg(max_by(col("seq_count"),
            struct(col("source_time_tai"), col("seq_count"))).as("last_seq"))
          .withColumn("prev_last", lag(col("last_seq"), 1).over(wb))
          .select(col("apid"), col("bucket"), col("prev_last"))
        inBucket.join(handover, Seq("apid", "bucket"), "left")
          .withColumn("prev_seq", coalesce(col("prev_seq"), col("prev_last")))
          .drop("bucket", "prev_last")
    }
    paired
      .where(col("prev_seq").isNotNull)
      .withColumn("is_dup", col("seq_count") === col("prev_seq"))
      .withColumn("missing",
        when(col("is_dup"), lit(0))
          .otherwise((col("seq_count") - col("prev_seq") - 1 + 16384) % 16384))
      .where(col("missing") > 0 || col("is_dup"))
      .select(col("apid"), col("source_time_tai").as("time_tai"),
        col("prev_seq"), col("seq_count"), col("missing"), col("is_dup"))
  }

  /** `mdp inspect` projection (cli/main.py:117-133): per-packet summary
    * with hex APID, capped at maxPackets.
    *
    * Divergence (documented in COVERAGE.md §2.6): the reference caps in
    * arrival order, which a distributed splittable scan cannot
    * reproduce deterministically; the cap here selects in (apid,
    * seq_count) order — identical rows whenever the data fits the cap,
    * a stable selection when it doesn't.
    */
  def inspect(packets: DataFrame, maxPackets: Int = 50): DataFrame =
    packets
      .orderBy("apid", "seq_count")
      .select(
        format_string("0x%04X", col("apid")).as("apid_hex"),
        col("seq_count"),
        (col("data_length") + 1).as("data_bytes"),
        when(col("type_flag") === 1, "TC").otherwise("TM").as("packet_type"),
        col("sec_hdr_flag"))
      .limit(maxPackets)
}
