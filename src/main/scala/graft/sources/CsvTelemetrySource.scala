package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CSV telemetry extractor (reference
  * /root/reference/src/mdp/plugins/extractors/csv.py:42-98): wide CSV with
  * required `time`/`apid`/`seq_count` columns; every other (or each
  * configured) column is a parameter; unpivot to long samples; NaN/null
  * cells dropped; eng_value = raw_value until calibrated.
  *
  * Spark-first: one `spark.read.csv` + `unpivot` (melt) — chunked reading
  * disappears into partitions; the missing-column error becomes a schema
  * assertion at plan time.
  */
object CsvTelemetrySource {

  case class Options(
      timeColumn: String = "time",
      apidColumn: String = "apid",
      seqCountColumn: String = "seq_count",
      parameterColumns: Option[Seq[String]] = None,
      delimiter: String = ",")

  def readSamples(spark: SparkSession, path: String, opts: Options = Options()): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("delimiter", opts.delimiter)
      .csv(path)
    samplesFromWide(raw, opts)
  }

  /** Unpivot an already-loaded wide frame (also used by tests). */
  def samplesFromWide(raw: DataFrame, opts: Options = Options()): DataFrame = {
    val required = Seq(opts.timeColumn, opts.apidColumn, opts.seqCountColumn)
    val missing = required.filterNot(raw.columns.contains)
    require(missing.isEmpty, s"CSV missing required columns: ${missing.mkString(", ")}")

    val paramCols = opts.parameterColumns
      .getOrElse(raw.columns.toSeq.filterNot(required.contains))
    val unknown = paramCols.filterNot(raw.columns.contains)
    require(unknown.isEmpty, s"Unknown parameter columns: ${unknown.mkString(", ")}")

    raw
      .unpivot(
        ids = Array(col(opts.timeColumn), col(opts.apidColumn), col(opts.seqCountColumn)),
        values = paramCols.map(col).toArray,
        variableColumnName = "name",
        valueColumnName = "raw_value")
      .where(col("raw_value").isNotNull && !isnan(col("raw_value")))
      .select(
        col("name"),
        col(opts.apidColumn).cast("int").as("apid"),
        col(opts.seqCountColumn).cast("int").as("seq_count"),
        col(opts.timeColumn).cast("double").as("time_tai"),
        col("raw_value").cast("double").as("raw_value"),
        col("raw_value").cast("double").as("eng_value"),
        lit(null).cast("string").as("eng_value_str"),
        lit(null).cast("string").as("unit"),
        lit(true).as("validity"),
        lit(null).cast("string").as("calibration_id"),
        lit(false).as("out_of_limit"),
        lit(0).as("alarm_level"))
  }
}
