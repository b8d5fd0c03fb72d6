package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** JSON-lines document ingestion — the de-facto interchange format of
  * web-corpus / training-data pipelines (one JSON object per line).
  *
  * Read side always takes an EXPLICIT schema: schema inference on JSON
  * is a full extra pass over the data (at 100 TB, a second 100 TB
  * scan), and silently widens types on dirty data. With the schema
  * pinned the scan is single-pass, splittable (newline-delimited), and
  * column-pruned — the JSON parser only materializes requested fields.
  *
  * `mode=PERMISSIVE` + `columnNameOfCorruptRecord` keeps malformed
  * lines as rows with a populated `_corrupt` column instead of failing
  * the job — corrupt-rate is a per-batch data-quality metric, not an
  * exception, at corpus scale.
  */
object JsonlSource {

  /** The documents-table schema (TESTDATA.md). */
  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType)))

  /** Read newline-delimited JSON with a pinned schema; malformed lines
    * land in `_corrupt` (null for clean rows).
    */
  def read(spark: SparkSession, path: String,
           schema: StructType = documentsSchema): DataFrame =
    spark.read
      .schema(schema.add("_corrupt", StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)

  /** Write a DataFrame as JSONL (one object per line, JSON-escaped —
    * embedded newlines in values cannot break line framing), through
    * the sinks' fork-free local file system.
    */
  def write(df: DataFrame, path: String): Unit =
    graft.sinks.Sinks.writer(df).mode("overwrite").json(path)
}
