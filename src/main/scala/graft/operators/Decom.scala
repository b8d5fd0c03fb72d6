package graft.operators

import graft.telemetry.{BinaryExpressions, ParameterDef, ParameterType}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Decommutation: packet rows × MIB parameter definitions → long-format
  * parameter samples.
  *
  * Reference semantics (/root/reference/src/mdp/plugins/transformers/
  * decom.py:61-131): per packet, every definition matching its APID yields
  * one sample; out-of-bounds fields are skipped; sample time is
  * source_time_tai falling back to float(seq_count); BINARY params get a
  * hex-string eng value; unknown APIDs are skipped (or, with
  * skipUnknownApids=false, rejected).
  *
  * Spark-first shape: the MIB is a broadcast-joined dimension (the
  * reference's per-APID dict lookup), and the 1→N fan-out is the join
  * multiplicity itself — one scan of the packets, no explode needed, fully
  * codegen (the field decode is a native Catalyst expression driven by the
  * joined offset/width/type columns). At 100 TB the packet side stays
  * partition-local: broadcasting the (config-sized) MIB means no shuffle.
  */
object Decom {

  def apply(packets: DataFrame, defs: Seq[ParameterDef],
            skipUnknownApids: Boolean = true): DataFrame = {
    import packets.sparkSession.implicits._
    // Strict mode rejects packets whose APID has no definitions
    // (decom.py:74-77). The check is IN-PLAN (raise_error inside the
    // apid projection, which the join consumes so it cannot be pruned):
    // building the pipeline stays zero Spark jobs, and the error
    // surfaces at the pipeline's single sink action instead of an
    // eager distinct+collect job per construction.
    val checked =
      if (skipUnknownApids) packets
      else {
        val known = defs.map(_.apid).distinct
        packets.withColumn("apid",
          when(col("apid").isin(known: _*), col("apid"))
            .otherwise(raise_error(format_string(
              "No parameter definitions for APID 0x%04X", col("apid")))))
      }
    val mib = broadcast(defs.toDF()
      .withColumnRenamed("name", "param_name")
      .withColumnRenamed("unit", "param_unit"))

    val joined = checked.join(mib, "apid") // inner join = skip unknown APIDs
    val rawNum = BinaryExpressions.readBinaryNumber(
      col("user_data"), col("byte_offset"), col("bit_length"),
      col("param_type"), col("little_endian"))
    val rawStr = BinaryExpressions.readBinaryString(
      col("user_data"), col("byte_offset"), col("bit_length"),
      col("param_type"), col("little_endian"))
    // BINARY eng value = hex of the raw slice (decom.py:100); offsets are
    // 1-based in SQL substring.
    val rawHex = lower(hex(expr(
      "substring(user_data, byte_offset + 1, (bit_length + 7) div 8)")))
    val isStr = col("param_type") === ParameterType.STRING
    val isBin = col("param_type") === ParameterType.BINARY
    val inBounds =
      col("byte_offset") + (col("bit_length") + 7).divide(8).cast("int") <= length(col("user_data"))

    joined
      .where(when(isStr || isBin, inBounds).otherwise(rawNum.isNotNull))
      .select(
        col("param_name").as("name"),
        col("apid"),
        col("seq_count"),
        coalesce(col("source_time_tai"), col("seq_count").cast("double")).as("time_tai"),
        when(!isStr && !isBin, rawNum).as("raw_value"),
        when(!isStr && !isBin, rawNum).as("eng_value"),
        when(isStr, rawStr).when(isBin, rawHex).as("eng_value_str"),
        col("param_unit").as("unit"),
        lit(true).as("validity"),
        lit(null).cast("string").as("calibration_id"),
        lit(false).as("out_of_limit"),
        lit(0).as("alarm_level"))
  }
}
