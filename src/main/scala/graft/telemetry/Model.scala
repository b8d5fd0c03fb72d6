package graft.telemetry

/** Data model for the CCSDS telemetry domain.
  *
  * Mirrors the reference's five abstractions (SURVEY.md §1.1;
  * /root/reference/src/mdp/models/packet.py:34-176,
  * parameter.py:26-77) re-expressed as Spark row schemas: packets and
  * parameter samples are DataFrame rows, not Python objects. Field names
  * are snake_case so they double as column names.
  */

/** One parsed CCSDS space packet (packet.py:92-176 flattened: the 7
  * primary-header fields + data field slices + provenance).
  */
case class PacketRow(
    version: Int,
    type_flag: Int,
    sec_hdr_flag: Int,
    apid: Int,
    seq_flags: Int,
    seq_count: Int,
    data_length: Int,
    secondary_header: Array[Byte],
    user_data: Array[Byte],
    source_time_tai: Option[Double],
    ground_receipt_time: Option[Double],
    source_id: Option[String])

/** One decommutated parameter sample in long format (parameter.py:26-66).
  * The reference's `RawValue`/`EngValue` union types become
  * `raw_value: Double` + `eng_value: Double` + `eng_value_str: String`
  * (the resolution its own HDF5 loader uses — hdf5.py:94-99).
  */
case class SampleRow(
    name: String,
    apid: Int,
    seq_count: Int,
    time_tai: Double,
    raw_value: Option[Double],
    eng_value: Option[Double],
    eng_value_str: Option[String],
    unit: Option[String],
    validity: Boolean,
    calibration_id: Option[String],
    out_of_limit: Boolean,
    alarm_level: Int)

/** Parameter value types (parameter.py:11-19). */
object ParameterType {
  val UINT = "uint"
  val INT = "int"
  val FLOAT = "float"
  val DOUBLE = "double"
  val BOOLEAN = "boolean"
  val ENUMERATED = "enumerated"
  val BINARY = "binary"
  val STRING = "string"
}

/** MIB-style parameter definition (decom.py:35-47): where a parameter
  * lives inside a given APID's user_data and how to decode it.
  */
case class ParameterDef(
    name: String,
    apid: Int,
    byte_offset: Int,
    bit_length: Int,
    param_type: String,
    unit: Option[String] = None,
    little_endian: Boolean = false,
    description: Option[String] = None)

/** Calibration spec for one parameter (calibration.py:29-66).
  * method: "polynomial" | "table" | "identity".
  */
case class CalibrationEntry(
    parameter_name: String,
    method: String = "identity",
    unit: Option[String] = None,
    coefficients: Seq[Double] = Nil,
    table_raw: Seq[Double] = Nil,
    table_eng: Seq[Double] = Nil) {
  require(
    table_raw.size == table_eng.size,
    s"table_raw/table_eng size mismatch for $parameter_name")
  // interpolation takes the first segment whose end exceeds raw, so an
  // unsorted table would silently pick the wrong one
  require(
    !table_raw.exists(_.isNaN) && table_raw.zip(table_raw.drop(1)).forall { case (a, b) => a <= b },
    s"table_raw for $parameter_name must be non-decreasing and free of NaN: " +
      table_raw.mkString("[", ", ", "]"))
}
