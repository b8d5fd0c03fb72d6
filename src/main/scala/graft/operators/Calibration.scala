package graft.operators

import graft.telemetry.CalibrationEntry
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftShims.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Calibration: rewrite eng_value per parameter from config-side entries.
  *
  * Reference semantics (/root/reference/src/mdp/plugins/transformers/
  * calibration.py:54-132): polynomial eng = Σ cᵢ·rawⁱ; table = piecewise
  * linear interpolation clamped at both ends; identity = passthrough;
  * non-numeric raw values keep the original sample; the entry's unit
  * overrides the sample unit; calibration_id records the method.
  *
  * Like the reference's per-name dict, the entries become one
  * [[CalibrationTable]] and each row looks its name up once. Small
  * Catalyst expressions (the [[graft.telemetry.BinaryExpressions]] style)
  * call into the table from generated code, so the plan has the same
  * few nodes whatever the number of entries, and a row pays one hash
  * lookup instead of a chain of name compares. No UDF, join or shuffle.
  */
object Calibration {

  /** Scratch column for the row's table index, dropped on return. */
  private val IndexColumn = "__calibration_index"

  /** Apply entries to a long-format sample frame. When two entries name
    * the same parameter, the last one wins for all three columns.
    */
  def apply(samples: DataFrame, entries: Seq[CalibrationEntry]): DataFrame = {
    require(!samples.columns.contains(IndexColumn),
      s"calibration: input already has column $IndexColumn")
    val table = CalibrationTable(entries)
    val index = expression(col(IndexColumn))
    def typed(name: String, t: DataType) = expression(col(name).cast(t))
    samples
      .withColumn(IndexColumn, column(CalibrationIndex(
        typed("name", StringType), typed("raw_value", DoubleType), table)))
      .withColumns(Map(
        "eng_value" -> column(CalibratedEng(
          index, typed("raw_value", DoubleType), typed("eng_value", DoubleType), table)),
        "unit" -> column(CalibratedUnit(index, typed("unit", StringType), table)),
        "calibration_id" -> column(CalibrationId(
          index, typed("calibration_id", StringType), table))))
      .drop(IndexColumn)
  }
}

/** The entries as arrays indexed by one `UTF8String → index` map, built
  * once on the driver and shipped with the plan. The last entry per name
  * wins. A table keeps only the segments with `x1 != x0`, each with its
  * slope `(y1 − y0) / (x1 − x0)` precomputed.
  */
final class CalibrationTable private (
    index: java.util.HashMap[UTF8String, Integer],
    kinds: Array[Int],
    coefficients: Array[Array[Double]],
    firstX: Array[Double], firstY: Array[Double], lastY: Array[Double],
    segX0: Array[Array[Double]], segX1: Array[Array[Double]],
    segY0: Array[Array[Double]], segSlope: Array[Array[Double]],
    units: Array[UTF8String], ids: Array[UTF8String]) extends Serializable {
  import CalibrationTable._

  /** The entry's index for `name`, or -1 when there is none. */
  def lookup(name: UTF8String): Int = {
    val i = index.get(name)
    if (i == null) -1 else i.intValue
  }

  /** Calibrated value of `raw` under entry `i`. */
  def eng(i: Int, raw: Double): Double = kinds(i) match {
    case Polynomial => // Horner, highest coefficient first
      val c = coefficients(i)
      var acc = c(c.length - 1)
      var k = c.length - 2
      while (k >= 0) { acc = acc * raw + c(k); k -= 1 }
      acc
    case Table =>
      if (raw <= firstX(i)) firstY(i)
      else {
        // the first segment with raw < x1; NaN matches none
        val x1 = segX1(i)
        var k = 0
        while (k < x1.length && !(raw < x1(k))) k += 1
        if (k < x1.length) segY0(i)(k) + (raw - segX0(i)(k)) * segSlope(i)(k)
        else lastY(i)
      }
    case _ => raw
  }

  /** Entry `i`'s unit, or null when it sets none. */
  def unit(i: Int): UTF8String = units(i)

  /** Entry `i`'s method name, the row's calibration_id. */
  def id(i: Int): UTF8String = ids(i)

  override def toString: String = s"CalibrationTable(${kinds.length} entries)"
}

object CalibrationTable {
  private final val Passthrough = 0
  private final val Polynomial = 1
  private final val Table = 2

  def apply(entries: Seq[CalibrationEntry]): CalibrationTable = {
    val last = entries.groupBy(_.parameter_name).values.map(_.last).toArray
    val index = new java.util.HashMap[UTF8String, Integer]()
    last.indices.foreach(i => index.put(UTF8String.fromString(last(i).parameter_name), i))
    val kinds = last.map { e =>
      e.method match {
        case "polynomial" if e.coefficients.nonEmpty => Polynomial
        case "table" if e.table_raw.nonEmpty => Table
        case _ => Passthrough
      }
    }
    val segments = last.map { e =>
      e.table_raw.zip(e.table_eng).sliding(2).collect {
        case Seq((x0, y0), (x1, y1)) if x1 != x0 => (x0, x1, y0, (y1 - y0) / (x1 - x0))
      }.toArray
    }
    def orNaN(xs: Seq[Double], pick: Seq[Double] => Double) =
      if (xs.isEmpty) Double.NaN else pick(xs)
    new CalibrationTable(index, kinds,
      last.map(_.coefficients.toArray),
      last.map(e => orNaN(e.table_raw, _.head)),
      last.map(e => orNaN(e.table_eng, _.head)),
      last.map(e => orNaN(e.table_eng, _.last)),
      segments.map(_.map(_._1)), segments.map(_.map(_._2)),
      segments.map(_.map(_._3)), segments.map(_.map(_._4)),
      last.map(e => e.unit.map(UTF8String.fromString).orNull),
      last.map(e => UTF8String.fromString(e.method)))
  }
}

/** The row's entry index: -1 when the name has no entry or `raw_value`
  * is null (the reference's float(raw) guard, calibration.py:94-113).
  */
case class CalibrationIndex(name: Expression, raw: Expression, table: CalibrationTable)
    extends Expression {
  override def children: Seq[Expression] = Seq(name, raw)
  override def nullable: Boolean = false
  override def dataType: DataType = IntegerType

  override def eval(input: InternalRow): Any = {
    val n = name.eval(input)
    if (n == null || raw.eval(input) == null) -1
    else table.lookup(n.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("calibration", table, classOf[CalibrationTable].getName)
    val n = name.genCode(ctx)
    val r = raw.genCode(ctx)
    ev.copy(isNull = FalseLiteral, code = code"""
      ${n.code}
      ${r.code}
      int ${ev.value} = (${n.isNull} || ${r.isNull}) ? -1 : $ref.lookup(${n.value});
    """)
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(name = c(0), raw = c(1))
}

/** A column after calibration: the entry's value when the row's index
  * is set, else the column as it was.
  */
abstract class CalibratedColumn extends Expression {
  def table: CalibrationTable
  def index: Expression
  def old: Expression

  /** The value for entry `i`; null means "keep the old value". */
  protected def entryValue(i: Int, input: InternalRow): Any

  /** Java code that sets `value` (and `isNull`) for the entry `idx`. */
  protected def entryCode(ctx: CodegenContext, ref: String, idx: String, ev: ExprCode): String

  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val i = index.eval(input).asInstanceOf[Int]
    val v = if (i >= 0) entryValue(i, input) else null
    if (v != null) v else old.eval(input)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("calibration", table, classOf[CalibrationTable].getName)
    val i = index.genCode(ctx)
    val o = old.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${i.code}
      boolean ${ev.isNull} = true;
      $javaType ${ev.value} = ${CodeGenerator.defaultValue(dataType)};
      if (${i.value} >= 0) {
        ${entryCode(ctx, ref, i.value.toString, ev)}
      }
      if (${ev.isNull}) {
        ${o.code}
        ${ev.isNull} = ${o.isNull};
        ${ev.value} = ${o.value};
      }
    """)
  }
}

/** eng_value: the entry's calibrated `raw`. */
case class CalibratedEng(
    index: Expression, raw: Expression, old: Expression, table: CalibrationTable)
    extends CalibratedColumn {
  override def children: Seq[Expression] = Seq(index, raw, old)
  override def dataType: DataType = DoubleType

  override protected def entryValue(i: Int, input: InternalRow): Any =
    table.eng(i, raw.eval(input).asInstanceOf[Double])

  override protected def entryCode(
      ctx: CodegenContext, ref: String, idx: String, ev: ExprCode): String = {
    val r = raw.genCode(ctx)
    s"""
      ${r.code}
      ${ev.isNull} = false;
      ${ev.value} = $ref.eng($idx, ${r.value});
    """
  }

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(index = c(0), raw = c(1), old = c(2))
}

/** unit: the entry's unit, else the sample's own. */
case class CalibratedUnit(index: Expression, old: Expression, table: CalibrationTable)
    extends CalibratedColumn {
  override def children: Seq[Expression] = Seq(index, old)
  override def dataType: DataType = StringType

  override protected def entryValue(i: Int, input: InternalRow): Any = table.unit(i)

  override protected def entryCode(
      ctx: CodegenContext, ref: String, idx: String, ev: ExprCode): String = s"""
      ${ev.value} = $ref.unit($idx);
      ${ev.isNull} = ${ev.value} == null;
    """

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(index = c(0), old = c(1))
}

/** calibration_id: the entry's method. */
case class CalibrationId(index: Expression, old: Expression, table: CalibrationTable)
    extends CalibratedColumn {
  override def children: Seq[Expression] = Seq(index, old)
  override def dataType: DataType = StringType

  override protected def entryValue(i: Int, input: InternalRow): Any = table.id(i)

  override protected def entryCode(
      ctx: CodegenContext, ref: String, idx: String, ev: ExprCode): String = s"""
      ${ev.isNull} = false;
      ${ev.value} = $ref.id($idx);
    """

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Expression =
    copy(index = c(0), old = c(1))
}
