package graft.operators

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.ImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The wide export's aggregate: for each of `slots`, the `eng_value` of
  * the row that `max(struct(seq_count, eng_value))` over that slot's rows
  * elects. The highest `seq_count` wins; on equal `seq_count` the greater
  * value wins under Spark's double ordering (NaN greatest, null least), and
  * a null `seq_count` ranks below every number. A row whose name is not a
  * slot is ignored. Like `max`, a tie keeps the row already held.
  *
  * One aggregate serves every slot, so a row costs one `UTF8String → index`
  * lookup (as in [[CalibrationTable]]) and touches only its own slot, where
  * a `pivot` evaluates one conditional per slot. The buffer is a nullable
  * (seq_count, eng_value) pair of primitives per slot, which Spark can keep
  * in a `HashAggregate`. An empty slot is the pair (null, null): the least
  * element of the order, so it needs no flag of its own.
  *
  * The result is a struct with one double field per slot, in slot order; a
  * null slot, as `pivot` discovers it, holds the rows whose name is null.
  */
case class PivotLastWins(
    name: Expression,
    seqCount: Expression,
    engValue: Expression,
    slots: Seq[String],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends ImperativeAggregate with TernaryLike[Expression] {

  override def first: Expression = name
  override def second: Expression = seqCount
  override def third: Expression = engValue
  override def prettyName: String = "pivot_last_wins"
  override def nullable: Boolean = false
  override def dataType: DataType =
    StructType(slots.map(s => StructField(String.valueOf(s), DoubleType)))

  override def checkInputDataTypes(): TypeCheckResult = {
    def wrong(column: String, e: Expression, want: String) =
      Some(TypeCheckFailure(s"$prettyName: `$column` must be $want, not ${e.dataType.sql}"))
    val failure =
      if (name.dataType != StringType) wrong("name", name, "STRING")
      else if (!Seq(ByteType, ShortType, IntegerType, LongType).contains(seqCount.dataType))
        wrong("seq_count", seqCount, "an integral type")
      else if (engValue.dataType != DoubleType) wrong("eng_value", engValue, "DOUBLE")
      else None
    failure.getOrElse(TypeCheckSuccess)
  }

  override lazy val aggBufferAttributes: Seq[AttributeReference] =
    slots.indices.flatMap(i => Seq(
      AttributeReference(s"seq_count_$i", LongType)(),
      AttributeReference(s"eng_value_$i", DoubleType)()))
  override lazy val inputAggBufferAttributes: Seq[AttributeReference] =
    aggBufferAttributes.map(_.newInstance())
  override def aggBufferSchema: StructType = DataTypeUtils.fromAttributes(aggBufferAttributes)

  @transient private lazy val index: java.util.HashMap[UTF8String, Integer] = {
    val m = new java.util.HashMap[UTF8String, Integer]()
    slots.indices.foreach(i => if (slots(i) != null) m.put(UTF8String.fromString(slots(i)), i))
    m
  }
  @transient private lazy val nullSlot: Int = slots.indexOf(null)

  override def initialize(buffer: InternalRow): Unit =
    (0 until 2 * slots.size).foreach(i => buffer.setNullAt(mutableAggBufferOffset + i))

  override def update(buffer: InternalRow, input: InternalRow): Unit = {
    val n = name.eval(input)
    val slot =
      if (n == null) nullSlot
      else {
        val i = index.get(n.asInstanceOf[UTF8String])
        if (i == null) -1 else i.intValue
      }
    if (slot >= 0) {
      val s = seqCount.eval(input)
      val v = engValue.eval(input)
      offer(buffer, mutableAggBufferOffset + 2 * slot,
        s == null, if (s == null) 0L else s.asInstanceOf[Number].longValue,
        v == null, if (v == null) 0.0 else v.asInstanceOf[Double])
    }
  }

  override def merge(buffer: InternalRow, input: InternalRow): Unit =
    slots.indices.foreach { i =>
      val at = inputAggBufferOffset + 2 * i
      offer(buffer, mutableAggBufferOffset + 2 * i,
        input.isNullAt(at), input.getLong(at), input.isNullAt(at + 1), input.getDouble(at + 1))
    }

  /** Replaces the pair at `at` with the candidate when the candidate is
    * strictly greater in (seq_count, eng_value) order.
    */
  private def offer(buffer: InternalRow, at: Int,
      seqNull: Boolean, seq: Long, valueNull: Boolean, value: Double): Unit = {
    val heldSeqNull = buffer.isNullAt(at)
    val heldValueNull = buffer.isNullAt(at + 1)
    val bySeq =
      if (seqNull || heldSeqNull) java.lang.Boolean.compare(!seqNull, !heldSeqNull)
      else java.lang.Long.compare(seq, buffer.getLong(at))
    val wins = bySeq > 0 || bySeq == 0 && {
      if (valueNull || heldValueNull) !valueNull && heldValueNull
      else SQLOrderingUtil.compareDoubles(value, buffer.getDouble(at + 1)) > 0
    }
    if (wins) {
      if (seqNull) buffer.setNullAt(at) else buffer.setLong(at, seq)
      if (valueNull) buffer.setNullAt(at + 1) else buffer.setDouble(at + 1, value)
    }
  }

  override def eval(buffer: InternalRow): Any =
    new GenericInternalRow(Array.tabulate[Any](slots.size) { i =>
      val at = mutableAggBufferOffset + 2 * i + 1
      if (buffer.isNullAt(at)) null else buffer.getDouble(at)
    })

  override def withNewMutableAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(mutableAggBufferOffset = offset)

  override def withNewInputAggBufferOffset(offset: Int): ImperativeAggregate =
    copy(inputAggBufferOffset = offset)

  override protected def withNewChildrenInternal(
      newName: Expression, newSeqCount: Expression, newEngValue: Expression): PivotLastWins =
    copy(name = newName, seqCount = newSeqCount, engValue = newEngValue)

  override def toString: String =
    s"$prettyName($name, $seqCount, $engValue, ${slots.size} slots)"
}
