package graft.spark.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{BinaryType, DataType}

import graft.sketch.{Mergeable, SketchFormat}

/** `<name>_merge(buffers)` — the union aggregate over already-serialized
  * sketch buffers of one family, named by its `format`. It is the second
  * level of two-level (salted) aggregation: level 1 builds partial
  * sketches per (key, salt), level 2 merges the binaries per key. Because
  * every sketch merge is associative+commutative, the two-level result is
  * byte-identical (Bloom/HLL/CMS) to a single-level aggregation — the
  * skew-handling pattern the north rule requires, with correctness
  * guaranteed by the merge contract rather than by luck.
  *
  * The buffer starts empty (None) and adopts the config of the first
  * sketch it sees; mismatched configs fail loudly via the sketch's own
  * compatibility check. Null inputs are skipped; no non-null input
  * yields null.
  */
case class SketchMergeAgg[S <: Mergeable[S]](
    child: Expression,
    format: SketchFormat[S],
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Option[S]] {

  override def prettyName: String = s"${format.name}_merge"
  // plans print `hll_merge(p#1, 0, 0)`: the name already says the format
  override protected def stringArgs: Iterator[Any] =
    Iterator(child, mutableAggBufferOffset, inputAggBufferOffset)
  override def children: Seq[Expression] = Seq(child)
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName merges serialized ${format.name} buffers (binary), got ${other.catalogString}")
  }
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true

  override def createAggregationBuffer(): Option[S] = None

  override def update(buffer: Option[S], input: InternalRow): Option[S] = {
    val v = child.eval(input)
    if (v == null) buffer
    else merge(buffer, Some(format.deserialize(v.asInstanceOf[Array[Byte]])))
  }

  override def merge(buffer: Option[S], other: Option[S]): Option[S] =
    (buffer, other) match {
      case (Some(a), Some(b)) => Some(a.merge(b))
      case (a, None) => a
      case (None, b) => b
    }

  override def eval(buffer: Option[S]): Any = buffer.map(_.serialize()).orNull

  override def serialize(buffer: Option[S]): Array[Byte] =
    buffer.map(_.serialize()).getOrElse(Array.emptyByteArray)

  override def deserialize(bytes: Array[Byte]): Option[S] =
    if (bytes.isEmpty) None else Some(format.deserialize(bytes))

  override def withNewMutableAggBufferOffset(o: Int): SketchMergeAgg[S] =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): SketchMergeAgg[S] =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): SketchMergeAgg[S] =
    copy(child = c.head)
}
