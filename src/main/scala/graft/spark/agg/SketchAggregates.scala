package graft.spark.agg

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.hash.{HashKernel64, HashKernels, SeededHashKernel}
import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch, Mergeable, SketchFormat, TDigestSketch}

/** Sketch-building aggregate functions, one per sketch family.
  *
  * Each is a [[SketchAgg]]: a `TypedImperativeAggregate` whose buffer IS
  * the sketch. Catalyst's partial/final split calls `update` per row on
  * the map side, `serialize`/`deserialize` across the exchange, and
  * `merge` on the reduce side — the sketch's own [[Mergeable]] contract
  * (the reference's `BloomFilter.putAll`, `BloomFilter.java:198-207`,
  * generalized), so a build aggregate only says how to create its sketch
  * and how one row updates it. Because every sketch's merge is
  * associative and commutative (and idempotent for Bloom/HLL), partial
  * aggregation is partition-order independent. [[SketchMergeAgg]] is the
  * one aggregate that unions already-serialized buffers of any family.
  *
  * Output is the serialized sketch (BinaryType); pair with the scalar
  * expressions (`hll_estimate`, `bloom_might_contain`, ...) to query it.
  *
  * Value canonicalization: strings hash as UTF-8 bytes (reference String
  * overload semantics); binary as-is; integral types as 8-byte big-endian.
  * The two weighted sketches (`cms_sketch_weighted`, `hh_sketch_weighted`)
  * share one integral-weight rule: `ValueBytes.checkWeight` and
  * `ValueBytes.weight`.
  */
private[spark] object ValueBytes {
  def checkSketchable(prettyName: String, dt: DataType): TypeCheckResult = dt match {
    case StringType | BinaryType | LongType | IntegerType | ShortType | ByteType |
        DateType | TimestampType | BooleanType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName cannot sketch values of type ${other.catalogString}")
  }

  /** The kernel name resolves to a kernel, one with an explicit-seed form
    * when `seeded`; otherwise the failure names it and lists the known ones. */
  def checkKernel(prettyName: String, kernelName: String, seeded: Boolean = false): TypeCheckResult = {
    val fits = (k: HashKernel64) => !seeded || k.isInstanceOf[SeededHashKernel]
    HashKernels.get(kernelName) match {
      case Some(k) if fits(k) => TypeCheckResult.TypeCheckSuccess
      case found =>
        val why = if (found.isEmpty) "unknown hash kernel" else "no seeded form for hash kernel"
        val kind = if (seeded) "seeded hash kernels" else "hash kernels"
        TypeCheckResult.TypeCheckFailure(s"$prettyName: $why '$kernelName'; known $kind: " +
          HashKernels.all.filter(fits).map(_.name).mkString(", "))
    }
  }

  def checkNumeric(prettyName: String, dt: DataType): TypeCheckResult = dt match {
    case _: NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires numeric input, got ${other.catalogString}")
  }

  def toBytes(v: Any, dt: DataType): Array[Byte] = dt match {
    case StringType => v.asInstanceOf[UTF8String].getBytes
    case BinaryType => v.asInstanceOf[Array[Byte]]
    case LongType | TimestampType => longBytes(v.asInstanceOf[Long])
    case IntegerType | DateType => longBytes(v.asInstanceOf[Int].toLong)
    case ShortType => longBytes(v.asInstanceOf[Short].toLong)
    case ByteType => longBytes(v.asInstanceOf[Byte].toLong)
    case BooleanType => longBytes(if (v.asInstanceOf[Boolean]) 1L else 0L)
    case other => throw new IllegalStateException(s"unsupported sketch input type $other")
  }

  /** A value's canonical 8-byte big-endian bytes; generated code calls it
    * too (`GraftHashExpression.bytesCode`). */
  def longBytes(v: Long): Array[Byte] = {
    val out = new Array[Byte](8)
    var i = 0
    while (i < 8) { out(i) = (v >>> (56 - 8 * i)).toByte; i += 1 }
    out
  }

  /** Integral weights only: byte, short, int or long. */
  def checkWeight(prettyName: String, weight: Option[Expression]): TypeCheckResult =
    weight.map(_.dataType) match {
      case None | Some(LongType | IntegerType | ShortType | ByteType) =>
        TypeCheckResult.TypeCheckSuccess
      case Some(other) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an integral weight, got ${other.catalogString}")
    }

  /** A row's weight; null reads as 0, so it is skipped with the
    * non-positive ones (the cash-register model: a negative update would
    * break the sketches' one-sided error bounds). */
  def weight(w: Any): Long = if (w == null) 0L else w.asInstanceOf[Number].longValue()

  def toDouble(v: Any, dt: DataType): Double = dt match {
    case DoubleType => v.asInstanceOf[Double]
    case FloatType => v.asInstanceOf[Float].toDouble
    case LongType | TimestampType => v.asInstanceOf[Long].toDouble
    case IntegerType | DateType => v.asInstanceOf[Int].toDouble
    case ShortType => v.asInstanceOf[Short].toDouble
    case ByteType => v.asInstanceOf[Byte].toDouble
    case _: DecimalType => v.asInstanceOf[Decimal].toDouble
    case other => throw new IllegalStateException(s"unsupported numeric input type $other")
  }
}

/** The members every sketch-building aggregate shares. `format` is an
  * abstract member, not a constructor parameter: Java serialization needs
  * a no-arg constructor on the first non-serializable superclass. */
abstract class SketchAgg[S <: Mergeable[S]] extends TypedImperativeAggregate[S] {
  protected def format: SketchFormat[S]
  def child: Expression

  override def children: Seq[Expression] = Seq(child)
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def merge(buffer: S, other: S): S = buffer.merge(other)
  override def eval(buffer: S): Any = buffer.serialize()
  override def serialize(buffer: S): Array[Byte] = buffer.serialize()
  override def deserialize(bytes: Array[Byte]): S = format.deserialize(bytes)
}

/** A sketch aggregate that hashes its values with a named kernel; the name
  * resolves at analysis, so a bad one fails the query before any job. */
abstract class HashedSketchAgg[S <: Mergeable[S]] extends SketchAgg[S] {
  def kernelName: String

  override def checkInputDataTypes(): TypeCheckResult = {
    val k = ValueBytes.checkKernel(prettyName, kernelName)
    if (k.isFailure) k else ValueBytes.checkSketchable(prettyName, child.dataType)
  }
}

/** `bloom_sketch(value, maxSize, bitsPerItem)` — reference-semantics Bloom. */
case class BloomAgg(
    child: Expression,
    maxSize: Long,
    bitsPerItem: Int,
    kernelName: String = "murmur2",
    longHash: Boolean = true,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashedSketchAgg[BloomSketch] {

  override protected def format: SketchFormat[BloomSketch] = BloomSketch
  override def prettyName: String = "bloom_sketch"

  override def createAggregationBuffer(): BloomSketch =
    BloomSketch(maxSize, bitsPerItem, HashKernels(kernelName), longHash)

  override def update(buffer: BloomSketch, input: InternalRow): BloomSketch = {
    val v = child.eval(input)
    if (v != null) buffer.put(ValueBytes.toBytes(v, child.dataType))
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): BloomAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): BloomAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): BloomAgg =
    copy(child = c.head)
}

/** `hll_sketch(value, p)` — HyperLogLog registers. */
case class HllAgg(
    child: Expression,
    p: Int,
    kernelName: String = "murmur2",
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashedSketchAgg[HllSketch] {

  override protected def format: SketchFormat[HllSketch] = HllSketch
  override def prettyName: String = "hll_sketch"

  override def createAggregationBuffer(): HllSketch =
    HllSketch(p, HashKernels(kernelName))

  override def update(buffer: HllSketch, input: InternalRow): HllSketch = {
    val v = child.eval(input)
    if (v != null) buffer.update(ValueBytes.toBytes(v, child.dataType))
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): HllAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HllAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HllAgg =
    copy(child = c.head)
}

/** `cms_sketch(value, depth, width)` — count-min counters. With
  * `weightExpr` set (`cms_sketch_weighted(key, weight, depth, width)`),
  * each row adds its integral weight instead of 1 (e.g. token counts per
  * document), so estimates bound sum(weight) per key; non-positive and
  * null weights are skipped (`ValueBytes.weight`). */
case class CmsAgg(
    child: Expression,
    depth: Int,
    width: Int,
    kernelName: String = "murmur2",
    weightExpr: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashedSketchAgg[CmsSketch] {

  override protected def format: SketchFormat[CmsSketch] = CmsSketch
  override def children: Seq[Expression] = child +: weightExpr.toSeq
  override def checkInputDataTypes(): TypeCheckResult = {
    val k = super.checkInputDataTypes()
    if (k.isFailure) k else ValueBytes.checkWeight(prettyName, weightExpr)
  }
  override def prettyName: String =
    if (weightExpr.isDefined) "cms_sketch_weighted" else "cms_sketch"
  // plans print the weight after the key, as `cms_sketch_weighted(k, w, ...)` reads
  override protected def stringArgs: Iterator[Any] = children.iterator ++
    Iterator(depth, width, kernelName, mutableAggBufferOffset, inputAggBufferOffset)

  override def createAggregationBuffer(): CmsSketch =
    CmsSketch(depth, width, HashKernels(kernelName))

  override def update(buffer: CmsSketch, input: InternalRow): CmsSketch = {
    val v = child.eval(input)
    if (v != null) weightExpr match {
      case None => buffer.update(ValueBytes.toBytes(v, child.dataType))
      case Some(we) =>
        val weight = ValueBytes.weight(we.eval(input))
        if (weight > 0) buffer.update(ValueBytes.toBytes(v, child.dataType), weight)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): CmsAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CmsAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): CmsAgg =
    copy(child = c.head, weightExpr = c.lift(1))
}

/** `kll_sketch(value, k)` — KLL quantile compactors over numeric input. */
case class KllAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[KllSketch] {

  override protected def format: SketchFormat[KllSketch] = KllSketch
  override def checkInputDataTypes(): TypeCheckResult =
    ValueBytes.checkNumeric(prettyName, child.dataType)
  override def prettyName: String = "kll_sketch"

  override def createAggregationBuffer(): KllSketch = KllSketch(k)

  override def update(buffer: KllSketch, input: InternalRow): KllSketch = {
    val v = child.eval(input)
    if (v != null) {
      val d = ValueBytes.toDouble(v, child.dataType)
      // NaN is skipped like null — one NaN would otherwise poison the
      // quantile structure (matches percentile-style user expectations)
      if (!java.lang.Double.isNaN(d)) buffer.update(d)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): KllAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): KllAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): KllAgg =
    copy(child = c.head)
}

/** `tdigest_sketch(value, compression)` — merging t-digest over numeric
  * input (Dunning & Ertl); strong tail-quantile accuracy. */
case class TDigestAgg(
    child: Expression,
    compression: Double,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[TDigestSketch] {

  override protected def format: SketchFormat[TDigestSketch] = TDigestSketch
  override def checkInputDataTypes(): TypeCheckResult =
    ValueBytes.checkNumeric(prettyName, child.dataType)
  override def prettyName: String = "tdigest_sketch"

  override def createAggregationBuffer(): TDigestSketch = TDigestSketch(compression)

  override def update(buffer: TDigestSketch, input: InternalRow): TDigestSketch = {
    val v = child.eval(input)
    if (v != null) {
      val d = ValueBytes.toDouble(v, child.dataType)
      if (!java.lang.Double.isNaN(d)) buffer.update(d) // NaN skipped like null
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): TDigestAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TDigestAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): TDigestAgg =
    copy(child = c.head)
}

/** `hh_sketch(value, capacity)` — SpaceSaving heavy hitters over strings.
  * With `weightExpr` set (hh_sketch_weighted), each row adds its integral
  * weight instead of 1 — e.g. heavy hitters by TOKEN volume, not document
  * count; non-positive and null weights are skipped (`ValueBytes.weight`). */
case class HeavyHittersAgg(
    child: Expression,
    capacity: Int,
    weightExpr: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends SketchAgg[HeavyHittersSketch] {

  override protected def format: SketchFormat[HeavyHittersSketch] = HeavyHittersSketch
  override def children: Seq[Expression] = child +: weightExpr.toSeq
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => ValueBytes.checkWeight(prettyName, weightExpr)
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${other.catalogString}")
  }
  override def prettyName: String =
    if (weightExpr.isDefined) "hh_sketch_weighted" else "hh_sketch"

  override def createAggregationBuffer(): HeavyHittersSketch =
    HeavyHittersSketch(capacity)

  override def update(buffer: HeavyHittersSketch, input: InternalRow): HeavyHittersSketch = {
    val v = child.eval(input)
    if (v != null) weightExpr match {
      case None => buffer.update(v.asInstanceOf[UTF8String].toString)
      case Some(we) =>
        val weight = ValueBytes.weight(we.eval(input))
        if (weight > 0) buffer.update(v.asInstanceOf[UTF8String].toString, weight)
    }
    buffer
  }

  override def withNewMutableAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): HeavyHittersAgg =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): HeavyHittersAgg =
    copy(child = c.head, weightExpr = c.lift(1))
}
