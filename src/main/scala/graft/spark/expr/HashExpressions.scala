package graft.spark.expr

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

import graft.core.hash.{HashKernel64, HashKernels, SeededHashKernel}
import graft.spark.agg.ValueBytes

/** Per-row hash projections over the engine's kernels — the Spark face of
  * the reference's `LongHash` SPI (`LongHash.java:24-48`). These are
  * native Catalyst expressions (not UDFs): `doGenCode` emits a direct
  * kernel call against a codegen reference object, so the projection
  * stays inside whole-stage codegen.
  *
  * Input may be string (hashed as UTF-8 bytes, exactly like the
  * reference's String overloads), binary, or any integral/date/boolean
  * type — those canonicalize to 8-byte big-endian EXACTLY like the sketch
  * aggregate/probe sides (ValueBytes), so `graft_hash64(key)` of a
  * bigint column and `bloom_might_contain` over the same column agree on
  * the hashed bytes.
  */
trait GraftHashExpression extends Expression {
  def kernelName: String

  /** The operand type checks, run once the kernel name has resolved. */
  protected def checkOperands(): TypeCheckResult

  /** Whether the expression calls the kernel's explicit-seed form. */
  protected def seeded: Boolean = false

  final override def checkInputDataTypes(): TypeCheckResult = {
    val k = ValueBytes.checkKernel(prettyName, kernelName, seeded)
    if (k.isFailure) k else checkOperands()
  }

  /** sketchable types accepted for hashed operands (see ValueBytes). */
  protected final def checkHashable(dt: DataType, pos: String): TypeCheckResult =
    ValueBytes.checkSketchable(prettyName, dt) match {
      case TypeCheckResult.TypeCheckSuccess => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string, binary, integral, date or boolean " +
          s"$pos argument, got ${dt.catalogString}")
    }

  protected final def checkExact(dt: DataType, want: DataType, pos: String): TypeCheckResult =
    if (dt == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${want.catalogString} for $pos argument, got ${dt.catalogString}")

  @transient protected final lazy val kernel: HashKernel64 = HashKernels(kernelName)

  /** The explicit-seed form; checkInputDataTypes has made sure it exists. */
  @transient protected final lazy val seededKernel: SeededHashKernel =
    kernel.asInstanceOf[SeededHashKernel]

  protected final def childBytes(value: Any, dt: DataType): Array[Byte] =
    ValueBytes.toBytes(value, dt)

  /** Codegen snippet turning the child's generated value into byte[]
    * (mirror of ValueBytes.toBytes over codegen's physical types). */
  protected final def bytesCode(childValue: String, dt: DataType): String = dt match {
    case StringType => s"$childValue.getBytes()"
    case BinaryType => childValue
    case LongType | TimestampType => s"$LongBytes($childValue)"
    case IntegerType | DateType | ShortType | ByteType => s"$LongBytes((long) $childValue)"
    case BooleanType => s"$LongBytes($childValue ? 1L : 0L)"
    case other => throw new IllegalStateException(s"unsupported input type $other")
  }

  // the static forwarder Scala emits for the top-level object's method
  private final val LongBytes = "graft.spark.agg.ValueBytes.longBytes"
}

/** `graft_hash64(input)` — the kernel's default-seed 64-bit code. */
case class GraftHash64(child: Expression, kernelName: String)
    extends UnaryExpression with GraftHashExpression {

  override protected def checkOperands(): TypeCheckResult = checkHashable(child.dataType, "first")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_hash64_$kernelName"

  override protected def nullSafeEval(input: Any): Any =
    kernel.hash64(childBytes(input, child.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("kernel", kernel, classOf[HashKernel64].getName)
    defineCodeGen(ctx, ev, c => s"$kernelRef.hash64(${bytesCode(c, child.dataType)})")
  }

  override protected def withNewChildInternal(newChild: Expression): GraftHash64 =
    copy(child = newChild)
}

/** `graft_hash32(input)` — the kernel's default-seed 32-bit code. */
case class GraftHash32(child: Expression, kernelName: String)
    extends UnaryExpression with GraftHashExpression {

  override protected def checkOperands(): TypeCheckResult = checkHashable(child.dataType, "first")
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_hash32_$kernelName"

  override protected def nullSafeEval(input: Any): Any =
    kernel.hash32(childBytes(input, child.dataType))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("kernel", kernel, classOf[HashKernel64].getName)
    defineCodeGen(ctx, ev, c => s"$kernelRef.hash32(${bytesCode(c, child.dataType)})")
  }

  override protected def withNewChildInternal(newChild: Expression): GraftHash32 =
    copy(child = newChild)
}

/** `graft_hash64_seeded(input, seed)` — explicit-seed Murmur-style hash;
  * only a [[SeededHashKernel]] supports this (murmur2, jenkins, cwow
  * use seed-by-index; fnv/hsieh chain, where `seed` is the chain state),
  * and any other kernel name fails analysis. */
case class GraftHash64Seeded(left: Expression, right: Expression, kernelName: String)
    extends BinaryExpression with GraftHashExpression {

  override protected def checkOperands(): TypeCheckResult = {
    val first = checkHashable(left.dataType, "first")
    if (first.isFailure) first else checkExact(right.dataType, LongType, "second")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_hash64_seeded_$kernelName"

  override protected def seeded: Boolean = true

  override protected def nullSafeEval(input: Any, seed: Any): Any =
    seededKernel.hash64Seeded(childBytes(input, left.dataType), seed.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("kernel", seededKernel, classOf[SeededHashKernel].getName)
    defineCodeGen(ctx, ev,
      (a, b) => s"$kernelRef.hash64Seeded(${bytesCode(a, left.dataType)}, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftHash64Seeded =
    copy(left = l, right = r)
}

/** `graft_hash32_seeded(input, seed)` — explicit-seed 32-bit hash; the
  * int-family counterpart of `graft_hash64_seeded` (`LongHash.java:44-48`
  * exposes the full int family alongside the long one). */
case class GraftHash32Seeded(left: Expression, right: Expression, kernelName: String)
    extends BinaryExpression with GraftHashExpression {

  override protected def checkOperands(): TypeCheckResult = {
    val first = checkHashable(left.dataType, "first")
    if (first.isFailure) first else checkExact(right.dataType, IntegerType, "second")
  }
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_hash32_seeded_$kernelName"

  override protected def seeded: Boolean = true

  override protected def nullSafeEval(input: Any, seed: Any): Any =
    seededKernel.hash32Seeded(childBytes(input, left.dataType), seed.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("kernel", seededKernel, classOf[SeededHashKernel].getName)
    defineCodeGen(ctx, ev,
      (a, b) => s"$kernelRef.hash32Seeded(${bytesCode(a, left.dataType)}, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftHash32Seeded =
    copy(left = l, right = r)
}

/** `graft_hash32_k(input, k)` — 32-bit k-vector multi-hash, the Spark
  * face of `LongHash.getIntHashCodes` (`LongHash.java:44-48`); preserves
  * each kernel's scheme (seed-by-index, chained, or PRNG-stream). */
case class GraftHash32K(left: Expression, right: Expression, kernelName: String)
    extends BinaryExpression with GraftHashExpression {

  override protected def checkOperands(): TypeCheckResult = {
    val first = checkHashable(left.dataType, "first")
    if (first.isFailure) first else checkExact(right.dataType, IntegerType, "second")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_hash32_k_$kernelName"

  def compute(data: Array[Byte], k: Int): GenericArrayData =
    new GenericArrayData(kernel.hash32K(data, k))

  override protected def nullSafeEval(input: Any, k: Any): Any =
    compute(childBytes(input, left.dataType), k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("h32kExpr", this, classOf[GraftHash32K].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute(${bytesCode(a, left.dataType)}, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftHash32K =
    copy(left = l, right = r)
}

/** `graft_hash64_k(input, k)` — the kernel's k-vector multi-hash
  * (`LongHash.getLongHashCodes`), preserving the per-algorithm scheme.
  * Prefer looping inside sketch aggregates; this exists for SQL users and
  * tests. k must be foldable. */
case class GraftHash64K(left: Expression, right: Expression, kernelName: String)
    extends BinaryExpression with GraftHashExpression {

  override protected def checkOperands(): TypeCheckResult = {
    val first = checkHashable(left.dataType, "first")
    if (first.isFailure) first else checkExact(right.dataType, IntegerType, "second")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = s"graft_hash64_k_$kernelName"

  def compute(data: Array[Byte], k: Int): GenericArrayData =
    new GenericArrayData(kernel.hash64K(data, k))

  override protected def nullSafeEval(input: Any, k: Any): Any =
    compute(childBytes(input, left.dataType), k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("h64kExpr", this, classOf[GraftHash64K].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute(${bytesCode(a, left.dataType)}, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftHash64K =
    copy(left = l, right = r)
}
