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

  /** 64 or 32: the code's width, which also fixes the seed's type. */
  def width: Int

  /** The SQL name's shape between the width and the kernel: "", "_seeded" or "_k". */
  protected def shape: String

  final override def prettyName: String = s"graft_hash$width${shape}_$kernelName"
  final override def nullIntolerant: Boolean = true

  // plan strings name the operands and the kernel; the width is in the name
  final override protected def stringArgs: Iterator[Any] = children.iterator ++ Iterator(kernelName)

  /** The code type: bigint at width 64, int at width 32. */
  protected final def codeType: DataType = if (width == 64) LongType else IntegerType

  protected final def requireWidth(): Unit =
    require(width == 64 || width == 32, s"hash width must be 64 or 32, got $width")

  /** The operand type checks, run once the kernel name has resolved. */
  protected def checkOperands(): TypeCheckResult

  /** Whether the expression calls the kernel's explicit-seed form. */
  protected def seeded: Boolean = false

  final override def checkInputDataTypes(): TypeCheckResult = {
    val k = ValueBytes.checkKernel(prettyName, kernelName, seeded)
    if (k.isFailure) k else checkOperands()
  }

  /** sketchable types accepted for the hashed (first) operand (see ValueBytes). */
  protected final def checkHashable(dt: DataType): TypeCheckResult =
    ValueBytes.checkSketchable(prettyName, dt) match {
      case TypeCheckResult.TypeCheckSuccess => TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string, binary, integral, date or boolean " +
          s"first argument, got ${dt.catalogString}")
    }

  /** A hashable first argument and a second argument of exactly `want`. */
  protected final def checkHashableAnd(first: DataType, second: DataType, want: DataType)
      : TypeCheckResult = {
    val h = checkHashable(first)
    if (h.isFailure) h
    else if (second == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${want.catalogString} for second argument, got ${second.catalogString}")
  }

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

/** `graft_hash<w>(input)` — the kernel's default-seed code, bigint at
  * width 64 and int at width 32. */
case class GraftHash(child: Expression, kernelName: String, width: Int)
    extends UnaryExpression with GraftHashExpression {
  requireWidth()

  override protected def shape: String = ""
  override protected def checkOperands(): TypeCheckResult = checkHashable(child.dataType)
  override def dataType: DataType = codeType

  override protected def nullSafeEval(input: Any): Any = {
    val bytes = childBytes(input, child.dataType)
    if (width == 64) kernel.hash64(bytes) else kernel.hash32(bytes)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("kernel", kernel, classOf[HashKernel64].getName)
    defineCodeGen(ctx, ev, c => s"$kernelRef.hash$width(${bytesCode(c, child.dataType)})")
  }

  override protected def withNewChildInternal(newChild: Expression): GraftHash =
    copy(child = newChild)
}

/** `graft_hash<w>_seeded(input, seed)` — the explicit-seed code; the seed
  * is bigint at width 64 and int at width 32 (`LongHash.java:44-48`
  * exposes the int family alongside the long one). Only a
  * [[SeededHashKernel]] supports this (murmur2, jenkins, cwow use
  * seed-by-index; fnv/hsieh chain, where `seed` is the chain state), and
  * any other kernel name fails analysis. */
case class GraftHashSeeded(left: Expression, right: Expression, kernelName: String, width: Int)
    extends BinaryExpression with GraftHashExpression {
  requireWidth()

  override protected def shape: String = "_seeded"
  override protected def seeded: Boolean = true
  override protected def checkOperands(): TypeCheckResult =
    checkHashableAnd(left.dataType, right.dataType, codeType)
  override def dataType: DataType = codeType

  override protected def nullSafeEval(input: Any, seed: Any): Any = {
    val bytes = childBytes(input, left.dataType)
    if (width == 64) seededKernel.hash64Seeded(bytes, seed.asInstanceOf[Long])
    else seededKernel.hash32Seeded(bytes, seed.asInstanceOf[Int])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val kernelRef = ctx.addReferenceObj("kernel", seededKernel, classOf[SeededHashKernel].getName)
    defineCodeGen(ctx, ev,
      (a, b) => s"$kernelRef.hash${width}Seeded(${bytesCode(a, left.dataType)}, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftHashSeeded =
    copy(left = l, right = r)
}

/** `graft_hash<w>_k(input, k)` — the kernel's k-vector multi-hash
  * (`LongHash.getLongHashCodes`/`getIntHashCodes`), preserving each
  * kernel's scheme (seed-by-index, chained, or PRNG-stream); k is int at
  * both widths. Prefer looping inside sketch aggregates; this exists for
  * SQL users and tests. */
case class GraftHashK(left: Expression, right: Expression, kernelName: String, width: Int)
    extends BinaryExpression with GraftHashExpression {
  requireWidth()

  override protected def shape: String = "_k"
  override protected def checkOperands(): TypeCheckResult =
    checkHashableAnd(left.dataType, right.dataType, IntegerType)
  override def dataType: DataType = ArrayType(codeType, containsNull = false)

  def compute(data: Array[Byte], k: Int): GenericArrayData =
    if (width == 64) new GenericArrayData(kernel.hash64K(data, k))
    else new GenericArrayData(kernel.hash32K(data, k))

  override protected def nullSafeEval(input: Any, k: Any): Any =
    compute(childBytes(input, left.dataType), k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj(s"h${width}kExpr", this, classOf[GraftHashK].getName)
    defineCodeGen(ctx, ev, (a, b) => s"$ref.compute(${bytesCode(a, left.dataType)}, $b)")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): GraftHashK =
    copy(left = l, right = r)
}
