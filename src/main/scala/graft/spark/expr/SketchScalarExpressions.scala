package graft.spark.expr

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch, Mergeable,
  SketchFormat, TDigestSketch}
import graft.spark.agg.ValueBytes
import graft.spark.expr.SketchTypeChecks.{asDouble, binaryFirst, exact, hashable, numeric}

/** Scalar query expressions over serialized sketch buffers (BinaryType).
  *
  * Per-row deserialization would be catastrophic, so each expression
  * caches the deserialized sketch keyed on the bytes' object identity —
  * the common shape is a collected sketch broadcast as a literal, where
  * the same array instance is seen by every row. The probe itself is
  * codegen'd via a reference object, keeping whole-stage codegen intact
  * (the `ckblm`-style Bloom filter probe, `cmd/ckblm.java:63-66`, is the
  * reference's hot membership path).
  */
object SketchTypeChecks {
  def binaryFirst(prettyName: String, dt: DataType): TypeCheckResult = dt match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a binary sketch as first argument, got ${other.catalogString}")
  }
  def hashable(prettyName: String, dt: DataType): TypeCheckResult =
    ValueBytes.checkSketchable(prettyName, dt)
  def exact(prettyName: String, dt: DataType, want: DataType): TypeCheckResult =
    if (dt == want) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ${want.catalogString} argument, got ${dt.catalogString}")

  /** any numeric (incl. DECIMAL literals like SQL 0.5) accepted, converted
    * to double at eval */
  def numeric(prettyName: String, dt: DataType): TypeCheckResult = dt match {
    case _: org.apache.spark.sql.types.NumericType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a numeric argument, got ${other.catalogString}")
  }

  def asDouble(v: Any): Double = v match {
    case d: java.lang.Double => d
    case f: java.lang.Float => f.toDouble
    case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
    case n: java.lang.Number => n.doubleValue()
  }
}

private[expr] final class SketchCache[S <: AnyRef](deser: Array[Byte] => S) extends Serializable {
  @transient private var lastBytes: Array[Byte] = _
  @transient private var lastSketch: S = _

  def get(bytes: Array[Byte]): S = {
    if (!(bytes eq lastBytes)) {
      lastSketch = deser(bytes)
      lastBytes = bytes
    }
    lastSketch
  }
}

/** The two-argument queries over a serialized sketch (`left`, BINARY):
  * a [[KernelBinary]] that checks the sketch type and caches the
  * deserialized sketch on the bytes' identity; each query states a
  * `compute` typed to its answer. `format` is an abstract member, as in
  * `SketchAgg`, for Java serialization. */
abstract class SketchQuery[S <: Mergeable[S]] extends KernelBinary[Array[Byte], Any] {
  protected def format: SketchFormat[S]
  def checkArgument(dt: DataType): TypeCheckResult

  override def checkInputDataTypes(): TypeCheckResult = {
    val f = binaryFirst(prettyName, left.dataType)
    if (f.isFailure) f else checkArgument(right.dataType)
  }

  @transient private lazy val cache = new SketchCache(format.deserialize)
  protected def sketch(bytes: Array[Byte]): S = cache.get(bytes)
}

/** `bloom_might_contain(sketchBytes, value)` — true iff all k bits set;
  * mirrors the reference `BloomFilter.contains` (`BloomFilter.java:167-191`). */
case class BloomMightContain(left: Expression, right: Expression)
    extends SketchQuery[BloomSketch] {
  override protected def format: SketchFormat[BloomSketch] = BloomSketch
  override def prettyName: String = "bloom_might_contain"
  override def dataType: DataType = BooleanType
  override def checkArgument(dt: DataType): TypeCheckResult = hashable(prettyName, dt)
  def compute(bytes: Array[Byte], value: Any): Boolean =
    sketch(bytes).contains(ValueBytes.toBytes(value, right.dataType))
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `cms_estimate(sketchBytes, key)` — upper-bounded frequency estimate. */
case class CmsEstimate(left: Expression, right: Expression) extends SketchQuery[CmsSketch] {
  override protected def format: SketchFormat[CmsSketch] = CmsSketch
  override def prettyName: String = "cms_estimate"
  override def dataType: DataType = LongType
  override def checkArgument(dt: DataType): TypeCheckResult = hashable(prettyName, dt)
  def compute(bytes: Array[Byte], key: Any): Long =
    sketch(bytes).estimate(ValueBytes.toBytes(key, right.dataType))
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `kll_quantile(sketchBytes, q)` — value at quantile q in [0,1]. */
case class KllQuantile(left: Expression, right: Expression) extends SketchQuery[KllSketch] {
  override protected def format: SketchFormat[KllSketch] = KllSketch
  override def prettyName: String = "kll_quantile"
  override def dataType: DataType = DoubleType
  override def checkArgument(dt: DataType): TypeCheckResult = numeric(prettyName, dt)
  def compute(bytes: Array[Byte], q: Any): Double = sketch(bytes).quantile(asDouble(q))
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `kll_rank(sketchBytes, v)` — approximate count of items <= v. */
case class KllRank(left: Expression, right: Expression) extends SketchQuery[KllSketch] {
  override protected def format: SketchFormat[KllSketch] = KllSketch
  override def prettyName: String = "kll_rank"
  override def dataType: DataType = LongType
  override def checkArgument(dt: DataType): TypeCheckResult = numeric(prettyName, dt)
  def compute(bytes: Array[Byte], v: Any): Long = sketch(bytes).rank(asDouble(v))
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `kll_histogram(sketchBytes, nBins)` — equal-width histogram over the
  * sketch's [min, max] as array<struct<lo, hi, cnt>>; each bin count
  * carries the eps*n rank error (binning: `KllSketch.histogram`). */
case class KllHistogram(left: Expression, right: Expression) extends SketchQuery[KllSketch] {
  override protected def format: SketchFormat[KllSketch] = KllSketch
  override def prettyName: String = "kll_histogram"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("lo", DoubleType, nullable = false),
    StructField("hi", DoubleType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)
  override def checkArgument(dt: DataType): TypeCheckResult = exact(prettyName, dt, IntegerType)
  def compute(bytes: Array[Byte], nBins: Any): GenericArrayData =
    new GenericArrayData(sketch(bytes).histogram(nBins.asInstanceOf[Int])
      .map { case (lo, hi, cnt) => InternalRow(lo, hi, cnt) }.toArray[Any])
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `tdigest_quantile(sketchBytes, q)` — value at quantile q in [0,1]. */
case class TDigestQuantile(left: Expression, right: Expression)
    extends SketchQuery[TDigestSketch] {
  override protected def format: SketchFormat[TDigestSketch] = TDigestSketch
  override def prettyName: String = "tdigest_quantile"
  override def dataType: DataType = DoubleType
  override def checkArgument(dt: DataType): TypeCheckResult = numeric(prettyName, dt)
  def compute(bytes: Array[Byte], q: Any): Double = sketch(bytes).quantile(asDouble(q))
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `hh_topk(sketchBytes, k)` — tracked items best-first as array<struct<
  * item, cnt, lower_bound>>: SpaceSaving guarantees trueCount in
  * [lower_bound, cnt], EXACT when the capacity covered every key. */
case class HhTopK(left: Expression, right: Expression) extends SketchQuery[HeavyHittersSketch] {
  override protected def format: SketchFormat[HeavyHittersSketch] = HeavyHittersSketch
  override def prettyName: String = "hh_topk"
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType, nullable = false),
    StructField("cnt", LongType, nullable = false),
    StructField("lower_bound", LongType, nullable = false))), containsNull = false)
  override def checkArgument(dt: DataType): TypeCheckResult = exact(prettyName, dt, IntegerType)
  def compute(bytes: Array[Byte], k: Any): GenericArrayData =
    new GenericArrayData(sketch(bytes).topK(k.asInstanceOf[Int]).map {
      case (item, cnt, lower) => InternalRow(UTF8String.fromString(item), cnt, lower)
    }.toArray[Any])
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `hh_estimate(sketchBytes, item)` — upper-bound frequency of an item
  * (the sketch's minimum counter when untracked). */
case class HhEstimate(left: Expression, right: Expression)
    extends SketchQuery[HeavyHittersSketch] {
  override protected def format: SketchFormat[HeavyHittersSketch] = HeavyHittersSketch
  override def prettyName: String = "hh_estimate"
  override def dataType: DataType = LongType
  override def checkArgument(dt: DataType): TypeCheckResult = exact(prettyName, dt, StringType)
  def compute(bytes: Array[Byte], item: Any): Long = sketch(bytes).estimate(item.toString)
  override protected def boxed(b: Array[Byte], a: Any): Any = compute(b, a)
  override protected def withNewChildrenInternal(l: Expression, r: Expression) = copy(l, r)
}

/** `hll_estimate(sketchBytes)` — rounded distinct-count estimate. */
case class HllEstimate(child: Expression) extends KernelUnary[Array[Byte]] {
  override def checkInputDataTypes(): TypeCheckResult = binaryFirst(prettyName, child.dataType)
  override def dataType: DataType = LongType
  override def prettyName: String = "hll_estimate"

  @transient private lazy val cache = new SketchCache(HllSketch.deserialize)

  def compute(bytes: Array[Byte]): Long = math.round(cache.get(bytes).estimate())
  override protected def boxed(bytes: Array[Byte]): Any = compute(bytes)
  override protected def withNewChildInternal(c: Expression): HllEstimate = copy(child = c)
}

/** `hll_union(a, b)` — row-wise union of two serialized HLL sketches
  * (register-wise max, exactly the aggregate merge as a scalar): the
  * primitive behind sketch SET ALGEBRA over pre-aggregated sketch
  * columns — union estimate = `hll_estimate(hll_union(a, b))`,
  * intersection by inclusion-exclusion
  * (`graft.spark.functions.hll_intersect_estimate`). Deserializes
  * fresh per evaluation (the merge MUTATES, so the shared
  * [[SketchCache]] must not be used here); union rows are
  * post-aggregation — few and wide, not corpus-scale. */
case class HllUnion(left: Expression, right: Expression)
    extends KernelBinary[Array[Byte], Array[Byte]] {

  override def checkInputDataTypes(): TypeCheckResult = {
    val f = binaryFirst(prettyName, left.dataType)
    if (f.isFailure) f
    else right.dataType match {
      case BinaryType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a binary sketch as second argument, got ${other.catalogString}")
    }
  }
  override def dataType: DataType = BinaryType
  // SQL name is graft_hll_union (Spark 4.1's builtin hll_union owns
  // this prettyName's natural spelling in the registry)
  override def prettyName: String = "hll_union"

  def compute(a: Array[Byte], b: Array[Byte]): Array[Byte] =
    HllSketch.deserialize(a).merge(HllSketch.deserialize(b)).serialize()
  override protected def boxed(a: Array[Byte], b: Array[Byte]): Any = compute(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): HllUnion =
    copy(left = l, right = r)
}

/** `bloom_bank_contains(partId, sketchBytes, value)` — membership probe
  * against a PARTITIONED Bloom bank after a part-routed join, the
  * `ckblm` shape: probe rows are joined to their part's filter row and
  * this expression tests against it. `ProbeJob.probeBank` broadcasts the
  * bank when the filter sizes its log records fit Spark's broadcast
  * threshold; a larger bank is co-partitioned with the probe rows, so no
  * executor holds all of it.
  *
  * Two things make the joined shape cheap:
  *  - the deserialized filter is cached per part id, so each part's
  *    bytes are parsed once per task, not once per row;
  *  - `doGenCode` defers evaluating the sketch column to the cache-miss
  *    branch, so on hits the (large) binary is never copied out of the
  *    joined row at all.
  *
  * Null semantics: null value or part => false (unknown key is not a
  * member); null sketch (part not built yet in a resuming bank) => TRUE —
  * Bloom can never prove absence, so an unbuilt part must not produce
  * false negatives (and the reverse/anti filter stays exact).
  *
  * CONTRACT (holds by construction for its two callers,
  * `ProbeJob.probeBank` and `StreamingDedup.firstSeenCompacted`, which
  * join one bank row per part; the expression has no SQL name): within a
  * task, every row carrying a given part id must carry the SAME sketch
  * value. The per-task cache is keyed by part id alone (the deferred-eval
  * codegen exists precisely so cache hits never touch the binary column),
  * so rows pairing one part id with different sketch bytes — or a null
  * row before a built row — would get whichever filter the task saw first.
  */
case class BloomBankContains(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val p = SketchTypeChecks.exact(prettyName, first.dataType, IntegerType)
    if (p.isFailure) return p
    val s = SketchTypeChecks.binaryFirst(prettyName, second.dataType)
    if (s.isFailure) return s
    SketchTypeChecks.hashable(prettyName, third.dataType)
  }
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "bloom_bank_contains"

  /** part id -> BloomSketch | Missing, rebuilt per deserialized instance
    * (per task): the parts whose rows the task sees. */
  @transient private lazy val cache =
    new java.util.concurrent.ConcurrentHashMap[Int, AnyRef]()

  def cached(part: Int): AnyRef = cache.get(part)

  def load(part: Int, bytes: Array[Byte]): AnyRef = {
    val sk: AnyRef =
      if (bytes == null) BloomBankContains.Missing else BloomSketch.deserialize(bytes)
    val prev = cache.putIfAbsent(part, sk)
    if (prev != null) prev else sk
  }

  def test(sk: AnyRef, value: Any): Boolean = sk match {
    case s: BloomSketch => s.contains(ValueBytes.toBytes(value, third.dataType))
    case _ => true // unbuilt part: cannot prove absence
  }

  override def eval(input: InternalRow): Any = {
    val p = first.eval(input)
    val v = third.eval(input)
    if (p == null || v == null) false
    else {
      val pid = p.asInstanceOf[Int]
      var sk = cached(pid)
      if (sk == null) sk = load(pid, second.eval(input).asInstanceOf[Array[Byte]])
      test(sk, v)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bankExpr", this, classOf[BloomBankContains].getName)
    val p = first.genCode(ctx)
    val s = second.genCode(ctx)
    val v = third.genCode(ctx)
    val skVar = ctx.freshName("bankSketch")
    ev.copy(code = code"""
      ${p.code}
      ${v.code}
      boolean ${ev.value} = false;
      if (!${p.isNull} && !${v.isNull}) {
        Object $skVar = $ref.cached(${p.value});
        if ($skVar == null) {
          ${s.code}
          $skVar = $ref.load(${p.value}, ${s.isNull} ? null : ${s.value});
        }
        ${ev.value} = $ref.test($skVar, ${v.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): BloomBankContains =
    copy(first = f, second = s, third = t)
}

object BloomBankContains {
  /** Sentinel for a routed part with no built filter yet. */
  case object Missing
}
