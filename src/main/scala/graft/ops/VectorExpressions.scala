package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

import graft.ops.KernelChecks.{argument, first}
import graft.spark.expr.{KernelBinary, KernelUnary}

/** What the vector kernels share: the input check, the element read,
  * the dot product and the best-n selection. */
private[ops] object Vectors {

  /** Every vector column's check; `what` names the column in the message. */
  def check(pretty: String, column: Expression, what: String = ""): TypeCheckResult =
    column.dataType match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$pretty requires array<float> or array<double>$what, got ${other.catalogString}")
    }

  /** Element `d` as a double, read without a null check. */
  @inline def raw(arr: ArrayData, d: Int, isFloat: Boolean): Double =
    if (isFloat) arr.getFloat(d) else arr.getDouble(d)

  /** Element `d` as a double; a null element reads as 0.0. */
  @inline def elem(arr: ArrayData, d: Int, isFloat: Boolean): Double =
    if (arr.isNullAt(d)) 0.0 else raw(arr, d, isFloat)

  /** The sum of squares of `arr`'s elements as doubles. */
  def sumSq(arr: ArrayData, isFloat: Boolean): Double = {
    val n = arr.numElements()
    var sum = 0.0
    var d = 0
    while (d < n) {
      val x = elem(arr, d, isFloat)
      sum += x * x
      d += 1
    }
    sum
  }

  /** `row . arr` over the elements of `arr`, null elements skipped. */
  def dot(row: Array[Double], arr: ArrayData, isFloat: Boolean): Double = {
    val n = arr.numElements()
    var sum = 0.0
    var d = 0
    while (d < n) {
      if (!arr.isNullAt(d)) sum += row(d) * raw(arr, d, isFloat)
      d += 1
    }
    sum
  }

  /** The indices of the `n` highest scores, best first, by an O(size * n)
    * partial selection (n is small). Ties go to the lower index. A NaN or
    * -Infinity score beats nothing, so when no untaken score beats
    * -Infinity (an all-NaN input) the first untaken index is taken. */
  def best(scores: Array[Double], n: Int): Array[Int] = {
    val out = new Array[Int](n)
    val taken = new Array[Boolean](scores.length)
    var s = 0
    while (s < n) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < scores.length) {
        if (!taken(i) && scores(i) > bestScore) { best = i; bestScore = scores(i) }
        i += 1
      }
      if (best == -1) { best = 0; while (taken(best)) best += 1 }
      taken(best) = true
      out(s) = best
      s += 1
    }
    out
  }
}

/** Mixed into every vector kernel: per child, whether its elements are
  * floats (else doubles), read once from the analyzed type. */
private[ops] trait VectorInputs { self: Expression =>
  @transient protected lazy val floats: Array[Boolean] =
    children.map(_.dataType.asInstanceOf[ArrayType].elementType == FloatType).toArray
}

/** `srp_signature(vec, bits, seed)` — signed-random-projection LSH
  * signature (Charikar 2002) as a native Catalyst expression: the signs
  * of `bits` random-hyperplane projections packed into a long. Collision
  * probability of two vectors at angle theta is (1 - theta/pi)^bits.
  *
  * This is the hot projection of every embedding-dedup / ANN-LSH
  * pipeline, so it must stay inside whole-stage codegen: generated code
  * calls `compute` through a reference object ([[KernelUnary]]) reading
  * the columnar ArrayData in place — no UDF SerDe, no Seq
  * materialization. Hyperplanes are counter-mode murmur Gaussians
  * (Similarity.gaussian), regenerated deterministically per executor and
  * cached per (seed, bits, dims) — nothing is shipped with the plan.
  */
case class SrpSignatureExpr(child: Expression, bits: Int, seed: Long)
    extends KernelUnary[ArrayData] with VectorInputs {

  // bits = 0 is the EXHAUSTIVE regime: the signature is constantly 0,
  // every vector lands in one bucket, and an LSH pipeline provably
  // degenerates to all-pairs / brute force — the oracle-checkable
  // configuration (see embedding_dups_exact / lsh_topk_exact)
  override def checkInputDataTypes(): TypeCheckResult = first(
    argument(bits >= 0 && bits <= 63, s"$prettyName bits must be in [0,63], got $bits"),
    Vectors.check(prettyName, child))
  override def dataType: DataType = LongType
  override def prettyName: String = "srp_signature"

  def compute(arr: ArrayData): Long = {
    val planes = SrpPlanes.get(seed, bits, arr.numElements())
    val isFloat = floats(0)
    var sig = 0L
    var b = 0
    while (b < bits) {
      if (Vectors.dot(planes(b), arr, isFloat) >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }
  override protected def boxed(arr: ArrayData): Any = compute(arr)
  override protected def withNewChildInternal(c: Expression): SrpSignatureExpr =
    copy(child = c)
}

/** `IvfCellsExpr(vec, centroids, nprobe)` — the IVF coarse quantizer:
  * the indices of the `nprobe` centroids with the largest dot product
  * against the (row-normalized) centroid matrix, ordered best-first with
  * index as the deterministic tie-break. With centroids L2-normalized at
  * construction, dot-product ranking equals cosine ranking.
  *
  * The centroid matrix is a plan constant (IVF "training" happens before
  * plan construction, see Similarity.ivfTopK) shipped once per task via
  * the serialized expression — nlist x dims doubles, kilobytes at any
  * sane nlist. Codegen'd through a reference object ([[KernelUnary]]),
  * so assignment stays inside whole-stage codegen.
  */
case class IvfCellsExpr(child: Expression, centroids: Array[Array[Double]],
    nprobe: Int) extends KernelUnary[ArrayData] with VectorInputs {

  override def checkInputDataTypes(): TypeCheckResult = first(
    argument(centroids.nonEmpty, s"$prettyName needs at least one centroid"),
    argument(nprobe >= 1 && nprobe <= centroids.length,
      s"$prettyName nprobe must be in [1, ${centroids.length}], got $nprobe"),
    Vectors.check(prettyName, child))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "ivf_cells"

  def compute(arr: ArrayData): ArrayData = {
    val dims = arr.numElements()
    // a quantizer must not silently truncate: a mis-assigned cell
    // poisons every downstream recall/rerank with no visible error
    // (the PqEncodeExpr rule), and an over-long vector would later
    // crash trainIvf's driver-side mean fill on an opaque index
    if (dims != centroids(0).length) {
      throw new IllegalArgumentException(
        s"ivf_cells: vector has $dims dims, centroids expect ${centroids(0).length}")
    }
    // a NaN element poisons every dot, and a NaN dot beats nothing: the
    // vector deterministically takes the first cells instead of crashing
    val isFloat = floats(0)
    ArrayData.toArrayData(Vectors.best(centroids.map(Vectors.dot(_, arr, isFloat)), nprobe))
  }
  override protected def boxed(arr: ArrayData): Any = compute(arr)
  override protected def withNewChildInternal(c: Expression): IvfCellsExpr =
    copy(child = c)
}

/** `cosine_similarity(a, b)` — exact cosine of two vector columns as a
  * native codegen'd expression: one tight loop over the columnar
  * ArrayData. This is the verify/rerank kernel of every similarity path
  * (brute-force, IVF, SRP-LSH, embedding dedup), and the higher-order-
  * function formulation it replaces (`zip_with` + `aggregate`) built a
  * per-row lambda interpreter ~20x slower on 128-dim floats.
  *
  * On well-formed inputs (equal-length, null-free element arrays — every
  * embedding this engine produces or reads) the arithmetic REPRODUCES
  * the higher-order form bit for bit, so oracle rank comparisons are
  * unaffected: per-element products in the input's own precision
  * (float·float stays a float multiply), accumulated left-to-right into
  * a double. On MALFORMED inputs the two deliberately diverge: the old
  * form returned null for a null element or a length mismatch (the null
  * product poisons the fold), silently dropping the row downstream; this
  * expression instead skips null elements, scores DIMENSION-MISMATCHED
  * pairs 0.0 outright (truncating would let a 1-element fragment score
  * ~1.0 against anything aligned with it), and returns 0.0 on a zero
  * norm — degraded vectors lose rankings rather than vanish without
  * trace.
  */
case class CosineSimExpr(left: Expression, right: Expression)
    extends KernelBinary[ArrayData, ArrayData] with VectorInputs {

  override def checkInputDataTypes(): TypeCheckResult =
    first(Vectors.check(prettyName, left), Vectors.check(prettyName, right))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_similarity"

  /** x * y: a float multiply when both were floats, like zip_with (a
    * float read as a double narrows back exactly) */
  @inline private def mul(x: Double, xf: Boolean, y: Double, yf: Boolean): Double =
    if (xf && yf) x.toFloat * y.toFloat else x * y

  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    if (n != b.numElements()) return 0.0 // incomparable dimensions
    val af = floats(0)
    val bf = floats(1)
    // one pass; each sum keeps its element order and its multiply
    var dot = 0.0
    var sa = 0.0
    var sb = 0.0
    var d = 0
    while (d < n) {
      val aOk = !a.isNullAt(d)
      val bOk = !b.isNullAt(d)
      val x = if (aOk) Vectors.raw(a, d, af) else 0.0
      val y = if (bOk) Vectors.raw(b, d, bf) else 0.0
      if (aOk) sa += mul(x, af, x, af)
      if (bOk) sb += mul(y, bf, y, bf)
      if (aOk && bOk) dot += mul(x, af, y, bf)
      d += 1
    }
    val norm = math.sqrt(sa) * math.sqrt(sb)
    if (norm == 0.0) 0.0 else dot / norm
  }
  override protected def boxed(a: ArrayData, b: ArrayData): Any = compute(a, b)
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): CosineSimExpr = copy(left = l, right = r)
}

/** `srp_multiprobe(vec, bits, seed, nflip)` — multiprobe SRP bucket list
  * (Lv et al. VLDB'07 applied to sign-random-projection): the exact
  * signature first, then `nflip` one-bit perturbations flipping the
  * LEAST-CONFIDENT hyperplane sides (smallest |projection| — the bits a
  * true near neighbor most likely differs in). Probing these buckets
  * buys the recall of extra hash tables without building them: the
  * corpus is bucketed ONCE per table, only the (small, broadcast) query
  * side fans out. At `nflip = 0` a vector's list is
  * `array(srp_signature(vec, bits, seed))`, bits 0 included, so
  * `Similarity.lshTopK` probes through this expression alone.
  */
case class SrpMultiprobeExpr(child: Expression, bits: Int, seed: Long, nflip: Int)
    extends KernelUnary[ArrayData] with VectorInputs {

  override def checkInputDataTypes(): TypeCheckResult = first(
    argument(bits >= 0 && bits <= 63, s"$prettyName bits must be in [0,63], got $bits"),
    argument(nflip >= 0 && nflip <= bits, s"$prettyName nflip must be in [0,$bits], got $nflip"),
    Vectors.check(prettyName, child))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "srp_multiprobe"

  def compute(arr: ArrayData): ArrayData = {
    val planes = SrpPlanes.get(seed, bits, arr.numElements())
    val isFloat = floats(0)
    // the least-confident sides (smallest |dot|) score highest
    val confidence = new Array[Double](bits)
    var sig = 0L
    var b = 0
    while (b < bits) {
      val dot = Vectors.dot(planes(b), arr, isFloat)
      confidence(b) = -math.abs(dot)
      if (dot >= 0) sig |= (1L << b)
      b += 1
    }
    ArrayData.toArrayData(sig +: Vectors.best(confidence, nflip).map(f => sig ^ (1L << f)))
  }
  override protected def boxed(arr: ArrayData): Any = compute(arr)
  override protected def withNewChildInternal(c: Expression): SrpMultiprobeExpr =
    copy(child = c)
}

/** `PqEncodeExpr(vec, codebooks)` — the product-quantization encoder
  * (Jégou et al. 2011): the input vector is L2-NORMALIZED (so dot
  * ranking equals cosine ranking downstream), split into
  * m = codebooks.length equal blocks, and each block is replaced by the
  * index of its L2-nearest centroid in that block's codebook (ties
  * break on the lower index — deterministic). Output: array<int> of m
  * codes — the 100 TB story: a corpus row's similarity evidence
  * compresses from dims floats to m small ints, so the ANN exchange
  * and the resident index shrink by ~dims*4/m bytes per row.
  *
  * The codebook tensor is a plan constant (training happens before plan
  * construction, [[graft.ops.Similarity.trainPq]]) of m x kc x dsub
  * doubles — kilobytes at sane settings. Codegen'd through a reference
  * object ([[KernelUnary]]). A dimension mismatch fails loudly: an
  * encoder silently mis-slicing blocks would poison every downstream
  * score. */
case class PqEncodeExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends KernelUnary[ArrayData] with VectorInputs {

  override def checkInputDataTypes(): TypeCheckResult = first(
    argument(codebooks.nonEmpty && !codebooks.exists(_.isEmpty),
      s"$prettyName needs at least one centroid per block"),
    Vectors.check(prettyName, child))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "pq_encode"

  def compute(arr: ArrayData): ArrayData = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    val dims = arr.numElements()
    if (dims != m * dsub) {
      throw new IllegalArgumentException(
        s"pq_encode: vector has $dims dims, codebooks expect ${m * dsub} ($m blocks x $dsub)")
    }
    val isFloat = floats(0)
    val normSq = Vectors.sumSq(arr, isFloat)
    val inv = if (normSq > 0.0) 1.0 / math.sqrt(normSq) else 0.0
    // the normalized vector, read once: the centroid loop reads it kc times
    val x = Array.tabulate(dims)(Vectors.elem(arr, _, isFloat) * inv)
    val out = new Array[Int](m)
    var b = 0
    while (b < m) {
      val book = codebooks(b)
      var best = 0
      var bestDist = Double.PositiveInfinity
      var c = 0
      while (c < book.length) {
        val cent = book(c)
        var dist = 0.0
        var j = 0
        while (j < dsub) {
          val diff = x(b * dsub + j) - cent(j)
          dist += diff * diff
          j += 1
        }
        if (dist < bestDist) { bestDist = dist; best = c }
        c += 1
      }
      out(b) = best
      b += 1
    }
    ArrayData.toArrayData(out)
  }
  override protected def boxed(arr: ArrayData): Any = compute(arr)
  override protected def withNewChildInternal(c: Expression): PqEncodeExpr =
    copy(child = c)
}

/** `PqAdcScoreExpr(codes, query, codebooks)` — asymmetric distance
  * computation: the approximate cosine of an ENCODED corpus vector
  * against a RAW query, as the sum over blocks of
  * dot(centroid[b][code_b], normalizedQuerySub_b). The query is
  * normalized inside (once per evaluation; queries are broadcast and
  * few), the corpus side never decodes — m array lookups and m*dsub
  * multiply-adds per candidate, independent of whether the original
  * vectors were floats or doubles.
  *
  * Scoring-kernel degradation mirrors [[CosineSimExpr]]: a
  * dimension-mismatched query scores 0.0 rather than vanishing; a
  * corrupt code (out of codebook range) fails loudly. */
case class PqAdcScoreExpr(left: Expression, right: Expression,
    codebooks: Array[Array[Array[Double]]])
    extends KernelBinary[ArrayData, ArrayData] with VectorInputs {

  override def checkInputDataTypes(): TypeCheckResult = first(
    argument(left.dataType match { case ArrayType(IntegerType, _) => true; case _ => false },
      s"$prettyName requires array<int> codes, got ${left.dataType.catalogString}"),
    Vectors.check(prettyName, right, " query"))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "pq_adc_score"

  def compute(codes: ArrayData, q: ArrayData): Double = {
    val m = codebooks.length
    val dsub = codebooks(0)(0).length
    // A codes column whose width disagrees with the codebook tensor means
    // the row was encoded against a different quantizer — corrupt pairing,
    // fail loudly (silently scoring 0.0 would degrade every shortlist to
    // arbitrary ties with no visible error). Only the documented
    // query-dimension case degrades to 0.0.
    if (codes.numElements() != m) {
      throw new IllegalArgumentException(
        s"pq_adc_score: codes length ${codes.numElements()} != codebook blocks $m")
    }
    if (q.numElements() != m * dsub) return 0.0
    val isFloat = floats(1)
    val normSq = Vectors.sumSq(q, isFloat)
    if (normSq == 0.0) return 0.0
    val inv = 1.0 / math.sqrt(normSq)
    var acc = 0.0
    var b = 0
    while (b < m) {
      // a null slot would read as code 0 and score silently — the exact
      // corrupt-codes case the class contract promises to fail on
      if (codes.isNullAt(b)) {
        throw new IllegalArgumentException(
          s"pq_adc_score: null code at block $b")
      }
      val code = codes.getInt(b)
      if (code < 0 || code >= codebooks(b).length) {
        throw new IllegalArgumentException(
          s"pq_adc_score: code $code out of range for block $b (kc=${codebooks(b).length})")
      }
      val cent = codebooks(b)(code)
      var j = 0
      while (j < dsub) {
        acc += cent(j) * (Vectors.elem(q, b * dsub + j, isFloat) * inv)
        j += 1
      }
      b += 1
    }
    acc
  }
  override protected def boxed(codes: ArrayData, q: ArrayData): Any = compute(codes, q)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): PqAdcScoreExpr =
    copy(left = l, right = r)
}
