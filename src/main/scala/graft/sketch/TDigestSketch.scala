package graft.sketch

import java.nio.ByteBuffer


/** Merging t-digest (Dunning & Ertl, "Computing Extremely Accurate
  * Quantiles Using t-Digests"): centroids (mean, weight) kept in mean
  * order; an incoming buffer is periodically merged in one sorted pass,
  * greedily growing each output centroid until the k1 scale function
  * forbids it — centroids near the median absorb ~ 4*n*q*(1-q)/delta
  * weight, centroids at the tails stay tiny, which is what gives the
  * digest its strong tail-quantile accuracy.
  *
  * Merge = concatenate centroid lists + one compress pass; associative
  * up to the digest's own accuracy (like KLL, not byte-stable under
  * re-ordering). Fully deterministic: no randomness anywhere.
  */
final class TDigestSketch private (
    val compression: Double,
    private var totalWeight: Double,
    private var means: DoubleBuf,
    private var weights: DoubleBuf,
    private var bufMeans: DoubleBuf,
    private var bufWeights: DoubleBuf,
    private var minV: Double,
    private var maxV: Double) extends Mergeable[TDigestSketch] with Serializable {

  import TDigestSketch._

  def n: Double = totalWeight

  def update(v: Double, w: Double = 1.0): Unit = {
    bufMeans.add(v)
    bufWeights.add(w)
    totalWeight += w
    if (v < minV) minV = v
    if (v > maxV) maxV = v
    if (bufMeans.length >= BufferSize) compress()
  }

  /** k1 scale: k(q) = (delta / 2pi) * asin(2q - 1). */
  @inline private def kOf(q: Double): Double =
    compression / (2.0 * math.Pi) * math.asin(2.0 * math.min(1.0, math.max(0.0, q)) - 1.0)

  private def compress(): Unit = {
    // nothing buffered and centroid count already within bound: no-op
    if (bufMeans.isEmpty && means.length <= compression.toInt * 2) return
    if (bufMeans.isEmpty && means.isEmpty) return
    // gather all (centroid + buffered) points sorted by mean
    val m = new Array[Double](means.length + bufMeans.length)
    val w = new Array[Double](m.length)
    var i = 0
    while (i < means.length) { m(i) = means(i); w(i) = weights(i); i += 1 }
    var j = 0
    while (j < bufMeans.length) { m(i) = bufMeans(j); w(i) = bufWeights(j); i += 1; j += 1 }
    val idx = m.indices.toArray.sortBy(m(_))

    val outM = new DoubleBuf(means.length + 16)
    val outW = new DoubleBuf(means.length + 16)
    var curM = m(idx(0))
    var curW = w(idx(0))
    var wSoFar = 0.0 // weight fully emitted so far
    var kLimit = kOf(0.0) + 1.0
    var qLimit = qForK(kLimit)
    var p = 1
    while (p < idx.length) {
      val mi = m(idx(p))
      val wi = w(idx(p))
      if ((wSoFar + curW + wi) / totalWeight <= qLimit) {
        // absorb into the current centroid
        val nw = curW + wi
        curM = curM + (mi - curM) * wi / nw
        curW = nw
      } else {
        outM.add(curM)
        outW.add(curW)
        wSoFar += curW
        kLimit = kOf(wSoFar / totalWeight) + 1.0
        qLimit = qForK(kLimit)
        curM = mi
        curW = wi
      }
      p += 1
    }
    outM.add(curM)
    outW.add(curW)
    means = outM
    weights = outW
    bufMeans = new DoubleBuf()
    bufWeights = new DoubleBuf()
  }

  /** inverse of k1: q(k) = (sin(2pi k / delta) + 1) / 2 */
  @inline private def qForK(k: Double): Double = {
    val x = 2.0 * math.Pi * k / compression
    if (x >= math.Pi / 2) 1.0
    else (math.sin(x) + 1.0) / 2.0
  }

  def merge(other: TDigestSketch): TDigestSketch = {
    require(compression == other.compression,
      s"Incompatible t-digests: delta=$compression vs ${other.compression}")
    other.compressNow()
    var i = 0
    while (i < other.means.length) {
      bufMeans.add(other.means(i))
      bufWeights.add(other.weights(i))
      i += 1
    }
    totalWeight += other.totalWeight
    if (other.minV < minV) minV = other.minV
    if (other.maxV > maxV) maxV = other.maxV
    compress()
    this
  }

  private def compressNow(): Unit = if (bufMeans.nonEmpty) compress()

  /** Quantile by linear interpolation between centroid midpoints, with
    * exact min/max anchoring at the extremes. */
  def quantile(q: Double): Double = {
    require(q >= 0.0 && q <= 1.0, s"quantile out of range: $q")
    compressNow()
    if (totalWeight == 0) return Double.NaN
    if (means.length == 1) return means(0)
    if (q <= 0.0) return minV
    if (q >= 1.0) return maxV
    val target = q * totalWeight
    // cumulative weight at centroid midpoints
    var cum = 0.0
    var i = 0
    while (i < means.length) {
      val mid = cum + weights(i) / 2.0
      if (target < mid) {
        if (i == 0) {
          // between min and first centroid midpoint
          val frac = target / mid
          return minV + frac * (means(0) - minV)
        }
        val prevMid = cum - weights(i - 1) / 2.0
        val frac = (target - prevMid) / (mid - prevMid)
        return means(i - 1) + frac * (means(i) - means(i - 1))
      }
      cum += weights(i)
      i += 1
    }
    maxV
  }

  def centroidCount: Int = { compressNow(); means.length }

  def serialize(): Array[Byte] = {
    compressNow()
    val buf = ByteBuffer.allocate(4 + 1 + 8 + 8 + 8 + 8 + 4 + means.length * 16)
    buf.putInt(Magic)
    buf.put(Version)
    buf.putDouble(compression)
    buf.putDouble(totalWeight)
    buf.putDouble(minV)
    buf.putDouble(maxV)
    buf.putInt(means.length)
    var i = 0
    while (i < means.length) { buf.putDouble(means(i)); buf.putDouble(weights(i)); i += 1 }
    buf.array()
  }
}

object TDigestSketch extends SketchFormat[TDigestSketch] {
  val name = "tdigest"
  final val Magic = 0x54444731 // "TDG1"
  final val Version: Byte = 1
  final val BufferSize = 512

  def apply(compression: Double = 100.0): TDigestSketch = {
    require(compression >= 20, s"compression must be >= 20, got $compression")
    new TDigestSketch(compression, 0.0,
      new DoubleBuf(), new DoubleBuf(), new DoubleBuf(), new DoubleBuf(),
      Double.PositiveInfinity, Double.NegativeInfinity)
  }

  def deserialize(bytes: Array[Byte]): TDigestSketch = {
    val r = new WireReader(bytes, "TDigestSketch")
    r.header(Magic, Version)
    val compression = r.double("compression")
    r.check(compression >= 20, s"compression $compression < 20")
    val totalWeight = r.double("total weight")
    val minV = r.double("min")
    val maxV = r.double("max")
    val nc = r.count("centroid count", 16)
    val means = new DoubleBuf(math.max(2, nc))
    val weights = new DoubleBuf(math.max(2, nc))
    var sum = 0.0
    var i = 0
    while (i < nc) {
      val mean = r.double("mean")
      val w = r.double("weight")
      r.check(w >= 0, s"centroid $i has weight $w")
      means.add(mean)
      weights.add(w)
      sum += w
      i += 1
    }
    r.end()
    // every update adds its weight to the total and to one centroid
    r.check(math.abs(sum - totalWeight) <= 1e-9 * math.max(1.0, totalWeight),
      s"centroids weigh $sum, total weight is $totalWeight")
    new TDigestSketch(compression, totalWeight, means, weights,
      new DoubleBuf(), new DoubleBuf(), minV, maxV)
  }
}
