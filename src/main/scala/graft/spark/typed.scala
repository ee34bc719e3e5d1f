package graft.spark

import scala.reflect.ClassTag

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}

import graft.sketch.{BloomSketch, CmsSketch, HllSketch, KllSketch, TDigestSketch}

/** Typed `Dataset[T]` facades over the sketch buffers (SURVEY.md §7 step
  * 5): `Aggregator[T, Sketch, Out]` for users who want compile-time row
  * types instead of Column expressions. Exactly the same mergeable
  * buffers and hash kernels as the untyped aggregates, so estimates are
  * bit-identical between `ds.select(typed.hllDistinct(_.convId))` and
  * `df.agg(hll_distinct($"conv_id"))`.
  *
  * The buffer travels kryo-encoded between partials; the per-row update
  * path mutates the live object, so encoding cost is per-exchange, not
  * per-row — the same shape as TypedImperativeAggregate.
  */
object typed {

  private def kryo[S <: AnyRef: ClassTag]: Encoder[S] = Encoders.kryo[S]

  private abstract class SketchAgg[T, S <: AnyRef: ClassTag, O](
      val outputEncoder: Encoder[O]) extends Aggregator[T, S, O] {
    final def bufferEncoder: Encoder[S] = kryo[S]
  }

  /** HLL distinct-count estimate of a (nullable) string key. */
  def hllDistinct[T](key: T => String, p: Int = SketchDefaults.HllP): TypedColumn[T, Long] =
    new SketchAgg[T, HllSketch, Long](Encoders.scalaLong) {
      def zero: HllSketch = HllSketch(p)
      def reduce(b: HllSketch, t: T): HllSketch = {
        val k = key(t)
        if (k != null) b.update(k)
        b
      }
      def merge(a: HllSketch, b: HllSketch): HllSketch = a.merge(b)
      def finish(b: HllSketch): Long = math.round(b.estimate())
    }.toColumn

  /** Serialized HLL sketch of a string key (for later `hll_merge`). */
  def hllSketch[T](key: T => String, p: Int = SketchDefaults.HllP): TypedColumn[T, Array[Byte]] =
    new SketchAgg[T, HllSketch, Array[Byte]](Encoders.BINARY) {
      def zero: HllSketch = HllSketch(p)
      def reduce(b: HllSketch, t: T): HllSketch = {
        val k = key(t)
        if (k != null) b.update(k)
        b
      }
      def merge(a: HllSketch, b: HllSketch): HllSketch = a.merge(b)
      def finish(b: HllSketch): Array[Byte] = b.serialize()
    }.toColumn

  /** KLL quantile of a numeric feature. */
  def kllQuantile[T](value: T => Double, q: Double,
      k: Int = SketchDefaults.KllK): TypedColumn[T, Double] =
    new SketchAgg[T, KllSketch, Double](Encoders.scalaDouble) {
      def zero: KllSketch = KllSketch(k)
      def reduce(b: KllSketch, t: T): KllSketch = {
        val v = value(t)
        if (!java.lang.Double.isNaN(v)) b.update(v)
        b
      }
      def merge(a: KllSketch, b: KllSketch): KllSketch = a.merge(b)
      def finish(b: KllSketch): Double = b.quantile(q)
    }.toColumn

  /** t-digest quantile of a numeric feature (strong tails). */
  def tdigestQuantile[T](value: T => Double, q: Double,
      compression: Double = SketchDefaults.TDigestCompression): TypedColumn[T, Double] =
    new SketchAgg[T, TDigestSketch, Double](Encoders.scalaDouble) {
      def zero: TDigestSketch = TDigestSketch(compression)
      def reduce(b: TDigestSketch, t: T): TDigestSketch = {
        val v = value(t)
        if (!java.lang.Double.isNaN(v)) b.update(v)
        b
      }
      def merge(a: TDigestSketch, b: TDigestSketch): TDigestSketch = a.merge(b)
      def finish(b: TDigestSketch): Double = b.quantile(q)
    }.toColumn

  /** Serialized reference-semantics Bloom filter of a string key. */
  def bloomSketch[T](key: T => String, maxSize: Long,
      bitsPerItem: Int): TypedColumn[T, Array[Byte]] =
    new SketchAgg[T, BloomSketch, Array[Byte]](Encoders.BINARY) {
      def zero: BloomSketch = BloomSketch(maxSize, bitsPerItem)
      def reduce(b: BloomSketch, t: T): BloomSketch = {
        val k = key(t)
        if (k != null) b.put(k)
        b
      }
      def merge(a: BloomSketch, b: BloomSketch): BloomSketch = a.merge(b)
      def finish(b: BloomSketch): Array[Byte] = b.serialize()
    }.toColumn

  /** Count-min frequency estimate of one probe key over a keyed stream. */
  def cmsSketch[T](key: T => String, depth: Int = SketchDefaults.CmsDepth,
      width: Int = SketchDefaults.CmsWidth): TypedColumn[T, Array[Byte]] =
    new SketchAgg[T, CmsSketch, Array[Byte]](Encoders.BINARY) {
      def zero: CmsSketch = CmsSketch(depth, width)
      def reduce(b: CmsSketch, t: T): CmsSketch = {
        val k = key(t)
        if (k != null) b.update(k)
        b
      }
      def merge(a: CmsSketch, b: CmsSketch): CmsSketch = a.merge(b)
      def finish(b: CmsSketch): Array[Byte] = b.serialize()
    }.toColumn
}
