package graft.spark

import scala.reflect.ClassTag

import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.{Encoder, Encoders, TypedColumn}

import graft.sketch.{BloomSketch, CmsSketch, HllSketch, KllSketch, Mergeable, TDigestSketch}

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

  /** One aggregator over a mergeable buffer: `add` folds a row into the
    * live buffer, partials meet by `merge`, and `result` reads the answer. */
  private def aggregate[T, S <: Mergeable[S]: ClassTag, O](out: Encoder[O], empty: => S)(
      add: (S, T) => Unit)(result: S => O): TypedColumn[T, O] =
    new Aggregator[T, S, O] {
      def zero: S = empty
      def reduce(b: S, t: T): S = { add(b, t); b }
      def merge(a: S, b: S): S = a.merge(b)
      def finish(b: S): O = result(b)
      def bufferEncoder: Encoder[S] = Encoders.kryo[S]
      def outputEncoder: Encoder[O] = out
    }.toColumn

  /** The per-row add of a string key: a null key is skipped. */
  private def byKey[T, S](key: T => String)(put: (S, String) => Unit): (S, T) => Unit =
    (b, t) => { val k = key(t); if (k != null) put(b, k) }

  /** The per-row add of a numeric value: NaN is skipped. */
  private def byValue[T, S](value: T => Double)(put: (S, Double) => Unit): (S, T) => Unit =
    (b, t) => { val v = value(t); if (!java.lang.Double.isNaN(v)) put(b, v) }

  /** HLL distinct-count estimate of a (nullable) string key. */
  def hllDistinct[T](key: T => String, p: Int = SketchDefaults.HllP): TypedColumn[T, Long] =
    aggregate(Encoders.scalaLong, HllSketch(p))(byKey(key)(_.update(_)))(
      b => math.round(b.estimate()))

  /** Serialized HLL sketch of a string key (for later `hll_merge`). */
  def hllSketch[T](key: T => String, p: Int = SketchDefaults.HllP): TypedColumn[T, Array[Byte]] =
    aggregate(Encoders.BINARY, HllSketch(p))(byKey(key)(_.update(_)))(_.serialize())

  /** KLL quantile of a numeric feature. */
  def kllQuantile[T](value: T => Double, q: Double,
      k: Int = SketchDefaults.KllK): TypedColumn[T, Double] =
    aggregate(Encoders.scalaDouble, KllSketch(k))(byValue(value)(_.update(_)))(_.quantile(q))

  /** t-digest quantile of a numeric feature (strong tails). */
  def tdigestQuantile[T](value: T => Double, q: Double,
      compression: Double = SketchDefaults.TDigestCompression): TypedColumn[T, Double] =
    aggregate(Encoders.scalaDouble, TDigestSketch(compression))(
      byValue(value)(_.update(_)))(_.quantile(q))

  /** Serialized reference-semantics Bloom filter of a string key. */
  def bloomSketch[T](key: T => String, maxSize: Long,
      bitsPerItem: Int): TypedColumn[T, Array[Byte]] =
    aggregate(Encoders.BINARY, BloomSketch(maxSize, bitsPerItem))(byKey(key)(_.put(_)))(
      _.serialize())

  /** Count-min frequency estimate of one probe key over a keyed stream. */
  def cmsSketch[T](key: T => String, depth: Int = SketchDefaults.CmsDepth,
      width: Int = SketchDefaults.CmsWidth): TypedColumn[T, Array[Byte]] =
    aggregate(Encoders.BINARY, CmsSketch(depth, width))(byKey(key)(_.update(_)))(_.serialize())
}
