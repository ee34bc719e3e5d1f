package graft.spark

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch, Mergeable, SketchFormat, TDigestSketch}
import graft.spark.SketchDefaults._
import graft.spark.agg.{BloomAgg, CmsAgg, HeavyHittersAgg, HllAgg, KllAgg, SketchMergeAgg, TDigestAgg}
import graft.spark.expr._

/** Default sketch sizes of the Column functions and their SQL forms. */
object SketchDefaults {
  val HllP = 14
  val CmsDepth = 5
  val CmsWidth: Int = 1 << 14
  val KllK = 200
  val TDigestCompression = 100.0
  val HhCapacity = 256
}

/** User-facing Column functions — the engine's public API surface,
  * mirroring `org.apache.spark.sql.functions` style. Hash projections and
  * sketch aggregates over any graft kernel
  * (murmur2 | jenkins | fnv1 | fnv1a | hsieh | cwow | sha1prng).
  */
object functions {

  // ---- hash projections (reference LongHash SPI, LongHash.java:24-48) ----

  /** 64-bit kernel hash; strings hash as UTF-8 bytes, integral/date/
    * boolean values as canonical 8-byte big-endian (the same ValueBytes
    * rule the sketch aggregates and probes use). */
  def graft_hash64(c: Column, kernel: String = "murmur2"): Column =
    column(GraftHash(expression(c), kernel, 64))

  /** 32-bit kernel hash. */
  def graft_hash32(c: Column, kernel: String = "murmur2"): Column =
    column(GraftHash(expression(c), kernel, 32))

  /** Murmur2-64 with the file-format default seed 0 — the engine's
    * canonical hash (reference `Calculations.computeLongHash:44-47`). */
  def murmur64(c: Column): Column = graft_hash64(c, "murmur2")

  /** Explicit-seed 64-bit hash (murmur2/jenkins/cwow: seed; fnv/hsieh:
    * chain state). */
  def graft_hash64_seeded(c: Column, seed: Column, kernel: String = "murmur2"): Column =
    column(GraftHashSeeded(expression(c), expression(seed), kernel, 64))

  /** k-vector multi-hash preserving the kernel's seeding scheme. */
  def graft_hash64_k(c: Column, k: Column, kernel: String = "murmur2"): Column =
    column(GraftHashK(expression(c), expression(k), kernel, 64))

  /** Explicit-seed 32-bit hash (int family, `LongHash.java:44-48`). */
  def graft_hash32_seeded(c: Column, seed: Column, kernel: String = "murmur2"): Column =
    column(GraftHashSeeded(expression(c), expression(seed), kernel, 32))

  /** 32-bit k-vector multi-hash (`LongHash.getIntHashCodes`). */
  def graft_hash32_k(c: Column, k: Column, kernel: String = "murmur2"): Column =
    column(GraftHashK(expression(c), expression(k), kernel, 32))

  // ---- sketch aggregates (binary buffers; mergeable) ----

  def bloom_sketch(c: Column, maxSize: Long, bitsPerItem: Int,
      kernel: String = "murmur2", longHash: Boolean = true): Column =
    column(BloomAgg(expression(c), maxSize, bitsPerItem, kernel, longHash)
      .toAggregateExpression())

  def hll_sketch(c: Column, p: Int = HllP, kernel: String = "murmur2"): Column =
    column(HllAgg(expression(c), p, kernel).toAggregateExpression())

  def cms_sketch(c: Column, depth: Int = CmsDepth, width: Int = CmsWidth,
      kernel: String = "murmur2"): Column =
    column(CmsAgg(expression(c), depth, width, kernel).toAggregateExpression())

  def kll_sketch(c: Column, k: Int = KllK): Column =
    column(KllAgg(expression(c), k).toAggregateExpression())

  def tdigest_sketch(c: Column, compression: Double = TDigestCompression): Column =
    column(TDigestAgg(expression(c), compression).toAggregateExpression())

  /** Count-min with per-row additive weights (e.g. token counts):
    * estimates bound sum(weight) per key. */
  def cms_sketch_weighted(key: Column, weight: Column, depth: Int = CmsDepth,
      width: Int = CmsWidth, kernel: String = "murmur2"): Column =
    column(CmsAgg(expression(key), depth, width, kernel, Some(expression(weight)))
      .toAggregateExpression())

  /** SpaceSaving heavy hitters over a string column. */
  def hh_sketch(c: Column, capacity: Int = HhCapacity): Column =
    column(HeavyHittersAgg(expression(c), capacity).toAggregateExpression())

  /** SpaceSaving heavy hitters by WEIGHT volume (e.g. tokens per source)
    * instead of row count. */
  def hh_sketch_weighted(c: Column, weight: Column, capacity: Int = HhCapacity): Column =
    column(HeavyHittersAgg(expression(c), capacity, Some(expression(weight)))
      .toAggregateExpression())

  // ---- sketch unions (second level of two-level / salted aggregation) ----

  private def sketch_merge[S <: Mergeable[S]](c: Column, format: SketchFormat[S]): Column =
    column(SketchMergeAgg(expression(c), format).toAggregateExpression())

  def bloom_merge(c: Column): Column = sketch_merge(c, BloomSketch)
  def hll_merge(c: Column): Column = sketch_merge(c, HllSketch)
  def cms_merge(c: Column): Column = sketch_merge(c, CmsSketch)
  def kll_merge(c: Column): Column = sketch_merge(c, KllSketch)
  def tdigest_merge(c: Column): Column = sketch_merge(c, TDigestSketch)
  def hh_merge(c: Column): Column = sketch_merge(c, HeavyHittersSketch)

  // ---- sketch probes (scalar) ----

  def bloom_might_contain(sketch: Column, c: Column): Column =
    column(BloomMightContain(expression(sketch), expression(c)))

  def hll_estimate(sketch: Column): Column =
    column(HllEstimate(expression(sketch)))

  /** Row-wise union of two serialized HLL sketches (register-wise max —
    * the aggregate merge as a scalar): sketch set algebra over
    * pre-aggregated sketch columns. */
  def hll_union(a: Column, b: Column): Column =
    column(HllUnion(expression(a), expression(b)))

  /** Distinct-intersection estimate of two HLL sketches by
    * inclusion-exclusion: est(a) + est(b) - est(a UNION b). Relative
    * error compounds through the subtraction — reliable when the true
    * intersection is not tiny relative to the union (the standard HLL
    * set-algebra caveat); can be slightly negative on disjoint sets. */
  def hll_intersect_estimate(a: Column, b: Column): Column =
    hll_estimate(a) + hll_estimate(b) - hll_estimate(hll_union(a, b))

  def cms_estimate(sketch: Column, key: Column): Column =
    column(CmsEstimate(expression(sketch), expression(key)))

  def kll_quantile(sketch: Column, q: Column): Column =
    column(KllQuantile(expression(sketch), expression(q)))

  def kll_rank(sketch: Column, v: Column): Column =
    column(KllRank(expression(sketch), expression(v)))

  /** Equal-width histogram from a KLL sketch: array<struct<lo,hi,cnt>>. */
  def kll_histogram(sketch: Column, nBins: Column): Column =
    column(KllHistogram(expression(sketch), expression(nBins)))

  def tdigest_quantile(sketch: Column, q: Column): Column =
    column(TDigestQuantile(expression(sketch), expression(q)))

  /** Tracked heavy hitters best-first: array<struct<item,cnt,lower_bound>>.
    * Counts are exact when capacity covered the distinct-key count. */
  def hh_topk(sketch: Column, k: Column): Column =
    column(HhTopK(expression(sketch), expression(k)))

  /** Upper-bound frequency of one item in a heavy-hitters sketch. */
  def hh_estimate(sketch: Column, item: Column): Column =
    column(HhEstimate(expression(sketch), expression(item)))

  /** Partitioned-bank Bloom probe: test `value` against its routed
    * part's filter after a part-routed join (see ProbeJob.probeBank).
    * A null filter (unbuilt part) yields true — no false negatives.
    * Internal: its per-task cache keys on the part id alone, which is
    * right only for the one-row-per-part join its callers build. */
  private[graft] def bloom_bank_contains(partId: Column, sketch: Column, value: Column): Column =
    column(BloomBankContains(expression(partId), expression(sketch), expression(value)))

  // ---- bounded top-k (scale-safe ORDER BY score DESC LIMIT k per group) ----

  /** Mergeable top-k by score: array<struct<value,score>> best-first,
    * ties broken by ascending value. Map-side partial aggregation keeps a
    * k-heap per group, so no global per-group sort ever happens. */
  def top_k_by(value: Column, score: Column, k: Int): Column =
    column(graft.spark.agg.TopKByAgg(expression(value), expression(score), k)
      .toAggregateExpression())

  // ---- vector aggregation ----

  /** Mergeable element-wise vector mean (per-group embedding centroid):
    * one (double[dims], count) buffer per group with map-side partial
    * aggregation — never a posexplode of |rows| x dims. */
  def vec_mean(vec: Column): Column =
    column(graft.spark.agg.VecMeanAgg(expression(vec)).toAggregateExpression())

  // ---- one-shot conveniences ----

  /** Distinct-count estimate in one aggregation (hll_estimate ∘ hll_sketch). */
  def hll_distinct(c: Column, p: Int = HllP): Column =
    hll_estimate(hll_sketch(c, p))
}
