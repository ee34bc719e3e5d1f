package graft.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.unsafe.types.UTF8String

import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch, Mergeable, SketchFormat, TDigestSketch}
import graft.spark.SketchDefaults._
import graft.spark.agg.{BloomAgg, CmsAgg, HeavyHittersAgg, HllAgg, KllAgg, SketchMergeAgg, TDigestAgg, TopKByAgg, VecMeanAgg}
import graft.spark.expr._

/** SQL registration for the engine: `spark.sql("SELECT graft_hash64(x)...")`.
  *
  * Usage: `SparkSession.builder().withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.spark.GraftExtensions`. Only function
  * injection is needed — the core pipeline composes Spark built-ins, and
  * Catalyst's existing rules (pushdown, pruning, partial agg, AQE) do the
  * optimizing (SURVEY.md §4).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def lit(e: Expression): String = e match {
    case Literal(v: UTF8String, _) => v.toString
    case Literal(v, _) => String.valueOf(v)
    case other => throw new IllegalArgumentException(
      s"argument must be a literal, got $other")
  }

  private def litInt(e: Expression): Int = lit(e).toInt
  private def litLong(e: Expression): Long = lit(e).toLong

  override def apply(ext: SparkSessionExtensions): Unit = {
    def register(name: String, builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        builder))

    for (w <- Seq(64, 32)) {
      register(s"graft_hash$w", {
        case Seq(c) => GraftHash(c, "murmur2", w)
        case Seq(c, k) => GraftHash(c, lit(k), w)
      })
      register(s"graft_hash${w}_seeded", {
        case Seq(c, seed) => GraftHashSeeded(c, seed, "murmur2", w)
        case Seq(c, seed, k) => GraftHashSeeded(c, seed, lit(k), w)
      })
      register(s"graft_hash${w}_k", {
        case Seq(c, k) => GraftHashK(c, k, "murmur2", w)
        case Seq(c, k, kern) => GraftHashK(c, k, lit(kern), w)
      })
    }
    register("bloom_sketch", {
      case Seq(c, maxSize, bpi) =>
        BloomAgg(c, litLong(maxSize), litInt(bpi)).toAggregateExpression()
      case Seq(c, maxSize, bpi, kern) =>
        BloomAgg(c, litLong(maxSize), litInt(bpi), lit(kern)).toAggregateExpression()
      // 5-arg form exposes the reference's int-hash family
      // (`BloomFilter.java:167-191`): longHash=false probes with
      // getIntHashCodes semantics
      case Seq(c, maxSize, bpi, kern, longHash) =>
        BloomAgg(c, litLong(maxSize), litInt(bpi), lit(kern),
          longHash = lit(longHash).toBoolean).toAggregateExpression()
    })
    register("hh_sketch", {
      case Seq(c) => HeavyHittersAgg(c, HhCapacity).toAggregateExpression()
      case Seq(c, cap) => HeavyHittersAgg(c, litInt(cap)).toAggregateExpression()
    })
    register("hh_sketch_weighted", {
      case Seq(c, w) => HeavyHittersAgg(c, HhCapacity, Some(w)).toAggregateExpression()
      case Seq(c, w, cap) =>
        HeavyHittersAgg(c, litInt(cap), Some(w)).toAggregateExpression()
    })
    register("cms_sketch_weighted", {
      case Seq(k, w) => CmsAgg(k, CmsDepth, CmsWidth, weightExpr = Some(w)).toAggregateExpression()
      case Seq(k, w, d, width) =>
        CmsAgg(k, litInt(d), litInt(width), weightExpr = Some(w)).toAggregateExpression()
    })
    register("hh_topk", { case Seq(s, k) => HhTopK(s, k) })
    register("hh_estimate", { case Seq(s, i) => HhEstimate(s, i) })
    register("top_k_by", {
      case Seq(v, score, k) => TopKByAgg(v, score, litInt(k)).toAggregateExpression()
    })
    register("vec_mean", { case Seq(v) => VecMeanAgg(v).toAggregateExpression() })
    register("cosine_similarity",
      { case Seq(a, b) => graft.ops.CosineSimExpr(a, b) })
    register("srp_signature", {
      case Seq(v, bits) =>
        graft.ops.SrpSignatureExpr(v, litInt(bits), graft.ops.Similarity.SrpSeed)
      case Seq(v, bits, seed) => graft.ops.SrpSignatureExpr(v, litInt(bits), litLong(seed))
    })
    register("srp_multiprobe", {
      case Seq(v, bits, seed, nflip) =>
        graft.ops.SrpMultiprobeExpr(v, litInt(bits), litLong(seed), litInt(nflip))
    })
    register("hll_sketch", {
      case Seq(c) => HllAgg(c, HllP).toAggregateExpression()
      case Seq(c, p) => HllAgg(c, litInt(p)).toAggregateExpression()
      case Seq(c, p, kern) => HllAgg(c, litInt(p), lit(kern)).toAggregateExpression()
    })
    register("cms_sketch", {
      case Seq(c) => CmsAgg(c, CmsDepth, CmsWidth).toAggregateExpression()
      case Seq(c, d, w) => CmsAgg(c, litInt(d), litInt(w)).toAggregateExpression()
      case Seq(c, d, w, kern) =>
        CmsAgg(c, litInt(d), litInt(w), lit(kern)).toAggregateExpression()
    })
    register("kll_sketch", {
      case Seq(c) => KllAgg(c, KllK).toAggregateExpression()
      case Seq(c, k) => KllAgg(c, litInt(k)).toAggregateExpression()
    })
    register("tdigest_sketch", {
      case Seq(c) => TDigestAgg(c, TDigestCompression).toAggregateExpression()
      case Seq(c, d) => TDigestAgg(c, lit(d).toDouble).toAggregateExpression()
    })
    register("tdigest_quantile", { case Seq(s0, q) => TDigestQuantile(s0, q) })
    // `<name>_merge` for every sketch family, named by its format
    def registerMerge[S <: Mergeable[S]](format: SketchFormat[S]): Unit =
      register(s"${format.name}_merge",
        { case Seq(c) => SketchMergeAgg(c, format).toAggregateExpression() })
    registerMerge(BloomSketch)
    registerMerge(HllSketch)
    registerMerge(CmsSketch)
    registerMerge(KllSketch)
    registerMerge(TDigestSketch)
    registerMerge(HeavyHittersSketch)
    register("bloom_might_contain", { case Seq(s, c) => BloomMightContain(s, c) })
    register("hll_estimate", { case Seq(s) => HllEstimate(s) })
    // "graft_" prefix: Spark 4.1 ships a BUILTIN hll_union (Datasketches
    // binary format) — registering under the same name would silently
    // shadow it in extension-enabled sessions and then fail on its
    // sketches. Every graft SQL name must avoid builtin collisions.
    register("graft_hll_union", { case Seq(a, b) => HllUnion(a, b) })
    register("cms_estimate", { case Seq(s, c) => CmsEstimate(s, c) })
    register("kll_quantile", { case Seq(s, q) => KllQuantile(s, q) })
    register("kll_rank", { case Seq(s, v) => KllRank(s, v) })
    register("kll_histogram", { case Seq(s, b) => KllHistogram(s, b) })
  }
}
