package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}

import graft.sketch.HllSketch
import graft.spark.functions.{bloom_might_contain, bloom_sketch, hll_distinct}

/** Bloom-accelerated exact semi/anti joins — the reference's `ckblm`
  * membership filter (`cmd/ckblm.java:63-66`) promoted to a JOIN
  * pushdown, the classic runtime-filter pattern made explicit.
  *
  * Shape at scale: the probe side is filtered by a compact Bloom sketch
  * of the build side's keys BEFORE any exchange, so the join shuffles
  * |matches| + |false positives| rows instead of |large|. Bloom
  * guarantees no false negatives, which yields exactness both ways:
  *
  *  - SEMI: the prefilter may pass false positives, so an exact
  *    left-semi join runs after it — on the (small) surviving subset.
  *  - ANTI: rows the filter rejects are PROVABLY absent from the build
  *    side and are emitted directly; only the "maybe" subset pays an
  *    exact anti join. With FPR ~0.62^bitsPerItem, the exact-join input
  *    shrinks to |matches| + ~FPR·|large|.
  *
  * Sizing: the sketch is built at `maxSize = distinct build keys` — the
  * mkblm sizing rule — bounded from one pass over the (small) build side
  * that counts rows and estimates distinct keys (see `keySketch`).
  *
  * Kernel choice: integral keys canonicalize to 8-byte binary and are
  * safe with the default murmur2. For SHORT DECIMAL-STRING keys pass
  * `kernel = "jenkins"` — the reference's murmur2 seed-by-index k-vector
  * provably collapses Bloom FPR on such keys (to ~50% at bpi=16; pinned
  * in BloomSketchSpec against the compiled reference), which would keep
  * the prefilter correct but useless.
  */
object BloomJoin {

  /** The build side's key sketch. One pass computes the row count and
    * the engine's HLL distinct estimate; the sketch is sized for
    * `min(count, ⌈estimate·(1 + 3·SE)⌉)` keys, floor 128 (tiny builds
    * stay valid 128-bit-set filters). The HLL bound keeps a
    * duplicate-heavy build side from paying for its repeats — raw row
    * count sized a 10x-repeated side 10x over — while three standard
    * errors of headroom keep the filter at or above the mkblm
    * bits-per-distinct-item target with high probability. Re-putting a
    * duplicate key sets the identical bits, so the sketch CONTENT needs
    * no distinct. Join results are exact regardless of FPR (semi/anti
    * re-verify), so sizing affects cost, never output. */
  private[ops] def keySketch(small: DataFrame, smallKey: String, bitsPerItem: Int,
      kernel: String): Array[Byte] = {
    val keys = small.select(F.col(smallKey)).na.drop()
    val stats = keys.agg(F.count(F.lit(1)), hll_distinct(F.col(smallKey), HllP)).head()
    val distinctBound = math.ceil(stats.getLong(1) * (1 + 3 * HllSketch.standardError(HllP))).toLong
    val n = math.max(128L, math.min(stats.getLong(0), distinctBound))
    keys.agg(bloom_sketch(F.col(smallKey), n, bitsPerItem, kernel))
      .head().getAs[Array[Byte]](0)
  }

  private final val HllP = 14

  /** Exact `large SEMI JOIN small ON large(largeKey) = small(smallKey)`,
    * Bloom-prefiltered. */
  def semi(large: DataFrame, largeKey: String, small: DataFrame, smallKey: String,
      bitsPerItem: Int = 16, kernel: String = "murmur2"): DataFrame = {
    val sketch = keySketch(small, smallKey, bitsPerItem, kernel)
    large.filter(bloom_might_contain(F.lit(sketch), F.col(largeKey)))
      .join(small.select(F.col(smallKey).as(largeKey)).distinct(),
        Seq(largeKey), "left_semi")
  }

  /** Exact `large ANTI JOIN small`: Bloom-rejected rows ship straight to
    * the output (no false negatives => provably absent); only the
    * "might contain" subset pays the exact anti join. */
  def anti(large: DataFrame, largeKey: String, small: DataFrame, smallKey: String,
      bitsPerItem: Int = 16, kernel: String = "murmur2"): DataFrame = {
    val sketch = keySketch(small, smallKey, bitsPerItem, kernel)
    val pred = bloom_might_contain(F.lit(sketch), F.col(largeKey))
    val definitelyAbsent = large.filter(F.col(largeKey).isNotNull && !pred)
    val maybe = large.filter(F.col(largeKey).isNull || pred)
      .join(small.select(F.col(smallKey).as(largeKey)).distinct(),
        Seq(largeKey), "left_anti")
    // unionByName, NOT positional unionAll: a using-column join moves the
    // key column first in its output, so the two branches' column orders
    // differ whenever largeKey is not large's first column
    definitelyAbsent.unionByName(maybe)
  }
}
