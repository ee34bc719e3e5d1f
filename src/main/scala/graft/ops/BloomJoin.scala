package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.catalyst.optimizer.BuildRight
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}

import graft.sketch.HllSketch
import graft.spark.SketchDefaults.HllP
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
  * The prefilter runs only when the join shuffles the probe side. Both
  * operators first plan the exact join (`large` against the build keys)
  * and read the planner's physical plan, which costs no job. When the
  * planner broadcasts the build side (Spark's
  * `autoBroadcastJoinThreshold` or a join hint), the probe side never
  * crosses an exchange, so there is no shuffle to save: the exact join
  * is returned as it is, and the key sketch is never built.
  * Spark's own runtime Bloom filters (`InjectRuntimeFilter`) follow the
  * same rule and go only on probable shuffle joins.
  *
  * The build keys are de-duplicated only where they cross an exchange,
  * in the prefiltered join. A left-semi or left-anti join gives the same
  * rows with or without repeated build keys, and the planner sizes a
  * distinct aggregate as it sizes its input, so the broadcast join
  * skips the aggregate and its shuffle.
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

  /** `large` joined to the build keys, `distinct` or as they are: the
    * exact tail of both operators. A using-column join puts the key
    * column first. */
  private def exactJoin(large: DataFrame, largeKey: String, small: DataFrame,
      smallKey: String, how: String, distinct: Boolean): DataFrame = {
    val keys = small.select(F.col(smallKey).as(largeKey))
    large.join(if (distinct) keys.distinct() else keys, Seq(largeKey), how)
  }

  /** Whether the planner broadcasts the build side of `join`, the
    * top-most join in its plan. Reads the physical plan: no job. */
  private[ops] def broadcastsBuildSide(join: DataFrame): Boolean =
    join.queryExecution.sparkPlan.collectFirst { case j: BaseJoinExec => j }.exists {
      case b: BroadcastHashJoinExec => b.buildSide == BuildRight
      case _ => false
    }

  /** Exact `large SEMI JOIN small ON large(largeKey) = small(smallKey)`,
    * Bloom-prefiltered when the join shuffles `large`. */
  def semi(large: DataFrame, largeKey: String, small: DataFrame, smallKey: String,
      bitsPerItem: Int = 16, kernel: String = "murmur2"): DataFrame = {
    val exact = exactJoin(large, largeKey, small, smallKey, "left_semi", distinct = false)
    if (broadcastsBuildSide(exact)) exact
    else {
      val sketch = keySketch(small, smallKey, bitsPerItem, kernel)
      exactJoin(large.filter(bloom_might_contain(F.lit(sketch), F.col(largeKey))),
        largeKey, small, smallKey, "left_semi", distinct = true)
    }
  }

  /** Exact `large ANTI JOIN small`, in `large`'s column order and keeping
    * `large`'s null-key rows. When the join shuffles `large`,
    * Bloom-rejected rows ship straight to the output (no false
    * negatives => provably absent) and only the "might contain" subset
    * pays the exact anti join. */
  def anti(large: DataFrame, largeKey: String, small: DataFrame, smallKey: String,
      bitsPerItem: Int = 16, kernel: String = "murmur2"): DataFrame = {
    val exact = exactJoin(large, largeKey, small, smallKey, "left_anti", distinct = false)
    if (broadcastsBuildSide(exact)) exact.select(large.columns.toSeq.map(F.col): _*)
    else {
      val sketch = keySketch(small, smallKey, bitsPerItem, kernel)
      val pred = bloom_might_contain(F.lit(sketch), F.col(largeKey))
      val definitelyAbsent = large.filter(F.col(largeKey).isNotNull && !pred)
      val maybe = exactJoin(large.filter(F.col(largeKey).isNull || pred),
        largeKey, small, smallKey, "left_anti", distinct = true)
      // unionByName, NOT positional unionAll: the using-column join moves
      // the key column first, so the two branches' column orders differ
      // whenever largeKey is not large's first column
      definitelyAbsent.unionByName(maybe)
    }
  }
}
