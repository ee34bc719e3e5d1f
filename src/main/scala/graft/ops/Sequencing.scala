package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Sequence-shaping ops for training-data preparation: context-window
  * chunking (split long documents into overlapping token windows) and
  * deterministic contiguous packing (assign each document its byte/token
  * offset and shard in one global stream — the "concatenate everything
  * and cut every C tokens" layout every autoregressive training run
  * feeds on).
  *
  * Packing needs a GLOBAL running total, which naive
  * `Window.orderBy(id)` computes on a single partition — a non-starter
  * at corpus scale. [[prefixSum]] is the classic two-level scan instead:
  * a parallel per-bucket cumulative sum plus a tiny bucket-offset
  * table, all declarative (no mapPartitions, no driver collect).
  */
object Sequencing {

  /** Exact floor division of a NON-NEGATIVE column by a positive
    * constant. `a / c` on columns is DOUBLE division, whose half-ulp
    * rounding can cross an integer boundary once numerators reach
    * corpus-scale token offsets; subtracting the remainder first makes
    * the quotient an exact integer, which IEEE division returns
    * exactly (any integer up to 2^53 is representable). */
  private def idiv(a: Column, c: Long): Column =
    ((a - F.pmod(a, F.lit(c))) / F.lit(c)).cast("long")

  /** Split each document into token windows of `window` tokens taken
    * every `stride` tokens (stride < window ⇒ overlapping chunks, the
    * usual long-context training layout). Output: (idCol, chunk_idx,
    * chunk_text, n_tokens), where the last chunk keeps the tail
    * (n_tokens < window) rather than padding, and empty documents
    * produce no rows.
    *
    * Pure projection — no shuffle at all; chunk starts are integer
    * arithmetic (never floating ceil) so any SQL engine reproduces them
    * bit-for-bit.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      window: Int, stride: Int): DataFrame = {
    require(window >= 1, "window must be >= 1")
    require(stride >= 1 && stride <= window, "stride must be in [1, window]")
    // All chunks are built inside ONE generator with the token array
    // bound to a lambda variable: a plain column alias for the tokens
    // gets re-inlined by CollapseProject into every chunk row,
    // re-tokenizing the whole document once per chunk — O(n·chunks)
    // per document (the duplicateSpans lesson, measured ~10x there).
    val chunkStructs = F.flatten(F.transform(
      F.array(Tokenizer.space(F.col(textCol))), w => {
        val n = F.size(w)
        // last start = smallest multiple of stride covering token n-1:
        // ceil((n-window)/stride)*stride, clamped at 0 — integer ceil
        // via (x + stride - 1) div stride on the non-negative overflow
        val lastStart =
          idiv(F.greatest(n - window, F.lit(0)).cast("long") + (stride - 1),
            stride) * stride
        F.when(n > 0,
            F.transform(
              F.sequence(F.lit(0L), lastStart, F.lit(stride.toLong)), st =>
                F.struct(
                  idiv(st, stride).as("chunk_idx"),
                  F.array_join(F.slice(w, (st + 1).cast("int"),
                    F.lit(window)), " ").as("chunk_text"),
                  F.least(F.lit(window.toLong), n.cast("long") - st)
                    .as("n_tokens"))))
          .otherwise(F.array().cast(
            "array<struct<chunk_idx:bigint,chunk_text:string,n_tokens:bigint>>"))
      }))
    df.select(F.col(idCol), F.explode(chunkStructs).as("__c"))
      .select(F.col(idCol), F.col("__c.chunk_idx"),
        F.col("__c.chunk_text"), F.col("__c.n_tokens"))
  }

  /** Global inclusive running total of `valueCol` in `orderCol` order,
    * added as column `cumCol` — the scalable two-level scan. `bucket`
    * MUST be monotonic non-decreasing in `orderCol` (e.g.
    * `floor(id / width)` for a numeric id); `orderCol` must be unique.
    *
    * Shape: one shuffle clusters rows by bucket for the parallel
    * within-bucket cumulative window; bucket totals partial-aggregate
    * map-side to an O(buckets) table whose own prefix sum runs on one
    * partition (fine — thousands of rows), and rejoins by broadcast.
    * Nothing ever funnels the DATA through one partition.
    */
  def prefixSum(df: DataFrame, orderCol: String, valueCol: String,
      bucket: Column, cumCol: String = "cum"): DataFrame = {
    // a null bucket would be silently CORRUPTING, not just dropped: the
    // null group sorts first in the offset window (inflating every real
    // bucket's offset) while its own rows vanish at the inner join —
    // fail loudly at the first null instead
    val withB = df.withColumn("__b",
      F.when(bucket.isNotNull, bucket).otherwise(F.raise_error(F.lit(
        "prefixSum: bucket expression evaluated to NULL — null order keys corrupt cumulative offsets"))))
    val local = F.sum(F.col(valueCol)).over(
      Window.partitionBy(F.col("__b")).orderBy(F.col(orderCol))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    // offset of each bucket = sum of all PRECEDING buckets' totals
    val totals = withB.groupBy(F.col("__b"))
      .agg(F.sum(F.col(valueCol)).as("__bt"))
    val offsets = totals.select(F.col("__b"),
      F.coalesce(F.sum(F.col("__bt")).over(
        Window.orderBy(F.col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)).as("__off"))
    withB.withColumn("__local", local)
      .join(F.broadcast(offsets), Seq("__b"))
      .withColumn(cumCol, F.col("__local") + F.col("__off"))
      .drop("__b", "__local", "__off")
  }

  /** Dense rank of each row WITHIN its group, in `orderCol` order,
    * without ever sorting a whole group on one reducer: the same
    * two-level scan as [[prefixSum]], partitioned per group. `subBucket`
    * must be monotonic non-decreasing in `orderCol` within each group
    * (e.g. `floor(id / width)`); `orderCol` must be unique per group.
    * Adds `rankCol` (1-based).
    *
    * Shape: the row-level window partitions on (group, subBucket) — many
    * small partitions even when one group dominates the corpus — and the
    * per-(group, subBucket) count table (O(groups × buckets) rows, not
    * O(rows)) takes the only per-group sequential pass before
    * broadcasting back. */
  def groupedRank(df: DataFrame, groupCols: Seq[String], orderCol: String,
      subBucket: Column, rankCol: String = "rank"): DataFrame = {
    require(groupCols.nonEmpty, "groupedRank needs group columns")
    val g = groupCols.map(F.col)
    // same null-bucket guard as prefixSum: a null sub-bucket shifts
    // every later bucket's offset and then drops its rows at the join
    val withB = df.withColumn("__sb",
      F.when(subBucket.isNotNull, subBucket).otherwise(F.raise_error(F.lit(
        "groupedRank: subBucket expression evaluated to NULL — null order keys corrupt rank offsets"))))
    val local = F.row_number().over(
      Window.partitionBy((g :+ F.col("__sb")): _*).orderBy(F.col(orderCol)))
    val counts = withB.groupBy((g :+ F.col("__sb")): _*)
      .agg(F.count(F.lit(1)).as("__c"))
    val offsets = counts.select((g :+ F.col("__sb") :+
      F.coalesce(F.sum(F.col("__c")).over(
        Window.partitionBy(g: _*).orderBy(F.col("__sb"))
          .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)).as("__off")): _*)
    withB.withColumn("__local", local)
      .join(F.broadcast(offsets), groupCols :+ "__sb")
      .withColumn(rankCol, F.col("__local") + F.col("__off"))
      .drop("__sb", "__local", "__off")
  }

  /** Padding-efficient dynamic batching: group sequences of similar
    * length so fixed-size training batches pad each sequence only to
    * its BATCH maximum, not the corpus maximum. Sequences land in
    * length bucket `floor(nTokens / bucketWidth)`; within a bucket they
    * batch `batchSize` at a time in `idCol` order (already
    * length-homogeneous — that is what the bucket is for). Output, one
    * row per batch: (bucket, batch_idx, n_seqs, max_tokens, sum_tokens,
    * padding_frac), where padding_frac = 1 - sum/(n·max) is the wasted
    * compute the bucketing exists to minimize.
    *
    * Ranks come from [[groupedRank]], so a skewed length distribution
    * (most of a corpus in one bucket) still parallelizes — nothing
    * sorts a whole bucket on one task. */
  def lengthBucketedBatches(df: DataFrame, idCol: String, nTokensCol: String,
      bucketWidth: Long, batchSize: Int,
      idSubBucketWidth: Long = 10000L): DataFrame = {
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    require(batchSize >= 1, "batchSize must be >= 1")
    val base = df.select(F.col(idCol),
      F.col(nTokensCol).cast("long").as("__nt"))
      .withColumn("bucket", idiv(F.col("__nt"), bucketWidth))
    val ranked = groupedRank(base, Seq("bucket"), idCol,
      idiv(F.col(idCol).cast("long"), idSubBucketWidth), rankCol = "__rk")
    ranked
      .withColumn("batch_idx", idiv(F.col("__rk") - 1, batchSize.toLong))
      .groupBy(F.col("bucket"), F.col("batch_idx"))
      .agg(F.count(F.lit(1)).as("n_seqs"),
        F.max(F.col("__nt")).as("max_tokens"),
        F.sum(F.col("__nt")).as("sum_tokens"))
      .withColumn("padding_frac",
        F.lit(1.0) - F.col("sum_tokens") /
          (F.col("n_seqs") * F.col("max_tokens")))
  }

  /** Deterministic epoch shuffle: assign every row its position in a
    * seeded pseudo-random global training order, plus its interleaved
    * shard — the "shuffle the corpus once per epoch, deal rows
    * round-robin to data-loader workers" layout, computed as metadata
    * (no row ever moves through a single reducer).
    *
    * `keyCol` is the shuffle key (any deterministic scramble of the id:
    * `murmur64(id)`, or an LCG like `(id*48271 + seed) % 2147483647`
    * when the consumer must re-derive it in plain SQL); rows order by
    * (key pmod 2^62, id) — the id tie-break makes the order total even
    * under key collisions. Position comes from the same two-level scan
    * as [[prefixSum]]: a per-bucket `row_number` (bucket =
    * `floor(key / keyBucketWidth)`, so pick the width to split the
    * KEY RANGE into ~tens of thousands of buckets) plus an O(buckets)
    * offset table — never a global sort on one task. Output: idCol,
    * `position` (0-based global), `shard` (= position mod numShards),
    * `pos_in_shard` (= position div numShards).
    */
  def epochShuffle(df: DataFrame, idCol: String, keyCol: Column,
      numShards: Int, keyBucketWidth: Long): DataFrame = {
    require(numShards >= 1, "numShards must be >= 1")
    require(keyBucketWidth >= 1, "keyBucketWidth must be >= 1")
    // pmod into [0, 2^62) so bucket arithmetic never sees a negative
    // key (raw murmur64 is signed); deterministic, order within a
    // bucket is whatever the pmod gives — total order via the id
    val key = F.pmod(keyCol.cast("long"), F.lit(1L << 62))
    val base = df.select(F.col(idCol), key.as("__k"))
      .withColumn("__b", idiv(F.col("__k"), keyBucketWidth))
    val local = F.row_number().over(
      Window.partitionBy(F.col("__b")).orderBy(F.col("__k"), F.col(idCol)))
    val counts = base.groupBy(F.col("__b")).agg(F.count(F.lit(1)).as("__c"))
    val offsets = counts.select(F.col("__b"),
      F.coalesce(F.sum(F.col("__c")).over(
        Window.orderBy(F.col("__b"))
          .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)).as("__off"))
    base.withColumn("__local", local.cast("long"))
      .join(F.broadcast(offsets), Seq("__b"))
      .withColumn("position", F.col("__local") + F.col("__off") - 1L)
      .select(F.col(idCol), F.col("position"),
        F.pmod(F.col("position"), F.lit(numShards.toLong)).as("shard"),
        idiv(F.col("position"), numShards.toLong).as("pos_in_shard"))
  }

  /** Contiguous greedy packing of the corpus token stream into
    * capacity-`capacity` shards: documents concatenate in `idCol`
    * order; each gets its global `start_offset` and the shard (`bin`)
    * its first token lands in — documents may straddle a boundary, as
    * in a packed autoregressive token stream. Ids must be
    * non-negative. Output: (idCol, n_tokens, start_offset, bin).
    *
    * `bucketWidth` groups ids for the two-level scan; any width works
    * (result is width-independent), it only tunes scan parallelism —
    * pick ~corpus/100k so each bucket holds a few thousand docs.
    */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
      capacity: Long, bucketWidth: Long = 10000L): DataFrame = {
    require(capacity >= 1, "capacity must be >= 1")
    require(bucketWidth >= 1, "bucketWidth must be >= 1")
    val cum = prefixSum(
      df.select(F.col(idCol), F.col(nTokensCol).cast("long").as("n_tokens")),
      idCol, "n_tokens", idiv(F.col(idCol).cast("long"), bucketWidth),
      cumCol = "__cum")
    cum.select(F.col(idCol), F.col("n_tokens"),
        (F.col("__cum") - F.col("n_tokens")).as("start_offset"),
        idiv(F.col("__cum") - F.col("n_tokens"), capacity).as("bin"))
  }
}
