package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}

/** Skew-immune within-group self-pairing — the candidate-generation
  * primitive every LSH/prefix dedup family shares.
  *
  * A plain self-join on the group key routes ALL pair generation for one
  * group through one join key: a 1,000-member near-dup cluster (one
  * boilerplate page crawled 1,000 times — the r5 hotspot corpus) becomes
  * a single ~500k-pair reducer task while every other task finishes in
  * milliseconds (measured: one 186 s task inside a 254 s query,
  * within-stage skew 17x). The pairs are real output — no filter removes
  * them — so the only fix is to SPREAD their generation.
  *
  * Standard B x B bucket grid: members of a hot group are hashed into B
  * buckets; a member in bucket g enters the join as the LEFT side of
  * every grid cell (g, j), j in [0, B), and as the RIGHT side of every
  * cell (i, g), i in [0, B). An ordered pair with buckets (ga, gb) meets
  * in exactly the cell (ga, gb) — so the output is the IDENTICAL multiset
  * of ordered pairs (self-pairs and both orders included) a plain
  * self-join produces, and callers keep their usual `id_a < id_b`
  * post-filter unchanged. Per-member replication is B rows per side;
  * per-cell pair work drops from n^2 to (n/B)^2 — the worst task shrinks
  * by B^2 for a B-factor volume of (key, id)-sized rows, the classic
  * skew trade.
  *
  * Group populations are counted in one map-side-combined pass over
  * (key) rows; only groups above `hotThreshold` enter the census (there
  * are at most |rows|/hotThreshold of them) — every other group rides
  * the same grid join with B = 1, which degenerates to exactly the
  * plain join's matching (one cell per group) at the cost of two
  * constant int join-key columns. ONE join for all temperatures: the r5
  * design ran a separate plain join for cold groups and unioned, which
  * computed the (potentially expensive) input subtree four times — two
  * sides x two branches — where this computes it twice (r6 measurement,
  * guide "remove shuffles/duplicate work outright").
  */
object SkewJoin {

  /** All within-group ordered pairs of `df`'s rows. Output columns:
    * `keyCols` ++ (`__l`, `__r`) — each side's non-key columns packed as
    * a struct. Semantically identical (same multiset of ordered pairs)
    * to `df.join(df, keyCols)`; hot groups are grid-spread.
    *
    * `hotThreshold` must exceed 1; `maxBuckets` caps the grid so the
    * replication factor stays bounded. Rows with a null in any key
    * column never pair (join semantics: the final equi-join drops null
    * keys).
    *
    * Constant group keys (the probeAll exact-oracle regimes) are safe
    * WITHOUT a special path: the grid's bucket columns are computed from
    * the row (pmod of a hash), so even a constant-key group presents
    * real, non-foldable equi-join keys and Catalyst cannot collapse the
    * join into the cartesian the plan audit bans.
    *
    * The hot-group census joins the rows for the tag-attach under a
    * broadcast hint. The census is keys + an int per HOT group — at most
    * |rows|/hotThreshold rows and tiny in every measured regime — and the
    * hint matters because callers persist the pair DAG: under an
    * InMemoryRelation AQE either cannot re-plan the join (default config
    * — measured 78 s cold / stage-skew 42 on the r5 hotspot corpus vs
    * 20 s hinted) or re-plans at the cost of cache partitioning churn
    * (canChangeCachedPlanOutputPartitioning=true — measured 61 s cold /
    * 67 s warm). */
  def selfPairsWithinGroups(
      df: DataFrame,
      keyCols: Seq[String],
      hotThreshold: Int = 256,
      maxBuckets: Int = 64): DataFrame = {
    require(keyCols.nonEmpty, "at least one group key column")
    require(hotThreshold > 1, "hotThreshold must be > 1")
    require(maxBuckets >= 2, "maxBuckets must be >= 2")
    val keys: Seq[Column] = keyCols.map(F.col)
    val others = df.columns.filterNot(keyCols.contains)
    require(others.nonEmpty, "df needs at least one non-key column")
    val packed = df.select(keys :+ F.struct(others.toIndexedSeq.map(F.col): _*).as("__e"): _*)

    // one cheap counting pass (map-side combined; carries keys + a long)
    val counted = packed.groupBy(keys: _*)
      .agg(F.count(F.lit(1)).as("__n"))
    val hot = counted.filter(F.col("__n") > hotThreshold)
      .select(keys :+ F.greatest(F.lit(1), F.least(
        F.ceil(F.col("__n").cast("double") / hotThreshold).cast("int"),
        F.lit(maxBuckets))).as("__b"): _*)

    // The broadcast hint is NOT optional: callers persist the pair DAG,
    // and a join under an InMemoryRelation is frozen before AQE's runtime
    // stats could pick a broadcast (see the method doc's measured A/B).
    // The census is bounded at |rows|/hotThreshold rows of keys+int.
    val census = F.broadcast(hot)
    // cold groups (absent from the census) take B = 1: their grid is a
    // single cell, i.e. the plain join's matching
    val tagged = packed.join(census, keyCols, "left")
      .withColumn("__bb", F.coalesce(F.col("__b"), F.lit(1)))
      // deterministic bucket: hash of the packed element (stable under
      // retries), folded into [0, B)
      .withColumn("__g",
        F.pmod(F.xxhash64(F.col("__e")), F.col("__bb").cast("long")).cast("int"))
    val leftH = tagged.select(
      keys ++ Seq(F.col("__g").as("__k1"),
        F.explode(F.sequence(F.lit(0), F.col("__bb") - 1)).as("__k2"),
        F.col("__e").as("__l")): _*)
    val rightH = tagged.select(
      keys ++ Seq(F.explode(F.sequence(F.lit(0), F.col("__bb") - 1)).as("__k1"),
        F.col("__g").as("__k2"),
        F.col("__e").as("__r")): _*)
    // PIN the grid join's partition count. AQE coalesces post-shuffle
    // partitions by INPUT BYTES, but this join's work is its OUTPUT —
    // within-cell pair generation amplifies a few MB of (key, id) rows
    // into millions of pairs — so byte-based coalescing merges the whole
    // grid into one or two partitions and serializes exactly the compute
    // the grid exists to spread (measured at 10x scale: the SRP-bucketed
    // embedding query ran its 25M candidate pairs in ONE 7.6 s task,
    // warm pass 18 s vs 9 s). An explicit numbered repartition on the
    // join keys is exempt from AQE coalescing and satisfies the join's
    // distribution requirement, so it pins width without adding an
    // exchange. The count comes from the session's configured shuffle
    // width — cluster-sized in production, never a local constant.
    val n = gridWidth(df.sparkSession.conf.get("spark.sql.shuffle.partitions"),
      df.sparkSession.sparkContext.defaultParallelism)
    val joinKeys = (keyCols ++ Seq("__k1", "__k2")).map(F.col)
    leftH.repartition(n, joinKeys: _*)
      .join(rightH.repartition(n, joinKeys: _*), keyCols ++ Seq("__k1", "__k2"))
      .drop("__k1", "__k2")
  }

  /** The grid join's pinned width, read from a `spark.sql.shuffle.partitions`
    * value. A non-integer setting ("auto", which some Spark platforms
    * accept) carries no width, so the context's default parallelism
    * stands in instead of a NumberFormatException. */
  private[ops] def gridWidth(shufflePartitions: String, defaultParallelism: => Int): Int =
    shufflePartitions.toIntOption.getOrElse(defaultParallelism)
}
