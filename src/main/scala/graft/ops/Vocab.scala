package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}

/** Vocabulary-induction primitives: corpus-wide adjacent-token-pair
  * frequencies — the counting step a BPE/WordPiece trainer iterates
  * (count pairs, merge the winner, re-count). One full merge loop is a
  * driver-side iteration over [[pairCounts]]; the expensive part — the
  * corpus-scale count — is what has to distribute, and it is a pure
  * explode + partial-aggregated count here (map-side combine collapses
  * the pair stream before the only shuffle; the exchange carries
  * (pair, count), never token streams).
  */
object Vocab {

  /** Adjacent token-pair frequencies over `textCol` (tokenization =
    * [[Tokenizer.space]]: split on single space, drop empties).
    * Output: (w1, w2, cnt) — one row per distinct ordered pair;
    * documents with fewer than two tokens contribute nothing.
    */
  def pairCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = Tokenizer.space(F.col(textCol))
    val n = F.size(t)
    df.select(
        F.slice(t, F.lit(1), F.greatest(n - 1, F.lit(0))).as("__l"),
        F.slice(t, F.lit(2), F.greatest(n - 1, F.lit(0))).as("__r"))
      .select(F.explode(F.arrays_zip(F.col("__l"), F.col("__r"))).as("__p"))
      .select(F.col("__p.__l").as("w1"), F.col("__p.__r").as("w2"))
      .groupBy("w1", "w2").agg(F.count(F.lit(1)).as("cnt"))
  }

  /** The `k` most frequent adjacent pairs (ties broken by (w1, w2) so
    * the answer is a deterministic set — the next BPE merge candidates).
    * `orderBy.limit` compiles to TakeOrderedAndProject: per-partition
    * top-k then a k-row merge, never a global sort. */
  def topPairs(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    pairCounts(df, textCol)
      .orderBy(F.col("cnt").desc, F.col("w1"), F.col("w2"))
      .limit(k)
  }

  /** Top-`v` corpus tokens by frequency — the word-vocabulary cut
    * tokenizer-coverage QA starts from. Deterministic at the boundary:
    * ties break ascending on the token itself. Output: (token, freq).
    * The top-v compiles to TakeOrdered (bounded by v per partition),
    * never a global sort. */
  def wordVocab(df: DataFrame, textCol: String, v: Int): DataFrame = {
    require(v >= 1, "v must be >= 1")
    df.select(F.explode(Tokenizer.space(F.col(textCol))).as("token"))
      .groupBy("token").agg(F.count(F.lit(1)).as("freq"))
      .orderBy(F.col("freq").desc, F.col("token").asc)
      .limit(v)
  }

  /** Per-document vocabulary coverage against `vocab` (any DataFrame
    * with a `token` column — typically [[wordVocab]]'s output): token
    * count, out-of-vocabulary count and rate. The OOV rate is the
    * tokenizer-QA gate every pipeline runs before committing to a
    * vocabulary — a rate spike on a slice means the vocab was trained
    * on the wrong distribution.
    *
    * Shape at scale: the vocabulary is broadcast (bounded by v), so
    * the token stream never shuffles — the only exchange carries
    * (doc id, partial counters). Documents with zero tokens have no
    * rows to count and drop out. */
  def oovReport(df: DataFrame, idCol: String, textCol: String,
      vocab: DataFrame): DataFrame = {
    val toks = df.select(F.col(idCol).as("__id"),
      F.explode(Tokenizer.space(F.col(textCol))).as("__t"))
    val inVocab = F.broadcast(vocab.select(F.col("token").as("__t")).distinct()
      .withColumn("__in", F.lit(true)))
    toks.join(inVocab, Seq("__t"), "left")
      .groupBy(F.col("__id"))
      .agg(F.count(F.lit(1)).as("n_tokens"),
        F.sum(F.when(F.col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_rate", F.col("n_oov") / F.col("n_tokens"))
      .withColumnRenamed("__id", idCol)
  }

  /** Train `numMerges` character-level BPE merges (Sennrich et al. 2016)
    * over the corpus. Returns one row per merge in training order:
    * (rank, left, right, pair_count), rank 1-based; ties in pair count
    * break lexicographically on (left, right), so training is fully
    * deterministic.
    *
    * Shape at scale: the ONLY corpus-scale pass is the distributed
    * word-frequency aggregation (explode + map-side-combined count). The
    * merge loop then runs on the DISTINCT-word table, whose size is
    * bounded by the language's vocabulary, not the corpus — millions of
    * rows at 100 TB, not billions — which is why every production BPE
    * trainer (and this one) pulls it to one machine. `maxDistinctWords`
    * guards the collect: the trainer keeps the most frequent words and
    * drops the tail beyond the cap — rare hapaxes contribute negligible
    * pair mass; callers needing exactness raise the cap. Each word ends
    * with the terminal marker `</w>` so end-of-word units merge
    * separately from word-internal ones, per the original algorithm. */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
      maxDistinctWords: Int = 10000000): DataFrame = {
    require(numMerges >= 1, "numMerges must be >= 1")
    val spark = df.sparkSession
    val wordFreq = df
      .select(F.explode(Tokenizer.space(F.col(textCol))).as("w"))
      .groupBy("w").agg(F.count(F.lit(1)).as("c"))
      .orderBy(F.col("c").desc, F.col("w"))
      .limit(maxDistinctWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // words as mutable symbol sequences, weighted by frequency
    val syms: Array[Array[String]] = wordFreq.map { case (w, _) =>
      w.map(_.toString).toArray :+ "</w>"
    }
    val weight: Array[Long] = wordFreq.map(_._2)
    val merges = Seq.newBuilder[(Int, String, String, Long)]

    // INCREMENTAL pair accounting (the standard Sennrich trainer): a
    // merge only changes words that CONTAIN the merged pair, so the
    // global pair counts and a pair -> word-ids index are adjusted for
    // that subset only. A full recount per merge would cost
    // O(numMerges x total symbols) — intractable at a 32k-merge
    // vocabulary over a 10M-word table; this loop costs O(affected
    // words + distinct-pairs argmax scan) per merge and produces
    // byte-identical merges (counts after each step equal the full
    // recount, so the deterministic (-count, left, right) argmax picks
    // the same pair). Index sets may go stale for pairs a fusion
    // removed from a word — harmless: the count delta is exact, and a
    // stale member just wastes one no-op re-fuse when its pair wins.
    val counts = scala.collection.mutable.Map[(String, String), Long]()
    val index = scala.collection.mutable.Map[(String, String),
      scala.collection.mutable.Set[Int]]()
    def bump(s: Array[String], delta: Long, wi: Int, addToIndex: Boolean): Unit = {
      var i = 0
      while (i < s.length - 1) {
        val p = (s(i), s(i + 1))
        val n = counts.getOrElse(p, 0L) + delta
        if (n == 0L) counts.remove(p) else counts(p) = n
        if (addToIndex) {
          index.getOrElseUpdate(p, scala.collection.mutable.Set[Int]()) += wi
        }
        i += 1
      }
    }
    var wi0 = 0
    while (wi0 < syms.length) { bump(syms(wi0), weight(wi0), wi0, addToIndex = true); wi0 += 1 }

    var rank = 1
    var done = false
    while (rank <= numMerges && !done) {
      if (counts.isEmpty) done = true
      else {
        val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
        merges += ((rank, l, r, c))
        val fused = l + r
        val affected = index.getOrElse((l, r),
          scala.collection.mutable.Set.empty[Int]).toArray
        var ai = 0
        while (ai < affected.length) {
          val wi = affected(ai)
          val s = syms(wi)
          if (s.length >= 2) {
            bump(s, -weight(wi), wi, addToIndex = false)
            val out = scala.collection.mutable.ArrayBuffer[String]()
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) {
                out += fused; i += 2
              } else { out += s(i); i += 1 }
            }
            syms(wi) = out.toArray
            bump(syms(wi), weight(wi), wi, addToIndex = true)
          }
          ai += 1
        }
        index.remove((l, r))
        rank += 1
      }
    }
    import spark.implicits._
    merges.result().toDF("rank", "left", "right", "pair_count")
      .select(F.col("rank").cast("long"), F.col("left"), F.col("right"),
        F.col("pair_count"))
  }

  /** Encode one word with a trained merge list: start from characters +
    * `</w>`, repeatedly apply the lowest-rank applicable merge (the
    * standard BPE encode order — training order, not position order). */
  private[ops] def encodeWord(word: String,
      ranks: Map[(String, String), Int]): Array[String] = {
    var s: Array[String] = word.map(_.toString).toArray :+ "</w>"
    var continue = s.length >= 2
    while (continue) {
      var best = Int.MaxValue; var bi = -1
      var i = 0
      while (i < s.length - 1) {
        val r = ranks.getOrElse((s(i), s(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) continue = false
      else {
        val fused = s(bi) + s(bi + 1)
        // fuse ALL occurrences of this exact pair, left to right — same
        // result as one-at-a-time lowest-rank application, fewer scans
        val out = scala.collection.mutable.ArrayBuffer[String]()
        var j = 0
        while (j < s.length) {
          if (j < s.length - 1 && s(j) == s(bi) && s(j + 1) == s(bi + 1)) {
            out += fused; j += 2
          } else { out += s(j); j += 1 }
        }
        s = out.toArray
        continue = s.length >= 2
      }
    }
    s
  }

  /** Tokenize the corpus with a trained BPE merge table ([[bpeTrain]]'s
    * output, collected — vocabulary-bounded, so broadcasting it as a
    * task closure is the right shape). Output: (idCol, subwords:
    * array<string>, n_subwords). `mapPartitions` because BPE encoding
    * is an iterative merge automaton no built-in expression can state;
    * the per-partition closure builds the rank map once per task. */
  def applyBpe(df: DataFrame, idCol: String, textCol: String,
      merges: Array[(String, String)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val ranks = merges.zipWithIndex.map { case (p, i) => (p, i) }.toMap
    val enc = df.select(F.col(idCol).cast("long"), F.col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        // per-word memo: corpora repeat words heavily, and encoding is
        // deterministic per word
        val memo = scala.collection.mutable.Map[String, Array[String]]()
        it.map { case (id, text) =>
          val subs = Tokenizer.space(text).iterator.flatMap { w =>
            memo.getOrElseUpdate(w, encodeWord(w, ranks))
          }.toArray
          (id, subs, subs.length.toLong)
        }
      }
    enc.toDF(idCol, "subwords", "n_subwords")
  }
}
