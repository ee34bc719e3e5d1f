package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}

import graft.spark.functions.murmur64

/** N-gram language-model scoring — the CCNet-style model-based quality
  * filter (Wenzek et al. 2020 train a KenLM on a reference corpus and
  * keep documents whose perplexity is low; The Pile, RedPajama and
  * Gopher all run a variant). Here the model is a bigram LM with
  * stupid backoff (Brants et al. 2007): counts are exactly the kind of
  * map-side-combined aggregation this engine is built from, and the
  * per-document score is a join of the document's bigrams against the
  * count tables — no iteration, no driver state beyond the plan.
  *
  * Score of a position with context `w_{i-1}` and token `w_i`:
  *
  *   p_i = c(w_{i-1} w_i) / c(w_{i-1})          if the bigram was seen
  *       = 0.4 * (c(w_i) / N)                   otherwise (backoff)
  *
  * where `N` is the reference corpus's total token count. The reported
  * per-document score is the mean of `p_i` — kept in FIXED POINT
  * (`floor(p_i * 1e9)` summed as integers) so the result is
  * independent of floating-point summation order: every individual
  * p_i is a single exactly-rounded IEEE division (plus one multiply
  * for backoff), so two engines computing the same counts produce
  * bit-identical per-position values, and integer summation makes the
  * rollup order-free. That is what lets the driver's DuckDB oracle
  * hash-match this query at both scales.
  *
  * Shape at 100 TB: the model tables carry (murmur64 hash, count) — 16
  * bytes per distinct gram, never gram text — and the scoring exchange
  * carries (doc id, three hashes) per position. Token/bigram counting
  * is one map-side-combined aggregation each; the three model joins
  * are hash joins on 8-byte keys (AQE broadcasts them when the
  * vocabulary fits, shuffles otherwise). Gram identity is 64-bit
  * hash-only, the same documented collision tradeoff as
  * [[Dedup.exactDedup]]. The reference corpus and the scored corpus
  * may differ — training reads only `ref`, scoring only `docs`.
  */
object NgramLm {

  private val BackoffAlpha = 0.4
  private val FixedPointScale = 1e9

  /** (ctx, cur) adjacent-token pairs of every document, built inside
    * ONE generator with the token array bound to a lambda variable —
    * a free tokens expression inside the pair lambda would be
    * re-inlined by CollapseProject and re-tokenize the document once
    * per position (the audit pattern in BENCH.md). */
  private def bigramStructs(textCol: Column): Column =
    F.flatten(F.transform(F.array(Tokenizer.space(textCol)), t =>
      F.when(F.size(t) >= 2,
          F.transform(F.sequence(F.lit(1), F.size(t) - 1), p =>
            F.struct(F.element_at(t, p).as("ctx"),
              F.element_at(t, p + 1).as("cur"))))
        .otherwise(F.array().cast("array<struct<ctx:string,cur:string>>"))))

  /** Unigram model: (__h, __c_uni) per distinct token of `ref`, plus
    * the total token count as a 1-row DataFrame (kept as a plan-side
    * relation, not a driver collect, so training+scoring stays one
    * job). The exchange carries (hash, partial count) only. */
  def unigramModel(ref: DataFrame, textCol: String): (DataFrame, DataFrame) = {
    val toks = ref.select(F.explode(Tokenizer.space(F.col(textCol))).as("__t"))
      .select(murmur64(F.col("__t")).as("__h"))
    val uni = toks.groupBy("__h").agg(F.count(F.lit(1)).as("__c_uni"))
    val total = toks.agg(F.count(F.lit(1)).as("__n"))
    (uni, total)
  }

  /** Bigram model: (__h, __c_big) per distinct adjacent pair of `ref`.
    * The pair is hashed as `murmur64(ctx + " " + cur)` before any
    * exchange — gram text never shuffles. */
  def bigramModel(ref: DataFrame, textCol: String): DataFrame =
    ref.select(F.explode(bigramStructs(F.col(textCol))).as("__s"))
      .select(murmur64(
        F.concat(F.col("__s.ctx"), F.lit(" "), F.col("__s.cur"))).as("__h"))
      .groupBy("__h").agg(F.count(F.lit(1)).as("__c_big"))

  /** Score every document of `docs` against a bigram model trained on
    * `ref`. Output: (idCol, n_scored, n_backoff, score_fp, avg_p) —
    * one row per document with at least one scored position (documents
    * with fewer than two tokens have no bigram positions and drop out,
    * in both this plan and any SQL re-derivation).
    *
    *  - n_scored:  bigram positions scored
    *  - n_backoff: positions that fell to the unigram backoff
    *  - score_fp:  sum of floor(p_i * 1e9) — the order-free fixed-point
    *               accumulator
    *  - avg_p:     score_fp / n_scored / 1e9 (mean of p_i, floored per
    *               position)
    */
  def scoreDocs(docs: DataFrame, idCol: String, textCol: String,
      ref: DataFrame, refTextCol: String): DataFrame = {
    val (uni, total) = unigramModel(ref, refTextCol)
    val big = bigramModel(ref, refTextCol)
    val uniCtx = uni.select(F.col("__h").as("__hc"), F.col("__c_uni").as("__c_ctx"))
    val uniCur = uni.select(F.col("__h").as("__hw"), F.col("__c_uni").as("__c_cur"))
    val bigM = big.select(F.col("__h").as("__hb"), F.col("__c_big"))

    val pos = docs.select(F.col(idCol).as("__id"),
        F.explode(bigramStructs(F.col(textCol))).as("__s"))
      .select(F.col("__id"),
        murmur64(F.col("__s.ctx")).as("__hc"),
        murmur64(F.col("__s.cur")).as("__hw"),
        murmur64(F.concat(F.col("__s.ctx"), F.lit(" "), F.col("__s.cur"))).as("__hb"))

    // one-row total joined as a broadcast cross: keeps N in the plan
    // (no driver action) at the cost of a 1-row broadcast
    val scored = pos
      .join(bigM, Seq("__hb"), "left")
      .join(uniCtx, Seq("__hc"), "left")
      .join(uniCur, Seq("__hw"), "left")
      .crossJoin(F.broadcast(total))

    // a seen bigram implies a seen context, so __c_ctx is non-null on
    // the hit branch; the backoff covers unseen bigram AND unseen
    // context alike (scoring a corpus the model never saw)
    val p = F.when(F.col("__c_big").isNotNull,
        F.col("__c_big") / F.col("__c_ctx"))
      .otherwise(F.lit(BackoffAlpha) *
        (F.coalesce(F.col("__c_cur"), F.lit(0L)) / F.col("__n")))
    val q = F.floor(p * F.lit(FixedPointScale))

    scored
      .select(F.col("__id"), q.as("__q"),
        F.when(F.col("__c_big").isNull, 1L).otherwise(0L).as("__bo"))
      .groupBy(F.col("__id"))
      .agg(F.count(F.lit(1)).as("n_scored"),
        F.sum(F.col("__bo")).as("n_backoff"),
        F.sum(F.col("__q")).as("score_fp"))
      .withColumn("avg_p",
        F.col("score_fp").cast("double") / F.col("n_scored") / F.lit(FixedPointScale))
      .withColumnRenamed("__id", idCol)
  }

  /** Train on the corpus and score it against itself — the sandbox
    * stand-in for CCNet's "score the crawl against a clean reference
    * model" (with ref == docs every context is seen, so backoff fires
    * only for bigrams, never unigrams). */
  def selfScore(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    scoreDocs(docs, idCol, textCol, docs, textCol)
}
