package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}

/** Benchmark decontamination: remove (or flag) training documents that
  * share word n-grams with an evaluation set — the train/test overlap
  * scrub every LLM data pipeline runs before training (the 13-gram
  * collision rule popularized by the GPT-3 and PaLM reports).
  *
  * Shape at scale: the benchmark side is tiny (thousands of prompts)
  * and the corpus side is the 100 TB table, so the overlap check is a
  * textbook Bloom-runtime-filter join ([[BloomJoin.semi]], the
  * reference's `ckblm` membership semantics as a join pushdown). When
  * the benchmark's n-gram set is small enough to broadcast, corpus
  * n-grams never cross an exchange and the exact semi join runs alone.
  * Otherwise a compact sketch of that set prefilters corpus n-grams
  * BEFORE the exchange, and only surviving (doc_id, gram) pairs — true
  * hits plus ~FPR of the corpus — pay the exact verify join. Exchanges
  * carry 8-byte gram hashes and ids, never document bodies.
  */
object Decontaminate {

  /** Per-document contamination evidence: (idCol, n_hits) for every
    * corpus document sharing at least one distinct word n-gram with
    * the benchmark text column, n_hits = how many distinct n-grams
    * collide. Exact — the Bloom pass, run only when the join shuffles
    * the corpus grams, only prunes. */
  def overlapHits(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 13,
      bitsPerItem: Int = 16): DataFrame = {
    // n-gram IDENTITY is the 64-bit chain hash (shingle_hashes — the
    // document's distinct word n-grams, no gram string ever built), so
    // the Bloom prefilter and the exact semi join both move 8-byte longs
    // instead of ~50-byte n-gram strings for the corpus
    // side — the side that is 100 TB in production. A 2^-64 identity
    // collision could count one extra phantom overlap — the library's
    // standard hash-identity tradeoff (exactDedup), and the oracle
    // hash-matches at every tested SF.
    val bGrams = bench
      .select(F.explode(
        graft.ops.TextAnalysis.shingle_hashes(F.col(benchTextCol), n)).as("__g"))
      .distinct()
    val cGrams = corpus.select(F.col(idCol),
      F.explode(
        graft.ops.TextAnalysis.shingle_hashes(F.col(textCol), n)).as("__g"))
    // cGrams is distinct per (doc, gram) already: shingle_hashes dedups
    // within the document, so count(*) counts distinct colliding grams
    BloomJoin.semi(cGrams, "__g", bGrams, "__g", bitsPerItem)
      .groupBy(F.col(idCol))
      .agg(F.count(F.lit(1)).as("n_hits"))
  }

  /** The corpus with every document at or above `minHits` colliding
    * n-grams removed — the actual scrub step. */
  def clean(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchTextCol: String, n: Int = 13,
      minHits: Int = 1, bitsPerItem: Int = 16): DataFrame = {
    val flagged = overlapHits(corpus, idCol, textCol, bench, benchTextCol,
      n, bitsPerItem)
      .filter(F.col("n_hits") >= minHits)
      .select(F.col(idCol))
    corpus.join(flagged, Seq(idCol), "left_anti")
  }
}
