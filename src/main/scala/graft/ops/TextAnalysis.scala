package graft.ops

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.graft.ColumnBridge.{column, expression}

/** DataFrame-level text analysis for training-data curation. Everything
  * here is either pure Spark built-ins (codegen'd, SQL-oracle-able) or
  * the deterministic expressions in TextExpressions.
  */
object TextAnalysis {

  def simhash64(c: Column): Column = column(SimHash64(expression(c)))
  def simhash_ngram64(c: Column, width: Int = 3): Column =
    column(SimHashNgram64(expression(c), width))
  def minhash_sig(c: Column, numHashes: Int = 64, shingleSize: Int = 3): Column =
    column(MinHashSig(expression(c), numHashes, shingleSize))
  def shingle_hashes(c: Column, width: Int = 3, tokenFallback: Boolean = false): Column =
    column(ShingleHashes(expression(c), width, tokenFallback))
  def gram_hashes(c: Column, width: Int): Column =
    column(GramHashes(expression(c), width))
  def fingerprint64(c: Column): Column = column(Fingerprint64(expression(c)))
  def lang_id(c: Column): Column = column(LangId(expression(c)))
  def jaccard_shingles(a: Column, b: Column, shingleSize: Int = 3): Column =
    column(JaccardShingles(expression(a), expression(b), shingleSize))

  /** A 60-bit SimHash over DISTINCT non-empty whitespace tokens whose
    * per-token hash is the first 15 hex chars of md5 — every step is a
    * Spark built-in AND plain ANSI SQL, so a DuckDB oracle can recompute
    * the signature bit-for-bit. Exists to give the SimHash pair machinery
    * an exact-oracle regime (`simhash_dups_exact`); production signatures
    * stay [[simhash64]] (murmur-based, golden-pinned). Zero-token input
    * yields signature 0. */
  def simhash60Md5(c: Column): Column = {
    val toks = F.array_distinct(Tokenizer.space(c))
    val hashes = F.transform(toks, t =>
      F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long"))
    val masks = F.array((0 until 60).map(b => F.lit(1L << b)): _*)
    val votes = F.aggregate(hashes,
      F.array_repeat(F.lit(0), 60),
      (acc, h) => F.zip_with(acc, masks,
        (a, m) => a + F.when(h.bitwiseAND(m) =!= 0, 1).otherwise(-1)))
    F.aggregate(
      F.zip_with(votes, masks,
        (v, m) => F.when(v > F.lit(0), m).otherwise(F.lit(0L))),
      F.lit(0L), (acc, x) => acc + x)
  }

  /** Whitespace token count — composed from built-ins so it pushes into
    * codegen and has an exact DuckDB oracle. */
  def token_count(c: Column): Column = F.size(Tokenizer.trimmedWords(c))

  /** BPE-ish subword count: words contribute ceil(len/4) units,
    * punctuation one each — a cheap deterministic token-budget proxy. */
  def subword_count(c: Column): Column =
    F.aggregate(Tokenizer.trimmedWords(c), F.lit(0),
      (acc, w) => acc + F.ceil(F.length(w) / F.lit(4.0)).cast("int"))

  /** Per-document top-k terms by RARITY-WEIGHTED term frequency
    * (score = tf/df — the linear tf-idf variant; pure IEEE division of
    * integer counts, so a SQL oracle reproduces the ranking bit-for-bit,
    * where a log idf would hang the ordering on transcendental-function
    * parity between engines): the cheap keyword-extraction signal of a
    * curation pipeline. Two aggregations (term frequency per
    * doc, document frequency per term), one shuffle join on the term,
    * and the mergeable `top_k_by` k-heap per document — never a global
    * window over the whole term-doc matrix. Output: (idCol, rank, term),
    * ties broken by ascending term. */
  def topTermsByRarity(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    import graft.spark.functions.top_k_by
    require(k >= 1, "k must be >= 1")
    val toks = df
      .select(F.col(idCol), F.explode(Tokenizer.space(F.col(textCol))).as("__term"))
    val tf = toks.groupBy(F.col(idCol), F.col("__term"))
      .agg(F.count(F.lit(1)).as("__tf"))
    // (doc, term) rows are distinct in tf, so df(term) = count(*)
    val dfreq = tf.groupBy("__term").agg(F.count(F.lit(1)).as("__df"))
    tf.join(dfreq, "__term")
      .select(F.col(idCol), F.col("__term"),
        (F.col("__tf").cast("double") / F.col("__df").cast("double")).as("__score"))
      .groupBy(F.col(idCol))
      .agg(top_k_by(F.col("__term"), F.col("__score"), k).as("__topk"))
      .select(F.col(idCol), F.posexplode(F.col("__topk")).as(Seq("__pos", "__e")))
      .select(F.col(idCol), (F.col("__pos") + 1).cast("long").as("rank"),
        F.col("__e.value").as("term"))
  }

  /** Per-document REPETITION signals — the Gopher/MassiveText
    * repetitious-text filters: the fraction of fixed-size line chunks
    * that repeat an earlier chunk of the same document, and the mass
    * fraction of the document's most frequent word bigram. Both rise
    * sharply on boilerplate/spam and drive removal thresholds in every
    * large-scale curation pipeline.
    *
    * Shape at scale: the chunk signal is a pure per-row projection
    * (array_distinct within the document, no exchange); the bigram
    * signal shuffles (id, bigram) with map-side partial counts — the
    * same exchange profile as token counting. Output: (idCol,
    * n_tokens, dup_chunk_frac, top_bigram_frac), zeros for documents
    * too short to have chunks or bigrams. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int = 10): DataFrame = {
    require(chunkTokens >= 1, "chunkTokens must be >= 1")
    val w = Tokenizer.space(F.col(textCol))
    val base = df.select(F.col(idCol), w.as("__w"))

    val chunks = F.when(F.size(F.col("__w")) > 0,
      F.transform(
        F.sequence(F.lit(1),
          F.ceil(F.size(F.col("__w")) / F.lit(chunkTokens.toDouble)).cast("int")),
        i => F.array_join(F.slice(F.col("__w"),
          (i - F.lit(1)) * F.lit(chunkTokens) + F.lit(1), F.lit(chunkTokens)), " ")))
      .otherwise(F.array().cast("array<string>"))
    val proj = base.select(F.col(idCol),
      F.size(F.col("__w")).cast("long").as("n_tokens"), chunks.as("__c"))
      .select(F.col(idCol), F.col("n_tokens"),
        F.when(F.size(F.col("__c")) > 0,
          (F.size(F.col("__c")) - F.size(F.array_distinct(F.col("__c"))))
            .cast("double") / F.size(F.col("__c")).cast("double"))
          .otherwise(F.lit(0.0)).as("dup_chunk_frac"))

    val bigrams = base.select(F.col(idCol),
      F.explode(F.when(F.size(F.col("__w")) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(F.col("__w")) - 1),
          i => F.concat(F.element_at(F.col("__w"), i), F.lit(" "),
            F.element_at(F.col("__w"), i + F.lit(1)))))
        .otherwise(F.array().cast("array<string>"))).as("__g"))
    val bstat = bigrams.groupBy(F.col(idCol), F.col("__g"))
      .agg(F.count(F.lit(1)).as("__cnt"))
      .groupBy(F.col(idCol))
      .agg(F.max(F.col("__cnt")).as("__mx"), F.sum(F.col("__cnt")).as("__tot"))

    proj.join(bstat, Seq(idCol), "left")
      .select(F.col(idCol), F.col("n_tokens"), F.col("dup_chunk_frac"),
        F.coalesce(F.col("__mx").cast("double") / F.col("__tot").cast("double"),
          F.lit(0.0)).as("top_bigram_frac"))
  }

  /** Quality features per document: the classic curation signals, all
    * exact arithmetic (SQL-expressible in both Spark and DuckDB). */
  def withQualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = F.col(textCol)
    val nChars = F.length(t)
    val nTokens = token_count(t)
    val punct = F.length(F.regexp_replace(t, "[^.,;:!?]", ""))
    val digits = F.length(F.regexp_replace(t, "[^0-9]", ""))
    val alpha = F.length(F.regexp_replace(t, "[^a-zA-Z]", ""))
    df.withColumn("n_chars_q", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len",
        F.when(nTokens > 0, F.round(nChars.cast("double") / nTokens, 4)).otherwise(F.lit(0.0)))
      .withColumn("punct_ratio",
        F.when(nChars > 0, F.round(punct.cast("double") / nChars, 4)).otherwise(F.lit(0.0)))
      .withColumn("digit_ratio",
        F.when(nChars > 0, F.round(digits.cast("double") / nChars, 4)).otherwise(F.lit(0.0)))
      .withColumn("alpha_ratio",
        F.when(nChars > 0, F.round(alpha.cast("double") / nChars, 4)).otherwise(F.lit(0.0)))
  }

  /** Scalar quality score in [0,1]: penalizes extreme length, low alpha
    * share, digit/punct floods. Deterministic integer/4-dp arithmetic so
    * the DuckDB oracle reproduces it bit-for-bit. */
  def qualityScore(df: DataFrame, textCol: String): DataFrame = {
    val withF = withQualityFeatures(df, textCol)
    val lenOk = F.when(F.col("n_tokens").between(5, 5000), F.lit(0.4)).otherwise(F.lit(0.0))
    val alphaOk = F.when(F.col("alpha_ratio") >= 0.6, F.lit(0.3)).otherwise(F.lit(0.0))
    val punctOk = F.when(F.col("punct_ratio") <= 0.1, F.lit(0.2)).otherwise(F.lit(0.0))
    val digitOk = F.when(F.col("digit_ratio") <= 0.2, F.lit(0.1)).otherwise(F.lit(0.0))
    withF.withColumn("quality_score", F.round(lenOk + alphaOk + punctOk + digitOk, 4))
  }
}
