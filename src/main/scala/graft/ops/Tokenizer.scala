package graft.ops

import org.apache.spark.sql.{Column, functions => F}

/** Every rule the library uses to turn text into tokens. A hashed text
  * kernel only ever sees bytes, so the rule that cut the text is part of
  * each signature's identity: two paths that must agree on a document
  * (a signature and the verify that checks it) must call the same rule
  * here. Each rule exists once, in the forms its callers need, and
  * names the queries and oracles that pin it.
  *
  * The rules differ only on text the synthetic corpus never produces
  * (tabs, newlines, control characters, repeated or edge spaces), which
  * is exactly where a silent mismatch between two of them would hide.
  */
object Tokenizer {

  /** Split on the single space character and drop empty segments; tabs,
    * newlines and every other character stay inside tokens. The SQL
    * spelling is `list_filter(string_split(text, ' '), t -> t <> '')`,
    * which the oracles of `ngram_jaccard_dups`, `dedup_clusters`,
    * `decontaminate_corpus`, `line_dedup`, `duplicate_spans`,
    * `doc_top_terms`, `fuzzy_term_pairs`, `simhash_dups_exact` and the
    * vocabulary and sequencing queries state verbatim. Used by the n-gram
    * hash kernels ([[TextOps.gramHashes]], [[TextOps.shingleHashes]]
    * outside the Jaccard regime), decontamination, span dedup, BPE and
    * sequencing. */
  def space(s: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      var j = i
      while (j < len && s.charAt(j) != ' ') j += 1
      if (j > i) out += s.substring(i, j)
      i = j + 1
    }
    out.toArray
  }

  /** [[space]] as a Spark column: `array<string>`, evaluated in codegen
    * and equal to the `String` form on every input. */
  def space(text: Column): Column =
    F.filter(F.split(text, " "), t => t =!= F.lit(""))

  /** Java `trim` (drops leading and trailing chars <= U+0020, the C0
    * controls included), then split on runs of `[ \t\n\x0B\f\r]`; a
    * blank text has no tokens. Non-ASCII spaces (U+00A0, U+2003) and
    * inner C0 controls stay inside tokens. The rule of `simhash64`,
    * `simhash_ngram64`, `minhash_sig`, `jaccard_shingles` (and so the
    * minhash verify), `fingerprint64` and `lang_id`, whose outputs are
    * golden-pinned; `lang_id_exact` restricts its slice to a charset on
    * which DuckDB's `regexp_split_to_array(text, '\s+')` minus empties
    * gives the same tokens. */
  def whitespace(s: String): Array[String] = {
    val t = s.trim
    if (t.isEmpty) Array.empty else t.split("\\s+")
  }

  /** The words `token_count` and `subword_count` count: Spark/DuckDB
    * `trim` (spaces only), then split on `\s+`; a text that trims to
    * empty has no words. The oracle is `CASE WHEN length(trim(text)) = 0
    * THEN 0 ELSE len(regexp_split_to_array(trim(text), '\s+')) END`.
    * Unlike [[whitespace]], a tab left at an edge by the space-only trim
    * yields an empty word, and the oracle counts it too. */
  def trimmedWords(text: Column): Column =
    F.when(F.length(F.trim(text)) === 0, F.array().cast("array<string>"))
      .otherwise(F.split(F.trim(text), "\\s+"))

  /** Raw count of space-separated segments, empty segments included
    * (`"a  b"` has 3): the `len(string_split(text, ' '))` length of
    * the `batch_assembly` and `transcript_truncate_budget` oracles. */
  def spaceSegmentCount(text: Column): Column = F.size(F.split(text, " "))
}
