package graft.ops

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.ByteOps
import graft.core.hash.Murmur2Kernel
import graft.ops.KernelChecks.{argument, first, string}
import graft.sketch.HllSketch
import graft.spark.expr.{KernelBinary, KernelUnary}

/** Text-analysis primitives for training-data pipelines, built on the
  * engine's hash kernels. All are deterministic pure functions of the
  * input string, so results are reproducible across runs, partitionings
  * and cluster sizes.
  */
object TextOps {

  /** Murmur64 of each token's UTF-8 bytes: the one per-token hash every
    * hashed text kernel starts from. */
  private def tokenHashes(toks: Array[String]): Array[Long] = {
    val th = new Array[Long](toks.length)
    var t = 0
    while (t < th.length) {
      th(t) = Murmur2Kernel.hash64(ByteOps.utf8(toks(t)))
      t += 1
    }
    th
  }

  /** Identity hash of the `w`-token shingle starting at token `start`:
    * the order-sensitive fmix64 chain of its token hashes (a width-1
    * shingle is its token hash). No shingle string is ever built; a
    * 2^-64 identity collision merges two shingles, the library's
    * standard hash-identity tradeoff ([[graft.ops.Dedup.exactDedup]]). */
  @inline private def chain(th: Array[Long], start: Int, w: Int): Long = {
    var h = th(start)
    var j = 1
    while (j < w) {
      h = HllSketch.fmix64(h ^ (th(start + j) * 0xc4ceb9fe1a85ec53L))
      j += 1
    }
    h
  }

  /** Distinct `w`-token shingle identities of a document, in
    * first-occurrence order, deduplicated through a primitive
    * open-addressed long table (0 = empty slot, so a zero identity is
    * remapped) — jstack sampling of the earlier string-shingle Set
    * showed it dominating the murmur work it fed. */
  private def distinctShingles(th: Array[Long], w: Int): Array[Long] = {
    val nShingles = th.length - w + 1
    if (nShingles <= 0) return Array.emptyLongArray
    var cap = 4
    while (cap < nShingles * 2) cap <<= 1
    val table = new Array[Long](cap)
    val mask = cap - 1
    val out = new Array[Long](nShingles)
    var m = 0
    var start = 0
    while (start < nShingles) {
      var h = chain(th, start, w)
      if (h == 0L) h = 0x1b873593L
      var slot = ((h ^ (h >>> 32)).toInt) & mask
      while (table(slot) != 0L && table(slot) != h) slot = (slot + 1) & mask
      if (table(slot) == 0L) { table(slot) = h; out(m) = h; m += 1 }
      start += 1
    }
    if (m == out.length) out else java.util.Arrays.copyOf(out, m)
  }

  /** 64-bit SimHash over murmur-hashed tokens: per-bit majority vote of
    * token hashes (Charikar 2002). Near-duplicate texts land within a
    * small Hamming distance. The width-1 case of [[simhashNgram64]]. */
  def simhash64(s: String): Long = simhashNgram64(s, 1)

  /** 64-bit SimHash over order-sensitive token n-grams — the production
    * near-dup signature. Unigram SimHash ([[simhash64]]) collapses on
    * natural-language corpora: Zipf's law means any two documents share
    * the high-frequency word TYPES ("the", "of", ...), and an
    * order-insensitive majority vote over shared types yields
    * near-identical signatures for unrelated documents (measured on a
    * Zipf corpus: 15% of ALL pairs landed within hamming 3 — a
    * quadratic output at scale). N-gram features are order-sensitive,
    * so documents sharing vocabulary but not phrasing decorrelate, while
    * lightly mutated near-copies still share most n-grams (Manku et al.
    * 2007 hash weighted features for the same reason). Every n-gram
    * position votes (repeats included), with the [[chain]] identity;
    * documents shorter than `width` vote with their tokens. */
  def simhashNgram64(s: String, width: Int): Long = {
    val th = tokenHashes(Tokenizer.whitespace(s))
    val n = th.length
    if (n == 0) return 0L
    val w = if (n < width) 1 else width
    val votes = new Array[Int](64)
    var start = 0
    while (start <= n - w) {
      val h = chain(th, start, w)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      start += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** k-min-hash signature over token shingles (Broder 1997): element i is
    * the minimum over shingles of h_i(shingle), where the k hash
    * functions derive from ONE murmur64 evaluation per shingle:
    * h_i(x) = fmix64(murmur64(x) XOR c_i), c_i = (i+1)·golden-ratio-odd.
    * XOR with a distinct constant followed by a full avalanche yields an
    * (approximately min-wise independent) family — the standard
    * construction — at 1 strong hash per shingle instead of k. At k=64
    * that removes ~98% of the hash work from the dominant stage of the
    * LSH dedup pipeline (the per-document signature), which is what the
    * whole job spends its time on at corpus scale. (Earlier rounds used
    * the reference's seed-by-index scheme, murmur64(x, seed=i), at 64
    * full murmur runs per shingle; recall/precision tests are unchanged
    * — any well-mixed family passes them.)
    *
    * The shingle set is [[shingleHashes]]`(s, shingleSize, tokenFallback
    * = true)`: [[Tokenizer.whitespace]] tokens, and a document shorter
    * than `shingleSize` is signed by its distinct tokens. */
  def minhashSignature(s: String, numHashes: Int, shingleSize: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    val shingles = shingleHashes(s, shingleSize, tokenFallback = true)
    var k = 0
    while (k < shingles.length) {
      val base = shingles(k)
      var i = 0
      while (i < numHashes) {
        val h = HllSketch.fmix64(base ^ ((i + 1) * 0x9e3779b97f4a7c15L))
        if (h < sig(i)) sig(i) = h
        i += 1
      }
      k += 1
    }
    sig
  }

  /** Distinct `width`-token shingle IDENTITY HASHES of `s` ([[chain]]
    * identities in first-occurrence order), empty when the document has
    * fewer than `width` tokens. The prefix-filter dedup pipeline
    * (Dedup.ngramPrefixCandidates) and decontamination do all their
    * frequency counting, rarity ordering and intersection arithmetic on
    * these 8-byte longs instead of ~30-byte strings. Tokens are
    * [[Tokenizer.space]], the rule their SQL oracles state.
    *
    * `tokenFallback = true` selects the shingle set [[jaccardShingles]]
    * defines (and so minhashLshPairs' verify and [[minhashSignature]]):
    * [[Tokenizer.whitespace]] tokens, and a document with fewer than
    * `width` tokens contributes its DISTINCT TOKEN hashes (width-1
    * chains) instead of nothing. Token hashes and n-gram chain hashes
    * live in the same 64-bit space, so a cross-regime collision is
    * possible at 2^-64 — in string space the two vocabularies are
    * disjoint (tokens cannot contain the space an n-gram string always
    * has); same accepted tradeoff as every hash identity here. */
  def shingleHashes(s: String, width: Int, tokenFallback: Boolean = false): Array[Long] = {
    val toks = if (tokenFallback) Tokenizer.whitespace(s) else Tokenizer.space(s)
    if (toks.length < width && !tokenFallback) return Array.emptyLongArray
    distinctShingles(tokenHashes(toks), if (toks.length < width) 1 else width)
  }

  /** POSITIONAL `width`-token gram identity hashes: element p is the
    * chain hash of the gram starting at token position p (0-based), one
    * element per position, duplicates KEPT — the duplicateSpans shape,
    * where position identity matters and repeats are the signal. Same
    * tokenization and chain construction as [[shingleHashes]]; empty
    * array when the document has fewer than `width` tokens. */
  def gramHashes(s: String, width: Int): Array[Long] = {
    val toks = Tokenizer.space(s)
    if (toks.length < width) return Array.emptyLongArray
    val th = tokenHashes(toks)
    Array.tabulate(th.length - width + 1)(chain(th, _, width))
  }

  def shingles(s: String, size: Int): Set[String] = {
    val toks = Tokenizer.whitespace(s)
    if (toks.length < size) toks.toSet
    else toks.sliding(size).map(_.mkString(" ")).toSet
  }

  /** Exact Jaccard similarity of token shingle sets. */
  def jaccardShingles(a: String, b: String, size: Int): Double = {
    val sa = shingles(a, size)
    val sb = shingles(b, size)
    if (sa.isEmpty && sb.isEmpty) 1.0
    else sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
  }

  /** Rolling Karp-Rabin document fingerprint over normalized tokens:
    * order-sensitive (unlike minhash), so it distinguishes permutations;
    * stable under whitespace/case noise. */
  def fingerprint(s: String): Long = {
    val toks = Tokenizer.whitespace(s)
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < toks.length) {
      h = h * 0x100000001b3L + Murmur2Kernel.hash64(
        toks(i).toLowerCase(java.util.Locale.ROOT))
      i += 1
    }
    h
  }

  // ---- language identification (trigram + stopword heuristic) ----

  // ORDERED: first profile wins score ties (the vote replaces only on
  // strictly-greater), so the order is part of the function's contract —
  // a Map here would tie-break by HashMap iteration order, opaque to the
  // SQL oracle that recomputes this vote (lang_id_exact)
  private val StopwordProfiles: Seq[(String, Set[String])] = Seq(
    "en" -> Set("the", "of", "and", "to", "in", "is", "it", "that", "for", "was", "with", "are", "this", "you", "not"),
    "fr" -> Set("le", "la", "les", "de", "des", "et", "un", "une", "est", "que", "pour", "dans", "qui", "pas", "sur"),
    "es" -> Set("el", "la", "los", "las", "de", "y", "que", "en", "un", "una", "es", "por", "con", "para", "no"),
    "de" -> Set("der", "die", "das", "und", "ist", "von", "mit", "nicht", "ein", "eine", "zu", "den", "auf", "fur", "sich"),
    "it" -> Set("il", "la", "di", "e", "che", "un", "una", "per", "non", "sono", "con", "del", "le", "si", "da"))

  /** Heuristic language ID: CJK scripts by code point; otherwise the
    * stopword profile with the highest hit ratio; "und" when nothing
    * scores. Cheap, deterministic, and honest about being a heuristic —
    * a real pipeline would swap in a fastText-style model here. */
  def langId(s: String): String = {
    if (s.isEmpty) return "und"
    var cjk = 0
    var total = 0
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (!Character.isWhitespace(c)) {
        total += 1
        val block = Character.UnicodeScript.of(c.toInt)
        if (block == Character.UnicodeScript.HAN) cjk += 1
        else if (block == Character.UnicodeScript.HIRAGANA ||
          block == Character.UnicodeScript.KATAKANA) return "ja"
        else if (block == Character.UnicodeScript.HANGUL) return "ko"
      }
      i += 1
    }
    if (total > 0 && cjk.toDouble / total > 0.25) return "zh"
    // Locale.ROOT: the default-locale overload turns "IS" into "ıs"
    // under a Turkish JVM locale — results must not depend on the host
    val toks = Tokenizer.whitespace(s.toLowerCase(java.util.Locale.ROOT))
    if (toks.isEmpty) return "und"
    var best = "und"
    var bestScore = 0.0
    StopwordProfiles.foreach { case (lang, words) =>
      val hits = toks.count(words.contains)
      val score = hits.toDouble / toks.length
      if (score > bestScore) { best = lang; bestScore = score }
    }
    if (bestScore >= 0.05) best else "und"
  }
}

/** `simhash64(text)` */
case class SimHash64(child: Expression) extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult = string(prettyName, child)
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  def compute(s: UTF8String): Long = TextOps.simhash64(s.toString)
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): SimHash64 = copy(child = c)
}

/** `simhash_ngram64(text, width)` — order-sensitive n-gram SimHash (the
  * production near-dup signature; see TextOps.simhashNgram64). */
case class SimHashNgram64(child: Expression, width: Int) extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult =
    first(KernelChecks.width(prettyName, width), string(prettyName, child))
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_ngram64"
  def compute(s: UTF8String): Long = TextOps.simhashNgram64(s.toString, width)
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): SimHashNgram64 = copy(child = c)
}

/** `minhash_sig(text, numHashes, shingleSize)` -> array<long>; the two
  * size arguments must be foldable ints. */
case class MinHashSig(child: Expression, numHashes: Int, shingleSize: Int)
    extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult = first(
    argument(numHashes >= 1 && shingleSize >= 1, s"$prettyName sizes must be >= 1"),
    string(prettyName, child))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  def compute(s: UTF8String): GenericArrayData =
    new GenericArrayData(TextOps.minhashSignature(s.toString, numHashes, shingleSize))
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): MinHashSig = copy(child = c)
}

/** `shingle_hashes(text, width)` -> array<long>: distinct order-sensitive
  * n-gram identity hashes (see TextOps.shingleHashes; `tokenFallback`
  * mirrors the jaccardShingles short-document token-set rule). */
case class ShingleHashes(child: Expression, width: Int,
    tokenFallback: Boolean = false) extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult =
    first(KernelChecks.width(prettyName, width), string(prettyName, child))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  def compute(s: UTF8String): GenericArrayData =
    new GenericArrayData(TextOps.shingleHashes(s.toString, width, tokenFallback))
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): ShingleHashes = copy(child = c)
}

/** `gram_hashes(text, width)` -> array<long>: positional n-gram identity
  * hashes, one per token position, duplicates kept (TextOps.gramHashes). */
case class GramHashes(child: Expression, width: Int) extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult =
    first(KernelChecks.width(prettyName, width), string(prettyName, child))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "gram_hashes"
  def compute(s: UTF8String): GenericArrayData =
    new GenericArrayData(TextOps.gramHashes(s.toString, width))
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): GramHashes = copy(child = c)
}

/** `fingerprint64(text)` — rolling Karp-Rabin token fingerprint. */
case class Fingerprint64(child: Expression) extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult = string(prettyName, child)
  override def dataType: DataType = LongType
  override def prettyName: String = "fingerprint64"
  def compute(s: UTF8String): Long = TextOps.fingerprint(s.toString)
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): Fingerprint64 = copy(child = c)
}

/** `lang_id(text)` — heuristic language code. */
case class LangId(child: Expression) extends KernelUnary[UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult = string(prettyName, child)
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  def compute(s: UTF8String): UTF8String = UTF8String.fromString(TextOps.langId(s.toString))
  override protected def boxed(s: UTF8String): Any = compute(s)
  override protected def withNewChildInternal(c: Expression): LangId = copy(child = c)
}

/** `jaccard_shingles(a, b, size)` — exact token-shingle Jaccard. */
case class JaccardShingles(left: Expression, right: Expression, shingleSize: Int)
    extends KernelBinary[UTF8String, UTF8String] {
  override def checkInputDataTypes(): TypeCheckResult = string(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_shingles"
  def compute(a: UTF8String, b: UTF8String): Double =
    TextOps.jaccardShingles(a.toString, b.toString, shingleSize)
  override protected def boxed(a: UTF8String, b: UTF8String): Any = compute(a, b)
  override protected def withNewChildrenInternal(l: Expression, r: Expression): JaccardShingles =
    copy(left = l, right = r)
}
