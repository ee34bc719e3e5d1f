package graft.ops

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

import graft.spark.functions.murmur64

/** Deduplication operators for web-scale corpora. Shapes are chosen for
  * the 100 TB case:
  *
  *  - exact dedup shuffles only (hash, id), never the document bodies;
  *  - MinHash-LSH generates candidate pairs via banded signatures — the
  *    classic shingle -> minhash -> band -> bucket-join pipeline — so the
  *    self-join happens only within buckets (expected O(n * dups), not
  *    O(n^2)); the Jaccard verification re-reads text for candidate
  *    pairs only;
  *  - SimHash near-dup uses 4 x 16-bit bands of a 64-bit signature with
  *    a Hamming-distance verify (bit_count(xor) — codegen'd built-in).
  */
object Dedup {

  /** Exact duplicate groups by content hash: keeps the minimum id per
    * distinct text. Default shuffles 16 bytes/row regardless of document
    * size (64-bit collision odds at n=10^9 are negligible); pipelines
    * needing certainty pass `verifyByText = true`, which groups by
    * (hash, text) so hash collisions between different texts can never
    * merge groups — at the cost of shuffling the text column. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String,
      verifyByText: Boolean = false): DataFrame = {
    if (verifyByText) {
      df.select(F.col(idCol), murmur64(F.col(textCol)).as("__h"), F.col(textCol))
        .groupBy(F.col("__h"), F.col(textCol))
        .agg(F.min(F.col(idCol)).as(idCol))
        .select(idCol)
    } else {
      df.select(F.col(idCol), murmur64(F.col(textCol)).as("__h"))
        .groupBy(F.col("__h"))
        .agg(F.min(F.col(idCol)).as(idCol))
        .select(idCol)
    }
  }

  /** Cross-document LINE-level exact dedup — the C4 / MassiveText
    * scrub: every distinct line survives only at its first occurrence
    * in the (idCol, position) total order; all other occurrences —
    * including repeats inside one document — are removed, and each
    * document keeps its surviving lines in original order.
    *
    * `linesCol` is an `array<string>` of pre-split lines (the caller
    * owns the splitting policy: newline, sentence, fixed token chunk).
    *
    * Shape at scale: the dedup exchange carries only (hash64, id, pos)
    * — line TEXT never shuffles — and the winner set (one row per
    * distinct line) folds to a per-document position whitelist before
    * rejoining the corpus on id, so document bodies cross the wire
    * exactly once, in the output. Hash-only grouping has the same
    * 64-bit collision tradeoff as [[exactDedup]]; `verifyByText=true`
    * groups by (hash, line) so a collision between distinct lines can
    * never merge them, at the cost of shuffling the line column. */
  def lineDedup(df: DataFrame, idCol: String, linesCol: String,
      verifyByText: Boolean = false): DataFrame = {
    val occ = df.select(F.col(idCol).as("__id"),
        F.posexplode(F.col(linesCol)).as(Seq("__pos", "__line")))
      .select(F.col("__id"), F.col("__pos"),
        murmur64(F.col("__line")).as("__h"), F.col("__line"))
    val winners =
      (if (verifyByText) occ.groupBy(F.col("__h"), F.col("__line"))
       else occ.select("__id", "__pos", "__h").groupBy(F.col("__h")))
        .agg(F.min(F.struct(F.col("__id"), F.col("__pos"))).as("__w"))
        .select(F.col("__w.__id").as("__id"), F.col("__w.__pos").as("__pos"))
    val keepPerDoc = winners.groupBy("__id")
      .agg(F.collect_set(F.col("__pos")).as("__keep"))
    val survivors = F.when(F.col("__keep").isNotNull,
        // posexplode positions and the filter lambda index are both
        // 0-based — they align by construction
        F.filter(df(linesCol), (_, i) => F.array_contains(F.col("__keep"), i)))
      .otherwise(F.array().cast("array<string>"))
    df.join(keepPerDoc, df(idCol) === keepPerDoc("__id"), "left")
      .select(df.columns.toIndexedSeq.map(c =>
        if (c == linesCol) survivors.as(linesCol) else df(c)): _*)
  }

  /** Maximal duplicated substring spans — the exact-substring dedup of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"), token-granular: a position is duplicated when the
    * `l`-token gram starting there occurs at least twice ANYWHERE in
    * the corpus (another document or a repeat within the same one);
    * runs of duplicated positions merge to maximal spans. Output:
    * (idCol, span_start, span_end, n_tokens) with 0-based inclusive
    * token offsets, span length >= l — the cut list a substring-dedup
    * pass feeds on.
    *
    * Shape at scale: the gram exchange carries (hash64, id, pos) — 24
    * bytes per token position, never gram text — and the duplicated-gram
    * set comes from one map-side-combined count. The islands merge is a
    * per-document window (documents parallelize; a document's positions
    * are one partition's work, bounded by max doc length). Hash-only
    * gram identity has the same 64-bit collision tradeoff as
    * [[exactDedup]]; `verifyByText=true` carries the gram string
    * through the count for certainty at the cost of shuffling grams. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      l: Int, verifyByText: Boolean = false): DataFrame = {
    require(l >= 1, "l must be >= 1")
    // Default (hash-only) path: gram identity is the positional 64-bit
    // chain hash (TextOps.gramHashes — one codegen pass, no gram STRING
    // ever built; replacing the measured-hot array_join/slice string
    // builder + murmur64-of-string with straight long arithmetic). Same
    // 64-bit collision tradeoff as before — the identity was already
    // hash-only; only the hash construction changed. verifyByText still
    // builds gram strings: that mode exists precisely to carry the text.
    lazy val hashedOnly = df.select(F.col(idCol).as("__id"),
        F.posexplode(graft.ops.TextAnalysis.gram_hashes(F.col(textCol), l))
          .as(Seq("__p", "__h")))
    val toks = Tokenizer.space(F.col(textCol))
    // (verify mode) Build every (position, gram) struct inside ONE
    // generator, with the token array bound to a lambda variable via the
    // single-element outer transform — a plain `toks.as("__t")` alias
    // gets re-inlined by CollapseProject into every gram row,
    // re-tokenizing the full document once per position (measured 10x on
    // this query). The sequence() guard matters: it DESCENDS for
    // stop < start instead of returning empty.
    lazy val gramStructs = F.flatten(F.transform(F.array(toks), t =>
      F.when(F.size(t) >= l,
          F.transform(F.sequence(F.lit(0), F.size(t) - l), p =>
            F.struct(p.as("p"),
              F.array_join(F.slice(t, p + 1, F.lit(l)), " ").as("g"))))
        .otherwise(F.array().cast("array<struct<p:int,g:string>>"))))
    lazy val grams = df.select(F.col(idCol).as("__id"),
        F.explode(gramStructs).as("__pg"))
      .select(F.col("__id"), F.col("__pg.p").as("__p"),
        F.col("__pg.g").as("__g"))
    val hashed =
      if (verifyByText) grams.select(F.col("__id"), F.col("__p"),
        murmur64(F.col("__g")).as("__h"), F.col("__g"))
      else hashedOnly
    // verify mode must carry the gram TEXT through the semi-join too:
    // counting per (__h, __g) but then joining on __h alone would mark
    // a hash-colliding non-duplicated gram as duplicated — the exact
    // failure verifyByText exists to rule out
    val dupPos =
      if (verifyByText) {
        val dupKeys = hashed.groupBy(F.col("__h"), F.col("__g"))
          .agg(F.count(F.lit(1)).as("__c"))
          .filter(F.col("__c") >= 2).select("__h", "__g")
        hashed.join(dupKeys, Seq("__h", "__g"), "left_semi")
          .select(F.col("__id"), F.col("__p"))
      } else {
        val dupKeys = hashed.groupBy(F.col("__h"))
          .agg(F.count(F.lit(1)).as("__c"))
          .filter(F.col("__c") >= 2).select("__h")
        hashed.join(dupKeys, Seq("__h"), "left_semi")
          .select(F.col("__id"), F.col("__p"))
      }
    // gaps-and-islands: consecutive duplicated positions share
    // (p - row_number), so maximal runs fall out of one group-by
    val grp = F.col("__p") - F.row_number().over(
      Window.partitionBy(F.col("__id")).orderBy(F.col("__p")))
    dupPos.withColumn("__grp", grp)
      .groupBy(F.col("__id"), F.col("__grp"))
      .agg(F.min(F.col("__p")).as("span_start"),
        (F.max(F.col("__p")) + (l - 1)).as("span_end"))
      .select(F.col("__id").as(idCol),
        F.col("span_start").cast("long"), F.col("span_end").cast("long"),
        (F.col("span_end") - F.col("span_start") + 1).cast("long").as("n_tokens"))
  }

  /** Apply a [[duplicateSpans]] cut list: remove every token covered by
    * a span, keeping survivors in order. `spans` must carry (idCol,
    * span_start, span_end) with 0-based inclusive token offsets. Output:
    * (original columns with textCol scrubbed, n_removed).
    *
    * Shape at scale: spans explode to (id, position) rows and ANTI-join
    * the posexploded token stream — no per-document span array is ever
    * assembled or broadcast, and the join keys are (id, pos) integers.
    * Re-assembly sorts each document's surviving tokens inside a
    * per-id aggregation (documents parallelize across the corpus). */
  def cutSpans(df: DataFrame, spans: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val cut = spans.select(F.col(idCol).as("__id"),
        F.explode(F.sequence(F.col("span_start").cast("long"),
          F.col("span_end").cast("long"))).as("__p"))
    val toks = df.select(F.col(idCol).as("__id"),
        F.posexplode(Tokenizer.space(F.col(textCol)))
          .as(Seq("__p", "__tok")))
      .withColumn("__p", F.col("__p").cast("long"))
    val kept = toks.join(cut, Seq("__id", "__p"), "left_anti")
      .groupBy(F.col("__id"))
      .agg(F.array_join(F.array_sort(F.collect_list(
          F.struct(F.col("__p"), F.col("__tok")))).getField("__tok"), " ")
        .as("__scrubbed"),
        F.count(F.lit(1)).as("__n_kept"))
    val nTok = F.size(Tokenizer.space(df(textCol))).cast("long")
    df.join(kept, df(idCol) === kept("__id"), "left")
      .select(df.columns.toIndexedSeq.map(c =>
        if (c == textCol) F.coalesce(F.col("__scrubbed"), F.lit("")).as(textCol)
        else df(c)) :+
        (nTok - F.coalesce(F.col("__n_kept"), F.lit(0L))).as("n_removed"): _*)
  }

  /** Exact duplicate pairs (loser -> kept winner), for building a purge
    * list: every id whose text already appeared under a smaller id. */
  def exactDupLosers(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val h = df.select(F.col(idCol), murmur64(F.col(textCol)).as("__h"))
    val winners = h.groupBy("__h").agg(F.min(idCol).as("__keep"))
    h.join(winners, "__h")
      .filter(F.col(idCol) =!= F.col("__keep"))
      .select(F.col(idCol).as("dup_id"), F.col("__keep").as("kept_id"))
  }

  /** Incremental exact dedup: the rows of a NEW snapshot that are
    * first occurrences (min id) of content never seen in the EXISTING
    * corpus — the "dedup the fresh crawl against 100 TB of history
    * without rescanning history per batch" pipeline stage.
    *
    * Shape at scale: the new batch self-dedups on (hash, id) — 16
    * bytes per row — then anti-joins the old corpus's content hashes
    * through [[BloomJoin.anti]] (the reference's `ckblm` membership
    * semantics as a join pushdown). When the planner broadcasts the
    * history hashes the exact anti join runs alone. Otherwise the batch
    * probes a Bloom sketch of them first: Bloom-rejected rows are
    * PROVABLY absent from history and ship join-free; only the
    * might-contain subset (true dups + ~FPR of the batch) pays the
    * exact anti join against the old hash column. Either way the result
    * is exact, not probabilistic. Here the sketch is built inline (one
    * scan of `oldDf`); a production deployment amortizes that scan by
    * persisting the bank once per corpus version (`SketchBuildJob`)
    * and only re-sketching on compaction. Content identity is 64-bit
    * hash-only — the same documented collision tradeoff as
    * [[exactDedup]]. */
  def incrementalDedup(newDf: DataFrame, oldDf: DataFrame, idCol: String,
      textCol: String, bitsPerItem: Int = 16): DataFrame = {
    val hNew = newDf.select(F.col(idCol), murmur64(F.col(textCol)).as("__h"))
    val winners = hNew.groupBy("__h").agg(F.min(F.col(idCol)).as(idCol))
    // (with the prefilter, the history hash column is scanned three
    // times — Bloom sizing count, sketch build, exact anti join — but
    // caching it was MEASURED SLOWER here: the InMemoryRelation's
    // accurate stats freeze the anti join's planning, and three parallel
    // parquet re-scans of a single long column are cheaper than one
    // cache write + frozen plan)
    val oldH = oldDf.select(murmur64(F.col(textCol)).as("__h"))
    val fresh = BloomJoin.anti(winners, "__h", oldH, "__h", bitsPerItem)
      .select(F.col(idCol))
    newDf.join(fresh, Seq(idCol), "left_semi")
  }

  /** MinHash + LSH near-duplicate pairs: signature of `numHashes`
    * min-hashes over `shingleSize`-token shingles, banded into `bands`
    * groups of r = numHashes/bands rows. Two docs collide in a bucket iff
    * one band of their signatures matches exactly; candidates are then
    * verified with exact shingle-Jaccard >= `threshold`.
    *
    * With r rows per band, the collision probability of a pair with true
    * Jaccard s is 1-(1-s^r)^bands — the standard S-curve; defaults
    * (64 hashes, 16 bands, r=4) put the knee near s ~ 0.5.
    *
    * `probeAll = true` is the exhaustive regime: every document lands in
    * ONE shared bucket, so the candidate set is provably all pairs and
    * the output EQUALS the brute-force all-pairs shingle-Jaccard join —
    * SQL-expressible, hence exactly oracle-checkable (the same trick as
    * `srpBits = 0` in [[embeddingDupPairs]]). Quadratic by construction;
    * only for bounded slices / correctness gates. */
  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleSize: Int = 3,
      threshold: Double = 0.7,
      probeAll: Boolean = false): DataFrame = {
    require(numHashes % bands == 0, "numHashes must divide into bands")
    val r = numHashes / bands
    // The signature table is consumed by every branch of the skew-spread
    // bucket self-join below (census + two join sides per temperature
    // path — five scans), and Spark re-executes, not shares, common
    // subplans: uncached, the full per-document minhash pass (the
    // dominant stage of this pipeline at corpus scale) runs five times
    // per action. Persisted here — (id, 64 longs) rows, far narrower
    // than the documents they sign — and registry-scoped by the signature
    // plan's identity, like simhashPairsFromSig: a call on another input
    // must not evict this input's signatures. The banding explode stays
    // OUTSIDE the cache so join planning above it is unconstrained.
    // (probeAll drops the signature column entirely — column pruning
    // removes the minhash pass there, and a persist would force it back)
    val sigRaw = df.select(F.col(idCol),
      TextAnalysis.minhash_sig(F.col(textCol), numHashes, shingleSize).as("__sig"))
    val sig =
      if (probeAll) sigRaw
      else {
        val s = sigRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        SessionReuse.swap(df.sparkSession, ("minhash_sig", s.semanticHash()), Seq(s))
        s
      }

    // band b = murmur of the slice [b*r, (b+1)*r) — one row per (doc,
    // band), carrying ONLY (band, bucket, id): at corpus scale the band
    // explosion must never amplify document bodies through the shuffle
    val banded =
      if (probeAll) sig.select(F.col(idCol),
        F.lit(0).as("__band"), F.lit(0L).as("__bucket"))
      else sig.select(
        F.col(idCol),
        F.posexplode(F.transform(F.sequence(F.lit(0), F.lit(bands - 1)), b =>
          murmur64(F.concat_ws(",",
            F.transform(F.slice(F.col("__sig"), b * r + 1, F.lit(r)), _.cast("string"))))))
          .as(Seq("__band", "__bucket")))

    // bucket-join on ids; candidate pair count is O(near-dups), tiny
    // relative to the corpus. Skew-immune: a giant near-dup cluster's
    // shared buckets are grid-spread instead of handed to one reducer
    // (SkewJoin; the probeAll regime — deliberately one bucket — rides
    // the same grid, unchanged output)
    val candidateIds = SkewJoin.selfPairsWithinGroups(
        banded.select(F.col("__band"), F.col("__bucket"), F.col(idCol)),
        Seq("__band", "__bucket"))
      .select(F.col(s"__l.$idCol").as("id_a"), F.col(s"__r.$idCol").as("id_b"))
      .filter(F.col("id_a") < F.col("id_b"))
      .dropDuplicates("id_a", "id_b")

    // Exact verify over PRECOMPUTED hashed shingle arrays — never the
    // document text. The old shape joined full text onto every candidate
    // row and re-shingled both sides per pair (jaccard_shingles builds
    // two string sets per candidate); hashed arrays are computed once
    // per document, the candidate joins carry long arrays instead of
    // document bodies (the guide's move-small-rows lesson), and the
    // intersection is long arithmetic. tokenFallback = true selects the
    // shingle set jaccardShingles defines: the same Tokenizer.whitespace
    // tokens the minhash signature above was built from, and its
    // short-document token-set rule. The both-empty case keeps its
    // jaccard = 1.0, so the verified value equals jaccardShingles of the
    // two texts on any input, tabs and newlines included, absent a 2^-64
    // hash collision (the library's standard identity tradeoff).
    val shArrs = df.select(F.col(idCol),
      TextAnalysis.shingle_hashes(F.col(textCol), shingleSize, tokenFallback = true)
        .as("__sh"))
    val shA = shArrs.select(F.col(idCol).as("id_a"), F.col("__sh").as("__sha"))
    val shB = shArrs.select(F.col(idCol).as("id_b"), F.col("__sh").as("__shb"))
    candidateIds.join(shA, "id_a").join(shB, "id_b")
      .withColumn("__i", F.size(F.array_intersect(F.col("__sha"), F.col("__shb"))))
      .withColumn("__u", F.size(F.col("__sha")) + F.size(F.col("__shb")) - F.col("__i"))
      .withColumn("jaccard",
        F.when(F.col("__u") === 0, F.lit(1.0))
          .otherwise(F.col("__i").cast("double") / F.col("__u").cast("double")))
      .filter(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** EXACT word n-gram Jaccard near-duplicate pairs via prefix filtering
    * (the AllPairs / PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * ICDE'08). Unlike [[minhashLshPairs]] there is no signature and no
    * probabilistic recall: the output EQUALS the brute-force all-pairs
    * Jaccard join, but candidates are generated only from shingle
    * PREFIXES under a global rarity order, so frequent shingles never
    * drive the self-join.
    *
    * Prefix-filtering lemma: sort every document's distinct shingles by
    * one global total order (ascending document frequency, ties by
    * shingle). If Jaccard(A,B) >= t then |A ∩ B| >= ceil(t·|A|), and a
    * set of that size cannot hide entirely in A's last ceil(t·|A|) - 1
    * positions — so A's first |A| - ceil(t·|A|) + 1 shingles contain an
    * intersection element, and symmetrically for B. Joining prefixes is
    * therefore COMPLETE; the exact verification join makes it sound.
    *
    * 100 TB shape: one shuffle keyed by the 64-bit shingle identity hash
    * computes document frequency; prefixes carry only (hash, id, size) —
    * never text (shingle strings are never even materialized, see
    * ngramPrefixCandidates); the verification joins hashed shingle
    * arrays for candidate pairs only, and
    * the floating-point slack on the ceil only ever lengthens prefixes
    * (completeness is never rounding-dependent).
    *
    * Candidate generation also applies PPJoin's POSITIONAL filter (Xiao
    * et al. ICDE'08 §3.2): a prefix-token match at (1-based) positions
    * pa, pb bounds the overlap by 1 + min(|A|-pa, |B|-pb), because for
    * the FIRST shared token in the global order every other common token
    * sits strictly after it in both sorted arrays. Jaccard >= t forces
    * overlap >= t/(1+t)·(|A|+|B|), so candidates whose bound falls short
    * at every shared prefix token are pruned at generation time —
    * completeness holds at the first-shared-token row, and the exact
    * verification join keeps the output sound either way.
    *
    * The rarity-ordered per-doc shingle table is persisted
    * (MEMORY_AND_DISK) because four plan branches consume it and Spark
    * re-executes, not shares, common subplans. Each invocation RELEASES
    * the previous invocation's cached table for the same session (the
    * driver bench calls every query twice; un-scoped persists would
    * strand a copy per call for the JVM's lifetime) — DataFrames
    * returned by earlier invocations stay correct and simply recompute
    * if re-executed. */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.7): DataFrame = {
    val (byDoc, cand) = ngramPrefixCandidates(df, idCol, textCol, n, threshold)

    // exact verify for candidates only: both shingle arrays are already
    // distinct, so |A ∩ B| = size(array_intersect) — no further explosion
    cand
      .join(byDoc.select(F.col("__id").as("id_a"), F.col("__toks").as("__ta")), Seq("id_a"))
      .join(byDoc.select(F.col("__id").as("id_b"), F.col("__toks").as("__tb")), Seq("id_b"))
      .withColumn("__i", F.size(F.array_intersect(F.col("__ta"), F.col("__tb"))).cast("long"))
      .withColumn("jaccard", F.col("__i").cast("double") /
        (F.col("__sza") + F.col("__szb") - F.col("__i")).cast("double"))
      .filter(F.col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Candidate-generation prefix of [[ngramJaccardPairs]]: the persisted
    * rarity-ordered per-doc shingle table and the deduplicated candidate
    * pair set (id_a, id_b, __sza, __szb). `positionalFilter = false`
    * disables the PPJoin positional prune — it exists so tests can
    * MEASURE the pruning (fewer candidates, identical verified output),
    * which is the filter's entire claim. */
  private[ops] def ngramPrefixCandidates(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int,
      threshold: Double,
      positionalFilter: Boolean = true): (DataFrame, DataFrame) = {
    require(n >= 1, "shingle width must be >= 1")
    require(threshold > 0 && threshold <= 1, "threshold must be in (0, 1]")
    // Shingle IDENTITY = 64-bit order-sensitive chain hash
    // (TextOps.shingleHashes; Tokenizer.space semantics, one
    // codegen'd pass, distinct within the document) — never the shingle
    // STRING. Everything downstream (frequency count, rarity sort,
    // prefix join keys, the verify intersection) then moves 8-byte longs
    // instead of ~30-byte strings: the r6 measurement put the string
    // version's verify join at 7-10 s on the sf0.1 t=0.5 clustering
    // input because every candidate row shipped two full shingle-string
    // arrays; hashed arrays are ~4x narrower and hash/sort/intersect in
    // long arithmetic (guide "shuffle fewer bytes / narrower types"). A
    // 2^-64 identity collision merges two shingles — the SAME documented
    // tradeoff exactDedup / lineDedup / duplicateSpans already accept by
    // default; the output pair set and jaccard values are unchanged
    // absent such a collision (oracle-checked at every tested SF).
    val toks = df.select(F.col(idCol).as("__id"),
      F.explode(TextAnalysis.shingle_hashes(F.col(textCol), n)).as("__tok"))

    val freq = toks.groupBy("__tok").agg(F.count(F.lit(1)).as("__df"))
    // ONE compact rarity-ordered shingle array per doc — (df asc, hash
    // asc) is the global total order the prefix lemma needs (ANY total
    // order preserves completeness; the identity hash is as good a
    // tie-break as the string and sorts in long compares), and the array
    // is bounded by the document's own size so collect_list carries no
    // skew beyond the document itself. Persisted because every downstream
    // consumer (both prefix sides of the self-join, both verify sides)
    // would otherwise re-explode and re-aggregate the whole corpus: Spark
    // does not share common subplans across self-join branches.
    val byDoc = toks.join(freq, "__tok")
      .groupBy("__id")
      .agg(
        F.sort_array(F.collect_list(F.struct(F.col("__df"), F.col("__tok")))).as("__ts"),
        F.count(F.lit(1)).as("__sz"))
      .select(F.col("__id"),
        F.transform(F.col("__ts"), t => t.getField("__tok")).as("__toks"),
        F.col("__sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // registry scopes the cache: strand cap 1 per (session, config);
    // see SessionReuse.swap for the sameSemantics eviction rule
    SessionReuse.swap(df.sparkSession, ("ngram", n, threshold), Seq(byDoc))
    // prefix length |X| - ceil(t·|X|) + 1; the 1e-9 slack can only shrink
    // the ceil, i.e. LENGTHEN the prefix — always safe
    val plen = (F.col("__sz") -
      F.ceil(F.lit(threshold) * F.col("__sz") - F.lit(1e-9)) + 1).cast("int")
    // __p is the token's 0-based position within the rarity-ordered array
    // — the input to the positional filter below
    val prefix = byDoc.select(F.col("__id"), F.col("__sz"),
      F.posexplode(F.slice(F.col("__toks"), F.lit(1), plen)).as(Seq("__p", "__tok")))

    // overlap lower bound required by Jaccard >= t:
    // |A ∩ B| >= t/(1+t)·(|A|+|B|); slack only ever ADMITS borderline
    // candidates — the exact verify rejects them
    val needOverlap = F.ceil(F.lit(threshold / (1.0 + threshold)) *
      (F.col("__sza") + F.col("__szb")).cast("double") - F.lit(1e-9))
    // skew-immune prefix self-join: a boilerplate cluster shares its
    // whole rarity prefix, so each of those ~|prefix| hot shingle keys
    // would otherwise generate the full cluster-quadratic pair set on a
    // single reducer (measured 186 s single task on the r5 hotspot
    // corpus); SkewJoin grid-spreads exactly those keys
    val cand = SkewJoin.selfPairsWithinGroups(
        prefix.select(F.col("__tok"), F.col("__id"), F.col("__sz"), F.col("__p")),
        Seq("__tok"))
      .select(F.col("__l.__id").as("id_a"),
        F.col("__l.__sz").as("__sza"), F.col("__l.__p").as("__pa"),
        F.col("__r.__id").as("id_b"),
        F.col("__r.__sz").as("__szb"), F.col("__r.__p").as("__pb"))
      .filter(F.col("id_a") < F.col("id_b"))
      // size pruning: Jaccard >= t forces min >= t·max
      .filter(F.least(F.col("__sza"), F.col("__szb")).cast("double") >=
        F.lit(threshold) * F.greatest(F.col("__sza"), F.col("__szb")).cast("double") - F.lit(1e-9))
      // positional filter (PPJoin): tokens strictly after this shared one
      // number |X| - (p+1) on each side; the overlap can't exceed
      // 1 + min of those, so a pair whose bound misses needOverlap at
      // every shared prefix token can't reach Jaccard t
      .filter(!F.lit(positionalFilter) || (F.lit(1) + F.least(
        F.col("__sza") - F.col("__pa") - 1,
        F.col("__szb") - F.col("__pb") - 1) >= needOverlap))
      .select("id_a", "id_b", "__sza", "__szb")
      .dropDuplicates("id_a", "id_b")
    (byDoc, cand)
  }

  /** Connected components over an undirected duplicate-pair list — the
    * clustering step that turns near-dup PAIRS into dedup GROUPS (a pair
    * list alone under-merges: near-dup similarity is not transitive, but
    * a curation pipeline keeps one representative per connected
    * cluster). Output: (idCol, component) for every id that appears in a
    * pair, component = the minimum id reachable from it.
    *
    * Shape: min-label propagation with POINTER JUMPING — per iteration,
    * every node adopts min(own label, neighbors' labels), then labels
    * shortcut through the label graph (comp := comp(comp)), which halves
    * every chain's depth and makes convergence O(log diameter) instead
    * of O(diameter) (the pointer-doubling idea behind two-phase CC
    * algorithms like large-star/small-star). Two shuffles keyed by id
    * per iteration, no driver-side graph state.
    *
    * Each iteration's result is `localCheckpoint`ed: iterative Spark
    * lineage otherwise GROWS THE PLAN EXPONENTIALLY (each self-join
    * embeds the previous iteration's tree twice — observed as an OOM
    * just STRINGIFYING the plan at ~25 iterations), and truncating it
    * keeps per-iteration planning O(1). Local checkpoints trade executor
    * fault-tolerance for speed; a production run that must survive
    * executor loss should set a reliable checkpoint dir and swap in
    * `checkpoint` — same shape, same cost model.
    *
    * Fails loudly if `maxIter` is hit without convergence rather than
    * returning a half-merged labeling (log convergence makes the default
    * enough for any component with < 2^20-deep chains). */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // Symmetrize with ONE explode pass over the pair stream — NOT a
    // self-union. A union's two branches schedule concurrently, so even
    // a persisted pair projection gets computed twice: branch A's task
    // for partition i and branch B's task for the same cached partition
    // race, both miss, and both execute the caller's whole
    // pair-generation DAG (candidate join + verify — the expensive part;
    // measured as a full second materialization on the t=0.5 clustering
    // input). The explode emits both directions from a single scan, so
    // the caller's DAG executes exactly once, into the edges persist.
    val edges = pairs
      .select(F.explode(F.array(
        F.struct(F.col(aCol).as("__src"), F.col(bCol).as("__dst")),
        F.struct(F.col(bCol).as("__src"), F.col(aCol).as("__dst")))).as("__e"))
      .select(F.col("__e.__src").as("__src"), F.col("__e.__dst").as("__dst"))
      .dropDuplicates("__src", "__dst")
      .persist(lvl)
    val tEdges = System.nanoTime()
    var labels = edges.select(F.col("__src").as("__id")).distinct()
      .withColumn("__comp", F.col("__id"))
      .localCheckpoint(true)
    if (sys.env.contains("GRAFT_CC_DEBUG"))
      // scalastyle:off println
      println(f"[cc] edges+labels sec=${(System.nanoTime() - tEdges) / 1e9}%.2f")
      // scalastyle:on println
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val neighborMin = edges
        .join(labels.select(F.col("__id").as("__dst"), F.col("__comp")), "__dst")
        .groupBy(F.col("__src").as("__id"))
        .agg(F.min("__comp").as("__nmin"))
      val stepped = labels
        .select(F.col("__id"), F.col("__comp").as("__old"))
        .join(neighborMin, Seq("__id"), "left")
        .select(F.col("__id"), F.col("__old"),
          F.least(F.col("__old"), F.coalesce(F.col("__nmin"), F.col("__old")))
            .as("__c1"))
      // pointer jump: follow the label one hop (labels always point at
      // node ids, so the self-join is total; left join for safety)
      // LAZY checkpoint: the convergence count right below is the
      // materializing action, so each iteration runs ONE Spark job
      // (eager checkpoint + count was two) — at a few hundred edges the
      // loop is pure fixed job overhead and this halves it
      val next = stepped
        .join(stepped.select(F.col("__id").as("__c1"), F.col("__c1").as("__cc")),
          Seq("__c1"), "left")
        .select(F.col("__id"),
          F.coalesce(F.col("__cc"), F.col("__c1")).as("__comp"),
          F.col("__old"))
        .localCheckpoint(false)
      val t0 = System.nanoTime()
      val changed = next.filter(F.col("__comp") < F.col("__old")).count()
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        // scalastyle:off println
        println(f"[cc] iter=$it changed=$changed sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        // scalastyle:on println
      // superseded generations are NOT explicitly unpersistable —
      // Dataset.unpersist goes through the CacheManager, which never saw
      // a localCheckpoint's RDD-level blocks. Dropping the reference here
      // lets the ContextCleaner reclaim them; pointer jumping bounds live
      // generations to the O(log diameter) iteration count.
      labels = next.drop("__old")
      converged = changed == 0L
      it += 1
    }
    edges.unpersist(blocking = false)
    require(converged,
      s"connectedComponents did not converge within $maxIter iterations")
    labels.select(F.col("__id").as(aCol), F.col("__comp").as("component"))
  }

  /** The end-of-pipeline materializer over [[connectedComponents]]:
    * keep exactly one representative (the minimum id) per near-dup
    * cluster and every unpaired document. The losers list is tiny
    * relative to the corpus (ids of non-representative cluster members),
    * so the final prune is a left-anti join against a small side —
    * the corpus shuffles on its id once, bodies untouched. */
  def keepClusterRepresentatives(df: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol)
      .filter(F.col(aCol) =!= F.col("component"))
      .select(F.col(aCol).as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash near-duplicate pairs: 64-bit signature, candidates matched
    * on any of 4 x 16-bit bands, verified by Hamming distance <=
    * `maxHamming` via the codegen'd bit_count built-in.
    *
    * The signature votes over order-sensitive token 3-grams — REQUIRED at
    * corpus scale: unigram SimHash collapses on Zipf text (any two
    * documents share the high-frequency word types, so an
    * order-insensitive vote puts ~15% of ALL pairs within hamming 3 —
    * quadratic output; measured in the r5 scale run, BENCH.md). */
  def simhashPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashPairsFromSig(
      df.select(F.col(idCol), TextAnalysis.simhash_ngram64(F.col(textCol), 3).as("__sim")),
      idCol, "__sim", maxHamming)

  /** SimHash pair generation over a PRECOMPUTED signature column.
    * `probeAll = true` collapses the banding to one shared bucket so the
    * candidate set is provably all pairs — the exact-oracle regime (the
    * Hamming verify then fully determines the output, checkable against
    * brute-force SQL on the same signatures); production banding stays
    * the 4 x 16-bit scheme. */
  def simhashPairsFromSig(
      sigDf: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int,
      probeAll: Boolean = false): DataFrame = {
    // same five-consumer persist as minhashLshPairs (census + 4 join
    // branches re-execute the caller's signature pipeline otherwise);
    // (id, long) rows, registry-scoped by plan identity. probeAll
    // regimes skip it: their banding is constant-valued and the exact
    // twin queries run over bounded slices where the cache buys nothing.
    val sigRaw = sigDf.select(F.col(idCol), F.col(sigCol).as("__sim"))
    val sig =
      if (probeAll) sigRaw
      else {
        val s = sigRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        SessionReuse.swap(sigDf.sparkSession, ("simhash_sig", s.semanticHash()), Seq(s))
        s
      }
    val banded =
      if (probeAll)
        sig.select(F.col(idCol), F.col("__sim"),
          F.lit(0).as("__band"), F.lit(0L).as("__bucket"))
      else
        sig.select(F.col(idCol), F.col("__sim"),
          F.posexplode(F.array((0 until 4).map(b =>
            F.shiftright(F.col("__sim"), b * 16).bitwiseAND(F.lit(0xffffL))): _*))
            .as(Seq("__band", "__bucket")))
    SkewJoin.selfPairsWithinGroups(
        banded.select(F.col("__band"), F.col("__bucket"), F.col(idCol), F.col("__sim")),
        Seq("__band", "__bucket"))
      .select(F.col(s"__l.$idCol").as("id_a"), F.col("__l.__sim").as("sim_a"),
        F.col(s"__r.$idCol").as("id_b"), F.col("__r.__sim").as("sim_b"))
      .filter(F.col("id_a") < F.col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b"))))
      .filter(F.col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Embedding near-duplicate pairs via cosine >= threshold, bucketed by
    * signed-random-projection LSH (see Similarity.srpSignature) so the
    * pair generation never goes O(n^2). Exact cosine verifies candidates. */
  def embeddingDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      srpBits: Int = 16): DataFrame = {
    // bucket on ids only; vectors are re-joined for candidate pairs so
    // the SRP bucket join never shuffles embeddings
    val sig = df.select(F.col(idCol),
      Similarity.srpSignature(F.col(vecCol), srpBits).as("__srp"))
    val candidateIds = SkewJoin.selfPairsWithinGroups(
        sig.select(F.col("__srp"), F.col(idCol)), Seq("__srp"))
      .select(F.col(s"__l.$idCol").as("id_a"), F.col(s"__r.$idCol").as("id_b"))
      .filter(F.col("id_a") < F.col("id_b"))
      .dropDuplicates("id_a", "id_b")
    val vecsA = df.select(F.col(idCol).as("id_a"), F.col(vecCol).as("va"))
    val vecsB = df.select(F.col(idCol).as("id_b"), F.col(vecCol).as("vb"))
    candidateIds.join(vecsA, "id_a").join(vecsB, "id_b")
      .withColumn("cosine", Similarity.cosine(F.col("va"), F.col("vb")))
      .filter(F.col("cosine") >= threshold)
      .select("id_a", "id_b", "cosine")
  }

  /** SemDeDup (Abbas et al. 2023): semantic near-duplicate PRUNING.
    * Embeddings are k-means-clustered ([[Similarity.trainIvf]]:
    * deterministic murmur-sampled seeds + distributed Lloyd), candidate
    * pairs are generated WITHIN each cluster cell only, and a document
    * is pruned when a lower-id member of its cell has cosine >=
    * `threshold` (min-id as the deterministic stand-in for the paper's
    * keep-farthest-from-centroid tie-break). Output: one row per input
    * — (idCol, kept: boolean).
    *
    * Shape at scale: the cell join carries (cell, id) — 12 bytes per
    * row — and embeddings are re-joined for candidate pairs only.
    * Within-cell pair generation is O(sum cell^2): SemDeDup's own
    * contract is that `nlist` grows with the corpus so cells stay
    * near-constant size (the paper uses 50k clusters for LAION), which
    * keeps the quadratic local and bounded. `nlist = 1` is the
    * exhaustive regime — the candidate set is provably all pairs, so
    * the kept set equals a brute-force cosine scan and is exactly
    * oracle-checkable (the [[minhashLshPairs]] `probeAll` trick). */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double = 0.95,
      nlist: Int = 64,
      lloydIters: Int = 1): DataFrame = {
    val cents = Similarity.trainIvf(df, idCol, vecCol, nlist, lloydIters)
    val assigned = df.select(F.col(idCol), F.col(vecCol),
      F.element_at(Similarity.ivfCells(F.col(vecCol), cents, 1), 1).as("__cell"))
    val slim = assigned.select(F.col("__cell"), F.col(idCol))
    val pairs = slim.select(F.col("__cell"), F.col(idCol).as("id_a"))
      .join(slim.select(F.col("__cell"), F.col(idCol).as("id_b")), Seq("__cell"))
      .filter(F.col("id_a") < F.col("id_b"))
      .select("id_a", "id_b")
    val vecsA = df.select(F.col(idCol).as("id_a"), F.col(vecCol).as("__va"))
    val vecsB = df.select(F.col(idCol).as("id_b"), F.col(vecCol).as("__vb"))
    val losers = pairs.join(vecsA, "id_a").join(vecsB, "id_b")
      .filter(Similarity.cosine(F.col("__va"), F.col("__vb")) >= threshold)
      .select(F.col("id_b").as(idCol)).distinct()
      .withColumn("__lost", F.lit(true))
    df.select(F.col(idCol))
      .join(losers, Seq(idCol), "left")
      .select(F.col(idCol), F.col("__lost").isNull.as("kept"))
  }
}
