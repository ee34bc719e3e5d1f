package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

/** Fuzzy string self-join: all pairs within edit (Levenshtein) distance
  * `maxEd` — the typo-clustering primitive of vocabulary cleaning and
  * entity resolution. All-pairs `levenshtein` is O(n² · len²) and
  * unshippable at corpus scale; candidates here come from the EDJoin
  * family's q-gram PREFIX filter (Xiao et al. PVLDB'08):
  *
  * One edit changes at most q distinct q-gram TYPES of a string, so
  * ed(a,b) <= k implies |grams(a) \ grams(b)| <= k·q, and under one
  * global total order on grams (ascending document frequency, ties by
  * gram) the (k·q + 1)-gram prefixes of a and b must intersect — were
  * they disjoint, walking the union's smallest grams charges every
  * prefix gram to a set difference of size <= k·q, a contradiction.
  *
  * That lemma needs MORE THAN k·q grams to exist: a string with
  * length < k·q + q can lose its ENTIRE gram set to k edits ("fhc" ->
  * "fec" shares zero bigrams at ed 1), so the short-string class gets a
  * fallback candidate key — a sentinel length-class token per length in
  * [len-k, len+k]; two short strings within k of each other's length
  * always share one, and the class is tiny in any real vocabulary.
  * Joining prefixes + length keys is therefore COMPLETE; exact
  * `levenshtein` (a codegen'd Spark built-in, same unit-cost definition
  * as DuckDB's) makes it sound. Length pruning (| |a|-|b| | <= k) cuts
  * the rest.
  *
  * 100 TB shape: one shuffle keyed by gram computes gram frequencies;
  * prefixes carry only (gram, id, length); the verify join re-reads the
  * strings for candidate pairs only.
  */
object FuzzyJoin {

  def editDistancePairs(df: DataFrame, idCol: String, strCol: String,
      maxEd: Int = 1, q: Int = 2): DataFrame = {
    require(maxEd >= 1, "maxEd must be >= 1")
    require(q >= 1, "q must be >= 1")
    // distinct q-gram set per string; strings shorter than q contribute
    // themselves as their single gram so they still carry a prefix
    val grams = F.when(F.length(F.col("__s")) < q, F.array(F.col("__s")))
      .otherwise(F.array_distinct(F.transform(
        F.sequence(F.lit(1), F.length(F.col("__s")) - (q - 1)),
        i => F.col("__s").substr(i, F.lit(q)))))
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // persisted: read once by the df-frequency aggregation and once by
    // the per-string rollup join, instead of re-running the corpus scan
    // + gram explode for each
    val toks = df.select(F.col(idCol).as("__id"), F.col(strCol).as("__s"))
      .filter(F.col("__s").isNotNull)
      .select(F.col("__id"), F.col("__s"), F.explode(grams).as("__g"))
      .persist(lvl)

    val freq = toks.groupBy("__g").agg(F.count(F.lit(1)).as("__df"))
    // persisted: feeds the gram-prefix explode AND the short-string
    // length-key branch, each of which appears on BOTH sides of the
    // candidate self-join
    val byStr = toks.join(freq, "__g")
      .groupBy(F.col("__id"), F.col("__s"))
      .agg(F.sort_array(F.collect_list(F.struct(F.col("__df"), F.col("__g")))).as("__gs"))
      .select(F.col("__id"), F.col("__s"), F.length(F.col("__s")).as("__len"),
        F.transform(F.col("__gs"), t => t.getField("__g")).as("__grams"))
      .persist(lvl)
    // persisting matters because the prefix table is SELF-joined and
    // byStr feeds two branches of it plus both verify rejoins: Spark
    // does not share common subplans across self-join branches; the
    // registry scopes the cache (strand cap 1 per config per session)
    SessionReuse.swap(df.sparkSession, ("fuzzy", maxEd, q), Seq(toks, byStr))

    val plen = maxEd * q + 1
    // prefix rows carry ONLY (gram, id, length) — never the string: each
    // string fans out into up to maxEd*q+1 prefix rows (plus the short-
    // class length keys), and shipping the string per fanned row through
    // both sides of the candidate join would multiply the exchange by
    // the prefix count; the verify re-reads strings from the PERSISTED
    // byStr for candidate pairs only
    val gramPrefix = byStr.select(F.col("__id"), F.col("__len"),
      F.explode(F.slice(F.col("__grams"), 1, plen)).as("__g"))
    // short-string fallback: sentinel keys that cannot collide with real
    // grams (a q-gram is exactly q input chars; the sentinel is longer
    // than a small-q gram and leads with NUL, which no sane vocabulary
    // contains)
    val shortLen = maxEd * q + q
    val lenKeys = byStr.filter(F.col("__len") < shortLen)
      .select(F.col("__id"), F.col("__len"),
        F.explode(F.sequence(F.col("__len") - maxEd, F.col("__len") + maxEd)).as("__lk"))
      .select(F.col("__id"), F.col("__len"),
        F.concat(F.lit("\u0000len:"), F.col("__lk").cast("string")).as("__g"))
    val prefix = gramPrefix.unionByName(lenKeys)

    val cand = prefix
      .select(F.col("__g"), F.col("__id").as("id_a"), F.col("__len").as("__la"))
      .join(prefix.select(F.col("__g"), F.col("__id").as("id_b"),
        F.col("__len").as("__lb")), Seq("__g"))
      .filter(F.col("id_a") < F.col("id_b"))
      .filter(F.abs(F.col("__la") - F.col("__lb")) <= maxEd)
      .select("id_a", "id_b")
      .dropDuplicates("id_a", "id_b")
    cand
      .join(byStr.select(F.col("__id").as("id_a"), F.col("__s").as("str_a")),
        Seq("id_a"))
      .join(byStr.select(F.col("__id").as("id_b"), F.col("__s").as("str_b")),
        Seq("id_b"))
      .withColumn("ed", F.levenshtein(F.col("str_a"), F.col("str_b")))
      .filter(F.col("ed") <= maxEd)
      .select(F.col("id_a"), F.col("id_b"), F.col("ed"))
  }
}
