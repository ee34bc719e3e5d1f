package graft.ops

import org.apache.spark.sql.{functions => F}
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.spark.SparkTestBase

/** SessionReuse: build-once per (session, key), the one-generation
  * persist swap with its sameSemantics guard, input-identity keys for the
  * minhash signature cache, and the reuse disclosure derived from the
  * code that reuses. */
class SessionReuseSpec extends SparkTestBase {
  import spark.implicits._

  private def uniqueKey(tag: String) = (tag, java.util.UUID.randomUUID().toString)

  test("once builds once per (session, key) and again in a second session") {
    val key = uniqueKey("once")
    var builds = 0
    def build(): AnyRef = { builds += 1; new Object }
    val a1 = SessionReuse.once(spark, key)(build())
    val a2 = SessionReuse.once(spark, key)(build())
    assert(builds === 1)
    assert(a1 eq a2)
    val b = SessionReuse.once(spark.newSession(), key)(build())
    assert(builds === 2)
    assert(!(b eq a1))
    // a different key in the first session is its own build
    SessionReuse.once(spark, uniqueKey("once"))(build())
    assert(builds === 3)
  }

  test("swap keeps a same-semantics predecessor cached and evicts a different one") {
    val key = uniqueKey("swap")
    val n = 1237L // a plan no other suite caches in the shared session
    def frame(rows: Long) = spark.range(0, rows).toDF("id").persist()
    val first = frame(n)
    first.count()
    SessionReuse.swap(spark, key, Seq(first))
    // a re-invocation rebuilds the identical plan: its persist() shares
    // the predecessor's CacheManager entry, which must survive the swap
    // (unpersisting it left the successor silently uncached — the 7x
    // regression on the t=0.5 ngram clustering input)
    val again = frame(n)
    SessionReuse.swap(spark, key, Seq(again))
    assert(again.storageLevel !== StorageLevel.NONE)
    assert(first.storageLevel !== StorageLevel.NONE)
    // a different plan under the same key releases the predecessor
    val other = frame(n + 1)
    SessionReuse.swap(spark, key, Seq(other))
    assert(again.storageLevel === StorageLevel.NONE)
    assert(other.storageLevel !== StorageLevel.NONE)
    other.unpersist()
  }

  test("minhash signature cache is keyed by input: a second input keeps the first cached") {
    val a = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon eta"),
      (3L, "one two three four five six")).toDF("id", "text")
    val b = Seq((1L, "red green blue cyan magenta yellow"),
      (2L, "red green blue cyan magenta black"),
      (3L, "north south east west up down")).toDF("id", "text")
    // the signature frame minhashLshPairs persists, at its defaults
    def sig(df: org.apache.spark.sql.DataFrame) =
      df.select(F.col("id"), TextAnalysis.minhash_sig(F.col("text"), 64, 3).as("__sig"))
    Dedup.minhashLshPairs(a, "id", "text").count()
    assert(sig(a).storageLevel !== StorageLevel.NONE)
    Dedup.minhashLshPairs(b, "id", "text").count()
    assert(sig(b).storageLevel !== StorageLevel.NONE)
    assert(sig(a).storageLevel !== StorageLevel.NONE,
      "B's signatures evicted A's: the cache key lacks input identity")
    sig(a).unpersist()
    sig(b).unpersist()
  }

  test("memoizedQueries is recorded by the reusing code as the queries run") {
    // the sf0.001 tables, located through the flagship `entry` query
    val sf = new java.io.File(new java.net.URI(SparkEntry.entry(spark).inputFiles.head)).getParent
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (_, fn) => fn(spark, sf).count() }
    val got = SparkEntry.memoizedQueries
    val streaming = Seq("streaming_sessionization", "streaming_windowed_counts",
      "streaming_dedup", "streaming_dedup_compacted", "streaming_transcript_windowed")
    val plans = Seq("ivf_topk", "pq_topk", "pq_topk_exact", "ngram_jaccard_dups",
      "semantic_dedup", "semantic_dedup_exact", "bpe_encode")
    (streaming ++ plans).foreach(q => assert(got(q), s"$q reuses session state but is not disclosed"))
    assert(!got("q1_agg"), "q1_agg reuses nothing")
    assert(got.subsetOf(SparkEntry.queries.keySet), got -- SparkEntry.queries.keySet)
  }
}
