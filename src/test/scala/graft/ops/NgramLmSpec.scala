package graft.ops

import graft.spark.SparkTestBase

/** Hand-computed cases for the bigram stupid-backoff LM scorer: model
  * counts, hit/backoff arithmetic (incl. the fixed-point floor), docs
  * scored against a foreign reference corpus, and degenerate inputs.
  */
class NgramLmSpec extends SparkTestBase {
  import spark.implicits._

  // ref corpus: unigrams a:3 b:3 c:1 (N=7); bigrams "a b":3 "b a":1 "b c":1
  private def refDocs = Seq((1L, "a b a b c"), (2L, "a b")).toDF("doc_id", "text")

  test("selfScore: hand-computed hit-path scores and fixed-point rollup") {
    val out = NgramLm.selfScore(refDocs, "doc_id", "text")
      .orderBy("doc_id").collect()
    assert(out.length === 2)
    // doc1 positions: (a b)=3/3, (b a)=1/3, (a b)=3/3, (b c)=1/3
    val third = math.floor((1.0 / 3) * 1e9).toLong
    val d1 = out(0)
    assert(d1.getLong(1) === 4L) // n_scored
    assert(d1.getLong(2) === 0L) // n_backoff (self-scoring: every bigram seen)
    assert(d1.getLong(3) === 2L * 1000000000L + 2L * third)
    assert(d1.getDouble(4) === (2L * 1000000000L + 2L * third).toDouble / 4 / 1e9)
    // doc2: one position (a b)=3/3=1.0
    val d2 = out(1)
    assert(d2.getLong(1) === 1L)
    assert(d2.getLong(3) === 1000000000L)
    assert(d2.getDouble(4) === 1.0)
  }

  test("scoreDocs vs a foreign reference: backoff for unseen bigrams and unseen tokens") {
    val docs = Seq((10L, "c c"), (11L, "a z")).toDF("doc_id", "text")
    val out = NgramLm.scoreDocs(docs, "doc_id", "text", refDocs, "text")
      .orderBy("doc_id").collect()
    // "c c": bigram unseen -> 0.4 * (c(c)=1 / N=7)
    val d10 = out(0)
    assert(d10.getLong(1) === 1L)
    assert(d10.getLong(2) === 1L)
    assert(d10.getLong(3) === math.floor(0.4 * (1.0 / 7) * 1e9).toLong)
    // "a z": bigram unseen AND z unseen -> p = 0
    val d11 = out(1)
    assert(d11.getLong(2) === 1L)
    assert(d11.getLong(3) === 0L)
    assert(d11.getDouble(4) === 0.0)
  }

  test("documents with fewer than two tokens drop out; multi-space text tokenizes clean") {
    val docs = Seq((1L, "solo"), (2L, ""), (3L, "a  b")).toDF("doc_id", "text")
    val out = NgramLm.scoreDocs(docs, "doc_id", "text", refDocs, "text")
      .orderBy("doc_id").collect()
    // only doc 3 has a bigram position; the double space contributes no
    // empty token (so the pair is (a, b), a seen bigram)
    assert(out.map(_.getLong(0)).toSeq === Seq(3L))
    assert(out(0).getLong(2) === 0L)
    assert(out(0).getLong(3) === 1000000000L)
  }

  test("model tables carry hashes and counts only (no token text in the exchange)") {
    val (uni, total) = NgramLm.unigramModel(refDocs, "text")
    assert(uni.schema.fieldNames.toSeq === Seq("__h", "__c_uni"))
    assert(uni.count() === 3L)
    assert(uni.agg(org.apache.spark.sql.functions.sum("__c_uni")).head().getLong(0) === 7L)
    assert(total.head().getLong(0) === 7L)
    val big = NgramLm.bigramModel(refDocs, "text")
    assert(big.schema.fieldNames.toSeq === Seq("__h", "__c_big"))
    assert(big.count() === 3L)
    assert(big.agg(org.apache.spark.sql.functions.sum("__c_big")).head().getLong(0) === 5L)
  }
}
