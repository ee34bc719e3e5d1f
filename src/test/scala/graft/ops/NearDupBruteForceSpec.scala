package graft.ops

import graft.SparkEntry
import graft.spark.SparkTestBase

/** The banded near-duplicate queries checked pair by pair against a
  * brute-force all-pairs computation in plain Scala, at sf0.01 (500
  * documents plus their " tailmarker" twins, as the queries build them).
  * Without this spec the two queries are checked by row count only.
  */
class NearDupBruteForceSpec extends SparkTestBase {

  /** sf0.01 sits beside the sf0.001 tables [[SparkEntry.entry]] reads. */
  private lazy val sf = new java.io.File(new java.net.URI(
    SparkEntry.entry(spark).inputFiles.head)).getParentFile.getParent + "/sf0.01"

  /** The queries' input: every document and its tailmarker twin. */
  private lazy val texts: Map[Long, String] = {
    val base = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    (base ++ base.map { case (id, t) => (id + 100000L, t + " tailmarker") }).toMap
  }

  private def allPairs[A](f: Long => A)(keep: (A, A) => Boolean): Set[(Long, Long)] = {
    val ids = texts.keys.toArray.sorted
    val vals = ids.toIndexedSeq.map(f)
    (for {
      i <- ids.indices.iterator
      j <- (i + 1 until ids.length).iterator
      if keep(vals(i), vals(j))
    } yield (ids(i), ids(j))).toSet
  }

  test("minhash_near_dups: every pair carries its exact shingle Jaccard and is a brute-force pair at 0.5") {
    val out = SparkEntry.queries("minhash_near_dups")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.nonEmpty)
    out.foreach { case (a, b, j) =>
      assert(j === TextOps.jaccardShingles(texts(a), texts(b), 3), s"pair ($a, $b)")
    }
    val brute = allPairs(id => TextOps.shingles(texts(id), 3)) { (sa, sb) =>
      val i = sa.count(sb.contains)
      val u = sa.size + sb.size - i
      u == 0 || i.toDouble / u >= 0.5
    }
    val got = out.map { case (a, b, _) => (a, b) }.toSet
    assert(got.size === out.length, "duplicate output pairs")
    assert(got.subsetOf(brute), got -- brute)
  }

  test("simhash_near_dups equals the brute-force set of pairs within Hamming 3") {
    // 4 bands x 16 bits: two signatures within Hamming 3 agree on at
    // least one whole band (pigeonhole), so banding loses no pair
    val out = SparkEntry.queries("simhash_near_dups")(spark, sf).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    val sim = texts.map { case (id, t) => id -> TextOps.simhashNgram64(t, 3) }
    val brute = allPairs(sim)((x, y) => java.lang.Long.bitCount(x ^ y) <= 3)
    assert(brute.nonEmpty)
    assert(out.map(_._1).toSet === brute)
    assert(out.length === brute.size, "duplicate output pairs")
    out.foreach { case ((a, b), h) =>
      assert(h === java.lang.Long.bitCount(sim(a) ^ sim(b)), s"pair ($a, $b)")
    }
  }
}
