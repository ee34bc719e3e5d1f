package graft.ops

import org.apache.spark.sql.{functions => F}

import graft.spark.SparkTestBase

/** SkewJoin.selfPairsWithinGroups — multiset equality with the plain
  * self-join it replaces, across cold, hot, and capped-grid groups. */
class SkewJoinSpec extends SparkTestBase {
  import spark.implicits._

  private def pairsOf(df: org.apache.spark.sql.DataFrame,
      hotThreshold: Int, maxBuckets: Int): Seq[(String, Long, Long)] =
    SkewJoin.selfPairsWithinGroups(df, Seq("k"), hotThreshold, maxBuckets)
      .select(F.col("k"), F.col("__l.id").as("a"), F.col("__r.id").as("b"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  private def plainPairs(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long)] =
    df.select(F.col("k"), F.col("id").as("a"))
      .join(df.select(F.col("k"), F.col("id").as("b")), Seq("k"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq

  test("identical ordered-pair multiset vs the plain self-join (cold + hot + capped)") {
    // cold groups of sizes 1..8, one hot group of 60 (threshold 16), one
    // group of 200 that exceeds maxBuckets=4 (exercises the cap)
    val rows =
      (1 to 8).flatMap(g => (0 until g).map(i => (s"cold$g", (g * 100 + i).toLong))) ++
        (0 until 60).map(i => ("hot", (1000 + i).toLong)) ++
        (0 until 200).map(i => ("huge", (2000 + i).toLong))
    val df = rows.toDF("k", "id")
    val got = pairsOf(df, hotThreshold = 16, maxBuckets = 4)
    val want = plainPairs(df)
    // exact MULTISET equality: self-pairs and both orders included
    assert(got.sorted === want.sorted)
    assert(got.size === (1 to 8).map(g => g * g).sum + 60 * 60 + 200 * 200)
  }

  test("grid width: integer shuffle conf is used, \"auto\" falls back to default parallelism") {
    // the grid width is read from spark.sql.shuffle.partitions; "auto"
    // (accepted by some Spark platforms; open-source Spark rejects it when
    // set, so it is fed to the width rule directly) carries no integer
    // width and must fall back instead of throwing
    val dp = spark.sparkContext.defaultParallelism
    val cases = Seq("4" -> 4, "200" -> 200, "auto" -> dp)
    cases.foreach { case (conf, want) => assert(SkewJoin.gridWidth(conf, dp) === want, conf) }
  }

  test("duplicate elements keep plain-join multiplicity through the grid") {
    // the same (k, id) row twice in a hot group must pair like the plain
    // join pairs it (4 ordered combinations), not be collapsed by the
    // bucket hash (both copies land in the same bucket — same cell)
    val rows = (0 until 30).map(i => ("h", i.toLong)) ++ Seq(("h", 7L))
    val df = rows.toDF("k", "id")
    assert(pairsOf(df, 8, 8).sorted === plainPairs(df).sorted)
  }

  test("null keys never pair, matching join semantics") {
    val df = Seq((Some("a"), 1L), (None, 2L), (None, 3L), (Some("a"), 4L))
      .toDF("k", "id")
    val got = SkewJoin.selfPairsWithinGroups(df, Seq("k"), 4, 4)
      .select(F.col("__l.id"), F.col("__r.id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got === Seq((1L, 1L), (1L, 4L), (4L, 1L), (4L, 4L)))
  }

  test("hot path engages: no single join key carries the whole hot group") {
    // structural check — the grid must split the hot group's pair
    // generation across multiple (k1, k2) cells. Count distinct buckets
    // via the public output: pairs per cell bounded well under n^2.
    val df = (0 until 512).map(i => ("h", i.toLong)).toDF("k", "id")
    val out = SkewJoin.selfPairsWithinGroups(df, Seq("k"), hotThreshold = 64, maxBuckets = 8)
    assert(out.count() === 512L * 512L)
    // plan shape: the hot side goes through the grid join (sequence +
    // explode present), not a single-key join
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("explode") || plan.contains("Generate"), plan.take(500))
  }
}
