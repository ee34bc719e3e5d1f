package graft.ops

import org.apache.spark.sql.{DataFrame, Row, functions => F}
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.BaseJoinExec

import graft.sketch.BloomSketch
import graft.spark.SparkTestBase

/** BloomJoin sizes its key sketch by distinct build keys, not by build
  * rows, and stays exact either way. It prefilters only when the join
  * shuffles the probe side, so every case runs at the default broadcast
  * threshold (the build side is broadcast, no prefilter) and with
  * broadcasting off (a shuffle join, prefiltered). */
class BloomJoinSpec extends SparkTestBase {

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** `body` at the default threshold and with broadcast joins off. */
  private def bothSides(body: String => Unit): Unit = {
    body("default")
    withConf(Threshold, "-1")(body("-1"))
  }

  /** Every row, nulls as None, in a fixed order. */
  private def rows(df: DataFrame): Seq[Seq[Option[Any]]] =
    df.collect().toSeq.map(_.toSeq.map(Option(_))).sortBy(_.mkString(","))

  test("a duplicate-heavy build side gets a distinct-sized sketch; semi/anti stay exact") {
    // 2,000 keys, each repeated 10x on the build side
    val small = spark.range(0, 20000).select((F.col("id") % 2000).as("k"))
    val large = spark.range(0, 6000).select(F.col("id").as("k"), (F.col("id") * 3).as("v"))
    val sketch = BloomJoin.keySketch(small, "k", 16, "murmur2")
    // the row-count sizing this replaces
    val byRows = BloomSketch(20000, 16).serialize()
    assert(sketch.length * 5 <= byRows.length,
      s"sketch ${sketch.length} B is not 5x below row-count sizing ${byRows.length} B")
    // no false negatives at the smaller size (long keys hash as 8 bytes,
    // big-endian)
    val probe = BloomSketch.deserialize(sketch)
    (0L until 2000L).foreach { k =>
      assert(probe.contains(java.nio.ByteBuffer.allocate(8).putLong(k).array()), s"key $k")
    }

    def kv(df: DataFrame) = rows(df.select("k", "v"))
    bothSides { t =>
      assert(kv(BloomJoin.semi(large, "k", small, "k")) ===
        kv(large.join(small, Seq("k"), "left_semi")), s"threshold $t")
      assert(kv(BloomJoin.anti(large, "k", small, "k")) ===
        kv(large.join(small, Seq("k"), "left_anti")), s"threshold $t")
    }
  }

  // the key is not large's first column, and both sides hold null keys
  // and repeats
  private lazy val large = spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 400).map(i => Row(s"v$i", if (i % 7 == 0) null else java.lang.Long.valueOf(i % 150),
        i.toDouble))),
    org.apache.spark.sql.types.StructType.fromDDL("v STRING, k BIGINT, w DOUBLE"))
  private lazy val small = spark.range(0, 240).select(
    F.when(F.col("id") % 11 === 0, F.lit(null)).otherwise(F.col("id") % 80 + 40).as("sk"),
    F.col("id").as("payload"))

  test("semi/anti equal the plain joins at both thresholds, null keys on both sides") {
    val plainSemi = large.join(small, large("k") === small("sk"), "left_semi")
    val plainAnti = large.join(small, large("k") === small("sk"), "left_anti")
    assert(plainAnti.filter(F.col("k").isNull).count() > 0, "fixture has no null probe keys")
    assert(small.filter(F.col("sk").isNull).count() > 0, "fixture has no null build keys")
    bothSides { t =>
      val semi = BloomJoin.semi(large, "k", small, "sk")
      val anti = BloomJoin.anti(large, "k", small, "sk")
      val cols = large.columns.toSeq.map(F.col)
      assert(rows(semi.select(cols: _*)) === rows(plainSemi), s"semi, threshold $t")
      assert(anti.columns.toSeq === large.columns.toSeq, s"anti column order, threshold $t")
      assert(rows(anti) === rows(plainAnti), s"anti, threshold $t")
    }
  }

  /** Bloom filters of `df`'s physical plan. */
  private def bloomFilters(plan: SparkPlan): Seq[FilterExec] = plan.collect {
    case f: FilterExec if f.condition.sql.contains("bloom_might_contain") => f
  }

  /** Whether a Bloom filter sits on the leaf of the top-most join's
    * probe (left) side, below any projection only. */
  private def prefilteredProbeScan(df: DataFrame): Boolean = {
    val join = df.queryExecution.sparkPlan.collectFirst { case j: BaseJoinExec => j }
    join.exists(j => bloomFilters(j.left).exists { f =>
      def leafBelow(p: SparkPlan): Boolean = p match {
        case pr: ProjectExec => leafBelow(pr.child)
        case f2: FilterExec => leafBelow(f2.child)
        case other => other.children.isEmpty
      }
      leafBelow(f.child)
    })
  }

  test("a broadcast build side gets no prefilter; a shuffled probe side is prefiltered at its scan") {
    val semi = BloomJoin.semi(large, "k", small, "sk")
    val anti = BloomJoin.anti(large, "k", small, "sk")
    for ((name, df) <- Seq("semi" -> semi, "anti" -> anti)) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("bloom_might_contain"), s"$name prefiltered under a broadcast:\n$plan")
    }
    assert(BloomJoin.broadcastsBuildSide(semi))
    withConf(Threshold, "-1") {
      for ((name, df) <- Seq("semi" -> BloomJoin.semi(large, "k", small, "sk"),
          "anti" -> BloomJoin.anti(large, "k", small, "sk"))) {
        assert(prefilteredProbeScan(df),
          s"$name: no prefilter on the probe-side scan:\n${df.queryExecution.sparkPlan}")
      }
    }
  }

  /** Aggregates on the build (right) side of the top-most join in `df`'s plan. */
  private def buildSideAggregates(df: DataFrame): Seq[SparkPlan] =
    df.queryExecution.sparkPlan.collectFirst { case j: BaseJoinExec => j }.toSeq
      .flatMap(_.right.collect { case a: BaseAggregateExec => a })

  test("a broadcast build side is joined as it is; a shuffled one is de-duplicated") {
    def ops() = Seq("semi" -> BloomJoin.semi(large, "k", small, "sk"),
      "anti" -> BloomJoin.anti(large, "k", small, "sk"))
    for ((name, df) <- ops()) {
      assert(BloomJoin.broadcastsBuildSide(df), name)
      assert(buildSideAggregates(df).isEmpty,
        s"$name: an aggregate on the broadcast side:\n${df.queryExecution.sparkPlan}")
    }
    withConf(Threshold, "-1") {
      for ((name, df) <- ops()) assert(buildSideAggregates(df).nonEmpty,
        s"$name: no distinct on the shuffled build side:\n${df.queryExecution.sparkPlan}")
    }
  }
}
