package graft.spark

import org.apache.spark.sql.{Column, DataFrame, functions => F}

import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch, TDigestSketch}
import graft.spark.functions._

/** The sketch aggregate contract through Spark: every `<name>_merge` in
  * both its Column and SQL form, the one integral-weight rule of the two
  * weighted sketches, and the SQL default sizes against their Column
  * twins. */
class SketchMergeSpec extends SparkTestBase {
  import spark.implicits._

  private val n = 4000

  /** id, string value, group — 8 groups so the merge sees 8 partials. */
  private lazy val raw: DataFrame = spark.range(n).select(
    F.col("id"),
    F.concat(F.lit("v"), (F.col("id") % 997).cast("string")).as("s"),
    (F.col("id") * 37 % 8).as("g"))

  private case class MergeCase(
      name: String,
      build: Column => Column,
      buildSql: String,
      merge: Column => Column,
      input: String,
      fold: Seq[Array[Byte]] => Array[Byte],
      oneLevelEqual: Boolean)

  private def foldWith[S](de: Array[Byte] => S)(m: (S, S) => S, ser: S => Array[Byte])(
      bufs: Seq[Array[Byte]]): Array[Byte] = ser(bufs.map(de).reduce(m))

  private val cases = Seq(
    MergeCase("bloom", bloom_sketch(_, 5000L, 12), "bloom_sketch(s, 5000, 12)", bloom_merge, "s",
      foldWith(BloomSketch.deserialize)(_ merge _, _.serialize()), oneLevelEqual = true),
    MergeCase("hll", hll_sketch(_, 12), "hll_sketch(s, 12)", hll_merge, "s",
      foldWith(HllSketch.deserialize)(_ merge _, _.serialize()), oneLevelEqual = true),
    MergeCase("cms", cms_sketch(_, 4, 1024), "cms_sketch(s, 4, 1024)", cms_merge, "s",
      foldWith(CmsSketch.deserialize)(_ merge _, _.serialize()), oneLevelEqual = true),
    MergeCase("kll", kll_sketch(_, 64), "kll_sketch(id, 64)", kll_merge, "id",
      foldWith(KllSketch.deserialize)(_ merge _, _.serialize()), oneLevelEqual = false),
    MergeCase("tdigest", tdigest_sketch(_, 50.0), "tdigest_sketch(id, 50.0)", tdigest_merge, "id",
      foldWith(TDigestSketch.deserialize)(_ merge _, _.serialize()), oneLevelEqual = false),
    MergeCase("hh", hh_sketch(_, 32), "hh_sketch(s, 32)", hh_merge, "s",
      foldWith(HeavyHittersSketch.deserialize)(_ merge _, _.serialize()), oneLevelEqual = false))

  private def bytesOf(df: DataFrame): Array[Byte] = df.head().getAs[Array[Byte]](0)

  cases.foreach { c =>
    test(s"${c.name}_merge: Column and SQL forms equal the sketch's own fold") {
      // per-group partial buffers, ordered, on one partition: the merge
      // folds them in row order, the same order as the local fold
      val partials = raw.groupBy("g").agg(c.build(F.col(c.input)).as("p"))
        .orderBy("g").select("p").coalesce(1)
      val bufs = partials.collect().map(_.getAs[Array[Byte]](0)).toSeq
      assert(bufs.size === 8)
      val onePart = bufs.toDF("p").coalesce(1)
      onePart.createOrReplaceTempView(s"${c.name}_partials")

      val viaColumn = bytesOf(onePart.agg(c.merge(F.col("p"))))
      val viaSql = bytesOf(spark.sql(s"SELECT ${c.name}_merge(p) FROM ${c.name}_partials"))
      assert(viaColumn sameElements viaSql, s"${c.name}_merge: Column != SQL")
      assert(viaColumn sameElements c.fold(bufs), s"${c.name}_merge != local fold")

      if (c.oneLevelEqual) {
        // order-free merges: any split of the same rows gives the
        // one-level sketch's bytes
        val oneLevel = bytesOf(raw.agg(c.build(F.col(c.input))))
        val spread = bytesOf(bufs.toDF("p").repartition(3).agg(c.merge(F.col("p"))))
        assert(viaColumn sameElements oneLevel, s"${c.name}_merge != one-level sketch")
        assert(spread sameElements oneLevel, s"${c.name}_merge over 3 partitions")
        raw.createOrReplaceTempView("merge_raw")
        val sqlOneLevel = bytesOf(spark.sql(s"SELECT ${c.buildSql} FROM merge_raw"))
        assert(sqlOneLevel sameElements oneLevel)
      }
    }

    test(s"${c.name}_merge rejects a non-binary argument, naming itself") {
      val e1 = intercept[Exception](spark.range(3).agg(c.merge(F.col("id"))).head())
      assert(e1.getMessage.contains(s"${c.name}_merge"), e1.getMessage)
      val e2 = intercept[Exception](
        spark.sql(s"SELECT ${c.name}_merge(id) FROM range(3)").head())
      assert(e2.getMessage.contains(s"${c.name}_merge"), e2.getMessage)
      assert(e2.getMessage.contains("binary"), e2.getMessage)
    }
  }

  test("weighted cms/hh: null, zero and negative weights are skipped; integral types agree") {
    val rows = Seq[(String, java.lang.Long)](
      ("a", 3L), ("b", null), ("c", 0L), ("d", -4L), ("a", 2L), ("e", 7L), ("b", 1L))
    val df = rows.toDF("k", "w").coalesce(1)
    val kept = df.filter(F.col("w") > 0)
    def cms(d: DataFrame, w: Column) = bytesOf(d.agg(cms_sketch_weighted(F.col("k"), w, 4, 256)))
    def hh(d: DataFrame, w: Column) = bytesOf(d.agg(hh_sketch_weighted(F.col("k"), w, 16)))

    val cmsAll = cms(df, F.col("w"))
    val hhAll = hh(df, F.col("w"))
    // skipping a row is the same as never seeing it
    assert(cmsAll sameElements cms(kept, F.col("w")))
    assert(hhAll sameElements hh(kept, F.col("w")))
    val c = CmsSketch.deserialize(cmsAll)
    assert(Seq("a", "b", "c", "d", "e").map(c.estimate) === Seq(5L, 1L, 0L, 0L, 7L))
    val h = HeavyHittersSketch.deserialize(hhAll)
    assert(h.n === 13L)
    assert(h.topK(16).map(t => t._1 -> t._2).toMap === Map("a" -> 5L, "e" -> 7L, "b" -> 1L))

    Seq("byte", "short", "int").foreach { t =>
      val w = F.col("w").cast(t)
      assert(cms(df, w) sameElements cmsAll, s"cms weight $t")
      assert(hh(df, w) sameElements hhAll, s"hh weight $t")
    }

    Seq("cms_sketch_weighted", "hh_sketch_weighted").foreach { fn =>
      val e = intercept[Exception](
        spark.sql(s"SELECT $fn(k, w) FROM VALUES ('a', 1.5D) AS t(k, w)").head())
      assert(e.getMessage.contains("integral weight") && e.getMessage.contains(fn), e.getMessage)
    }
    val e = intercept[Exception](cms(df, F.col("w").cast("double")))
    assert(e.getMessage.contains("integral weight"), e.getMessage)
    val e2 = intercept[Exception](hh(df, F.col("w").cast("double")))
    assert(e2.getMessage.contains("integral weight"), e2.getMessage)
  }

  test("SQL sketch forms with default sizes equal their Column twins") {
    val df = raw.withColumn("w", F.col("id") % 5).coalesce(1)
    df.createOrReplaceTempView("defaults_raw")
    val pairs = Seq(
      "hll_sketch(s)" -> hll_sketch(F.col("s")),
      "cms_sketch(s)" -> cms_sketch(F.col("s")),
      "cms_sketch_weighted(s, w)" -> cms_sketch_weighted(F.col("s"), F.col("w")),
      "kll_sketch(id)" -> kll_sketch(F.col("id")),
      "tdigest_sketch(id)" -> tdigest_sketch(F.col("id")),
      "hh_sketch(s)" -> hh_sketch(F.col("s")),
      "hh_sketch_weighted(s, w)" -> hh_sketch_weighted(F.col("s"), F.col("w")))
    pairs.foreach { case (sql, col) =>
      val viaSql = bytesOf(spark.sql(s"SELECT $sql FROM defaults_raw"))
      assert(viaSql sameElements bytesOf(df.agg(col)), sql)
    }
    assert(HllSketch.deserialize(bytesOf(df.agg(hll_sketch(F.col("s"))))).p === 14)
  }
}
