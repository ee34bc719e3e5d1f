package graft.spark

import org.apache.spark.sql.{functions => F}

import graft.sketch.{HllSketch, KllSketch, TDigestSketch}
import graft.spark.functions._

/** Edge cases a 100 TB pipeline will hit on day one: empty inputs, all-null
  * columns, empty groups after filters, single rows — plus cross-checks of
  * the graft sketches against Spark's own approximate built-ins. */
class EdgeCasesSpec extends SparkTestBase {
  import spark.implicits._

  test("aggregates over an empty relation produce valid empty sketches") {
    val empty = spark.range(0).select(F.col("id").cast("string").as("s"),
      F.col("id").cast("double").as("v"))
    val row = empty.agg(
      hll_sketch($"s", 12).as("h"),
      kll_sketch($"v", 200).as("k"),
      cms_sketch($"s", 5, 1 << 12).as("c"),
      bloom_sketch($"s", 1000, 12).as("b"),
      tdigest_sketch($"v", 100.0).as("t")).head()
    assert(math.round(HllSketch.deserialize(row.getAs[Array[Byte]]("h")).estimate()) === 0L)
    val kll = KllSketch.deserialize(row.getAs[Array[Byte]]("k"))
    assert(kll.n === 0L && kll.quantile(0.5).isNaN)
    assert(TDigestSketch.deserialize(row.getAs[Array[Byte]]("t")).quantile(0.5).isNaN)
    assert(graft.sketch.BloomSketch.deserialize(row.getAs[Array[Byte]]("b"))
      .contains("anything") === false)
    // CMS was built but previously never checked — the empty sketch must
    // deserialize and estimate zero for any key
    val cms = graft.sketch.CmsSketch.deserialize(row.getAs[Array[Byte]]("c"))
    assert(cms.estimate(graft.core.ByteOps.utf8("anything")) === 0L)
  }

  test("all-null input column: sketches stay empty, hash expressions yield null") {
    val df = Seq[(java.lang.Long, String)]((1L, null), (2L, null)).toDF("id", "s")
    val est = df.agg(hll_distinct($"s", 12)).head().getLong(0)
    assert(est === 0L)
    val hashes = df.select(graft_hash64($"s")).collect()
    assert(hashes.forall(_.isNullAt(0)))
  }

  test("single-row group and empty merge side behave") {
    val df = Seq(("a", 1.0), ("b", 2.0)).toDF("g", "v")
    val out = df.groupBy("g").agg(
      kll_quantile(kll_sketch($"v", 200), F.lit(0.5)).as("p50"),
      tdigest_quantile(tdigest_sketch($"v", 100.0), F.lit(0.5)).as("tp50")).collect()
    assert(out.map(r => (r.getString(0), r.getDouble(1))).toSet === Set("a" -> 1.0, "b" -> 2.0))
    // merge agg over a frame with NULL sketch rows
    val sketches = df.groupBy("g").agg(hll_sketch($"g", 12).as("sk"))
      .unionAll(Seq(("z", null.asInstanceOf[Array[Byte]])).toDF("g", "sk"))
    val merged = sketches.agg(hll_merge($"sk")).head().getAs[Array[Byte]](0)
    assert(math.round(HllSketch.deserialize(merged).estimate()) === 2L)
    // merge over ONLY null rows yields null
    val allNull = Seq(("z", null.asInstanceOf[Array[Byte]])).toDF("g", "sk")
      .agg(hll_merge($"sk")).head()
    assert(allNull.isNullAt(0))
  }

  test("cross-check vs Spark built-ins: hll_distinct ~ approx_count_distinct ~ exact") {
    val df = spark.range(100000).select(F.concat(F.lit("u"), (F.col("id") % 25000).cast("string")).as("s"))
    val row = df.agg(
      hll_distinct($"s", 14).as("graft"),
      F.approx_count_distinct($"s", 0.01).as("spark"),
      F.countDistinct($"s").as("exact")).head()
    val exact = row.getLong(2)
    assert(math.abs(row.getLong(0) - exact).toDouble / exact <= 3 * HllSketch.standardError(14))
    assert(math.abs(row.getLong(1) - exact).toDouble / exact <= 0.05)
  }

  test("cross-check vs Spark built-ins: kll/tdigest median ~ percentile_approx ~ exact") {
    val df = spark.range(50000).select((F.col("id") % 1000).cast("double").as("v"))
    val row = df.agg(
      kll_quantile(kll_sketch($"v", 200), F.lit(0.5)).as("kll"),
      tdigest_quantile(tdigest_sketch($"v", 100.0), F.lit(0.5)).as("td"),
      F.expr("percentile_approx(v, 0.5d, 10000)").as("spark"),
      F.expr("percentile(v, 0.5d)").as("exact")).head()
    val exact = row.getDouble(3)
    assert(math.abs(row.getDouble(0) - exact) <= 10.0, s"kll ${row.getDouble(0)} vs $exact")
    assert(math.abs(row.getDouble(1) - exact) <= 10.0, s"td ${row.getDouble(1)} vs $exact")
  }

  test("SQL decimal/int literals coerce in sketch probe arguments") {
    spark.range(1000).select(F.col("id").cast("double").as("v"))
      .createOrReplaceTempView("edge_vals")
    // 0.5 parses as DECIMAL(1,1); 500 as INT — both must coerce
    val q = spark.sql(
      "SELECT kll_quantile(kll_sketch(v), 0.5), tdigest_quantile(tdigest_sketch(v), 0.5), " +
      "kll_rank(kll_sketch(v), 500) FROM edge_vals").head()
    assert(math.abs(q.getDouble(0) - 500) <= 20)
    assert(math.abs(q.getDouble(1) - 500) <= 20)
    assert(math.abs(q.getLong(2) - 500) <= 20)
  }

  test("NaN inputs are skipped like nulls in quantile sketches") {
    val df = Seq(1.0, 2.0, Double.NaN, 3.0, Double.NaN).toDF("v")
    val row = df.agg(
      kll_quantile(kll_sketch($"v", 200), F.lit(1.0)).as("kmax"),
      tdigest_quantile(tdigest_sketch($"v", 100.0), F.lit(1.0)).as("tmax")).head()
    assert(row.getDouble(0) === 3.0)
    assert(row.getDouble(1) === 3.0)
  }

  test("decimal inputs: kll_sketch, tdigest_sketch and top_k_by equal their double twins") {
    // a decimal column passes the numeric type check, so it must also
    // convert at run time, to the value its cast to double holds
    val df = spark.range(2000).select(F.col("id"),
      (F.col("id") * 7919 % 1000 / 100).cast("decimal(10,2)").as("dec"))
      .withColumn("dbl", F.col("dec").cast("double"))
    assert(df.schema("dec").dataType === org.apache.spark.sql.types.DecimalType(10, 2))
    val row = df.agg(
      kll_sketch($"dec", 200), kll_sketch($"dbl", 200),
      tdigest_sketch($"dec", 100.0), tdigest_sketch($"dbl", 100.0),
      top_k_by($"id", $"dec", 5), top_k_by($"id", $"dbl", 5)).head()
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]](0), row.getAs[Array[Byte]](1)))
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]](2), row.getAs[Array[Byte]](3)))
    val top = row.getSeq[org.apache.spark.sql.Row](4)
    assert(top.nonEmpty && top === row.getSeq[org.apache.spark.sql.Row](5))
    assert(KllSketch.deserialize(row.getAs[Array[Byte]](0)).n === 2000L)
  }

  test("top_k_by edges: empty group via filter, k > group size, null values/scores skipped") {
    // empty relation: empty heap, empty array
    val empty = spark.range(0).select(F.col("id").as("v"), F.col("id").cast("double").as("s"))
    assert(empty.agg(top_k_by($"v", $"s", 3)).head().getSeq[Any](0).isEmpty)
    // k larger than the group: all rows come back, still sorted
    val small = Seq((1L, 2.0), (2L, 1.0)).toDF("v", "s")
    val rows = small.agg(top_k_by($"v", $"s", 10)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows === Seq((1L, 2.0), (2L, 1.0)))
    // null value or null score rows are skipped, not counted against k
    val withNulls = Seq[(java.lang.Long, java.lang.Double)](
      (1L, null), (null, 5.0), (2L, 3.0), (3L, 4.0)).toDF("v", "s")
    val kept = withNulls.agg(top_k_by($"v", $"s", 2)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0))
    assert(kept === Seq(3L, 2L))
    // NaN scores are skipped like nulls regardless of arrival order —
    // raw double compares would otherwise make results order-dependent
    for (parts <- Seq(1, 4)) {
      val withNaN = Seq((1L, Double.NaN), (2L, 2.0), (3L, Double.NaN), (4L, 1.0))
        .toDF("v", "s").repartition(parts)
      val top = withNaN.agg(top_k_by($"v", $"s", 3)).head()
        .getSeq[org.apache.spark.sql.Row](0).map(_.getLong(0))
      assert(top === Seq(2L, 4L), s"parts=$parts")
    }
  }

  test("hh_topk edges: k > tracked count; empty sketch; absent-key estimate") {
    val sk = Seq("a", "b", "a").toDF("s").agg(hh_sketch($"s", 8).as("sk"))
    val all = sk.select(hh_topk($"sk", F.lit(100))).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getLong(1)))
    assert(all === Seq(("a", 2L), ("b", 1L)))
    // estimate of an untracked key with spare capacity is 0 (minCount)
    assert(sk.select(hh_estimate($"sk", F.lit("zzz"))).head().getLong(0) === 0L)
    val emptySk = spark.range(0).select(F.col("id").cast("string").as("s"))
      .agg(hh_sketch($"s", 8).as("sk"))
    assert(emptySk.select(hh_topk($"sk", F.lit(5))).head().getSeq[Any](0).isEmpty)
  }

  test("srp_signature edges: null vector yields null; empty array is deterministic") {
    val df = Seq(
      (1L, Seq(1.0f, 2.0f)),
      (2L, Seq.empty[Float])).toDF("id", "v")
      .unionAll(Seq((3L, null.asInstanceOf[Seq[Float]])).toDF("id", "v"))
      .select(F.col("id"), graft.ops.Similarity.srpSignature(F.col("v"), 8).as("sig"))
    val rows = df.collect().sortBy(_.getLong(0))
    assert(!rows(0).isNullAt(1))
    // zero-dim vector: every dot product is 0.0 => all `bits` set
    assert(rows(1).getLong(1) === 0xffL)
    assert(rows(2).isNullAt(1))
  }

  test("oversized Bloom config fails loudly instead of silently wrapping") {
    val e = intercept[Exception](
      graft.sketch.BloomSketch(1000000000000L, 16))
    assert(e.getMessage.contains("shard") || e.getMessage.contains("too large"))
  }

  test("unsupported input types fail analysis with a clear message") {
    val df = Seq((Array(1.0, 2.0), 1)).toDF("arr", "i")
    val e = intercept[Exception](df.agg(hll_sketch($"arr", 12)).head())
    assert(e.getMessage.contains("cannot sketch") || e.getMessage.contains("DATATYPE_MISMATCH"))
    val e2 = intercept[Exception](df.agg(kll_sketch($"arr", 200)).head())
    assert(e2.getMessage.contains("numeric") || e2.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("multiGetByHash edges: empty probes, null keys dropped, non-broadcast mode agrees") {
    val table = Seq(("a", 1), ("b", 2), (null, 3)).toDF("key", "value")
    val noProbes = Seq.empty[String].toDF("pkey")
    assert(graft.ops.KvLookup.multiGetByHash(table, "key", noProbes, "pkey").count() === 0)
    // null keys hash to null and can never match a probe (the reference
    // cannot store a null key at all)
    val probes = Seq("a", "b").toDF("pkey")
    val got = graft.ops.KvLookup.multiGetByHash(table, "key", probes, "pkey")
      .select("value").as[Int].collect().sorted
    assert(got.toSeq === Seq(1, 2))
    // the non-broadcast (big-probe) mode returns identical rows
    val got2 = graft.ops.KvLookup
      .multiGetByHash(table, "key", probes, "pkey", broadcastProbes = false)
      .select("value").as[Int].collect().sorted
    assert(got2.toSeq === Seq(1, 2))
  }

  test("ngramJaccardPairs edges: empty corpus, single doc, all-short docs") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(graft.ops.Dedup.ngramJaccardPairs(empty, "doc_id", "text").count() === 0)
    val one = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.ngramJaccardPairs(one, "doc_id", "text").count() === 0)
    // every doc shorter than the shingle width: zero shingles, zero pairs
    val short = Seq((1L, "a b"), (2L, "a b")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.ngramJaccardPairs(short, "doc_id", "text", n = 3).count() === 0)
    // identical docs reach jaccard exactly 1.0
    val twins = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val got = graft.ops.Dedup.ngramJaccardPairs(twins, "doc_id", "text", 3, 1.0).collect()
    assert(got.length === 1 && got(0).getDouble(2) === 1.0)
  }

  test("leftAsOf edges: empty build side, empty probe side, payload clash rejected") {
    val probe = Seq((1L, 5L, "p")).toDF("k", "ts", "pv")
    val build = Seq((1L, 3L, "b")).toDF("k", "ts", "bv")
    val emptyBuild = build.filter(F.lit(false))
    val r1 = graft.ops.AsOfJoin.leftAsOf(probe, emptyBuild, "k", "ts").collect()
    assert(r1.length === 1 && r1(0).isNullAt(r1(0).fieldIndex("bv")))
    assert(graft.ops.AsOfJoin.leftAsOf(
      probe.filter(F.lit(false)), build, "k", "ts").count() === 0)
    val clash = Seq((1L, 3L, "x")).toDF("k", "ts", "pv")
    val e = intercept[IllegalArgumentException] {
      graft.ops.AsOfJoin.leftAsOf(probe, clash, "k", "ts")
    }
    assert(e.getMessage.contains("must not overlap"))
  }

  test("ivf edges: nlist larger than corpus, empty corpus rejected loudly") {
    val tiny = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    // more requested cells than vectors: training succeeds with what exists
    val cents = graft.ops.Similarity.trainIvf(tiny, "vec_id", "embedding", 8, 1)
    assert(cents.length === 2)
    val empty = tiny.filter(F.lit(false))
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.trainIvf(empty, "vec_id", "embedding", 4, 1)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("TextKvSource edges: empty directory of files, delim-only lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft_tkv_edge").toString
    Seq.empty[String].toDF("value").coalesce(1).write.mode("overwrite").text(dir)
    assert(graft.sources.TextKvSource.read(spark, dir).count() === 0)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_tkv_edge2").toString
    // a line that is ONLY the delimiter: all fields empty -> Java split
    // yields an empty array -> BAD line, dropped
    Seq("\t", "\t\t").toDF("value").coalesce(1).write.mode("overwrite").text(dir2)
    assert(graft.sources.TextKvSource.read(spark, dir2).count() === 0)
  }

  test("pqAdcScore: codes-width mismatch fails loudly, query-dim mismatch degrades to 0") {
    import spark.implicits._
    // 2 blocks x 2 centroids x 2 dims
    val books = Array(
      Array(Array(1.0, 0.0), Array(0.0, 1.0)),
      Array(Array(1.0, 0.0), Array(0.0, 1.0)))
    val q = Array(1.0f, 0.0f, 0.0f, 1.0f)
    // codes narrower than the codebook tensor = encoded against a
    // DIFFERENT quantizer — must throw, not silently zero the shortlist
    val bad = Seq((1L, Array(0), q)).toDF("id", "codes", "q")
    val e = intercept[IllegalArgumentException] {
      bad.select(graft.ops.Similarity.pqAdcScore(
        F.col("codes"), F.col("q"), books)).collect()
    }
    assert(e.getMessage.contains("codes length"), e.getMessage)
    // documented degradation: wrong QUERY dimension scores 0.0
    val shortQ = Seq((1L, Array(0, 0), Array(1.0f, 0.0f))).toDF("id", "codes", "q")
    val got = shortQ.select(graft.ops.Similarity.pqAdcScore(
      F.col("codes"), F.col("q"), books)).head().getDouble(0)
    assert(got === 0.0)
  }

  test("generatePngAssets edges: zero rows, invalid distinctPixels rejected") {
    assert(graft.ops.Multimodal.generatePngAssets(spark, 0, 4).count() === 0)
    intercept[IllegalArgumentException](
      graft.ops.Multimodal.generatePngAssets(spark, 4, 0))
  }

  test("leftAsOf: a matched build row's legitimate NULL payload is returned verbatim") {
    import spark.implicits._
    // build row at ts=5 carries val=null, aux=2; per-column forward-fill
    // would resurrect ts=1's val="a" while taking ts=5's aux — the struct
    // fill must return the MATCHED ROW verbatim, nulls included
    val probe = Seq(("k", 6L, "p1")).toDF("key", "ts", "probe_tag")
    val build = Seq(
      ("k", 1L, Option("a"), 1L),
      ("k", 5L, Option.empty[String], 2L)).toDF("key", "ts", "v", "aux")
    val out = graft.ops.AsOfJoin.leftAsOf(probe, build, "key", "ts")
      .select("key", "ts", "probe_tag", "v", "aux").collect()
    assert(out.length === 1)
    assert(out(0).isNullAt(3), s"null payload resurrected: ${out(0)}")
    assert(out(0).getLong(4) === 2L)
  }

  test("ivf_cells: NaN vector elements degrade deterministically, never crash") {
    import spark.implicits._
    val cents = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(-1.0, 0.0))
    val df = Seq(
      (1L, Array(Float.NaN, 1.0f)), // NaN poisons every dot
      (2L, Array(0.9f, 0.1f))).toDF("id", "v")
    val got = df.select(F.col("id"),
      graft.ops.Similarity.ivfCells(F.col("v"), cents, 2).as("cells"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    // all-NaN dots: falls back to first untaken indices, in order
    assert(got(1L) === Seq(0, 1))
    assert(got(2L).head === 0) // clean vector ranks normally
  }

  test("weightedSample accepts raw SIGNED hashes without silently dropping rows") {
    import spark.implicits._
    // raw murmur32 values are signed; pre-fix, negative hashes produced
    // u < 0 -> pow NaN -> rows silently vanished from the sample
    val df = (1 to 40).map(i => ("s", i.toLong)).toDF("stratum", "id")
    val sampled = graft.ops.Sampling.weightedSample(df, "stratum", "id",
      F.lit(1.0), graft_hash32(F.col("id")).cast("long"), k = 40)
      .collect()
    assert(sampled.length === 40, s"signed hashes dropped ${40 - sampled.length} rows")
  }

  test("cosine_similarity edges: zero norm, empty arrays, null elements, mixed types") {
    import spark.implicits._
    val z = Seq((Array(0.0f, 0.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(graft.ops.Similarity.cosine(F.col("a"), F.col("b"))).head().getDouble(0)
    assert(z === 0.0)
    val e = Seq((Array.empty[Float], Array.empty[Float])).toDF("a", "b")
      .select(graft.ops.Similarity.cosine(F.col("a"), F.col("b"))).head().getDouble(0)
    assert(e === 0.0)
    // null elements contribute nothing (array<float> with nulls)
    val n = spark.sql(
      """SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |                         array(CAST(1.0 AS FLOAT), CAST(5.0 AS FLOAT)))""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(n - 1.0 / math.sqrt(26.0)) < 1e-12)
    // float x double arrays agree with double math
    val m = spark.sql(
      """SELECT cosine_similarity(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |                         array(CAST(4.0 AS DOUBLE), CAST(3.0 AS DOUBLE)))""".stripMargin)
      .head().getDouble(0)
    assert(math.abs(m - 24.0 / 25.0) < 1e-12)
  }

  test("empty relations through the round-4 pipeline ops: empty out, no failure") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "a b c d e f")).toDF("doc_id", "text")
    assert(graft.ops.FuzzyJoin.editDistancePairs(noDocs, "doc_id", "text").count() === 0L)
    // empty benchmark: nothing is contaminated; empty corpus: no hits
    assert(graft.ops.Decontaminate.overlapHits(
      someDocs, "doc_id", "text", noDocs, "text", n = 2).count() === 0L)
    assert(graft.ops.Decontaminate.overlapHits(
      noDocs, "doc_id", "text", someDocs, "text", n = 2).count() === 0L)
    assert(graft.ops.Decontaminate.clean(
      someDocs, "doc_id", "text", noDocs, "text", n = 2).count() === 1L)
    val noLines = Seq.empty[(Long, Seq[String])].toDF("doc_id", "lines")
    assert(graft.ops.Dedup.lineDedup(noLines, "doc_id", "lines").count() === 0L)
    assert(graft.ops.TextAnalysis.repetitionSignals(noDocs, "doc_id", "text").count() === 0L)
    import graft.spark.functions.vec_mean
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("g", "vec")
    assert(noVecs.groupBy("g").agg(vec_mean(F.col("vec"))).count() === 0L)
    // global (no groupBy) vec_mean over empty input: one null row
    assert(noVecs.agg(vec_mean(F.col("vec"))).head().isNullAt(0))
  }

  test("continuation-op edges: null text, empty inputs, null sketches") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val someDocs = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val nullText = Seq((1L, "a b"), (2L, null.asInstanceOf[String]),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")

    // NgramLm: null-text docs contribute no positions (train or score)
    val lm = graft.ops.NgramLm.selfScore(nullText, "doc_id", "text")
      .collect().map(_.getLong(0)).toSeq
    assert(lm === Seq(1L))
    assert(graft.ops.NgramLm.selfScore(noDocs, "doc_id", "text").count() === 0L)

    // incrementalDedup: null texts group under the null hash WITHIN the
    // batch (one winner), but the history anti join uses SQL equality
    // where null never matches null — so a null-text winner always
    // survives, even when history also has null-text rows. In-batch
    // collapse yes, cross-corpus null matching no.
    val freshOnly = graft.ops.Dedup.incrementalDedup(nullText, noDocs, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(freshOnly === Seq(1L, 2L))
    val nullHistory = Seq((90L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val vsNullHist = graft.ops.Dedup.incrementalDedup(nullText, nullHistory, "doc_id", "text")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(vsNullHist === Seq(1L, 2L), "null-text winner survives a null-text history")
    assert(graft.ops.Dedup.incrementalDedup(noDocs, someDocs, "doc_id", "text")
      .count() === 0L)

    // oovReport: empty vocab means everything is OOV, not a crash
    val allOov = graft.ops.Vocab.oovReport(someDocs, "doc_id", "text",
      Seq.empty[String].toDF("token"))
      .orderBy("doc_id").collect()
    assert(allOov.forall(r => r.getLong(1) === r.getLong(2)))

    // semanticDedup: empty input trains nothing and must fail loudly,
    // single row keeps itself
    intercept[Exception] {
      graft.ops.Dedup.semanticDedup(
        Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding"),
        "vec_id", "embedding").collect()
    }
    val one = graft.ops.Dedup.semanticDedup(
      Seq((7L, Array(1f, 0f))).toDF("vec_id", "embedding"),
      "vec_id", "embedding", nlist = 1).collect()
    assert(one.map(r => (r.getLong(0), r.getBoolean(1))).toSeq === Seq((7L, true)))

    // hll_union: null sketch propagates null (nullIntolerant), never throws
    import graft.spark.functions.{hll_sketch, hll_union}
    val sk = someDocs.agg(hll_sketch(F.col("doc_id")).as("s"))
      .select(hll_union(F.col("s"), F.lit(null).cast("binary")))
    assert(sk.head().isNullAt(0))
  }
}
