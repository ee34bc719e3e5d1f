package graft.spark

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.{FilterExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.core.hash.{HashKernels, Murmur2Kernel, SeededHashKernel}
import graft.sketch.{BloomSketch, CmsSketch, HllSketch, KllSketch}
import graft.spark.functions._

/** End-to-end Spark tests for the expression + aggregate layer: hash
  * parity with the kernels (golden vectors through the SQL engine),
  * sketch aggregates vs exact ground truth, and partition-order
  * independence of partial aggregation (the north rule's merge
  * associativity requirement) by re-running under different shuffle
  * partition counts.
  */
class GraftFunctionsSpec extends SparkTestBase {
  import spark.implicits._

  test("graft_hash64/32 match kernel values through codegen") {
    val inputs = Seq("", "0", "hello", "world", "conv-00042:17", "test__0")
    val df = inputs.toDF("s")
      .withColumn("h64", graft_hash64(F.col("s")))
      .withColumn("h32", graft_hash32(F.col("s")))
      .withColumn("j64", graft_hash64(F.col("s"), "jenkins"))
      .withColumn("c64", graft_hash64(F.col("s"), "cwow"))
    df.collect().foreach { row =>
      val s = row.getString(0)
      assert(row.getLong(1) === Murmur2Kernel.hash64(s), s"murmur64($s)")
      assert(row.getInt(2) === Murmur2Kernel.hash32(s), s"murmur32($s)")
      assert(row.getLong(3) === HashKernels.jenkins.hash64(s))
      assert(row.getLong(4) === HashKernels.cwow.hash64(s))
    }
    // specific golden via SQL registration
    val viaSql = spark.sql("SELECT graft_hash64('hello')").head().getLong(0)
    assert(viaSql === 0x40965054df2bc5ddL)

    // the seeded and k-vector expressions over every seeded kernel, through
    // whole-stage codegen and then the interpreted path, against the kernel
    // called directly (range-derived columns, so nothing folds at planning)
    val seededKernels = HashKernels.all.collect { case k: SeededHashKernel => k }
    assert(seededKernels.map(_.name) ===
      Seq("murmur2", "jenkins", "fnv1", "fnv1a", "hsieh", "cwow"))
    val s = F.element_at(F.array(inputs.map(F.lit): _*), (F.col("id") + 1).cast("int"))
    val seed = F.col("id") * 1000003L - 7L
    def seededDf = spark.range(inputs.length).select(F.col("id") +: seededKernels.flatMap(k => Seq(
      graft_hash64_seeded(s, seed, k.name), graft_hash32_seeded(s, seed.cast("int"), k.name),
      graft_hash64_k(s, F.lit(5), k.name), graft_hash32_k(s, F.lit(5), k.name))): _*)
    def matchesKernels(df: org.apache.spark.sql.DataFrame, codegen: Boolean): Unit = {
      val fused = df.queryExecution.executedPlan
        .exists(_.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec])
      assert(fused === codegen, df.queryExecution.executedPlan.toString)
      df.collect().foreach { r =>
        val id = r.getLong(0)
        val bytes = graft.core.ByteOps.utf8(inputs(id.toInt))
        val sd = id * 1000003L - 7L
        seededKernels.zipWithIndex.foreach { case (k, j) =>
          val c = 1 + 4 * j
          val at = s"${k.name}(${inputs(id.toInt)}) codegen=$codegen"
          assert(r.getLong(c) === k.hash64Seeded(bytes, sd), s"seeded64 $at")
          assert(r.getInt(c + 1) === k.hash32Seeded(bytes, sd.toInt), s"seeded32 $at")
          assert(r.getSeq[Long](c + 2) === k.hash64K(bytes, 5).toSeq, s"k64 $at")
          assert(r.getSeq[Int](c + 3) === k.hash32K(bytes, 5).toSeq, s"k32 $at")
        }
      }
    }
    matchesKernels(seededDf, codegen = true)
    withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        matchesKernels(seededDf, codegen = false)
      }
    }
  }

  test("an unknown kernel, or a seeded call on a kernel with no seeded form, fails analysis") {
    val df = Seq("a", "b").toDF("s")
    df.createOrReplaceTempView("kernel_names")
    val known = HashKernels.all.map(_.name).mkString(", ")
    val seeded = HashKernels.all.collect { case k: SeededHashKernel => k.name }.mkString(", ")
    val group = "kernel-name-analysis"
    def failsAnalysis(kernel: String, names: String)(q: => Any): Unit = {
      spark.sparkContext.setJobGroup(group, group)
      val e = try intercept[org.apache.spark.sql.AnalysisException](q)
        finally spark.sparkContext.clearJobGroup()
      assert(e.getMessage.contains(s"'$kernel'") && e.getMessage.contains(names), e.getMessage)
      assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty,
        s"a job started before the bad kernel name '$kernel' failed")
    }
    // Column form
    failsAnalysis("nope", known)(df.select(graft_hash64(F.col("s"), "nope")).collect())
    failsAnalysis("nope", known)(df.select(graft_hash32_k(F.col("s"), F.lit(2), "nope")).collect())
    failsAnalysis("sha1prng", seeded)(
      df.select(graft_hash64_seeded(F.col("s"), F.lit(1L), "sha1prng")).collect())
    failsAnalysis("sha1prng", seeded)(
      df.select(graft_hash32_seeded(F.col("s"), F.lit(1), "sha1prng")).collect())
    failsAnalysis("nope", known)(df.agg(bloom_sketch(F.col("s"), 100, 8, "nope")).collect())
    failsAnalysis("nope", known)(df.agg(hll_sketch(F.col("s"), 12, "nope")).collect())
    failsAnalysis("nope", known)(df.agg(cms_sketch(F.col("s"), 3, 64, "nope")).collect())
    failsAnalysis("nope", known)(
      df.agg(cms_sketch_weighted(F.col("s"), F.lit(2), 3, 64, "nope")).collect())
    // SQL form
    def sql(select: String): Unit = spark.sql(s"SELECT $select FROM kernel_names").collect()
    failsAnalysis("nope", known)(sql("graft_hash64(s, 'nope')"))
    failsAnalysis("sha1prng", seeded)(sql("graft_hash64_seeded(s, 1L, 'sha1prng')"))
    failsAnalysis("sha1prng", seeded)(sql("graft_hash32_seeded(s, 1, 'sha1prng')"))
    failsAnalysis("nope", known)(sql("bloom_sketch(s, 100, 8, 'nope')"))
    failsAnalysis("nope", known)(sql("hll_sketch(s, 12, 'nope')"))
    failsAnalysis("nope", known)(sql("cms_sketch(s, 3, 64, 'nope')"))
    // sha1prng keeps its unseeded forms
    assert(df.select(graft_hash64_k(F.col("s"), F.lit(3), "sha1prng")).collect().length === 2)
    // the three hash shapes take width 64 or 32 only
    val c = org.apache.spark.sql.catalyst.expressions.Literal(1)
    intercept[IllegalArgumentException](graft.spark.expr.GraftHash(c, "murmur2", 48))
    intercept[IllegalArgumentException](graft.spark.expr.GraftHashSeeded(c, c, "murmur2", 48))
    intercept[IllegalArgumentException](graft.spark.expr.GraftHashK(c, c, "murmur2", 48))
    assert(spark.sql("SELECT bloom_sketch(s, 100, 8, 'sha1prng') FROM kernel_names")
      .head().getAs[Array[Byte]](0).nonEmpty)
  }

  test("hash expressions stay inside whole-stage codegen") {
    val df = spark.range(100)
      .select(F.concat(F.lit("x"), F.col("id").cast("string")).as("s"))
      .withColumn("h", murmur64(F.col("s")))
    // the "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("graft_hash64"),
      s"plan lost codegen:\n$plan")
  }

  test("integral/date/boolean inputs hash their canonical 8-byte-BE bytes (eval + codegen)") {
    def be(v: Long): Array[Byte] =
      (0 until 8).map(i => (v >>> (56 - 8 * i)).toByte).toArray
    // codegen path: a non-literal column goes through bytesCode/ValueBytes.longBytes
    val df = spark.range(5).select(
      F.col("id"),
      graft_hash64(F.col("id")).as("hL"),
      graft_hash64(F.col("id").cast("int")).as("hI"),
      graft_hash64(F.col("id").cast("short")).as("hS"),
      graft_hash64((F.col("id") % 2 === 0).as("b")).as("hB"),
      graft_hash32(F.col("id")).as("h32"))
    df.collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getLong(1) === Murmur2Kernel.hash64(be(id)), s"long $id")
      assert(r.getLong(2) === Murmur2Kernel.hash64(be(id)), s"int $id")
      assert(r.getLong(3) === Murmur2Kernel.hash64(be(id)), s"short $id")
      assert(r.getLong(4) === Murmur2Kernel.hash64(be(if (id % 2 == 0) 1L else 0L)), s"bool $id")
      assert(r.getInt(5) === Murmur2Kernel.hash32(be(id)), s"h32 $id")
    }
    // and the hash agrees with the sketch side's canonicalization: a Bloom
    // built over a bigint column answers probes hashed the same way
    val keys = spark.range(100).toDF("k")
    val sk = keys.agg(bloom_sketch(F.col("k"), 128, 16)).head().getAs[Array[Byte]](0)
    assert(keys.filter(bloom_might_contain(F.lit(sk), F.col("k"))).count() === 100)
  }

  test("binary input hashes like byte[] overload; nulls propagate") {
    val df = Seq(Array[Byte](1, 2, 3), null).toDF("b")
      .withColumn("h", graft_hash64(F.col("b")))
    val rows = df.collect()
    assert(rows(0).getLong(1) === Murmur2Kernel.hash64(Array[Byte](1, 2, 3)))
    assert(rows(1).isNullAt(1))
  }

  test("graft_hash64_k preserves the per-kernel scheme") {
    val row = Seq("hello").toDF("s")
      .select(graft_hash64_k(F.col("s"), F.lit(5)).as("ks"),
        graft_hash64_k(F.col("s"), F.lit(5), "fnv1").as("kf"))
      .head()
    assert(row.getSeq[Long](0) === Murmur2Kernel.hash64K("hello", 5).toSeq)
    assert(row.getSeq[Long](1) === HashKernels.fnv1.hash64K("hello", 5).toSeq)
  }

  test("bloom_sketch + bloom_might_contain: e2e membership with exact reference bits") {
    val n = 2000
    val data = (0 until n).map(i => s"doc__$i").toDF("s")
    val sketchBytes = data.agg(bloom_sketch(F.col("s"), n, 12)).head().getAs[Array[Byte]](0)
    // equals a driver-side sketch built sequentially (bit-exact merge)
    val local = BloomSketch(n.toLong, 12)
    (0 until n).foreach(i => local.put(s"doc__$i"))
    assert(java.util.Arrays.equals(sketchBytes, local.serialize()))
    // probe via expression
    val probes = ((0 until 100) ++ (10000 until 10100)).map(i => s"doc__$i").toDF("p")
    val hits = probes.filter(bloom_might_contain(F.lit(sketchBytes), F.col("p"))).count()
    assert(hits >= 100 && hits <= 105, s"hits=$hits") // all members + rare FPs
  }

  test("hll_sketch estimate within bound; partition-count independent bytes") {
    val df = (0 until 30000).map(i => s"conv-${i % 10000}").toDF("s")
    val sketches = Seq(1, 4, 13).map { parts =>
      df.repartition(parts).agg(hll_sketch(F.col("s"), 12)).head().getAs[Array[Byte]](0)
    }
    assert(java.util.Arrays.equals(sketches(0), sketches(1)))
    assert(java.util.Arrays.equals(sketches(0), sketches(2)))
    val est = HllSketch.deserialize(sketches(0)).estimate()
    assert(math.abs(est - 10000) / 10000.0 <= 3 * HllSketch.standardError(12))
    // one-shot convenience
    val direct = df.agg(hll_distinct(F.col("s"), 12)).head().getLong(0)
    assert(direct === math.round(est))
  }

  test("cms_sketch counts within eps*N; partition-count independent bytes") {
    val rows = (0 until 300).flatMap(i => Seq.fill(math.max(1, 3000 / (i + 1)))(s"k$i"))
    val df = rows.toDF("s")
    val sketches = Seq(1, 4, 13).map { parts =>
      df.repartition(parts).agg(cms_sketch(F.col("s"), 5, 1 << 12)).head().getAs[Array[Byte]](0)
    }
    assert(java.util.Arrays.equals(sketches(0), sketches(1)))
    assert(java.util.Arrays.equals(sketches(0), sketches(2)))
    val cms = CmsSketch.deserialize(sketches(0))
    val exact = rows.groupBy(identity).view.mapValues(_.size).toMap
    exact.foreach { case (k, c) =>
      assert(cms.estimate(k) >= c)
      assert(cms.estimate(k) <= c + cms.epsilon * cms.n + 1)
    }
    // probe via expression
    val est = df.agg(cms_sketch(F.col("s"), 5, 1 << 12).as("sk"))
      .select(cms_estimate(F.col("sk"), F.lit("k0")))
      .head().getLong(0)
    assert(est >= exact("k0"))
  }

  test("kll_sketch quantiles within rank-error bound under shuffle") {
    val n = 50000
    val df = spark.range(n).select(F.col("id").cast("double").as("v"))
      .repartition(8)
    val bytes = df.agg(kll_sketch(F.col("v"), 200)).head().getAs[Array[Byte]](0)
    val kll = KllSketch.deserialize(bytes)
    assert(kll.n === n)
    for (q <- Seq(0.05, 0.5, 0.95)) {
      val err = math.abs(kll.quantile(q) - q * n) / n
      assert(err <= 3 * KllSketch.epsilon(200), s"q=$q err=$err")
    }
    // scalar probes
    val row = df.agg(kll_sketch(F.col("v"), 200).as("sk"))
      .select(kll_quantile(F.col("sk"), F.lit(0.5)), kll_rank(F.col("sk"), F.lit(n / 2.0)))
      .head()
    assert(math.abs(row.getDouble(0) - n / 2.0) / n <= 3 * KllSketch.epsilon(200))
    assert(math.abs(row.getLong(1) - n / 2.0) / n <= 3 * KllSketch.epsilon(200))
  }

  test("kll_histogram: bins partition n within rank-error, SQL form works") {
    val n = 20000
    val df = spark.range(n).select(F.col("id").cast("double").as("v")).repartition(6)
    val rows = df.agg(kll_sketch(F.col("v"), 200).as("sk"))
      .select(F.posexplode(kll_histogram(F.col("sk"), F.lit(8))).as(Seq("pos", "b")))
      .select(F.col("b.lo"), F.col("b.hi"), F.col("b.cnt"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
    assert(rows.length === 8)
    assert(rows.map(_._3).sum === n) // bins partition all items exactly
    // uniform data: each bin within 3*eps*n of n/8
    val tol = 3 * graft.sketch.KllSketch.epsilon(200) * n
    rows.foreach { case (lo, hi, cnt) =>
      assert(lo < hi && math.abs(cnt - n / 8.0) <= tol, s"bin [$lo,$hi) cnt=$cnt")
    }
    val viaSql = spark.sql(
      "SELECT size(kll_histogram(kll_sketch(CAST(id AS DOUBLE)), 4)) FROM range(100)")
      .head().getInt(0)
    assert(viaSql === 4)
  }

  test("hh_sketch: heavy hitters through Spark aggregation with shuffle merge") {
    val rows = (0 until 300).flatMap(i => Seq.fill(math.max(1, 3000 / (i + 1)))(s"t$i"))
    val df = rows.toDF("s").repartition(7)
    val bytes = df.agg(hh_sketch(F.col("s"), 64)).head().getAs[Array[Byte]](0)
    val hh = graft.sketch.HeavyHittersSketch.deserialize(bytes)
    assert(hh.n === rows.size)
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val top5 = hh.topK(5).map(_._1).toSet
    val exactTop5 = exact.toSeq.sortBy { case (k, c) => (-c, k) }.take(5).map(_._1).toSet
    assert(top5 === exactTop5)
    hh.topK(64).foreach { case (k, count, _) => assert(exact.getOrElse(k, 0L) <= count) }
    // two-level via hh_merge
    val merged = df.withColumn("g", F.length(F.col("s")) % 3)
      .groupBy("g").agg(hh_sketch(F.col("s"), 64).as("p"))
      .agg(hh_merge(F.col("p"))).head().getAs[Array[Byte]](0)
    assert(graft.sketch.HeavyHittersSketch.deserialize(merged).n === rows.size)
  }

  test("grouped sketches: per-group aggregation works") {
    val df = (0 until 9000).map(i => (s"g${i % 3}", s"v${i % (300 * (1 + i % 3))}")).toDF("g", "v")
    val out = df.groupBy("g").agg(hll_distinct(F.col("v"), 12).as("d")).collect()
    assert(out.length === 3)
    out.foreach(r => assert(r.getLong(1) > 0))
  }

  test("graft_hash32_seeded / graft_hash32_k match kernels (int family)") {
    val row = Seq("hello").toDF("s")
      .select(
        graft_hash32_seeded(F.col("s"), F.lit(777)).as("m"),
        graft_hash32_seeded(F.col("s"), F.lit(3), "jenkins").as("j"),
        graft_hash32_k(F.col("s"), F.lit(5)).as("mk"),
        graft_hash32_k(F.col("s"), F.lit(5), "hsieh").as("hk"))
      .head()
    assert(row.getInt(0) === Murmur2Kernel.hash32Seeded(
      graft.core.ByteOps.utf8("hello"), 777))
    assert(row.getInt(1) === HashKernels.jenkins.asInstanceOf[graft.core.hash.JenkinsKernel.type]
      .hash32Seeded(graft.core.ByteOps.utf8("hello"), 3))
    assert(row.getSeq[Int](2) === Murmur2Kernel.hash32K("hello", 5).toSeq)
    assert(row.getSeq[Int](3) === HashKernels.hsieh.hash32K("hello", 5).toSeq)
    // contract pinned by the reference (HashImplTestBase.java:40-46):
    // k-vector element 0 equals the plain hash
    assert(row.getSeq[Int](2).head === Murmur2Kernel.hash32("hello"))
    // SQL registration
    val viaSql = spark.sql(
      "SELECT graft_hash32_k('hello', 3, 'fnv1a'), graft_hash32_seeded('hello', 9)").head()
    assert(viaSql.getSeq[Int](0) === HashKernels.fnv1a.hash32K("hello", 3).toSeq)
  }

  test("bloom int-hash family (longHash=false) reachable from SQL, reference semantics") {
    (0 until 500).map(i => s"member__$i").toDF("s").createOrReplaceTempView("blm_items")
    val bytes = spark.sql(
      "SELECT bloom_sketch(s, 500, 16, 'murmur2', false) FROM blm_items")
      .head().getAs[Array[Byte]](0)
    // byte-identical to a local int-family sketch (BloomFilter.java:167-191)
    val local = BloomSketch(500L, 16, longHash = false)
    (0 until 500).foreach(i => local.put(s"member__$i"))
    assert(java.util.Arrays.equals(bytes, local.serialize()))
    // probing uses the int family recorded in the sketch state
    val probe = BloomSketch.deserialize(bytes)
    assert((0 until 500).forall(i => probe.contains(s"member__$i")))
  }

  test("top_k_by equals window top-k under any partitioning; string values too") {
    val rows = (0 until 5000).map(i => (i % 7L, (i * 2654435761L) % 100000L,
      ((i * 40503) % 9973).toDouble))
    for (parts <- Seq(1, 5, 32)) {
      val df = rows.toDF("g", "v", "score").repartition(parts)
      val got = df.groupBy("g")
        .agg(top_k_by(F.col("v"), F.col("score"), 10).as("tk"))
        .select(F.col("g"), F.posexplode(F.col("tk")).as(Seq("pos", "e")))
        .select(F.col("g"), F.col("e.value").as("v"), (F.col("pos") + 1).as("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(F.col("score").desc, F.col("v"))
      val expect = rows.toDF("g", "v", "score")
        .withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 10)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(got === expect, s"parts=$parts")
    }
    // string values, with score ties broken by value ascending
    val sdf = Seq(("a", 1.0), ("c", 1.0), ("b", 1.0), ("d", 0.5)).toDF("v", "score")
    val top = sdf.agg(top_k_by(F.col("v"), F.col("score"), 3)).head()
      .getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getDouble(1)))
    assert(top === Seq(("a", 1.0), ("b", 1.0), ("c", 1.0)))
    // SQL registration
    Seq("member__111", "member__112", "member__9").toDF("s")
      .createOrReplaceTempView("topk_items")
    val viaSql = spark.sql(
      "SELECT top_k_by(s, length(s), 2) FROM topk_items").head()
    assert(viaSql.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0)) ===
      Seq("member__111", "member__112"))
  }

  test("hh_topk / hh_estimate expressions: exact when capacity covers distincts") {
    val rows = (0 until 40).flatMap(i => Seq.fill(40 - i)(s"key$i"))
    val df = rows.toDF("s").repartition(6)
    val got = df.agg(hh_sketch(F.col("s"), 256).as("sk"))
      .select(F.posexplode(hh_topk(F.col("sk"), F.lit(10))).as(Seq("pos", "e")))
      .select(F.col("e.item"), F.col("e.cnt"), F.col("e.lower_bound"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val expect = exact.toSeq.sortBy { case (k, c) => (-c, k) }.take(10)
    assert(got.map(t => (t._1, t._2)).toSeq === expect)
    got.foreach { case (_, cnt, lower) => assert(lower === cnt) } // no evictions
    val est = df.agg(hh_sketch(F.col("s"), 256).as("sk"))
      .select(hh_estimate(F.col("sk"), F.lit("key0"))).head().getLong(0)
    assert(est === 40L)
  }

  test("weighted cms/hh: frequencies by weight volume, exact in the no-collision regime") {
    // 30 keys, weight = token count; exact weighted totals known
    val df = (0 until 3000).map(i => (s"src${i % 30}", (i % 7) + 1L)).toDF("k", "w")
      .repartition(5)
    val exact = (0 until 3000).map(i => (s"src${i % 30}", (i % 7) + 1L))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
    val cmsBytes = df.agg(cms_sketch_weighted(F.col("k"), F.col("w"), 5, 1 << 14))
      .head().getAs[Array[Byte]](0)
    val cms = CmsSketch.deserialize(cmsBytes)
    exact.foreach { case (k, c) => assert(cms.estimate(k) === c, s"key=$k") }
    val hhBytes = df.agg(hh_sketch_weighted(F.col("k"), F.col("w"), 64))
      .head().getAs[Array[Byte]](0)
    val hh = graft.sketch.HeavyHittersSketch.deserialize(hhBytes)
    hh.topK(30).foreach { case (k, cnt, lower) =>
      assert(cnt === exact(k) && lower === cnt, s"key=$k")
    }
    // SQL forms
    val viaSql = spark.sql(
      """SELECT hh_topk(hh_sketch_weighted(k, w, 64), 1),
        |       cms_estimate(cms_sketch_weighted(k, w), 'src6')
        |FROM VALUES ('src6', 10L), ('src1', 3L), ('src6', 5L) AS t(k, w)""".stripMargin)
      .head()
    assert(viaSql.getSeq[org.apache.spark.sql.Row](0).head.getString(0) === "src6")
    assert(viaSql.getLong(1) === 15L)
  }

  test("bloom_bank_contains: routed probe, per-part cache, null filter => true") {
    def filterFor(keys: Seq[String]): Array[Byte] = {
      val sk = BloomSketch(1000L, 16)
      keys.foreach(sk.put)
      sk.serialize()
    }
    val bank = Seq(
      (0, filterFor(Seq("alpha", "beta"))),
      (1, filterFor(Seq("gamma")))).toDF("part", "sk")
    // part 2 has no filter row at all (unbuilt) — left join yields null
    val probes = Seq((0, "alpha"), (0, "gamma"), (1, "gamma"), (2, "anything"))
      .toDF("part", "key")
    val joined = probes.join(bank.hint("SHUFFLE_HASH"), Seq("part"), "left")
    // a def: each call plans afresh, under the session conf of the moment
    def filtered = joined.filter(bloom_bank_contains(F.col("part"), F.col("sk"), F.col("key")))
    // plan shape: the hint pins a co-partitioned shuffle-hash join, the
    // shape ProbeJob.probeBank takes for a bank above the broadcast threshold
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && !plan.contains("BroadcastHashJoin"),
      s"bank join lost its routed shape:\n$plan")
    // the rows, after checking that the probe ran inside whole-stage codegen
    // or outside it (the final adaptive plan, read once the query has run)
    def kept(codegen: Boolean): Set[(Int, String)] = {
      val df = filtered.select("part", "key")
      val rows = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
      val plan = df.queryExecution.executedPlan
      val fused = new AdaptiveSparkPlanHelper {}.find(plan) {
        case w: WholeStageCodegenExec => w.child.exists(_.isInstanceOf[FilterExec])
        case _ => false
      }
      assert(fused.isDefined === codegen, plan.toString)
      rows
    }
    // (0,gamma) is not in part 0's filter; part 2 unbuilt => kept
    val expected = Set((0, "alpha"), (1, "gamma"), (2, "anything"))
    assert(kept(codegen = true) === expected)
    withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN") {
        assert(kept(codegen = false) === expected)
      }
    }
  }

  test("SQL end-to-end: sketch build + probe via registered functions") {
    (0 until 1000).map(i => s"item$i").toDF("s").createOrReplaceTempView("items")
    val est = spark.sql(
      "SELECT hll_estimate(hll_sketch(s, 12)) FROM items").head().getLong(0)
    assert(math.abs(est - 1000.0) / 1000.0 <= 3 * HllSketch.standardError(12))
    val q = spark.sql(
      "SELECT kll_quantile(kll_sketch(length(s)), 0.5d) FROM items").head().getDouble(0)
    assert(q >= 7 && q <= 8) // item0..item999: lengths 5..8, median 7 or 8
  }

  test("vec_mean: partition-invariant exact centroid, null rows skipped, SQL form") {
    import spark.implicits._
    // integer-valued floats: double sums are EXACT regardless of
    // addition order, so partition invariance is checkable by equality
    val rows = (0 until 900).map { i =>
      (i % 4L, if (i % 90 == 89) null
               else Array.tabulate(8)(d => ((i * 7 + d * 13) % 101).toFloat))
    }
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      val vs = rs.flatMap(r => Option(r._2))
      g -> Array.tabulate(8)(d => vs.map(_(d).toDouble).sum / vs.length)
    }
    for (parts <- Seq(1, 7, 32)) {
      val got = rows.toDF("g", "vec").repartition(parts)
        .groupBy("g").agg(vec_mean(F.col("vec")).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      expected.foreach { case (g, e) =>
        assert(got(g).sameElements(e), s"group $g parts $parts") }
    }
    // all-null group -> null centroid
    val nulls = Seq((1L, null: Array[Float])).toDF("g", "vec")
      .groupBy("g").agg(vec_mean(F.col("vec")).as("c")).head()
    assert(nulls.isNullAt(1))
    // SQL registration
    rows.toDF("g", "vec").createOrReplaceTempView("vm_items")
    val viaSql = spark.sql(
      "SELECT g, vec_mean(vec) AS c FROM vm_items GROUP BY g")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    expected.foreach { case (g, e) => assert(viaSql(g).sameElements(e)) }
    // dimension mismatch fails loudly, not silently biased — and for
    // THAT reason: `getMessage != null` passes for any failure at all,
    // so walk the cause chain for the guard's own wording
    val bad = Seq((1L, Array(1f, 2f)), (1L, Array(1f, 2f, 3f))).toDF("g", "vec")
    val ex = intercept[Exception] {
      bad.groupBy("g").agg(vec_mean(F.col("vec"))).collect()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.toLowerCase.contains("dimension") ||
      messages.toLowerCase.contains("mismatch"),
      s"expected the dimension guard's message, got: $messages")
  }

  test("hll_union is byte-identical to the aggregate merge; intersection estimate tracks exact") {
    val n = 10000
    val ids = spark.range(n).select(F.col("id"))
    // A = [0, 6000), B = [4000, 10000): true intersection 2000, union 10000
    val sk = ids.agg(
      hll_sketch(F.when(F.col("id") < 6000, F.col("id")), 14).as("a"),
      hll_sketch(F.when(F.col("id") >= 4000, F.col("id")), 14).as("b"),
      hll_sketch(F.col("id"), 14).as("all"))
    val row = sk.select(
      hll_union(F.col("a"), F.col("b")).as("u"),
      F.col("all"),
      hll_estimate(F.col("a")).as("ea"),
      hll_estimate(F.col("b")).as("eb"),
      hll_intersect_estimate(F.col("a"), F.col("b")).as("ei")).head()
    // union of the two half sketches covers exactly the same distinct
    // set as the whole-corpus sketch, and serialization is canonical,
    // so the bytes must be IDENTICAL — the scalar union IS the merge
    assert(java.util.Arrays.equals(row.getAs[Array[Byte]]("u"), row.getAs[Array[Byte]]("all")))
    // estimates within the p=14 envelope (sigma ~ 0.0081): 5% slack on
    // the halves, and the intersection compounds three estimates
    assert(math.abs(row.getAs[Long]("ea") - 6000L) <= 300, s"est_a=${row.getAs[Long]("ea")}")
    assert(math.abs(row.getAs[Long]("eb") - 6000L) <= 300)
    assert(math.abs(row.getAs[Long]("ei") - 2000L) <= 600, s"est_i=${row.getAs[Long]("ei")}")
    // SQL surface — registered as graft_hll_union (Spark 4.1 has a
    // BUILTIN hll_union over Datasketches binaries that must not be
    // shadowed)
    ids.select(hll_sketch(F.col("id"), 12).as("s")).createOrReplaceTempView("hu_s")
    val viaSql = spark.sql(
      "SELECT hll_estimate(graft_hll_union(s, s)) = hll_estimate(s) FROM hu_s")
      .head().getBoolean(0)
    assert(viaSql, "union with self must be the identity")
  }
}
