package graft.spark

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.execution.debug.codegenStringSeq

import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch,
  TDigestSketch}
import graft.spark.functions._

/** Pins the eight two-argument queries over a serialized sketch
  * (`bloom_might_contain`, `cms_estimate`, `kll_quantile`, `kll_rank`,
  * `kll_histogram`, `tdigest_quantile`, `hh_topk`, `hh_estimate`) and the
  * HLL scalars (`hll_estimate`, `hll_union`): the rows they give through
  * whole-stage codegen and through the interpreted path, against the
  * sketches called directly; the eight queries' SQL names and plan
  * strings; and that generated code takes a `Boolean`, `Long` or `Double`
  * answer from a method that returns the primitive. */
class SketchQuerySpec extends SparkTestBase {

  private val n = 40
  private val id = F.col("id")
  private def key(c: Column): Column = F.concat(F.lit("k"), c.cast("string"))

  /** bloom, cms, kll, tdigest and hh sketches and two hll sketches over 200 rows */
  private lazy val sketches: Seq[Array[Byte]] = {
    val r = spark.range(200).select(
      bloom_sketch(key(id % 50), 100, 8), cms_sketch(key(id % 50)),
      kll_sketch(id.cast("double")), tdigest_sketch(id.cast("double")),
      hh_sketch(key(id % 10 * (id % 3))), hll_sketch(key(id % 50)), hll_sketch(key(id + 30)))
      .head()
    (0 until 7).map(r.getAs[Array[Byte]])
  }

  /** (SQL name, sketch index, argument, Column form); every 7th argument
    * is null, and the sketch is a literal, as a collected sketch is. */
  private lazy val queries: Seq[(String, Int, Column, (Column, Column) => Column)] = Seq(
    ("bloom_might_contain", 0, key(id + 25), bloom_might_contain _),
    ("cms_estimate", 1, key(id + 25), cms_estimate _),
    ("kll_quantile", 2, id / n, kll_quantile _),
    ("kll_rank", 2, id * 5.0, kll_rank _),
    ("kll_histogram", 2, (id % 5 + 1).cast("int"), kll_histogram _),
    ("tdigest_quantile", 3, id / n, tdigest_quantile _),
    ("hh_topk", 4, (id % 4).cast("int"), hh_topk _),
    ("hh_estimate", 4, key(id), hh_estimate _))

  private def sketch(i: Int): Column = F.lit(sketches(i))
  private def arg(c: Column): Column = F.when(id % 7 === 6, F.lit(null)).otherwise(c)

  /** the HLL scalars, with a null input every 7th row */
  private lazy val hll: Seq[Column] = Seq(
    hll_estimate(arg(sketch(5))).as("hll_estimate"),
    hll_union(sketch(5), arg(sketch(6))).as("hll_union"))

  private def frame: DataFrame = spark.range(n).select(id +: queries.map {
    case (name, i, a, q) => q(sketch(i), arg(a)).as(name)
  } ++: hll: _*)

  private def rows(codegen: Boolean): Seq[Row] = {
    val df = frame
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) === codegen, plan.toString)
    df.collect().toSeq
  }

  test("the eight queries give the same rows with whole-stage codegen and interpreted") {
    // no fallback: a generated method that does not compile fails here
    val compiled = withConf("spark.sql.codegen.fallback", "false")(rows(codegen = true))
    val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(rows(codegen = false))
    }
    assert(compiled === interpreted)

    val bloom = BloomSketch.deserialize(sketches(0))
    val cms = CmsSketch.deserialize(sketches(1))
    val kll = KllSketch.deserialize(sketches(2))
    val td = TDigestSketch.deserialize(sketches(3))
    val hh = HeavyHittersSketch.deserialize(sketches(4))
    def hll(i: Int) = HllSketch.deserialize(sketches(i))
    assert(compiled.map(_.getLong(0)) === (0L until n))
    compiled.foreach { r =>
      val i = r.getLong(0)
      if (i % 7 == 6) assert((1 until r.length).forall(r.isNullAt), s"row $i: $r")
      else {
        assert(r.getBoolean(1) === bloom.contains(s"k${i + 25}"), s"bloom $i")
        assert(r.getLong(2) === cms.estimate(s"k${i + 25}"), s"cms $i")
        assert(r.getDouble(3) === kll.quantile(i.toDouble / n), s"kll_quantile $i")
        assert(r.getLong(4) === kll.rank(i * 5.0), s"kll_rank $i")
        assert(r.getSeq[Row](5).map(b => (b.getDouble(0), b.getDouble(1), b.getLong(2))) ===
          kll.histogram((i % 5 + 1).toInt), s"kll_histogram $i")
        assert(r.getDouble(6) === td.quantile(i.toDouble / n), s"tdigest $i")
        assert(r.getSeq[Row](7).map(e => (e.getString(0), e.getLong(1), e.getLong(2))) ===
          hh.topK((i % 4).toInt), s"hh_topk $i")
        assert(r.getLong(8) === hh.estimate(s"k$i"), s"hh_estimate $i")
        assert(r.getLong(9) === math.round(hll(5).estimate()), s"hll_estimate $i")
        assert(r.getAs[Array[Byte]](10) === hll(5).merge(hll(6)).serialize(), s"hll_union $i")
      }
    }
    // keys k25..k64 against a filter of k0..k49: both answers occur
    assert(compiled.filterNot(_.isNullAt(1)).map(_.getBoolean(1)).distinct.size === 2)
  }

  /** each query's argument as its plan string prints it */
  private val plans = Map(
    "bloom_might_contain" -> "concat(k, cast((id + 25) as string))",
    "cms_estimate" -> "concat(k, cast((id + 25) as string))",
    "kll_quantile" -> "(cast(id as double) / 40.0)",
    "kll_rank" -> "(cast(id as double) * 5.0)",
    "kll_histogram" -> "cast(((id % 5) + 1) as int)",
    "tdigest_quantile" -> "(cast(id as double) / 40.0)",
    "hh_topk" -> "cast((id % 4) as int)",
    "hh_estimate" -> "concat(k, cast(id as string))")

  test("the eight queries keep their SQL names and plan strings") {
    def normalized(plan: Any): String =
      plan.toString.replaceAll("#\\d+L?", "").replaceAll("0x[0-9A-F]+", "0x..")
    queries.foreach { case (name, i, a, q) =>
      val view = s"sketch_query_$name"
      spark.range(n).select(sketch(i).as("s"), arg(a).as("a")).createOrReplaceTempView(view)
      val viaSql = spark.sql(s"SELECT $name(s, a) AS r FROM $view")
      val viaColumn = spark.table(view).select(q(F.col("s"), F.col("a")).as("r"))
      assert(viaSql.collect().toSeq === viaColumn.collect().toSeq, name)
      assert(normalized(viaSql.queryExecution.analyzed.asInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.Project].projectList.head) ===
        s"$name(s, a) AS r", name)
      val argument = s"CASE WHEN ((id % 7) = 6) THEN null ELSE ${plans(name)} END"
      assert(normalized(viaColumn.queryExecution.executedPlan).split('\n').head ===
        s"*(1) Project [$name(0x.., $argument) AS r]", name)
    }
  }

  test("generated code takes Boolean, Long and Double answers unboxed") {
    val source = codegenStringSeq(frame.queryExecution.executedPlan).map(_._2).mkString("\n")
    val call = """\(\(graft\.spark\.expr\.(\w+)\) references\[\d+\][^)]*\)\.(\w+)\(""".r
    val called = call.findAllMatchIn(source).map(m => m.group(1) -> m.group(2)).toMap
    val answers = Map[String, Class[_]](
      "BloomMightContain" -> java.lang.Boolean.TYPE, "CmsEstimate" -> java.lang.Long.TYPE,
      "KllQuantile" -> java.lang.Double.TYPE, "KllRank" -> java.lang.Long.TYPE,
      "TDigestQuantile" -> java.lang.Double.TYPE, "HhEstimate" -> java.lang.Long.TYPE,
      "HllEstimate" -> java.lang.Long.TYPE)
    answers.foreach { case (cls, answer) =>
      val method = called.getOrElse(cls, fail(s"no call on $cls in the generated source"))
      val returns = Class.forName(s"graft.spark.expr.$cls").getMethods
        .filter(m => m.getName == method && !m.isBridge).map(_.getReturnType).toSet
      assert(returns === Set(answer), s"$cls.$method")
    }
  }
}
