package graft.ops

import java.util.Arrays.asList

import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.types._

import graft.spark.SparkTestBase

/** Pins the fourteen row kernels of `graft.ops` — eight text expressions
  * (`simhash64`, `simhash_ngram64`, `minhash_sig`, `shingle_hashes`,
  * `gram_hashes`, `fingerprint64`, `lang_id`, `jaccard_shingles`) and six
  * vector expressions (`srp_signature`, `srp_multiprobe`, `ivf_cells`,
  * `cosine_similarity`, `pq_encode`, `pq_adc_score`): each gives the same
  * rows, bit for bit, through whole-stage codegen and through the
  * interpreted path, over float and double vectors with null elements,
  * null rows, a zero vector, an all-NaN vector and a dimension mismatch;
  * the rows hash to a pinned digest; and the dimension and code errors
  * read the same on both paths. */
class KernelExpressionSpec extends SparkTestBase {

  private val dims = 8

  /** four unit centroids over 8 dims */
  private val centroids: Array[Array[Double]] = Array.tabulate(4) { c =>
    val v = Array.tabulate(dims)(d => math.sin(3.1 * c + 1.7 * d + 0.4))
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** two blocks of four dims, three centroids each */
  private val codebooks: Array[Array[Array[Double]]] = Array.tabulate(2, 3, dims / 2) {
    (b, c, j) => math.cos(1.3 * b + 2.9 * c + 0.7 * j) / 2
  }

  private val words = Seq("the", "of", "le", "de", "quick", "brown", "fox", "der", "und", "a")

  private def text(i: Int, salt: Int): String =
    if (i % 7 == 6) null
    else Seq.tabulate(i % 6)(j => words((i * 3 + j * salt) % words.size)).mkString(" ")

  /** element d of row i; row 19 is the zero vector, row 17 all NaN */
  private def x(i: Int, d: Int): Double =
    if (i == 19) 0.0 else if (i == 17) Double.NaN else math.sin(0.9 * i + 1.3 * d) * (1 + d % 3)

  private val schema = StructType(Seq(
    StructField("id", IntegerType), StructField("t", StringType), StructField("u", StringType),
    StructField("vf", ArrayType(FloatType)), StructField("vd", ArrayType(DoubleType)),
    StructField("w", ArrayType(DoubleType)), StructField("codes", ArrayType(IntegerType))))

  /** 24 rows: a null vector and text every 7th row, a null element in
    * every 5th, and in row 22 a 5-dim `w` against 8-dim vectors */
  private def input: DataFrame = {
    val rows = (0 until 24).map { i =>
      val vf: java.util.List[Any] =
        if (i % 7 == 6) null
        else asList(Seq.tabulate(dims)(d => if (i % 5 == 3 && d == 2) null else x(i, d).toFloat): _*)
      val vd: java.util.List[Any] =
        if (i % 7 == 6) null
        else asList(Seq.tabulate(dims)(d => if (i % 5 == 3 && d == 5) null else x(i, d) / 3): _*)
      val w: java.util.List[Any] =
        asList(Seq.tabulate(if (i == 22) 5 else dims)(d => x(i + 1, d)): _*)
      Row(i, text(i, 1), text(i + 2, 2), vf, vd, w, asList(i % 3, (i / 3) % 3))
    }
    // the exchange keeps the local rows from being evaluated at planning
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).repartition(2)
  }

  private def c(name: String): Column = F.col(name)

  private val kernels: Seq[(String, Column)] = Seq(
    "simhash64" -> TextAnalysis.simhash64(c("t")),
    "simhash_ngram64" -> TextAnalysis.simhash_ngram64(c("t"), 2),
    "minhash_sig" -> TextAnalysis.minhash_sig(c("t"), 8, 2),
    "shingle_hashes" -> TextAnalysis.shingle_hashes(c("t"), 2),
    "shingle_hashes_fallback" -> TextAnalysis.shingle_hashes(c("t"), 3, tokenFallback = true),
    "gram_hashes" -> TextAnalysis.gram_hashes(c("t"), 2),
    "fingerprint64" -> TextAnalysis.fingerprint64(c("t")),
    "lang_id" -> TextAnalysis.lang_id(c("t")),
    "jaccard_shingles" -> TextAnalysis.jaccard_shingles(c("t"), c("u"), 2),
    "srp_f" -> Similarity.srpSignature(c("vf"), 12, 7L),
    "srp_d0" -> Similarity.srpSignature(c("vd"), 0, 7L),
    "multiprobe_f" -> Similarity.srpMultiprobe(c("vf"), 12, 7L, 3),
    "multiprobe_d" -> Similarity.srpMultiprobe(c("vd"), 10, 9L, 10),
    "ivf_f" -> Similarity.ivfCells(c("vf"), centroids, 2),
    "ivf_d" -> Similarity.ivfCells(c("vd"), centroids, 4),
    "cos_fd" -> Similarity.cosine(c("vf"), c("vd")),
    "cos_ff" -> Similarity.cosine(c("vf"), c("vf")),
    "cos_dw" -> Similarity.cosine(c("vd"), c("w")),
    "pq_f" -> Similarity.pqEncode(c("vf"), codebooks),
    "pq_d" -> Similarity.pqEncode(c("vd"), codebooks),
    "adc_f" -> Similarity.pqAdcScore(c("codes"), c("vf"), codebooks),
    "adc_w" -> Similarity.pqAdcScore(c("codes"), c("w"), codebooks))

  private def rows(df: DataFrame, codegen: Boolean): Seq[Row] = {
    val plan = df.queryExecution.executedPlan
    assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) === codegen, plan.toString)
    df.collect().toSeq.sortBy(_.getInt(0))
  }

  /** `body` with whole-stage codegen forced (no fallback: a generated
    * method that does not compile fails) and with everything interpreted;
    * adaptive execution is off so the plan is final before it runs */
  private def bothPaths[T](body: Boolean => T): (T, T) =
    withConf("spark.sql.adaptive.enabled", "false") {
      val compiled = withConf("spark.sql.codegen.fallback", "false")(body(true))
      val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
        withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(body(false))
      }
      (compiled, interpreted)
    }

  /** a row's values with every double and float as its raw bits, so -0.0
    * and NaN payloads count */
  private def exact(v: Any): String = v match {
    case null => "null"
    case d: Double => java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))
    case f: Float => Integer.toHexString(java.lang.Float.floatToRawIntBits(f))
    case s: scala.collection.Seq[_] => s.map(exact).mkString("[", ",", "]")
    case r: Row => exact(r.toSeq)
    case o => o.toString
  }

  test("the fourteen kernels give bit-identical rows with whole-stage codegen and interpreted") {
    val (compiled, interpreted) = bothPaths { codegen =>
      rows(input.select(c("id") +: kernels.map { case (n, k) => k.as(n) }: _*), codegen)
    }
    assert(compiled.map(exact) === interpreted.map(exact))
    assert(compiled.map(_.getInt(0)) === (0 until 24))

    val col = kernels.map(_._1).zipWithIndex.toMap.map { case (n, i) => n -> (i + 1) }
    def at(i: Int, n: String): Any = compiled(i).get(col(n))
    // a null row gives null from every kernel
    compiled.filter(_.getInt(0) % 7 == 6).foreach { r =>
      kernels.map(_._1).filterNot(_ == "adc_w")
        .foreach(n => assert(r.isNullAt(col(n)), s"$n row ${r.getInt(0)}"))
    }
    // cosine: a zero norm and a dimension mismatch score 0.0
    assert(at(19, "cos_fd") === 0.0 && at(19, "cos_ff") === 0.0)
    assert(at(22, "cos_dw") === 0.0 && at(22, "adc_w") === 0.0)
    assert(at(1, "cos_ff").asInstanceOf[Double] > 0.999999)
    // an all-NaN vector loses every ranking and takes the first cells
    assert(at(17, "ivf_f") === Seq(0, 1) && at(17, "ivf_d") === Seq(0, 1, 2, 3))
    // the rows with a null element are scored, not dropped
    assert(Seq(3, 8, 18, 23).forall(i => at(i, "cos_fd") != null && at(i, "ivf_d") != null))
    // bits 0 is the constant signature; nflip = bits flips every bit once
    def present(n: String): Seq[Row] = compiled.filterNot(_.isNullAt(col(n)))
    assert(present("srp_d0").map(_.getLong(col("srp_d0"))).toSet === Set(0L))
    assert(present("multiprobe_d").map(_.getSeq[Long](col("multiprobe_d"))).forall(p =>
      p.tail.map(_ ^ p.head).toSet === (0 until 10).map(1L << _).toSet))

    // pinned at the version that introduced this suite: any change to a
    // kernel's value on these rows changes the digest
    val digest = scala.util.hashing.MurmurHash3.stringHash(compiled.map(exact).mkString("\n"))
    assert(digest === KernelExpressionSpec.Digest, s"digest $digest")
  }

  /** (one-row column, expected message fragment) */
  private def failures: Seq[(Column, String)] = {
    val id = F.col("id")
    val short = F.array((0 until 5).map(d => (id + d).cast("double")): _*)
    val full = F.array((0 until dims).map(d => (id + d).cast("float")): _*)
    Seq(
      Similarity.ivfCells(short, centroids, 1) -> "ivf_cells: vector has 5 dims, centroids expect 8",
      Similarity.pqEncode(short, codebooks) ->
        "pq_encode: vector has 5 dims, codebooks expect 8 (2 blocks x 4)",
      Similarity.pqAdcScore(F.array(F.lit(0)), full, codebooks) ->
        "pq_adc_score: codes length 1 != codebook blocks 2",
      Similarity.pqAdcScore(F.array(F.lit(0), F.when(id > 5, 1)), full, codebooks) ->
        "pq_adc_score: null code at block 1",
      Similarity.pqAdcScore(F.array(F.lit(0), (id + 3).cast("int")), full, codebooks) ->
        "pq_adc_score: code 3 out of range for block 1 (kc=3)")
  }

  test("the dimension and code errors read the same with whole-stage codegen and interpreted") {
    failures.foreach { case (k, message) =>
      val (compiled, interpreted) = bothPaths { codegen =>
        val df = spark.range(1).select(F.col("id").cast("int").as("id"), k.as("k"))
        intercept[Exception](rows(df, codegen))
      }
      Seq(compiled, interpreted).foreach { e =>
        val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        assert(chain.exists(t => String.valueOf(t.getMessage).contains(message)),
          s"expected '$message' in: $e")
      }
    }
  }
}

object KernelExpressionSpec {
  val Digest: Int = -216736640
}
