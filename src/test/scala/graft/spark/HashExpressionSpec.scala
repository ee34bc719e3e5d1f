package graft.spark

import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec

import graft.core.ByteOps
import graft.core.hash.{HashKernels, SeededHashKernel}

/** Pins the six SQL hash projections (`graft_hash64`, `graft_hash32`,
  * `graft_hash64_seeded`, `graft_hash32_seeded`, `graft_hash64_k`,
  * `graft_hash32_k`) over murmur2 (the default kernel), fnv1a (chained)
  * and jenkins (seed by index): the analyzed column name, the physical
  * `Project` line, the type-check message of a wrong seed or k type, and
  * the rows through whole-stage codegen and through the interpreted path
  * against the kernel called directly. */
class HashExpressionSpec extends SparkTestBase {

  private val n = 24

  /** s string, sd bigint, sd32 int; a Parquet table, so nothing folds at
    * planning time and the scan's attributes are plain column references */
  private lazy val table: String = {
    val dir = Files.createTempDirectory("hash-pin").resolve("t").toString
    spark.range(n).selectExpr("concat('k', id) AS s", "id * 1000003 - 7 AS sd",
      "cast(id * 31 - 5 AS int) AS sd32").coalesce(1).write.parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView("hash_pin")
    "hash_pin"
  }

  private val kernels = Seq("murmur2", "fnv1a", "jenkins")

  /** The SQL call for kernel `k` (murmur2 through the default form), its
    * analyzed column name and its physical Project line, exprIds as `#`. */
  private def shapes(k: String): Seq[(String, String, String)] = {
    val arg = if (k == "murmur2") "" else s", '$k'"
    Seq(
      (s"graft_hash64(s$arg)", s"graft_hash64_$k(s)",
        s"*(1) Project [graft_hash64_$k(s#, $k) AS graft_hash64_$k(s)#L]"),
      (s"graft_hash32(s$arg)", s"graft_hash32_$k(s)",
        s"*(1) Project [graft_hash32_$k(s#, $k) AS graft_hash32_$k(s)#]"),
      (s"graft_hash64_seeded(s, sd$arg)", s"graft_hash64_seeded_$k(s, sd)",
        s"*(1) Project [graft_hash64_seeded_$k(s#, sd#L, $k) AS graft_hash64_seeded_$k(s, sd)#L]"),
      (s"graft_hash32_seeded(s, sd32$arg)", s"graft_hash32_seeded_$k(s, sd32)",
        s"*(1) Project [graft_hash32_seeded_$k(s#, sd32#, $k) AS graft_hash32_seeded_$k(s, sd32)#]"),
      (s"graft_hash64_k(s, 4$arg)", s"graft_hash64_k_$k(s, 4)",
        s"*(1) Project [graft_hash64_k_$k(s#, 4, $k) AS graft_hash64_k_$k(s, 4)#]"),
      (s"graft_hash32_k(s, 4$arg)", s"graft_hash32_k_$k(s, 4)",
        s"*(1) Project [graft_hash32_k_$k(s#, 4, $k) AS graft_hash32_k_$k(s, 4)#]"))
  }

  private def select(calls: Seq[String]) =
    spark.sql(s"SELECT ${calls.mkString(", ")} FROM $table")

  test("each SQL form keeps its analyzed name and its physical Project line") {
    for (k <- kernels; (call, name, project) <- shapes(k)) {
      val df = select(Seq(call))
      assert(df.columns.toSeq === Seq(name), call)
      val lines = df.queryExecution.executedPlan.treeString.linesIterator
        .map(_.trim.replaceAll("#\\d+", "#")).toSeq
      assert(lines.contains(project), s"$call:\n${lines.mkString("\n")}")
    }
  }

  test("a seed of the other width, or a non-int k, fails the type check") {
    def failure(call: String): String =
      intercept[AnalysisException](select(Seq(call)).collect()).getMessage
    for (k <- kernels) {
      val arg = if (k == "murmur2") "" else s", '$k'"
      for ((call, message) <- Seq(
          (s"graft_hash64_seeded(s, sd32$arg)",
            s"graft_hash64_seeded_$k requires bigint for second argument, got int"),
          (s"graft_hash32_seeded(s, sd$arg)",
            s"graft_hash32_seeded_$k requires int for second argument, got bigint"),
          (s"graft_hash64_k(s, sd$arg)",
            s"graft_hash64_k_$k requires int for second argument, got bigint"),
          (s"graft_hash32_k(s, sd$arg)",
            s"graft_hash32_k_$k requires int for second argument, got bigint"))) {
        val got = failure(call)
        assert(got.contains(message), s"$call: $got")
      }
    }
  }

  test("codegen and interpreted rows agree, and equal the kernels called directly") {
    val calls = kernels.flatMap(shapes(_).map(_._1))
    def rows(codegen: Boolean): Seq[Row] = {
      val df = select("s" +: "sd" +: "sd32" +: calls)
      val plan = df.queryExecution.executedPlan
      assert(plan.exists(_.isInstanceOf[WholeStageCodegenExec]) === codegen, plan.toString)
      df.collect().toSeq.sortBy(_.getString(0))
    }
    // no fallback: a generated method that does not compile fails here
    val compiled = withConf("spark.sql.codegen.fallback", "false")(rows(codegen = true))
    val interpreted = withConf("spark.sql.codegen.wholeStage", "false") {
      withConf("spark.sql.codegen.factoryMode", "NO_CODEGEN")(rows(codegen = false))
    }
    assert(compiled.length === n)
    assert(compiled === interpreted)
    compiled.foreach { r =>
      val bytes = ByteOps.utf8(r.getString(0))
      val (sd, sd32) = (r.getLong(1), r.getInt(2))
      kernels.zipWithIndex.foreach { case (name, j) =>
        val k = HashKernels(name).asInstanceOf[SeededHashKernel]
        val c = 3 + 6 * j
        val at = s"$name(${r.getString(0)})"
        assert(r.getLong(c) === k.hash64(bytes), s"hash64 $at")
        assert(r.getInt(c + 1) === k.hash32(bytes), s"hash32 $at")
        assert(r.getLong(c + 2) === k.hash64Seeded(bytes, sd), s"seeded64 $at")
        assert(r.getInt(c + 3) === k.hash32Seeded(bytes, sd32), s"seeded32 $at")
        assert(r.getSeq[Long](c + 4) === k.hash64K(bytes, 4).toSeq, s"k64 $at")
        assert(r.getSeq[Int](c + 5) === k.hash32K(bytes, 4).toSeq, s"k32 $at")
      }
    }
  }
}
