package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.jobs.JobSession

/** Dump `.explain("formatted")` output for named SparkEntry queries to
  * files — the optimization-round evidence artifact under plans/r06.
  *
  * Usage: runMain graft.bench.PlanDump <outDir> <suffix> <q1,q2,...|all>
  *
  * Writes <outDir>/<query>_<suffix>.txt. Building a query's DataFrame can
  * itself run build-time work (IVF training, CC iterations) — that is the
  * query's real construction path and the plan written is the plan the
  * bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <names|all>")
    val outDir = Paths.get(args(0))
    val suffix = args(1)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = JobSession.local("graft-plan-dump", cpus,
      extras = Seq("spark.sql.adaptive.enabled" -> "true"))
    val wanted =
      if (args(2) == "all") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(',').toSeq
    wanted.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(outDir.resolve(s"${name}_$suffix.txt"),
          txt.getBytes(StandardCharsets.UTF_8))
        // scalastyle:off println
        println(s"[plandump] wrote $name")
        // scalastyle:on println
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
