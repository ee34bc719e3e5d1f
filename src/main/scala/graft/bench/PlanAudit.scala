package graft.bench

import graft.SparkEntry
import graft.jobs.JobSession

/** Physical-plan audit of every driver query: prints
  * `.explain("formatted")` so pushdown (`PushedFilters`), column pruning
  * (`ReadSchema`), join strategies, exchange placement and
  * whole-stage-codegen spans can be reviewed per query — the "is this
  * the plan you'd want at 100x the data" check, kept as a runnable main
  * so it never rots.
  *
  * Usage: `sbt "runMain graft.bench.PlanAudit [sfDir] [queryName...]"`.
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = JobSession.local("graft-plan-audit", 4, logLevel = "ERROR")
    // scalastyle:off println
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .foreach { case (name, fn) =>
        println(s"\n==== $name " + "=" * math.max(1, 60 - name.length))
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"[audit] $name failed: $e") }
      }
    // scalastyle:on println
    spark.stop()
  }
}
