package graft.bench

import graft.SparkEntry
import graft.jobs.JobSession

/** Time ONE driver query repeatedly — the profiling companion to Bench
  * (which times the whole suite once): steady-state numbers for a single
  * query, a stable target for jstack sampling.
  *
  * Usage: `sbt "runMain graft.bench.QueryTime <query> [sfDir] [iters]"`.
  */
object QueryTime {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 5
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = JobSession.local(s"graft-query-time-$name", cpus,
      extras = Seq("spark.sql.adaptive.enabled" -> "true"))
    val fn = SparkEntry.queries(name)
    // scalastyle:off println
    (1 to iters).foreach { i =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"[querytime] $name iter=$i rows=$n sec=${(System.nanoTime() - t0) / 1e9}%.3f")
    }
    // scalastyle:on println
    spark.stop()
  }
}
