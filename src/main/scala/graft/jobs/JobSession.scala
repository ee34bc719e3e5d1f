package graft.jobs

import org.apache.spark.sql.SparkSession

/** Session bootstrap for the job and bench mains. */
object JobSession {

  /** The job mains' session: under spark-submit the master comes from the
    * submit config; standalone (sbt run / tests) it is [[local]] with
    * SPARK_GRAFT_CPUS threads. */
  def get(name: String): SparkSession =
    if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")) {
      val spark = SparkSession.builder().appName(name)
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    } else local(name, sys.env.get("SPARK_GRAFT_CPUS")
      .fold(Runtime.getRuntime.availableProcessors())(_.toInt))

  /** A `local[cores]` session in UTC with `cores` shuffle partitions and
    * the UI off, plus each main's `extras` and log level. */
  def local(name: String, cores: Int, logLevel: String = "WARN",
      extras: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder().appName(name).master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extras.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
