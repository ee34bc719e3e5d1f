package graft.jobs

import org.apache.spark.sql.SparkSession

/** Session bootstrap and flag parsing for the job and bench mains. */
object JobSession {

  /** `--flag value` pairs as a map. Fails, naming the flag, on a flag the
    * main does not list in `known` and on a flag with no value (at the end,
    * or followed by another flag), so a dropped or misspelt flag never
    * runs a different job silently. */
  def flags(args: Array[String], known: String*): Map[String, String] = {
    def value(i: Int): String = {
      require(known.contains(args(i)),
        s"unknown flag ${args(i)}; expected one of ${known.mkString(", ")}")
      require(i + 1 < args.length && !args(i + 1).startsWith("--"),
        s"flag ${args(i)} has no value")
      args(i + 1)
    }
    args.indices.by(2).map(i => args(i) -> value(i)).toMap
  }

  /** The job mains' session: under spark-submit the master comes from the
    * submit config; standalone (sbt run / tests) it is [[local]] with
    * [[defaultCores]] threads. */
  def get(name: String): SparkSession =
    if (sys.props.contains("spark.master") || sys.env.contains("SPARK_MASTER")) {
      val spark = SparkSession.builder().appName(name)
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    } else local(name, defaultCores)

  /** `SPARK_GRAFT_CPUS`, else the machine's core count. */
  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(Runtime.getRuntime.availableProcessors())(_.toInt)

  /** A `local[cores]` session in UTC with `cores` shuffle partitions, the
    * UI off and log level WARN, plus each main's `extras`. */
  def local(name: String, cores: Int, extras: Seq[(String, String)] = Nil): SparkSession = {
    val base = SparkSession.builder().appName(name).master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val spark = extras.foldLeft(base) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
