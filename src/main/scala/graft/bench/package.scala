package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.SparkSession

import graft.jobs.JobSession

/** What the bench mains share: their session, their number format and
  * their output. */
package object bench {

  /** A [[JobSession.local]] session on `cores` threads, else
    * [[JobSession.defaultCores]], with input splits of `GRAFT_SPLIT_BYTES`
    * (default 16m): part-aligned files alone give only cores/128 waves,
    * and the Zipf-skewed tail left about 35% of the threads idle at the
    * end of the scan stage (measured by stack sampling). */
  def session(name: String, cores: Option[Int]): SparkSession = {
    val n = cores.getOrElse(JobSession.defaultCores)
    JobSession.local(s"$name-$n", n, extras = Seq(
      "spark.sql.files.maxPartitionBytes" -> sys.env.getOrElse("GRAFT_SPLIT_BYTES", "16m")))
  }

  /** Locale-independent number formatting: a comma-decimal default
    * locale would write invalid JSON. */
  def jfmt(v: Double, p: String): String =
    String.format(java.util.Locale.ROOT, p, Double.box(v))

  /** Appends `text` to the file at `path`, creating it when absent. */
  def append(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)

  /** Prints a JSON record and appends it as one line to `json` when given. */
  def emit(line: String, json: Option[String]): Unit = {
    // scalastyle:off println
    println(line)
    // scalastyle:on println
    json.foreach(append(_, line + "\n"))
  }
}
