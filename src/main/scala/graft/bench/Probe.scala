package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.jobs.JobSession

/** One probe over the driver keys (`SparkEntry.queries`), in two modes.
  *
  * `Probe plan --dir D --keys a,b|all [--out DIR --suffix S]` writes each
  * key's `explain("formatted")` plan (pushed filters, read schemas, join
  * strategies, exchanges, codegen spans) to stdout, or to
  * `DIR/<key>_<S>.txt`. Building a key's DataFrame can run build-time work
  * (IVF training, CC iterations): that is the key's real construction
  * path, and the plan written is the plan the bench executes. A key that
  * fails to plan is reported on stderr, the others still run, and the
  * main exits 1.
  *
  * `Probe time --dir D --keys a,b|all [--passes N] [--json OUT] [--cores C]`
  * runs each key N >= 2 times (default 2) and prints one JSON line per key,
  * appended to OUT when given: `query`, `dir`, `cores`, `rows`, and the
  * [[Collector]] metrics of the first pass (`cold`, including any
  * memoized index build) and of the last (`warm`). Run each corpus in its
  * own JVM (bench/scale_evidence.sh), so JIT and heap state cannot leak
  * between levels.
  *
  * Both modes run in the bench [[session]]: `--cores`, else
  * `SPARK_GRAFT_CPUS`, else the machine's core count.
  */
object Probe {

  /** The named driver keys, or all of them in name order; an unknown key
    * fails, naming it. */
  def keys(spec: String): Seq[String] =
    if (spec == "all") SparkEntry.queries.keys.toSeq.sorted
    else spec.split(',').toSeq.map { key =>
      require(SparkEntry.queries.contains(key), s"unknown driver key: $key")
      key
    }

  /** Writes each key's formatted plan to `out` (directory, suffix), or to
    * stdout; returns the keys that failed to plan. */
  def plan(spark: SparkSession, dir: String, keys: Seq[String],
      out: Option[(Path, String)]): Seq[String] = {
    out.foreach(o => Files.createDirectories(o._1))
    def planned(key: String): Boolean =
      try {
        val text = SparkEntry.queries(key)(spark, dir).queryExecution
          .explainString(ExplainMode.fromString("formatted"))
        out match {
          case Some((outDir, suffix)) => Files.write(outDir.resolve(s"${key}_$suffix.txt"),
            text.getBytes(StandardCharsets.UTF_8))
          // scalastyle:off println
          case None => println(s"\n==== $key " + "=" * math.max(1, 60 - key.length) + "\n" + text)
          // scalastyle:on println
        }
        true
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[probe] $key failed to plan: $e")
          false
      }
    keys.filterNot(planned)
  }

  /** Times each key over `passes` runs with one [[Collector]] and emits
    * its JSON line. */
  def time(spark: SparkSession, dir: String, keys: Seq[String], passes: Int,
      json: Option[String]): Unit = {
    require(passes >= 2, s"--passes must be at least 2, got $passes")
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    try keys.foreach { key =>
      val fn = SparkEntry.queries(key)
      val runs = (1 to passes).map(_ => collector.pass(fn(spark, dir).count()))
      emit(s"""{"query":"$key","dir":"$dir","cores":${spark.sparkContext.defaultParallelism},""" +
        s""""rows":${runs.head._1},"cold":${runs.head._2},"warm":${runs.last._2}}""", json)
    } finally spark.sparkContext.removeSparkListener(collector)
  }

  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val flags = mode match {
      case "plan" => JobSession.flags(args.tail, "--dir", "--keys", "--out", "--suffix")
      case "time" => JobSession.flags(args.tail, "--dir", "--keys", "--passes", "--json", "--cores")
      case other => throw new IllegalArgumentException(s"mode must be plan or time, got '$other'")
    }
    val names = keys(flags("--keys"))
    val spark = session(s"graft-probe-$mode", flags.get("--cores").map(_.toInt))
    val failed =
      try {
        if (mode == "plan") plan(spark, flags("--dir"), names,
          flags.get("--out").map(o => Paths.get(o) -> flags("--suffix")))
        else {
          time(spark, flags("--dir"), names, flags.get("--passes").fold(2)(_.toInt),
            flags.get("--json"))
          Nil
        }
      } finally spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
