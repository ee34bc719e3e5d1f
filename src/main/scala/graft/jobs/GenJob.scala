package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.data.{TranscriptGen, TranscriptTable}

/** Transcript corpus synthesis CLI: deterministic, distributed, written
  * as the hash-range-partitioned table SketchBuildJob consumes. The same
  * (seed, convs, hot) config always produces a byte-identical table, so
  * bench runs at different parallelism levels share one input. */
object GenJob {
  def main(args: Array[String]): Unit = {
    val argMap = JobSession.flags(args, "--out", "--convs", "--parts", "--seed", "--hot", "--min")
    val spark = JobSession.get("graft-gen")
    val turns = TranscriptGen.generate(
      spark,
      seed = argMap.getOrElse("--seed", "42").toLong,
      nConvs = argMap.getOrElse("--convs", "1000").toLong,
      hotTurns = argMap.getOrElse("--hot", "1000").toInt,
      minTurns = argMap.getOrElse("--min", "4").toInt)
    TranscriptTable.write(turns, argMap("--out"),
      argMap.getOrElse("--parts", "32").toInt)
    spark.stop()
  }
}
