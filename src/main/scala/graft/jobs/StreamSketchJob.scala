package graft.jobs

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.streaming.{OutputMode, Trigger}

import graft.spark.functions._

/** Streaming twin of SketchBuildJob: per-window, per-role sketch rollups
  * over a transcript stream via Structured Streaming. The same mergeable
  * buffers power both engines — the state store persists serialized
  * sketches between micro-batches, and watermarking bounds state exactly
  * as windowed built-in aggregates do.
  *
  * Usage: --input <parquet dir (file-source stream)> --out <sink dir>
  *        [--checkpoint <dir>] [--window 1 hour] [--watermark 2 hours]
  *        [--once true]
  */
object StreamSketchJob {
  def main(args: Array[String]): Unit = {
    val argMap = JobSession.flags(args,
      "--input", "--out", "--checkpoint", "--window", "--watermark", "--once")
    val spark = JobSession.get("graft-stream-sketch")
    val input = argMap("--input")
    val out = argMap("--out")
    val checkpoint = argMap.getOrElse("--checkpoint", s"$out/_checkpoint")
    val window = argMap.getOrElse("--window", "1 hour")
    val watermark = argMap.getOrElse("--watermark", "2 hours")

    val schema = spark.read.parquet(input).schema
    val stream = spark.readStream.schema(schema).parquet(input)

    val agg = stream
      .withWatermark("ts", watermark)
      .groupBy(F.window(F.col("ts"), window), F.col("role"))
      .agg(
        F.count(F.lit(1)).as("turns"),
        hll_sketch(F.col("conv_id")).as("hll_conv"),
        kll_sketch(F.length(F.col("text"))).as("kll_textlen"))
      .select(F.col("window.start").as("w_start"), F.col("role"),
        F.col("turns"), F.col("hll_conv"), F.col("kll_textlen"))

    val q = agg.writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", s"$out/windows")
      .option("checkpointLocation", checkpoint)
      .trigger(
        if (argMap.get("--once").exists(_.toBoolean)) Trigger.AvailableNow()
        else Trigger.ProcessingTime("30 seconds"))
      .start()
    q.awaitTermination()
    spark.stop()
  }
}
