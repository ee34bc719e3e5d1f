package graft.jobs

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

import graft.spark.SparkTestBase

/** `DumpJob.dump` on text the synthetic corpus never produces: tabs,
  * newlines, quotes, backslashes and leading or trailing whitespace
  * round-trip through Spark's CSV reader, and the file tells empty text
  * from null. */
class DumpJobSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val workDir = Files.createTempDirectory("graft-dump")

  private val texts = Seq(
    "plain",
    "a\ttab",
    "two\nlines",
    "crlf\r\nline",
    "say \"hi\"",
    "back\\slash",
    "\\\"escaped quote\\\"",
    "ends with backslash\\",
    "\"",
    "\t\n\"\\ all four",
    " padded ",
    "\ttab first and newline last\n")

  /** the lines `dump` wrote under `dir`, its part files in name order */
  private def dumpedLines(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .flatMap(f => Files.readAllLines(f).asScala)

  test("text with tabs, newlines, quotes, backslashes and edge spaces round-trips") {
    val df = texts.zipWithIndex.map { case (t, i) => ("conv-1", i, t) }
      .toDF("conv_id", "turn_idx", "text")
    val out = workDir.resolve("special")
    DumpJob.dump(df, out.toString)
    val schema = StructType(Seq(StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType), StructField("text", StringType)))
    val back = spark.read.schema(schema).option("sep", "\t").option("multiLine", "true")
      .csv(out.toString).orderBy("turn_idx").collect()
    assert(back.map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSeq ===
      texts.zipWithIndex.map { case (t, i) => ("conv-1", i, t) })
  }

  test("empty text and null text are written differently") {
    val df = Seq(("conv-1", 0, ""), ("conv-1", 1, null), ("conv-1", 2, "x"))
      .toDF("conv_id", "turn_idx", "text")
    val out = workDir.resolve("empty")
    DumpJob.dump(df, out.toString)
    // Spark's reader maps both back to null, so the raw lines are the pin
    assert(dumpedLines(out) === Seq("conv-1\t0\t\"\"", "conv-1\t1\t", "conv-1\t2\tx"))
  }
}
