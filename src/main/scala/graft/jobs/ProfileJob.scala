package graft.jobs

import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame, Row, functions => F}

import graft.sketch.{HeavyHittersSketch, HllSketch, KllSketch}
import graft.spark.functions._

/** One-pass table profiler: per-column sketch statistics for an ARBITRARY
  * parquet table — the utility a sketch library exists to power at
  * 100 TB. For every column it computes (by type):
  *
  *  - all: row count, null count;
  *  - string/integral: HLL distinct estimate + SpaceSaving top values
  *    (strings only) — each within its published bound;
  *  - numeric: KLL quantiles (p01/p25/p50/p75/p99) and an equal-width
  *    histogram from the same sketch.
  *
  * Scale shape: ONE aggregation job over the table — every statistic is
  * a mergeable sketch aggregate, so the scan is single-pass, map-side
  * partial, and the exchange carries one row of sketch buffers
  * (O(columns x sketchBytes), independent of row count). Contrast with
  * naive profilers that run count(distinct)/percentile per column = one
  * shuffle of the full column each.
  */
object ProfileJob {

  case class ColumnProfile(
      column: String,
      dtype: String,
      nulls: Long,
      approxDistinct: Option[Long],
      quantiles: Option[Map[String, Double]],
      histogram: Option[Seq[(Double, Double, Long)]],
      topValues: Option[Seq[(String, Long)]])

  case class TableProfile(rows: Long, columns: Seq[ColumnProfile])

  private val Quantiles = Seq("p01" -> 0.01, "p25" -> 0.25, "p50" -> 0.5,
    "p75" -> 0.75, "p99" -> 0.99)
  /** SpaceSaving capacity for a string column's top 10 values */
  private val HhCapacity = 64
  private val HistBins = 10

  /** The SINGLE aggregation frame the profiler collects — exposed so
    * the plan-shape test audits the REAL plan (a test-local lookalike
    * cannot fail when this builder regresses to multiple passes). */
  private[jobs] def profileFrame(df: DataFrame): DataFrame = {
    val fields = df.schema.fields
    val aggs = Seq.newBuilder[Column]
    aggs += F.count(F.lit(1)).as("__rows")
    fields.foreach { f =>
      val c = F.col(f.name)
      aggs += F.count(F.when(c.isNull, 1)).as(s"${f.name}__nulls")
      f.dataType match {
        case StringType =>
          aggs += hll_sketch(c).as(s"${f.name}__hll")
          aggs += hh_sketch(c, HhCapacity).as(s"${f.name}__hh")
        case LongType | IntegerType | ShortType | ByteType =>
          aggs += hll_sketch(c).as(s"${f.name}__hll")
          aggs += kll_sketch(c).as(s"${f.name}__kll")
        case DoubleType | FloatType =>
          aggs += kll_sketch(c).as(s"${f.name}__kll")
        case TimestampType | DateType =>
          aggs += hll_sketch(c).as(s"${f.name}__hll")
        case _ => // nested/binary/etc: nulls + row count only
      }
    }
    val built = aggs.result()
    df.agg(built.head, built.tail: _*)
  }

  def profile(df: DataFrame): TableProfile = {
    val fields = df.schema.fields
    val row: Row = profileFrame(df).head()

    def bytesOf(name: String): Option[Array[Byte]] =
      if (row.schema.fieldNames.contains(name)) Some(row.getAs[Array[Byte]](name)) else None

    val rows = row.getAs[Long]("__rows")
    val cols = fields.map { f =>
      val hll = bytesOf(s"${f.name}__hll").map(b =>
        math.round(HllSketch.deserialize(b).estimate()))
      val kll = bytesOf(s"${f.name}__kll").map(KllSketch.deserialize)
      val hh = bytesOf(s"${f.name}__hh").map(HeavyHittersSketch.deserialize)
      ColumnProfile(
        column = f.name,
        dtype = f.dataType.simpleString,
        nulls = row.getAs[Long](s"${f.name}__nulls"),
        approxDistinct = hll,
        // gate on n > 0 like histogram: an empty/all-null column's KLL
        // yields NaN quantiles, which are not valid JSON
        quantiles = kll.filter(_.n > 0).map(sk =>
          Quantiles.map { case (n, q) => n -> sk.quantile(q) }.toMap),
        histogram = kll.filter(_.n > 0).map(_.histogram(HistBins)),
        topValues = hh.map(_.topK(10).map { case (v, cnt, _) => (v, cnt) }))
    }
    TableProfile(rows, cols.toSeq)
  }

  /** JSON string escaper, shared with the other jobs' summary writers. */
  private[jobs] def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** NaN/Infinity have no JSON literal — render as null. */
  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def toJson(p: TableProfile): String = {
    val cols = p.columns.map { c =>
      val parts = Seq.newBuilder[String]
      parts += s"${jsonStr("column")}: ${jsonStr(c.column)}"
      parts += s"${jsonStr("dtype")}: ${jsonStr(c.dtype)}"
      parts += s"${jsonStr("nulls")}: ${c.nulls}"
      c.approxDistinct.foreach(d => parts += s"${jsonStr("approx_distinct")}: $d")
      c.quantiles.foreach { qs =>
        val inner = qs.toSeq.sortBy(_._1)
          .map { case (n, v) => s"${jsonStr(n)}: ${jsonNum(v)}" }.mkString(", ")
        parts += s"${jsonStr("quantiles")}: {$inner}"
      }
      c.histogram.foreach { h =>
        val inner = h.map { case (lo, hi, cnt) =>
          s"[${jsonNum(lo)}, ${jsonNum(hi)}, $cnt]" }.mkString(", ")
        parts += s"${jsonStr("histogram")}: [$inner]"
      }
      c.topValues.foreach { tv =>
        val inner = tv.map { case (v, cnt) => s"[${jsonStr(v)}, $cnt]" }.mkString(", ")
        parts += s"${jsonStr("top_values")}: [$inner]"
      }
      "{" + parts.result().mkString(", ") + "}"
    }
    s"""{"rows": ${p.rows}, "columns": [${cols.mkString(", ")}]}"""
  }

  def main(args: Array[String]): Unit = {
    val argMap = JobSession.flags(args, "--input", "--out")
    val spark = JobSession.get("graft-profile")
    val df = spark.read.parquet(argMap("--input"))
    val json = toJson(profile(df))
    argMap.get("--out") match {
      case Some(out) =>
        val p = new org.apache.hadoop.fs.Path(out)
        val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val o = fs.create(p, true)
        try o.write(json.getBytes("UTF-8")) finally o.close()
      case None =>
        // scalastyle:off println
        println(json)
        // scalastyle:on println
    }
    spark.stop()
  }
}
