package graft.data

import java.sql.Timestamp

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession, functions => F}
import org.apache.spark.sql.types.{IntegerType, StructType}

import graft.core.ByteOps
import graft.core.hash.Murmur2Kernel

/** One conversation turn — the contractual input schema
  * (BASELINE.json `input_hint`): multi-turn conversation / agent
  * transcripts. `tool` is null except on tool turns and some assistant
  * turns; `ts` is strictly increasing within a conversation. */
case class Turn(
    conv_id: String,
    turn_idx: Int,
    role: String,
    text: String,
    tool: String,
    ts: Timestamp)

/** Deterministic, distributed transcript synthesizer (FIXTURES.md §1).
  *
  * Every field of every row is a pure function of (seed, conv ordinal,
  * turn_idx) — regenerating with the same seed is byte-identical, which
  * is the per-row invariant the driver contract requires ("per-turn text
  * equality under stable (conv_id, turn_idx) ordering"). Determinism
  * comes from counter-mode hashing (murmur2 of "conv:turn:field" keys),
  * not from a stateful PRNG, so generation parallelizes: conversations
  * fan out from `spark.range(nConvs)` and each executor derives its rows
  * independently — the generator itself would scale to 10^12 turns.
  *
  * Turn counts are Zipf-skewed (s ~ 1.2) over conversations so a few
  * conv_ids own a large share of turns — the hotspot shape that
  * exercises salting and AQE skew handling downstream.
  */
object TranscriptGen {

  val Roles: Array[String] = Array("user", "assistant", "system", "tool")
  /** cumulative weights 60/30/5/5 */
  private val RoleCum: Array[Int] = Array(60, 90, 95, 100)

  val Tools: Array[String] = Array(
    "search", "browser", "python", "bash", "calculator", "sql",
    "file_read", "file_write", "http", "translate", "ocr", "weather")

  private val Vocab: Array[String] = {
    // deterministic pseudo-words: 512 tokens of varying length
    (0 until 512).map { i =>
      val h = Murmur2Kernel.hash64(s"vocab:$i")
      val len = 2 + (Math.floorMod(h, 9L)).toInt
      val sb = new StringBuilder
      var x = h
      (0 until len).foreach { _ =>
        sb += ('a' + Math.floorMod(x, 26L).toInt).toChar
        x = ByteOps.rotateLong(x * 0x9e3779b97f4a7c13L, 13) ^ (x >>> 7)
      }
      sb.toString
    }.toArray
  }

  /** The deterministic draw: uniform long from (seed, key). */
  @inline private def draw(seed: Long, key: String): Long =
    Murmur2Kernel.hash64Seeded(ByteOps.utf8(key), seed)

  @inline private def pick(seed: Long, key: String, bound: Int): Int =
    Math.floorMod(draw(seed, key), bound.toLong).toInt

  /** Zipf-ish turn count for conversation ordinal i: conv 0 is the
    * hotspot with `hotTurns`, the tail decays as (i+1)^-1.2, floored. */
  def turnsFor(i: Long, hotTurns: Int, minTurns: Int): Int =
    math.max(minTurns, (hotTurns / math.pow((i + 1).toDouble, 1.2)).toInt)

  def convId(i: Long): String = f"conv-$i%05d"

  /** Base instant 2026-01-01T00:00:00Z, per FIXTURES.md §1 (UTC session). */
  val BaseMillis: Long = 1767225600000L

  def turn(seed: Long, convOrdinal: Long, turnIdx: Int): Turn = {
    val cid = convId(convOrdinal)
    val kPrefix = s"$cid:$turnIdx"
    val role = {
      val r = pick(seed, s"$kPrefix:role", 100)
      Roles(RoleCum.indexWhere(r < _))
    }
    val tool =
      if (role == "tool" || (role == "assistant" && pick(seed, s"$kPrefix:tc", 10) < 3)) {
        // skewed: tool t chosen with weight ~ 1/(t+1)
        val w = pick(seed, s"$kPrefix:tool", 100)
        val idx = Tools.indices.find(t => w < 100 - (100 / (t + 2))).getOrElse(Tools.length - 1)
        Tools(idx)
      } else null
    val text = {
      // tri-modal length mix so length(text) quantiles are non-trivial
      val mode = pick(seed, s"$kPrefix:mode", 10)
      val nTokens =
        if (mode < 6) 5 + pick(seed, s"$kPrefix:len", 16) // short
        else if (mode < 9) 20 + pick(seed, s"$kPrefix:len", 61) // medium
        else 80 + pick(seed, s"$kPrefix:len", 321) // long
      val sb = new StringBuilder
      var t = 0
      while (t < nTokens) {
        if (t > 0) sb += ' '
        sb ++= Vocab(pick(seed, s"$kPrefix:w$t", Vocab.length))
        t += 1
      }
      sb.toString
    }
    val ts = new Timestamp(BaseMillis + convOrdinal * 3600000L + turnIdx * 30000L)
    Turn(cid, turnIdx, role, text, tool, ts)
  }

  /** Distributed generation: one row per turn, fanned out per conversation. */
  def generate(spark: SparkSession, seed: Long, nConvs: Long,
      hotTurns: Int = 1000, minTurns: Int = 4): Dataset[Turn] = {
    import spark.implicits._
    spark.range(nConvs)
      .repartition(spark.sparkContext.defaultParallelism)
      .flatMap { i =>
        val n = turnsFor(i, hotTurns, minTurns)
        (0 until n).iterator.map(t => turn(seed, i, t))
      }
  }

  /** Total turn count for a config (driver-side arithmetic, no job). */
  def totalTurns(nConvs: Long, hotTurns: Int = 1000, minTurns: Int = 4): Long =
    (0L until nConvs).map(turnsFor(_, hotTurns, minTurns).toLong).sum
}

/** Parquet-backed transcript table partitioned by a stable hash range of
  * conv_id — the checkpoint/lineage unit for SketchBuildJob.
  *
  * `part_id = floorMod(murmur64(conv_id), nParts)` is content-derived and
  * independent of file order or cluster size, so a resume recomputes
  * exactly the missing partitions (SURVEY.md §7 step 7). Swap-in point
  * for Iceberg: replace read/write with catalog calls; the schema and
  * partition transform carry over (Iceberg jars are unavailable offline).
  */
object TranscriptTable {
  val PartCol = "part_id"

  /** The part a `key` routes to among `nParts` hash ranges:
    * `pmod(murmur64(key), nParts)`. Writing a table and probing a bank
    * built from it must route by this one expression. */
  def route(key: Column, nParts: Int): Column =
    F.pmod(graft.spark.functions.murmur64(key), F.lit(nParts.toLong)).cast("int")

  def partIdCol(nParts: Int): Column = route(F.col("conv_id"), nParts)

  def write(turns: Dataset[Turn], path: String, nParts: Int): Unit = {
    turns.withColumn(PartCol, partIdCol(nParts))
      .repartition(F.col(PartCol))
      .sortWithinPartitions("conv_id", "turn_idx")
      .write.mode("overwrite")
      .partitionBy(PartCol)
      .parquet(path)
    // record the WRITER's routing modulus alongside the data: consumers
    // (SketchBuildJob's bank log, probeBank's part routing) must use
    // exactly this nParts — inferring max(part_id)+1 from observed data
    // undercounts whenever the highest hash range happens to be empty,
    // which silently misroutes every probe of the resulting bank
    val conf = turns.sparkSession.sparkContext.hadoopConfiguration
    val metaPath = new org.apache.hadoop.fs.Path(path, MetaFile)
    val fs = metaPath.getFileSystem(conf)
    val out = fs.create(metaPath, true)
    try out.write(s"""{"n_parts":$nParts}""".getBytes("UTF-8"))
    finally out.close()
  }

  private val MetaFile = "_graft_meta.json"

  /** The routing modulus recorded by [[write]]; None for tables written
    * by other tools (callers fall back to data inference, loudly).
    *
    * `path` is resolved the way Spark's reader resolves it — as a glob —
    * so a glob-escaped path (`in\\b` for the directory `in\b`) finds the
    * metadata of the table it reads. A glob over several tables yields
    * their modulus only when every one recorded the same. */
  def readNParts(spark: SparkSession, path: String): Option[Int] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val glob = new org.apache.hadoop.fs.Path(path)
    val fs = glob.getFileSystem(conf)
    val recorded = Option(fs.globStatus(glob)).toSeq.flatten.map { dir =>
      val metaPath = new org.apache.hadoop.fs.Path(dir.getPath, MetaFile)
      if (!fs.exists(metaPath)) None
      else {
        val in = fs.open(metaPath)
        val n = try new ObjectMapper().readTree(in).get("n_parts") finally in.close()
        Option(n).filter(_.isInt).map(_.intValue)
      }
    }
    recorded.distinct match {
      case Seq(n @ Some(_)) => n
      case _ => None
    }
  }

  /** The table at `path`. A table [[write]] produced (it recorded its
    * modulus) is read with the schema [[write]] fixed, so no Spark job
    * reads a parquet footer to infer it; tables from other writers keep
    * schema inference. */
  def read(spark: SparkSession, path: String): DataFrame =
    read(spark, path, readNParts(spark, path))

  /** [[read]] for a caller that already holds `readNParts(spark, path)`. */
  def read(spark: SparkSession, path: String, nParts: Option[Int]): DataFrame =
    if (nParts.isDefined) spark.read.schema(WrittenSchema).parquet(path)
    else spark.read.parquet(path)

  /** What [[write]] stores, as Spark reads it back: `Turn`'s fields, then
    * the part directory column. */
  private lazy val WrittenSchema: StructType =
    Encoders.product[Turn].schema.add(PartCol, IntegerType)
}
