package graft.jobs

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession, functions => F}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.{BinaryType, IntegerType, LongType, StructField, StructType}

import graft.data.TranscriptTable
import graft.sketch.{BloomSketch, CmsSketch, HllSketch, KllSketch}
import graft.spark.SketchDefaults
import graft.spark.functions._

/** The engine's flagship batch job (the `mkblm`/`mkhf` analog at cluster
  * scale, SURVEY.md §7 step 7): build mergeable sketches over a transcript
  * table, checkpointing per-partition state so a killed run resumes
  * without recomputation.
  *
  * Scale design (targets 10^12 turns / 1000 executors; exercised here at
  * local scale):
  *  - the unit of work and of lineage is `part_id = murmur64(conv_id) mod
  *    nParts` — content-derived, so the partition -> input mapping is
  *    stable across cluster sizes and file orders (required for resume
  *    correctness);
  *  - each run writes its pending parts' sketch rows (the input scan
  *    pruned to those parts) into a fresh `parts/<version>-<uuid>/` with a
  *    plain write (one file per write task, holding all of its parts),
  *    then commits them as ONE log entry `_log/<version>.json`,
  *    created only if absent: the routing modulus, and per part its run
  *    directory, counts and Bloom health. Resume, rollup and
  *    `ProbeJob.probeBank` replay the log and scan only the directories it
  *    names, so a crashed run's files are never read and no reader lists
  *    `parts/`. Log IO uses the Hadoop FileSystem API: `out` may be any DFS;
  *  - sketch aggregation is map-side partial: each input split collapses
  *    to one sketch buffer before the shuffle, so the exchange moves
  *    O(parts * sketchBytes), independent of row count;
  *  - the final global merge sees only the per-part sketch rows (tiny)
  *    and unions HLL, CMS and heavy hitters with the `*_merge` aggregates,
  *    whose merges are order-independent. KLL's merge is not (its
  *    compactions and level layout follow the merge order), so the rollup
  *    collects the per-part KLL buffers and the driver folds them in
  *    ascending `part_id`: nParts buffers on the driver (about 3 KB each
  *    at k=200, 20 MB at 4,096 parts), independent of row count, and the
  *    same bytes whichever run or file a part was written in.
  *
  * Job shape: every Spark action costs driver time (planning, adaptive
  * re-planning, schema merges) whatever its size, so the build asks Spark
  * only for what the driver cannot already see. Part ids come from the
  * input's file index, listed once on the driver. The rollup is not a
  * query of its own: it is an observation (`Dataset.observe`) on the
  * run's one action, the part write, over this run's part rows unioned
  * with the committed runs'. Its aggregates return the merged sketches,
  * the per-part KLL buffers, the log facts of this run's parts and the
  * ids of stale parts together, and the driver receives them as one
  * merged buffer set per write task (about 0.66 MB each with a dense
  * 5 x 2^14 CMS; in total what a keyless aggregate's single final task
  * would receive). The build never reads its own parts back. Both tables
  * it reads were written by this library, so their schemas are known
  * (`TranscriptTable.read`, [[PartSchema]]) and no job infers one. A
  * fresh build of a table `TranscriptTable.write` produced therefore
  * runs at most two jobs — the per-part aggregate and its observed
  * write — as does a resume with parts pending; a resume with nothing
  * pending runs one, a `noop` write over the committed runs.
  */
object SketchBuildJob {

  case class Config(
      input: String,
      out: String,
      /** PER-PART Bloom capacity — the bank design: each part's filter is
        * sized for its own conv population and probed by routing on
        * part_id, never OR-merged into one global-capacity filter (at
        * 10^12 rows a global filter is petabytes; a bank is O(distinct/
        * parts) per unit and the router is a hash). */
      bloomPerPartCapacity: Long = 1 << 16,
      bloomBpi: Int = 16,
      /** cap on parts processed in one run (incremental operation /
        * kill-resume testing); None = all pending */
      maxPartsPerRun: Option[Int] = None) {
    require(maxPartsPerRun.forall(_ >= 1),
      s"maxPartsPerRun must be at least 1, got ${maxPartsPerRun.get}")

    /** The HLL precision and KLL size every build uses, for error bounds. */
    def hllP: Int = SketchDefaults.HllP
    def kllK: Int = SketchDefaults.KllK
  }

  /** SpaceSaving capacity of the per-part top tools: the tool vocabulary
    * is small, so 64 slots keep the counts exact at a quarter of the
    * library default's buffer. */
  private val HhToolCapacity = 64

  case class PartMetrics(partId: Int, rows: Long, estConvs: Long)

  case class BuildResult(
      processedParts: Seq[PartMetrics],
      skippedParts: Seq[Int],
      totalRows: Long,
      estDistinctConvs: Long,
      estDistinctTools: Long,
      textLenP50: Double,
      textLenP99: Double,
      topTools: Seq[(String, Long)])

  /** Version of the per-part parquet schema and layout; recorded in every
    * log entry so a reader can tell which library wrote a bank. Bump
    * whenever a sketch column is added/removed/re-encoded. Version 3:
    * run directories committed through `_log/`, `part_id` a data column. */
  final val PartSchemaVersion = 3

  /** The per-part parquet schema at [[PartSchemaVersion]]: the
    * aggregate's columns, then `part_id`. Parts are written in this
    * column order, and readers pass it to `spark.read.schema`, so no
    * Spark job reads a footer to infer it; a part file that lacks a
    * column reads it as null. Change it together with the version. */
  val PartSchema: StructType = StructType(
    StructField("rows", LongType) +:
      Seq("hll_conv", "hll_tool", "cms_roletool", "kll_textlen", "hh_tool", "bloom_conv")
        .map(StructField(_, BinaryType)) :+
      StructField(TranscriptTable.PartCol, IntegerType))

  private def logDir(out: String): HPath = new HPath(out, "_log")
  private def partsDir(out: String): String = s"$out/parts"
  private def finalDir(out: String): HPath = new HPath(out, "final")

  /** One committed part as its log entry records it: its run directory,
    * `bloom_load`, and the `bloom_capacity` and `bloom_bpi` its filter was
    * built with. */
  case class LoggedPart(dir: String, bloomLoad: Double, bloomCapacity: Long, bloomBpi: Int)

  /** A bank's `_log/` replayed: the routing modulus (None until a run commits),
    * each committed part as logged, and the next commit's version. Readers
    * scan exactly [[runDirs]], the committed runs' directories. */
  case class BankLog(nParts: Option[Int], parts: Map[Int, LoggedPart], nextVersion: Long) {
    def bloomLoads: Map[Int, Double] = parts.map { case (id, p) => id -> p.bloomLoad }
    def runDirs: Seq[String] = parts.values.map(_.dir).toSeq.distinct.sorted

    /** Bytes of the committed parts' `bloom_conv` filters, from the
      * geometry the log records: the logged capacity and bits per item
      * fix each filter's serialized length. */
    def bloomBytes: Long =
      parts.values.map(p => BloomSketch.serializedSize(p.bloomCapacity, p.bloomBpi)).sum
  }

  /** The one stderr warning, for the build and `ProbeJob.probeBank` alike,
    * naming the parts whose Bloom filter holds more conversations than its
    * capacity (`bloom_load` above 1). */
  private[jobs] def warnOverloaded(who: String, out: String, bloomLoads: Map[Int, Double]): Unit = {
    val overloaded = bloomLoads.collect { case (id, load) if load > 1 => id }.toSeq.sorted
    // scalastyle:off println
    if (overloaded.nonEmpty) System.err.println(
      s"WARN $who: the Bloom filters of parts ${overloaded.mkString(", ")} at $out hold " +
        "more conversations than their capacity (bloom_load above 1 in the log): their " +
        "probes pass more non-members than designed")
    // scalastyle:on println
  }

  private val Json = new ObjectMapper()
  private val EntryName = """(\d{10})\.json""".r
  private def entryPath(out: String, version: Long): HPath =
    new HPath(logDir(out), f"$version%010d.json")

  /** Replays the log of the bank at `out` in version order. A part
    * committed twice, and a bank in the older `_manifest/` layout, fail
    * loudly. */
  def replay(out: String, conf: Configuration = new Configuration()): BankLog = {
    val dir = logDir(out)
    val fs = dir.getFileSystem(conf)
    val names =
      if (fs.exists(dir)) fs.listStatus(dir).toSeq.map(_.getPath.getName)
      else if (fs.exists(new HPath(out, "_manifest/config.json")))
        throw new IllegalStateException(s"$out holds a sketch bank in the older " +
          "_manifest/ layout, which this version does not read; delete it and rebuild the bank")
      else Nil
    names.collect { case EntryName(v) => v.toLong }.sorted
      .foldLeft(BankLog(None, Map.empty, 0L)) { (log, v) =>
        val in = fs.open(entryPath(out, v))
        val entry = try Json.readTree(in) finally in.close()
        val parts = entry.required("parts").elements().asScala.foldLeft(log.parts) { (parts, p) =>
          val id = p.required("part_id").asInt()
          if (parts.contains(id)) throw new IllegalStateException(
            s"part $id is committed twice at $dir (again in entry $v)")
          parts.updated(id, LoggedPart(p.required("dir").asText(),
            p.required("bloom_load").asDouble(), p.required("bloom_capacity").asLong(),
            p.required("bloom_bpi").asInt()))
        }
        BankLog(Some(entry.required("n_parts").asInt()), parts, v + 1)
      }
  }

  /** Writes log entry `version` of the bank at `out`; fails if it exists (`create`
    * without overwrite, atomic on HDFS: one writer per `out`). */
  private[jobs] def commit(out: String, version: Long, entry: JsonNode,
      conf: Configuration): Unit = {
    val p = entryPath(out, version)
    val o = p.getFileSystem(conf).create(p, false)
    try o.write(Json.writeValueAsBytes(entry)) finally o.close()
  }

  /** The per-part sketch aggregation — one row per part_id, in [[PartSchema]] order. */
  private def partAggregates(df: DataFrame, c: Config): DataFrame = {
    val roleTool = F.concat_ws("|", F.col("role"), F.coalesce(F.col("tool"), F.lit("-")))
    df.groupBy(F.col(TranscriptTable.PartCol))
      .agg(
        F.count(F.lit(1)).as("rows"),
        hll_sketch(F.col("conv_id"), c.hllP).as("hll_conv"),
        hll_sketch(F.col("tool"), c.hllP).as("hll_tool"),
        cms_sketch(roleTool).as("cms_roletool"),
        kll_sketch(F.length(F.col("text")), c.kllK).as("kll_textlen"),
        // SpaceSaving top tools: exact whenever capacity covers the tool
        // vocabulary (the common case), bounded-error otherwise
        hh_sketch(F.col("tool"), HhToolCapacity).as("hh_tool"),
        bloom_sketch(F.col("conv_id"), c.bloomPerPartCapacity, c.bloomBpi).as("bloom_conv"))
      .select(PartSchema.fieldNames.map(F.col): _*)
  }

  /** Part ids that hold data, read from the file index that
    * [[TranscriptTable.read]] already listed on the driver: no Spark job.
    * A part counts when its directory holds a non-empty file. A table
    * whose `part_id` is a data column rather than a directory partition
    * (a foreign writer) falls back to a distinct scan. */
  private def partIds(df: DataFrame): Seq[Int] = {
    val fromIndex = df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.flatMap { index =>
      val schema = index.partitionSchema
      Some(schema.fieldNames.indexOf(TranscriptTable.PartCol))
        .filter(i => i >= 0 && schema(i).dataType == IntegerType)
        .map { i =>
          index.listFiles(Nil, Nil)
            .filter(d => !d.values.isNullAt(i) && d.files.exists(_.getLen > 0))
            .map(_.values.getInt(i))
        }
    }
    fromIndex
      .getOrElse(df.select(TranscriptTable.PartCol).distinct().collect().map(_.getInt(0)).toSeq)
      .distinct.sorted
  }

  def run(spark: SparkSession, c: Config): BuildResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val recorded = TranscriptTable.readNParts(spark, c.input)
    val df = TranscriptTable.read(spark, c.input, recorded)

    val noRows = s"SketchBuildJob: input table at ${c.input} has no rows — nothing to build"
    val allParts = partIds(df)
    require(allParts.nonEmpty, noRows)
    // route by the WRITER's modulus from the table's own metadata.
    // Inferring max(part_id)+1 from observed data is WRONG whenever the
    // highest hash range is empty (probeBank would route with modulus
    // N-1 against a bank built at N: false negatives from a structure
    // that promises none); the data-derived fallback exists only for
    // foreign tables and warns.
    val nParts = recorded.getOrElse {
      val inferred = allParts.max + 1
      // scalastyle:off println
      System.err.println(
        s"WARN SketchBuildJob: no _graft_meta.json at ${c.input}; " +
          s"inferring n_parts=$inferred from data — misroutes probes if the top hash range is empty")
      // scalastyle:on println
      inferred
    }
    val bank = replay(c.out, conf)
    require(bank.nParts.forall(_ == nParts), s"the bank at ${c.out} routes by " +
      s"n_parts=${bank.nParts.get}, not ${c.input}'s $nParts; build into a new directory")
    val done = bank.parts.keySet
    val pendingAll = allParts.filterNot(done)
    val pending = c.maxPartsPerRun.fold(pendingAll)(pendingAll.take)

    // one file per write task, however many parts it holds: the rollup
    // does not depend on which file a part landed in
    val runDir = f"${partsDir(c.out)}/${bank.nextVersion}%010d-${java.util.UUID.randomUUID()}"
    val part = F.col(TranscriptTable.PartCol)

    // The rollup rides this run's one action as an observation: over
    // this run's part rows and the committed runs' (read with the known
    // schema, O(parts) rows, not O(rows)) it returns the merged
    // sketches, the per-part KLL buffers, the pending parts' log facts
    // and the ids of stale parts, with no second query over the parts.
    // Stale: a column a part file lacks reads as null, and the
    // SketchMerge aggregates skip nulls, which would roll up stats that
    // cover only the newer parts; such parts fail loudly below.
    val required = PartSchema.fieldNames.filterNot(_ == TranscriptTable.PartCol)
    val rollup = Observation(s"rollup-${java.util.UUID.randomUUID()}")
    val inRun = part.isin(pending: _*)
    val thisRun = Option.when(pending.nonEmpty)(partAggregates(df.filter(inRun), c))
    val committed = Option.when(bank.runDirs.nonEmpty)(
      spark.read.schema(PartSchema).parquet(bank.runDirs: _*))
    // never both empty: with nothing pending, every part is committed
    val observed = (thisRun ++ committed).reduce(_ union _).observe(rollup,
      F.sum(F.col("rows")).as("rows"),
      hll_merge(F.col("hll_conv")).as("hll_conv"),
      hll_merge(F.col("hll_tool")).as("hll_tool"),
      cms_merge(F.col("cms_roletool")).as("cms_roletool"),
      // KLL's merge is order-sensitive, so the driver folds the parts'
      // buffers in part_id order below
      F.collect_list(F.struct(part, F.col("kll_textlen"))).as("kll_parts"),
      hh_merge(F.col("hh_tool")).as("hh_tool"),
      // collect_list skips the nulls an unmatched `when` yields
      F.collect_list(F.when(inRun,
        F.struct(part, F.col("rows"), hll_estimate(F.col("hll_conv"))))).as("pending"),
      F.collect_list(F.when(required.map(F.col(_).isNull).reduce(_ || _), part)).as("stale"))
    // Never put a foldable filter above the observation: PruneFilters
    // would swap a Filter(false) and its subtree for an empty relation,
    // nothing would be observed, and `rollup.get` would wait forever.
    // So with nothing pending the action is the noop sink, unfiltered;
    // otherwise the filter keeps this run's rows and drops the committed
    // runs', so their write tasks open no file. A failed write throws
    // here, before the driver waits on the observation.
    if (pending.nonEmpty) observed.filter(inRun).write.parquet(runDir)
    else observed.write.format("noop").mode("overwrite").save()
    // one merged buffer set per write task reaches the driver (about
    // 0.66 MB each with a dense 5 x 2^14 CMS): in total what the single
    // final task of a keyless aggregate over the same rows would receive
    val finalRow = rollup.get
    def field[T](name: String): T = finalRow(name).asInstanceOf[T]

    // commit this run's parts before the stale check, so a failed
    // rollup never recomputes finished parts
    val processed: Seq[PartMetrics] =
      field[collection.Seq[Row]]("pending").toSeq.sortBy(_.getInt(0))
        .map(r => PartMetrics(r.getInt(0), r.getLong(1), r.getLong(2)))
    if (processed.nonEmpty) {
      // Bloom health: load n / capacity and the standard false-positive
      // estimate (1 - e^(-k n / m))^k, n the part's estimated convs
      val geometry = BloomSketch(c.bloomPerPartCapacity, c.bloomBpi)
      val bits = geometry.bitSetLength.toDouble * BloomSketch.NumBitSets
      val entry = Json.createObjectNode().put("n_parts", nParts)
        .put("schema_version", PartSchemaVersion).put("input", c.input)
      val loads = processed.map(m => m.partId -> m.estConvs.toDouble / c.bloomPerPartCapacity).toMap
      val parts = entry.putArray("parts")
      processed.foreach { m =>
        parts.addObject().put("part_id", m.partId).put("dir", runDir)
          .put("rows", m.rows).put("est_convs", m.estConvs)
          .put("bloom_capacity", c.bloomPerPartCapacity).put("bloom_bpi", c.bloomBpi)
          .put("bloom_load", loads(m.partId))
          .put("bloom_est_fpr",
            math.pow(1 - math.exp(-geometry.k * m.estConvs / bits), geometry.k))
      }
      commit(c.out, bank.nextVersion, entry, conf)
      warnOverloaded("SketchBuildJob", c.out, loads)
    }
    val staleParts = field[collection.Seq[Int]]("stale").sorted
    require(staleParts.isEmpty,
      s"parts ${staleParts.mkString(", ")} at ${partsDir(c.out)} have null " +
        "sketch columns (built by an older version); rebuild the bank into a " +
        "new directory, or roll up with the old library")
    require(finalRow("rows") != null, noRows)

    // kll_merge's fold (adopt the first buffer, merge the rest) in
    // ascending part_id: fresh, resumed and crash-recovered builds give
    // the same bytes whatever files their parts sit in
    val kll = field[collection.Seq[Row]]("kll_parts").sortBy(_.getInt(0))
      .map(r => KllSketch.deserialize(r.getAs[Array[Byte]](1))).reduceLeft(_.merge(_))
    val totalRows = field[Long]("rows")
    val hllConv = HllSketch.deserialize(field[Array[Byte]]("hll_conv"))
    val hllTool = HllSketch.deserialize(field[Array[Byte]]("hll_tool"))
    val hhTool = graft.sketch.HeavyHittersSketch.deserialize(
      field[Array[Byte]]("hh_tool"))

    val ffs = finalDir(c.out).getFileSystem(conf)
    ffs.mkdirs(finalDir(c.out))
    def dump(name: String, bytes: Array[Byte]): Unit = {
      val o = ffs.create(new HPath(finalDir(c.out), name), true)
      try o.write(bytes) finally o.close()
    }
    dump("hll_conv.bin", field[Array[Byte]]("hll_conv"))
    dump("hll_tool.bin", field[Array[Byte]]("hll_tool"))
    dump("cms_roletool.bin", field[Array[Byte]]("cms_roletool"))
    dump("kll_textlen.bin", kll.serialize())
    dump("hh_tool.bin", field[Array[Byte]]("hh_tool"))
    // the Bloom bank stays in parts/ (one filter per part, routed probes
    // via ProbeJob.probeBank) — deliberately NOT OR-merged

    val result = BuildResult(
      processedParts = processed,
      skippedParts = done.toSeq.sorted,
      totalRows = totalRows,
      estDistinctConvs = math.round(hllConv.estimate()),
      estDistinctTools = math.round(hllTool.estimate()),
      textLenP50 = kll.quantile(0.5),
      textLenP99 = kll.quantile(0.99),
      topTools = hhTool.topK(10).map { case (t, cnt, _) => (t, cnt) })

    val topToolsJson = result.topTools
      .map { case (t, cnt) => s"[${ProfileJob.jsonStr(t)},$cnt]" }
      .mkString("[", ",", "]")
    val summary =
      s"""{"rows":$totalRows,"est_distinct_convs":${result.estDistinctConvs},
         |"est_distinct_tools":${result.estDistinctTools},
         |"textlen_p50":${result.textLenP50},"textlen_p99":${result.textLenP99},
         |"top_tools":$topToolsJson,
         |"parts_done":${done.size + processed.size},"parts_this_run":${processed.size}}"""
        .stripMargin.replace("\n", "")
    dump("summary.json", summary.getBytes("UTF-8"))
    result
  }

  /** Per-conversation quantiles with explicit two-level salting: level 1
    * groups by (conv_id, salt) — splitting the Zipf hotspot conversation
    * across `saltBuckets` reducers — level 2 unions the partial sketches
    * per conv_id. Associative merge makes this byte-identical to the
    * unsalted single-level aggregation; the test asserts exactly that. */
  def perConvQuantiles(df: DataFrame, saltBuckets: Int,
      kllK: Int = SketchDefaults.KllK): DataFrame = {
    val salt = F.pmod(murmur64(F.concat_ws(":", F.col("conv_id"),
      F.col("turn_idx").cast("string"))), F.lit(saltBuckets.toLong))
    df.withColumn("salt", salt)
      .groupBy(F.col("conv_id"), F.col("salt"))
      .agg(kll_sketch(F.length(F.col("text")), kllK).as("partial"))
      .groupBy(F.col("conv_id"))
      .agg(kll_merge(F.col("partial")).as("kll"))
      .select(F.col("conv_id"),
        kll_quantile(F.col("kll"), F.lit(0.5)).as("len_p50"),
        kll_quantile(F.col("kll"), F.lit(0.95)).as("len_p95"))
  }

  def main(args: Array[String]): Unit = {
    val argMap = JobSession.flags(args, "--input", "--out", "--max-parts")
    val c = Config(
      input = argMap("--input"),
      out = argMap("--out"),
      maxPartsPerRun = argMap.get("--max-parts").map(_.toInt))
    val spark = JobSession.get("graft-sketch-build")
    val r = run(spark, c)
    // scalastyle:off println
    println(s"processed=${r.processedParts.size} skipped=${r.skippedParts.size} " +
      s"rows=${r.totalRows} convs~${r.estDistinctConvs} tools~${r.estDistinctTools} " +
      s"len_p50=${r.textLenP50}")
    // scalastyle:on println
    spark.stop()
  }
}
