package graft.jobs

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.data.TranscriptTable
import graft.sketch.{BloomSketch, CmsSketch, HllSketch, KllSketch}
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
  *  - a completed part is recorded as a manifest JSON with row counts and
  *    wall time; on restart, completed parts are pruned from the scan
  *    (partition pruning on the parquet partition column — pending-part
  *    file listing never touches finished data);
  *  - per-part sketches are written distributed (dynamic partition
  *    overwrite — a crashed run's half-written partition is safely
  *    rewritten, never duplicated);
  *  - sketch aggregation is map-side partial: each input split collapses
  *    to one sketch buffer before the shuffle, so the exchange moves
  *    O(parts * sketchBytes), independent of row count;
  *  - the final global merge reads only the per-part sketch rows (tiny)
  *    and unions them with the `*_merge` aggregates — associativity makes
  *    the result identical to a single-pass aggregation.
  */
object SketchBuildJob {

  case class Config(
      input: String,
      out: String,
      hllP: Int = 14,
      cmsDepth: Int = 5,
      cmsWidth: Int = 1 << 14,
      kllK: Int = 200,
      /** PER-PART Bloom capacity — the bank design: each part's filter is
        * sized for its own conv population and probed by routing on
        * part_id, never OR-merged into one global-capacity filter (at
        * 10^12 rows a global filter is petabytes; a bank is O(distinct/
        * parts) per unit and the router is a hash). */
      bloomPerPartCapacity: Long = 1 << 16,
      bloomBpi: Int = 16,
      hhCapacity: Int = 64,
      /** cap on parts processed in one run (incremental operation /
        * kill-resume testing); None = all pending */
      maxPartsPerRun: Option[Int] = None)

  case class PartMetrics(partId: Int, rows: Long, estConvs: Long, wallMs: Long)

  case class BuildResult(
      processedParts: Seq[PartMetrics],
      skippedParts: Seq[Int],
      totalRows: Long,
      estDistinctConvs: Long,
      estDistinctTools: Long,
      textLenP50: Double,
      textLenP99: Double,
      topTools: Seq[(String, Long)])

  /** Version of the per-part parquet schema; recorded in config.json so a
    * resume can tell which library wrote existing parts. Bump whenever a
    * sketch column is added/removed/re-encoded. */
  final val PartSchemaVersion = 2

  private def manifestDir(out: String): HPath = new HPath(out, "_manifest")
  private def partsDir(out: String): String = s"$out/parts"
  private def finalDir(out: String): HPath = new HPath(out, "final")

  /** Manifest/config IO goes through the Hadoop FileSystem API, so `out`
    * may be any DFS the cluster mounts (hdfs://, s3a://, file:) — lineage
    * and resume state live next to the data, not on one driver's disk. */
  private def writeUtf8(fs: FileSystem, p: HPath, s: String): Unit = {
    val o = fs.create(p, true)
    try o.write(s.getBytes("UTF-8")) finally o.close()
  }

  private def readUtf8(fs: FileSystem, p: HPath): String = {
    val len = fs.getFileStatus(p).getLen.toInt
    val buf = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8")
  }

  def completedParts(out: String, conf: Configuration = new Configuration()): Set[Int] = {
    val dir = manifestDir(out)
    val fs = dir.getFileSystem(conf)
    if (!fs.exists(dir)) Set.empty
    else fs.listStatus(dir).iterator
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("part-") && s.endsWith(".json") =>
        s.stripPrefix("part-").stripSuffix(".json").toInt }
      .toSet
  }

  /** The routing modulus recorded at build time — probeBank must route
    * with the TABLE part count, never with however many parts happen to
    * be completed so far. */
  def recordedNParts(out: String, conf: Configuration = new Configuration()): Option[Int] = {
    val f = new HPath(manifestDir(out), "config.json")
    val fs = f.getFileSystem(conf)
    if (!fs.exists(f)) None
    else "\\\"n_parts\\\":(\\d+)".r.findFirstMatchIn(readUtf8(fs, f)).map(_.group(1).toInt)
  }

  /** The per-part sketch aggregation — one row per part_id. */
  private def partAggregates(df: DataFrame, c: Config): DataFrame = {
    val roleTool = F.concat_ws("|", F.col("role"), F.coalesce(F.col("tool"), F.lit("-")))
    df.groupBy(F.col(TranscriptTable.PartCol))
      .agg(
        F.count(F.lit(1)).as("rows"),
        hll_sketch(F.col("conv_id"), c.hllP).as("hll_conv"),
        hll_sketch(F.col("tool"), c.hllP).as("hll_tool"),
        cms_sketch(roleTool, c.cmsDepth, c.cmsWidth).as("cms_roletool"),
        kll_sketch(F.length(F.col("text")), c.kllK).as("kll_textlen"),
        // SpaceSaving top tools: exact whenever capacity covers the tool
        // vocabulary (the common case), bounded-error otherwise
        hh_sketch(F.col("tool"), c.hhCapacity).as("hh_tool"),
        bloom_sketch(F.col("conv_id"), c.bloomPerPartCapacity, c.bloomBpi).as("bloom_conv"))
  }

  def run(spark: SparkSession, c: Config): BuildResult = {
    val conf = spark.sparkContext.hadoopConfiguration
    val mfs = manifestDir(c.out).getFileSystem(conf)
    mfs.mkdirs(manifestDir(c.out))
    val df = TranscriptTable.read(spark, c.input)

    val allParts = df.select(TranscriptTable.PartCol).distinct()
      .collect().map(_.getInt(0)).sorted.toSeq
    require(allParts.nonEmpty,
      s"SketchBuildJob: input table at ${c.input} has no rows — nothing to build")
    // record the routing modulus once — the WRITER's modulus from the
    // table's own metadata. Inferring max(part_id)+1 from observed data
    // is WRONG whenever the highest hash range is empty (probeBank would
    // route with modulus N-1 against a bank built at N: false negatives
    // from a structure that promises none); the data-derived fallback
    // exists only for foreign tables and warns.
    val nParts = TranscriptTable.readNParts(spark, c.input).getOrElse {
      val inferred = allParts.max + 1
      // scalastyle:off println
      System.err.println(
        s"WARN SketchBuildJob: no _graft_meta.json at ${c.input}; " +
          s"inferring n_parts=$inferred from data — misroutes probes if the top hash range is empty")
      // scalastyle:on println
      inferred
    }
    val cfgFile = new HPath(manifestDir(c.out), "config.json")
    if (!mfs.exists(cfgFile)) {
      val cfgJson = "{" + "\"n_parts\":" + nParts +
        ",\"schema_version\":" + PartSchemaVersion +
        ",\"input\":" + ProfileJob.jsonStr(c.input) + "}"
      writeUtf8(mfs, cfgFile, cfgJson)
    }
    val done = completedParts(c.out, conf)
    val pendingAll = allParts.filterNot(done)
    val pending = c.maxPartsPerRun.fold(pendingAll)(pendingAll.take)

    val processed: Seq[PartMetrics] =
      if (pending.isEmpty) Seq.empty
      else {
        val t0 = System.nanoTime()
        val slice = df.filter(F.col(TranscriptTable.PartCol).isin(pending: _*))
        val partRows = partAggregates(slice, c)
        // distributed write of per-part sketch rows; dynamic overwrite so
        // a rerun of a crashed part replaces rather than duplicates
        partRows.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(TranscriptTable.PartCol)
          .parquet(partsDir(c.out))
        val wallMs = (System.nanoTime() - t0) / 1000000
        // lineage + metrics from the written (small) per-part rows
        val written = spark.read.option("mergeSchema", "true").parquet(partsDir(c.out))
          .filter(F.col(TranscriptTable.PartCol).isin(pending: _*))
          .select(F.col(TranscriptTable.PartCol), F.col("rows"),
            hll_estimate(F.col("hll_conv")).as("est_convs"))
          .collect()
        written.map { r =>
          val m = PartMetrics(r.getInt(0), r.getLong(1), r.getLong(2), wallMs / pending.size)
          // paths are user input: escaped like config.json's, never
          // interpolated raw into the JSON text
          val predicate = s"${TranscriptTable.PartCol}=${m.partId}"
          val json =
            s"""{"part_id":${m.partId},"rows":${m.rows},"est_convs":${m.estConvs},
               |"wall_ms":${m.wallMs},"input":${ProfileJob.jsonStr(c.input)},
               |"predicate":${ProfileJob.jsonStr(predicate)},
               |"output":${ProfileJob.jsonStr(s"${partsDir(c.out)}/$predicate")}}"""
              .stripMargin.replace("\n", "")
          writeUtf8(mfs, new HPath(manifestDir(c.out), s"part-${m.partId}.json"), json)
          m
        }.toSeq
      }

    // global rollup over ALL completed parts (previous + this run):
    // reads only the per-part sketch rows — O(parts), not O(rows).
    // mergeSchema=true because a resumed build may mix part files written
    // by different library versions: parquet otherwise samples ONE footer
    // and silently drops (or nulls) columns the sampled file lacks.
    val nowDone = completedParts(c.out, conf)
    val partsAll = spark.read.option("mergeSchema", "true").parquet(partsDir(c.out))
      .filter(F.col(TranscriptTable.PartCol).isin(nowDone.toSeq: _*))
    // fail loudly on parts from an older schema rather than silently
    // rolling up stats that cover only the newer parts (SketchMerge
    // aggregates skip nulls, which would mask the gap)
    val required = Seq("rows", "hll_conv", "hll_tool", "cms_roletool",
      "kll_textlen", "hh_tool", "bloom_conv")
    val missingCols = required.filterNot(partsAll.columns.contains)
    require(missingCols.isEmpty,
      s"parts at ${partsDir(c.out)} were built by an older version " +
        s"(missing columns: ${missingCols.mkString(", ")}); rebuild the " +
        "bank (delete _manifest + parts) or roll up with the old library")
    val staleParts = partsAll
      .filter(required.map(F.col(_).isNull).reduce(_ || _))
      .select(F.col(TranscriptTable.PartCol)).collect().map(_.getInt(0)).sorted
    require(staleParts.isEmpty,
      s"parts ${staleParts.mkString(", ")} at ${partsDir(c.out)} have null " +
        "sketch columns (built by an older version); delete their " +
        "_manifest/part-*.json entries to rebuild them, or roll up with " +
        "the old library")
    val finalRow = partsAll
      .agg(
        F.sum(F.col("rows")).as("rows"),
        hll_merge(F.col("hll_conv")).as("hll_conv"),
        hll_merge(F.col("hll_tool")).as("hll_tool"),
        cms_merge(F.col("cms_roletool")).as("cms_roletool"),
        kll_merge(F.col("kll_textlen")).as("kll_textlen"),
        hh_merge(F.col("hh_tool")).as("hh_tool"))
      .head()

    val totalRows = finalRow.getLong(0)
    val hllConv = HllSketch.deserialize(finalRow.getAs[Array[Byte]]("hll_conv"))
    val hllTool = HllSketch.deserialize(finalRow.getAs[Array[Byte]]("hll_tool"))
    val kll = KllSketch.deserialize(finalRow.getAs[Array[Byte]]("kll_textlen"))
    val hhTool = graft.sketch.HeavyHittersSketch.deserialize(
      finalRow.getAs[Array[Byte]]("hh_tool"))

    val ffs = finalDir(c.out).getFileSystem(conf)
    ffs.mkdirs(finalDir(c.out))
    def dump(name: String, bytes: Array[Byte]): Unit = {
      val o = ffs.create(new HPath(finalDir(c.out), name), true)
      try o.write(bytes) finally o.close()
    }
    dump("hll_conv.bin", finalRow.getAs[Array[Byte]]("hll_conv"))
    dump("hll_tool.bin", finalRow.getAs[Array[Byte]]("hll_tool"))
    dump("cms_roletool.bin", finalRow.getAs[Array[Byte]]("cms_roletool"))
    dump("kll_textlen.bin", finalRow.getAs[Array[Byte]]("kll_textlen"))
    dump("hh_tool.bin", finalRow.getAs[Array[Byte]]("hh_tool"))
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
         |"parts_done":${nowDone.size},"parts_this_run":${processed.size}}"""
        .stripMargin.replace("\n", "")
    writeUtf8(ffs, new HPath(finalDir(c.out), "summary.json"), summary)
    result
  }

  /** Per-conversation quantiles with explicit two-level salting: level 1
    * groups by (conv_id, salt) — splitting the Zipf hotspot conversation
    * across `saltBuckets` reducers — level 2 unions the partial sketches
    * per conv_id. Associative merge makes this byte-identical to the
    * unsalted single-level aggregation; the test asserts exactly that. */
  def perConvQuantiles(df: DataFrame, saltBuckets: Int, kllK: Int = 200): DataFrame = {
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
    val argMap = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
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
