package graft.jobs

import org.apache.hadoop.fs.{FileStatus, Path => HPath}
import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.spark.functions._

/** Membership filter over a saved Bloom sketch — the `ckblm` analog
  * (`cmd/ckblm.java:34-78`): emit rows whose key is (probably) in the
  * filter, or with `reverse`, rows that are definitely NOT in it (the
  * anti-filter; Bloom guarantees no false negatives, so the reverse
  * filter is exact). The sketch loads once on the driver and travels as
  * a literal, so the probe is a broadcast-style scan with no shuffle and
  * no join — O(rows) work, O(sketch) memory per executor.
  */
object ProbeJob {

  def probe(df: DataFrame, sketchFile: String, keyCol: String,
      reverse: Boolean = false): DataFrame = {
    // sketch may live on any DFS (hdfs://, s3a://, file:)
    val p = new HPath(sketchFile)
    val fs = p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val bytes = new Array[Byte](sketchLength(fs.getFileStatus(p)))
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val pred = bloom_might_contain(F.lit(bytes), F.col(keyCol))
    df.filter(if (reverse) !pred else pred)
  }

  /** The length of the sketch file `status` describes, as an array size:
    * a file longer than a byte array can hold fails, naming the file. */
  private[jobs] def sketchLength(status: FileStatus): Int = {
    val len = status.getLen
    require(len <= Int.MaxValue, s"sketch file ${status.getPath} holds $len bytes, " +
      s"more than one byte array can hold (${Int.MaxValue})")
    len.toInt
  }

  /** Probe a SketchBuildJob Bloom BANK: per-part filters from the run
    * directories its `_log/` commits, routed by `TranscriptTable.route`
    * with the `n_parts` the log records, as the build's input was.
    *
    * Scale shape: the bank's filter bytes are known before any job runs:
    * the log records each part's `bloom_capacity` and `bloom_bpi`, and
    * those fix its filter's serialized length
    * ([[SketchBuildJob.BankLog.bloomBytes]]). When their sum is within
    * Spark's `spark.sql.autoBroadcastJoinThreshold` (not negative), the
    * bank is BROADCAST: the probe rows join it where they are read, with
    * no shuffle. Spark's own estimate is not used, because it sizes the
    * bank scan from file bytes, and those hold every part's CMS too.
    * Otherwise the shape is a PART-ROUTED SHUFFLE-HASH JOIN: probe rows
    * are tagged with their part id and co-partitioned with the bank's
    * part rows, so each task holds only ITS partition's filters
    * (O(nParts x filterBytes / numPartitions) per task), never the whole
    * bank. At 10^12 rows / 4096 parts x 128 KB the bank is ~0.5 GB, far
    * above the threshold, so it takes this path and no executor holds it
    * whole.
    *
    * `bloom_bank_contains` deserializes each part's filter once per task
    * and skips reading the joined binary column entirely on cache hits.
    * A part with no committed filter yet (resumable build in progress)
    * joins null => "might contain" = true: Bloom can never prove absence,
    * so an incomplete bank produces no false negatives and the reverse
    * filter stays exact. A part that HAS a bank row but no filter was
    * written without `bloom_conv` (an older library) and fails the probe:
    * read as "might contain", it would silently shrink a reverse probe.
    * So does a bank with no committed run, or in the older layout.
    * Parts whose filter the log records past its design load
    * (`bloom_load` above 1) are named in one warning on stderr.
    *
    * The bank is read with [[SketchBuildJob.PartSchema]], so no Spark job
    * reads a footer to infer its schema. */
  def probeBank(spark: SparkSession, df: DataFrame, buildOut: String,
      keyCol: String, reverse: Boolean = false): DataFrame = {
    import graft.data.TranscriptTable.{route, PartCol}
    val log = SketchBuildJob.replay(buildOut, spark.sparkContext.hadoopConfiguration)
    // route with the modulus the TABLE was built with — an incomplete
    // bank must not change routing
    val nParts = log.nParts.getOrElse(throw new IllegalStateException(
      s"$buildOut/_log holds no committed build; cannot derive bank routing"))
    SketchBuildJob.warnOverloaded("ProbeJob", buildOut, log.bloomLoads)
    val bloom = F.col("bloom_conv")
    val bank = spark.read.schema(SketchBuildJob.PartSchema).parquet(log.runDirs: _*)
      .select(F.col(PartCol).as("__bank_part"),
        F.when(bloom.isNull, F.raise_error(F.concat(F.lit("bank part "),
            F.col(PartCol).cast("string"),
            F.lit(s" at $buildOut/parts has no bloom_conv filter (built by an older " +
              "version); rebuild the bank"))))
          .otherwise(bloom).as("__bloom"))
    val routed = df.withColumn("__part", route(F.col(keyCol), nParts))
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    // left join: unbuilt parts keep their probe rows with a null filter.
    // Above the threshold, SHUFFLE_HASH pins the co-partitioned plan,
    // whatever Spark estimates from the bank's file bytes
    val joined = routed.join(
      if (threshold >= 0 && log.bloomBytes <= threshold) F.broadcast(bank)
      else bank.hint("SHUFFLE_HASH"),
      F.col("__part") === F.col("__bank_part"), "left")
    val pred = bloom_bank_contains(F.col("__part"), F.col("__bloom"), F.col(keyCol))
    joined.filter(if (reverse) !pred else pred)
      .drop("__part", "__bank_part", "__bloom")
  }

  def main(args: Array[String]): Unit = {
    val argMap = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val spark = JobSession.get("graft-probe")
    val df = spark.read.parquet(argMap("--input"))
    val reverse = argMap.get("--reverse").exists(_.toBoolean)
    val filtered = argMap.get("--bank") match {
      case Some(buildOut) => probeBank(spark, df, buildOut, argMap("--key"), reverse)
      case None => probe(df, argMap("--sketch"), argMap("--key"), reverse)
    }
    filtered.write.mode("overwrite").parquet(argMap("--out"))
    spark.stop()
  }
}

/** Full-scan dump in stable order — the `dumphf` analog
  * (`cmd/dumphf.java:31-56`): the whole table as TSV ordered by
  * (conv_id, turn_idx), the ordering under which the reference's
  * insertion-order contract (`RigorousHashFileTestBase.java:74-90`) maps
  * to transcripts. */
object DumpJob {
  /** Writes `df` in (conv_id, turn_idx) order as tab-separated text:
    * a field holding a tab, newline or quote is quoted, an empty string is
    * `""` and a null is an empty field. Leading and trailing whitespace
    * is kept (Spark's CSV writer trims it by default). */
  def dump(df: DataFrame, out: String): Unit =
    df.orderBy("conv_id", "turn_idx")
      .write.mode("overwrite").option("sep", "\t")
      .option("ignoreLeadingWhiteSpace", "false").option("ignoreTrailingWhiteSpace", "false")
      .csv(out)

  def main(args: Array[String]): Unit = {
    val argMap = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val spark = JobSession.get("graft-dump")
    dump(spark.read.parquet(argMap("--input")), argMap("--out"))
    spark.stop()
  }
}
