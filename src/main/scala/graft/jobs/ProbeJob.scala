package graft.jobs

import org.apache.hadoop.fs.{Path => HPath}
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
    val len = fs.getFileStatus(p).getLen.toInt
    val bytes = new Array[Byte](len)
    val in = fs.open(p)
    try in.readFully(0, bytes) finally in.close()
    val pred = bloom_might_contain(F.lit(bytes), F.col(keyCol))
    df.filter(if (reverse) !pred else pred)
  }

  /** Probe a SketchBuildJob Bloom BANK: per-part filters from the run
    * directories its `_log/` commits, routed by `TranscriptTable.route`
    * with the `n_parts` the log records, as the build's input was.
    *
    * Scale shape: a PART-ROUTED SHUFFLE-HASH JOIN — probe rows are
    * tagged with their part id and co-partitioned with the bank's part
    * rows, so each task holds only ITS partition's filters
    * (O(nParts x filterBytes / numPartitions) per task), never the whole
    * bank. The previous collect+broadcast shape put the entire bank on
    * the driver and on every executor — at 10^12 rows / 4096 parts x
    * 128 KB that is ~0.5 GB everywhere; the routed join's footprint
    * shrinks with parallelism instead.
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
    // left join: unbuilt parts keep their probe rows with a null filter;
    // SHUFFLE_HASH pins the co-partitioned plan (auto-broadcast of the
    // bank would recreate the whole-bank-everywhere footprint)
    val joined = routed.join(bank.hint("SHUFFLE_HASH"),
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
  def main(args: Array[String]): Unit = {
    val argMap = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    val spark = JobSession.get("graft-dump")
    spark.read.parquet(argMap("--input"))
      .orderBy("conv_id", "turn_idx")
      .write.mode("overwrite").option("sep", "\t").csv(argMap("--out"))
    spark.stop()
  }
}
