package graft.jobs

import java.nio.file.Files

import org.apache.spark.sql.{functions => F}

import graft.data.{TranscriptGen, TranscriptTable}
import graft.sketch.{HllSketch, KllSketch}
import graft.spark.SparkTestBase
import graft.spark.functions._

/** End-to-end tests for the transcript generator and the build/probe/dump
  * jobs: per-row determinism (the driver's per-turn text-equality
  * invariant), checkpoint/resume without recomputation, salted two-level
  * aggregation equivalence, and sketch-estimate accuracy vs exact ground
  * truth on the generated corpus.
  */
class TranscriptJobsSpec extends SparkTestBase {
  import spark.implicits._

  private lazy val workDir = Files.createTempDirectory("graft-jobs").toString
  private val nConvs = 200L
  private val nParts = 8

  private lazy val tablePath: String = {
    val p = s"$workDir/transcripts"
    TranscriptTable.write(TranscriptGen.generate(spark, seed = 42L, nConvs), p, nParts)
    p
  }

  test("generator is deterministic: regeneration is row-identical under (conv_id, turn_idx)") {
    val a = TranscriptGen.generate(spark, 42L, 50).orderBy("conv_id", "turn_idx").collect()
    val b = TranscriptGen.generate(spark, 42L, 50).orderBy("conv_id", "turn_idx").collect()
    assert(a.length === b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x === y) }
    // different seed => different text
    val c = TranscriptGen.generate(spark, 43L, 50).orderBy("conv_id", "turn_idx").collect()
    assert(a.map(_.text).toSeq !== c.map(_.text).toSeq)
  }

  test("generator shape: schema, zipf hotspot, strictly increasing ts, tool nullability") {
    val df = TranscriptTable.read(spark, tablePath)
    assert(df.columns.toSet === Set("conv_id", "turn_idx", "role", "text", "tool", "ts", "part_id"))
    val counts = df.groupBy("conv_id").count().orderBy(F.desc("count")).collect()
    assert(counts.head.getString(0) === "conv-00000", "hotspot is conv 0")
    assert(counts.head.getLong(1) >= 20 * counts.last.getLong(1), "zipf skew present")
    // ts strictly increasing within conv
    val bad = df.withColumn("prev",
      F.lag("ts", 1).over(org.apache.spark.sql.expressions.Window
        .partitionBy("conv_id").orderBy("turn_idx")))
      .filter(F.col("prev").isNotNull && F.col("ts") <= F.col("prev")).count()
    assert(bad === 0)
    // tool set only on tool/assistant turns
    val badTool = df.filter(F.col("tool").isNotNull &&
      !F.col("role").isin("tool", "assistant")).count()
    assert(badTool === 0)
    assert(df.filter(F.col("role") === "tool" && F.col("tool").isNull).count() === 0)
  }

  test("sketch build job: estimates within bounds of exact ground truth") {
    val out = s"$workDir/build_full"
    val r = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    val df = TranscriptTable.read(spark, tablePath)
    val exactRows = df.count()
    val exactConvs = df.select("conv_id").distinct().count()
    val exactTools = df.filter(F.col("tool").isNotNull).select("tool").distinct().count()
    assert(r.totalRows === exactRows)
    assert(math.abs(r.estDistinctConvs - exactConvs).toDouble / exactConvs
      <= 3 * HllSketch.standardError(14))
    assert(math.abs(r.estDistinctTools - exactTools).toDouble / math.max(1, exactTools) <= 0.2)
    val exactP50 = df.select(F.expr("percentile(length(text), 0.5d)")).head().getDouble(0)
    assert(math.abs(r.textLenP50 - exactP50) / exactP50 <= 0.1,
      s"kll p50 ${r.textLenP50} vs exact $exactP50")
    assert(r.processedParts.map(_.rows).sum === exactRows)
    assert(SketchBuildJob.completedParts(out).size === nParts)
    // SpaceSaving top tools: exact vs groupBy counts (capacity >= vocab)
    val exactToolCounts = df.filter(F.col("tool").isNotNull)
      .groupBy("tool").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.topTools.nonEmpty)
    r.topTools.foreach { case (t, cnt) => assert(exactToolCounts(t) === cnt, s"tool=$t") }
  }

  test("kill/resume: second run recomputes only missing parts, final state identical") {
    val outFull = s"$workDir/build_a"
    val outResume = s"$workDir/build_b"
    val full = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outFull))
    // simulate a killed run: only 3 parts complete
    val r1 = SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, outResume, maxPartsPerRun = Some(3)))
    assert(r1.processedParts.size === 3)
    assert(SketchBuildJob.completedParts(outResume).size === 3)
    // resume: processes exactly the remaining parts
    val r2 = SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, outResume))
    assert(r2.processedParts.size === nParts - 3)
    assert(r2.skippedParts.toSet === r1.processedParts.map(_.partId).toSet)
    assert(SketchBuildJob.completedParts(outResume).size === nParts)
    // final merged sketches byte-identical to the uninterrupted run
    for (f <- Seq("hll_conv.bin", "hll_tool.bin", "cms_roletool.bin",
        "kll_textlen.bin", "hh_tool.bin")) {
      val a = Files.readAllBytes(java.nio.file.Paths.get(outFull, "final", f))
      val b = Files.readAllBytes(java.nio.file.Paths.get(outResume, "final", f))
      assert(java.util.Arrays.equals(a, b), s"final $f differs after resume")
    }
    assert(full.totalRows === r2.totalRows)
    // idempotent third run: nothing pending
    val r3 = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outResume))
    assert(r3.processedParts.isEmpty)
  }

  test("salted two-level per-conv aggregation equals unsalted within KLL bound") {
    val df = TranscriptTable.read(spark, tablePath)
    val salted = SketchBuildJob.perConvQuantiles(df, saltBuckets = 8)
      .orderBy("conv_id").collect()
    // unsalted single-level reference
    val unsalted = df.groupBy("conv_id")
      .agg(kll_sketch(F.length(F.col("text")), 200).as("kll"))
      .select(F.col("conv_id"), kll_quantile(F.col("kll"), F.lit(0.5)).as("p50"))
      .orderBy("conv_id").collect()
    assert(salted.length === unsalted.length)
    // KLL returns an actual data item, so the right accuracy measure is
    // RANK error vs the conv's own value multiset (not interpolated
    // percentile values, which diverge on tiny tail convs)
    val lengths = df.select($"conv_id", F.length($"text").as("len"))
      .collect().groupBy(_.getString(0))
      .view.mapValues(_.map(_.getInt(1)).sorted).toMap
    def checkRank(convId: String, est: Double, q: Double): Unit = {
      val vals = lengths(convId)
      val rank = vals.count(_ <= est).toDouble
      val err = math.abs(rank - q * vals.length) / vals.length
      val bound = 3 * graft.sketch.KllSketch.epsilon(200) + 1.0 / vals.length
      assert(err <= bound, s"conv $convId q=$q est=$est rankErr=$err bound=$bound")
    }
    salted.foreach { r => checkRank(r.getString(0), r.getDouble(1), 0.5) }
    unsalted.foreach { r => checkRank(r.getString(0), r.getDouble(1), 0.5) }
    // for convs small enough to avoid compaction (< k items), salted and
    // unsalted are the same weighted multiset => identical quantiles
    val unsaltedMap = unsalted.map(r => r.getString(0) -> r.getDouble(1)).toMap
    salted.filter(r => lengths(r.getString(0)).length < 200).foreach { r =>
      assert(r.getDouble(1) === unsaltedMap(r.getString(0)),
        s"conv ${r.getString(0)}: salted != unsalted below compaction threshold")
    }
  }

  test("probe job: members pass, reverse filter is exact (no false negatives)") {
    val out = s"$workDir/build_probe"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    val df = TranscriptTable.read(spark, tablePath)
    val members = ProbeJob.probeBank(spark, df.select("conv_id").distinct(),
      out, "conv_id").count()
    assert(members === nConvs, "every real conv_id must pass the filter")
    // reverse filter over a disjoint probe set: everything passes (definitely-absent)
    val foreign = (0 until 500).map(i => s"other-$i").toDF("conv_id")
    val absent = ProbeJob.probeBank(spark, foreign, out, "conv_id",
      reverse = true).count()
    assert(absent >= 495, s"reverse filter kept $absent of 500 non-members")
  }

  test("incomplete bank: routing uses recorded modulus; missing parts mean might-contain") {
    val out = s"$workDir/build_partial"
    // build only 3 of 8 parts, then probe
    SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    assert(SketchBuildJob.recordedNParts(out) === Some(nParts))
    val df = TranscriptTable.read(spark, tablePath)
    // members must all pass even though most filters are missing
    val members = ProbeJob.probeBank(spark, df.select("conv_id").distinct(),
      out, "conv_id").count()
    assert(members === nConvs, s"incomplete bank dropped members: $members")
    // reverse mode must NOT claim absence for keys routed to missing parts
    val foreign = (0 until 400).map(i => s"other-$i").toDF("conv_id")
    val claimedAbsent = ProbeJob.probeBank(spark, foreign, out, "conv_id",
      reverse = true).count()
    assert(claimedAbsent <= 400 * 3 / 8 + 60,
      s"reverse mode claimed absence beyond built parts: $claimedAbsent")
  }

  test("empty top hash range: bank records the WRITER's modulus, probes stay exact") {
    // few conversations into 64 hash ranges leaves ranges empty; the
    // TOP range being empty is the case where inferring the modulus as
    // max(observed part)+1 misroutes every probe (the bank would be
    // probed at pmod(h, 63) against parts built at 64). The writer's
    // modulus now travels in _graft_meta.json. Seed chosen at runtime
    // (deterministically — the generator is pure in its seed) as the
    // first one whose top range is empty.
    val nSparse = 12L
    val seed = (1L to 40L).find { s =>
      val p = s"$workDir/sparse_probe_$s"
      TranscriptTable.write(TranscriptGen.generate(spark, s, nSparse), p, 64)
      val mx = TranscriptTable.read(spark, p).select(TranscriptTable.PartCol)
        .agg(org.apache.spark.sql.functions.max(TranscriptTable.PartCol))
        .head().getInt(0)
      mx < 63
    }
    assert(seed.isDefined, "no seed in 1..40 left the top range empty")
    val p = s"$workDir/sparse_probe_${seed.get}"
    val out = s"$workDir/build_sparse"
    SketchBuildJob.run(spark, SketchBuildJob.Config(p, out))
    assert(SketchBuildJob.recordedNParts(out) === Some(64),
      "bank must record the writer's modulus, not max(part)+1")
    val members = ProbeJob.probeBank(spark,
      TranscriptTable.read(spark, p).select("conv_id").distinct(),
      out, "conv_id").count()
    assert(members === nSparse, s"misrouted probes dropped members: $members")
  }

  test("bank probe is correct under high intra-JVM concurrency (shared sketch instances)") {
    val out = s"$workDir/build_conc"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    val df = TranscriptTable.read(spark, tablePath)
    // many partitions of member keys probed concurrently across local[4]
    // threads: any scratch-sharing race shows up as false negatives
    val keys = df.select("conv_id").distinct().repartition(64)
    (1 to 3).foreach { _ =>
      assert(ProbeJob.probeBank(spark, keys, out, "conv_id").count() === nConvs)
    }
  }

  test("dedup guard: conv ids unique per (conv_id, turn_idx); text equality invariant") {
    val df = TranscriptTable.read(spark, tablePath)
    assert(df.groupBy("conv_id", "turn_idx").count().filter(F.col("count") > 1).count() === 0)
    // per-turn text equality vs a fresh generator pass (the contractual
    // per-row invariant)
    val regen = TranscriptGen.generate(spark, 42L, nConvs)
      .select($"conv_id", $"turn_idx", $"text".as("text2"))
    val joined = df.join(regen, Seq("conv_id", "turn_idx"))
    assert(joined.filter($"text" =!= $"text2").count() === 0)
    assert(joined.count() === df.count())
  }

  test("part manifests stay valid JSON when paths contain a quote and a backslash") {
    // manifest fields are user paths: a raw interpolation of `"` or `\`
    // would end the string early or start an escape. Spark globs input
    // paths and `\` is the glob escape, so the table directory in"q\b is
    // handed over as in"q\\b, which matches it; the output path keeps to
    // a quote because the job reads its own parts back through Spark.
    TranscriptTable.write(TranscriptGen.generate(spark, seed = 7L, 40L),
      workDir + "/in\"q\\b", 4)
    val odd = workDir + "/in\"q\\\\b"
    val out = workDir + "/out\"q"
    SketchBuildJob.run(spark, SketchBuildJob.Config(odd, out))
    val manifests = new java.io.File(s"$out/_manifest").listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(manifests.length === SketchBuildJob.completedParts(out).size)
    assert(manifests.nonEmpty)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    manifests.foreach { f =>
      val m = mapper.readTree(f)
      val pid = m.get("part_id").asInt()
      assert(m.get("input").asText() === odd)
      assert(m.get("predicate").asText() === s"${TranscriptTable.PartCol}=$pid")
      assert(m.get("output").asText() === s"$out/parts/${TranscriptTable.PartCol}=$pid")
    }
  }

  test("resume over parts written by an older schema fails loudly, not silently") {
    import org.apache.hadoop.fs.{Path => HPath}
    val out = s"$workDir/build_stale"
    SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    // simulate a part written by an older library version: rewrite one
    // COMPLETED part's file without the hh_tool column
    val victim = SketchBuildJob.completedParts(out).min
    val pdir = s"$out/parts/part_id=$victim"
    val tmp = s"$workDir/stale_tmp"
    spark.read.parquet(pdir).drop("hh_tool").write.mode("overwrite").parquet(tmp)
    val hfs = new HPath(pdir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new HPath(pdir), true))
    assert(hfs.rename(new HPath(tmp), new HPath(pdir)))
    // the resumed rollup must refuse to aggregate a silently-partial bank
    val ex = intercept[IllegalArgumentException] {
      SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    }
    assert(ex.getMessage.contains("older version"), ex.getMessage)
  }
}
