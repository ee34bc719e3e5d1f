package graft.jobs

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, ShuffledHashJoinExec}

import graft.data.{TranscriptGen, TranscriptTable}
import graft.ops.BloomJoin
import graft.sketch.{BloomSketch, HllSketch, KllSketch}
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
    assert(SketchBuildJob.replay(out).parts.keySet.size === nParts)
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
    assert(SketchBuildJob.replay(outResume).parts.keySet.size === 3)
    // resume: processes exactly the remaining parts
    val r2 = SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, outResume))
    assert(r2.processedParts.size === nParts - 3)
    assert(r2.skippedParts.toSet === r1.processedParts.map(_.partId).toSet)
    assert(SketchBuildJob.replay(outResume).parts.keySet.size === nParts)
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
    assert(SketchBuildJob.replay(out).nParts === Some(nParts))
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
    assert(SketchBuildJob.replay(out).nParts === Some(64),
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

  private lazy val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** The log entries of the bank at `out`, in version order. */
  private def logEntries(out: String): Seq[com.fasterxml.jackson.databind.JsonNode] =
    new java.io.File(s"$out/_log").listFiles().filter(_.getName.matches("\\d{10}\\.json"))
      .sortBy(_.getName).map(mapper.readTree).toSeq

  /** What `body` prints on `System.err`. */
  private def stderrOf(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    val saved = System.err
    System.setErr(new java.io.PrintStream(buf, true, "UTF-8"))
    try body finally System.setErr(saved)
    buf.toString("UTF-8")
  }

  // Spark globs input paths and `\` is the glob escape, so the table
  // directory in"q\b is handed over as in"q\\b, which matches it
  private lazy val escapedInput: String = {
    TranscriptTable.write(TranscriptGen.generate(spark, seed = 7L, 40L),
      workDir + "/in\"q\\b", 4)
    workDir + "/in\"q\\\\b"
  }

  test("the log entry stays valid JSON when paths contain a quote and a backslash") {
    // entry fields are user paths: a raw interpolation of `"` or `\`
    // would end the string early or start an escape. The output path
    // keeps to a quote because a resume reads the committed parts through
    // Spark, which globs paths.
    val odd = escapedInput
    val out = workDir + "/out\"q"
    SketchBuildJob.run(spark, SketchBuildJob.Config(odd, out))
    val Seq(entry) = logEntries(out)
    assert(entry.get("input").asText() === odd)
    val parts = entry.get("parts").elements().asScala.toSeq
    assert(parts.nonEmpty)
    assert(parts.map(_.get("part_id").asInt()).toSet === SketchBuildJob.replay(out).parts.keySet)
    val written = new java.io.File(s"$out/parts").listFiles().filter(_.isDirectory)
      .map(_.getPath).toSet
    assert(parts.map(_.get("dir").asText()).toSet === written)
  }

  test("a glob-escaped input path finds its table's recorded modulus") {
    // the metadata is looked up where Spark's reader resolves the path,
    // not under its literal text, so no n_parts is inferred from data
    assert(TranscriptTable.readNParts(spark, escapedInput) === Some(4))
    val out = s"$workDir/build_escaped"
    SketchBuildJob.run(spark, SketchBuildJob.Config(escapedInput, out))
    assert(SketchBuildJob.replay(out).nParts === Some(4))
  }

  private def jobGroup(e: SparkListenerJobStart): String =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  /** Runs `body` in a fresh job group with `listener` registered, and
    * returns the group once `listener` has seen every event `body`
    * caused: the listener bus delivers events in order, so once a marker
    * job's start has arrived, so has everything before it. */
  private def observed(listener: SparkListener)(body: => Unit): String = {
    val sc = spark.sparkContext
    val group = java.util.UUID.randomUUID().toString
    val drained = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (jobGroup(e) == group + "-marker") drained.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(marker)
    try {
      sc.setJobGroup(group, "observed")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not drain")
      group
    } finally {
      sc.removeSparkListener(marker)
      sc.removeSparkListener(listener)
    }
  }

  /** Spark jobs started by `body` on this thread. */
  private def sparkJobs(body: => Unit): Int = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val group = observed(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(jobGroup(e))
    })(body)
    seen.toArray.count(_ == group)
  }

  /** Tasks of the stages in which `body` wrote output records: the write
    * stages of its file writes. */
  private def writeTasks(body: => Unit): Int = {
    val tasksOf = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    val writing = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    observed(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        tasksOf.put(e.stageInfo.stageId, e.stageInfo.numTasks)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (Option(e.taskMetrics).exists(_.outputMetrics.recordsWritten > 0)) writing.add(e.stageId)
    })(body)
    writing.asScala.toSeq.map(tasksOf.get).sum
  }

  test("a fresh build runs at most 2 Spark jobs, a resume with parts pending at most 2, " +
      "a resume with nothing pending at most 1") {
    val out = s"$workDir/build_jobs"
    val table = tablePath // written outside the counted run
    val fresh = sparkJobs {
      val r = SketchBuildJob.run(spark, SketchBuildJob.Config(table, out, maxPartsPerRun = Some(3)))
      assert(r.processedParts.size === 3 && r.skippedParts.isEmpty)
    }
    assert(fresh <= 2, s"fresh build ran $fresh Spark jobs")
    val pending = sparkJobs {
      val r = SketchBuildJob.run(spark, SketchBuildJob.Config(table, out))
      assert(r.processedParts.size === nParts - 3 && r.skippedParts.size === 3)
    }
    assert(pending <= 2, s"resume with parts pending ran $pending Spark jobs")
    val resumed = sparkJobs {
      val r = SketchBuildJob.run(spark, SketchBuildJob.Config(table, out))
      assert(r.processedParts.isEmpty)
    }
    assert(resumed <= 1, s"resume with nothing pending ran $resumed Spark jobs")
    info(s"Spark jobs: fresh build $fresh, resume with parts pending $pending, " +
      s"resume with nothing pending $resumed")
  }

  test("the log's part facts are the part files' own, and a resume writes only files with rows") {
    val out = s"$workDir/build_facts"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    val resumed = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    val exact = TranscriptTable.read(spark, tablePath).groupBy(TranscriptTable.PartCol).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val logged = logEntries(out).flatMap(_.get("parts").elements().asScala).map { p =>
      p.get("part_id").asInt() -> (p.get("dir").asText(), p.get("rows").asLong(),
        p.get("est_convs").asLong())
    }
    assert(logged.map(_._1).sorted === (0 until nParts))
    logged.foreach { case (id, (dir, rows, estConvs)) =>
      val Array(file) = spark.read.schema(SketchBuildJob.PartSchema).parquet(dir)
        .filter(F.col(TranscriptTable.PartCol) === id)
        .select(F.col("rows"), hll_estimate(F.col("hll_conv"))).collect()
      assert((rows, estConvs) === ((file.getLong(0), file.getLong(1))), s"part $id")
      assert(rows === exact(id), s"part $id")
    }
    // the resumed run's write also carried the committed run's rows past
    // the observation; none of them may reach a file, not even an empty one
    val resumedDir = logEntries(out).last.get("parts").get(0).get("dir").asText()
    val files = parquetFiles(resumedDir)
    assert(files.nonEmpty)
    files.foreach { f =>
      val ids = spark.read.schema(SketchBuildJob.PartSchema).parquet(f.getPath)
        .select(TranscriptTable.PartCol).collect().map(_.getInt(0))
      assert(ids.nonEmpty, s"${f.getName} holds no rows")
      assert(ids.toSet.subsetOf(resumed.processedParts.map(_.partId).toSet), f.getName)
    }
  }

  test("a failed part write fails the build promptly and commits nothing") {
    import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
    import org.scalatest.time.{Seconds, Span}
    implicit val signaler: Signaler = ThreadSignaler
    val out = s"$workDir/build_failed_write"
    val table = tablePath // written outside the time limit
    // a regular file where the run directories go: the write cannot
    // create its run directory
    Files.createDirectories(java.nio.file.Paths.get(out))
    Files.write(java.nio.file.Paths.get(out, "parts"), Array[Byte](1))
    val ex = intercept[Exception] {
      TimeLimits.failAfter(Span(120, Seconds)) {
        SketchBuildJob.run(spark, SketchBuildJob.Config(table, out))
      }
    }
    assert(!ex.isInstanceOf[org.scalatest.exceptions.TestFailedDueToTimeoutException], ex)
    val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).mkString("\n")
    assert(messages.contains(s"$out/parts"), messages)
    assert(!new java.io.File(s"$out/_log").exists())
    assert(SketchBuildJob.replay(out).parts.keySet.isEmpty)
  }

  private lazy val probeKeys =
    (0 until 300).map(i => s"conv-${"%05d".format(i)}").toDF("conv_id")

  test("a bank probe over the fixture runs at most 3 Spark jobs") {
    val out = s"$workDir/build_probe_jobs"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    val jobs = sparkJobs {
      assert(ProbeJob.probeBank(spark, probeKeys, out, "conv_id").count() >= nConvs)
    }
    assert(jobs <= 3, s"probeBank count ran $jobs Spark jobs")
  }

  test("a Bloom semi join over the fixture runs at most 3 Spark jobs") {
    val jobs = sparkJobs {
      assert(BloomJoin.semi(probeKeys, "conv_id", TranscriptTable.read(spark, tablePath),
        "conv_id").count() === nConvs)
    }
    assert(jobs <= 3, s"BloomJoin.semi count ran $jobs Spark jobs")
  }

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  /** Walks the final plan of an adaptive query, query stages included. */
  private object Plans extends AdaptiveSparkPlanHelper

  test("a bank probe broadcasts a bank whose logged filter sizes fit the threshold, " +
      "and shuffle-joins it otherwise, with the same answers") {
    val full = s"$workDir/build_join_choice"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, full))
    val partial = s"$workDir/build_join_choice_partial"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, partial, maxPartsPerRun = Some(3)))
    val members = TranscriptTable.read(spark, tablePath).select("conv_id").distinct()
      .collect().map(_.getString(0)).toSet
    val keys = probeKeys.union((0 until 300).map(i => s"other-$i").toDF("conv_id"))
    val allKeys = keys.collect().map(_.getString(0)).toSet
    for (out <- Seq(full, partial)) {
      // the forward and reverse answers, and the executed plan of each
      def probes(): Seq[(Set[String], SparkPlan)] = Seq(false, true).map { reverse =>
        val df = ProbeJob.probeBank(spark, keys, out, "conv_id", reverse)
        (df.collect().map(_.getString(0)).toSet, df.queryExecution.executedPlan)
      }
      def joins(plan: SparkPlan): Seq[SparkPlan] = Plans.collect(plan) { case j: BaseJoinExec => j }
      val bytes = SketchBuildJob.replay(out).bloomBytes
      // the default threshold, and the logged size exactly
      val broadcast = Seq(probes(), withConf(Threshold, bytes.toString)(probes()))
      val shuffled = Seq(withConf(Threshold, "-1")(probes()),
        withConf(Threshold, (bytes - 1).toString)(probes()))
      for (run <- broadcast; (_, plan) <- run) {
        val Seq(j: BroadcastHashJoinExec) = joins(plan)
        assert(Plans.collect(j.left) { case e: Exchange => e }.isEmpty,
          s"$out: an exchange above the probe-side scan:\n$plan")
      }
      for (run <- shuffled; (_, plan) <- run)
        assert(joins(plan).map(_.getClass) === Seq(classOf[ShuffledHashJoinExec]), s"$out:\n$plan")
      val Seq((forward, _), (reverse, _)) = broadcast.head
      assert(members.subsetOf(forward), s"$out: a member failed the probe")
      assert(forward ++ reverse === allKeys && (forward & reverse).isEmpty, out)
      for (run <- broadcast.tail ++ shuffled) assert(run.map(_._1) === Seq(forward, reverse), out)
    }
  }

  test("the log's Bloom geometry gives each stored filter's length") {
    for ((capacity, bpi) <- Seq((1L << 16, 16), (1000L, 8), (300L, 10), (50L, 3))) {
      val out = s"$workDir/build_bloom_size_${capacity}_$bpi"
      SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out,
        bloomPerPartCapacity = capacity, bloomBpi = bpi))
      val log = SketchBuildJob.replay(out)
      val stored = spark.read.schema(SketchBuildJob.PartSchema).parquet(log.runDirs: _*)
        .select(F.col(TranscriptTable.PartCol), F.length(F.col("bloom_conv")))
        .collect().map(r => r.getInt(0) -> r.getInt(1).toLong).toMap
      val built = BloomSketch(capacity, bpi).serialize().length.toLong
      assert(stored.keySet === log.parts.keySet)
      for ((id, part) <- log.parts) {
        assert((part.bloomCapacity, part.bloomBpi) === ((capacity, bpi)))
        val size = BloomSketch.serializedSize(part.bloomCapacity, part.bloomBpi)
        assert(size === stored(id), s"part $id at ($capacity, $bpi)")
        assert(size === built, s"($capacity, $bpi)")
      }
      assert(log.bloomBytes === stored.values.sum)
    }
  }

  test("a sketch file longer than a byte array can hold fails the probe, naming it") {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    val path = new HPath(s"$workDir/huge.bloom")
    def status(len: Long) = new FileStatus(len, false, 1, 0L, 0L, path)
    assert(ProbeJob.sketchLength(status(100L)) === 100)
    assert(ProbeJob.sketchLength(status(Int.MaxValue.toLong)) === Int.MaxValue)
    for (len <- Seq(Int.MaxValue + 1L, (1L << 32) + 100)) {
      val ex = intercept[IllegalArgumentException](ProbeJob.sketchLength(status(len)))
      assert(ex.getMessage.contains(path.toString) && ex.getMessage.contains(s"$len bytes"),
        ex.getMessage)
    }
  }

  test("a table the library wrote reads with the schema Spark infers, and without a job") {
    val inferred = spark.read.parquet(tablePath)
    val jobs = sparkJobs(TranscriptTable.read(spark, tablePath).schema)
    assert(jobs === 0, s"reading the schema ran $jobs Spark jobs")
    val ours = TranscriptTable.read(spark, tablePath)
    // names, types, nullability and order
    assert(ours.schema === inferred.schema)
    assert(ours.exceptAll(inferred).isEmpty && inferred.exceptAll(ours).isEmpty)
  }

  test("the part schema is the one Spark infers from freshly written parts") {
    val out = s"$workDir/build_schema"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    assert(spark.read.parquet(SketchBuildJob.replay(out).runDirs: _*).schema ===
      SketchBuildJob.PartSchema)
  }

  /** Rewrites part `part` of the bank at `out` without `column`, the way
    * an older library version would have written it: the part's row
    * moves to a file of its own that lacks the column, and the other
    * parts of its run directory keep theirs. */
  private def rewritePartWithout(out: String, part: Int, column: String): Unit = {
    val dir = SketchBuildJob.replay(out).parts(part).dir
    val tmp = s"$out-rewrite"
    val rows = spark.read.schema(SketchBuildJob.PartSchema).parquet(dir)
    val victim = F.col(TranscriptTable.PartCol) === part
    rows.filter(!victim).write.mode("overwrite").parquet(tmp)
    rows.filter(victim).drop(column).write.mode("append").parquet(tmp)
    replaceDir(dir, tmp)
  }

  /** Moves directory `from` into the place of directory `dir`. */
  private def replaceDir(dir: String, from: String): Unit = {
    import org.apache.hadoop.fs.{Path => HPath}
    val hfs = new HPath(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.delete(new HPath(dir), true))
    assert(hfs.rename(new HPath(from), new HPath(dir)))
  }

  /** The parquet files in directory `dir`. */
  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  test("a fresh build writes one file per write task, not one per part") {
    val out = s"$workDir/build_files"
    val table = tablePath // written outside the observed run
    val tasks = writeTasks(SketchBuildJob.run(spark, SketchBuildJob.Config(table, out)))
    val Seq(runDir) = SketchBuildJob.replay(out).runDirs
    val files = parquetFiles(runDir).size
    assert(files >= 1 && files < nParts, s"$files part files for $nParts parts")
    assert(files <= tasks, s"$files part files from $tasks write tasks")
    info(s"$files part files, $tasks write tasks, $nParts parts")
  }

  test("the rollup gives the same bytes whichever files the parts sit in") {
    val outA = s"$workDir/build_layout_a"
    val outB = s"$workDir/build_layout_b"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outA))
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outB))
    // B's run directory rewritten with each part in a file of its own
    val Seq(runDir) = SketchBuildJob.replay(outB).runDirs
    val tmp = s"$outB-rewrite"
    spark.read.schema(SketchBuildJob.PartSchema).parquet(runDir)
      .write.option("maxRecordsPerFile", 1L).parquet(tmp)
    replaceDir(runDir, tmp)
    assert(parquetFiles(runDir).size === nParts)
    // nothing pending: this run is the rollup alone, over the new layout
    val again = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outB))
    assert(again.processedParts.isEmpty)
    for (f <- Seq("hll_conv.bin", "hll_tool.bin", "cms_roletool.bin",
        "kll_textlen.bin", "hh_tool.bin")) {
      val a = Files.readAllBytes(java.nio.file.Paths.get(outA, "final", f))
      val b = Files.readAllBytes(java.nio.file.Paths.get(outB, "final", f))
      assert(java.util.Arrays.equals(a, b), s"final $f differs with one file per part")
    }
  }

  test("maxPartsPerRun below 1 fails loudly, naming the value") {
    for (bad <- Seq(0, -1)) {
      val out = s"$workDir/build_max_parts_$bad"
      val ex = intercept[IllegalArgumentException] {
        SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(bad)))
      }
      assert(ex.getMessage.contains(s"maxPartsPerRun must be at least 1, got $bad"), ex.getMessage)
      assert(!new java.io.File(out).exists())
    }
  }

  test("a bank part rewritten without its Bloom filter fails the probe loudly") {
    val out = s"$workDir/build_no_bloom"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    // a part other than part 0, the footer schema inference samples
    val victim = SketchBuildJob.replay(out).parts.keySet.filter(_ != 0).max
    rewritePartWithout(out, victim, "bloom_conv")
    val foreign = (0 until 500).map(i => s"other-$i").toDF("conv_id")
    for (reverse <- Seq(false, true)) {
      val ex = intercept[Exception] {
        ProbeJob.probeBank(spark, foreign, out, "conv_id", reverse).count()
      }
      val messages = Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
        .map(e => String.valueOf(e.getMessage)).mkString("\n")
      assert(messages.contains(s"bank part $victim ") && messages.contains("no bloom_conv filter"),
        s"reverse=$reverse: $messages")
    }
  }

  test("part_id as a data column, not a directory: the scan path builds the same bank") {
    // a foreign writer's layout: no part directories and no metadata, so
    // part ids come from a scan and n_parts is inferred
    val flat = s"$workDir/flat_transcripts"
    TranscriptTable.read(spark, tablePath).write.mode("overwrite").parquet(flat)
    val outFlat = s"$workDir/build_flat"
    val outDirs = s"$workDir/build_dirs"
    val a = SketchBuildJob.run(spark, SketchBuildJob.Config(flat, outFlat))
    val b = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outDirs))
    assert(a.processedParts.map(p => (p.partId, p.rows, p.estConvs)) ===
      b.processedParts.map(p => (p.partId, p.rows, p.estConvs)))
    assert(SketchBuildJob.replay(outFlat).nParts === Some(nParts))
    assert((a.totalRows, a.estDistinctConvs, a.estDistinctTools, a.topTools) ===
      (b.totalRows, b.estDistinctConvs, b.estDistinctTools, b.topTools))
    // order-independent sketches are byte-identical; KLL compaction
    // depends on row order, which the layouts do not share
    for (f <- Seq("hll_conv.bin", "hll_tool.bin", "cms_roletool.bin", "hh_tool.bin")) {
      val x = Files.readAllBytes(java.nio.file.Paths.get(outFlat, "final", f))
      val y = Files.readAllBytes(java.nio.file.Paths.get(outDirs, "final", f))
      assert(java.util.Arrays.equals(x, y), s"final $f differs between layouts")
    }
    val kll = KllSketch.deserialize(Files.readAllBytes(
      java.nio.file.Paths.get(outFlat, "final", "kll_textlen.bin")))
    assert(kll.n === b.totalRows)
  }

  test("part directories holding only zero-row files fail with the no-rows message") {
    val empty = s"$workDir/empty_parts"
    val schema = TranscriptTable.read(spark, tablePath).drop(TranscriptTable.PartCol).schema
    (0 until 3).foreach { p =>
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        .write.mode("overwrite").parquet(s"$empty/${TranscriptTable.PartCol}=$p")
    }
    assert(TranscriptTable.read(spark, empty).inputFiles.nonEmpty, "fixture wrote no files")
    val ex = intercept[IllegalArgumentException] {
      SketchBuildJob.run(spark, SketchBuildJob.Config(empty, s"$workDir/build_empty"))
    }
    assert(ex.getMessage.contains("has no rows"), ex.getMessage)
  }

  test("resume over parts written by an older schema fails loudly, not silently") {
    val out = s"$workDir/build_stale"
    SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    // simulate a part written by an older library version: rewrite one
    // COMPLETED part's file without the hh_tool column
    rewritePartWithout(out, SketchBuildJob.replay(out).parts.keySet.min, "hh_tool")
    // the resumed rollup must refuse to aggregate a silently-partial bank
    val ex = intercept[IllegalArgumentException] {
      SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    }
    assert(ex.getMessage.contains("older version"), ex.getMessage)
  }

  test("a run stopped between its part write and its commit is recomputed, never read") {
    import org.apache.hadoop.fs.{Path => HPath}
    val conf = spark.sparkContext.hadoopConfiguration
    val outFull = s"$workDir/build_crash_ref"
    val out = s"$workDir/build_crash"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, outFull))
    val r1 = SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    val crashed = SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    // the stop: the second run's entry never reached the log, while its
    // run directory stays behind
    val entry1 = new HPath(s"$out/_log/0000000001.json")
    assert(entry1.getFileSystem(conf).delete(entry1, false))
    assert(SketchBuildJob.replay(out).parts.keySet === r1.processedParts.map(_.partId).toSet)
    val r3 = SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, out, maxPartsPerRun = Some(3)))
    assert(r3.processedParts.map(_.partId) === crashed.processedParts.map(_.partId))
    assert(r3.skippedParts.toSet === r1.processedParts.map(_.partId).toSet)
    val r4 = SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    assert(r4.processedParts.size === nParts - 6)
    // four run directories, the orphan among them; three of them committed
    assert(new java.io.File(s"$out/parts").listFiles().count(_.isDirectory) === 4)
    assert(SketchBuildJob.replay(out).runDirs.size === 3)
    for (f <- Seq("hll_conv.bin", "hll_tool.bin", "cms_roletool.bin",
        "kll_textlen.bin", "hh_tool.bin")) {
      val a = Files.readAllBytes(java.nio.file.Paths.get(outFull, "final", f))
      val b = Files.readAllBytes(java.nio.file.Paths.get(out, "final", f))
      assert(java.util.Arrays.equals(a, b), s"final $f differs after the stopped run")
    }
    // a row read from the orphan would duplicate its part's probe rows
    val df = TranscriptTable.read(spark, tablePath)
    assert(ProbeJob.probeBank(spark, df.select("conv_id").distinct(), out, "conv_id")
      .count() === nConvs)
    // a second commit of an existing version fails and leaves it as it was
    val entry0 = java.nio.file.Paths.get(out, "_log", "0000000000.json")
    val first = Files.readAllBytes(entry0)
    intercept[org.apache.hadoop.fs.FileAlreadyExistsException] {
      SketchBuildJob.commit(out, 0L, mapper.createObjectNode(), conf)
    }
    assert(java.util.Arrays.equals(first, Files.readAllBytes(entry0)))
  }

  /** A bank directory as older versions left it: `_manifest/` holding
    * `config.json` and one part manifest, and no `_log/`. */
  private def oldLayoutBank(name: String): String = {
    val manifest = java.nio.file.Paths.get(workDir, name, "_manifest")
    Files.createDirectories(manifest)
    Files.write(manifest.resolve("config.json"),
      s"""{"n_parts":$nParts,"schema_version":2,"input":"t"}""".getBytes("UTF-8"))
    Files.write(manifest.resolve("part-0.json"),
      """{"part_id":0,"rows":1,"est_convs":1,"wall_ms":1}""".getBytes("UTF-8"))
    s"$workDir/$name"
  }

  test("a resume into a bank in the older _manifest/ layout fails loudly, naming it") {
    val out = oldLayoutBank("old_layout_build")
    val ex = intercept[IllegalStateException] {
      SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, out))
    }
    assert(ex.getMessage.contains(out) && ex.getMessage.contains("rebuild"), ex.getMessage)
    assert(!new java.io.File(s"$out/_log").exists() && !new java.io.File(s"$out/parts").exists())
  }

  test("a probe of a bank in the older _manifest/ layout fails loudly, naming it") {
    val out = oldLayoutBank("old_layout_probe")
    val ex = intercept[IllegalStateException] {
      ProbeJob.probeBank(spark, probeKeys, out, "conv_id").count()
    }
    assert(ex.getMessage.contains(out) && ex.getMessage.contains("rebuild"), ex.getMessage)
  }

  test("the log records each part's Bloom health and warns on overloaded parts") {
    def health(out: String) =
      logEntries(out).flatMap(_.get("parts").elements().asScala).map { p =>
        (p.get("part_id").asInt(), p.get("est_convs").asLong(), p.get("bloom_capacity").asLong(),
          p.get("bloom_bpi").asInt(), p.get("bloom_load").asDouble(),
          p.get("bloom_est_fpr").asDouble())
      }
    def checkModel(rows: Seq[(Int, Long, Long, Int, Double, Double)]): Unit =
      rows.foreach { case (id, n, cap, bpi, load, fpr) =>
        val geometry = graft.sketch.BloomSketch(cap, bpi)
        val m = geometry.bitSetLength.toDouble * graft.sketch.BloomSketch.NumBitSets
        assert(load === n.toDouble / cap, s"part $id")
        assert(math.abs(fpr - math.pow(1 - math.exp(-geometry.k * n / m), geometry.k))
          <= 1e-12, s"part $id")
      }
    // the default capacity, 65,536 per part, holds the fixture's ~25
    val roomy = s"$workDir/build_health_roomy"
    val quiet = stderrOf(SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, roomy)))
    val ok = health(roomy)
    assert(ok.size === nParts)
    assert(ok.forall { case (_, _, cap, bpi, load, _) =>
      cap == (1 << 16) && bpi == 16 && load <= 1 })
    checkModel(ok)
    assert(!quiet.contains("Bloom filters of parts"), quiet)
    // 8 per part: every part holds more conversations than its filter
    val tight = s"$workDir/build_health_tight"
    val warned = stderrOf(SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, tight, bloomPerPartCapacity = 8)))
    val over = health(tight)
    checkModel(over)
    val overloaded = over.collect { case (id, _, _, _, load, _) if load > 1 => id }.sorted
    assert(overloaded.nonEmpty)
    assert(warned.contains(s"Bloom filters of parts ${overloaded.mkString(", ")} at $tight"),
      warned)
  }

  test("a probe warns on the parts whose Bloom filters are past their design load") {
    def probeWarning(out: String): String =
      stderrOf(ProbeJob.probeBank(spark, probeKeys, out, "conv_id"))
        .linesIterator.filter(_.startsWith("WARN ProbeJob:")).mkString("\n")
    val roomy = s"$workDir/probe_health_roomy"
    SketchBuildJob.run(spark, SketchBuildJob.Config(tablePath, roomy))
    assert(probeWarning(roomy) === "")
    // at capacity 8 the log's bloom_load is above 1 wherever a part holds
    // more than 8 conversations
    val tight = s"$workDir/probe_health_tight"
    stderrOf(SketchBuildJob.run(spark,
      SketchBuildJob.Config(tablePath, tight, bloomPerPartCapacity = 8)))
    val overloaded = logEntries(tight).flatMap(_.get("parts").elements().asScala)
      .filter(_.get("bloom_load").asDouble() > 1).map(_.get("part_id").asInt()).sorted
    assert(overloaded.nonEmpty)
    val warning = probeWarning(tight)
    val named = """Bloom filters of parts ([0-9, ]+) at""".r.findFirstMatchIn(warning)
      .map(_.group(1).split(", ").map(_.toInt).toSeq)
    assert(named === Some(overloaded), warning)
    assert(warning.contains(s" at $tight hold more conversations than their capacity"), warning)
  }
}
