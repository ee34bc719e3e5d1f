package sketchbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) return 0.0
    val pos = q * (s.length - 1)
    val lo = pos.floor.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** The benchmark's entry point: one JVM at local[nproc], a closed loop with
  * one driver thread and one action in flight.
  *
  * `--trace 0` measures the end-to-end metrics with no listener and no
  * span recording. `--trace 1` is the separate traced run: untraced and
  * traced rounds (their ratio is the tracing overhead), listener-derived
  * stage and SQL-operator metrics, spans with self times, and the layer
  * harness for `graft.core`, `graft.sketch` and the Catalyst expressions.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, traceDir: File)

  private def parse(args: Array[String]): Args = {
    val m = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", new File(need("--work")), new File(need("--trace-dir")))
  }

  private def session(master: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .appName("sketchbench")
      .master(s"local[$master]")
      .config("spark.sql.shuffle.partitions", master.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The reference job: a fixed Spark job built only from Spark's own
    * operators (no program code) — scan, hash, shuffle, aggregate over 4M
    * rows on every core. */
  private def referenceJob(spark: SparkSession): Double = secondsOf {
    spark.range(0L, 4000000L, 1L, Runtime.getRuntime.availableProcessors())
      .selectExpr("xxhash64(id) % 4096 as k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
      .collect()
  }._2

  private def secondsOf[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  private def cpuNanos(): Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** One round's record. */
  final case class Round(id: Int, seconds: Double, ok: Boolean, gates: Seq[Gate],
      accuracy: Seq[Metric])

  /** Runs rounds of one workload against one session and keeps score. */
  final class Runner(w: Workload, work: File) {
    val rounds = mutable.ArrayBuffer[Round]()
    private var next = 0

    def run(spark: SparkSession, tracer: Tracer): Round = {
      val id = next
      next += 1
      // cold/warm honesty: no cached plan or persisted table and no earlier
      // job output enters a timed round
      spark.catalog.clearCache()
      val out = new File(work, s"out-$id")
      Workloads.deleteRecursively(out)
      val cpu0 = cpuNanos()
      val t0 = System.nanoTime()
      val result = try Right(tracer.round(id)(w.round(spark, out.getAbsolutePath, tracer)))
        catch { case e: Exception => Left(e) }
      val secs = (System.nanoTime() - t0) / 1e9
      val cpuS = (cpuNanos() - cpu0) / 1e9
      val r = result match {
        case Left(e) =>
          System.err.println(s"round $id failed: $e")
          Round(id, secs, ok = false, Seq(Gate("round_completed", ok = false, e.toString)), Nil)
        case Right(o) =>
          val c = try w.check(spark, out.getAbsolutePath, o.asInstanceOf[w.Out])
            catch { case e: Exception => Checked(Seq(Gate("check_ran", ok = false, e.toString)), Nil) }
          c.gates.filterNot(_.ok).foreach(g => System.err.println(
            s"round $id gate ${g.name} FAILED: ${g.detail}"))
          Round(id, secs, c.gates.forall(_.ok), c.gates, c.accuracy)
      }
      Workloads.deleteRecursively(out)
      System.err.println(f"sketchbench: round $id ${secs}%.3f s cpu ${cpuS}%.3f s, checked in " +
        f"${(System.nanoTime() - t0) / 1e9 - secs}%.3f s")
      rounds += r
      r
    }

    /** Rounds for `seconds` of wall time (at least `minRounds`). */
    def window(spark: SparkSession, tracer: Tracer, seconds: Double, minRounds: Int,
        after: Round => Unit = _ => (), before: () => Unit = () => ()): Seq[Round] = {
      val t0 = System.nanoTime()
      val got = mutable.ArrayBuffer[Round]()
      while (got.size < minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
        before()
        val r = run(spark, tracer)
        after(r)
        got += r
      }
      got.toSeq
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val w = Workloads(a.workload, a.seed)
    a.work.mkdirs()
    var spark = session(cores, a.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val off = new Tracer(spark, enabled = false)

    // set-up, repeated: each preparation writes fresh inputs; the last is kept
    val prepReps = if (a.trace) 1 else 3
    val prepS = (0 until prepReps).map { _ =>
      val dir = new File(a.work, "input")
      Workloads.deleteRecursively(dir)
      secondsOf(w.prepare(spark, dir.getAbsolutePath))._2
    }
    val (_, exactS) = secondsOf(w.exact(spark))
    System.err.println(f"sketchbench: session ${sessionS}%.2f s, preparations " +
      prepS.map(x => f"$x%.2f").mkString(", ") + f" s, exact answers ${exactS}%.2f s")

    val runner = new Runner(w, a.work)
    // the first round is what a once-per-process job pays; five more
    // untimed rounds, each after a reference job, let the JIT settle
    // before anything is timed
    val first = runner.run(spark, off)
    val warmS = Seq.fill(5) { referenceJob(spark); runner.run(spark, off).seconds }.sum
    val setupS = sessionS + Stats.median(prepS) + first.seconds + warmS

    def say(s: String): Unit = println(s)
    say(s"workload ${w.name}  seed ${a.seed}  local[$cores]  rows/round ${w.rows} ${w.rowUnit}  " +
      s"mode ${if (a.trace) "traced" else "end-to-end"}")

    val metrics: Seq[Metric] =
      if (!a.trace) {
        // each timed round follows a run of the reference job, and is
        // reported in units of it: a machine-wide slowdown (CPU steal on a
        // shared host moves whole runs by 20-40%) stretches both
        val ref = mutable.ArrayBuffer[Double]()
        val timed = runner.window(spark, off, a.seconds, minRounds = 3,
          before = () => ref += referenceJob(spark))
        System.err.println("sketchbench: timed round/reference seconds " +
          timed.zip(ref).map { case (r, c) => f"${r.seconds}%.3f/$c%.3f" }.mkString(" "))
        val med = Stats.median(timed.map(_.seconds))
        val medRef = Stats.median(ref.toSeq)
        val relative = Stats.median(timed.zip(ref).map { case (r, c) => r.seconds / c })
        val thr = w.rows / med
        val extra = mutable.ArrayBuffer[Metric]()
        if (w.name == "sketch_build") {
          // north-rule efficiency: the same input at local[1]
          spark.stop()
          spark = session(1, a.work)
          val one = Seq.fill(2)(runner.run(spark, off))
          val thr1 = w.rows / Stats.median(one.map(_.seconds))
          extra += Metric("scaling_eff", thr / (cores * thr1), "ratio")
          say(f"scaling: local[$cores] ${thr}%.0f rows/s, local[1] ${thr1}%.0f rows/s " +
            s"(${one.size} rounds)")
        }
        val rss = peakRssMb()
        say(f"timed rounds ${timed.size}: median ${med}%.4f s, min ${timed.map(_.seconds).min}%.4f s, " +
          f"max ${timed.map(_.seconds).max}%.4f s; reference job median ${medRef}%.4f s, " +
          f"round/reference median ${relative}%.4f")
        Seq(
          Metric("throughput_norm", w.rows / relative, "rows/ref"),
          Metric("throughput_rows_s", thr, "rows/s"),
          Metric("first_round_s", first.seconds, "s"),
          Metric("setup_s", setupS, "s"),
          Metric("peak_rss_mb", rss, "MB")) ++ extra
      } else traced(spark, w, runner, a, cores, prepS.head, say)

    val all = runner.rounds.toSeq
    val failedRounds = all.count(!_.ok)
    val failedGates = all.map(_.gates.count(!_.ok)).sum
    val gatesRun = all.map(_.gates.size).sum
    val accuracy = all.flatMap(_.accuracy).groupBy(_.name).toSeq.sortBy(_._1).map {
      case (n, ms) => Metric(n, ms.map(_.value).max, ms.head.unit)
    }
    val failureRatio = (failedRounds + failedGates).toDouble / all.size
    (metrics ++ Seq(Metric("failure_ratio", failureRatio, "ratio")) ++ accuracy).foreach { m =>
      say(f"  ${m.name}%-42s ${m.value}%16.6f  ${m.unit}")
    }
    say(s"rounds attempted ${all.size}, failed $failedRounds; gates run $gatesRun, " +
      s"failed $failedGates (accuracy figures are the worst over all rounds)")

    val declared = if (a.trace) Declared.perLayer else Declared.endToEnd
    val byName = metrics.map(m => m.name -> m).toMap
    val missing = declared.filterNot { case (n, _) => byName.contains(n) }
    require(missing.isEmpty, s"metrics not produced: ${missing.map(_._1).mkString(", ")}")
    val json = declared.map { case (n, unit) =>
      val v = byName(n).value
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$unit"}"""
    }.mkString("{", ", ", "}")
    spark.stop()
    val correct = failedRounds == 0
    println(s"""{"correct": $correct, "attempted": ${all.size}, "failed": $failedRounds, """ +
      s""""metrics": $json}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  /** The traced run: per-layer metrics, spans and the self-time table. */
  private def traced(spark: SparkSession, w: Workload, runner: Runner, a: Args, cores: Int,
      genS: Double, say: String => Unit): Seq[Metric] = {
    val off = new Tracer(spark, enabled = false)
    val tracer = new Tracer(spark, enabled = true)
    val col = new Collector(spark)
    val dirty = mutable.Set[Int]()
    val untraced = mutable.ArrayBuffer[Round]()
    val tracedRounds = mutable.ArrayBuffer[Round]()
    // untraced and traced rounds alternate, so warm-up drift does not
    // enter the overhead ratio; listeners are registered for traced
    // rounds only
    val t0 = System.nanoTime()
    while (tracedRounds.size < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      untraced += runner.run(spark, off)
      col.register()
      val r = runner.run(spark, tracer)
      if (!col.drain(10000)) {
        System.err.println(s"round ${r.id}: listener drain timed out; round marked dirty")
        dirty += r.id
      }
      col.unregister()
      tracedRounds += r
    }
    val untracedS = untraced.map(_.seconds).toSeq
    val tracedS = tracedRounds.map(_.seconds).toSeq
    val clean = tracedRounds.toSeq.filterNot(r => dirty.contains(r.id))
    val cleanIds = clean.map(_.id).toSet
    val med = (xs: Seq[Double]) => if (xs.isEmpty) 0.0 else Stats.median(xs)

    val callSpans = tracer.allSpans.filter(_.kind == "call")
    val spans = tracer.allSpans ++ col.sparkSpans(callSpans, 1000000L)
    val layers = Seq("round", "jobs", "ops", "data", "spark_job", "spark_stage")
    val roundSpans = clean.flatMap(r => spans.find(s => s.kind == "round" && s.round == r.id))
    val selfByRound = roundSpans.map { rs =>
      val st = Collector.selfTimes(rs, spans.filter(s => s.round == rs.round && s.kind != "round"),
        _.name.split('.').head)
      rs.round -> layers.map(l => l -> st.getOrElse(l, 0.0)).toMap
    }.toMap
    val roundMs = roundSpans.map(_.durMs)
    say(f"self time per layer (median over ${clean.size} clean traced rounds, ms):")
    layers.foreach { l =>
      say(f"  $l%-14s ${med(clean.map(r => selfByRound(r.id)(l)))}%12.2f")
    }
    say(f"  ${"sum"}%-14s ${med(clean.map(r => selfByRound(r.id).values.sum))}%12.2f" +
      f"   round wall ${med(roundMs)}%.2f")
    say("public calls (median ms over clean traced rounds):")
    callSpans.filter(s => cleanIds.contains(s.round)).groupBy(_.name).toSeq.sortBy(_._1)
      .foreach { case (n, ss) => say(f"  $n%-42s ${med(ss.map(_.durMs))}%10.2f") }
    val overhead = med(tracedS) / med(untracedS) - 1.0
    say(f"tracing overhead: traced round median / untraced round median - 1 = $overhead%.4f " +
      s"(${tracedRounds.size} traced, ${untraced.size} untraced, ${dirty.size} dirty)")

    // stage metrics per clean round
    val jobRound = col.jobs.values().asScala.map(j => j.jobId -> j.round).toMap
    val stages = col.stages.asScala.toSeq.filter(s => cleanIds.contains(jobRound(s.jobId)))
    val stageRound = stages.map(s => s.stageId -> jobRound(s.jobId)).toMap
    val tasks = col.tasks.asScala.toSeq.filter(t => stageRound.contains(t.stageId))
    val roundSecs = clean.map(r => r.id -> r.seconds).toMap
    def perRound(f: Int => Double): Double = med(clean.map(r => f(r.id)))
    def stagesOf(r: Int) = stages.filter(s => jobRound(s.jobId) == r)
    def tasksOf(r: Int) = tasks.filter(t => stageRound(t.stageId) == r)
    val stageMetrics = Seq(
      Metric("stage.shuffle_write_bytes", perRound(r => stagesOf(r).map(_.shuffleWrite).sum), "bytes"),
      Metric("stage.shuffle_read_bytes", perRound(r => stagesOf(r).map(_.shuffleRead).sum), "bytes"),
      Metric("stage.spill_bytes", perRound(r => stagesOf(r).map(_.spill).sum), "bytes"),
      Metric("stage.tasks", perRound(r => tasksOf(r).size), "count"),
      Metric("stage.task_p50_ms", perRound(r => med(tasksOf(r).map(_.durMs.toDouble))), "ms"),
      Metric("stage.task_max_ms", perRound(r =>
        (0L +: tasksOf(r).map(_.durMs)).max.toDouble), "ms"),
      Metric("stage.skew", perRound { r =>
        val per = tasksOf(r).groupBy(_.stageId).values.filter(_.size >= 2)
          .map(ts => ts.map(_.durMs).max / math.max(1.0, med(ts.map(_.durMs.toDouble))))
        if (per.isEmpty) 1.0 else per.max
      }, "ratio"),
      Metric("stage.busy_ratio", perRound(r =>
        tasksOf(r).map(_.durMs).sum / (roundSecs(r) * 1000.0 * cores)), "ratio"),
      Metric("stage.gc_ms", perRound(r => tasksOf(r).map(_.gcMs).sum.toDouble), "ms"),
      Metric("stage.failed_tasks", perRound(r => tasksOf(r).count(_.failed).toDouble), "count"))

    // SQL operator metrics and call durations
    def plansOf(r: Int): Seq[PlanStats] = callSpans.filter(_.round == r).flatMap(col.planStatsOf)
    def callS(name: String): Double =
      med(callSpans.filter(s => s.name == name && cleanIds.contains(s.round)).map(_.durMs)) / 1000.0
    /** Per clean round, the plan statistics of one call's queries summed. */
    def statsOf(name: String, f: PlanStats => Long): Seq[Double] =
      callSpans.filter(s => s.name == name && cleanIds.contains(s.round))
        .map(c => col.planStatsOf(c).map(f).sum.toDouble)
    val aggMetrics = Seq(
      Metric("spark.agg.partial_ms", perRound(r => plansOf(r).map(_.aggPartialMs).sum), "ms"),
      Metric("spark.agg.final_ms", perRound(r => plansOf(r).map(_.aggFinalMs).sum), "ms"),
      Metric("spark.agg.exchange_bytes", perRound(r => plansOf(r).map(_.exchangeBytes).sum), "bytes"))

    val acc = clean.flatMap(_.accuracy).groupBy(_.name).map { case (n, ms) => n -> med(ms.map(_.value)) }
    def pairsMetric(call: String, prefix: String, pairs: Double): Seq[Metric] = {
      val cands = med(statsOf(call, _.candidateRows))
      Seq(Metric(s"$prefix.candidates", cands, "count"),
        Metric(s"$prefix.pairs", pairs, "count"),
        Metric(s"$prefix.yield", if (cands > 0) pairs / cands else 0.0, "ratio"))
    }
    val nd = w.name == "near_dup"
    val bp = w.name == "bank_probe"
    // rows passing BloomJoin's prefilter; members always pass
    val passed = med(statsOf("ops.BloomJoin.semi", _.bloomFilterRows))
    val members = w.rows - acc.getOrElse("bloom_nonmember_probes", 0.0)
    val exactPairs = acc.getOrElse("exact_pairs", 0.0)
    val mhPairs = exactPairs * acc.getOrElse("minhash_recall", 0.0)
    val opsMetrics =
      Seq(Metric("ops.ngram_s", callS("ops.Dedup.ngramJaccardPairs"), "s")) ++
        pairsMetric("ops.Dedup.ngramJaccardPairs", "ops.ngram", if (nd) exactPairs else 0.0) ++
        Seq(Metric("ops.minhash_s", callS("ops.Dedup.minhashLshPairs"), "s")) ++
        pairsMetric("ops.Dedup.minhashLshPairs", "ops.minhash", if (nd) mhPairs else 0.0) ++
        Seq(Metric("ops.cc_s", callS("ops.Dedup.keepClusterRepresentatives"), "s"),
          Metric("ops.cc.components", if (nd) acc.getOrElse("components", 0.0) else 0.0, "count"),
          Metric("ops.bloomjoin_s", callS("ops.BloomJoin.semi"), "s"),
          Metric("ops.bloomjoin.pass_ratio", if (bp) passed / w.rows else 0.0, "ratio"),
          Metric("ops.bloomjoin.fp", if (bp) passed - members else 0.0, "count"))

    // graft.jobs: a resumed build with every part done is the rollup alone
    val jobsMetrics = {
      val (rollupS, partsBytes) = w match {
        case sb: SketchBuild =>
          val out = new File(a.work, "rollup")
          Workloads.deleteRecursively(out)
          sb.round(spark, out.getAbsolutePath, off)
          val s = med(Seq.fill(2)(secondsOf(sb.round(spark, out.getAbsolutePath, off))._2))
          val bytes = Workloads.dirBytes(new File(out, "parts")).toDouble
          Workloads.deleteRecursively(out)
          (s, bytes)
        case _ => (0.0, 0.0)
      }
      Seq(Metric("jobs.build_s", callS("jobs.SketchBuildJob.run"), "s"),
        Metric("jobs.parts_bytes", partsBytes, "bytes"),
        Metric("jobs.rollup_s", rollupS, "s"),
        Metric("jobs.probe_bank_s", callS("jobs.ProbeJob.probeBank"), "s"))
    }

    // graft.data: the scan floor over the columns the workload reads
    val scans = w.scanned(spark)
    val scanS = med(Seq.fill(3)(secondsOf(scans.foreach { case (p, cols) =>
      spark.read.parquet(p).select(cols.head, cols.tail: _*)
        .write.format("noop").mode("overwrite").save()
    })._2))
    val dataMetrics = Seq(
      Metric("data.scan_s", scanS, "s"),
      Metric("data.input_bytes", scans.map(p => Workloads.dirBytes(new File(p._1))).sum.toDouble,
        "bytes"),
      Metric("data.gen_s", genS, "s"))

    val samples = w.samples(spark, 10000)
    val layerMetrics = Harness.core(samples) ++ Harness.sketches(samples) ++
      Harness.expressions(spark, samples)

    val traceMetrics = Seq(
      Metric("trace.overhead", overhead, "ratio"),
      Metric("trace.round_ms", med(roundMs), "ms")) ++
      layers.map(l => Metric(s"self.${l}_ms", perRound(r => selfByRound(r)(l)), "ms"))

    writeSpans(a, w, spans)
    layerMetrics ++ aggMetrics ++ stageMetrics ++ opsMetrics ++ jobsMetrics ++ dataMetrics ++
      traceMetrics
  }

  private def writeSpans(a: Args, w: Workload, spans: Seq[Span]): Unit = {
    a.traceDir.mkdirs()
    val f = new File(a.traceDir, s"${w.name}-seed${a.seed}.spans.jsonl")
    val pw = new PrintWriter(f, "UTF-8")
    try spans.sortBy(_.startMs).foreach { s =>
      pw.println(s"""{"id":${s.id},"parent":${s.parent},"round":${s.round},""" +
        s""""kind":"${s.kind}","name":"${s.name}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    } finally pw.close()
  }
}
