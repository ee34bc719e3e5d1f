package graft.bench

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import graft.data.DocCorpusGen
import graft.jobs.JobSession

/** Scale-evidence harness (VERDICT r4 "Next round #1"): the heavy
  * dedup/CC/ANN queries executed unmodified over DocCorpusGen corpora at
  * 1x and >=10x the sf0.1 row counts, with per-query task metrics —
  * wall time, shuffle read/write bytes, spill bytes, and max/median task
  * skew — captured by a SparkListener so the growth claim in BENCH.md is
  * measured, not asserted.
  *
  * Modes:
  *   --mode gen --out DIR --docs N --vecs N     synthesize a corpus
  *   --mode run --dir DIR --cores C --queries a,b --json OUT.jsonl
  *     run each named SparkEntry query twice (pass 1 = cold, including
  *     any memoized index build; pass 2 = warm) and append one JSON line
  *     per query. Run each corpus in its OWN JVM (bench/scale_evidence.sh)
  *     so JIT/heap state cannot leak between levels.
  */
object ScaleEvidence {

  private def jfmt(v: Double, p: String): String =
    String.format(java.util.Locale.ROOT, p, Double.box(v))

  /** Accumulates per-task metrics between resets. Synchronized: the
    * listener bus delivers from its own thread. */
  private final class Collector extends SparkListener {
    val durations = new ArrayBuffer[(Int, Long)]() // (stageId, taskMs)
    var shuffleRead = 0L
    var shuffleWrite = 0L
    var memSpill = 0L
    var diskSpill = 0L
    var failed = 0

    override def onTaskEnd(te: SparkListenerTaskEnd): Unit = synchronized {
      if (te.taskInfo != null) {
        if (!te.taskInfo.successful) failed += 1
        durations += ((te.stageId, te.taskInfo.duration))
      }
      val m = te.taskMetrics
      if (m != null) {
        shuffleRead += m.shuffleReadMetrics.totalBytesRead
        shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        memSpill += m.memoryBytesSpilled
        diskSpill += m.diskBytesSpilled
      }
    }

    def reset(): Unit = synchronized {
      durations.clear(); shuffleRead = 0L; shuffleWrite = 0L
      memSpill = 0L; diskSpill = 0L; failed = 0
    }

    /** True when any drain since the last CLEAN drain timed out — the
      * pass boundary is then unreliable and the numbers say so. NOT
      * cleared by reset(): a dirty pre-pass drain taints the pass that
      * follows it. */
    @volatile var drainDirty = false

    /** The listener bus is async — wait until the task count is stable
      * so a pass's tail events are not charged to the next pass. A
      * timed-out wait marks the collector dirty instead of giving up
      * silently (the cap exists only to survive a wedged bus). */
    def drain(): Unit = {
      var last = -1
      var stable = 0
      var spins = 0
      while (stable < 3 && spins < 600) {
        val n = synchronized(durations.length)
        if (n == last) stable += 1 else { stable = 0; last = n }
        Thread.sleep(100)
        spins += 1
      }
      if (stable >= 3) drainDirty = false
      else {
        drainDirty = true
        System.err.println("[scale] WARN: listener bus still busy after " +
          "60 s — pass boundary unreliable, marking drain_clean=false")
      }
    }

    def json(sec: Double): String = synchronized {
      val ds = durations.map(_._2).sorted
      val p50 = if (ds.isEmpty) 0L else ds(ds.length / 2)
      val max = if (ds.isEmpty) 0L else ds.last
      // data skew is a WITHIN-stage property: a query mixing a heavy
      // candidate-join stage with dozens of 5 ms bookkeeping tasks (the
      // CC iteration jobs) has a huge cross-stage max/p50 that says
      // nothing about balance. Report the worst max/median over stages
      // doing real work (>= 4 tasks, max >= 500 ms — below that,
      // scheduling jitter dominates and the ratio is noise).
      val worst = durations.groupBy(_._1).values
        .filter(st => st.length >= 4 && st.map(_._2).max >= 500L)
        .map { st =>
          val s = st.map(_._2).sorted
          s.last.toDouble / math.max(1L, s(s.length / 2))
        }
      val stageSkew = if (worst.isEmpty) 1.0 else worst.max
      s"""{"sec":${jfmt(sec, "%.3f")},"tasks":${ds.length},"failed_tasks":$failed,""" +
        s""""shuffle_read_mb":${jfmt(shuffleRead / 1048576.0, "%.2f")},""" +
        s""""shuffle_write_mb":${jfmt(shuffleWrite / 1048576.0, "%.2f")},""" +
        s""""spill_mem_mb":${jfmt(memSpill / 1048576.0, "%.2f")},""" +
        s""""spill_disk_mb":${jfmt(diskSpill / 1048576.0, "%.2f")},""" +
        s""""task_p50_ms":$p50,"task_max_ms":$max,""" +
        s""""stage_skew":${jfmt(stageSkew, "%.2f")},"drain_clean":${!drainDirty}}"""
    }
  }

  private def session(cores: Int): SparkSession =
    JobSession.local(s"graft-scale-evidence-$cores", cores, extras = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.files.maxPartitionBytes" -> sys.env.getOrElse("GRAFT_SPLIT_BYTES", "16m")))

  def main(args: Array[String]): Unit = {
    val argMap = args.sliding(2, 2).collect { case Array(k, v) => k -> v }.toMap
    argMap.get("--mode") match {
      case Some("gen") =>
        val out = argMap("--out")
        val nDocs = argMap.getOrElse("--docs", "50000").toLong
        val nVecs = argMap.getOrElse("--vecs", "20000").toLong
        val hot = argMap.getOrElse("--hot-permille", "0").toInt
        if (Files.exists(Paths.get(out))) {
          // same doctrine as ScalingBench: a silent skip mislabels evidence
          System.err.println(s"[scale] corpus at $out exists — REUSING; " +
            s"--docs $nDocs/--vecs $nVecs NOT applied (delete to regenerate)")
        } else {
          val spark = session(Runtime.getRuntime.availableProcessors())
          try DocCorpusGen.write(spark, out, seed = 42L, nDocs, nVecs, hot)
          finally spark.stop()
        }

      case Some("run") =>
        val dir = argMap("--dir")
        val cores = argMap.getOrElse("--cores", "32").toInt
        val outJson = argMap("--json")
        val names = argMap("--queries").split(',').toSeq
        val spark = session(cores)
        val collector = new Collector
        spark.sparkContext.addSparkListener(collector)
        try {
          names.foreach { name =>
            val fn = graft.SparkEntry.queries.getOrElse(name,
              sys.error(s"unknown query: $name"))
            val passes = (1 to 2).map { _ =>
              collector.drain()
              collector.reset()
              val t0 = System.nanoTime()
              val rows = fn(spark, dir).count()
              val sec = (System.nanoTime() - t0) / 1e9
              collector.drain()
              (rows, collector.json(sec))
            }
            val line = s"""{"query":"$name","dir":"$dir","cores":$cores,""" +
              s""""rows":${passes.head._1},"cold":${passes(0)._2},"warm":${passes(1)._2}}"""
            Files.write(Paths.get(outJson), (line + "\n").getBytes("UTF-8"),
              StandardOpenOption.CREATE, StandardOpenOption.APPEND)
            // scalastyle:off println
            println(line)
            // scalastyle:on println
          }
        } finally spark.stop()

      // embedding near-dup at a chosen SRP width: the driver query pins
      // srpBits=12, which saturates once bucket population ~ cluster
      // size (the r5 M=100 run: 400k clustered vectors made 12-bit
      // buckets quadratic and the JVM died) — the scale path grows
      // srpBits with log2(n), and this mode measures it.
      case Some("embed") =>
        val dir = argMap("--dir")
        val bits = argMap.getOrElse("--srp-bits", "20").toInt
        val cores = argMap.getOrElse("--cores", "32").toInt
        val spark = session(cores)
        val collector = new Collector
        spark.sparkContext.addSparkListener(collector)
        try {
          import org.apache.spark.sql.{functions => F}
          val embs = spark.read.parquet(s"$dir/embeddings.parquet")
          val jittered = embs.select((F.col("vec_id") + 100000000L).as("vec_id"),
            F.transform(F.col("embedding"), x => x * F.lit(1.0001f)).as("embedding"))
          val corpus = embs.select(F.col("vec_id"), F.col("embedding"))
            .unionAll(jittered)
          collector.reset()
          val t0 = System.nanoTime()
          val rows = graft.ops.Dedup.embeddingDupPairs(
            corpus, "vec_id", "embedding", threshold = 0.999, srpBits = bits).count()
          val sec = (System.nanoTime() - t0) / 1e9
          collector.drain()
          val line = s"""{"query":"embedding_near_dups_srp$bits","dir":"$dir",""" +
            s""""cores":$cores,"rows":$rows,"cold":${collector.json(sec)}}"""
          // scalastyle:off println
          println(line)
          // scalastyle:on println
          argMap.get("--json").foreach(p =>
            Files.write(Paths.get(p), (line + "\n").getBytes("UTF-8"),
              StandardOpenOption.CREATE, StandardOpenOption.APPEND))
        } finally spark.stop()

      // BPE trainer at a realistic vocabulary scale (VERDICT r4 next #5):
      // wall time, merges produced, and driver RSS at the word-freq cap —
      // the one driver-heavy loop in main, so its memory footprint is
      // evidence, not a docstring claim.
      case Some("bpe") =>
        val dir = argMap("--dir")
        val merges = argMap.getOrElse("--merges", "5000").toInt
        val cores = argMap.getOrElse("--cores", "32").toInt
        val spark = session(cores)
        try {
          val docs = spark.read.parquet(s"$dir/documents.parquet")
          val nDocs = docs.count()
          val t0 = System.nanoTime()
          val out = graft.ops.Vocab.bpeTrain(docs, "text", merges)
          val produced = out.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
            .find(_.startsWith("VmRSS:"))
            .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
          val line = s"""{"metric":"bpe_train","dir":"$dir","docs":$nDocs,""" +
            s""""merges_requested":$merges,"merges_produced":$produced,""" +
            s""""sec":${jfmt(sec, "%.2f")},"driver_rss_mb":${rssKb / 1024}}"""
          // scalastyle:off println
          println(line)
          // scalastyle:on println
          argMap.get("--json").foreach(p =>
            Files.write(Paths.get(p), (line + "\n").getBytes("UTF-8"),
              StandardOpenOption.CREATE, StandardOpenOption.APPEND))
        } finally spark.stop()

      case other => sys.error(s"--mode must be gen|run|embed|bpe, got $other")
    }
  }
}
