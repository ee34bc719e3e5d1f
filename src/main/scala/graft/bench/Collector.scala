package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** The task metrics of one timed pass (`Probe time`, `ScaleEvidence
  * --mode embed`): wall time, task count and failures, shuffle read and
  * write, spill, median and max task time, and the worst within-stage
  * skew, as one JSON object. Register it on the session's SparkContext.
  * Synchronized: the listener bus delivers from its own thread. */
final class Collector extends SparkListener {
  private val durations = new ArrayBuffer[(Int, Long)]() // (stageId, taskMs)
  private var shuffleRead = 0L
  private var shuffleWrite = 0L
  private var memSpill = 0L
  private var diskSpill = 0L
  private var failed = 0

  /** Runs `body` as one pass: waits out the previous pass's events,
    * resets, times `body` and waits for its events. Returns its result
    * and the pass's JSON. */
  def pass[T](body: => T): (T, String) = {
    drain()
    reset()
    val t0 = System.nanoTime()
    val result = body
    val sec = (System.nanoTime() - t0) / 1e9
    drain()
    (result, json(sec))
  }

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

  private def reset(): Unit = synchronized {
    durations.clear(); shuffleRead = 0L; shuffleWrite = 0L
    memSpill = 0L; diskSpill = 0L; failed = 0
  }

  /** True when any drain since the last CLEAN drain timed out — the
    * pass boundary is then unreliable and the numbers say so. NOT
    * cleared by reset(): a dirty pre-pass drain taints the pass that
    * follows it. */
  @volatile private var drainDirty = false

  /** The listener bus is async — wait until the task count is stable
    * so a pass's tail events are not charged to the next pass. A
    * timed-out wait marks the collector dirty instead of giving up
    * silently (the cap exists only to survive a wedged bus). */
  private def drain(): Unit = {
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
      System.err.println("[collector] WARN: listener bus still busy after " +
        "60 s — pass boundary unreliable, marking drain_clean=false")
    }
  }

  private def json(sec: Double): String = synchronized {
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
