package sketchbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.{FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.catalyst.expressions.aggregate.{Partial, PartialMerge, Final, Complete}
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the traced run: workload round -> public call -> Spark job
  * -> stage. Times are epoch milliseconds (Spark's listener clock). */
final case class Span(id: Long, parent: Long, round: Int, kind: String, name: String,
    startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** What one query execution's final physical plan reports (SQL metrics). */
final case class PlanStats(aggPartialMs: Long, aggFinalMs: Long, exchangeBytes: Long,
    candidateRows: Long, bloomFilterRows: Long)

/** The benchmark's own call boundary. `call` times a public entry point;
  * with tracing off it is a plain function call plus one branch. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 1L
  private var roundSpan: Option[Span] = None
  private val t0Nanos = System.nanoTime()
  private val t0Ms = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Nanos) / 1e6

  def allSpans: Seq[Span] = spans.toSeq

  def round[T](r: Int)(f: => T): T = {
    if (!enabled) return f
    sc.setLocalProperty(Collector.RoundProp, r.toString)
    val start = nowMs
    val id = nextId; nextId += 1
    roundSpan = Some(Span(id, 0L, r, "round", "round", start, start))
    try f finally {
      spans += roundSpan.get.copy(endMs = nowMs)
      roundSpan = None
      sc.setLocalProperty(Collector.RoundProp, null)
    }
  }

  def call[T](name: String)(f: => T): T = {
    if (!enabled) return f
    val start = nowMs
    val id = nextId; nextId += 1
    try f finally {
      val rs = roundSpan
      spans += Span(id, rs.map(_.id).getOrElse(0L), rs.map(_.round).getOrElse(-1), "call",
        name, start, nowMs)
    }
  }
}

/** Listener collector: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for the SQL operator metrics of each finished
  * query. Both ride the shared listener queue, so a marker job seen by
  * [[drain]] means every earlier event has been delivered. */
final class Collector(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Collector._

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Int, Int]()
  val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageRec]()
  val tasks = new java.util.concurrent.ConcurrentLinkedQueue[TaskRec]()
  @volatile private var drainLatch: Option[(String, CountDownLatch)] = None
  @volatile private var drainJob = -1
  /** (planning start, epoch ms; SQL metrics) of every finished query. */
  private val queries = new java.util.concurrent.ConcurrentLinkedQueue[(Long, PlanStats)]()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def unregister(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs a marker job and waits until this listener has seen it end. */
  def drain(timeoutMs: Long): Boolean = {
    val sc = spark.sparkContext
    val tag = s"drain-${System.nanoTime()}"
    val latch = new CountDownLatch(1)
    drainLatch = Some((tag, latch))
    sc.setLocalProperty(DrainProp, tag)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(DrainProp, null)
    val ok = latch.await(timeoutMs, TimeUnit.MILLISECONDS)
    drainLatch = None
    ok
  }

  private def prop(p: java.util.Properties, k: String): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty(k)))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = e.properties
    if (prop(p, DrainProp).isDefined) {
      if (drainLatch.exists(d => prop(p, DrainProp).contains(d._1))) drainJob = e.jobId
      return
    }
    val round = prop(p, RoundProp).map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, JobRec(e.jobId, round, e.time, -1L))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
    else if (e.jobId == drainJob) drainLatch.foreach(_._2.countDown())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val jobId = stageToJob.getOrDefault(si.stageId, -1)
    if (jobId < 0) return
    val m = si.taskMetrics
    stages.add(StageRec(si.stageId, si.attemptNumber(), jobId,
      si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
      if (m == null) 0L else m.diskBytesSpilled,
      si.failureReason.isDefined))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (!stageToJob.containsKey(e.stageId)) return
    val gc = Option(e.taskMetrics).map(_.jvmGCTime).getOrElse(0L)
    tasks.add(TaskRec(e.stageId, e.taskInfo.duration, gc, e.taskInfo.failed))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.get(QueryPlanningTracker.PLANNING).foreach(p =>
      queries.add((p.startTimeMs, planStats(qe.executedPlan))))

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Queries planned while `call` ran: physical planning happens when the
    * action runs, on the one driver thread. */
  def planStatsOf(call: Span): Seq[PlanStats] =
    queries.asScala.collect {
      case (t, p) if t >= call.startMs - 1 && t <= call.endMs => p
    }.toSeq

  /** Spark job and stage spans, parented to the call whose interval holds
    * the job's start (one driver thread, one action in flight). */
  def sparkSpans(calls: Seq[Span], firstId: Long): Seq[Span] = {
    var id = firstId
    val out = mutable.ArrayBuffer[Span]()
    val byJob = stages.asScala.toSeq.groupBy(_.jobId)
    jobs.values().asScala.toSeq.sortBy(_.jobId).foreach { j =>
      if (j.round >= 0 && j.endMs >= 0) {
        val parent = calls.find(c => c.round == j.round && c.startMs <= j.startMs + 1 &&
          j.startMs <= c.endMs + 1).map(_.id).getOrElse(0L)
        val jid = id; id += 1
        out += Span(jid, parent, j.round, "job", s"job-${j.jobId}", j.startMs.toDouble,
          j.endMs.toDouble)
        byJob.getOrElse(j.jobId, Nil).foreach { s =>
          out += Span(id, jid, j.round, "stage", s"stage-${s.stageId}.${s.attempt}",
            s.startMs.toDouble, s.endMs.toDouble)
          id += 1
        }
      }
    }
    out.toSeq
  }
}

object Collector {
  final case class JobRec(jobId: Int, round: Int, startMs: Long, var endMs: Long)
  final case class StageRec(stageId: Int, attempt: Int, jobId: Int, startMs: Long, endMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long, failed: Boolean)
  final case class TaskRec(stageId: Int, durMs: Long, gcMs: Long, failed: Boolean)

  val RoundProp = "sketchbench.round"
  val DrainProp = "sketchbench.drain"

  /** Every operator of a final plan in pre-order, each once: a cached
    * table's plan read by several branches is counted once. */
  private def nodes(root: SparkPlan): Seq[SparkPlan] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    def go(p: SparkPlan): Seq[SparkPlan] =
      if (!seen.add(p)) Nil
      else p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case i: InMemoryTableScanExec => i +: go(i.relation.cachedPlan)
        case other => other +: (other.children ++ other.subqueries).flatMap(go)
      }
    go(root)
  }

  private def metric(p: SparkPlan, k: String): Long =
    p.metrics.get(k).map(_.value).getOrElse(0L)

  private def stripStage(p: SparkPlan): SparkPlan = p match {
    case q: QueryStageExec => stripStage(q.plan)
    case other => other
  }

  private def isPartial(a: BaseAggregateExec): Boolean =
    a.aggregateExpressions.nonEmpty &&
      a.aggregateExpressions.forall(e => e.mode == Partial || e.mode == PartialMerge)

  /** SQL operator metrics of one finished query's final plan: aggregate
    * time split partial/final, bytes of exchanges fed by a partial
    * aggregate, output rows of the join closest to the root, and rows
    * passing a Bloom-membership filter. */
  def planStats(root: SparkPlan): PlanStats = {
    val all = nodes(root)
    var partial = 0L
    var fin = 0L
    all.foreach {
      case a: BaseAggregateExec =>
        if (isPartial(a)) partial += metric(a, "aggTime")
        else if (a.aggregateExpressions.exists(e => e.mode == Final || e.mode == Complete))
          fin += metric(a, "aggTime")
      case _ =>
    }
    val exchange = all.collect {
      case e: ShuffleExchangeExec => stripStage(e.child) match {
        case a: BaseAggregateExec if isPartial(a) => metric(e, "dataSize")
        case _ => 0L
      }
    }.sum
    // the verify join is the join nearest the root (the similarity filter
    // is pushed into its condition); the join feeding it outputs the
    // candidate pairs
    val candidates = all.collectFirst { case j: BaseJoinExec => j }
      .flatMap(top => nodes(top).drop(1).collectFirst { case j: BaseJoinExec => j })
      .map(metric(_, "numOutputRows")).getOrElse(0L)
    val bloomRows = all.collect {
      case f: FilterExec if f.condition.toString.toLowerCase.contains("bloom") =>
        metric(f, "numOutputRows")
    }.sum
    PlanStats(partial, fin, exchange, candidates, bloomRows)
  }

  private def measure(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Self time per layer of one round: each instant of the round's wall
    * time goes to the deepest layer active at that instant (stage, then
    * Spark job, then the public call's module, then the round itself), so
    * concurrent stages and jobs are counted once and the layers sum to
    * the round's wall time. */
  def selfTimes(round: Span, spans: Seq[Span], moduleOf: Span => String): Map[String, Double] = {
    def clip(xs: Seq[Span]) = xs.map(s =>
      (math.max(s.startMs, round.startMs), math.min(s.endMs, round.endMs)))
    val stageIv = clip(spans.filter(_.kind == "stage"))
    val busyIv = stageIv ++ clip(spans.filter(_.kind == "job"))
    val calls = spans.filter(_.kind == "call")
    val stage = measure(stageIv)
    val job = measure(busyIv) - stage
    val perCall = calls.map { c =>
      val inC = busyIv.map { case (a, b) => (math.max(a, c.startMs), math.min(b, c.endMs)) }
      moduleOf(c) -> (c.durMs - measure(inC))
    }.groupBy(_._1).map { case (m, xs) => m -> xs.map(_._2).sum }
    perCall ++ Map("spark_stage" -> stage, "spark_job" -> job,
      "round" -> (round.durMs - measure(clip(calls) ++ busyIv)))
  }
}
