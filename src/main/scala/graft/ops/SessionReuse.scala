package graft.ops

import java.lang.ref.SoftReference
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one per-session reuse registry: work that is paid once
  * per SparkSession and reused by later calls in the same session.
  *
  * Two operations share one weak-session-keyed map:
  *  - [[once]] builds a value once per (session, key) and returns it on
  *    every later call (a built query plan, a staged streaming input);
  *  - [[swap]] keeps ONE persisted generation per (session, key) for
  *    operator-internal cached frames.
  *
  * Disclosure by construction: every call records the `SparkEntry` query
  * that is running (set by [[during]]), so [[queries]] names exactly the
  * queries whose later invocations are amortized — a benchmark reports
  * their first (cold) invocation separately, and an amortized number
  * alone cannot be misread as end-to-end cost. Calls made outside a
  * contract query (library use, tests) record nothing.
  */
private[graft] object SessionReuse {

  private val reg = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Any, AnyRef]]())

  private val running = new scala.util.DynamicVariable[Option[String]](None)
  private val users = ConcurrentHashMap.newKeySet[String]()

  /** [[swap]] entries live under this wrapper, so a [[once]] key can never
    * alias a persist generation. */
  private final case class Generation(key: Any)

  /** Runs `body` as contract query `name`: reuse calls inside it record it. */
  def during[T](name: String)(body: => T): T = running.withValue(Some(name))(body)

  /** Names of the contract queries that have used the registry so far in
    * this JVM — read it after the queries ran. */
  def queries: Set[String] = users.asScala.toSet

  private def entries(s: SparkSession): ConcurrentHashMap[Any, AnyRef] = {
    running.value.foreach(users.add)
    reg.computeIfAbsent(s, _ => new ConcurrentHashMap[Any, AnyRef]())
  }

  /** `build` once per (session, key); later calls return the built value.
    *
    * ONLY values that still EXECUTE real work per action belong here —
    * memoizing a query that materializes its result at build time (a
    * streaming memory sink, checkpointed iteration output) would make
    * every re-invocation a free table scan and fake its bench number.
    *
    * Reachability: the session key is WEAK, but a cached DataFrame
    * strongly references its own SparkSession, so plain values would pin
    * their keys forever (the classic WeakHashMap self-reference trap).
    * Values are therefore held through SoftReferences — the key is then
    * reachable only softly through the cache, stopped sessions' entries
    * clear under memory pressure, and a cleared value simply rebuilds. */
  def once[T <: AnyRef](s: SparkSession, key: Any)(build: => T): T = {
    val perSession = entries(s)
    val cached = Option(perSession.get(key))
      .flatMap(r => Option(r.asInstanceOf[SoftReference[T]].get))
    cached.getOrElse {
      val v = build
      perSession.put(key, new SoftReference[AnyRef](v))
      v
    }
  }

  /** Generation swap for operator-internal persisted frames: each new
    * same-key invocation swaps in its generation and unpersists the
    * predecessor's, capping the strand at ONE generation per
    * (session, key).
    *
    * The sameSemantics guard is load-bearing: CacheManager keys cached
    * data by CANONICALIZED PLAN, so when a re-invocation rebuilds the
    * identical plan (same input, same config — exactly what a
    * benchmark's second pass does), the new persist() is a no-op against
    * the predecessor's entry and unpersisting the predecessor would
    * evict the ONE shared entry, leaving the new invocation silently
    * uncached (measured 7x on the t=0.5 ngram clustering input).
    * Same-semantics generations share the entry; nothing to release.
    *
    * Generations are held STRONGLY, unlike [[once]] values: a cleared
    * reference could never be unpersisted, stranding exactly the cache
    * entry this swap exists to bound. The cost is that a session with a
    * live generation stays reachable from the registry. */
  def swap(s: SparkSession, key: Any, dfs: Seq[DataFrame]): Unit = {
    val prev = entries(s).put(Generation(key), dfs)
    if (prev != null) prev.asInstanceOf[Seq[DataFrame]]
      .filterNot(p => dfs.exists(d => (d eq p) || p.sameSemantics(d)))
      .foreach(_.unpersist(blocking = false))
  }
}
