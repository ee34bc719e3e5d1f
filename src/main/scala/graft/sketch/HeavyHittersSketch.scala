package graft.sketch

import java.nio.ByteBuffer

import scala.collection.mutable

/** SpaceSaving heavy-hitters sketch (Metwally, Agrawal, El Abbadi 2005):
  * at most `capacity` counters; an untracked arrival evicts the minimum
  * counter and inherits its count as error. Guarantee: for every tracked
  * item, trueCount in [count - error, count], and any item with true
  * frequency > N/capacity is tracked.
  *
  * The counter set is indexed two ways: a hash map for O(1) tracked-item
  * lookup and an indexed binary MIN-HEAP ordered by (count, key) for
  * O(log capacity) eviction — the per-row hot path on high-cardinality
  * columns is mostly evictions, and a linear min scan there multiplies
  * every profiled row by `capacity`. The (count, key) total order also
  * makes the eviction victim DETERMINISTIC under count ties (a bare
  * min-by-count would pick by hash-map iteration order, so retried
  * Spark tasks could serialize different sketches for identical input).
  *
  * Merge follows the mergeable-summaries construction (Agarwal et al.
  * 2012): a key absent on one side contributes that side's minimum
  * counter as both count and error upper-bound; the union is then
  * truncated back to `capacity` counters. The [count - error, count]
  * guarantee survives merging.
  */
final class HeavyHittersSketch private (
    val capacity: Int,
    private var totalN: Long,
    private val counters: mutable.HashMap[String, HeavyHittersSketch.Counter])
    extends Mergeable[HeavyHittersSketch] with Serializable {

  import HeavyHittersSketch._

  // indexed min-heap over the same Counter objects; pos fields track
  // each counter's heap slot so increments re-sift in O(log capacity)
  private val heap = new mutable.ArrayBuffer[Counter](capacity)
  rebuildHeap()

  private def less(a: Counter, b: Counter): Boolean =
    a.count < b.count || (a.count == b.count && a.key < b.key)

  private def swap(i: Int, j: Int): Unit = {
    val a = heap(i); val b = heap(j)
    heap(i) = b; b.pos = i
    heap(j) = a; a.pos = j
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && less(heap(i), heap((i - 1) / 2))) {
      swap(i, (i - 1) / 2)
      i = (i - 1) / 2
    }
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var continue = true
    while (continue) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var m = i
      if (l < heap.length && less(heap(l), heap(m))) m = l
      if (r < heap.length && less(heap(r), heap(m))) m = r
      if (m == i) continue = false
      else { swap(i, m); i = m }
    }
  }

  private def rebuildHeap(): Unit = {
    heap.clear()
    counters.valuesIterator.foreach { c => c.pos = heap.length; heap += c }
    var i = heap.length / 2 - 1
    while (i >= 0) { siftDown(i); i -= 1 }
  }

  def n: Long = totalN

  def update(item: String, weight: Long = 1L): Unit = {
    totalN += weight
    counters.get(item) match {
      case Some(c) =>
        c.count += weight
        siftDown(c.pos) // count grew: can only move down a min-heap
      case None if counters.size < capacity =>
        val c = new Counter(item, weight, 0L, heap.length)
        counters(item) = c
        heap += c
        siftUp(c.pos)
      case None =>
        // evict the (count, key)-minimum; newcomer inherits its count
        // as error. Replace in place at the root, one sift.
        val victim = heap(0)
        counters.remove(victim.key)
        val c = new Counter(item, victim.count + weight, victim.count, 0)
        counters(item) = c
        heap(0) = c
        siftDown(0)
    }
  }

  private def minCount: Long =
    if (counters.size < capacity) 0L else heap(0).count

  def merge(other: HeavyHittersSketch): HeavyHittersSketch = {
    require(capacity == other.capacity,
      s"Incompatible heavy-hitters sketches: capacity=$capacity vs ${other.capacity}")
    val minA = this.minCount
    val minB = other.minCount
    val keys = counters.keySet ++ other.counters.keySet
    val merged = keys.iterator.map { k =>
      val a = counters.get(k)
      val b = other.counters.get(k)
      val count = a.map(_.count).getOrElse(minA) + b.map(_.count).getOrElse(minB)
      val err = a.map(_.error).getOrElse(minA) + b.map(_.error).getOrElse(minB)
      k -> new Counter(k, count, err, 0)
      // (-count, key) total order: a bare -count sort breaks capacity-
      // boundary ties by HashMap iteration order, making the kept set
      // (and the serialized sketch) vary across task retries
    }.toSeq.sortBy { case (key, c) => (-c.count, key) }.take(capacity)
    counters.clear()
    merged.foreach { case (k, c) => counters(k) = c }
    rebuildHeap()
    totalN += other.totalN
    this
  }

  /** Tracked items by descending count: (item, count, guaranteed lower
    * bound = count - error). */
  def topK(k: Int): Seq[(String, Long, Long)] =
    counters.toSeq.sortBy { case (key, c) => (-c.count, key) }
      .take(k)
      .map { case (key, c) => (key, c.count, c.count - c.error) }

  /** Upper-bound frequency estimate for an item (minCount if untracked). */
  def estimate(item: String): Long =
    counters.get(item).map(_.count).getOrElse(minCount)

  def serialize(): Array[Byte] = {
    val entries = counters.toSeq.sortBy { case (key, c) => (-c.count, key) }
    val keyBytes = entries.map { case (k, _) => graft.core.ByteOps.utf8(k) }
    val size = 4 + 1 + 4 + 8 + 4 + keyBytes.map(_.length + 4 + 16).sum
    val buf = ByteBuffer.allocate(size)
    buf.putInt(Magic)
    buf.put(Version)
    buf.putInt(capacity)
    buf.putLong(totalN)
    buf.putInt(entries.length)
    entries.zip(keyBytes).foreach { case ((_, c), kb) =>
      buf.putInt(kb.length)
      buf.put(kb)
      buf.putLong(c.count)
      buf.putLong(c.error)
    }
    buf.array()
  }
}

object HeavyHittersSketch extends SketchFormat[HeavyHittersSketch] {
  val name = "hh"
  final val Magic = 0x48483131 // "HH11"
  final val Version: Byte = 1

  private[sketch] final class Counter(val key: String, var count: Long,
      var error: Long, var pos: Int) extends Serializable

  def apply(capacity: Int = 256): HeavyHittersSketch = {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    new HeavyHittersSketch(capacity, 0L, mutable.HashMap.empty)
  }

  def deserialize(bytes: Array[Byte]): HeavyHittersSketch = {
    val r = new WireReader(bytes, "HeavyHittersSketch")
    r.header(Magic, Version)
    val capacity = r.int("capacity")
    r.check(capacity >= 1, s"capacity $capacity < 1")
    val totalN = r.long("total count")
    val n = r.count("counter count", 4 + 16)
    r.check(n <= capacity, s"$n counters exceed capacity $capacity")
    val m = mutable.HashMap.empty[String, Counter]
    var prev: Counter = null
    var i = 0
    while (i < n) {
      val key = new String(r.bytes(r.int("key length"), "key"), "UTF-8")
      val c = new Counter(key, r.long("count"), r.long("error"), 0)
      // canonical layout: distinct keys by (-count, key); every counter
      // brackets its item's true frequency, which is at most the total
      r.check(c.error >= 0 && c.error <= c.count && c.count - c.error <= totalN,
        s"counter '$key' (count ${c.count}, error ${c.error}) out of range for total $totalN")
      r.check(prev == null || prev.count > c.count || (prev.count == c.count && prev.key < key),
        s"counter '$key' out of order")
      m(key) = c
      prev = c
      i += 1
    }
    r.end()
    new HeavyHittersSketch(capacity, totalN, m)
  }
}
