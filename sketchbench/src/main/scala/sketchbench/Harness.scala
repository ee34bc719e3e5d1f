package sketchbench

import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.storage.StorageLevel

import graft.core.ByteOps
import graft.core.hash.HashKernels
import graft.ops.TextAnalysis
import graft.sketch.{BloomSketch, CmsSketch, HeavyHittersSketch, HllSketch, KllSketch}
import graft.spark.functions.{bloom_might_contain, murmur64}

/** Layer harness for `graft.core`, `graft.sketch` and the `graft.spark`
  * expressions, fed with a workload's own sampled keys and values. Runs
  * only in the traced run, so it adds nothing to the end-to-end runs. */
object Harness {

  /** Written by every timed loop so the JIT cannot drop the work. */
  @volatile private var sink = 0L

  /** Median wall time of `reps` runs of `f`, in nanoseconds, after one
    * untimed run. */
  private def medianNs(reps: Int)(f: => Unit): Double = {
    f
    val xs = Array.fill(reps) {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble
    }
    Stats.median(xs.toSeq)
  }

  /** Per-item nanoseconds of `f` over every element: the median of `reps`
    * passes. */
  private def perItemNs[T](items: Array[T], reps: Int)(f: T => Unit): Double =
    medianNs(reps) { var i = 0; while (i < items.length) { f(items(i)); i += 1 } } /
      items.length

  def core(s: Samples): Seq[Metric] = {
    val bytes = s.keys.map(ByteOps.utf8)
    val k = math.ceil(16 * BloomSketch.KFactor).toInt
    val h = perItemNs(bytes, 15)(b => sink ^= HashKernels.murmur.hash64(b))
    val out = new Array[Long](k)
    val hk = perItemNs(bytes, 15) { b => HashKernels.murmur.hash64Into(b, k, out); sink ^= out(0) }
    Seq(Metric("core.murmur2_ns", h, "ns"), Metric("core.hash64k_ns", hk, "ns"))
  }

  def sketches(s: Samples): Seq[Metric] = {
    val keys = s.keys
    val half = keys.length / 2
    val (ka, kb) = keys.splitAt(half)
    final case class Kind[S](name: String, n: Int, fresh: () => S, update: (S, Int) => Unit,
        merge: (S, S) => S, ser: S => Array[Byte], deser: Array[Byte] => S)
    def kinds = Seq(
      Kind[HllSketch]("hll", keys.length, () => HllSketch(14), (x, i) => x.update(keys(i)),
        (a, b) => a.merge(b), _.serialize(), HllSketch.deserialize),
      Kind[CmsSketch]("cms", keys.length, () => CmsSketch(5, 1 << 14), (x, i) => x.update(keys(i)),
        (a, b) => a.merge(b), _.serialize(), CmsSketch.deserialize),
      Kind[KllSketch]("kll", s.values.length, () => KllSketch(200), (x, i) => x.update(s.values(i)),
        (a, b) => a.merge(b), _.serialize(), KllSketch.deserialize),
      Kind[BloomSketch]("bloom", keys.length, () => BloomSketch(math.max(128L, keys.length.toLong), 16),
        (x, i) => x.put(keys(i)), (a, b) => a.merge(b), _.serialize(),
        BloomSketch.deserialize),
      Kind[HeavyHittersSketch]("hh", keys.length, () => HeavyHittersSketch(64), (x, i) => x.update(keys(i)),
        (a, b) => a.merge(b), _.serialize(), HeavyHittersSketch.deserialize))
    def one[S](k: Kind[S]): Seq[Metric] = {
      val idx = (0 until k.n).toArray
      val upd = medianNs(7) { val x = k.fresh(); idx.foreach(i => k.update(x, i)) } / k.n
      val a = k.fresh(); (0 until k.n / 2).foreach(i => k.update(a, i))
      val b = k.fresh(); (k.n / 2 until k.n).foreach(i => k.update(b, i))
      // merge is in place, as in an aggregation buffer: each timed merge
      // gets its own copy of `a`, made outside the timing
      val copies = Seq.fill(16)(k.deser(k.ser(a)))
      val merge = Stats.median(copies.map { c =>
        val t0 = System.nanoTime(); k.merge(c, b); (System.nanoTime() - t0).toDouble
      }.drop(1)) / 1e3
      val bytes = k.ser(copies(0))
      val ser = medianNs(15)(k.ser(a)) / 1e3
      val deser = medianNs(15)(k.deser(bytes)) / 1e3
      Seq(Metric(s"sketch.${k.name}.update_ns", upd, "ns"),
        Metric(s"sketch.${k.name}.merge_us", merge, "us"),
        Metric(s"sketch.${k.name}.ser_us", ser, "us"),
        Metric(s"sketch.${k.name}.deser_us", deser, "us"),
        Metric(s"sketch.${k.name}.bytes", bytes.length.toDouble, "bytes"))
    }
    val bloom = BloomSketch(math.max(128L, ka.length.toLong), 16)
    ka.foreach(bloom.put)
    // half the probes were inserted, half were not
    val contains = perItemNs(ka ++ kb, 15)(x => if (bloom.contains(x)) sink += 1)
    kinds.flatMap(k => one(k)) :+ Metric("sketch.bloom.contains_ns", contains, "ns")
  }

  /** Catalyst expression throughput over a cached in-memory column. */
  def expressions(spark: SparkSession, s: Samples): Seq[Metric] = {
    import spark.implicits._
    val keys = s.keys.toSeq.toDF("k").persist(StorageLevel.MEMORY_ONLY)
    val texts = s.texts.toSeq.toDF("t").persist(StorageLevel.MEMORY_ONLY)
    keys.count(); texts.count()
    val sketch = {
      val b = BloomSketch(math.max(128L, s.keys.length.toLong), 16)
      s.keys.take(s.keys.length / 2).foreach(b.put)
      b.serialize()
    }
    def rowsPerS(n: Long)(df: => org.apache.spark.sql.DataFrame): Double =
      n / (medianNs(3)(df.write.format("noop").mode("overwrite").save()) / 1e9)
    val nk = s.keys.length.toLong
    val nt = s.texts.length.toLong
    val out = Seq(
      Metric("spark.expr.murmur64_rows_s", rowsPerS(nk)(keys.select(murmur64(F.col("k")))),
        "rows/s"),
      Metric("spark.expr.shingle_hashes_rows_s",
        rowsPerS(nt)(texts.select(TextAnalysis.shingle_hashes(F.col("t"), 3))), "rows/s"),
      Metric("spark.expr.minhash_sig_rows_s",
        rowsPerS(nt)(texts.select(TextAnalysis.minhash_sig(F.col("t"), 64, 3))), "rows/s"),
      Metric("spark.expr.bloom_might_contain_rows_s",
        rowsPerS(nk)(keys.select(bloom_might_contain(F.lit(sketch), F.col("k")))), "rows/s"))
    keys.unpersist(blocking = true)
    texts.unpersist(blocking = true)
    out
  }
}
