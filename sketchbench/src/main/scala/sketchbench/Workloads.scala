package sketchbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}

import graft.data.{DocCorpusGen, TranscriptGen, TranscriptTable}
import graft.jobs.{ProbeJob, SketchBuildJob}
import graft.ops.{BloomJoin, Dedup}
import graft.sketch.{CmsSketch, HllSketch, KllSketch}

final case class Gate(name: String, ok: Boolean, detail: String)
final case class Metric(name: String, value: Double, unit: String)

/** What a round's checks found: gates, plus accuracy figures. */
final case class Checked(gates: Seq[Gate], accuracy: Seq[Metric])

/** Seeded key and value samples of a workload's own input, for the layer
  * harness that runs outside Spark. */
final case class Samples(keys: Array[String], texts: Array[String], values: Array[Double])

/** One benchmark workload. `prepare` generates the inputs (set-up, timed),
  * `exact` computes the reference answers once (untimed), `round` is one
  * timed round through public entry points only, `check` gates its output
  * against the reference answers (untimed). */
trait Workload {
  type Out
  def name: String
  def rowUnit: String
  def rows: Long
  def prepare(spark: SparkSession, dir: String): Unit
  def exact(spark: SparkSession): Unit
  def round(spark: SparkSession, out: String, t: Tracer): Out
  def check(spark: SparkSession, out: String, o: Out): Checked
  /** The columns the workload reads, for the scan floor. */
  def scanned(spark: SparkSession): Seq[(String, Seq[String])]
  def samples(spark: SparkSession, n: Int): Samples
}

object Workloads {
  val names: Seq[String] = Seq("sketch_build", "conv_rollup", "bank_probe", "near_dup")

  def apply(name: String, seed: Long): Workload = name match {
    case "sketch_build" => new SketchBuild(seed)
    case "conv_rollup" => new ConvRollup(seed)
    case "bank_probe" => new BankProbe(seed)
    case "near_dup" => new NearDup(seed)
    case other => throw new IllegalArgumentException(
      s"unknown workload $other (expected one of ${names.mkString(", ")})")
  }

  /** Normalized rank error of `v` as the q-quantile of sorted `xs`: the
    * distance from q to the rank interval [#<v, #<=v] / n. */
  def rankErr(xs: Array[Double], q: Double, v: Double): Double = {
    val n = xs.length.toDouble
    val lt = lowerBound(xs, v)
    val le = upperBound(xs, v)
    if (q * n < lt) (lt - q * n) / n else if (q * n > le) (q * n - le) / n else 0.0
  }

  private def lowerBound(xs: Array[Double], v: Double): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) < v) lo = m + 1 else hi = m }
    lo
  }

  private def upperBound(xs: Array[Double], v: Double): Int = {
    var lo = 0; var hi = xs.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (xs(m) <= v) lo = m + 1 else hi = m }
    lo
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  def sampleRows(df: DataFrame, n: Int, seed: Long): Array[org.apache.spark.sql.Row] =
    df.orderBy(F.xxhash64(F.col(df.columns.head), F.lit(seed))).limit(n).collect()
}

/** Transcript tables with a Zipf hotspot: conversation 0 owns `hotTurns`
  * turns and the tail decays as (i+1)^-1.2 down to `minTurns`. */
abstract class TranscriptWorkload(seed: Long, nConvs: Int, hotTurns: Int, minTurns: Int,
    nParts: Int) extends Workload {
  protected var input: String = _
  def rowUnit: String = "turns"
  val rows: Long = TranscriptGen.totalTurns(nConvs, hotTurns, minTurns)

  def prepare(spark: SparkSession, dir: String): Unit = {
    input = s"$dir/transcripts"
    TranscriptTable.write(TranscriptGen.generate(spark, seed, nConvs, hotTurns, minTurns),
      input, nParts)
  }

  def scanned(spark: SparkSession): Seq[(String, Seq[String])] =
    Seq(input -> Seq("conv_id", "turn_idx", "role", "text", "tool"))

  def samples(spark: SparkSession, n: Int): Samples = {
    val rs = Workloads.sampleRows(TranscriptTable.read(spark, input)
      .select("conv_id", "text", "role", "tool"), n, seed)
    Samples(rs.map(_.getString(0)), rs.map(_.getString(1)),
      rs.map(_.getString(1).length.toDouble))
  }
}

/** The flagship job: per-part HLL/CMS/KLL/heavy-hitter/Bloom partials,
  * part and manifest writes, global rollup. Rows are turns. */
final class SketchBuild(seed: Long)
    extends TranscriptWorkload(seed, nConvs = 12000, hotTurns = 4000, minTurns = 4, nParts = 16) {
  type Out = SketchBuildJob.BuildResult
  val name = "sketch_build"
  private val cfg = SketchBuildJob.Config(input = "", out = "")
  private var exactConvs = 0L
  private var exactRoleTool: Map[String, Long] = Map.empty
  private var exactTools: Map[String, Long] = Map.empty
  private var lengths: Array[Double] = Array.empty

  /** Exact answers from one scan, counted on the driver. */
  def exact(spark: SparkSession): Unit = {
    val rs = TranscriptTable.read(spark, input)
      .select(F.col("conv_id"), F.col("role"), F.col("tool"), F.length(F.col("text")))
      .collect()
    exactConvs = rs.map(_.getString(0)).distinct.length.toLong
    exactRoleTool = rs.groupBy(r => r.getString(1) + "|" + Option(r.getString(2)).getOrElse("-"))
      .map { case (k, g) => k -> g.length.toLong }
    exactTools = rs.filter(r => r.getString(2) != null).groupBy(_.getString(2))
      .map { case (k, g) => k -> g.length.toLong }
    lengths = rs.map(_.getInt(3).toDouble).sorted
  }

  def round(spark: SparkSession, out: String, t: Tracer): Out =
    t.call("jobs.SketchBuildJob.run") {
      SketchBuildJob.run(spark, cfg.copy(input = input, out = out))
    }

  def check(spark: SparkSession, out: String, r: Out): Checked = {
    val n = lengths.length.toLong
    val hllErr = math.abs(r.estDistinctConvs - exactConvs).toDouble / exactConvs
    val hllBound = 3 * HllSketch.standardError(cfg.hllP)
    val cms = CmsSketch.deserialize(java.nio.file.Files.readAllBytes(
      new File(s"$out/final/cms_roletool.bin").toPath))
    val over = exactRoleTool.map { case (k, c) => cms.estimate(k) - c }
    val kllErr = math.max(Workloads.rankErr(lengths, 0.5, r.textLenP50),
      Workloads.rankErr(lengths, 0.99, r.textLenP99))
    val topExact = exactTools.toSeq.sortBy { case (k, c) => (-c, k) }.take(r.topTools.size)
    Checked(
      Seq(
        Gate("rows", r.totalRows == n, s"${r.totalRows} vs $n"),
        Gate("hll_within_3se", hllErr <= hllBound, f"rel err $hllErr%.5f, bound $hllBound%.5f"),
        Gate("cms_never_under", over.forall(_ >= 0), s"min over ${over.min}"),
        Gate("cms_within_eps_n", over.max <= cms.epsilon * n,
          f"max over ${over.max}, bound ${cms.epsilon * n}%.1f"),
        Gate("kll_within_eps", kllErr <= KllSketch.epsilon(cfg.kllK),
          f"rank err $kllErr%.5f, bound ${KllSketch.epsilon(cfg.kllK)}%.5f"),
        Gate("hh_top_tools_exact", r.topTools.map(_._2) == topExact.map(_._2),
          s"${r.topTools.take(3)} vs ${topExact.take(3)}")),
      Seq(
        Metric("hll_rel_err", hllErr, "ratio"),
        Metric("cms_overcount_frac", over.max.toDouble / n, "ratio"),
        Metric("kll_rank_err", kllErr, "ratio")))
  }
}

/** Two-level salted KLL per conversation: one buffer per (conv, salt)
  * through a high-cardinality shuffle. Rows are turns. */
final class ConvRollup(seed: Long)
    extends TranscriptWorkload(seed, nConvs = 8000, hotTurns = 6000, minTurns = 6, nParts = 8) {
  type Out = Array[(String, Double, Double)]
  val name = "conv_rollup"
  val saltBuckets = 8
  val kllK = 200
  private var perConv: Map[String, Array[Double]] = Map.empty

  def exact(spark: SparkSession): Unit = {
    perConv = TranscriptTable.read(spark, input)
      .select(F.col("conv_id"), F.length(F.col("text")).cast("double"))
      .collect().groupBy(_.getString(0))
      .map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
  }

  def round(spark: SparkSession, out: String, t: Tracer): Out =
    t.call("jobs.SketchBuildJob.perConvQuantiles") {
      SketchBuildJob.perConvQuantiles(TranscriptTable.read(spark, input), saltBuckets, kllK)
        .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    }

  def check(spark: SparkSession, out: String, o: Out): Checked = {
    val errs = o.flatMap { case (c, p50, p95) =>
      perConv.get(c).map(xs => math.max(Workloads.rankErr(xs, 0.5, p50),
        Workloads.rankErr(xs, 0.95, p95)))
    }
    val worst = if (errs.isEmpty) 1.0 else errs.max
    val eps = KllSketch.epsilon(kllK)
    Checked(
      Seq(
        Gate("one_row_per_conv", o.length == perConv.size &&
          o.map(_._1).toSet == perConv.keySet, s"${o.length} rows vs ${perConv.size} convs"),
        Gate("kll_within_eps", worst <= eps, f"max rank err $worst%.5f, bound $eps%.5f")),
      Seq(Metric("kll_rank_err", worst, "ratio")))
  }
}

/** The read side: a Bloom bank built in set-up, probed per round through
  * the part-routed join and through a Bloom-prefiltered semi join. Half
  * the probe keys are the table's own conv_ids, half never inserted.
  * Rows are probe keys. */
final class BankProbe(seed: Long) extends Workload {
  type Out = (Map[Boolean, Long], Map[Boolean, Long])
  val name = "bank_probe"
  def rowUnit: String = "probes"
  private val nConvs = 8000
  private val nParts = 16
  private val nProbes = 160000L
  val rows: Long = nProbes
  private var table: String = _
  private var probes: String = _
  private var bank: String = _
  private var members = 0L
  private var nonMembers = 0L

  def prepare(spark: SparkSession, dir: String): Unit = {
    table = s"$dir/transcripts"
    probes = s"$dir/probes"
    bank = s"$dir/bank"
    TranscriptTable.write(TranscriptGen.generate(spark, seed, nConvs, hotTurns = 200,
      minTurns = 1), table, nParts)
    // per-part capacity sized to the part's population (the mkblm rule)
    // so the false-positive rate is the designed one, not ~0
    SketchBuildJob.run(spark, SketchBuildJob.Config(input = table, out = bank,
      bloomPerPartCapacity = nConvs / nParts))
    val h = F.pmod(F.xxhash64(F.col("id"), F.lit(seed)), F.lit(1L << 40))
    spark.range(nProbes).select(
        (F.col("id") % 2 === 0).as("is_member"),
        F.when(F.col("id") % 2 === 0, F.format_string("conv-%05d", h % nConvs))
          .otherwise(F.format_string("conv-%05d", F.lit(nConvs.toLong) + h % 1000000L))
          .as("key"))
      .write.mode("overwrite").parquet(probes)
  }

  def exact(spark: SparkSession): Unit = {
    val byFlag = spark.read.parquet(probes).groupBy("is_member").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    members = byFlag.getOrElse(true, 0L)
    nonMembers = byFlag.getOrElse(false, 0L)
  }

  private def countByFlag(df: DataFrame): Map[Boolean, Long] =
    df.groupBy("is_member").count().collect().map(r => r.getBoolean(0) -> r.getLong(1)).toMap

  def round(spark: SparkSession, out: String, t: Tracer): Out = {
    val p = spark.read.parquet(probes)
    val bankHits = t.call("jobs.ProbeJob.probeBank") {
      countByFlag(ProbeJob.probeBank(spark, p, bank, "key"))
    }
    val semi = t.call("ops.BloomJoin.semi") {
      countByFlag(BloomJoin.semi(p, "key", TranscriptTable.read(spark, table), "conv_id"))
    }
    (bankHits, semi)
  }

  def check(spark: SparkSession, out: String, o: Out): Checked = {
    val (bankHits, semi) = o
    val fp = bankHits.getOrElse(false, 0L)
    Checked(
      Seq(
        Gate("bank_no_false_negatives", bankHits.getOrElse(true, 0L) == members,
          s"${bankHits.getOrElse(true, 0L)} of $members members passed"),
        Gate("semi_exact", semi.getOrElse(true, 0L) == members && !semi.contains(false),
          s"semi output $semi vs $members members")),
      Seq(Metric("bloom_fpr", fp.toDouble / nonMembers, "ratio"),
        Metric("bloom_fp", fp.toDouble, "count"),
        Metric("bloom_nonmember_probes", nonMembers.toDouble, "count")))
  }

  def scanned(spark: SparkSession): Seq[(String, Seq[String])] =
    Seq(probes -> Seq("key", "is_member"), table -> Seq("conv_id"))

  def samples(spark: SparkSession, n: Int): Samples = {
    val keys = Workloads.sampleRows(spark.read.parquet(probes).select("key"), n, seed)
      .map(_.getString(0))
    Samples(keys, keys, keys.map(_.length.toDouble))
  }
}

/** Near-duplicate documents: exact n-gram Jaccard, MinHash LSH, then
  * connected components and one representative per cluster. A planted
  * near-copy cluster of document 0 exercises the skew grid. Rows are
  * documents. */
final class NearDup(seed: Long) extends Workload {
  type Out = NearDupOut
  val name = "near_dup"
  def rowUnit: String = "docs"
  private val nDocs = 2000L
  private val hotPermille = 10
  private val threshold = 0.7
  private val sliceSize = 500
  val rows: Long = nDocs
  private var input: String = _
  private var shingles: Map[Long, Set[String]] = Map.empty
  private var slice: (Long, Long) = (0L, 0L)
  private var slicePairs: Set[(Long, Long)] = Set.empty

  def prepare(spark: SparkSession, dir: String): Unit = {
    input = s"$dir/documents"
    DocCorpusGen.generateDocs(spark, seed, nDocs, hotPermille)
      .write.mode("overwrite").parquet(input)
  }

  private def shingleSet(text: String): Set[String] = {
    val toks = text.split(' ').filter(_.nonEmpty)
    toks.sliding(3).filter(_.length == 3).map(_.mkString("\u0001")).toSet
  }

  private def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.count(b.contains)
    val u = a.size + b.size - i
    if (u == 0) 1.0 else i.toDouble / u
  }

  /** Reference answers: every document's word 3-gram set, and the
    * brute-force all-pairs join over a seeded slice of the id range. */
  def exact(spark: SparkSession): Unit = {
    shingles = spark.read.parquet(input).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> shingleSet(r.getString(1))).toMap
    val start = Math.floorMod(seed * 0x9e3779b97f4a7c15L, nDocs - sliceSize)
    slice = (start, start + sliceSize)
    val ids = (start until start + sliceSize).toArray
    val found = mutable.Set[(Long, Long)]()
    for (i <- ids.indices; j <- i + 1 until ids.length) {
      if (jaccard(shingles(ids(i)), shingles(ids(j))) >= threshold) found += ((ids(i), ids(j)))
    }
    slicePairs = found.toSet
  }

  def round(spark: SparkSession, out: String, t: Tracer): Out = {
    val docs = spark.read.parquet(input)
    val (exactDf, exact) = t.call("ops.Dedup.ngramJaccardPairs") {
      val d = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, threshold)
      (d, d.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))))
    }
    val mh = t.call("ops.Dedup.minhashLshPairs") {
      Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = threshold)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    }
    val kept = t.call("ops.Dedup.keepClusterRepresentatives") {
      Dedup.keepClusterRepresentatives(docs.select("doc_id"), "doc_id", exactDf)
        .collect().map(_.getLong(0))
    }
    NearDupOut(exact, mh, kept)
  }

  def check(spark: SparkSession, out: String, o: Out): Checked = {
    val exactSet = o.exact.map(p => (p._1, p._2)).toSet
    val badExact = o.exact.filterNot { case (a, b, j) =>
      val ji = jaccard(shingles(a), shingles(b))
      ji >= threshold && math.abs(ji - j) < 1e-9
    }
    val badMh = o.minhash.filterNot { case (a, b, j) =>
      val ji = jaccard(shingles(a), shingles(b))
      ji >= threshold && math.abs(ji - j) < 1e-9
    }
    val inSlice = exactSet.filter { case (a, b) =>
      a >= slice._1 && a < slice._2 && b >= slice._1 && b < slice._2 }
    // components by union-find over the exact pair set
    val parent = mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    exactSet.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val ufComp = parent.keys.map(k => k -> find(k)).toMap
    val nComp = ufComp.values.toSet.size
    // one representative (the minimum id) per cluster, plus every unpaired doc
    val expectKept = (0L until nDocs).filter(d => ufComp.getOrElse(d, d) == d).toSet
    val recall = if (exactSet.isEmpty) 1.0
      else o.minhash.count(p => exactSet.contains((p._1, p._2))).toDouble / exactSet.size
    Checked(
      Seq(
        Gate("ngram_pairs_reverified", badExact.isEmpty,
          s"${badExact.length} of ${o.exact.length} pairs fail independent Jaccard"),
        Gate("ngram_equals_bruteforce_slice", inSlice == slicePairs,
          s"${inSlice.size} pairs in slice vs ${slicePairs.size} brute force"),
        Gate("minhash_pairs_reverified", badMh.isEmpty,
          s"${badMh.length} of ${o.minhash.length} pairs fail independent Jaccard"),
        Gate("representatives_equal_union_find", o.kept.length == expectKept.size &&
          o.kept.toSet == expectKept, s"${o.kept.length} kept vs ${expectKept.size}")),
      Seq(Metric("minhash_recall", recall, "ratio"),
        Metric("exact_pairs", exactSet.size.toDouble, "count"),
        Metric("components", nComp.toDouble, "count")))
  }

  def scanned(spark: SparkSession): Seq[(String, Seq[String])] =
    Seq(input -> Seq("doc_id", "text"))

  def samples(spark: SparkSession, n: Int): Samples = {
    val rs = Workloads.sampleRows(spark.read.parquet(input).select("doc_id", "text"), n, seed)
    val texts = rs.map(_.getString(1))
    Samples(texts.flatMap(_.split(' ').sliding(3).map(_.mkString(" "))).take(n), texts,
      texts.map(_.length.toDouble))
  }
}

final case class NearDupOut(exact: Array[(Long, Long, Double)],
    minhash: Array[(Long, Long, Double)], kept: Array[Long])
