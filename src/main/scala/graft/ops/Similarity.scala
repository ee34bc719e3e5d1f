package graft.ops

import org.apache.spark.sql.graft.ColumnBridge.{column, expression}
import org.apache.spark.sql.{Column, DataFrame, functions => F}

import graft.core.hash.Murmur2Kernel
import graft.spark.functions.{murmur64, top_k_by}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Baseline: brute-force cosine top-k — a broadcast of the (small) query
  * set against the corpus, all arithmetic in built-in higher-order
  * functions (zip_with/aggregate), no shuffle of the corpus at all; the
  * only exchange is the final per-query top-k (a tiny windowed sort over
  * candidates).
  *
  * Scale path: signed-random-projection (SRP) LSH — Charikar 2002.
  * `srpSignature` packs the signs of `bits` random-hyperplane
  * projections into a long; collision probability of two vectors at
  * angle theta is (1 - theta/pi)^bits. Bucketing the corpus by signature
  * (optionally with multiple tables) turns top-k into a bucket-local
  * rerank. Hyperplanes are counter-mode murmur Gaussians — fully
  * deterministic, no state to ship.
  */
object Similarity {

  /** Exact cosine similarity of two vector columns — the native
    * codegen'd [[CosineSimExpr]] (one tight loop over columnar
    * ArrayData; bit-compatible with, and ~20x faster than, the
    * zip_with + aggregate higher-order formulation it replaced). */
  def cosine(a: Column, b: Column): Column =
    column(CosineSimExpr(expression(a), expression(b)))

  /** Brute-force cosine top-k: for each query row, the k nearest corpus
    * rows. Query side is broadcast (it is small by construction).
    *
    * The per-query top-k is a `top_k_by` partial aggregation, NOT a
    * global window: each map task keeps a k-heap per query and the
    * exchange moves only k rows per (query, task) — a global
    * `row_number() OVER (PARTITION BY query)` would instead shuffle the
    * whole |corpus| x |queries| scored product into |queries| reducer
    * partitions and sort it there, which collapses at corpus scale. */
  def bruteForceTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int): DataFrame = {
    val joined = corpus.crossJoin(
      F.broadcast(queries.select(F.col(queryId), F.col(queryVec))))
    val scored = joined.select(F.col(queryId), F.col(corpusId),
      cosine(F.col(corpusVec), F.col(queryVec)).as("cosine"))
    topKPerQuery(scored, queryId, corpusId, k)
  }

  /** (queryId, corpusId, cosine) -> best-k rows per query with 1-based
    * rank, ordered (cosine desc, corpusId asc) — shared rerank tail of
    * the brute-force and LSH paths. */
  private def topKPerQuery(scored: DataFrame, queryId: String,
      corpusId: String, k: Int): DataFrame = {
    scored.groupBy(F.col(queryId))
      .agg(top_k_by(F.col(corpusId), F.col("cosine"), k).as("__topk"))
      .select(F.col(queryId), F.posexplode(F.col("__topk")).as(Seq("__pos", "__e")))
      .select(F.col(queryId), F.col("__e.value").as(corpusId),
        (F.col("__pos") + 1).cast("int").as("rank"), F.col("__e.score").as("cosine"))
  }

  /** Deterministic Gaussian hyperplane component for (bit, dim):
    * Box-Muller over counter-mode murmur uniforms. */
  private[ops] def gaussian(seed: Long, bit: Int, dim: Int): Double = {
    val h1 = Murmur2Kernel.hash64Seeded(
      graft.core.ByteOps.utf8(s"srp:$bit:$dim:a"), seed)
    val h2 = Murmur2Kernel.hash64Seeded(
      graft.core.ByteOps.utf8(s"srp:$bit:$dim:b"), seed)
    val u1 = ((h1 >>> 11).toDouble + 0.5) / 9007199254740992.0 // (0,1)
    val u2 = ((h2 >>> 11).toDouble + 0.5) / 9007199254740992.0
    math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
  }

  /** The default SRP hyperplane seed; LSH table `t` uses `SrpSeed + t`. */
  val SrpSeed = 42L

  /** SRP signature as a long column (bits <= 63) — a native Catalyst
    * expression (SrpSignatureExpr), codegen'd, reading the columnar
    * vector in place; the hyperplane matrix is regenerated
    * deterministically and cached per executor, never shipped. */
  def srpSignature(vec: Column, bits: Int = 16, seed: Long = SrpSeed): Column = {
    // bits = 0: constant signature — the exhaustive (single-bucket)
    // regime in which SRP-bucketed pipelines provably equal brute force
    require(bits >= 0 && bits <= 63, s"bits must be in [0,63], got $bits")
    column(SrpSignatureExpr(expression(vec), bits, seed))
  }

  /** IVF (inverted-file) top-k — the second scale path next to SRP-LSH:
    * a coarse quantizer of `nlist` centroids partitions the corpus into
    * cells; each query probes its `nprobe` nearest cells and reranks
    * only those cells' vectors with exact cosine.
    *
    * Training is deterministic and Spark-distributed: seed centroids are
    * the `nlist` corpus vectors with the smallest murmur64(id) (a
    * uniform reproducible sample taken with TakeOrdered, never a full
    * sort), refined by `lloydIters` Lloyd iterations where assignment
    * runs as the codegen'd [[IvfCellsExpr]] and cell means come from one
    * posexplode aggregation; only nlist x dims means are ever collected.
    *
    * 100 TB shape: the corpus shuffles once on its cell id (or not at
    * all when the probe side is broadcast, as here); per-query work is
    * nprobe/nlist of the corpus instead of all of it. Recall is tunable
    * with nprobe (= exact when nprobe = nlist). */
  def ivfTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, nlist: Int = 64, nprobe: Int = 8, lloydIters: Int = 1): DataFrame = {
    val centroids = trainIvf(corpus, corpusId, corpusVec, nlist, lloydIters)
    def cellsOf(vec: Column, np: Int): Column =
      column(IvfCellsExpr(expression(vec), centroids, np))

    val c = corpus.select(F.col(corpusId), F.col(corpusVec),
      F.element_at(cellsOf(F.col(corpusVec), 1), 1).as("__cell"))
    val q = F.broadcast(queries.select(F.col(queryId), F.col(queryVec))
      .withColumn("__cell", F.explode(cellsOf(F.col(queryVec), nprobe))))
    val candidates = c.join(q, Seq("__cell"))
      .select(F.col(queryId), F.col(corpusId),
        cosine(F.col(corpusVec), F.col(queryVec)).as("cosine"))
    topKPerQuery(candidates, queryId, corpusId, k)
  }

  /** The IVF coarse quantizer as a column: indices of the `nprobe` best
    * cells for each vector, best-first (see [[IvfCellsExpr]]). */
  def ivfCells(vec: Column, centroids: Array[Array[Double]], nprobe: Int): Column =
    column(IvfCellsExpr(expression(vec), centroids, nprobe))

  /** Deterministic IVF training: murmur-sampled seeds + Lloyd
    * refinement. Returns L2-normalized centroids so dot ranking equals
    * cosine ranking in [[IvfCellsExpr]]. */
  def trainIvf(corpus: DataFrame, corpusId: String,
      corpusVec: String, nlist: Int, lloydIters: Int): Array[Array[Double]] = {
    require(nlist >= 1, "nlist must be >= 1")
    val seedRows = corpus.select(F.col(corpusId), F.col(corpusVec))
      .orderBy(murmur64(F.col(corpusId)), F.col(corpusId))
      .limit(nlist).collect()
    require(seedRows.nonEmpty, "cannot train IVF on an empty corpus")
    var cents = seedRows.map(r => normalize(vecToDouble(r.getSeq[Any](1))))
    var it = 0
    while (it < lloydIters) {
      val assigned = corpus.select(
        F.element_at(column(
          IvfCellsExpr(expression(F.col(corpusVec)), cents, 1)), 1).as("__cell"),
        F.posexplode(F.col(corpusVec)).as(Seq("__dim", "__v")))
      val means = assigned.groupBy("__cell", "__dim")
        .agg(F.avg("__v").as("__m")).collect()
      val dims = cents(0).length
      val next = Array.tabulate(cents.length)(i => new Array[Double](dims))
      val nonEmpty = new Array[Boolean](cents.length)
      means.foreach { r =>
        val cell = r.getInt(0)
        nonEmpty(cell) = true
        next(cell)(r.getInt(1)) = r.getDouble(2)
      }
      // a cell that attracted no vectors keeps its previous centroid
      cents = Array.tabulate(cents.length)(i =>
        if (nonEmpty(i)) normalize(next(i)) else cents(i))
      it += 1
    }
    cents
  }

  private def vecToDouble(v: Seq[_]): Array[Double] = v.map {
    case f: Float => f.toDouble
    case d: Double => d
    case null => 0.0
  }.toArray

  private def normalize(v: Array[Double]): Array[Double] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { ss += v(i) * v(i); i += 1 }
    val n = math.sqrt(ss)
    if (n == 0) v else v.map(_ / n)
  }

  /** Multiprobe bucket list for one SRP table: the exact signature plus
    * `nflip` one-bit flips of the least-confident hyperplane sides (the
    * native codegen'd [[SrpMultiprobeExpr]]). */
  def srpMultiprobe(vec: Column, bits: Int, seed: Long, nflip: Int): Column =
    column(SrpMultiprobeExpr(expression(vec), bits, seed, nflip))

  /** LSH top-k: candidates share the query's SRP bucket in at least one
    * of `tables` signature tables (rotated seeds), then exact cosine
    * rerank within candidates. Recall rises with tables; cost stays
    * bucket-local.
    *
    * `nflip > 0` turns on MULTIPROBE (Lv et al. VLDB'07): each query
    * additionally probes the `nflip` neighboring buckets reached by
    * flipping its least-confident signature bits. This buys most of the
    * recall of extra tables WITHOUT re-bucketing the corpus — the fanout
    * lands entirely on the (small, broadcast) query side, so at corpus
    * scale multiprobe is the cheap recall knob and `tables` the
    * expensive one. */
  def lshTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, bits: Int = 12, tables: Int = 4, nflip: Int = 0): DataFrame = {
    val c = corpus
      .withColumn("__sigs", F.array((0 until tables).map(t =>
        srpSignature(F.col(corpusVec), bits, SrpSeed + t)): _*))
      .withColumn("__table", F.explode(F.sequence(F.lit(0), F.lit(tables - 1))))
      .withColumn("__bucket", F.element_at(F.col("__sigs"), F.col("__table") + 1))
      .select(F.col("__table"), F.col("__bucket"), F.col(corpusId), F.col(corpusVec))

    // query side: per table, explode the multiprobe bucket list (exact
    // bucket first, then the nflip perturbations)
    val q = F.broadcast(queries)
      .withColumn("__probes", F.array((0 until tables).map(t =>
        srpMultiprobe(F.col(queryVec), bits, SrpSeed + t, nflip)): _*))
      .withColumn("__table", F.explode(F.sequence(F.lit(0), F.lit(tables - 1))))
      .withColumn("__bucket",
        F.explode(F.element_at(F.col("__probes"), F.col("__table") + 1)))
      .select(F.col("__table"), F.col("__bucket"), F.col(queryId), F.col(queryVec))

    val candidates = c.join(q, Seq("__table", "__bucket"))
      .dropDuplicates(queryId, corpusId)
      .select(F.col(queryId), F.col(corpusId),
        cosine(F.col(corpusVec), F.col(queryVec)).as("cosine"))
    topKPerQuery(candidates, queryId, corpusId, k)
  }

  /** The PQ encoder as a column: m L2-nearest-centroid codes of the
    * normalized input blocks (see [[PqEncodeExpr]]). */
  def pqEncode(vec: Column, codebooks: Array[Array[Array[Double]]]): Column =
    column(PqEncodeExpr(expression(vec), codebooks))

  /** The PQ asymmetric-distance score as a column: approximate cosine of
    * an encoded corpus vector against a raw query ([[PqAdcScoreExpr]]). */
  def pqAdcScore(codes: Column, query: Column,
      codebooks: Array[Array[Array[Double]]]): Column =
    column(PqAdcScoreExpr(expression(codes), expression(query), codebooks))

  /** Deterministic product-quantization codebook training (Jégou et al.
    * 2011): the corpus is L2-normalized, split into `m` equal blocks,
    * and each block gets `kc` centroids — seeded from the corpus rows
    * with the smallest murmur64(id) (the [[trainIvf]] sampling trick,
    * TakeOrdered, never a full sort) and refined by `lloydIters` Lloyd
    * iterations. Assignment runs distributed as the codegen'd
    * [[PqEncodeExpr]]; block means come from ONE posexplode aggregation
    * per iteration (the exchange carries (block, code, dim, partial
    * mean) — m*kc*dsub rows, never vectors); a cell that attracts no
    * vectors keeps its previous centroid. Only the m x kc x dsub
    * codebook tensor is ever collected. */
  def trainPq(corpus: DataFrame, corpusId: String, corpusVec: String,
      m: Int, kc: Int, lloydIters: Int = 1): Array[Array[Array[Double]]] = {
    require(m >= 1 && kc >= 1, "m and kc must be >= 1")
    val seedRows = corpus.select(F.col(corpusId), F.col(corpusVec))
      .orderBy(murmur64(F.col(corpusId)), F.col(corpusId))
      .limit(kc).collect()
    require(seedRows.nonEmpty, "cannot train PQ on an empty corpus")
    val dims = seedRows.head.getSeq[Any](1).length
    require(dims % m == 0, s"dims=$dims must divide into m=$m blocks")
    val dsub = dims / m
    // codebook[b][c] = block b of the c-th normalized seed (duplicate
    // seeds are harmless: the lower index wins every tie and the orphan
    // cell just keeps its centroid)
    var books = Array.tabulate(m, kc) { (b, c) =>
      val v = normalize(vecToDouble(seedRows(c % seedRows.length).getSeq[Any](1)))
      java.util.Arrays.copyOfRange(v, b * dsub, (b + 1) * dsub)
    }
    var it = 0
    while (it < lloydIters) {
      val normCol = F.sqrt(F.aggregate(F.col(corpusVec), F.lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")))
      val assigned = corpus.select(
          pqEncode(F.col(corpusVec), books).as("__codes"),
          normCol.as("__n"),
          F.posexplode(F.col(corpusVec)).as(Seq("__dim", "__x")))
        .filter(F.col("__n") > 0)
        .select((F.col("__dim") / F.lit(dsub)).cast("int").as("__b"),
          F.element_at(F.col("__codes"),
            (F.col("__dim") / F.lit(dsub)).cast("int") + 1).as("__code"),
          F.col("__dim").as("__d"),
          (F.col("__x").cast("double") / F.col("__n")).as("__xn"))
      val means = assigned.groupBy("__b", "__code", "__d")
        .agg(F.avg("__xn").as("__mean")).collect()
      val next = Array.tabulate(m, kc)((b, c) => books(b)(c).clone())
      means.foreach { r =>
        val b = r.getInt(0)
        next(b)(r.getInt(1))(r.getInt(2) - b * dsub) = r.getDouble(3)
      }
      books = next
      it += 1
    }
    books
  }

  /** PQ top-k — the compressed-index ANN path next to SRP-LSH and IVF:
    * the corpus is encoded once to m small ints per row
    * ([[PqEncodeExpr]]), every (query, candidate) pair pays an
    * m-lookup ADC score instead of a dims-wide dot, the best
    * `shortlist` candidates per query survive through the mergeable
    * `top_k_by` heap, and only the shortlist re-joins its RAW vectors
    * for the exact cosine rerank (the exchange between scoring and
    * rerank carries ids only).
    *
    * `shortlist >= |corpus|` is the EXHAUSTIVE regime: every corpus row
    * reaches the exact rerank, so the output provably equals
    * [[bruteForceTopK]] row for row regardless of codebook quality —
    * the oracle-checkable configuration. Production regime: shortlist a
    * few times k; recall is the [[graft.ops.OpsSpec]]-tested knob. */
  def pqTopK(
      corpus: DataFrame, corpusId: String, corpusVec: String,
      queries: DataFrame, queryId: String, queryVec: String,
      k: Int, m: Int = 8, kc: Int = 16, shortlist: Int = 50,
      lloydIters: Int = 1): DataFrame = {
    val books = trainPq(corpus, corpusId, corpusVec, m, kc, lloydIters)
    val enc = corpus.select(F.col(corpusId),
      pqEncode(F.col(corpusVec), books).as("__codes"))
    val q = F.broadcast(queries.select(F.col(queryId), F.col(queryVec)))
    val adc = enc.crossJoin(q).select(F.col(queryId), F.col(corpusId),
      pqAdcScore(F.col("__codes"), F.col(queryVec), books).as("cosine"))
    val short = topKPerQuery(adc, queryId, corpusId, math.max(shortlist, k))
      .select(F.col(queryId), F.col(corpusId))
    val rerank = short
      .join(corpus.select(F.col(corpusId), F.col(corpusVec)), Seq(corpusId))
      .join(q, Seq(queryId))
      .select(F.col(queryId), F.col(corpusId),
        cosine(F.col(corpusVec), F.col(queryVec)).as("cosine"))
    topKPerQuery(rerank, queryId, corpusId, k)
  }
}

/** Per-JVM cache of SRP hyperplane matrices (seed, bits, dims) —
  * regenerated deterministically on each executor, never shipped. */
private[ops] object SrpPlanes {
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Long, Int, Int), Array[Array[Double]]]()
  def get(seed: Long, bits: Int, dims: Int): Array[Array[Double]] =
    cache.computeIfAbsent((seed, bits, dims), { case (s, b, d) =>
      Array.tabulate(b, d)((bit, dim) => Similarity.gaussian(s, bit, dim))
    })
}
