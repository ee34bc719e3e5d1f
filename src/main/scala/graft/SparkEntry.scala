package graft

import org.apache.spark.sql.{DataFrame, SparkSession, functions => F}
import org.apache.spark.sql.types.StructType

import graft.ops.{Dedup, SessionReuse, Similarity, TextAnalysis, Tokenizer}
import graft.spark.functions._

/** The query contract — see SURVEY.md §7.
  *
  * `queries` holds one entry per implemented operator; each is a function
  * (spark, sfDir) => DataFrame over the driver's parquet tables. Every
  * query with an exact SQL equivalent also appears in `oracleSql`
  * (DuckDB-validated); sketch estimates are not SQL-expressible, so those
  * entries are rows-only checked here and bound-checked in ScalaTest.
  *
  * Column names are aligned between Spark and SQL because the driver's
  * compare sorts columns by name before hashing.
  *
  * Session reuse: some queries pay BUILD-time work once per session and
  * reuse it on later calls instead of re-paying it per call — a built plan
  * (trainIvf runs its sample + Lloyd pass when the plan is constructed;
  * the ngram persist is scoped by Dedup, so this is reuse, not leak
  * containment), a staged streaming input, or a persisted operator
  * generation. All of it goes through [[graft.ops.SessionReuse]], and
  * `queries` runs every entry under its own name, so [[memoizedQueries]]
  * is recorded by the code that reuses instead of listed by hand.
  */
object SparkEntry {

  private def read(spark: SparkSession, dir: String, table: String): DataFrame =
    spark.read.parquet(s"$dir/$table.parquet")

  /** Names of the queries that reused per-session state: their FIRST
    * invocation in a session pays the build (index/training construction,
    * the persisted shingle table, streaming input staging) and later
    * invocations measure steady state. Benchmarks report the two
    * separately (VERDICT r4 "What's wrong #1") — an amortized number alone
    * misreads as end-to-end. Recorded as the queries run, so it covers the
    * queries invoked so far in this JVM: read it after they ran. */
  def memoizedQueries: Set[String] = SessionReuse.queries

  /** Temp staging dirs removed RECURSIVELY on JVM exit —
    * File.deleteOnExit silently leaves non-empty directories (Spark
    * writes part files into them after registration). ONE root with ONE
    * shutdown hook: a hook-per-call would accumulate a live Thread and a
    * staged input copy per query invocation for the JVM's lifetime
    * (hundreds under a repeated-invocation harness). */
  private lazy val stagingRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_staging")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.data.LocalFs.deleteRecursively(root.toFile)))
    root
  }

  private def stagingDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(stagingRoot, prefix)

  /** A file-source stream over `batches`, staged once per (session, dir,
    * tag). The file streaming source lists a DIRECTORY and orders its
    * files by modification time, so each frame is written as ONE file
    * `batch-i.parquet` stamped 60 s after its predecessor: with
    * maxFilesPerTrigger=1 every frame is one micro-batch, in order.
    *
    * The staged files are a DETERMINISTIC pure function of the input
    * tables (fixed filters, fixed mtimes), so re-building them on every
    * invocation only re-pays input preparation; they are built once per
    * (session, input dir) and reused — the same in-session build-work
    * amortization regime as the ngram shingle persist. ONLY input staging
    * is reused: the streaming engine itself (source listing, micro-batch
    * cycles, state store, sink) re-runs IN FULL on every invocation with
    * a fresh sink table (see [[runToSink]]), so the bench still measures
    * real streaming execution, never a cached result. */
  private def stagedStream(s: SparkSession, dir: String, tag: String, schema: StructType)(
      batches: => Seq[DataFrame]): DataFrame = {
    val staged = SessionReuse.once(s, (tag, dir)) {
      val out = stagingDir(tag)
      // one tmp dir reused across the staged batches (overwrite clears
      // it; the part file moves out)
      val tmp = stagingDir(s"${tag}_tmp")
      batches.zipWithIndex.foreach { case (df, i) =>
        df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
        val part = {
          val l = java.nio.file.Files.list(tmp)
          try l.filter(p => p.getFileName.toString.endsWith(".parquet"))
            .findFirst().get()
          finally l.close()
        }
        val dst = out.resolve(s"batch-$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(1600000000000L + 60000L * i))
      }
      out
    }
    s.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(staged.toString)
  }

  /** The three watermark-ordered batches of the windowed streaming
    * queries: the rows before and at-or-after the `ts` midpoint (windows
    * straddling the split accumulate state across batches), then ONE
    * punctuation row `punctGapMs` past max(ts), tagged "zz_punct" in
    * `punctCol`, which advances the watermark past every real window. */
  private def watermarkBatches(df: DataFrame, punctCol: String,
      punctGapMs: Long): Seq[DataFrame] = {
    val mm = df.agg(F.min(F.col("ts")), F.max(F.col("ts"))).head()
    // the parquet ts column may surface as TIMESTAMP or TIMESTAMP_NTZ
    // depending on writer metadata — handle both, and mint literals of
    // the SAME type so the staged batches match the stream schema
    def ms(x: Any): Long = x match {
      case t: java.sql.Timestamp => t.getTime
      case d: java.time.LocalDateTime =>
        d.toInstant(java.time.ZoneOffset.UTC).toEpochMilli
    }
    def tsLit(millis: Long): org.apache.spark.sql.Column = mm.get(0) match {
      case _: java.time.LocalDateTime => F.lit(java.time.LocalDateTime
        .ofInstant(java.time.Instant.ofEpochMilli(millis), java.time.ZoneOffset.UTC))
      case _ => F.lit(new java.sql.Timestamp(millis))
    }
    val cutoff = tsLit((ms(mm.get(0)) + ms(mm.get(1))) / 2)
    Seq(df.filter(F.col("ts") < cutoff), df.filter(F.col("ts") >= cutoff),
      df.limit(1).withColumn("ts", tsLit(ms(mm.get(1)) + punctGapMs))
        .withColumn(punctCol, F.lit("zz_punct")))
  }

  /** Runs `query` to completion through the real streaming engine — an
    * append-mode memory sink under an AvailableNow trigger — and returns
    * the sink table. State-store count = shuffle partitions, fixed at
    * query start and each paying per-batch init/commit; at this probe
    * scale that fixed cost dominates, so the plan is built and started
    * under a narrow width (save/restore — only this streaming query sees
    * it). */
  private def runToSink(s: SparkSession, tag: String)(query: => DataFrame): DataFrame = {
    val name = s"${tag}_out_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "4")
    val q =
      try {
        query.writeStream
          .outputMode("append")
          .format("memory")
          .queryName(name)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      } finally s.conf.set("spark.sql.shuffle.partitions", saved)
    q.awaitTermination()
    s.table(name)
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Sketch-aggregate rollup over lineitem: per (returnflag, linestatus)
    * group, exact counts + HLL distinct orders + KLL quantile of qty. */
  def entry(spark: SparkSession): DataFrame = {
    val li = read(spark, "/root/testdata/sf0.001", "lineitem")
    li.groupBy(F.col("l_returnflag"), F.col("l_linestatus"))
      .agg(
        F.count(F.lit(1)).as("n_rows"),
        hll_distinct(F.col("l_orderkey"), 14).as("approx_orders"),
        kll_quantile(kll_sketch(F.col("l_quantity"), 200), F.lit(0.5)).as("median_qty"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** One entry per implemented operator from SURVEY.md §2, each run under
    * its own name so the session-reuse calls inside it record it. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    contract.map { case (name, q) =>
      name -> ((s: SparkSession, dir: String) => SessionReuse.during(name)(q(s, dir)))
    }

  private def contract: Map[String, (SparkSession, String) => DataFrame] = Map(
    // hash projections (SURVEY.md §2.1): exact per-row values — checked
    // rows-only by the driver (DuckDB has no murmur2 variant), pinned
    // bit-exactly by HashGoldenSpec + the reference differential. The
    // full LongHash surface crosses the driver contract here: all 7
    // kernels x 64/32-bit, plus the seeded and k-vector forms of both
    // widths (LongHash.java:24-48).
    "hash64_projection" -> ((s, dir) => {
      val kernels = Seq("murmur2", "jenkins", "fnv1", "fnv1a", "hsieh", "cwow", "sha1prng")
      // k-vector forms are flattened to scalar columns (element_at per
      // index) — same kernel coverage, but every output column is a
      // scalar the driver's canonicalizer can sort (array columns cannot
      // be lex-sorted by the harness)
      val cols =
        F.col("o_orderkey") +:
        (kernels.map(k => graft_hash64(F.col("o_orderstatus"), k).as(s"h64_$k")) ++
         kernels.map(k => graft_hash32(F.col("o_orderpriority"), k).as(s"h32_$k")) ++
         Seq(
           graft_hash64_seeded(F.col("o_orderpriority"), F.lit(12345L)).as("h64_seed_murmur2"),
           graft_hash64_seeded(F.col("o_orderpriority"), F.lit(7L), "jenkins").as("h64_seed_jenkins"),
           graft_hash32_seeded(F.col("o_orderpriority"), F.lit(777)).as("h32_seed_murmur2")) ++
         (1 to 3).map(i => F.element_at(
           graft_hash64_k(F.col("o_orderstatus"), F.lit(3)), i).as(s"h64k_murmur2_$i")) ++
         (1 to 3).map(i => F.element_at(
           graft_hash64_k(F.col("o_orderstatus"), F.lit(3), "fnv1a"), i).as(s"h64k_fnv1a_$i")) ++
         (1 to 3).map(i => F.element_at(
           graft_hash32_k(F.col("o_orderstatus"), F.lit(3)), i).as(s"h32k_murmur2_$i")) ++
         (1 to 3).map(i => F.element_at(
           graft_hash32_k(F.col("o_orderstatus"), F.lit(3), "hsieh"), i).as(s"h32k_hsieh_$i")))
      read(s, dir, "orders").select(cols: _*).orderBy("o_orderkey")
    }),

    // exact grouped aggregation (anchor for the oracle plumbing)
    "q1_agg" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag"), F.col("l_linestatus"))
        .agg(
          F.sum(F.col("l_quantity")).as("sum_qty"),
          F.sum(F.col("l_extendedprice")).as("sum_price"),
          F.count(F.lit(1)).as("n_rows"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // sketch aggregates (SURVEY.md §2.2, §2.6): estimates with exact
    // counterparts asserted within published bounds in SketchQuerySpec
    "sketch_distinct" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .agg(
          hll_distinct(F.col("l_orderkey"), 14).as("approx_orders"),
          hll_distinct(F.col("l_partkey"), 14).as("approx_parts"))
    }),

    // sketch set algebra: distinct-doc overlap between two OVERLAPPING
    // corpus snapshots (60%/60% with a 20% shared band) estimated from
    // their pre-aggregated HLL sketches alone — union via the scalar
    // hll_union (register-wise max), intersection by inclusion-
    // exclusion. Rows-only (estimates); GraftFunctionsSpec pins the
    // union byte-identity with the aggregate merge and the intersection
    // error bound on this exact construction.
    "snapshot_overlap_sketch" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val sk = docs.agg(
        hll_sketch(F.when(F.col("doc_id") % 10 < 6, F.col("doc_id")), 14).as("a"),
        hll_sketch(F.when(F.col("doc_id") % 10 >= 4, F.col("doc_id")), 14).as("b"))
      sk.select(
        hll_estimate(F.col("a")).as("est_a"),
        hll_estimate(F.col("b")).as("est_b"),
        hll_estimate(hll_union(F.col("a"), F.col("b"))).as("est_union"),
        hll_intersect_estimate(F.col("a"), F.col("b")).as("est_intersect"))
    }),

    "sketch_quantiles" -> ((s, dir) => {
      val sk = read(s, dir, "lineitem").agg(kll_sketch(F.col("l_extendedprice"), 200).as("sk"))
      sk.select(
        kll_quantile(F.col("sk"), F.lit(0.25)).as("p25"),
        kll_quantile(F.col("sk"), F.lit(0.5)).as("p50"),
        kll_quantile(F.col("sk"), F.lit(0.95)).as("p95"))
    }),

    "tdigest_quantiles" -> ((s, dir) => {
      val sk = read(s, dir, "lineitem")
        .agg(tdigest_sketch(F.col("l_extendedprice"), 100.0).as("sk"))
      sk.select(
        tdigest_quantile(F.col("sk"), F.lit(0.5)).as("p50"),
        tdigest_quantile(F.col("sk"), F.lit(0.99)).as("p99"))
    }),

    // t-digest exact anchors: the sketch tracks exact min/max and q<=0 /
    // q>=1 return them verbatim (TDigestSketch.quantile) — so the extreme
    // quantiles of the ESTIMATOR have an exact DuckDB oracle even though
    // mid-quantiles are estimates (those stay bound-tested in
    // SketchAccuracySpec and rows-only in tdigest_quantiles above).
    "tdigest_extremes" -> ((s, dir) => {
      val sk = read(s, dir, "lineitem")
        .groupBy(F.col("l_returnflag"))
        .agg(tdigest_sketch(F.col("l_extendedprice"), 100.0).as("sk"))
      sk.select(F.col("l_returnflag"),
          tdigest_quantile(F.col("sk"), F.lit(0.0)).as("p0"),
          tdigest_quantile(F.col("sk"), F.lit(1.0)).as("p100"))
        .orderBy("l_returnflag")
    }),

    // KLL in the exact regime: with k >= the largest group's row count the
    // sketch never compacts (a single level-0 compactor holds every value
    // at weight 1), so kll_quantile degenerates to the exact order
    // statistic at rank ceil(q*n) — an exact DuckDB oracle for the same
    // code path the estimates run (same trick as cms_event_counts /
    // hh_topk). The approximation regime is bound-tested in
    // SketchAccuracySpec. ~600 rows/supplier at sf0.1 vs k=8192.
    "kll_quantiles_exact" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(F.col("l_suppkey"))
        .agg(kll_sketch(F.col("l_quantity").cast("double"), 8192).as("sk"))
        .select(F.col("l_suppkey"),
          kll_quantile(F.col("sk"), F.lit(0.25)).as("q25"),
          kll_quantile(F.col("sk"), F.lit(0.5)).as("q50"),
          kll_quantile(F.col("sk"), F.lit(0.95)).as("q95"))
        .orderBy("l_suppkey")
    }),

    // count-min frequency estimates per distinct key (SURVEY.md §2.6,
    // Cormode-Muthukrishnan rows seeded by index like
    // MurmurHash.java:96-136). With 50 distinct keys against width 2^14
    // the per-row collision odds are ~(49/16384)^5 — the deterministic
    // estimates equal the exact counts, giving an exact DuckDB oracle;
    // the est >= exact one-sided bound is asserted in GraftFunctionsSpec.
    "cms_event_counts" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val key = F.concat_ws(":", F.col("event_type"),
        (F.col("user_id") % 10).cast("string"))
      val sk = ev.agg(cms_sketch(key, 5, 1 << 14).as("sk")).head().getAs[Array[Byte]](0)
      ev.select(key.as("item")).distinct()
        .select(F.col("item"), cms_estimate(F.lit(sk), F.col("item")).as("est_cnt"))
        .orderBy("item")
    }),

    // exponentially time-decayed event counts (halflife = 1 day against
    // a fixed reference instant) — the recency-weighted frequency every
    // trending/"what is hot now" rollup runs. The decay weight per event
    // is 2^-k with k = whole days elapsed — an exact dyadic rational —
    // so contributions are INTEGERS (1 << (40-k)) and the rollup is
    // float-order-free: exact oracle, no pow() in either engine. Shape:
    // one map-side-combined aggregation; the exchange carries
    // (type, partial integer sums).
    "decayed_event_counts" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      // 2024-02-01 00:00 UTC, after max(ts); k in [0, 31] << the 40-bit
      // fixed-point budget
      val k = F.floor((F.lit(1706745600L) - F.unix_timestamp(F.col("ts"))) /
        F.lit(86400.0)).cast("int")
      // guard: shiftleft wraps its shift mod 64 in Spark but not in
      // DuckDB, so a fixture timestamp outside the [0,40]-day window
      // would diverge SILENTLY — fail loudly in both engines instead.
      // A null ts passes through (null weight, sum skips it) exactly as
      // before the guard — only a NON-null out-of-range k is an error
      val kGuarded = F.when(k.isNull, F.lit(null).cast("int"))
        .when(k.between(0, 40), k)
        .otherwise(F.raise_error(
          F.concat(F.lit("decayed_event_counts: k outside [0,40]: "),
            k.cast("string"))))
      ev.select(F.col("event_type"), kGuarded.as("__k"))
        .withColumn("__w", F.expr("shiftleft(CAST(1 AS BIGINT), 40 - __k)"))
        .groupBy(F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n_events"), F.sum(F.col("__w")).as("decayed_fp"))
        .withColumn("decayed_count",
          F.col("decayed_fp").cast("double") / F.lit(1099511627776.0))
        .orderBy("event_type")
    }),

    // SpaceSaving heavy hitters (Metwally 2005): capacity 256 >= 50
    // distinct keys means no evictions ever happen, so counts are exact
    // and `GROUP BY ... ORDER BY count DESC, key LIMIT k` is an exact
    // DuckDB oracle; the approximation regime (capacity < distinct) is
    // bound-tested in HeavyHittersSpec.
    "hh_topk" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val key = F.concat_ws(":", F.col("event_type"),
        (F.col("user_id") % 10).cast("string"))
      ev.agg(hh_sketch(key, 256).as("sk"))
        .select(F.posexplode(hh_topk(F.col("sk"), F.lit(25))).as(Seq("__pos", "__e")))
        .select(F.col("__e.item").as("item"), F.col("__e.cnt").as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("item"))
    }),

    // KLL rank in the exact regime (same k >= group size construction as
    // kll_quantiles_exact): rank(v) sums the weights of stored items
    // <= v, and with every item at weight 1 that is an exact conditional
    // count — exact DuckDB oracle for the kll_rank expression.
    "kll_rank_exact" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(F.col("l_suppkey"))
        .agg(kll_sketch(F.col("l_quantity").cast("double"), 8192).as("sk"))
        .select(F.col("l_suppkey"),
          kll_rank(F.col("sk"), F.lit(10.0)).as("n_le_10"),
          kll_rank(F.col("sk"), F.lit(25.0)).as("n_le_25"),
          kll_rank(F.col("sk"), F.lit(40.0)).as("n_le_40"))
        .orderBy("l_suppkey")
    }),

    // WEIGHTED count-min (cash-register model): per-language token volume
    // over documents — each row adds its token count, not 1. With a
    // handful of languages against width 2^14 there are no collisions, so
    // estimates equal exact weighted sums: exact DuckDB oracle.
    "cms_weighted_token_volume" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = TextAnalysis.token_count(F.col("text"))
      val sk = docs.agg(cms_sketch_weighted(F.col("lang"), w, 5, 1 << 14))
        .head().getAs[Array[Byte]](0)
      docs.select(F.col("lang")).distinct()
        .select(F.col("lang"), cms_estimate(F.lit(sk), F.col("lang")).as("est_tokens"))
        .orderBy("lang")
    }),

    // WEIGHTED SpaceSaving: top languages by token VOLUME (not document
    // count). Capacity 64 >= distinct languages => no evictions, counts
    // exact, and `GROUP BY lang ORDER BY sum(tokens) DESC` is an exact
    // oracle.
    "hh_weighted_topk" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val w = TextAnalysis.token_count(F.col("text"))
      docs.agg(hh_sketch_weighted(F.col("lang"), w, 64).as("sk"))
        .select(F.posexplode(hh_topk(F.col("sk"), F.lit(10))).as(Seq("__pos", "__e")))
        .select(F.col("__e.item").as("item"), F.col("__e.cnt").as("cnt"))
        .orderBy(F.col("cnt").desc, F.col("item"))
    }),

    // star-schema composition: CMS frequency rollup through two broadcast
    // dimension joins (orders -> customer -> nation, region-filtered) —
    // the engine in its natural warehouse shape. ~25 nations vs width
    // 2^14 => collision-free, so estimates equal exact counts: exact
    // DuckDB oracle across a 4-table join.
    "cms_nation_orders" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val cust = read(s, dir, "customer").select(F.col("c_custkey"), F.col("c_nationkey"))
      val nation = read(s, dir, "nation")
      val region = read(s, dir, "region").filter(F.col("r_name") =!= "AFRICA")
      val dims = cust
        .join(F.broadcast(nation), cust("c_nationkey") === nation("n_nationkey"))
        .join(F.broadcast(region), nation("n_regionkey") === region("r_regionkey"))
        .select(F.col("c_custkey"), F.col("n_name"))
      val joined = orders.join(F.broadcast(dims),
        orders("o_custkey") === dims("c_custkey"))
      val sk = joined.agg(cms_sketch(F.col("n_name"), 5, 1 << 14))
        .head().getAs[Array[Byte]](0)
      joined.select(F.col("n_name")).distinct()
        .select(F.col("n_name"), cms_estimate(F.lit(sk), F.col("n_name")).as("n_orders"))
        .orderBy("n_name")
    }),

    // salted two-level KLL in the exact regime: level 1 groups by
    // (returnflag, salt = murmur64(orderkey) mod 8) — the Zipf-hotspot
    // splitting pattern from SketchBuildJob.perConvQuantiles — level 2
    // kll_merge's the partials per returnflag. With k >= the whole
    // group's row count nothing ever compacts, so the two-level result
    // is EXACTLY the single-level order statistic: the salting path gets
    // an exact DuckDB oracle, not just the in-suite bound test.
    "kll_salted_exact" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val salt = F.pmod(murmur64(F.col("l_orderkey")), F.lit(8L))
      li.withColumn("__salt", salt)
        .groupBy(F.col("l_returnflag"), F.col("__salt"))
        .agg(kll_sketch(F.col("l_quantity").cast("double"), 1 << 18).as("partial"))
        .groupBy(F.col("l_returnflag"))
        .agg(kll_merge(F.col("partial")).as("sk"))
        .select(F.col("l_returnflag"),
          kll_quantile(F.col("sk"), F.lit(0.5)).as("q50"),
          kll_quantile(F.col("sk"), F.lit(0.9)).as("q90"))
        .orderBy("l_returnflag")
    }),

    // high-cardinality grouped sketch rollup: one HLL + one KLL PER GROUP
    // — the shape the sparse sketch buffers exist for (most groups touch
    // a handful of registers; dense buffers would cost 16 KB per group
    // map-side). Rows-only: estimates aren't SQL-expressible; exactness
    // of the grouping and bounds are pinned in GraftFunctionsSpec.
    "grouped_sketch_rollup" -> ((s, dir) => {
      read(s, dir, "lineitem")
        .groupBy(F.col("l_suppkey"))
        .agg(
          F.count(F.lit(1)).as("n_rows"),
          hll_distinct(F.col("l_partkey"), 14).as("approx_parts"),
          kll_quantile(kll_sketch(F.col("l_quantity"), 200), F.lit(0.5)).as("qty_p50"))
        .orderBy("l_suppkey")
    }),

    // windowed event-stream rollup: tumbling 1-day windows per event
    // type, exact counts + rounded sums — exact DuckDB oracle
    "events_windowed" -> ((s, dir) => {
      read(s, dir, "events")
        .groupBy(F.window(F.col("ts"), "1 day").as("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.round(F.sum(F.col("value")), 2).as("sum_value"))
        .select(F.col("w.start").as("w_start"), F.col("event_type"),
          F.col("n_events"), F.col("sum_value"))
        .orderBy("w_start", "event_type")
    }),

    // deterministic stratified sampling (training-data curation): per
    // language, the 20 docs with the smallest multiplicative hash of
    // doc_id — an odd multiplier mod 2^32 is a bijection, so the order
    // is total and the "random" sample is reproducible on any cluster
    // layout. Runs as the mergeable top_k_by aggregate (k rows per
    // stratum per task cross the exchange — never a per-stratum window
    // sort). The hash is plain integer arithmetic, so the oracle is
    // exact.
    "stratified_sample" -> ((s, dir) => {
      val hv = (F.col("doc_id") * F.lit(2654435761L)) % F.lit(4294967296L)
      graft.ops.Sampling.stratifiedSample(
          read(s, dir, "documents"), "lang", "doc_id", hv, 20)
        .withColumn("sample_order", F.col("sample_order").cast("long"))
        .orderBy("lang", "sample_order")
    }),

    // weighted sample without replacement (Efraimidis-Spirakis A-ES):
    // per language, 10 docs weighted by length — the mergeable-key trick
    // (u^(1/w), keep the k largest) that makes weighted sampling a
    // partial aggregation. u is hash-derived, so both engines rank the
    // same deterministic keys; the key gaps (~1/n^2) are astronomically
    // larger than any libm pow divergence (~1 ulp), so the oracle is
    // exact.
    "weighted_sample" -> ((s, dir) => {
      val hv = (F.col("doc_id") * F.lit(2654435761L)) % F.lit(4294967296L)
      graft.ops.Sampling.weightedSample(
          read(s, dir, "documents").withColumn("__hv", hv),
          "lang", "doc_id", F.col("n_chars"), F.col("__hv"), 10)
        .orderBy("lang", "rank")
    }),

    // deterministic train/valid/test holdout split (3/4, 1/8, 1/8 —
    // power-of-two fractions divide the 2^32 hash space exactly):
    // membership is a pure function of the id hash, stable under any
    // partitioning. Exact oracle over per-(lang, split) counts.
    "holdout_split" -> ((s, dir) => {
      val hv = (F.col("doc_id") * F.lit(2654435761L)) % F.lit(4294967296L)
      val docs = read(s, dir, "documents").withColumn("__hv", hv)
      graft.ops.Sampling.hashSplit(docs, F.col("__hv"),
          Seq("train" -> 0.75, "valid" -> 0.125, "test" -> 0.125))
        .groupBy(F.col("lang"), F.col("split"))
        .agg(F.count(F.lit(1)).as("n"), F.min(F.col("doc_id")).as("min_id"))
        .orderBy("lang", "split")
    }),

    // deterministic mixture sampling: per-language target rates
    // (power-of-two => exact hash-space thresholds) — the training-data
    // MIXING step (re-weight languages toward a target distribution) as
    // a pure shuffle-free projection; kept sets are nested across rates.
    // Exact DuckDB oracle on the kept row set.
    "mixture_sample" -> ((s, dir) => {
      val hv = (F.col("doc_id") * F.lit(2654435761L)) % F.lit(4294967296L)
      graft.ops.Sampling.mixtureSample(read(s, dir, "documents"),
          "lang", hv, Map("en" -> 0.25, "de" -> 0.5, "fr" -> 1.0), 0.125)
        .select(F.col("lang"), F.col("doc_id"))
        .orderBy("lang", "doc_id")
    }),

    // analytic window functions over a keyed partition (SURVEY §2.5):
    // per-customer order ranking, previous-order delta, and running
    // total — the window shapes the kv/get semantics build on, as one
    // oracle-checked surface. Partitioned by customer (many keys), so
    // the shape parallelizes; never a global window.
    "window_analytics" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(F.col("o_custkey"))
        .orderBy(F.col("o_orderdate"), F.col("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      read(s, dir, "orders")
        .filter(F.col("o_custkey") % 100 === 0)
        .select(F.col("o_custkey"), F.col("o_orderkey"), F.col("o_orderdate"),
          F.rank().over(w).as("rnk"),
          F.lag(F.col("o_orderkey"), 1).over(w).as("prev_order"),
          F.round(F.sum(F.col("o_totalprice")).over(run), 2).as("running_total"))
        .orderBy("o_custkey", "rnk", "o_orderkey")
    }),

    // per-user sessionization via session_window (dynamic-gap windows):
    // a session extends while consecutive events are <= 2h apart
    // (inclusive boundary — pinned empirically in OpsSpec) and its end
    // is last-event + gap. Exact oracle via a gaps-and-islands rewrite.
    "sessionization" -> ((s, dir) => {
      read(s, dir, "events")
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.session_window(F.col("ts"), "2 hours").as("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).as("n_events"),
          F.round(F.sum(F.col("value")), 2).as("sum_value"))
        .select(F.col("user_id"),
          F.col("w.start").cast("timestamp_ntz").as("s_start"),
          F.col("w.end").cast("timestamp_ntz").as("s_end"),
          F.col("n_events"), F.col("sum_value"))
        .orderBy("user_id", "s_start")
    }),

    // the SAME sessionization through the REAL streaming engine: session
    // windows straddling the time-midpoint batch split exist as separate
    // state entries after batch 1 and must MERGE with batch 2's rows
    // (MergingSessions under the state store); the punctuation batch
    // advances the watermark past every real session's end so append
    // mode emits them all. Result must equal batch sessionization — the
    // same gaps-and-islands oracle applies verbatim.
    "streaming_sessionization" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val stream = stagedStream(s, dir, "graft_ssz_in", ev.schema)(
        watermarkBatches(ev, "event_type", 30L * 86400000L))
      runToSink(s, "ssz") {
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
          .withWatermark("ts", "1 minute")
          .groupBy(F.session_window(F.col("ts"), "2 hours").as("w"), F.col("user_id"))
          .agg(F.count(F.lit(1)).as("n_events"),
            F.round(F.sum(F.col("value")), 2).as("sum_value"))
          .select(F.col("user_id"),
            F.col("w.start").cast("timestamp_ntz").as("s_start"),
            F.col("w.end").cast("timestamp_ntz").as("s_end"),
            F.col("n_events"), F.col("sum_value"))
      }.orderBy("user_id", "s_start")
    }),

    // semi-structured JSON extraction (SURVEY §2.5 catalog breadth): the
    // props column is a JSON object; extract and aggregate a field.
    // Exact oracle via DuckDB's JSON functions.
    "json_props_rollup" -> ((s, dir) => {
      read(s, dir, "events")
        .select(F.col("event_type"),
          F.get_json_object(F.col("props"), "$.k").cast("long").as("k"))
        .groupBy(F.col("event_type"))
        .agg(F.count(F.lit(1)).as("n"), F.sum(F.col("k")).as("sum_k"),
          F.min(F.col("k")).as("min_k"), F.max(F.col("k")).as("max_k"))
        .orderBy("event_type")
    }),

    // multi-dimensional CUBE rollup (SURVEY §2.5: grouping sets come
    // straight from Spark built-ins) with grouping() disambiguating
    // rollup markers from data nulls. Exact oracle via DuckDB CUBE.
    "cube_event_counts" -> ((s, dir) => {
      val ev = read(s, dir, "events")
        .select(F.col("event_type"), F.to_date(F.col("ts")).as("d"), F.col("value"))
      ev.cube(F.col("event_type"), F.col("d"))
        .agg(F.count(F.lit(1)).as("n"),
          F.round(F.sum(F.col("value")), 2).as("sum_value"),
          F.grouping(F.col("event_type")).as("__ge"),
          F.grouping(F.col("d")).as("__gd"))
        .select(
          F.when(F.col("__ge") === 1, F.lit("(all)"))
            .otherwise(F.col("event_type")).as("event_type"),
          F.when(F.col("__gd") === 1, F.lit("(all)"))
            .otherwise(F.col("d").cast("string")).as("d"),
          F.col("n"), F.col("sum_value"))
        .orderBy("event_type", "d")
    }),

    // distributed LEFT AS-OF JOIN (an operator beyond the reference's
    // point lookups): each purchase gets the user's latest click at or
    // before it. One shuffle keyed by user, per-key forward-fill window
    // — never a range join. Exact oracle via DuckDB's native ASOF JOIN.
    "asof_join" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      // build side made unique per (user, ts) so the match is a function
      // of the data, not the engine's sort
      val clicks = ev.filter(F.col("event_type") === "click")
        .groupBy(F.col("user_id"), F.col("ts"))
        .agg(F.max(F.col("event_id")).as("click_id"),
          F.max(F.col("value")).as("click_value"))
      val purchases = ev.filter(F.col("event_type") === "purchase")
        .select(F.col("user_id"), F.col("ts"), F.col("event_id"))
      graft.ops.AsOfJoin.leftAsOf(purchases, clicks, "user_id", "ts")
        .orderBy("user_id", "ts", "event_id")
    }),

    // the SAME windowed rollup through the REAL Structured Streaming
    // engine: file-source stream in THREE watermark-ordered micro-batches
    // (early half / late half split on the time midpoint, so windows
    // straddling the split accumulate state across batches), append-mode
    // windowed aggregation gated by a 1-minute watermark, and a final
    // punctuation batch 3 days past max(ts) that advances the watermark
    // past every real window's end — append mode then emits them all
    // while the punctuation's own window stays correctly withheld. The
    // memory-sink table must therefore equal the batch rollup: the
    // events_windowed oracle applies almost verbatim.
    "streaming_windowed_counts" -> ((s, dir) => {
      val ev = read(s, dir, "events")
      val stream = stagedStream(s, dir, "graft_swc_in", ev.schema)(
        watermarkBatches(ev, "event_type", 3L * 86400000L))
      runToSink(s, "swc") {
        // watermarks require TIMESTAMP; the UTC session makes the
        // NTZ->TIMESTAMP cast (and the cast back on output) lossless
        stream.withColumn("ts", F.col("ts").cast("timestamp"))
          .withWatermark("ts", "1 minute")
          .groupBy(F.window(F.col("ts"), "1 day").as("w"), F.col("event_type"))
          .agg(F.count(F.lit(1)).as("n_events"),
            F.round(F.sum(F.col("value")), 2).as("sum_value"))
          .select(F.col("w.start").cast("timestamp_ntz").as("w_start"),
            F.col("event_type"), F.col("n_events"), F.col("sum_value"))
      }.orderBy("w_start", "event_type")
    }),

    // same rollup with HLL distinct users per window — rows-only (bound-
    // checked vs exact countDistinct in GraftFunctionsSpec patterns)
    "events_windowed_sketch" -> ((s, dir) => {
      read(s, dir, "events")
        .groupBy(F.window(F.col("ts"), "1 day").as("w"), F.col("event_type"))
        .agg(hll_distinct(F.col("user_id"), 14).as("approx_users"))
        .select(F.col("w.start").as("w_start"), F.col("event_type"), F.col("approx_users"))
        .orderBy("w_start", "event_type")
    }),

    // bloom-filtered semi-join (ckblm analog, SURVEY.md §2.4). Keys stay
    // LongType: integral keys canonicalize to 8-byte binary, which routes
    // through the murmur2 kernel's full mixing loop — short decimal
    // strings would instead hit the reference's seed-by-index/leading-
    // digit correlation and its catastrophic FPR (see BloomSketch docs).
    "bloom_probe_members" -> ((s, dir) => {
      val orders = read(s, dir, "orders")
      val built = orders.filter(F.col("o_orderstatus") === "F")
      // sized from the build side (the mkblm sizing rule; o_orderkey is
      // unique, so the row count is the distinct count) — a hardcoded
      // capacity silently degrades FPR at larger scale factors
      val maxSize = math.max(128L, built.count())
      val sketch = built.agg(
        bloom_sketch(F.col("o_orderkey"), maxSize, 16)).head().getAs[Array[Byte]](0)
      // probe the full table; members always pass, non-members pass at
      // FPR ~0.62^16 (~ none at this scale) — rows-only checked
      orders.filter(bloom_might_contain(F.lit(sketch), F.col("o_orderkey")))
        .select(F.col("o_orderkey")).orderBy("o_orderkey")
    }),

    // Bloom-accelerated exact semi join (ckblm as a join pushdown): when
    // the join shuffles the probe side, the probe side is prefiltered by
    // the build side's key sketch before the exchange, then
    // exact-verified; when the planner broadcasts the build side, the
    // exact join runs alone. Either way the result equals a plain semi
    // join, so the DuckDB oracle is exact.
    "bloom_semi_join" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val smallParts = read(s, dir, "part").filter(F.col("p_size") <= 5)
      graft.ops.BloomJoin.semi(li, "l_partkey", smallParts, "p_partkey")
        .select(F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // Bloom-accelerated exact ANTI join (ckblm -reverse as a join): when
    // the join shuffles the probe side, Bloom-rejected rows are provably
    // absent and ship join-free, and only the "maybe" subset pays the
    // exact anti join; under a broadcast build side the exact join runs
    // alone. Result equals a plain anti join — exact DuckDB oracle.
    "bloom_anti_join" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val smallParts = read(s, dir, "part").filter(F.col("p_size") <= 5)
      graft.ops.BloomJoin.anti(li, "l_partkey", smallParts, "p_partkey")
        .select(F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // ---- HashFile lookup analogs (SURVEY.md §2.3): lookups become
    // broadcast joins; lineitem is the multimap (key = l_orderkey,
    // insertion order = l_linenumber, the reference's duplicate-key
    // ordering contract, RigorousHashFileTestBase.java:74-90) ----

    // get(key): first value per key, keys probed from a small set.
    // The ordering is TOTAL (linenumber can repeat in the testdata, and a
    // rank-1 under a partial order would be engine-dependent). KvLookup
    // .getFirst's broadcastProbes=false escape (plan-tested in OpsSpec)
    // covers probe sets too large to broadcast.
    "kv_get_first" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val probeKeys = read(s, dir, "orders")
        .filter(F.col("o_orderstatus") === "P")
        .select(F.col("o_orderkey"))
      graft.ops.KvLookup.getFirst(li, "l_orderkey", probeKeys, "o_orderkey",
        order = Seq(F.col("l_linenumber"), F.col("l_partkey"), F.col("l_quantity")))
        .select(F.col("l_orderkey"), F.col("l_partkey"), F.col("l_quantity"))
        .orderBy("l_orderkey")
    }),

    // getMulti(key): all values per probed key, in insertion order
    "kv_multi_get" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val probeKeys = read(s, dir, "orders")
        .filter(F.col("o_orderstatus") === "P")
        .select(F.col("o_orderkey").as("l_orderkey"))
      li.join(F.broadcast(probeKeys), "l_orderkey")
        .select(F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
    }),

    // mkhf text ingestion (cmd/mkhf.java:63-87): newline-delimited
    // key<TAB>value records, lowercase-before-split normalization, and
    // the exactly-two-fields rule (malformed lines silently dropped,
    // incl. the Java split trailing-empty subtlety). The table is staged
    // as real text files in-query, read back through TextKvSource with
    // lower=true, with planted BAD lines that must vanish. Exact oracle.
    "text_kv_source" -> ((s, dir) => {
      val staged = stagingDir("graft_tkv").toString
      val orders = read(s, dir, "orders")
      val lines = orders
        .select(F.concat_ws("\t",
          F.col("o_orderkey").cast("string"), F.col("o_orderpriority")).as("value"))
        .unionAll(s.range(1).select(F.lit("BADLINE WITHOUT DELIMITER").as("value")))
        .unionAll(s.range(1).select(F.lit("bad\tline\textra").as("value")))
      lines.write.mode("overwrite").text(staged)
      graft.sources.TextKvSource.read(s, staged, lower = true)
        .withColumnRenamed("key", "k").withColumnRenamed("value", "v")
        .orderBy("k", "v")
    }),

    // ASSOCIATIVE-mode getMulti (Header2.java:79, FileOperations2.java:
    // 260-263): retrieval by 64-bit HASH equality only — key bytes are
    // never compared. Equal to the exact key join absent collisions
    // (murmur64 over <=150k orderkeys), so kv_multi_get's oracle applies
    // verbatim; the hash-equality-only bag semantics (a manufactured
    // 32-bit collision retrieving both keys' values) are pinned in
    // OpsSpec.
    "kv_multi_get_by_hash" -> ((s, dir) => {
      val li = read(s, dir, "lineitem")
      val probeKeys = read(s, dir, "orders")
        .filter(F.col("o_orderstatus") === "P")
        .select(F.col("o_orderkey"))
      graft.ops.KvLookup.multiGetByHash(li, "l_orderkey", probeKeys, "o_orderkey")
        .select(F.col("l_orderkey"), F.col("l_linenumber"), F.col("l_partkey"))
        .orderBy("l_orderkey", "l_linenumber", "l_partkey")
    }),

    // dumphf -> mkhf round trip (cmd/dumphf.java:31-56 emit, cmd/
    // mkhf.java:63-87 re-ingest): the full table scanned in insertion
    // order, dumped through TextKvSink's key<TAB>value format as REAL
    // text files, and parsed back by TextKvSource. Sink and source being
    // exact inverses is the elements()/dump contract; exact oracle over
    // the reconstructed records.
    "kv_dump_roundtrip" -> ((s, dir) => {
      val staged = stagingDir("graft_dump")
      val li = read(s, dir, "lineitem")
        .select(F.col("l_orderkey").cast("string").as("k"),
          F.concat(F.col("l_linenumber").cast("string"), F.lit(":"),
            F.col("l_partkey").cast("string")).as("v"))
      graft.sources.TextKvSink.write(li, "k", "v", staged.toString)
      graft.sources.TextKvSource.read(s, staged.toString)
        .withColumnRenamed("key", "k").withColumnRenamed("value", "v")
        .orderBy("k", "v")
    }),

    // ---- training-data ops over the documents/embeddings tables ----

    // exact dedup with planted duplicates (doc_id+100000 copies): keeps
    // the min id per distinct text — exact DuckDB oracle
    "exact_dedup" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val doubled = docs.unionAll(
        docs.select((F.col("doc_id") + 100000).as("doc_id"), F.col("text")))
      Dedup.exactDedup(doubled, "doc_id", "text").orderBy("doc_id")
    }),

    // incremental dedup: a NEW snapshot (odd doc_ids + planted copies of
    // old docs + an in-batch duplicate) deduped against the EXISTING
    // corpus (even doc_ids) through BloomJoin's exact anti join — the
    // "dedup the fresh crawl against history without rescanning history
    // per batch" stage. Exact at full scale (the Bloom prefilter, used
    // when the join shuffles the batch, is an accelerator, not an
    // approximation: might-contain rows pay the exact join), so the
    // oracle is a plain text-level first-occurrence anti join.
    "incremental_dedup" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val old = docs.filter(F.col("doc_id") % 2 === 0)
      val newBatch = docs.filter(F.col("doc_id") % 2 === 1)
        .unionAll(old.filter(F.col("doc_id") < 100)
          .select((F.col("doc_id") + 200000).as("doc_id"), F.col("text")))
        .unionAll(docs.filter(F.col("doc_id") % 2 === 1 && F.col("doc_id") < 100)
          .select((F.col("doc_id") + 300000).as("doc_id"), F.col("text")))
      Dedup.incrementalDedup(newBatch, old, "doc_id", "text")
        .select(F.col("doc_id"))
        .orderBy("doc_id")
    }),

    // STREAMING exact dedup through the real Structured Streaming engine:
    // file-source stream -> stateful firstSeen -> memory sink, then the
    // sink read back as the result. TWO staged files processed as TWO
    // micro-batches (maxFilesPerTrigger=1, mtime-ordered): batch 1 is the
    // original table, batch 2 a shifted-id copy with identical texts — so
    // CROSS-BATCH state suppression is what the oracle checks (batch 2
    // must contribute zero rows). Kept id = min doc_id per distinct text:
    // exact DuckDB oracle.
    "streaming_dedup" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val stream = stagedStream(s, dir, "graft_sd_in", docs.schema)(
        Seq(docs, docs.withColumn("doc_id", F.col("doc_id") + 1000000L)))
      runToSink(s, "sd") {
        graft.ops.StreamingDedup.firstSeen(
          stream.select(F.col("doc_id"), F.col("text")), "doc_id", "text")
      }.select(F.col("doc_id"), F.col("text")).orderBy("doc_id")
    }),

    // kll_histogram in the EXACT regime (k >= every group: no
    // compaction, so min/max are true extremes and bin counts are exact
    // rank differences over the equal-width edges) — DuckDB reproduces
    // the bins with the same IEEE edge arithmetic. Empty bins are
    // emitted on both sides, and a degenerate all-equal group collapses
    // to ONE bin on both sides; the profiling primitive under oracle.
    "kll_histogram_exact" -> ((s, dir) => {
      val sk = read(s, dir, "lineitem")
        .groupBy(F.col("l_suppkey"))
        .agg(kll_sketch(F.col("l_quantity").cast("double"), 8192).as("sk"))
      sk.select(F.col("l_suppkey"),
          F.posexplode(kll_histogram(F.col("sk"), F.lit(4))).as(Seq("__p", "__b")))
        .select(F.col("l_suppkey"),
          (F.col("__p") + 1).cast("long").as("bin"),
          F.col("__b.lo").as("bin_lo"),
          F.col("__b.hi").as("bin_hi"),
          F.col("__b.cnt").as("cnt"))
        .orderBy("l_suppkey", "bin")
    }),

    // INTERVAL (range) join, bucketized: 360 deterministic overlapping
    // windows (1-5h long, every 2h) joined to January's events on epoch
    // seconds through a 2h-bucket EQUI-join + exact containment — the
    // naive non-equi formulation is a nested-loop scan Spark cannot
    // shuffle-partition. Exact oracle via DuckDB's native inequality
    // join; both engines floor fractional-second timestamps identically.
    "range_join_events" -> ((s, dir) => {
      val base = 1704067200L // 2024-01-01T00:00:00Z, the events epoch
      val iv = s.range(360).select(F.col("id").as("w_id"),
        (F.lit(base) + F.col("id") * 7200L).as("w_start"),
        (F.lit(base) + F.col("id") * 7200L +
          (F.col("id") % 5 + 1) * 3600L).as("w_end"))
      val ev = read(s, dir, "events")
        .select(F.col("ts").cast("timestamp").cast("long").as("ets"))
      graft.ops.RangeJoin.intervalJoin(ev, "ets", iv, "w_start", "w_end",
        bucketWidth = 7200L)
        .groupBy(F.col("w_id"))
        .agg(F.count(F.lit(1)).as("n_events"))
        .orderBy("w_id")
    }),

    // FUZZY self-join (typo clustering): the vocabulary plus planted
    // first-char typos, paired at edit distance <= 1 through the q-gram
    // prefix filter + exact levenshtein verify. Both engines implement
    // the same unit-cost Levenshtein, so the oracle is the brute-force
    // all-pairs join over the identical deterministic population.
    "fuzzy_term_pairs" -> ((s, dir) => {
      val terms = read(s, dir, "documents")
        .select(F.explode(Tokenizer.space(F.col("text"))).as("term")).distinct()
      val typos = terms.filter(F.length(F.col("term")) >= 4)
        .select(F.concat(F.lit("z"), F.expr("substring(term, 2)")).as("term"))
      val pop = terms.unionByName(typos).distinct()
      graft.ops.FuzzyJoin.editDistancePairs(pop, "term", "term", maxEd = 1, q = 2)
        .select(F.col("id_a").as("term_a"), F.col("id_b").as("term_b"),
          F.col("ed").cast("long").as("ed"))
        .orderBy("term_a", "term_b")
    }),

    // DECONTAMINATION: per-document benchmark n-gram overlap counts.
    // The "benchmark" is synthesized deterministically from the corpus
    // itself (token window 5..24 of every 97th document), so real
    // contamination exists by construction; the overlap count is exact
    // (BloomJoin's prefilter, used when the join shuffles the corpus
    // grams, only prunes), and DuckDB reproduces the identical n-gram
    // sets from the identical slices.
    "decontaminate_corpus" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val bench = docs.filter(F.col("doc_id") % 97 === 0)
        .select(F.array_join(
          F.slice(Tokenizer.space(F.col("text")), 5, 20), " ")
          .as("bench_text"))
      graft.ops.Decontaminate.overlapHits(docs, "doc_id", "text",
          bench, "bench_text", n = 8)
        .select(F.col("doc_id"), F.col("n_hits"))
        .orderBy("doc_id")
    }),

    // C4-style cross-document LINE dedup: "lines" are fixed 10-token
    // chunks (the corpus has no newlines); every distinct chunk
    // survives only at its first (doc_id, position) occurrence and
    // documents are reassembled from their survivors. 151 of 2,949
    // chunk occurrences drop at sf0.01 — real cross-doc repetition.
    "line_dedup" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      // tokens lambda-bound via the one-element outer transform — a
      // free tokens expression inside the chunk lambda re-tokenizes the
      // document per chunk (the duplicateSpans CollapseProject lesson)
      val chunks = F.flatten(F.transform(
        F.array(Tokenizer.space(F.col("text"))), w =>
          F.when(F.size(w) > 0,
            F.transform(
              F.sequence(F.lit(1), F.ceil(F.size(w) / F.lit(10.0)).cast("int")),
              i => F.array_join(
                F.slice(w, (i - F.lit(1)) * F.lit(10) + F.lit(1), F.lit(10)),
                " ")))
          .otherwise(F.array().cast("array<string>"))))
      val withLines = docs.select(F.col("doc_id"), chunks.as("lines"))
      graft.ops.Dedup.lineDedup(withLines, "doc_id", "lines")
        .select(F.col("doc_id"),
          F.array_join(F.col("lines"), " ").as("kept_text"),
          F.size(F.col("lines")).cast("long").as("n_kept"))
        .filter(F.col("n_kept") > 0)
        .orderBy("doc_id")
    }),

    // SNAPSHOT DIFF: the previous snapshot is synthesized from the
    // corpus (every 11th doc not yet present -> added; every 13th
    // carried older text -> changed; retired ids beyond the corpus ->
    // removed). The engine classifies by content hash, the oracle by
    // text equality — identical absent 64-bit collisions.
    "snapshot_diff" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val prev = docs.filter(F.col("doc_id") % 11 =!= 0)
        .select(F.col("doc_id"),
          F.when(F.col("doc_id") % 13 === 0,
            F.concat(F.col("text"), F.lit(" legacy"))).otherwise(F.col("text"))
            .as("text"))
        .unionByName(docs.filter(F.col("doc_id") % 17 === 0)
          .select((F.col("doc_id") + 1000000L).as("doc_id"),
            F.concat(F.lit("retired "), F.col("doc_id").cast("string")).as("text")))
      graft.ops.SnapshotDiff.diff(prev, docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // Gopher-style repetition signals: duplicate-chunk fraction (pure
    // projection) + top-bigram mass fraction ((id, bigram) partial
    // counts). Exact: integer counts, IEEE double division both sides.
    "repetition_signals" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      TextAnalysis.repetitionSignals(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // model-based quality scoring (the CCNet/KenLM pipeline stage):
    // bigram LM with stupid backoff trained on the corpus, every
    // document scored against it. Fixed-point per-position scores
    // (floor(p*1e9) summed as integers) make the rollup independent of
    // float summation order, so the oracle hash-matches the doubles —
    // DuckDB re-derives the full model (unigram/bigram counts) and
    // every position's score from the same parquet. Documents with
    // fewer than two tokens have no bigram positions and drop out in
    // both engines.
    "ngram_lm_score" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      graft.ops.NgramLm.selfScore(docs, "doc_id", "text")
        .orderBy("doc_id")
    }),

    // keyword extraction: per-doc top-3 terms by rarity-weighted
    // frequency (tf/df), ranked through the mergeable top_k_by k-heap —
    // exact oracle (integer counts, IEEE division, term tie-break)
    "doc_top_terms" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      TextAnalysis.topTermsByRarity(docs, "doc_id", "text", k = 3)
        .orderBy("doc_id", "rank")
    }),

    // CONTEXT-WINDOW chunking: 64-token windows every 48 tokens
    // (16-token overlap), tail kept unpadded — a pure projection, the
    // long-document split step of sequence preparation. Exact: integer
    // chunk-start arithmetic, identical tokenization both engines.
    "doc_chunking" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      graft.ops.Sequencing.chunk(docs, "doc_id", "text", window = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")
    }),

    // SEQUENCE PACKING: global token offsets + capacity-2048 shard
    // assignment in doc_id order via the two-level prefix scan (never a
    // single-partition global window — PlanAudit checks). Exact: the
    // running total is integer arithmetic; the oracle computes the same
    // cumulative sum with a plain window.
    "sequence_pack" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .select(F.col("doc_id"),
          F.size(Tokenizer.space(F.col("text"))).as("n_tokens"))
      graft.ops.Sequencing.packSequences(docs, "doc_id", "n_tokens",
        capacity = 2048, bucketWidth = 100)
        .orderBy("doc_id")
    }),

    // PII scrub: emails/phones planted deterministically (the corpus has
    // none), redacted with placeholder tokens, counted from the original
    // text. Patterns stay in the regex subset Java and RE2 share, so the
    // scrubbed strings and counts are engine-exact.
    "pii_scrub" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val planted = docs.select(F.col("doc_id"), F.concat(F.col("text"),
        F.when(F.col("doc_id") % 7 === 0,
          F.concat(F.lit(" contact user"), F.col("doc_id").cast("string"),
            F.lit("@example.com now"))).otherwise(F.lit("")),
        F.when(F.col("doc_id") % 11 === 0,
          F.concat(F.lit(" call 555-010-"),
            F.lpad(F.pmod(F.col("doc_id"), F.lit(10000)).cast("string"), 4, "0")))
          .otherwise(F.lit(""))).as("text"))
      graft.ops.Redact.scrub(planted, "text")
        .select(F.col("doc_id"), F.col("scrubbed_text"),
          F.col("n_email"), F.col("n_phone"))
        .orderBy("doc_id")
    }),

    // SKETCH-DRIVEN curation: the length filter's thresholds come FROM
    // the engine's own KLL sketch (p5/p95 of the token count) instead of
    // hand-set constants — the standard "profile, then filter" loop, one
    // aggregation pass + one filtered rollup. Exact oracle via the
    // no-compaction KLL regime (k=8192 >= corpus size): quantile(q) is
    // the order statistic at rank ceil(q*n), which DuckDB reproduces.
    // The 1-row threshold broadcast is the one deliberate tiny-side
    // cross join beyond the ANN baseline (PlanAudit whitelist).
    "pipeline_length_filter" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .select(F.col("doc_id"), F.col("lang"),
          TextAnalysis.token_count(F.col("text")).as("n_tokens"))
      val th = docs
        .agg(kll_sketch(F.col("n_tokens").cast("double"), 8192).as("sk"))
        .select(kll_quantile(F.col("sk"), F.lit(0.05)).as("__lo"),
          kll_quantile(F.col("sk"), F.lit(0.95)).as("__hi"))
      docs.crossJoin(F.broadcast(th))
        .filter(F.col("n_tokens").cast("double") >= F.col("__lo") &&
          F.col("n_tokens").cast("double") <= F.col("__hi"))
        .groupBy(F.col("lang"))
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_tokens").cast("long")).as("total_tokens"))
        .orderBy("lang")
    }),

    // STREAMING dedup with Bloom-bank STATE COMPACTION: epoch 1 (the
    // documents table) is snapshotted into a partitioned Bloom bank; the
    // live stream (every epoch-1 text re-submitted under new ids, plus
    // genuinely new marked texts) is prefiltered by a routed stream-
    // static bank join before the stateful stage, so state only carries
    // the new epoch. Exact oracle in the FP-free regime (verified
    // deterministic at both SFs): seen docs can never re-emit (no false
    // negatives), so the output is exactly the new texts, min id each.
    // NOT memoized — the streaming job runs at build time (the result is
    // a materialized memory sink), so every call honestly re-runs the
    // bank build + stream; the bank persist is released after the run.
    "streaming_dedup_compacted" -> ((s, dir) => {
      val epoch1 = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val bank = graft.ops.StreamingDedup
        .seenBank(epoch1, "text", nParts = 8, maxSizePerPart = 2048)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      bank.count() // materialize once; the stream-static join reuses it
      // only the input staging is reused; the bank build above and the
      // streaming run below re-run on every call
      val stream = stagedStream(s, dir, "graft_sdc_in", epoch1.schema)(Seq(
        epoch1.select((F.col("doc_id") + 200000L).as("doc_id"), F.col("text"))
          .unionByName(epoch1.select((F.col("doc_id") + 300000L).as("doc_id"),
            F.concat(F.col("text"), F.lit(" fresh marker")).as("text")))))
      // unpersist in finally: a failed start/run must not strand the
      // persisted bank in executor storage for the session's lifetime
      val out =
        try runToSink(s, "sdc") {
          graft.ops.StreamingDedup.firstSeenCompacted(
            stream.select(F.col("doc_id"), F.col("text")),
            "doc_id", "text", bank, nParts = 8)
        } finally bank.unpersist(blocking = false)
      out.select(F.col("doc_id"), F.col("text")).orderBy("doc_id")
    }),

    // quality scoring: deterministic arithmetic, exact DuckDB oracle
    "text_quality" -> ((s, dir) => {
      TextAnalysis.qualityScore(read(s, dir, "documents"), "text")
        .select(F.col("doc_id"), F.col("n_tokens").cast("long").as("n_tokens"),
          F.col("avg_token_len"), F.col("punct_ratio"), F.col("alpha_ratio"),
          F.col("quality_score"))
        .orderBy("doc_id")
    }),

    // per-source curation dashboard: docs bucketed into 20 synthetic
    // domains, rolled up to doc counts, token volume, mean quality and
    // exact-duplicate counts per domain — the report a crawl pipeline
    // reads before deciding which sources to keep. Mean quality stays
    // exactly oracle-checkable because quality_score lands on a tenth
    // after its round(.,4): round(qs*10) is an exact integer per doc, so
    // the rollup sums integers (order-free) and divides once.
    "domain_quality_rollup" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val q = TextAnalysis.qualityScore(docs, "text")
        .select(F.col("doc_id"), F.col("n_tokens"), F.col("quality_score"))
      val losers = Dedup.exactDupLosers(docs, "doc_id", "text")
        .select(F.col("dup_id").as("doc_id"), F.lit(1L).as("__dup"))
      q.withColumn("domain", F.concat(F.lit("site"),
          F.pmod(F.col("doc_id"), F.lit(20L)).cast("string"),
          F.lit(".example.com")))
        .join(losers, Seq("doc_id"), "left")
        .groupBy(F.col("domain"))
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("n_tokens").cast("long")).as("sum_tokens"),
          F.sum(F.round(F.col("quality_score") * 10).cast("long")).as("__q10"),
          F.sum(F.coalesce(F.col("__dup"), F.lit(0L))).as("n_dups"))
        .select(F.col("domain"), F.col("n_docs"), F.col("sum_tokens"),
          (F.col("__q10").cast("double") / F.col("n_docs") / F.lit(10.0))
            .as("mean_quality"),
          F.col("n_dups"))
        .orderBy("domain")
    }),

    // token budget counting: whitespace + subword-proxy, exact oracle
    "token_counts" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      docs.select(F.col("doc_id"),
        TextAnalysis.token_count(F.col("text")).cast("long").as("n_tokens"),
        TextAnalysis.subword_count(F.col("text")).cast("long").as("n_subwords"))
        .orderBy("doc_id")
    }),

    // composite curation pipeline — the operators composed the way a
    // training-data job actually chains them: quality-filter -> exact
    // dedup (min id per distinct text among survivors) -> per-language
    // token budget. Exact DuckDB oracle end to end.
    "pipeline_curation" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      val scored = TextAnalysis.qualityScore(docs, "text")
        .filter(F.col("quality_score") >= 0.7)
      // SINGLE PASS: the three quality regexes run exactly once. The old
      // shape (exactDedup then scored.join(kept)) re-executed the whole
      // quality subplan on both self-join branches — Spark re-executes,
      // not shares, common subplans (VERDICT r3 "What's wrong #1"). Here
      // dedup IS the aggregation: per content hash (exactDedup's own
      // collision-free-regime key, 8 bytes shuffled instead of the text),
      // min_by keeps the winning row's (doc_id, lang, n_tokens) verbatim,
      // then the per-language rollup runs over the winners — no self-join.
      scored
        .groupBy(murmur64(F.col("text")).as("__h"))
        .agg(F.min_by(
          F.struct(F.col("doc_id"), F.col("lang"), F.col("n_tokens")),
          F.col("doc_id")).as("__w"))
        .groupBy(F.col("__w.lang").as("lang"))
        .agg(F.count(F.lit(1)).as("n_docs"),
          F.sum(F.col("__w.n_tokens").cast("long")).as("total_tokens"))
        .orderBy("lang")
    }),

    // per-label embedding centroids through the mergeable vec_mean
    // aggregate (one (double[dims], count) buffer per group — never a
    // posexplode of rows x dims); exploded to (label, dim, mean_val) so
    // the oracle compares scalars, avg'd identically in double
    "embedding_centroids" -> ((s, dir) => {
      import graft.spark.functions.vec_mean
      read(s, dir, "embeddings")
        .groupBy(F.col("label"))
        .agg(vec_mean(F.col("embedding")).as("__c"))
        .select(F.col("label").cast("long").as("label"),
          F.posexplode(F.col("__c")).as(Seq("__d", "mean_val")))
        .select(F.col("label"), F.col("__d").cast("long").as("dim"),
          F.col("mean_val"))
        .orderBy("label", "dim")
    }),

    // brute-force cosine top-k ANN baseline; ranks (not float scores) so
    // the DuckDB oracle compares exactly
    "similarity_topk" -> ((s, dir) => {
      val embs = read(s, dir, "embeddings")
      val queries = embs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
      Similarity.bruteForceTopK(embs, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 10)
        .select(F.col("query_id"), F.col("vec_id"), F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // IVF top-k in the EXHAUSTIVE-probe regime (nprobe = nlist): the
    // trained coarse quantizer routes every query through all cells, so
    // the result provably equals brute force — the exact-regime trick
    // that makes an index path oracle-checkable (same oracle SQL as
    // similarity_topk). The real approximate regime (nprobe << nlist)
    // is pinned by the OpsSpec recall test on planted neighborhoods.
    // memoized: trainIvf runs its deterministic sample + Lloyd pass at
    // plan-BUILD time, so re-invocations in one JVM (the bench's two
    // passes) must not re-train on every call
    "ivf_topk" -> ((s, dir) => SessionReuse.once(s, ("ivf_topk", dir)) {
      val embs = read(s, dir, "embeddings")
      val queries = embs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
      Similarity.ivfTopK(embs, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 10, nlist = 16, nprobe = 16)
        .select(F.col("query_id"), F.col("vec_id"), F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // product-quantization ANN (Jégou et al. 2011) — the compressed-
    // index path: corpus encoded to m=8 codes/row, ADC-scored shortlist,
    // exact-cosine rerank of shortlist ids only. Production regime
    // (shortlist a few times k) is rows-only; recall vs brute force is
    // pinned in OpsSpec, and the exhaustive regime below carries the
    // exact oracle.
    "pq_topk" -> ((s, dir) => SessionReuse.once(s, ("pq_topk", dir)) {
      val embs = read(s, dir, "embeddings")
      val queries = embs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
      Similarity.pqTopK(embs, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 10, m = 8, kc = 16, shortlist = 50)
        .select(F.col("query_id"), F.col("vec_id"), F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // PQ in the EXHAUSTIVE regime (shortlist >= |corpus slice|): every
    // corpus row reaches the exact rerank, so the output provably
    // equals brute force row for row REGARDLESS of codebook quality —
    // the similarity_topk oracle restricted to the slice.
    "pq_topk_exact" -> ((s, dir) => SessionReuse.once(s, ("pq_topk_exact", dir)) {
      val embs = read(s, dir, "embeddings").filter(F.col("vec_id") < 500)
      val queries = embs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
      Similarity.pqTopK(embs, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 10, m = 8, kc = 16, shortlist = 500)
        .select(F.col("query_id"), F.col("vec_id"), F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // SRP-LSH approximate top-k — the scale path of similarity_topk:
    // multi-table signature buckets, bucket-local rerank. The testdata
    // embeddings are isotropic noise (pairwise cosine ~ 0), where no LSH
    // can beat brute force, so 3 slightly-rotated copies of each query
    // are planted per query: the true top-4 neighborhood the sketch must
    // retrieve. Rows-only (LSH is not SQL-expressible); recall >= 0.9 vs
    // bruteForceTopK on this construction is asserted in OpsSpec.
    "lsh_topk" -> ((s, dir) => {
      val embs = read(s, dir, "embeddings").select(F.col("vec_id"), F.col("embedding"))
      val qbase = embs.filter(F.col("vec_id") < 5)
      // perturbed copies: alternating +/- (1% * j) per component — a
      // genuine small-angle rotation, not a pure rescale (which SRP
      // signatures would be trivially invariant to)
      val planted = (1 to 3).map { j =>
        qbase.select((F.col("vec_id") + F.lit(100000L * j)).as("vec_id"),
          F.transform(F.col("embedding"), (x, i) =>
            x * (F.lit(1.0f) + F.lit(0.01f * j) *
              F.when(i % 2 === 0, F.lit(1.0f)).otherwise(F.lit(-1.0f))))
            .as("embedding"))
      }.reduce(_ unionAll _)
      val queries = qbase.select(F.col("vec_id").as("query_id"),
        F.col("embedding").as("qvec"))
      Similarity.lshTopK(embs.unionAll(planted), "vec_id", "embedding",
        queries, "query_id", "qvec", k = 4, bits = 12, tables = 4)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // MULTIPROBE LSH: one table + 6 least-confident-bit probes instead
    // of 4 tables — the cheap recall knob at corpus scale (fanout lands
    // on the broadcast query side; the corpus is bucketed once). Same
    // planted construction as lsh_topk; rows-only (recall >= single-
    // probe and >= 0.85 of brute force asserted in OpsSpec).
    "lsh_multiprobe_topk" -> ((s, dir) => {
      val embs = read(s, dir, "embeddings").select(F.col("vec_id"), F.col("embedding"))
      val qbase = embs.filter(F.col("vec_id") < 5)
      val planted = (1 to 3).map { j =>
        qbase.select((F.col("vec_id") + F.lit(100000L * j)).as("vec_id"),
          F.transform(F.col("embedding"), (x, i) =>
            x * (F.lit(1.0f) + F.lit(0.01f * j) *
              F.when(i % 2 === 0, F.lit(1.0f)).otherwise(F.lit(-1.0f))))
            .as("embedding"))
      }.reduce(_ unionAll _)
      val queries = qbase.select(F.col("vec_id").as("query_id"),
        F.col("embedding").as("qvec"))
      Similarity.lshTopK(embs.unionAll(planted), "vec_id", "embedding",
        queries, "query_id", "qvec", k = 4, bits = 12, tables = 1, nflip = 6)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // the SAME LSH pipeline in the EXHAUSTIVE regime (bits = 0, one
    // table => every corpus vector shares the query's single bucket):
    // the bucket-local rerank provably sees the whole corpus, so the
    // result equals brute force and similarity_topk's oracle applies
    // verbatim — an exact end-to-end check of the bucket-join + rerank
    // machinery itself
    "lsh_topk_exact" -> ((s, dir) => {
      val embs = read(s, dir, "embeddings").select(F.col("vec_id"), F.col("embedding"))
      val queries = embs.filter(F.col("vec_id") < 5)
        .select(F.col("vec_id").as("query_id"), F.col("embedding").as("qvec"))
      Similarity.lshTopK(embs, "vec_id", "embedding",
        queries, "query_id", "qvec", k = 10, bits = 0, tables = 1)
        .select(F.col("query_id"), F.col("vec_id"),
          F.col("rank").cast("long").as("rank"))
        .orderBy("query_id", "rank")
    }),

    // near-dup detection suite: rows-only (LSH pipelines are not SQL-
    // expressible); planted +100000 mutated copies guarantee rows>0, and
    // OpsSpec asserts recall/precision with ground truth
    "minhash_near_dups" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val mutated = docs.select((F.col("doc_id") + 100000).as("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).as("text"))
      Dedup.minhashLshPairs(docs.unionAll(mutated), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.5)
        .orderBy("id_a", "id_b")
    }),

    // the SAME pipeline in the EXHAUSTIVE regime (probeAll: one shared
    // bucket): candidates are provably all pairs, so the output EQUALS
    // the brute-force all-pairs shingle-Jaccard join — SQL-expressible,
    // closing the last LSH-family query whose verify predicate DuckDB
    // can compute (simhash's verify is murmur-valued and cannot be).
    // Quadratic by construction, so it runs over a FIXED 100-doc slice
    // (+ tailmarker twins) at every scale factor; the banded regime
    // above stays the scale path.
    "minhash_dups_exact" -> ((s, dir) => {
      // the >= 3-token guard pins the regime: TextOps.shingles falls
      // back to the raw token set below shingleSize, which the trigram
      // oracle SQL deliberately does not model — exclude sub-trigram
      // docs on BOTH sides so equality is structural, not coincidental
      // guard on NON-EMPTY tokens (shingling drops empties): a raw
      // split count would admit a doc with 3 raw but <3 real tokens,
      // which falls into shingles' token-set fallback the oracle does
      // not model
      val docs = read(s, dir, "documents").filter(F.col("doc_id") < 100)
        .filter(F.size(Tokenizer.space(F.col("text"))) >= 3)
        .select(F.col("doc_id"), F.col("text"))
      val mutated = docs.select((F.col("doc_id") + 100000).as("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).as("text"))
      Dedup.minhashLshPairs(docs.unionAll(mutated), "doc_id", "text",
        numHashes = 64, bands = 16, shingleSize = 3, threshold = 0.7,
        probeAll = true)
        .orderBy("id_a", "id_b")
    }),

    // EXACT n-gram Jaccard dedup (prefix-filtered AllPairs): unlike the
    // LSH pipelines above this one has no probabilistic recall, so the
    // full pair set is checkable against a brute-force SQL oracle.
    // Memoized per (session, dir): the second bench pass reuses the first
    // pass's plan AND its persisted shingle table (populated by the first
    // execution), so repeated invocations measure warm execution instead
    // of re-paying the 5-branch plan + cache build every call.
    "ngram_jaccard_dups" -> ((s, dir) => SessionReuse.once(s, ("ngram_jaccard_dups", dir)) {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.7)
        .orderBy("id_a", "id_b")
    }),

    "simhash_near_dups" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val mutated = docs.select((F.col("doc_id") + 100000).as("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).as("text"))
      Dedup.simhashPairs(docs.unionAll(mutated), "doc_id", "text", maxHamming = 3)
        .orderBy("id_a", "id_b")
    }),

    // SimHash in the EXACT-oracle regime (the last LSH family row
    // without a twin): signatures via the md5-based SQL-expressible
    // simhash60Md5, a single shared bucket (probeAll) makes candidates
    // provably all pairs, and the Hamming verify then fully determines
    // the output — DuckDB recomputes both the 60-bit signature and
    // bit_count(xor) from scratch on the same bounded slice. >=1-token
    // guard keeps zero-token docs (absent from the oracle's unnest)
    // out of both sides.
    "simhash_dups_exact" -> ((s, dir) => {
      val base = read(s, dir, "documents").filter(F.col("doc_id") < 120)
        .filter(F.size(Tokenizer.space(F.col("text"))) >= 1)
        .select(F.col("doc_id"), F.col("text"))
      val mutated = base.select((F.col("doc_id") + 100000).as("doc_id"),
        F.concat(F.col("text"), F.lit(" tailmarker")).as("text"))
      val sig = base.unionAll(mutated).select(F.col("doc_id"),
        TextAnalysis.simhash60Md5(F.col("text")).as("__sim"))
      Dedup.simhashPairsFromSig(sig, "doc_id", "__sim",
        maxHamming = 12, probeAll = true)
        .orderBy("id_a", "id_b")
    }),

    // near-dup CLUSTERING: exact trigram-Jaccard pairs at t=0.5 fed into
    // distributed min-label connected components — the step that turns
    // pairs into dedup groups (similarity is not transitive; a curation
    // pipeline keeps one representative per component). Exact oracle:
    // DuckDB computes the same components via a recursive-CTE transitive
    // closure over the brute-force pair set. NOT memoized — the
    // component iterations run (and checkpoint) at build time, so a
    // memoized re-invocation would time a free table scan; every call
    // honestly re-runs the clustering (the t=0.5 shingle table itself
    // stays warm via Dedup's per-config persist registry).
    "dedup_clusters" -> ((s, dir) => {
      val docs = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", n = 3, threshold = 0.5)
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .withColumnRenamed("id_a", "doc_id")
        .orderBy("doc_id")
    }),

    "embedding_near_dups" -> ((s, dir) => {
      val embs = read(s, dir, "embeddings")
      val jittered = embs.select((F.col("vec_id") + 100000).as("vec_id"),
        F.transform(F.col("embedding"), x => x * F.lit(1.0001f)).as("embedding"))
      Dedup.embeddingDupPairs(embs.select(F.col("vec_id"), F.col("embedding"))
        .unionAll(jittered), "vec_id", "embedding", threshold = 0.999, srpBits = 12)
        .orderBy("id_a", "id_b")
    }),

    // the SAME pipeline in the EXHAUSTIVE regime (srpBits = 0: constant
    // signature, one bucket): the candidate set is provably all-pairs,
    // so the output EQUALS the brute-force cosine join — which DuckDB
    // expresses with list_cosine_similarity (the ivf_topk trick applied
    // to the SRP family). Cosine is scale-invariant, so the float-vs-
    // double jitter arithmetic between engines cannot move any pair
    // across the wide planted-vs-random threshold margin; the float
    // cosine itself is excluded from the output (ids only). The regime
    // is inherently O(n^2), so the check runs over a FIXED 500-vector
    // slice — a complete end-to-end proof of the bucket-join + verify
    // machinery that stays ~0.5M pairs at every scale factor (the
    // production regime srpBits > 0 is the scale path, benchmarked as
    // embedding_near_dups).
    "embedding_dups_exact" -> ((s, dir) => {
      val embs = read(s, dir, "embeddings").filter(F.col("vec_id") < 500)
      val jittered = embs.select((F.col("vec_id") + 100000).as("vec_id"),
        F.transform(F.col("embedding"), x => x * F.lit(1.0001f)).as("embedding"))
      Dedup.embeddingDupPairs(embs.select(F.col("vec_id"), F.col("embedding"))
        .unionAll(jittered), "vec_id", "embedding", threshold = 0.999, srpBits = 0)
        .select(F.col("id_a"), F.col("id_b"))
        .orderBy("id_a", "id_b")
    }),

    // SemDeDup (Abbas et al. 2023) in the production shape: k-means
    // cells bound the within-cell quadratic, jittered twins are planted
    // semantic duplicates that share their base vector's cell by
    // construction (parallel vectors dot every centroid identically).
    // Rows-only here — cell assignment depends on murmur-seeded Lloyd
    // training DuckDB cannot express; OpsSpec pins the kept-set
    // semantics on hand-built clusters and the exhaustive-regime query
    // below carries the exact oracle.
    // memoized like ivf_topk: semanticDedup runs trainIvf (seed collect
    // + a Lloyd aggregation job) at PLAN-CONSTRUCTION time, so an
    // unmemoized re-invocation re-pays training before the query runs
    "semantic_dedup" -> ((s, dir) => SessionReuse.once(s, ("semantic_dedup", dir)) {
      val embs = read(s, dir, "embeddings")
      val jittered = embs.select((F.col("vec_id") + 100000).as("vec_id"),
        F.transform(F.col("embedding"), x => x * F.lit(1.0001f)).as("embedding"))
      Dedup.semanticDedup(embs.select(F.col("vec_id"), F.col("embedding"))
        .unionAll(jittered), "vec_id", "embedding",
        threshold = 0.999, nlist = 16)
        .orderBy("vec_id")
    }),

    // SemDeDup in the EXHAUSTIVE regime (nlist = 1: one cell, so
    // within-cell candidates are provably all pairs): the kept set
    // equals a brute-force "no lower-id cosine-neighbor" scan, which
    // DuckDB expresses directly — an exact end-to-end oracle for the
    // cluster-join + min-id pruning machinery over a fixed 500-vector
    // slice.
    "semantic_dedup_exact" -> ((s, dir) => SessionReuse.once(s, ("semantic_dedup_exact", dir)) {
      val embs = read(s, dir, "embeddings").filter(F.col("vec_id") < 500)
      val jittered = embs.select((F.col("vec_id") + 100000).as("vec_id"),
        F.transform(F.col("embedding"), x => x * F.lit(1.0001f)).as("embedding"))
      Dedup.semanticDedup(embs.select(F.col("vec_id"), F.col("embedding"))
        .unionAll(jittered), "vec_id", "embedding",
        threshold = 0.999, nlist = 1)
        .orderBy("vec_id")
    }),

    // multimodal decode + pixel-level dedup through the REAL codec path:
    // 64 PNGs are synthesized in-query (seeded pixels -> ImageIO encode on
    // executors; the testdata ships no binary table), decoded back with
    // javax.imageio, and deduped on the decoded-pixel fingerprint. Ids
    // >= 48 are pixel-identical twins of id % 48, so canonical_id is
    // exactly asset_id % 48 IFF decode + fingerprint + dedup all work —
    // and decoded dims/channels must round-trip the encoder's. All of
    // that is SQL-expressible over generate_series: an exact oracle for
    // the one component the driver contract never touched before.
    "multimodal_decode" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.generatePngAssets(s, 64, distinctPixels = 48)
      val dec = graft.ops.Multimodal.decodeImages(assets).toDF()
      val canon = dec.groupBy(F.col("pixels_fingerprint"))
        .agg(F.min(F.col("asset_id")).as("canonical_id"))
      dec.join(canon, "pixels_fingerprint")
        .select(F.col("asset_id"),
          F.col("width").cast("long").as("width"),
          F.col("height").cast("long").as("height"),
          F.col("channels").cast("long").as("channels"),
          F.col("canonical_id"))
        .orderBy("asset_id")
    }),

    // image resize through the REAL JDK scaler (Graphics2D +
    // nearest-neighbor into INT_RGB): 64 solid-color PNGs are
    // synthesized in-query, decoded, scaled to 20x18 (sources straddle
    // the target on both axes), and the SCALED top-left pixel is
    // arithmetic in the asset id — every interpolation of a constant
    // field is the constant, so the oracle is exact.
    "image_resize" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.generateSolidPngAssets(s, 64)
      graft.ops.Multimodal.resizeImageAssets(assets, 20, 18).toDF()
        .select(F.col("asset_id"),
          F.col("src_width").cast("long").as("src_width"),
          F.col("src_height").cast("long").as("src_height"),
          F.col("width").cast("long").as("width"),
          F.col("height").cast("long").as("height"),
          F.col("argb00"))
        .orderBy("asset_id")
    }),

    // audio decode through the REAL javax.sound codec: 48 WAVs are
    // synthesized in-query (seeded PCM -> hand-built RIFF container on
    // the executors) and decoded back; the decoded metadata is
    // arithmetic in the asset id, so the oracle is exact.
    "audio_decode" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.generateWavAssets(s, 48)
      graft.ops.Multimodal.decodeAudioAssets(assets).toDF()
        .select(F.col("asset_id"),
          F.col("sample_rate").cast("long").as("sample_rate"),
          F.col("channels").cast("long").as("channels"),
          F.col("n_frames"))
        .orderBy("asset_id")
    }),

    // video frame sampling through the REAL ImageIO frame decoder: 48
    // multi-frame animated GIFs are synthesized in-query (solid exact-
    // palette frames + real GraphicControlExtension delay metadata), and
    // the sampler must decode frames, parse per-frame delays, and pick
    // the frame on display at each 200 ms instant. Every output column —
    // including the DECODED top-left pixel — is arithmetic in the asset
    // id, so the oracle is exact (the audio_decode pattern).
    "frame_sample" -> ((s, dir) => {
      val assets = graft.ops.Multimodal.generateGifAssets(s, 48)
      graft.ops.Multimodal.sampleFramesDetailed(assets, everyMs = 200).toDF()
        .select(F.col("asset_id"),
          F.col("sample_idx").cast("long").as("sample_idx"),
          F.col("frame_idx").cast("long").as("frame_idx"),
          F.col("ts_ms").cast("long").as("ts_ms"),
          F.col("width").cast("long").as("width"),
          F.col("height").cast("long").as("height"),
          F.col("argb00"))
        .orderBy("asset_id", "sample_idx")
    }),

    // lang_id in the EXACT-oracle regime: on pure-ASCII text the CJK
    // script path is provably off, so the heuristic reduces to the
    // ordered stopword vote — hit counts, the shared-denominator score,
    // the strictly-greater first-wins tie-break, and the 0.05 threshold
    // are all plain SQL. Closes the deterministic half of
    // doc_text_analysis's no_oracle row (simhash/fingerprint stay
    // murmur-valued, golden-pinned).
    // regime charset: printable ASCII + the whitespace both engines
    // agree on. Java's String.trim strips every char <= U+0020 and its
    // \s is [ \t\n\x0B\f\r]; RE2's \s is [ \t\n\f\r] and DuckDB's trim
    // strips only spaces — so \x0B and the C0 controls are excluded,
    // making "non-empty \s+-separated tokens" provably identical on
    // both sides (the oracle tokenizes the RAW text and drops empties,
    // which equals Java trim+split over this charset).
    "lang_id_exact" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
        .filter(F.col("text").rlike("^[\\x20-\\x7E\\t\\n\\f\\r]*$"))
      docs.select(F.col("doc_id"),
        TextAnalysis.lang_id(F.col("text")).as("lang_pred"))
        .orderBy("doc_id")
    }),

    // per-document analysis projections: deterministic custom
    // expressions, rows-only (pinned by OpsSpec goldens/properties)
    "doc_text_analysis" -> ((s, dir) => {
      val docs = read(s, dir, "documents")
      docs.select(F.col("doc_id"),
        TextAnalysis.lang_id(F.col("text")).as("lang_pred"),
        TextAnalysis.simhash64(F.col("text")).as("simhash"),
        TextAnalysis.fingerprint64(F.col("text")).as("fingerprint"))
        .orderBy("doc_id")
    }),

    // ---- transcript-native queries (BASELINE.json north star / input
    // hint: conv_id, turn_idx, role, text, tool, ts). The corpus is the
    // fixed deterministic TranscriptFixture dump; every oracle reads the
    // SAME parquet via read_parquet, so DuckDB independently recomputes
    // the aggregation semantics over identical rows (generation
    // determinism itself is pinned by TranscriptJobsSpec byte-identity).

    // structural anchor: per-conversation rollup — validates the dump
    // plumbing, the Zipf turn-count skew, and the stable (conv_id,
    // turn_idx) ordering invariant (first/last ts are ordinal-derived)
    "transcript_shape" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      t.groupBy(F.col("conv_id"))
        .agg(
          F.count(F.lit(1)).as("n_turns"),
          F.sum(F.when(F.col("tool").isNotNull, 1L).otherwise(0L)).as("n_tool_turns"),
          F.min(F.col("ts")).as("first_ts"),
          F.max(F.col("ts")).as("last_ts"))
        .orderBy("conv_id")
    }),

    // HLL distinct conversations per tool (the north star's named
    // "distinct-conv_id/tool counts"). Small-range HLL estimates are
    // linear-counting values, not integers, so the contract emits the
    // exact count (oracle-checked) plus a deterministic within-bound
    // flag for the estimate — the north rule's own acceptance criterion
    // ("within the algorithm's published error bound") evaluated in the
    // correctness gate. 2% (floor 1) is ~3.6 sigma of linear counting at
    // this occupancy; the estimator's bound tests live in
    // SketchAccuracySpec.
    "transcript_hll_tools" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s).filter(F.col("tool").isNotNull)
      t.groupBy(F.col("tool"))
        .agg(
          F.countDistinct(F.col("conv_id")).as("n_convs"),
          hll_distinct(F.col("conv_id"), 14).as("__est"))
        .select(F.col("tool"), F.col("n_convs"),
          (F.abs(F.col("__est") - F.col("n_convs")) <=
            F.greatest(F.lit(1.0), F.col("n_convs") * 0.02)).as("est_in_bound"))
        .orderBy("tool")
    }),

    // count-min frequency of (role, tool) pairs (north-star-named).
    // ~17 distinct pairs vs width 2^14 => collision-free regime, so the
    // estimates equal exact counts: exact DuckDB oracle over the dump.
    "transcript_cms_role_tool" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val key = F.concat_ws(":", F.col("role"), F.coalesce(F.col("tool"), F.lit("-")))
      val sk = t.agg(cms_sketch(key, 5, 1 << 14).as("sk")).head().getAs[Array[Byte]](0)
      t.select(key.as("pair")).distinct()
        .select(F.col("pair"), cms_estimate(F.lit(sk), F.col("pair")).as("est_cnt"))
        .orderBy("pair")
    }),

    // KLL per-turn text-length quantiles per role (north-star-named), in
    // the exact regime: k=8192 >= the largest role group (~3.7k turns),
    // so quantiles are exact order statistics with a DuckDB oracle.
    "transcript_kll_textlen" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      t.groupBy(F.col("role"))
        .agg(kll_sketch(F.length(F.col("text")).cast("double"), 8192).as("sk"))
        .select(F.col("role"),
          kll_quantile(F.col("sk"), F.lit(0.5)).as("q50"),
          kll_quantile(F.col("sk"), F.lit(0.9)).as("q90"),
          kll_quantile(F.col("sk"), F.lit(0.99)).as("q99"))
        .orderBy("role")
    }),

    // t-digest text-length extremes per role: q=0/1 return the sketch's
    // exact min/max (tdigest_extremes pattern) — exact DuckDB oracle.
    "transcript_tdigest_textlen" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      t.groupBy(F.col("role"))
        .agg(tdigest_sketch(F.length(F.col("text")).cast("double"), 100.0).as("sk"))
        .select(F.col("role"),
          tdigest_quantile(F.col("sk"), F.lit(0.0)).as("p0"),
          tdigest_quantile(F.col("sk"), F.lit(1.0)).as("p100"))
        .orderBy("role")
    }),

    // Bloom conv_id membership: build over even-ordinal conversations,
    // probe every conversation. 24 bits/element => FPR ~1e-5, and the
    // probe set is deterministic, so the FP-free regime holds at this
    // scale (verified: output == exact membership) — exact DuckDB
    // oracle. The FPR-vs-bound assertion for the general regime lives in
    // BloomSketchSpec.
    "transcript_bloom_convs" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val convs = t.select(F.col("conv_id")).distinct()
      val even = convs.filter(F.substring(F.col("conv_id"), 6, 10).cast("int") % 2 === 0)
      val sk = even.agg(
        bloom_sketch(F.col("conv_id"), graft.data.TranscriptFixture.NConvs, 24).as("sk"))
        .head().getAs[Array[Byte]](0)
      convs.filter(bloom_might_contain(F.lit(sk), F.col("conv_id")))
        .orderBy("conv_id")
    }),

    // the transcript tool-usage rollup through the REAL Structured
    // Streaming engine (streaming_windowed_counts pattern, transcript-
    // native): tool turns stream in three watermark-ordered micro-batches
    // (early/late halves split on the ts midpoint, so windows straddling
    // the split accumulate state across batches), append-mode 1-day
    // windowed counts gated by a 1-minute watermark, then a punctuation
    // batch 3 days past max(ts) advances the watermark past every real
    // window — the memory sink must equal the batch rollup: exact oracle.
    "streaming_transcript_windowed" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
        .filter(F.col("tool").isNotNull)
        .select(F.col("conv_id"), F.col("ts"), F.col("tool"))
      val stream = stagedStream(s, dir, "graft_stw_in", t.schema)(
        watermarkBatches(t, "tool", 3L * 86400000L))
      runToSink(s, "stw") {
        stream.withWatermark("ts", "1 minute")
          .groupBy(F.window(F.col("ts"), "1 day").as("w"), F.col("tool"))
          .agg(F.count(F.lit(1)).as("n_turns"))
          .select(F.col("w.start").as("w_start"),
            F.col("tool").as("tool_name"), F.col("n_turns"))
      }.orderBy("w_start", "tool_name")
    }),

    // as-of over transcripts: attach to each user turn the most recent
    // (<=) tool invocation in the same conversation — the "what context
    // did the model have" join every agent-transcript pipeline runs.
    // Build side pre-aggregated per (conv, ts) so the match is a
    // function of the data; exact oracle vs DuckDB's native ASOF JOIN.
    "transcript_asof_tool" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val userTurns = t.filter(F.col("role") === "user")
        .select(F.col("conv_id"), F.col("ts"), F.col("turn_idx"))
      val toolTurns = t.filter(F.col("tool").isNotNull)
        .groupBy(F.col("conv_id"), F.col("ts"))
        .agg(F.max(F.col("tool")).as("tool_name"),
          F.max(F.col("turn_idx")).as("tool_turn_idx"))
      graft.ops.AsOfJoin.leftAsOf(userTurns, toolTurns, "conv_id", "ts")
        .orderBy("conv_id", "turn_idx")
    }),

    // tool-transition Markov counts: consecutive tool invocations within
    // each conversation (ordered by turn_idx), counted corpus-wide — the
    // agent-behavior analytics query a transcript pipeline feeds a
    // tool-routing model from. Per-conversation lag windows parallelize
    // across conversations (millions of small partitions at corpus
    // scale, never a global window); the transition rollup is one
    // map-side-combined count.
    "transcript_tool_transitions" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val tools = t.filter(F.col("tool").isNotNull)
        .select(F.col("conv_id"), F.col("turn_idx"), F.col("tool"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("conv_id").orderBy("turn_idx")
      tools.withColumn("prev_tool", F.lag(F.col("tool"), 1).over(w))
        .filter(F.col("prev_tool").isNotNull)
        .groupBy(F.col("prev_tool"), F.col("tool"))
        .agg(F.count(F.lit(1)).as("cnt"))
        .orderBy("prev_tool", "tool")
    }),

    // conversation-level exact dedup: canonicalize each conversation to
    // its turn-ordered text (array_sort on (turn_idx, text) structs —
    // the input_hint's "per-turn text equality under stable (conv_id,
    // turn_idx) ordering" invariant exercised in the gate), plant known
    // duplicates (50 re-tagged copies), group by the murmur64 content
    // fingerprint (the exchange carries an 8-byte hash, never the
    // concatenated conversation — the exact_dedup scale shape), keep the
    // min conv_id. The oracle groups by the full canonical text, so a
    // hash collision would surface as a mismatch.
    "transcript_conv_dedup" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val canon = t.groupBy(F.col("conv_id"))
        .agg(F.array_join(
          F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("turn_idx"), F.col("text")))),
            x => x.getField("text")), "\u001f").as("conv_text"))
      val copies = canon
        .filter(F.substring(F.col("conv_id"), 6, 10).cast("int") < 50)
        .withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-copy")))
      canon.unionByName(copies)
        .groupBy(murmur64(F.col("conv_text")).as("__fp"))
        .agg(F.min(F.col("conv_id")).as("conv_id"), F.count(F.lit(1)).as("n_copies"))
        .select(F.col("conv_id"), F.col("n_copies"))
        .orderBy("conv_id")
    }),

    // explicit two-level salted rollup over the Zipf conv_id hotspot
    // (north rule: "explicit salting ... for skewed conv_id hotspots"):
    // per-(conv,salt) partials then a 600-key merge, so the 1200-turn
    // hot conversation never funnels through one reducer; top 20 via
    // TakeOrdered (never a global sort).
    "transcript_salted_hotspot" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val salt = F.pmod(murmur64(F.concat_ws(":",
        F.col("conv_id"), F.col("turn_idx").cast("string"))), F.lit(16L))
      t.withColumn("__salt", salt)
        .groupBy(F.col("conv_id"), F.col("__salt"))
        .agg(F.count(F.lit(1)).as("pc"),
          F.sum(F.length(F.col("text")).cast("long")).as("pl"))
        .groupBy(F.col("conv_id"))
        .agg(F.sum(F.col("pc")).as("n_turns"), F.sum(F.col("pl")).as("n_chars"))
        .orderBy(F.col("n_turns").desc, F.col("conv_id"))
        .limit(20)
    }),

    // padding-efficient dynamic batching (Sequencing
    // .lengthBucketedBatches): sequences bucket by length/16, batch 8
    // at a time in doc_id order via the two-level groupedRank (a
    // per-bucket row_number that never sorts a whole bucket on one
    // task); per-batch padding_frac is the wasted-compute metric. The
    // oracle re-derives ranks with a plain window (equality of the two
    // is the scale claim, pinned in SequencingSpec across widths).
    "batch_assembly" -> ((s, dir) => {
      val d = read(s, dir, "documents")
      graft.ops.Sequencing.lengthBucketedBatches(
          d.select(F.col("doc_id"),
            Tokenizer.spaceSegmentCount(F.col("text")).as("nt")),
          "doc_id", "nt", bucketWidth = 16, batchSize = 8,
          idSubBucketWidth = 1000L)
        .orderBy("bucket", "batch_idx")
    }),

    // exact duplicate-substring spans (Dedup.duplicateSpans): maximal
    // runs of 10-gram-duplicated token positions, corpus-wide — the
    // Lee et al. substring-dedup cut list. Exchange carries
    // (hash, id, pos) only; islands merge per document.
    "duplicate_spans" -> ((s, dir) => {
      val d = read(s, dir, "documents")
      graft.ops.Dedup.duplicateSpans(d, "doc_id", "text", l = 10)
        .orderBy("doc_id", "span_start")
    }),

    // substring-dedup applied (Dedup.cutSpans): the duplicate_spans cut
    // list removes every covered token; spans anti-join the token
    // stream as (id, pos) integers — no span arrays broadcast.
    "substring_scrub" -> ((s, dir) => {
      val d = read(s, dir, "documents").select(F.col("doc_id"), F.col("text"))
      val spans = graft.ops.Dedup.duplicateSpans(d, "doc_id", "text", l = 10)
      graft.ops.Dedup.cutSpans(d, spans, "doc_id", "text")
        .select(F.col("doc_id"), F.col("text").as("scrubbed_text"),
          F.col("n_removed"))
        // always true — but it forces the scrub subplan under count():
        // without it Catalyst's left-join elimination makes a bare
        // count() skip ALL the work and the bench number is fiction
        .filter(F.col("n_removed") >= 0)
        .orderBy("doc_id")
    }),

    // deterministic epoch shuffle (Sequencing.epochShuffle): each doc's
    // position in a seeded pseudo-random training order plus its
    // round-robin shard, via the two-level rank (never a global sort on
    // one task — PlanAudit). The LCG key keeps the permutation
    // re-derivable in plain SQL; library users pass murmur64(id).
    "epoch_shuffle" -> ((s, dir) => {
      val d = read(s, dir, "documents")
      graft.ops.Sequencing.epochShuffle(
          d.select(F.col("doc_id")), "doc_id",
          (F.col("doc_id") * F.lit(48271L) + F.lit(12345L)) % F.lit(2147483647L),
          numShards = 8, keyBucketWidth = 1L << 16)
        .orderBy("position")
    }),

    // BPE-style vocab induction (Vocab.topPairs): the 50 most frequent
    // adjacent token pairs — explode + map-side-combined count, then
    // TakeOrderedAndProject top-k (ties broken by the pair itself, so
    // the cut at k is deterministic in both engines).
    "bpe_pair_counts" -> ((s, dir) => {
      val d = read(s, dir, "documents")
      graft.ops.Vocab.topPairs(d, "text", k = 50)
    }),

    // BPE tokenizer training (Vocab.bpeTrain): 20 character-level merges
    // over the corpus — one distributed word-frequency pass, then the
    // classic merge loop on the vocabulary-bounded distinct-word table.
    // No SQL oracle (iterative training); pinned in VocabSpec against an
    // independent regex-based reference implementation.
    "bpe_merges" -> ((s, dir) => {
      val d = read(s, dir, "documents")
      graft.ops.Vocab.bpeTrain(d, "text", numMerges = 20)
        .orderBy("rank")
    }),

    // BPE corpus encoding (Vocab.applyBpe): tokenize every document
    // with the 20 trained merges — the vocabulary-bounded merge table
    // ships in the task closure; per-word memo inside each task. No SQL
    // oracle (iterative encode); round-trip + monotonicity in VocabSpec.
    // Memoized like ivf_topk: bpeTrain runs its corpus word-count +
    // driver merge loop at PLAN-CONSTRUCTION time (the trained merge
    // table is the index), while the mapPartitions ENCODE still executes
    // in full on every action — re-invocations measure steady-state
    // encoding instead of re-paying training per call, and the bench's
    // cold/query split reports both.
    "bpe_encode" -> ((s, dir) => SessionReuse.once(s, ("bpe_encode", dir)) {
      val d = read(s, dir, "documents")
      val merges = graft.ops.Vocab.bpeTrain(d, "text", numMerges = 20)
        .orderBy("rank").collect()
        .map(r => (r.getString(1), r.getString(2)))
      graft.ops.Vocab.applyBpe(d, "doc_id", "text", merges)
        .select(F.col("doc_id"), F.col("n_subwords"))
        .orderBy("doc_id")
    }),

    // tokenizer-coverage QA: per-document OOV rate against the top-500
    // word vocabulary (frequency-cut, deterministic tie-break). Integer
    // counters + one IEEE division keep it exactly oracle-checkable;
    // the vocabulary cut itself is re-derived by DuckDB with the same
    // (freq DESC, token ASC) total order.
    "vocab_oov_rate" -> ((s, dir) => {
      val d = read(s, dir, "documents")
      val vocab = graft.ops.Vocab.wordVocab(d, "text", v = 500)
      graft.ops.Vocab.oovReport(d, "doc_id", "text", vocab)
        .orderBy("doc_id")
    }),

    // URL canonicalization dedup (UrlOps): four deterministic fetch
    // variants of each logical page synthesized per doc_id (case noise,
    // explicit default port, trailing slash + tracking param, reordered
    // params + fragment) must collapse to ONE canonical key — pure
    // projection, then the exact_dedup grouping shape. The oracle
    // re-derives the whole canonicalization pipeline in SQL.
    "url_canonical_dedup" -> ((s, dir) => {
      val d = read(s, dir, "documents").select(F.col("doc_id"))
      val base = ((F.col("doc_id") - F.pmod(F.col("doc_id"), F.lit(4L))) /
        F.lit(4L)).cast("long").cast("string")
      val variant = F.pmod(F.col("doc_id"), F.lit(4L))
      val url = F.when(variant === 0,
          F.concat(F.lit("https://www.example.com/path/"), base, F.lit("?a=1&b=2")))
        .when(variant === 1,
          F.concat(F.lit("HTTPS://EXAMPLE.COM:443/path/"), base, F.lit("?b=2&a=1")))
        .when(variant === 2,
          F.concat(F.lit("https://example.com/path/"), base,
            F.lit("/?a=1&b=2&utm_source=feed")))
        .otherwise(
          F.concat(F.lit("https://www.example.com/path/"), base,
            F.lit("?b=2&a=1#section")))
      d.withColumn("canonical_url", graft.ops.UrlOps.canonicalizeUrl(url))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).as("n_docs"), F.min("doc_id").as("first_doc"))
        .orderBy("canonical_url")
    }),

    // data-quality expectations gate (Validate): three row predicates
    // plus a uniqueness constraint evaluated in ONE aggregation pass
    // (the exchange carries counters, never rows), and a referential
    // check as one left join + count. Violations planted
    // deterministically (7 null custkeys + negative prices, 5
    // duplicated orderkeys, 3 dangling custkeys) so every counter is
    // exercised; exact DuckDB oracle recomputes each count.
    "data_quality_report" -> ((s, dir) => {
      val o = read(s, dir, "orders")
      def low(n: Int) = o.orderBy("o_orderkey").limit(n)
      val nullCust = low(7)
        .withColumn("o_orderkey", F.col("o_orderkey") + 900000000L)
        .withColumn("o_custkey", F.lit(null).cast("long"))
        .withColumn("o_totalprice", F.lit(-5.0))
      val dangling = low(3)
        .withColumn("o_orderkey", F.col("o_orderkey") + 910000000L)
        .withColumn("o_custkey", F.lit(888888888L))
      val corpus = o.unionByName(nullCust).unionByName(low(5))
        .unionByName(dangling)
      graft.ops.Validate.combine(
        graft.ops.Validate.report(corpus,
          Seq(
            "custkey_not_null" -> F.col("o_custkey").isNotNull,
            "price_positive" -> (F.col("o_totalprice") > 0.0),
            "status_valid" -> F.col("o_orderstatus").isin("O", "F", "P")),
          Seq("orderkey_unique" -> Seq("o_orderkey"))),
        graft.ops.Validate.refViolations(corpus, "custkey_in_customer",
          F.col("o_custkey"), read(s, dir, "customer"), F.col("c_custkey")))
    }),

    // chat-template rendering: each conversation becomes ONE training
    // sample — turns in stable (conv_id, turn_idx) order, role/tool
    // markers, newline-joined (Conversations.render: single
    // groupBy(conv) shuffle, in-row sort restores collect_list
    // determinism). Exact oracle via DuckDB's ordered string_agg.
    "transcript_render" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      graft.ops.Conversations.render(t, "conv_id", "turn_idx",
          graft.ops.Conversations.turnLine(
            F.col("role"), F.col("tool"), F.col("text")))
        .orderBy("conv_id")
    }),

    // context-window truncation: keep each conversation's longest
    // suffix of turns totalling <= 400 whitespace tokens (the "fit the
    // context window, keep the most recent turns" step). One window
    // shuffle; the suffix sum is the filter column, so the oracle
    // re-derives the identical cut point.
    "transcript_truncate_budget" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      val nTok = Tokenizer.spaceSegmentCount(F.col("text"))
      graft.ops.Conversations.truncateToBudget(
          t, "conv_id", "turn_idx", nTok, 400L)
        .select(F.col("conv_id"), F.col("turn_idx"),
          nTok.cast("long").as("n_tokens"), F.col("suffix_tokens"))
        .orderBy("conv_id", "turn_idx")
    }),

    // SFT pair extraction: for every assistant turn with a preceding
    // turn, the previous up-to-3 turns (rendered, ALL roles — lags run
    // before the target filter so contexts never splice non-adjacent
    // turns) as context_text, the assistant text as target_text.
    "transcript_sft_pairs" -> ((s, dir) => {
      val t = graft.data.TranscriptFixture.frame(s)
      graft.ops.Conversations.contextTargetPairs(
          t, "conv_id", "turn_idx", "text",
          graft.ops.Conversations.turnLine(
            F.col("role"), F.col("tool"), F.col("text")),
          F.col("role") === "assistant", k = 3)
        .orderBy("conv_id", "target_idx")
    }))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  sum(l_extendedprice) AS sum_price,
        |  count(*) AS n_rows
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "events_windowed" ->
      """SELECT time_bucket(INTERVAL 1 DAY, ts) AS w_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "weighted_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id, n_chars,
        |    (doc_id * 2654435761) % 4294967296 AS hv FROM documents
        |), keyed AS (
        |  SELECT lang, doc_id,
        |    pow((hv + 0.5) / 4294967296.0, 1.0 / n_chars) AS k FROM h
        |), r AS (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id) AS rank
        |  FROM keyed
        |)
        |SELECT lang, doc_id, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,

    // thresholds 0.75*2^32 and 0.875*2^32 are exact integers
    "holdout_split" ->
      """WITH h AS (
        |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS hv FROM documents
        |), s AS (
        |  SELECT lang, doc_id,
        |    CASE WHEN hv < 3221225472 THEN 'train'
        |         WHEN hv < 3758096384 THEN 'valid' ELSE 'test' END AS split
        |  FROM h
        |)
        |SELECT lang, split, CAST(count(*) AS BIGINT) AS n, min(doc_id) AS min_id
        |FROM s GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,

    // per-language rates 1/4, 1/2, 1, default 1/8 — thresholds are exact
    // integers in the 2^32 hash space
    "mixture_sample" ->
      """SELECT lang, doc_id FROM documents
        |WHERE (doc_id * 2654435761) % 4294967296 <
        |  CASE lang WHEN 'en' THEN 1073741824 WHEN 'de' THEN 2147483648
        |       WHEN 'fr' THEN 4294967296 ELSE 536870912 END
        |ORDER BY lang, doc_id""".stripMargin,

    "stratified_sample" ->
      """WITH h AS (
        |  SELECT lang, doc_id, (doc_id * 2654435761) % 4294967296 AS hv FROM documents
        |), r AS (
        |  SELECT lang, doc_id, hv,
        |    row_number() OVER (PARTITION BY lang ORDER BY hv) AS rn
        |  FROM h
        |)
        |SELECT lang, doc_id, CAST(hv AS BIGINT) AS sample_order
        |FROM r WHERE rn <= 20 ORDER BY lang, sample_order""".stripMargin,

    "window_analytics" ->
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  rank() OVER w AS rnk,
        |  lag(o_orderkey, 1) OVER w AS prev_order,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS running_total
        |FROM orders WHERE o_custkey % 100 = 0
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, rnk, o_orderkey""".stripMargin,

    // the watermark-emitted session stream equals batch sessionization;
    // the punctuation session is withheld by the engine and absent here
    "streaming_sessionization" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e
        |)
        |SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 2 HOUR AS s_end,
        |  CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    // gaps-and-islands: break strictly-greater-than the gap, session end
    // = last event + gap — the measured session_window semantics
    "sessionization" ->
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w > INTERVAL 2 HOUR THEN 1 ELSE 0 END AS brk
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        |), g AS (
        |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |    ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM e
        |)
        |SELECT user_id, min(ts) AS s_start, max(ts) + INTERVAL 2 HOUR AS s_end,
        |  CAST(count(*) AS BIGINT) AS n_events, round(sum(value), 2) AS sum_value
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, s_start""".stripMargin,

    "json_props_rollup" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "cube_event_counts" ->
      """SELECT
        |  CASE WHEN GROUPING(event_type) = 1 THEN '(all)' ELSE event_type END AS event_type,
        |  CASE WHEN GROUPING(d) = 1 THEN '(all)' ELSE CAST(d AS VARCHAR) END AS d,
        |  CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS sum_value
        |FROM (SELECT event_type, CAST(ts AS DATE) AS d, value FROM events)
        |GROUP BY CUBE(event_type, d)
        |ORDER BY event_type, d""".stripMargin,

    // DuckDB executes the genuine ASOF JOIN; the engine's window
    // formulation must agree row for row
    "asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, max(event_id) AS click_id, max(value) AS click_value
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), purchases AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'
        |)
        |SELECT p.user_id, p.ts, p.event_id, c.click_id, c.click_value
        |FROM purchases p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY p.user_id, p.ts, p.event_id""".stripMargin,

    // the watermark-emitted stream equals the batch rollup; the
    // punctuation window is withheld by the engine and absent here
    "streaming_windowed_counts" ->
      """SELECT time_bucket(INTERVAL 1 DAY, ts) AS w_start, event_type,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM events
        |GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    "bloom_semi_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem
        |WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size <= 5)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "kv_get_first" ->
      """SELECT l_orderkey, l_partkey, l_quantity FROM (
        |  SELECT li.l_orderkey, li.l_partkey, li.l_quantity,
        |    row_number() OVER (PARTITION BY li.l_orderkey
        |      ORDER BY li.l_linenumber, li.l_partkey, li.l_quantity) AS rn
        |  FROM lineitem li
        |  JOIN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P') p
        |    ON li.l_orderkey = p.o_orderkey
        |) WHERE rn = 1 ORDER BY l_orderkey""".stripMargin,

    "kv_multi_get" ->
      """SELECT li.l_orderkey, li.l_linenumber, li.l_partkey
        |FROM lineitem li
        |JOIN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P') p
        |  ON li.l_orderkey = p.o_orderkey
        |ORDER BY li.l_orderkey, li.l_linenumber, li.l_partkey""".stripMargin,

    // dump/re-ingest round trip reconstructs every lineitem record
    "kv_dump_roundtrip" ->
      """SELECT CAST(l_orderkey AS VARCHAR) AS k,
        |       CAST(l_linenumber AS VARCHAR) || ':' || CAST(l_partkey AS VARCHAR) AS v
        |FROM lineitem ORDER BY k, v""".stripMargin,

    // mkhf text ingestion: both planted BAD lines are dropped; values
    // lowercase because normalization precedes splitting
    "text_kv_source" ->
      """SELECT CAST(o_orderkey AS VARCHAR) AS k, lower(o_orderpriority) AS v
        |FROM orders ORDER BY k, v""".stripMargin,

    // associative mode retrieves by murmur64 equality only; with no
    // collisions over the key population that equals the key join, so the
    // kv_multi_get oracle applies verbatim
    "kv_multi_get_by_hash" ->
      """SELECT li.l_orderkey, li.l_linenumber, li.l_partkey
        |FROM lineitem li
        |JOIN (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'P') p
        |  ON li.l_orderkey = p.o_orderkey
        |ORDER BY li.l_orderkey, li.l_linenumber, li.l_partkey""".stripMargin,

    // the sketch's exact regime (k >= group size, no compaction):
    // kll_quantile(q) = value at the smallest 1-based rank r with
    // r >= q*n, q*n computed in DOUBLE on both sides
    "kll_quantiles_exact" ->
      """WITH r AS (
        |  SELECT l_suppkey, CAST(l_quantity AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY l_suppkey ORDER BY l_quantity) AS rn,
        |    count(*) OVER (PARTITION BY l_suppkey) AS cnt
        |  FROM lineitem
        |)
        |SELECT l_suppkey,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.25 AS DOUBLE) * cnt) AS BIGINT) THEN v END) AS q25,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * cnt) AS BIGINT) THEN v END) AS q50,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DOUBLE) * cnt) AS BIGINT) THEN v END) AS q95
        |FROM r GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // exact regime again: rank = weighted count of stored items <= v
    "kll_rank_exact" ->
      """SELECT l_suppkey,
        |  CAST(count(*) FILTER (WHERE l_quantity <= 10.0) AS BIGINT) AS n_le_10,
        |  CAST(count(*) FILTER (WHERE l_quantity <= 25.0) AS BIGINT) AS n_le_25,
        |  CAST(count(*) FILTER (WHERE l_quantity <= 40.0) AS BIGINT) AS n_le_40
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,

    // weighted CMS: per-language token volume, collision-free regime
    "cms_weighted_token_volume" ->
      """SELECT lang,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |    AS est_tokens
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

    // star join, collision-free CMS regime
    "cms_nation_orders" ->
      """SELECT n.n_name, CAST(count(*) AS BIGINT) AS n_orders
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name <> 'AFRICA'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,

    // salted two-level merge, exact regime: same rank rule as
    // kll_quantiles_exact
    "kll_salted_exact" ->
      """WITH r AS (
        |  SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS rn,
        |    count(*) OVER (PARTITION BY l_returnflag) AS cnt
        |  FROM lineitem
        |)
        |SELECT l_returnflag,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.5 AS DOUBLE) * cnt) AS BIGINT) THEN v END) AS q50,
        |  max(CASE WHEN rn = CAST(ceil(CAST(0.9 AS DOUBLE) * cnt) AS BIGINT) THEN v END) AS q90
        |FROM r GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // weighted SpaceSaving: top languages by token volume, no-eviction regime
    "hh_weighted_topk" ->
      """SELECT lang AS item,
        |  CAST(sum(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
        |    AS cnt
        |FROM documents GROUP BY lang ORDER BY cnt DESC, item LIMIT 10""".stripMargin,

    "bloom_anti_join" ->
      """SELECT l_orderkey, l_linenumber, l_partkey FROM lineitem li
        |WHERE NOT EXISTS (SELECT 1 FROM part p
        |  WHERE p.p_size <= 5 AND p.p_partkey = li.l_partkey)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin,

    // t-digest q<=0 / q>=1 return the tracked exact extremes
    "tdigest_extremes" ->
      """SELECT l_returnflag,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS p0,
        |  CAST(max(l_extendedprice) AS DOUBLE) AS p100
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the synthesized-PNG corpus is a pure function of (id, seed): decoded
    // dims/channels and the pixel-dedup canonical id are closed-form
    // the real javax.sound decode must reproduce the synthesis arithmetic
    "audio_decode" ->
      """SELECT CAST(i AS BIGINT) AS asset_id,
        |  CAST(CASE WHEN i % 3 = 0 THEN 8000 WHEN i % 3 = 1 THEN 16000
        |            ELSE 32000 END AS BIGINT) AS sample_rate,
        |  CAST(1 + i % 2 AS BIGINT) AS channels,
        |  CAST(400 + 100 * (i % 5) AS BIGINT) AS n_frames
        |FROM generate_series(0, 47) t(i) ORDER BY asset_id""".stripMargin,

    // the GIF corpus is closed-form in the asset id: nf = 2 + i%4 frames
    // of 100 ms each, sampled every 200 ms -> sample k shows source
    // frame min(nf-1, 2k); the solid frame color v = (i*31 + f*7) % 16
    // maps to ARGB (255, 17v, 17((v+5)%16), 17((v+11)%16)) — the decoded
    // pixel the real codec must reproduce
    "frame_sample" ->
      """WITH a AS (SELECT i, 2 + i % 4 AS nf, 16 + i % 8 AS w, 16 + i % 4 AS h
        |           FROM generate_series(0, 47) t(i)),
        |s AS (SELECT i, nf, w, h,
        |        unnest(range(0, CAST(ceil(nf * 100.0 / 200.0) AS BIGINT))) AS k
        |      FROM a),
        |f AS (SELECT i, nf, w, h, k, least(nf - 1, k * 2) AS fi FROM s),
        |c AS (SELECT i, w, h, k, fi, (i * 31 + fi * 7) % 16 AS v FROM f)
        |SELECT CAST(i AS BIGINT) AS asset_id,
        |  CAST(k AS BIGINT) AS sample_idx,
        |  CAST(fi AS BIGINT) AS frame_idx,
        |  CAST(k * 200 AS BIGINT) AS ts_ms,
        |  CAST(w AS BIGINT) AS width,
        |  CAST(h AS BIGINT) AS height,
        |  CAST(4278190080 + 17 * v * 65536 + 17 * ((v + 5) % 16) * 256
        |     + 17 * ((v + 11) % 16) AS BIGINT) AS argb00
        |FROM c ORDER BY asset_id, sample_idx""".stripMargin,

    // the scaled raster of a constant-color source is the constant:
    // argb00 after the real resize is pure palette arithmetic in i
    "image_resize" ->
      """SELECT CAST(i AS BIGINT) AS asset_id,
        |  CAST(16 + i % 8 AS BIGINT) AS src_width,
        |  CAST(16 + i % 4 AS BIGINT) AS src_height,
        |  CAST(20 AS BIGINT) AS width,
        |  CAST(18 AS BIGINT) AS height,
        |  CAST(4278190080 + 17 * ((i * 31) % 16) * 65536
        |     + 17 * (((i * 31) % 16 + 5) % 16) * 256
        |     + 17 * (((i * 31) % 16 + 11) % 16) AS BIGINT) AS argb00
        |FROM generate_series(0, 63) t(i) ORDER BY asset_id""".stripMargin,

    "multimodal_decode" ->
      """SELECT CAST(i AS BIGINT) AS asset_id,
        |  CAST(16 + (i % 48) % 16 AS BIGINT) AS width,
        |  CAST(16 + (i % 48) % 8 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS channels,
        |  CAST(i % 48 AS BIGINT) AS canonical_id
        |FROM generate_series(0, 63) t(i) ORDER BY asset_id""".stripMargin,

    "exact_dedup" ->
      """SELECT min(doc_id) AS doc_id FROM (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000 AS doc_id, text FROM documents
        |) GROUP BY text ORDER BY doc_id""".stripMargin,

    // first-occurrence winners of the new batch whose text never
    // appears in the old (even-id) corpus — the Bloom prefilter is an
    // accelerator, so plain text-level SQL is the exact semantics
    "incremental_dedup" ->
      """WITH old AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
        |newb AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
        |  UNION ALL
        |  SELECT doc_id + 200000 AS doc_id, text FROM old WHERE doc_id < 100
        |  UNION ALL
        |  SELECT doc_id + 300000 AS doc_id, text FROM documents
        |  WHERE doc_id % 2 = 1 AND doc_id < 100
        |),
        |w AS (SELECT text, min(doc_id) AS doc_id FROM newb GROUP BY text)
        |SELECT w.doc_id FROM w
        |WHERE NOT EXISTS (SELECT 1 FROM old o WHERE o.text = w.text)
        |ORDER BY doc_id""".stripMargin,

    // brute-force all-pairs trigram Jaccard — the prefix-filtered engine
    // output must EQUAL this by the prefix-filtering completeness lemma
    "ngram_jaccard_dups" ->
      """WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') ws FROM documents),
        |idx AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM w),
        |tg AS (SELECT doc_id, list_element(ws, CAST(i AS INT)) || ' ' ||
        |              list_element(ws, CAST(i AS INT) + 1) || ' ' ||
        |              list_element(ws, CAST(i AS INT) + 2) AS sh FROM idx),
        |t2 AS (SELECT DISTINCT doc_id, sh FROM tg),
        |sz AS (SELECT doc_id, count(*) AS s FROM t2 GROUP BY 1),
        |inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) i
        |          FROM t2 a JOIN t2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, CAST(i AS DOUBLE) / (sa.s + sb.s - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= CAST(0.7 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    // exhaustive-regime MinHash (probeAll: one shared bucket) equals the
    // brute-force all-pairs trigram-shingle Jaccard join over the
    // 100-doc slice + tailmarker twins
    "minhash_dups_exact" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id < 100
        |                AND len(list_filter(string_split(text, ' '), t -> t <> '')) >= 3),
        |d AS (SELECT doc_id, text FROM base
        |      UNION ALL
        |      SELECT doc_id + 100000 AS doc_id, text || ' tailmarker' AS text FROM base),
        |w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') ws FROM d),
        |idx AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM w),
        |tg AS (SELECT doc_id, list_element(ws, CAST(i AS INT)) || ' ' ||
        |              list_element(ws, CAST(i AS INT) + 1) || ' ' ||
        |              list_element(ws, CAST(i AS INT) + 2) AS sh FROM idx),
        |t2 AS (SELECT DISTINCT doc_id, sh FROM tg),
        |sz AS (SELECT doc_id, count(*) AS s FROM t2 GROUP BY 1),
        |inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) i
        |          FROM t2 a JOIN t2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2)
        |SELECT ia AS id_a, ib AS id_b, CAST(i AS DOUBLE) / (sa.s + sb.s - i) AS jaccard
        |FROM inter JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= CAST(0.7 AS DOUBLE)
        |ORDER BY id_a, id_b""".stripMargin,

    // full recomputation of the md5-based 60-bit simhash + brute-force
    // hamming over the same bounded slice (probeAll makes the engine's
    // candidate set provably all pairs, so this is the complete answer)
    "simhash_dups_exact" ->
      """WITH base AS (SELECT doc_id, text FROM documents
        |              WHERE doc_id < 120
        |                AND len(list_filter(string_split(text, ' '), t -> t <> '')) >= 1),
        |d AS (SELECT doc_id, text FROM base
        |      UNION ALL
        |      SELECT doc_id + 100000 AS doc_id, text || ' tailmarker' AS text FROM base),
        |tok AS (SELECT doc_id,
        |          unnest(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) AS t
        |        FROM d),
        |h AS (SELECT doc_id, CAST(concat('0x', substr(md5(t), 1, 15)) AS BIGINT) AS h FROM tok),
        |bits AS (SELECT doc_id, gs.b,
        |           sum(CASE WHEN (h >> gs.b) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        |         FROM h CROSS JOIN generate_series(0, 59) gs(b)
        |         GROUP BY 1, 2),
        |sig AS (SELECT doc_id,
        |          sum(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS sim
        |        FROM bits GROUP BY 1),
        |pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |            CAST(bit_count(xor(a.sim, b.sim)) AS INT) AS hamming
        |          FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
        |SELECT id_a, id_b, hamming FROM pairs
        |WHERE hamming <= 12 ORDER BY id_a, id_b""".stripMargin,

    // transitive closure over the brute-force trigram-Jaccard pairs at
    // t=0.5; component = min reachable doc_id
    "dedup_clusters" ->
      """WITH RECURSIVE
        |w AS (SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') ws FROM documents),
        |idx AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws) - 1, 1))) AS i FROM w),
        |tg AS (SELECT doc_id, list_element(ws, CAST(i AS INT)) || ' ' ||
        |              list_element(ws, CAST(i AS INT) + 1) || ' ' ||
        |              list_element(ws, CAST(i AS INT) + 2) AS sh FROM idx),
        |t2 AS (SELECT DISTINCT doc_id, sh FROM tg),
        |sz AS (SELECT doc_id, count(*) AS s FROM t2 GROUP BY 1),
        |inter AS (SELECT a.doc_id ia, b.doc_id ib, count(*) i
        |          FROM t2 a JOIN t2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
        |          GROUP BY 1, 2),
        |p AS (SELECT ia, ib FROM inter
        |      JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
        |      WHERE CAST(i AS DOUBLE) / (sa.s + sb.s - i) >= CAST(0.5 AS DOUBLE)),
        |e AS (SELECT ia a, ib b FROM p UNION ALL SELECT ib, ia FROM p),
        |r AS (SELECT a, b FROM e
        |      UNION
        |      SELECT r.a, e.b FROM r JOIN e ON r.b = e.a),
        |m AS (SELECT a, min(b) AS mb FROM r GROUP BY a)
        |SELECT a AS doc_id, least(a, mb) AS component
        |FROM m ORDER BY doc_id""".stripMargin,

    // same equal-width edges (lo + width*b, width = (hi-lo)/4) and the
    // same (h_{b-1}, h_b] bin membership as the sketch's rank differences
    "kll_histogram_exact" ->
      """WITH g AS (SELECT l_suppkey, CAST(l_quantity AS DOUBLE) AS v FROM lineitem),
        |s AS (SELECT l_suppkey, min(v) AS lo, max(v) AS hi FROM g GROUP BY 1),
        |w AS (SELECT *, (hi - lo) / 4 AS width FROM s),
        |-- a degenerate group (all values equal: lo = hi) collapses to ONE
        |-- bin on the engine side; mirror it
        |bins AS (SELECT l_suppkey, lo, hi, width,
        |    unnest(range(1, CASE WHEN lo = hi THEN 2 ELSE 5 END)) AS bin FROM w),
        |edges AS (SELECT l_suppkey, bin,
        |    lo + width * (bin - 1) AS bin_lo,
        |    CASE WHEN lo = hi OR bin = 4 THEN hi ELSE lo + width * bin END AS bin_hi
        |  FROM bins),
        |counts AS (SELECT g.l_suppkey,
        |    CASE WHEN lo = hi THEN 1
        |         WHEN v <= lo + width * 1 THEN 1
        |         WHEN v <= lo + width * 2 THEN 2
        |         WHEN v <= lo + width * 3 THEN 3
        |         ELSE 4 END AS bin, count(*) AS cnt
        |  FROM g JOIN w USING (l_suppkey) GROUP BY 1, 2)
        |SELECT e.l_suppkey, CAST(e.bin AS BIGINT) AS bin, e.bin_lo, e.bin_hi,
        |  CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
        |FROM edges e LEFT JOIN counts c
        |  ON e.l_suppkey = c.l_suppkey AND e.bin = c.bin
        |ORDER BY e.l_suppkey, bin""".stripMargin,

    // DuckDB's native inequality join over the same synthesized windows
    "range_join_events" ->
      """WITH iv AS (
        |  SELECT i AS w_id,
        |    1704067200 + i * 7200 AS w_start,
        |    1704067200 + i * 7200 + (i % 5 + 1) * 3600 AS w_end
        |  FROM generate_series(0, 359) t(i)
        |)
        |SELECT w_id, count(*) AS n_events
        |FROM events ev JOIN iv
        |  ON CAST(floor(epoch(ev.ts)) AS BIGINT) >= w_start
        | AND CAST(floor(epoch(ev.ts)) AS BIGINT) < w_end
        |GROUP BY w_id ORDER BY w_id""".stripMargin,

    // brute-force all-pairs levenshtein over the same population — the
    // prefix-filtered engine output must EQUAL it (EDJoin completeness)
    "fuzzy_term_pairs" ->
      """WITH w AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS term
        |           FROM documents),
        |t AS (SELECT term FROM w WHERE term <> ''),
        |p AS (SELECT term FROM t
        |      UNION
        |      SELECT 'z' || substr(term, 2) FROM t WHERE length(term) >= 4)
        |SELECT a.term AS term_a, b.term AS term_b,
        |  CAST(levenshtein(a.term, b.term) AS BIGINT) AS ed
        |FROM p a JOIN p b ON a.term < b.term
        |WHERE levenshtein(a.term, b.term) <= 1
        |ORDER BY term_a, term_b""".stripMargin,

    // identical tokenization (empty tokens filtered), identical slices,
    // identical 8-gram windows — the overlap join is then set-exact
    "decontaminate_corpus" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |bw AS (SELECT w[5:24] AS w FROM tok WHERE doc_id % 97 = 0),
        |bg AS (SELECT DISTINCT array_to_string(w[i:i+7], ' ') AS g
        |       FROM (SELECT w, unnest(range(1, len(w) - 6)) AS i FROM bw
        |             WHERE len(w) >= 8)),
        |cg AS (SELECT DISTINCT doc_id, array_to_string(w[i:i+7], ' ') AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w) - 6)) AS i FROM tok
        |             WHERE len(w) >= 8))
        |SELECT doc_id, count(*) AS n_hits
        |FROM cg JOIN bg USING (g)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // first-occurrence-wins in (doc_id, pos) order, identical 10-token
    // chunking; string_agg ORDER BY pos mirrors the preserved array order
    "line_dedup" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |L AS (SELECT doc_id, i AS pos,
        |        array_to_string(w[(i-1)*10+1:i*10], ' ') AS chunk
        |      FROM (SELECT doc_id, w,
        |              unnest(range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)) AS i
        |            FROM tok)),
        |k AS (SELECT doc_id, pos, chunk,
        |        row_number() OVER (PARTITION BY chunk ORDER BY doc_id, pos) AS rn
        |      FROM L)
        |SELECT doc_id, string_agg(chunk, ' ' ORDER BY pos) AS kept_text,
        |       count(*) AS n_kept
        |FROM k WHERE rn = 1 GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // identical tokenization; chunk starts are the same integer-ceil
    // multiples of the stride; DuckDB list slices are 1-based inclusive,
    // matching slice(w, st+1, 64)
    "doc_chunking" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |s AS (SELECT doc_id, w, len(w) AS n FROM tok WHERE len(w) > 0),
        |g AS (SELECT doc_id, w, n,
        |        unnest(range(0, ((greatest(n - 64, 0) + 47) // 48) * 48 + 1, 48)) AS st
        |      FROM s)
        |SELECT doc_id, st // 48 AS chunk_idx,
        |  array_to_string(w[st+1:st+64], ' ') AS chunk_text,
        |  least(64, n - st) AS n_tokens
        |FROM g ORDER BY doc_id, chunk_idx""".stripMargin,

    // the engine's two-level scan must equal the plain global window
    // cumulative sum (integer totals; HUGEINT cast back to BIGINT)
    "sequence_pack" ->
      """WITH t AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split(text, ' '), x -> x <> '')) AS BIGINT) AS n
        |  FROM documents),
        |c AS (SELECT doc_id, n, CAST(sum(n) OVER (
        |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS cum FROM t)
        |SELECT doc_id, n AS n_tokens, cum - n AS start_offset,
        |  (cum - n) // 2048 AS bin
        |FROM c ORDER BY doc_id""".stripMargin,

    // same planted PII, same patterns (shared Java/RE2 subset), counts
    // from the original text, replacements applied email-then-phone
    "pii_scrub" ->
      """WITH p AS (SELECT doc_id, text ||
        |    CASE WHEN doc_id % 7 = 0
        |      THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
        |      ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0
        |      THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |      ELSE '' END AS t
        |  FROM documents)
        |SELECT doc_id,
        |  regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed_text,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT) AS n_email,
        |  CAST(len(regexp_extract_all(t,
        |    '[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phone
        |FROM p ORDER BY doc_id""".stripMargin,

    "snapshot_diff" ->
      """WITH prev AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 13 = 0 THEN text || ' legacy' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, 'retired ' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id % 17 = 0)
        |SELECT COALESCE(p.doc_id, c.doc_id) AS doc_id,
        |  CASE WHEN p.doc_id IS NULL THEN 'added'
        |       WHEN c.doc_id IS NULL THEN 'removed'
        |       WHEN p.text = c.text THEN 'unchanged'
        |       ELSE 'changed' END AS status
        |FROM prev p FULL OUTER JOIN documents c ON p.doc_id = c.doc_id
        |ORDER BY doc_id""".stripMargin,

    // same 10-token chunking and bigram windows; fractions are integer
    // ratios under IEEE double division in both engines
    "repetition_signals" ->
      """WITH tok AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), x -> x <> '') AS w FROM documents),
        |ch AS (SELECT doc_id, array_to_string(w[(i-1)*10+1:i*10], ' ') AS chunk
        |       FROM (SELECT doc_id, w,
        |               unnest(range(1, CAST(ceil(len(w)/10.0) AS BIGINT) + 1)) AS i
        |             FROM tok)),
        |cstat AS (SELECT doc_id, count(*) AS tot, count(DISTINCT chunk) AS dis
        |          FROM ch GROUP BY doc_id),
        |bg AS (SELECT doc_id, w[i] || ' ' || w[i+1] AS g
        |       FROM (SELECT doc_id, w, unnest(range(1, len(w))) AS i FROM tok
        |             WHERE len(w) >= 2)),
        |bc AS (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY 1, 2),
        |bstat AS (SELECT doc_id, max(c) AS mx, CAST(sum(c) AS BIGINT) AS tot
        |          FROM bc GROUP BY doc_id)
        |SELECT t.doc_id, CAST(len(t.w) AS BIGINT) AS n_tokens,
        |  COALESCE((cstat.tot - cstat.dis) * 1.0 / cstat.tot, 0.0) AS dup_chunk_frac,
        |  COALESCE(bstat.mx * 1.0 / bstat.tot, 0.0) AS top_bigram_frac
        |FROM tok t LEFT JOIN cstat USING (doc_id) LEFT JOIN bstat USING (doc_id)
        |ORDER BY t.doc_id""".stripMargin,

    // bigram LM with stupid backoff, trained on the corpus and scored
    // against itself: the model (unigram/bigram counts + total) and
    // every position's fixed-point score re-derived from the same
    // parquet; integer accumulators make the rollup order-free
    "ngram_lm_score" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ws FROM documents),
        |tok AS (SELECT unnest(ws) AS t FROM w),
        |uni AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
        |tot AS (SELECT count(*) AS n FROM tok),
        |pos AS (SELECT doc_id, ws, unnest(range(1, greatest(len(ws), 1))) AS p FROM w),
        |bg AS (SELECT doc_id,
        |              list_element(ws, CAST(p AS INT)) AS ctx,
        |              list_element(ws, CAST(p AS INT) + 1) AS cur FROM pos),
        |big AS (SELECT ctx, cur, count(*) AS c FROM bg GROUP BY 1, 2),
        |scored AS (
        |  SELECT bg.doc_id,
        |    CASE WHEN big.c IS NOT NULL THEN CAST(big.c AS DOUBLE) / uc.c
        |         ELSE 0.4 * (CAST(coalesce(un.c, 0) AS DOUBLE) / tot.n) END AS p,
        |    CASE WHEN big.c IS NULL THEN 1 ELSE 0 END AS bo
        |  FROM bg
        |  LEFT JOIN big ON big.ctx = bg.ctx AND big.cur = bg.cur
        |  LEFT JOIN uni uc ON uc.t = bg.ctx
        |  LEFT JOIN uni un ON un.t = bg.cur
        |  CROSS JOIN tot)
        |SELECT doc_id,
        |  count(*) AS n_scored,
        |  CAST(sum(bo) AS BIGINT) AS n_backoff,
        |  CAST(sum(CAST(floor(p * 1e9) AS BIGINT)) AS BIGINT) AS score_fp,
        |  CAST(sum(CAST(floor(p * 1e9) AS BIGINT)) AS DOUBLE) / count(*) / 1e9 AS avg_p
        |FROM scored GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "doc_top_terms" ->
      """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
        |t AS (SELECT doc_id, term, count(*) AS tf FROM w WHERE term <> '' GROUP BY 1, 2),
        |d AS (SELECT term, count(*) AS df FROM t GROUP BY 1),
        |s AS (SELECT doc_id, t.term, CAST(tf AS DOUBLE) / df AS score
        |      FROM t JOIN d ON t.term = d.term),
        |r AS (SELECT doc_id, term,
        |        row_number() OVER (PARTITION BY doc_id
        |          ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term
        |FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    // thresholds = rank-ceil(q*n) order statistics of the token count
    // (the engine's no-compaction KLL quantile definition)
    "pipeline_length_filter" ->
      """WITH f AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens
        |  FROM documents
        |), r AS (
        |  SELECT n_tokens,
        |    row_number() OVER (ORDER BY n_tokens) AS rn,
        |    count(*) OVER () AS cnt
        |  FROM f
        |), th AS (
        |  SELECT
        |    max(CASE WHEN rn = CAST(ceil(CAST(0.05 AS DOUBLE) * cnt) AS BIGINT)
        |             THEN n_tokens END) AS lo,
        |    max(CASE WHEN rn = CAST(ceil(CAST(0.95 AS DOUBLE) * cnt) AS BIGINT)
        |             THEN n_tokens END) AS hi
        |  FROM r
        |)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM f, th
        |WHERE n_tokens >= lo AND n_tokens <= hi
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // bank holds every epoch-1 text; the stream's 200000-shifted rows are
    // all true positives (dropped), the 300000-shifted marked texts are
    // new (kept, min id per distinct text) — exact in the FP-free regime
    "streaming_dedup_compacted" ->
      """SELECT min(doc_id) + 300000 AS doc_id,
        |  text || ' fresh marker' AS text
        |FROM documents GROUP BY text ORDER BY doc_id""".stripMargin,

    "streaming_dedup" ->
      """SELECT d.doc_id, d.text FROM documents d
        |JOIN (SELECT min(doc_id) AS doc_id FROM documents GROUP BY text) k
        |  ON d.doc_id = k.doc_id
        |ORDER BY d.doc_id""".stripMargin,

    "text_quality" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    length(text) AS n_chars,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, n_tokens,
        |    CASE WHEN n_tokens > 0 THEN round(n_chars::double / n_tokens, 4) ELSE 0.0 END AS avg_token_len,
        |    CASE WHEN n_chars > 0 THEN round(punct::double / n_chars, 4) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN round(digits::double / n_chars, 4) ELSE 0.0 END AS digit_ratio,
        |    CASE WHEN n_chars > 0 THEN round(alpha::double / n_chars, 4) ELSE 0.0 END AS alpha_ratio
        |  FROM f
        |)
        |SELECT doc_id, n_tokens, avg_token_len, punct_ratio, alpha_ratio,
        |  round((CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 0.4 ELSE 0.0 END)
        |      + (CASE WHEN alpha_ratio >= 0.6 THEN 0.3 ELSE 0.0 END)
        |      + (CASE WHEN punct_ratio <= 0.1 THEN 0.2 ELSE 0.0 END)
        |      + (CASE WHEN digit_ratio <= 0.2 THEN 0.1 ELSE 0.0 END), 4) AS quality_score
        |FROM r ORDER BY doc_id""".stripMargin,

    // the text_quality derivation rolled up per synthetic domain, plus
    // the exact-duplicate counter; integer accumulators + one division
    "domain_quality_rollup" ->
      """WITH f AS (
        |  SELECT doc_id, text,
        |    length(text) AS n_chars,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, text, n_tokens,
        |    CASE WHEN n_chars > 0 THEN round(punct::double / n_chars, 4) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN round(digits::double / n_chars, 4) ELSE 0.0 END AS digit_ratio,
        |    CASE WHEN n_chars > 0 THEN round(alpha::double / n_chars, 4) ELSE 0.0 END AS alpha_ratio
        |  FROM f
        |), q AS (
        |  SELECT doc_id, text, n_tokens,
        |    round((CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 0.4 ELSE 0.0 END)
        |        + (CASE WHEN alpha_ratio >= 0.6 THEN 0.3 ELSE 0.0 END)
        |        + (CASE WHEN punct_ratio <= 0.1 THEN 0.2 ELSE 0.0 END)
        |        + (CASE WHEN digit_ratio <= 0.2 THEN 0.1 ELSE 0.0 END), 4) AS qs
        |  FROM r
        |), j AS (
        |  SELECT 'site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' AS domain,
        |    n_tokens, qs,
        |    CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY text) THEN 1 ELSE 0 END AS is_dup
        |  FROM q
        |)
        |SELECT domain, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
        |  CAST(sum(CAST(round(qs * 10) AS BIGINT)) AS DOUBLE) / count(*) / 10.0 AS mean_quality,
        |  CAST(sum(is_dup) AS BIGINT) AS n_dups
        |FROM j GROUP BY 1 ORDER BY domain""".stripMargin,

    "token_counts" ->
      """SELECT doc_id,
        |  CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |  CAST(CASE WHEN length(trim(text)) = 0 THEN 0
        |       ELSE list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
        |            w -> CAST(ceil(length(w) / 4.0) AS BIGINT)))
        |  END AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin,

    // full recomputation of the ASCII-regime heuristic: ordered
    // stopword-profile vote with a shared denominator (so score ties ==
    // hit-count ties), first profile wins, 0.05 floor — see
    // TextOps.langId. The CJK branch is provably inert on the
    // ASCII-filtered slice.
    "lang_id_exact" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |           WHERE regexp_matches(text, '^[\x20-\x7E\t\n\f\r]*$')),
        |t AS (SELECT doc_id,
        |        len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS n,
        |        list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks
        |      FROM d),
        |s AS (SELECT doc_id, n,
        |  len(list_filter(toks, x -> list_contains(['the','of','and','to','in','is','it','that','for','was','with','are','this','you','not'], x))) AS h_en,
        |  len(list_filter(toks, x -> list_contains(['le','la','les','de','des','et','un','une','est','que','pour','dans','qui','pas','sur'], x))) AS h_fr,
        |  len(list_filter(toks, x -> list_contains(['el','la','los','las','de','y','que','en','un','una','es','por','con','para','no'], x))) AS h_es,
        |  len(list_filter(toks, x -> list_contains(['der','die','das','und','ist','von','mit','nicht','ein','eine','zu','den','auf','fur','sich'], x))) AS h_de,
        |  len(list_filter(toks, x -> list_contains(['il','la','di','e','che','un','una','per','non','sono','con','del','le','si','da'], x))) AS h_it
        |      FROM t),
        |m AS (SELECT doc_id, n, h_en, h_fr, h_es, h_de, h_it,
        |        greatest(h_en, h_fr, h_es, h_de, h_it) AS hm FROM s)
        |SELECT doc_id,
        |  CASE WHEN n = 0 THEN 'und'
        |       WHEN hm = 0 THEN 'und'
        |       WHEN CAST(hm AS DOUBLE) / n < CAST(0.05 AS DOUBLE) THEN 'und'
        |       WHEN h_en = hm THEN 'en'
        |       WHEN h_fr = hm THEN 'fr'
        |       WHEN h_es = hm THEN 'es'
        |       WHEN h_de = hm THEN 'de'
        |       ELSE 'it' END AS lang_pred
        |FROM m ORDER BY doc_id""".stripMargin,

    "cms_event_counts" ->
      """SELECT event_type || ':' || CAST(user_id % 10 AS VARCHAR) AS item,
        |  count(*) AS est_cnt
        |FROM events GROUP BY 1 ORDER BY item""".stripMargin,

    // dyadic decay weights as shifted integers — no pow(), order-free
    "decayed_event_counts" ->
      """WITH e0 AS (SELECT event_type,
        |  CAST(floor((1706745600 - floor(epoch(ts))) / 86400.0) AS INT) AS k0
        |  FROM events),
        |e AS (SELECT event_type, CASE WHEN k0 IS NULL THEN NULL
        |  WHEN k0 BETWEEN 0 AND 40 THEN k0
        |  ELSE CAST(error('decayed_event_counts: k outside [0,40]: ' || k0) AS INT)
        |  END AS k FROM e0)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(1 AS BIGINT) << (40 - k)) AS BIGINT) AS decayed_fp,
        |  CAST(sum(CAST(1 AS BIGINT) << (40 - k)) AS DOUBLE) / 1099511627776 AS decayed_count
        |FROM e GROUP BY 1 ORDER BY event_type""".stripMargin,

    "hh_topk" ->
      """SELECT event_type || ':' || CAST(user_id % 10 AS VARCHAR) AS item,
        |  count(*) AS cnt
        |FROM events GROUP BY 1 ORDER BY cnt DESC, item LIMIT 25""".stripMargin,

    "pipeline_curation" ->
      """WITH f AS (
        |  SELECT doc_id, lang, text,
        |    length(text) AS n_chars,
        |    CASE WHEN length(trim(text)) = 0 THEN 0
        |         ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
        |    length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct,
        |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS digits,
        |    length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha
        |  FROM documents
        |), rat AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    CASE WHEN n_chars > 0 THEN round(punct::double / n_chars, 4) ELSE 0.0 END AS punct_ratio,
        |    CASE WHEN n_chars > 0 THEN round(digits::double / n_chars, 4) ELSE 0.0 END AS digit_ratio,
        |    CASE WHEN n_chars > 0 THEN round(alpha::double / n_chars, 4) ELSE 0.0 END AS alpha_ratio
        |  FROM f
        |), r AS (
        |  SELECT doc_id, lang, text, n_tokens,
        |    round((CASE WHEN n_tokens BETWEEN 5 AND 5000 THEN 0.4 ELSE 0.0 END)
        |        + (CASE WHEN alpha_ratio >= 0.6 THEN 0.3 ELSE 0.0 END)
        |        + (CASE WHEN punct_ratio <= 0.1 THEN 0.2 ELSE 0.0 END)
        |        + (CASE WHEN digit_ratio <= 0.2 THEN 0.1 ELSE 0.0 END), 4) AS quality_score
        |  FROM rat
        |), q AS (SELECT * FROM r WHERE quality_score >= 0.7),
        |d AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY text)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens
        |FROM q JOIN d USING (doc_id)
        |GROUP BY lang ORDER BY lang""".stripMargin,

    // element means in double on both sides; %.6g canonicalization
    // absorbs the FP addition-order tail (sums of ~50 floats)
    "embedding_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(i - 1 AS BIGINT) AS dim,
        |  avg(CAST(v AS DOUBLE)) AS mean_val
        |FROM (SELECT label, unnest(embedding) AS v,
        |        generate_subscripts(embedding, 1) AS i FROM embeddings)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "similarity_topk" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5
        |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // exhaustive-regime SRP dedup equals the brute-force all-pairs
    // cosine join (threshold far from every non-planted pair)
    "embedding_dups_exact" ->
      """WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
        |e AS (
        |  SELECT vec_id, embedding FROM b
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> x * 1.0001) AS embedding
        |  FROM b
        |)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b
        |FROM e a JOIN e b ON a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(a.embedding, b.embedding) >= 0.999
        |ORDER BY id_a, id_b""".stripMargin,

    // exhaustive-regime SemDeDup (nlist = 1): kept iff no lower-id
    // cosine-neighbor at the threshold, over the identical slice+twin
    // construction
    "semantic_dedup_exact" ->
      """WITH b AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500),
        |e AS (
        |  SELECT vec_id, embedding FROM b
        |  UNION ALL
        |  SELECT vec_id + 100000 AS vec_id,
        |    list_transform(embedding, x -> x * 1.0001) AS embedding
        |  FROM b
        |)
        |SELECT a.vec_id AS vec_id,
        |  NOT EXISTS (SELECT 1 FROM e b2
        |    WHERE b2.vec_id < a.vec_id
        |      AND list_cosine_similarity(a.embedding, b2.embedding) >= 0.999) AS kept
        |FROM e a ORDER BY vec_id""".stripMargin,

    // exhaustive-regime LSH (one all-corpus bucket) equals brute force,
    // so the similarity_topk oracle applies verbatim
    "lsh_topk_exact" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5
        |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // exhaustive-shortlist PQ equals brute force (every slice row is
    // exact-reranked), so the brute-force oracle applies on the slice
    "pq_topk_exact" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q
        |  WHERE q.vec_id < 5 AND c.vec_id < 500
        |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // exhaustive-probe IVF equals brute force, so the brute-force oracle
    // applies verbatim
    "ivf_topk" ->
      """SELECT query_id, vec_id, rank FROM (
        |  SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
        |    row_number() OVER (PARTITION BY q.vec_id
        |      ORDER BY list_cosine_similarity(c.embedding, q.embedding) DESC, c.vec_id) AS rank
        |  FROM embeddings c, embeddings q WHERE q.vec_id < 5
        |) WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,

    // ---- transcript-native oracles: DuckDB reads the SAME fixed
    // deterministic dump the Spark queries aggregate (TranscriptFixture;
    // written by Verify before the driver's DuckDB pass runs), so each
    // oracle independently recomputes the aggregation over identical rows.

    "transcript_shape" ->
      s"""SELECT conv_id, count(*) AS n_turns,
        |  CAST(sum(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_tool_turns,
        |  min(ts) AS first_ts, max(ts) AS last_ts
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |GROUP BY conv_id ORDER BY conv_id""".stripMargin,

    "transcript_hll_tools" ->
      s"""SELECT tool, count(DISTINCT conv_id) AS n_convs, true AS est_in_bound
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |WHERE tool IS NOT NULL GROUP BY tool ORDER BY tool""".stripMargin,

    "transcript_cms_role_tool" ->
      s"""SELECT concat(role, ':', coalesce(tool, '-')) AS pair,
        |  CAST(count(*) AS BIGINT) AS est_cnt
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |GROUP BY 1 ORDER BY pair""".stripMargin,

    // exact order statistic at rank ceil(q*n) — the kll exact-regime
    // definition (kll_quantiles_exact pattern)
    "transcript_kll_textlen" ->
      s"""WITH r AS (
        |  SELECT role, CAST(length(text) AS DOUBLE) AS v,
        |    row_number() OVER (PARTITION BY role ORDER BY length(text)) AS rn,
        |    count(*) OVER (PARTITION BY role) AS cnt
        |  FROM ${graft.data.TranscriptFixture.OracleGlob}
        |)
        |SELECT role,
        |  max(CASE WHEN rn = CAST(ceil(0.5 * cnt) AS BIGINT) THEN v END) AS q50,
        |  max(CASE WHEN rn = CAST(ceil(0.9 * cnt) AS BIGINT) THEN v END) AS q90,
        |  max(CASE WHEN rn = CAST(ceil(0.99 * cnt) AS BIGINT) THEN v END) AS q99
        |FROM r GROUP BY role ORDER BY role""".stripMargin,

    "transcript_tdigest_textlen" ->
      s"""SELECT role, CAST(min(length(text)) AS DOUBLE) AS p0,
        |  CAST(max(length(text)) AS DOUBLE) AS p100
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |GROUP BY role ORDER BY role""".stripMargin,

    // FP-free regime: Bloom membership equals exact even-ordinal set
    "transcript_bloom_convs" ->
      s"""SELECT DISTINCT conv_id FROM ${graft.data.TranscriptFixture.OracleGlob}
        |WHERE CAST(substr(conv_id, 6) AS INT) % 2 = 0
        |ORDER BY conv_id""".stripMargin,

    // the watermark-emitted stream equals the batch rollup; the
    // punctuation window is withheld by the engine and absent here
    "streaming_transcript_windowed" ->
      s"""SELECT time_bucket(INTERVAL 1 DAY, ts) AS w_start, tool AS tool_name,
        |  count(*) AS n_turns
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |WHERE tool IS NOT NULL
        |GROUP BY 1, 2 ORDER BY w_start, tool_name""".stripMargin,

    "transcript_asof_tool" ->
      s"""WITH tools AS (
        |  SELECT conv_id, ts, max(tool) AS tool_name, max(turn_idx) AS tool_turn_idx
        |  FROM ${graft.data.TranscriptFixture.OracleGlob}
        |  WHERE tool IS NOT NULL GROUP BY 1, 2
        |), u AS (
        |  SELECT conv_id, ts, turn_idx FROM ${graft.data.TranscriptFixture.OracleGlob}
        |  WHERE role = 'user'
        |)
        |SELECT u.conv_id, u.ts, u.turn_idx, t.tool_name, t.tool_turn_idx
        |FROM u ASOF LEFT JOIN tools t
        |  ON u.conv_id = t.conv_id AND u.ts >= t.ts
        |ORDER BY u.conv_id, u.turn_idx""".stripMargin,

    // the same lag-window transition derivation in SQL
    "transcript_tool_transitions" ->
      s"""WITH tools AS (
        |  SELECT conv_id, turn_idx, tool
        |  FROM ${graft.data.TranscriptFixture.OracleGlob} WHERE tool IS NOT NULL
        |), tr AS (
        |  SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_tool,
        |    tool FROM tools
        |)
        |SELECT prev_tool, tool, count(*) AS cnt FROM tr
        |WHERE prev_tool IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev_tool, tool""".stripMargin,

    // canonical conversation text via ordered string_agg; grouping by the
    // FULL text (Spark groups by its murmur64 fingerprint — a collision
    // would mismatch here)
    "transcript_conv_dedup" ->
      s"""WITH canon AS (
        |  SELECT conv_id, string_agg(text, chr(31) ORDER BY turn_idx) AS conv_text
        |  FROM ${graft.data.TranscriptFixture.OracleGlob} GROUP BY conv_id
        |), corpus AS (
        |  SELECT conv_id, conv_text FROM canon
        |  UNION ALL
        |  SELECT conv_id || '-copy', conv_text FROM canon
        |  WHERE CAST(substr(conv_id, 6) AS INT) < 50
        |)
        |SELECT min(conv_id) AS conv_id, CAST(count(*) AS BIGINT) AS n_copies
        |FROM corpus GROUP BY conv_text ORDER BY conv_id""".stripMargin,

    "transcript_salted_hotspot" ->
      s"""SELECT conv_id, count(*) AS n_turns,
        |  CAST(sum(length(text)) AS BIGINT) AS n_chars
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |GROUP BY conv_id ORDER BY n_turns DESC, conv_id LIMIT 20""".stripMargin,

    // ranks re-derived with a plain per-bucket window; integer
    // padding_frac ratios are IEEE-exact in both engines
    "batch_assembly" ->
      """WITH t AS (
        |  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
        |  FROM documents
        |), r AS (
        |  SELECT doc_id, nt, nt // 16 AS bucket,
        |    row_number() OVER (PARTITION BY nt // 16 ORDER BY doc_id) AS rk
        |  FROM t
        |)
        |SELECT bucket, (rk - 1) // 8 AS batch_idx,
        |  CAST(count(*) AS BIGINT) AS n_seqs,
        |  max(nt) AS max_tokens,
        |  CAST(sum(nt) AS BIGINT) AS sum_tokens,
        |  1.0 - CAST(sum(nt) AS DOUBLE) / (count(*) * max(nt)) AS padding_frac
        |FROM r GROUP BY 1, 2 ORDER BY bucket, batch_idx""".stripMargin,

    // dup determination re-derived from gram TEXT (engine groups by
    // murmur64 of the same gram — identical absent collisions, the
    // documented exactDedup tradeoff); islands via p - row_number
    "duplicate_spans" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, i - 1 AS p, array_to_string(l[i:i+9], ' ') AS gram
        |  FROM (SELECT doc_id, l,
        |          unnest(generate_series(1, len(l) - 9)) AS i
        |        FROM toks WHERE len(l) >= 10)
        |), d AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        |), dp AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM g WHERE gram IN (SELECT gram FROM d)
        |)
        |SELECT doc_id, CAST(min(p) AS BIGINT) AS span_start,
        |  CAST(max(p) + 9 AS BIGINT) AS span_end,
        |  CAST(max(p) + 9 - min(p) + 1 AS BIGINT) AS n_tokens
        |FROM dp GROUP BY doc_id, grp
        |ORDER BY doc_id, span_start""".stripMargin,

    // the span pipeline re-derived, then tokens anti-joined against
    // exploded span positions and re-joined in order
    "substring_scrub" ->
      """WITH toks AS (
        |  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
        |  FROM documents
        |), g AS (
        |  SELECT doc_id, i - 1 AS p, array_to_string(l[i:i+9], ' ') AS gram
        |  FROM (SELECT doc_id, l,
        |          unnest(generate_series(1, len(l) - 9)) AS i
        |        FROM toks WHERE len(l) >= 10)
        |), d AS (
        |  SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2
        |), dp AS (
        |  SELECT doc_id, p,
        |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
        |  FROM g WHERE gram IN (SELECT gram FROM d)
        |), spans AS (
        |  SELECT doc_id, min(p) AS s, max(p) + 9 AS e
        |  FROM dp GROUP BY doc_id, grp
        |), cut AS (
        |  SELECT doc_id, unnest(generate_series(s, e)) AS p FROM spans
        |), tok AS (
        |  SELECT doc_id, i - 1 AS p, w
        |  FROM (SELECT doc_id, unnest(l) AS w,
        |          generate_subscripts(l, 1) AS i FROM toks)
        |), kept AS (
        |  SELECT t.doc_id, string_agg(t.w, ' ' ORDER BY t.p) AS txt,
        |    count(*) AS n
        |  FROM tok t LEFT JOIN cut c ON t.doc_id = c.doc_id AND t.p = c.p
        |  WHERE c.p IS NULL GROUP BY t.doc_id
        |)
        |SELECT b.doc_id, coalesce(k.txt, '') AS scrubbed_text,
        |  CAST(b.nt - coalesce(k.n, 0) AS BIGINT) AS n_removed
        |FROM (SELECT doc_id, len(l) AS nt FROM toks) b
        |LEFT JOIN kept k ON b.doc_id = k.doc_id
        |ORDER BY b.doc_id""".stripMargin,

    // the LCG permutation and shard arithmetic re-derived verbatim;
    // all-integer, so the hash compare is exact
    "epoch_shuffle" ->
      """WITH k AS (
        |  SELECT doc_id, (doc_id * 48271 + 12345) % 2147483647 AS key
        |  FROM documents
        |), r AS (
        |  SELECT doc_id,
        |    row_number() OVER (ORDER BY key, doc_id) - 1 AS position
        |  FROM k
        |)
        |SELECT doc_id, CAST(position AS BIGINT) AS position,
        |  CAST(position % 8 AS BIGINT) AS shard,
        |  CAST(position // 8 AS BIGINT) AS pos_in_shard
        |FROM r ORDER BY position""".stripMargin,

    // adjacent pairs via lockstep unnest + 1-based list indexing; the
    // same single-space tokenization as the engine
    "bpe_pair_counts" ->
      """WITH toks AS (
        |  SELECT list_filter(string_split(text, ' '), t -> t <> '') AS l
        |  FROM documents
        |), u AS (
        |  SELECT l, unnest(l) AS w1, generate_subscripts(l, 1) AS i FROM toks
        |), p AS (
        |  SELECT w1, l[i + 1] AS w2 FROM u WHERE i < len(l)
        |)
        |SELECT w1, w2, CAST(count(*) AS BIGINT) AS cnt
        |FROM p GROUP BY 1, 2 ORDER BY cnt DESC, w1, w2 LIMIT 50""".stripMargin,

    // vocabulary cut re-derived with the same (freq DESC, token ASC)
    // total order; per-doc OOV counters are integers + one division
    "vocab_oov_rate" ->
      """WITH w AS (SELECT doc_id,
        |  list_filter(string_split(text, ' '), t -> t <> '') AS ws FROM documents),
        |tok AS (SELECT doc_id, unnest(ws) AS t FROM w),
        |freq AS (SELECT t, count(*) AS c FROM tok GROUP BY 1),
        |voc AS (SELECT t FROM freq ORDER BY c DESC, t ASC LIMIT 500)
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        |  CAST(sum(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS oov_rate
        |FROM tok LEFT JOIN voc v ON v.t = tok.t
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // the full canonicalization pipeline re-derived in SQL: fragment
    // strip, scheme/host casefold, www/default-port removal, path
    // trailing-slash rule, tracking filter + param sort
    "url_canonical_dedup" ->
      """WITH u AS (
        |  SELECT doc_id,
        |    CASE doc_id % 4
        |      WHEN 0 THEN 'https://www.example.com/path/' ||
        |        CAST(doc_id // 4 AS VARCHAR) || '?a=1&b=2'
        |      WHEN 1 THEN 'HTTPS://EXAMPLE.COM:443/path/' ||
        |        CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1'
        |      WHEN 2 THEN 'https://example.com/path/' ||
        |        CAST(doc_id // 4 AS VARCHAR) || '/?a=1&b=2&utm_source=feed'
        |      ELSE 'https://www.example.com/path/' ||
        |        CAST(doc_id // 4 AS VARCHAR) || '?b=2&a=1#section'
        |    END AS url
        |  FROM documents
        |), parts AS (
        |  SELECT doc_id, regexp_replace(url, '#.*$', '') AS nf FROM u
        |), comps AS (
        |  SELECT doc_id,
        |    lower(regexp_extract(nf, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
        |    lower(regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)) AS hostport,
        |    regexp_extract(nf, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1) AS rawpath,
        |    regexp_extract(nf, '\?(.*)$', 1) AS rawq
        |  FROM parts
        |), canon AS (
        |  SELECT doc_id,
        |    scheme || '://' ||
        |    regexp_replace(regexp_extract(hostport, '^([^:]*)', 1), '^www\.', '') ||
        |    CASE WHEN regexp_extract(hostport, ':([0-9]+)$', 1) = ''
        |        OR (scheme = 'http' AND regexp_extract(hostport, ':([0-9]+)$', 1) = '80')
        |        OR (scheme = 'https' AND regexp_extract(hostport, ':([0-9]+)$', 1) = '443')
        |      THEN '' ELSE ':' || regexp_extract(hostport, ':([0-9]+)$', 1) END ||
        |    regexp_replace(CASE WHEN rawpath = '' THEN '/' ELSE rawpath END,
        |      '(.)/$', '\1') ||
        |    CASE WHEN q = '' THEN '' ELSE '?' || q END AS canonical_url
        |  FROM (
        |    SELECT *, array_to_string(list_sort(list_filter(
        |      string_split(rawq, '&'),
        |      x -> x <> '' AND NOT regexp_matches(x,
        |        '^(utm_[^=]*|fbclid|gclid|ref)='))), '&') AS q
        |    FROM comps
        |  )
        |)
        |SELECT canonical_url, count(*) AS n_docs, min(doc_id) AS first_doc
        |FROM canon GROUP BY 1 ORDER BY canonical_url""".stripMargin,

    // each check's violation count recomputed independently; the same
    // deterministic planting (lowest orderkeys) rebuilt in SQL
    "data_quality_report" ->
      """WITH corpus AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 900000000, NULL, o_orderstatus, -5.0
        |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 7)
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
        |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 5)
        |  UNION ALL
        |  SELECT o_orderkey + 910000000, 888888888, o_orderstatus, o_totalprice
        |  FROM (SELECT * FROM orders ORDER BY o_orderkey LIMIT 3)
        |), checks AS (
        |  SELECT 'custkey_not_null' AS check_name,
        |    CAST(count(*) AS BIGINT) AS n_rows,
        |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violations
        |  FROM corpus
        |  UNION ALL
        |  SELECT 'price_positive', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_totalprice > 0 THEN 0 ELSE 1 END) AS BIGINT)
        |  FROM corpus
        |  UNION ALL
        |  SELECT 'status_valid', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_orderstatus IN ('O','F','P') THEN 0 ELSE 1 END)
        |      AS BIGINT)
        |  FROM corpus
        |  UNION ALL
        |  SELECT 'orderkey_unique', CAST(count(*) AS BIGINT),
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT)
        |  FROM corpus
        |  UNION ALL
        |  SELECT 'custkey_in_customer', CAST(count(*) AS BIGINT),
        |    CAST(sum(CASE WHEN o_custkey IS NULL
        |      OR o_custkey NOT IN (SELECT c_custkey FROM customer)
        |      THEN 1 ELSE 0 END) AS BIGINT)
        |  FROM corpus
        |)
        |SELECT check_name, n_rows, n_violations,
        |  n_violations = 0 AS passed
        |FROM checks ORDER BY check_name""".stripMargin,

    // ordered string_agg re-derives the chat-template sample
    "transcript_render" ->
      s"""SELECT conv_id,
        |  string_agg('<|' || role ||
        |      CASE WHEN tool IS NOT NULL THEN ':' || tool ELSE '' END ||
        |      '|> ' || text, chr(10) ORDER BY turn_idx) AS sample_text,
        |  count('<|' || role ||
        |      CASE WHEN tool IS NOT NULL THEN ':' || tool ELSE '' END ||
        |      '|> ' || text) AS n_turns
        |FROM ${graft.data.TranscriptFixture.OracleGlob}
        |GROUP BY conv_id ORDER BY conv_id""".stripMargin,

    // suffix token totals in descending turn order; <= 400 selects the
    // kept contiguous suffix
    "transcript_truncate_budget" ->
      s"""WITH t AS (
        |  SELECT conv_id, turn_idx,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM ${graft.data.TranscriptFixture.OracleGlob}
        |), c AS (
        |  SELECT conv_id, turn_idx, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY conv_id ORDER BY turn_idx DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS suffix_tokens
        |  FROM t
        |)
        |SELECT conv_id, turn_idx, n_tokens, suffix_tokens FROM c
        |WHERE suffix_tokens <= 400 ORDER BY conv_id, turn_idx""".stripMargin,

    // lag over ALL turns, filter to assistant targets after; concat_ws
    // skips the NULL lags past the conversation head in both engines
    "transcript_sft_pairs" ->
      s"""WITH r AS (
        |  SELECT conv_id, turn_idx, role, text,
        |    '<|' || role ||
        |      CASE WHEN tool IS NOT NULL THEN ':' || tool ELSE '' END ||
        |      '|> ' || text AS line
        |  FROM ${graft.data.TranscriptFixture.OracleGlob}
        |), l AS (
        |  SELECT conv_id, turn_idx, role, text,
        |    lag(line, 3) OVER w AS l3, lag(line, 2) OVER w AS l2,
        |    lag(line, 1) OVER w AS l1,
        |    lag(turn_idx, 1) OVER w AS prev_idx
        |  FROM r
        |  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
        |)
        |SELECT conv_id, turn_idx AS target_idx,
        |  concat_ws(chr(10), l3, l2, l1) AS context_text,
        |  text AS target_text
        |FROM l WHERE role = 'assistant' AND prev_idx IS NOT NULL
        |ORDER BY conv_id, target_idx""".stripMargin)
}
