package sketchbench

/** The metrics the benchmark reports, by name and unit: end-to-end ones
  * in the untraced run, per-layer ones in the traced run. */
object Declared {
  val endToEnd: Seq[(String, String)] = Seq(
    "throughput_norm" -> "rows/ref",
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB")

  private val sketches = Seq("hll", "cms", "kll", "bloom", "hh")

  val perLayer: Seq[(String, String)] =
    Seq("core.murmur2_ns" -> "ns", "core.hash64k_ns" -> "ns") ++
      sketches.flatMap(k => Seq(
        s"sketch.$k.update_ns" -> "ns",
        s"sketch.$k.merge_us" -> "us",
        s"sketch.$k.ser_us" -> "us",
        s"sketch.$k.deser_us" -> "us",
        s"sketch.$k.bytes" -> "bytes")) ++
      Seq("sketch.bloom.contains_ns" -> "ns") ++
      Seq("murmur64", "shingle_hashes", "minhash_sig", "bloom_might_contain")
        .map(e => s"spark.expr.${e}_rows_s" -> "rows/s") ++
      Seq("spark.agg.partial_ms" -> "ms", "spark.agg.final_ms" -> "ms",
        "spark.agg.exchange_bytes" -> "bytes") ++
      Seq("stage.shuffle_write_bytes" -> "bytes", "stage.shuffle_read_bytes" -> "bytes",
        "stage.spill_bytes" -> "bytes", "stage.tasks" -> "count", "stage.task_p50_ms" -> "ms",
        "stage.task_max_ms" -> "ms", "stage.skew" -> "ratio", "stage.busy_ratio" -> "ratio",
        "stage.gc_ms" -> "ms", "stage.failed_tasks" -> "count") ++
      Seq("ops.ngram_s" -> "s", "ops.ngram.candidates" -> "count", "ops.ngram.pairs" -> "count",
        "ops.ngram.yield" -> "ratio", "ops.minhash_s" -> "s",
        "ops.minhash.candidates" -> "count", "ops.minhash.pairs" -> "count",
        "ops.minhash.yield" -> "ratio", "ops.cc_s" -> "s", "ops.cc.components" -> "count",
        "ops.bloomjoin_s" -> "s", "ops.bloomjoin.pass_ratio" -> "ratio",
        "ops.bloomjoin.fp" -> "count") ++
      Seq("jobs.build_s" -> "s", "jobs.parts_bytes" -> "bytes", "jobs.rollup_s" -> "s",
        "jobs.probe_bank_s" -> "s") ++
      Seq("data.scan_s" -> "s", "data.input_bytes" -> "bytes", "data.gen_s" -> "s") ++
      Seq("trace.overhead" -> "ratio", "trace.round_ms" -> "ms") ++
      Seq("round", "jobs", "ops", "data", "spark_job", "spark_stage")
        .map(l => s"self.${l}_ms" -> "ms")
}
