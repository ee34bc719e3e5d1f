package graft.ops

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.expressions.Window

import graft.spark.SparkTestBase

/** Sequencing (chunking + two-level prefix scan + packing) and Redact
  * (pattern scrubbing) over the driver's documents table plus
  * constructed edge cases.
  */
class SequencingSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("chunk with stride == window partitions the token stream exactly") {
    val out = Sequencing.chunk(docs, "doc_id", "text", window = 32, stride = 32)
    // reassembling the chunks in order reproduces the tokenized document
    val reassembled = out.groupBy("doc_id")
      .agg(F.concat_ws(" ", F.array_sort(F.collect_list(
        F.struct(F.col("chunk_idx"), F.col("chunk_text"))))
        .getField("chunk_text")).as("rebuilt"),
        F.sum("n_tokens").as("total"))
    val expected = docs.select(F.col("doc_id"),
      F.concat_ws(" ", Tokenizer.space(F.col("text"))).as("orig"),
      F.size(Tokenizer.space(F.col("text"))).cast("long").as("n"))
    val joined = reassembled.join(expected, "doc_id")
    assert(joined.filter(F.col("rebuilt") =!= F.col("orig")).count() === 0)
    assert(joined.filter(F.col("total") =!= F.col("n")).count() === 0)
    // non-empty docs all produce ceil(n/32) chunks
    val bad = joined.join(
      out.groupBy("doc_id").agg(F.count(F.lit(1)).as("n_chunks")), "doc_id")
      .filter(F.col("n_chunks") =!= F.ceil(F.col("n") / F.lit(32.0)).cast("long"))
    assert(bad.count() === 0)
  }

  test("chunk with overlap: consecutive full chunks share window-stride tokens") {
    val (w, s) = (24, 16)
    val out = Sequencing.chunk(docs, "doc_id", "text", w, s).cache()
    val a = out.select(F.col("doc_id"), F.col("chunk_idx"),
      F.split(F.col("chunk_text"), " ").as("toks"), F.col("n_tokens"))
    val pairs = a.as("x").join(a.as("y"),
      F.col("x.doc_id") === F.col("y.doc_id") &&
        F.col("y.chunk_idx") === F.col("x.chunk_idx") + 1)
      .filter(F.col("x.n_tokens") === w) // x is a full chunk
    val mismatched = pairs.filter(
      F.slice(F.col("x.toks"), s + 1, w - s) =!=
        F.slice(F.col("y.toks"), 1, w - s))
    assert(pairs.count() > 0)
    assert(mismatched.count() === 0)
    out.unpersist()
  }

  test("chunk edges: empty text drops, short doc yields one whole-doc chunk") {
    val edge = Seq((1L, ""), (2L, "   "), (3L, "just five little words here"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val out = Sequencing.chunk(edge, "doc_id", "text", window = 64, stride = 48)
      .collect()
    assert(out.length === 1)
    assert(out(0).getAs[Long]("doc_id") === 3L)
    assert(out(0).getAs[Long]("chunk_idx") === 0L)
    assert(out(0).getAs[String]("chunk_text") === "just five little words here")
    assert(out(0).getAs[Long]("n_tokens") === 5L)
  }

  test("prefixSum equals the single-partition window under any bucketing") {
    val vals = docs.select(F.col("doc_id"),
      F.size(Tokenizer.space(F.col("text"))).cast("long").as("v"))
    val expected = vals.withColumn("cum",
      F.sum("v").over(Window.orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("doc_id", "cum")
    for (width <- Seq(1L, 7L, 100L, 1000000L);
         parts <- Seq(1, 5)) {
      val got = Sequencing.prefixSum(vals.repartition(parts), "doc_id", "v",
        F.floor(F.col("doc_id") / width).cast("long"))
        .select("doc_id", "cum")
      assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
        s"prefixSum diverges at width=$width parts=$parts")
    }
  }

  test("packSequences: offsets are the exclusive running total, bins contiguous") {
    val vals = docs.select(F.col("doc_id"),
      F.size(Tokenizer.space(F.col("text"))).as("n_tokens"))
    val out = Sequencing.packSequences(vals, "doc_id", "n_tokens",
      capacity = 512, bucketWidth = 37).cache()
    val rows = out.orderBy("doc_id").collect()
    var cum = 0L
    rows.foreach { r =>
      assert(r.getAs[Long]("start_offset") === cum,
        s"offset mismatch at doc ${r.getAs[Long]("doc_id")}")
      assert(r.getAs[Long]("bin") === cum / 512)
      cum += r.getAs[Long]("n_tokens")
    }
    // bucketWidth must not change the result
    val other = Sequencing.packSequences(vals, "doc_id", "n_tokens",
      capacity = 512, bucketWidth = 9999)
    assert(out.exceptAll(other).isEmpty && other.exceptAll(out).isEmpty)
    // bins cover 0..maxBin with no gaps (contiguous packing)
    val bins = out.select("bin").distinct().orderBy("bin").as[Long].collect()
    assert(bins.toSeq === (0L to bins.max).toSeq)
    out.unpersist()
  }

  test("packSequences on an empty input yields no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens")
    assert(Sequencing.packSequences(empty, "doc_id", "n_tokens", 512).count() === 0)
  }

  test("groupedRank equals a per-group row_number window at every sub-bucket width") {
    // skewed groups: group 0 owns most rows (the hot length bucket)
    val df = (0L until 2000L).map { i =>
      (i, if (i % 10 < 8) 0L else i % 10) }.toDF("id", "g")
    val expected = df.withColumn("rk", F.row_number().over(
      Window.partitionBy("g").orderBy("id")))
      .select("id", "rk").collect().map(r => (r.getLong(0), r.getInt(1).toLong)).toMap
    for (w <- Seq(1L, 7L, 100L, 100000L)) {
      val got = Sequencing.groupedRank(df, Seq("g"), "id",
        (F.col("id") / F.lit(w)).cast("long"), rankCol = "rk")
      val gm = got.select("id", "rk").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(gm === expected, s"width $w")
    }
  }

  test("lengthBucketedBatches: batch layout and padding fractions by hand") {
    // bucket width 10, batch size 2. lengths: bucket 0 holds ids 1,2,3
    // (len 4, 9, 5) -> batches [(1,2)],[(3)]; bucket 1 holds ids 4,5
    // (len 12, 17) -> batch [(4,5)]
    val df = Seq((1L, 4L), (2L, 9L), (3L, 5L), (4L, 12L), (5L, 17L))
      .toDF("doc_id", "nt")
    val out = Sequencing.lengthBucketedBatches(df, "doc_id", "nt",
      bucketWidth = 10, batchSize = 2)
      .orderBy("bucket", "batch_idx").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4))).toSeq === Seq(
      (0L, 0L, 2L, 9L, 13L), // ids 1,2: max 9, sum 13
      (0L, 1L, 1L, 5L, 5L), // id 3 alone: no padding
      (1L, 0L, 2L, 17L, 29L))) // ids 4,5
    val fracs = out.map(_.getDouble(5))
    assert(fracs(0) === 1.0 - 13.0 / 18.0)
    assert(fracs(1) === 0.0)
    assert(fracs(2) === 1.0 - 29.0 / 34.0)
  }

  test("bucketing bounds padding: per-batch padding never crosses bucketWidth") {
    val out = Sequencing.lengthBucketedBatches(
      docs.select(F.col("doc_id"),
        F.size(Tokenizer.space(F.col("text"))).as("nt")),
      "doc_id", "nt", bucketWidth = 16, batchSize = 8,
      idSubBucketWidth = 100L)
    // within a batch, max - min < bucketWidth by construction, so the
    // per-sequence padding is < bucketWidth tokens
    val bad = out.filter(
      F.col("max_tokens") * F.col("n_seqs") - F.col("sum_tokens") >=
        F.lit(16L) * F.col("n_seqs")).count()
    assert(bad === 0L)
    // every sequence is in exactly one batch
    assert(out.agg(F.sum("n_seqs")).collect()(0).getLong(0) === docs.count())
  }

  test("epochShuffle is a permutation, width-independent, and matches a plain window") {
    val ids = docs.select(F.col("doc_id"))
    val key = (F.col("doc_id") * F.lit(48271L) + F.lit(99L)) % F.lit(2147483647L)
    val expected = ids.withColumn("__k", key)
      .withColumn("position", F.row_number().over(
        Window.orderBy(F.col("__k"), F.col("doc_id"))).cast("long") - 1L)
      .select("doc_id", "position").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    for (w <- Seq(1L, 1L << 10, 1L << 16, 1L << 40)) {
      val out = Sequencing.epochShuffle(ids, "doc_id", key,
        numShards = 4, keyBucketWidth = w)
      val rows = out.collect()
      val got = rows.map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got === expected, s"width $w")
      // shard arithmetic consistent with position
      assert(rows.forall(r => r.getLong(2) == r.getLong(1) % 4 &&
        r.getLong(3) == r.getLong(1) / 4), s"width $w")
    }
    // positions are exactly 0..n-1 (a permutation, no gaps/dups)
    val n = ids.count()
    assert(expected.values.toSeq.sorted === (0L until n))
  }

  test("epochShuffle handles signed keys (raw murmur-style) without dropping rows") {
    val df = Seq(1L, 2L, 3L, 4L, 5L).toDF("id")
    // a key expression that goes negative
    val out = Sequencing.epochShuffle(df, "id",
      F.col("id") * F.lit(-7L) + F.lit(3L), numShards = 2, keyBucketWidth = 1L << 20)
    val pos = out.collect().map(_.getLong(1)).sorted
    assert(pos.toSeq === (0L until 5L))
  }

  test("Redact scrubs planted PII, counts from the original, and is idempotent") {
    val rows = Seq(
      (1L, "reach me at a.b+tag@mail-host.example.org or 415-555-0199 thanks"),
      (2L, "two mails x@y.io and w.z@q.co plus 212-555-0100 and 646-555-0101"),
      (3L, "clean text with no secrets at all"),
      (4L, "not-a-mail @ nothing and 12-345-6789 is not a phone"))
      .toDF("doc_id", "text")
    val out = Redact.scrub(rows, "text").orderBy("doc_id").collect()
    assert(out(0).getAs[String]("scrubbed_text") ===
      "reach me at <EMAIL> or <PHONE> thanks")
    assert(out(0).getAs[Long]("n_email") === 1L)
    assert(out(0).getAs[Long]("n_phone") === 1L)
    assert(out(1).getAs[Long]("n_email") === 2L)
    assert(out(1).getAs[Long]("n_phone") === 2L)
    assert(out(2).getAs[String]("scrubbed_text") ===
      "clean text with no secrets at all")
    assert(out(2).getAs[Long]("n_email") === 0L)
    assert(out(3).getAs[Long]("n_email") === 0L)
    assert(out(3).getAs[Long]("n_phone") === 0L)
    // idempotent: scrubbing the scrubbed output finds nothing new
    val again = Redact.scrub(
      rows.select(F.col("doc_id")).join(
        Redact.scrub(rows, "text").select("doc_id", "scrubbed_text"), "doc_id"),
      "scrubbed_text", scrubbedCol = "s2")
    assert(again.agg(F.sum("n_email"), F.sum("n_phone")).collect()(0)
      .toSeq.map(_.asInstanceOf[Long]).sum === 0L)
  }
}
