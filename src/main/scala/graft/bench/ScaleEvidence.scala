package graft.bench

import java.nio.file.{Files, Paths}

import graft.data.DocCorpusGen
import graft.jobs.JobSession

/** Scale-evidence harness (VERDICT r4 "Next round #1"): DocCorpusGen
  * corpora at 1x and >=10x the sf0.1 row counts, over which
  * `Probe time` runs the heavy dedup/CC/ANN driver keys unmodified
  * (bench/scale_evidence.sh), so the growth claim in BENCH.md is
  * measured, not asserted.
  *
  * Modes:
  *   --mode gen --out DIR --docs N --vecs N [--hot-permille P]
  *     synthesize a corpus
  *   --mode embed --dir DIR [--srp-bits B] [--cores C] [--json OUT]
  *     embedding near-dup at a chosen SRP width, with [[Collector]] metrics
  *   --mode bpe --dir DIR [--merges M] [--cores C] [--json OUT]
  *     the BPE trainer's wall time and driver RSS
  */
object ScaleEvidence {

  def main(args: Array[String]): Unit = {
    val argMap = JobSession.flags(args, "--mode", "--out", "--docs", "--vecs", "--hot-permille",
      "--dir", "--srp-bits", "--merges", "--cores", "--json")
    val cores = argMap.get("--cores").map(_.toInt)
    argMap.get("--mode") match {
      case Some("gen") =>
        val out = argMap("--out")
        val nDocs = argMap.getOrElse("--docs", "50000").toLong
        val nVecs = argMap.getOrElse("--vecs", "20000").toLong
        val hot = argMap.getOrElse("--hot-permille", "0").toInt
        if (Files.exists(Paths.get(out))) {
          // same doctrine as ScalingBench: a silent skip mislabels evidence
          System.err.println(s"[scale] corpus at $out exists — REUSING; " +
            s"--docs $nDocs/--vecs $nVecs NOT applied (delete to regenerate)")
        } else {
          val spark = session("graft-scale-evidence", cores)
          try DocCorpusGen.write(spark, out, seed = 42L, nDocs, nVecs, hot)
          finally spark.stop()
        }

      // embedding near-dup at a chosen SRP width: the driver query pins
      // srpBits=12, which saturates once bucket population ~ cluster
      // size (the r5 M=100 run: 400k clustered vectors made 12-bit
      // buckets quadratic and the JVM died) — the scale path grows
      // srpBits with log2(n), and this mode measures it.
      case Some("embed") =>
        val dir = argMap("--dir")
        val bits = argMap.getOrElse("--srp-bits", "20").toInt
        val spark = session("graft-scale-evidence", cores)
        val collector = new Collector
        spark.sparkContext.addSparkListener(collector)
        try {
          import org.apache.spark.sql.{functions => F}
          val embs = spark.read.parquet(s"$dir/embeddings.parquet")
          val jittered = embs.select((F.col("vec_id") + 100000000L).as("vec_id"),
            F.transform(F.col("embedding"), x => x * F.lit(1.0001f)).as("embedding"))
          val corpus = embs.select(F.col("vec_id"), F.col("embedding"))
            .unionAll(jittered)
          val (rows, metrics) = collector.pass(graft.ops.Dedup.embeddingDupPairs(
            corpus, "vec_id", "embedding", threshold = 0.999, srpBits = bits).count())
          emit(s"""{"query":"embedding_near_dups_srp$bits","dir":"$dir",""" +
            s""""cores":${spark.sparkContext.defaultParallelism},"rows":$rows,"cold":$metrics}""",
            argMap.get("--json"))
        } finally spark.stop()

      // BPE trainer at a realistic vocabulary scale (VERDICT r4 next #5):
      // wall time, merges produced, and driver RSS at the word-freq cap —
      // the one driver-heavy loop in main, so its memory footprint is
      // evidence, not a docstring claim.
      case Some("bpe") =>
        val dir = argMap("--dir")
        val merges = argMap.getOrElse("--merges", "5000").toInt
        val spark = session("graft-scale-evidence", cores)
        try {
          val docs = spark.read.parquet(s"$dir/documents.parquet")
          val nDocs = docs.count()
          val t0 = System.nanoTime()
          val out = graft.ops.Vocab.bpeTrain(docs, "text", merges)
          val produced = out.count()
          val sec = (System.nanoTime() - t0) / 1e9
          val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
            .find(_.startsWith("VmRSS:"))
            .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
          emit(s"""{"metric":"bpe_train","dir":"$dir","docs":$nDocs,""" +
            s""""merges_requested":$merges,"merges_produced":$produced,""" +
            s""""sec":${jfmt(sec, "%.2f")},"driver_rss_mb":${rssKb / 1024}}""",
            argMap.get("--json"))
        } finally spark.stop()

      case other => sys.error(s"--mode must be gen|embed|bpe, got $other")
    }
  }
}
