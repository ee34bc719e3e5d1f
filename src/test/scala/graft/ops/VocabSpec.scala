package graft.ops

import org.apache.spark.sql.{functions => F}

import graft.spark.SparkTestBase

/** Vocab (adjacent-pair counting for BPE-style vocabulary induction). */
class VocabSpec extends SparkTestBase {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"
  private lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()

  test("pairCounts by hand: ordered pairs, short docs contribute nothing") {
    val df = Seq(
      "a b a b c",  // pairs: (a,b) x2, (b,a), (b,c)
      "a",          // single token: nothing
      "",           // empty: nothing
      "b  c"        // double space collapses: (b,c)
    ).toDF("text")
    val got = Vocab.pairCounts(df, "text").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === Map(
      ("a", "b") -> 2L, ("b", "a") -> 1L, ("b", "c") -> 2L))
  }

  test("pairCounts equals the sliding-window brute force on the corpus") {
    val brute = docs.select(Tokenizer.space(F.col("text")).as("t"))
      .as[Seq[String]].collect()
      .flatMap(t => t.zip(t.drop(1)))
      .groupBy(identity).map { case (p, xs) => (p, xs.length.toLong) }
    val got = Vocab.pairCounts(docs, "text").collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    assert(got === brute)
    // total pair mass = sum over docs of max(n_tokens - 1, 0)
    val mass = docs.select(F.sum(F.greatest(
      F.size(Tokenizer.space(F.col("text"))) - 1, F.lit(0))))
      .collect()(0).getLong(0)
    assert(got.values.sum === mass)
  }

  test("bpeTrain matches an independent regex-based BPE reference") {
    // independent reference: words as space-joined symbol strings,
    // merges applied by whole-token regex replacement (Sennrich-style)
    def refBpe(wordFreq: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
      var words = wordFreq.map { case (w, c) =>
        ((w.map(_.toString) :+ "</w>").mkString(" "), c) }.toSeq
      val out = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to k) {
        val counts = words.flatMap { case (s, c) =>
          val t = s.split(" ")
          t.zip(t.drop(1)).map(p => (p, c))
        }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          out += ((l, r, c))
          val pat = ("(?<!\\S)" + java.util.regex.Pattern.quote(l) + " " +
            java.util.regex.Pattern.quote(r) + "(?!\\S)").r
          words = words.map { case (s, c2) =>
            (pat.replaceAllIn(s, java.util.regex.Matcher.quoteReplacement(l + r)), c2)
          }
        }
      }
      out.result()
    }
    val corpus = Seq(
      "low low low low low",
      "lower lower",
      "newest newest newest newest newest newest",
      "widest widest widest").zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val freq = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)
    val expected = refBpe(freq, 10)
    val got = Vocab.bpeTrain(corpus, "text", numMerges = 10)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got === expected)
  }

  test("bpeTrain matches the reference at 1,000 merges (VERDICT r4 next #5)") {
    // the incremental pair accounting's correctness claim is that counts
    // after each merge equal a full recount — a 10-merge check cannot
    // distinguish a stale-index bug that only bites once fusions chain
    // deep, so this drives 1,000 merges over 400 distinct pseudo-words
    // (deterministic lengths 3-10, Zipf-ish frequencies with heavy ties)
    // against the full-recount regex reference
    def refBpe(wordFreq: Map[String, Long], k: Int): Seq[(String, String, Long)] = {
      var words = wordFreq.map { case (w, c) =>
        ((w.map(_.toString) :+ "</w>").mkString(" "), c) }.toSeq
      val out = Seq.newBuilder[(String, String, Long)]
      for (_ <- 1 to k) {
        val counts = words.flatMap { case (s, c) =>
          val t = s.split(" ")
          t.zip(t.drop(1)).map(p => (p, c))
        }.groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
        if (counts.nonEmpty) {
          val ((l, r), c) = counts.minBy { case ((a, b), n) => (-n, a, b) }
          out += ((l, r, c))
          val pat = ("(?<!\\S)" + java.util.regex.Pattern.quote(l) + " " +
            java.util.regex.Pattern.quote(r) + "(?!\\S)").r
          words = words.map { case (s, c2) =>
            (pat.replaceAllIn(s, java.util.regex.Matcher.quoteReplacement(l + r)), c2)
          }
        }
      }
      out.result()
    }
    val freq: Map[String, Long] = (0 until 400)
      .map(i => graft.data.DocCorpusGen.word(i) -> (1L + (i * 7919) % 50))
      .toMap
    // bpeTrain sees only token frequencies, so a one-row-per-word corpus
    // with the word repeated c times carries exactly this distribution
    val corpus = freq.toSeq.sortBy(_._1).zipWithIndex.map { case ((w, c), i) =>
      (i.toLong, Seq.fill(c.toInt)(w).mkString(" "))
    }.toDF("doc_id", "text")
    val k = 1000
    val expected = refBpe(freq, k)
    assert(expected.length === k, "reference exhausted early — corpus too small")
    val got = Vocab.bpeTrain(corpus, "text", numMerges = k)
      .orderBy("rank").collect()
      .map(r => (r.getString(1), r.getString(2), r.getLong(3))).toSeq
    assert(got.length === k)
    // first mismatch (if any) reported with its rank, not a 1000-line diff
    got.zip(expected).zipWithIndex.foreach { case ((g, e), i) =>
      assert(g === e, s"first divergence at merge rank ${i + 1}")
    }
  }

  test("bpeTrain on the corpus: deterministic, first merge = argmax char pair") {
    val k = 8
    val a = Vocab.bpeTrain(docs, "text", k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    val b = Vocab.bpeTrain(docs, "text", k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(a.toSeq === b.toSeq)
    assert(a.length === k)
    // counts never increase with rank beyond ties created by merges is
    // NOT an invariant (a merge can create a more frequent pair), but
    // the first merge must be the argmax over raw adjacent char pairs
    val charPairs = docs.select($"text").as[String].collect()
      .flatMap(_.split(" ").filter(_.nonEmpty))
      .flatMap { w =>
        val s = w.map(_.toString) :+ "</w>"
        s.zip(s.drop(1))
      }.groupBy(identity).map { case (p, xs) => (p, xs.length.toLong) }
    val ((el, er), ec) = charPairs.minBy { case ((x, y), n) => (-n, x, y) }
    assert((a(0)._2, a(0)._3, a(0)._4) === ((el, er, ec)))
    // the cap keeps the most frequent words: a tiny cap still trains
    val capped = Vocab.bpeTrain(docs, "text", 3, maxDistinctWords = 50).collect()
    assert(capped.length === 3)
  }

  test("applyBpe: hand-checked encode, lossless round-trip, monotone in merges") {
    // hand case: chained merges collapse a whole word
    assert(Vocab.encodeWord("low",
      Map(("l", "o") -> 0, ("lo", "w") -> 1)).toSeq === Seq("low", "</w>"))
    // unknown word: untouched characters + terminal
    assert(Vocab.encodeWord("zq", Map(("l", "o") -> 0)).toSeq ===
      Seq("z", "q", "</w>"))
    val corpus = docs.select($"doc_id", $"text")
    val local = corpus.as[(Long, String)].collect().toMap
    for (k <- Seq(1, 10)) {
      val merges = Vocab.bpeTrain(corpus, "text", k).orderBy("rank")
        .collect().map(r => (r.getString(1), r.getString(2)))
      val enc = Vocab.applyBpe(corpus, "doc_id", "text", merges)
        .collect().map(r => (r.getLong(0), r.getSeq[String](1), r.getLong(2)))
      enc.foreach { case (id, subs, n) =>
        assert(n === subs.length.toLong)
        // subwords rebuild the original token stream exactly
        val rebuilt = subs.mkString.replace("</w>", " ").trim
        val orig = local(id).split(" ").filter(_.nonEmpty).mkString(" ")
        assert(rebuilt === orig, s"doc $id at k=$k")
      }
    }
    // more merges never increase the subword count
    val m20 = Vocab.bpeTrain(corpus, "text", 20).orderBy("rank")
      .collect().map(r => (r.getString(1), r.getString(2)))
    val n1 = Vocab.applyBpe(corpus, "doc_id", "text", m20.take(1))
      .agg(F.sum("n_subwords")).head().getLong(0)
    val n20 = Vocab.applyBpe(corpus, "doc_id", "text", m20)
      .agg(F.sum("n_subwords")).head().getLong(0)
    assert(n20 <= n1)
  }

  test("topPairs takes the k most frequent with a deterministic tie cut") {
    val full = Vocab.pairCounts(docs, "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val expected = full.sortBy { case (w1, w2, c) => (-c, w1, w2) }.take(10)
    val got = Vocab.topPairs(docs, "text", 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got === expected.toSeq)
    // the plan is TakeOrdered, not a global sort
    val plan = Vocab.topPairs(docs, "text", 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
  }

  test("wordVocab frequency cut and oovReport per-doc coverage") {
    val corpus = Seq(
      (1L, "a a a b b c"),
      (2L, "a b x"),
      (3L, "")).toDF("doc_id", "text")
    // freqs: a:4 b:3 c:1 x:1 -> top-2 = {a, b}; c/x tie broken by token asc
    val v2 = Vocab.wordVocab(corpus, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(v2 === Seq(("a", 4L), ("b", 3L)))
    val v3 = Vocab.wordVocab(corpus, "text", 3).collect().map(_.getString(0)).toSeq
    assert(v3 === Seq("a", "b", "c"))
    // vocab cut compiles to TakeOrdered, never a global sort
    val plan = Vocab.wordVocab(corpus, "text", 2).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))

    val rep = Vocab.oovReport(corpus, "doc_id", "text",
        Vocab.wordVocab(corpus, "text", 2))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    // doc1: 6 tokens, 1 oov (c); doc2: 3 tokens, 1 oov (x); doc3 (empty)
    // has no token rows and drops out
    assert(rep === Seq((1L, 6L, 1L, 1.0 / 6), (2L, 3L, 1L, 1.0 / 3)))

    // the vocabulary join is a broadcast (the token stream never shuffles
    // on token)
    val repPlan = Vocab.oovReport(corpus, "doc_id", "text",
      Vocab.wordVocab(corpus, "text", 2)).queryExecution.executedPlan.toString
    assert(repPlan.contains("BroadcastHashJoin"), repPlan.take(400))
  }
}
