package graft.ops

import org.apache.spark.sql.{functions => F}
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty

import graft.spark.SparkTestBase

/** Properties of the tokenizer rules over text mixing every character
  * class the rules treat differently: ASCII whitespace (space, tab,
  * newline, U+000B, form feed, CR), C0 controls, non-ASCII spaces
  * (U+00A0, U+2003) and CJK. The synthetic corpus holds none of these
  * outside single spaces, so only generated text reaches the edges where
  * two rules could silently disagree.
  */
class TokenizerSpec extends SparkTestBase {
  import spark.implicits._

  private val separators = Seq(" ", "  ", "\t", "\n", "\u000B", "\f", "\r", "\r\n", " \t ")
  private val oddChars = Seq("\u0001", "\u001F", "\u00A0", "\u2003")
  private val words = Seq("a", "b", "c", "dd", "\u4E2D\u6587")

  /** Words from a small vocabulary (so generated pairs share shingles)
    * joined by separator runs, with optional separators at both edges
    * and control or non-ASCII space characters glued into words. */
  private val text: Gen[String] = for {
    n <- Gen.choose(0, 9)
    ws <- Gen.listOfN(n, Gen.frequency(4 -> Gen.oneOf(words),
      1 -> Gen.zip(Gen.oneOf(words), Gen.oneOf(oddChars)).map { case (w, c) => w + c }))
    seps <- Gen.listOfN(n + 1, Gen.frequency(3 -> Gen.const(" "), 2 -> Gen.oneOf(separators),
      1 -> Gen.const("")))
  } yield seps.head + ws.zip(seps.tail).map { case (w, s) => w + s }.mkString

  /** A pair of texts: independent, or the same words re-joined with other
    * separators (a true Jaccard-1.0 twin under whitespace tokenization). */
  private val textPair: Gen[(String, String)] = Gen.oneOf(
    Gen.zip(text, text),
    text.flatMap { a =>
      Gen.listOfN(a.length, Gen.oneOf(separators)).map { seps =>
        val toks = Tokenizer.whitespace(a)
        (a, toks.zip(seps).map { case (t, s) => t + s }.mkString)
      }
    })

  private def check(minSuccessful: Int)(prop: Prop): Unit = {
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(minSuccessful)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, Pretty.pretty(res))
  }

  test("Tokenizer.whitespace is Java trim + split on \\s+ (empty for blank text)") {
    check(2000)(Prop.forAll(text) { s =>
      val t = s.trim
      val ref = if (t.isEmpty) Seq.empty[String] else t.split("\\s+").toSeq
      Tokenizer.whitespace(s).toSeq == ref
    })
    assert(Tokenizer.whitespace(" \t\n").isEmpty)
    assert(Tokenizer.whitespace("\u0001 a\tb \u001F").toSeq === Seq("a", "b"))
    assert(Tokenizer.whitespace("a\u00A0b\u2003c").toSeq === Seq("a\u00A0b\u2003c"))
  }

  test("Tokenizer.space: the String form equals the Column form evaluated by Spark") {
    check(5)(Prop.forAll(Gen.listOfN(200, text)) { texts =>
      val got = texts.toDF("text").select(Tokenizer.space(F.col("text")))
        .collect().map(_.getSeq[String](0))
      got.toSeq == texts.map(s => Tokenizer.space(s).toSeq)
    })
    assert(Tokenizer.space("  a\tb  c ").toSeq === Seq("a\tb", "c"))
  }

  test("hashed minhash verify Jaccard equals jaccardShingles on any whitespace") {
    // the verify's arithmetic (Dedup.minhashLshPairs): intersection and
    // union sizes of the two distinct hash arrays, 1.0 when both are empty
    def hashedJaccard(a: String, b: String): Double = {
      val ha = TextOps.shingleHashes(a, 3, tokenFallback = true)
      val hb = TextOps.shingleHashes(b, 3, tokenFallback = true)
      val i = ha.toSet.intersect(hb.toSet).size
      val u = ha.length + hb.length - i
      if (u == 0) 1.0 else i.toDouble / u
    }
    check(2000)(Prop.forAll(textPair) { case (a, b) =>
      hashedJaccard(a, b) == TextOps.jaccardShingles(a, b, 3)
    })
    assert(hashedJaccard("a b c d e f", "a\tb c d e f") === 1.0)
  }

  test("minhashLshPairs keeps a tab/space twin pair at its true Jaccard 1.0") {
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a\tb c d e f"),
      (3L, "x y z w v u")).toDF("doc_id", "text")
    val out = Dedup.minhashLshPairs(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out === Seq((1L, 2L, 1.0)))
  }
}
