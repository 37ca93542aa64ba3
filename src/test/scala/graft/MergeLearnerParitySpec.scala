package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Bpe, WordPiece}

/** The driver merge learners return exactly the merge lists of the
  * per-round Spark learners they replaced ([[SparkMergeReference]]) —
  * pairs, pair frequencies and WordPiece Q40 scores — on generated
  * vocabularies built to hit every place the two could drift: UTF-8 vs
  * UTF-16 string order in the tie-break, frequency ties, overlapping
  * runs, empty / one-symbol / duplicate words, vocabularies that run
  * dry before k, and frequencies whose WordPiece products overflow a
  * Long. */
class MergeLearnerParitySpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  private def cp(c: Int) = new String(Character.toChars(c))

  /** U+E000..U+FFFF sort ABOVE supplementary characters in UTF-8 (and
    * code-point) order but BELOW them in UTF-16 order. */
  private val alphabet =
    Seq("a", "b", "é", cp(0xE000), cp(0xFF21), cp(0xFFFD), cp(0x10000), cp(0x1F600))

  private val genSym = Gen.oneOf(alphabet)

  private val genWord: Gen[String] = Gen.frequency(
    1 -> Gen.const(""),
    2 -> genSym,
    2 -> Gen.zip(Gen.choose(2, 5), genSym).map { case (n, s) => s * n },
    6 -> Gen.choose(2, 5).flatMap(n => Gen.listOfN(n, genSym).map(_.mkString)))

  /** Small frequencies tie often; ~2³¹ ones overflow fl·fr and pf·2⁴⁰. */
  private val genFreq: Gen[Long] = Gen.frequency(
    5 -> Gen.choose(1L, 3L),
    1 -> Gen.choose((1L << 31) - 2, (1L << 31) + 2))

  private val genCase: Gen[(List[(String, Long)], Int)] = for {
    n <- Gen.choose(1, 5)
    words <- Gen.listOfN(n, Gen.zip(genWord, genFreq))
    dup <- Gen.oneOf(false, true)
    k <- Gen.choose(1, 12)
  } yield (if (dup) words :+ words.head else words, k)

  private def check(seed: Long)(same: (List[(String, Long)], Int) => (Any, Any)): Unit = {
    val prop = Prop.forAllNoShrink(genCase) { case (wf, k) =>
      val (got, want) = same(wf, k)
      (got == want) :| s"k=$k wf=$wf\n driver: $got\n  spark: $want"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(seed)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("char BPE: driver learner == per-round Spark learner") {
    check(20261017L) { (wf, k) =>
      val df = wf.toDF("word", "freq")
      (Bpe.learnMerges(df, k), SparkMergeReference.bpeLearnMerges(df, k))
    }
  }

  test("byte BPE: driver learner == per-round Spark learner") {
    check(20261018L) { (wf, k) =>
      val df = wf.toDF("word", "freq")
      (Bpe.learnMerges(df, k, symsOf = Bpe.byteSyms),
        SparkMergeReference.bpeLearnMerges(df, k, symsOf = Bpe.byteSyms))
    }
  }

  test("WordPiece: driver learner == per-round Spark learner (pf and Q40 score)") {
    check(20261019L) { (wf, k) =>
      val df = wf.toDF("word", "freq")
      (WordPiece.learnMerges(df, k), SparkMergeReference.wordPieceLearnMerges(df, k))
    }
  }

  test("tie-break is UTF-8 byte order, not UTF-16 order") {
    // both pairs have frequency 1; U+1F600 precedes U+E000 as UTF-16
    // (a surrogate 0xD83D < 0xE000) but follows it as UTF-8/code point
    val wf = Seq((cp(0x1F600) + "a", 1L), (cp(0xE000) + "a", 1L)).toDF("word", "freq")
    val want = SparkMergeReference.bpeLearnMerges(wf, 1)
    assert(want.head._1 == cp(0xE000), s"$want")
    assert(Bpe.learnMerges(wf, 1) == want)
    assert(WordPiece.learnMerges(wf, 1) == SparkMergeReference.wordPieceLearnMerges(wf, 1))
  }

  test("k beyond the available merges returns the shorter list") {
    val wf = Seq(("aaaa", 2L), ("ab", 3L), ("", 7L), ("b", 5L)).toDF("word", "freq")
    val got = Bpe.learnMerges(wf, 50)
    assert(got.size < 50 && got == SparkMergeReference.bpeLearnMerges(wf, 50), s"$got")
    assert(WordPiece.learnMerges(wf, 50) == SparkMergeReference.wordPieceLearnMerges(wf, 50))
  }
}
