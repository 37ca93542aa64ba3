package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.{Bpe, WordPiece}

/** The merge learners' Spark cost does not grow with k: one collect of
  * the vocabulary, every round on the driver. And the vocabulary they
  * collect is bounded, with an error that says where to go instead. */
class MergeLearnerJobsSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  private def corpusWordFreq = Tables.documents(spark, sf0001)
    .select(explode(graft.text.tokens(col("text"))).as("word"))
    .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  test("learnMerges(wf, 1) and learnMerges(wf, 16) launch the same jobs, at most 2") {
    val wf = corpusWordFreq
    def pin(name: String, learn: Int => Int): Unit = {
      var n16 = 0
      val j1 = jobsOf(learn(1))
      val j16 = jobsOf { n16 = learn(16) }
      assert(n16 == 16, s"$name: the fixture must yield 16 merges")
      assert(j1 == j16 && j16 >= 1 && j16 <= 2, s"$name: k=1 $j1 jobs, k=16 $j16 jobs")
    }
    pin("char BPE", k => Bpe.learnMerges(wf, k).size)
    pin("byte BPE", k => Bpe.learnMerges(wf, k, symsOf = Bpe.byteSyms).size)
    pin("WordPiece", k => WordPiece.learnMerges(wf, k).size)
  }

  test("a vocabulary above the driver limit fails naming the limit and the sampled path") {
    val wf = Seq(("ab", 1L), ("cd", 2L), ("ef", 3L)).toDF("word", "freq")
    val e = intercept[IllegalArgumentException](
      Bpe.learnMergesCapped(wf, 4, "word", "freq", Bpe.charSyms, maxVocab = 2))
    assert(e.getMessage.contains("at most 2 distinct words") &&
      e.getMessage.contains("LlmOps.bpeLearnSampled"), e.getMessage)
    intercept[IllegalArgumentException](
      WordPiece.learnMergesCapped(wf, 4, "word", "freq", maxVocab = 2))
    // a vocabulary exactly at the limit learns
    assert(Bpe.learnMergesCapped(wf, 4, "word", "freq", Bpe.charSyms, maxVocab = 3) ==
      Seq(("e", "f", 3L), ("c", "d", 2L), ("a", "b", 1L)))
    assert(WordPiece.learnMergesCapped(wf, 4, "word", "freq", maxVocab = 3).size == 3)
  }
}
