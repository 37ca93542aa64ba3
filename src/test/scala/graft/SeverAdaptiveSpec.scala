package graft

import org.scalatest.funsuite.AnyFunSuite

import NgramJaccardSpec.{bruteForce, pairs}

/** The repeated-`doc_id` case of `ngramJaccardPairs`. The spec once
  * compared the size-adaptive sever's two paths; one sever path is left,
  * so the severed index is checked against the shingle sets recomputed
  * on the driver from the raw rows, and against the exact value. */
class SeverAdaptiveSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  test("severed and recompute paths agree when two rows share a doc_id") {
    // doc 1 appears twice with different texts: its set is the union of
    // both rows' trigrams, 8 + 1 = 9, of which 7 are doc 2's (8 trigrams)
    val rows = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      1L -> "red green blue",
      3L -> "one two three four five")
    val severed = pairs(rows.toDF("doc_id", "text"), 0.5)
    val recomputed = bruteForce(rows).filter(_._3 >= 0.5).toSet
    assert(severed == recomputed,
      s"severed ${severed.toSeq} vs recomputed ${recomputed.toSeq}")
    assert(severed == Set((1L, 2L, 0.7)))
  }
}
