package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** The size-adaptive severed shingle index (round-20 optimization)
  * must be a pure materialization choice: forcing the severed (big-
  * corpus) path and the recompute (small-corpus) path must produce the
  * identical pair set — including the per-doc set sizes, which both
  * paths derive from the index group-count. */
class SeverAdaptiveSpec extends AnyFunSuite {
  import SharedSpark._

  private val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def pairsWithThreshold(bytes: Long,
      docs: org.apache.spark.sql.DataFrame = docs): Array[(Long, Long, Double)] = {
    spark.conf.set(Dedup.SeverIndexBytesKey, bytes.toString)
    try {
      Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
        .orderBy(col("doc_a"), col("doc_b"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    } finally {
      spark.conf.unset(Dedup.SeverIndexBytesKey)
      graft.util.IntermediateCaches.releaseAll(blocking = true)
    }
  }

  test("severed index path == recompute path (jaccard pairs + values)") {
    val severed = pairsWithThreshold(0L)            // always sever
    val recomputed = pairsWithThreshold(Long.MaxValue)  // never sever
    assert(severed.nonEmpty, "fixture corpus must contain near-dup pairs")
    assert(severed.sameElements(recomputed))
  }

  test("severed and recompute paths agree when two rows share a doc_id") {
    import spark.implicits._
    // doc 1 appears twice with different texts; its first text is a
    // near-duplicate of doc 2
    val dup = Seq(
      1L -> "alpha beta gamma delta epsilon zeta eta theta iota kappa",
      2L -> "alpha beta gamma delta epsilon zeta eta theta iota lambda",
      1L -> "red green blue",
      3L -> "one two three four five").toDF("doc_id", "text")
    val severed = pairsWithThreshold(0L, dup)
    val recomputed = pairsWithThreshold(Long.MaxValue, dup)
    assert(severed.nonEmpty, "the fixture must contain a near-dup pair")
    assert(severed.sameElements(recomputed),
      s"severed ${severed.toSeq} vs recomputed ${recomputed.toSeq}")
  }

  test("winnowRecall row identical under both sever modes") {
    def run(bytes: Long) = {
      spark.conf.set(Dedup.SeverIndexBytesKey, bytes.toString)
      try graft.queries.LlmOps.winnowRecall(spark, "/root/testdata/sf0.001")
        .collect().map(_.toString).toSeq
      finally {
        spark.conf.unset(Dedup.SeverIndexBytesKey)
        graft.util.IntermediateCaches.releaseAll(blocking = true)
      }
    }
    assert(run(0L) == run(Long.MaxValue))
  }

  test("a malformed severIndexBytes fails naming the key and the bad value") {
    spark.conf.set(Dedup.SeverIndexBytesKey, "4MB")
    try {
      val e = intercept[IllegalArgumentException](
        Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5))
      assert(e.getMessage.contains(Dedup.SeverIndexBytesKey) &&
        e.getMessage.contains("'4MB'"), e.getMessage)
    } finally spark.conf.unset(Dedup.SeverIndexBytesKey)
  }
}
