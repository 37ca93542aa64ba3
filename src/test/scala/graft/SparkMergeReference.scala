package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.text.{Bpe, WordPiece}

/** The per-round Spark merge learners that [[Bpe.learnMerges]] and
  * [[WordPiece.learnMerges]] replaced: every round is a pair-count
  * aggregation plus a 1-row argmax collect over a lazily severed
  * vocabulary frame, and the merge is the interpreted
  * [[Bpe.applyMerge]] fold. Kept as the reference the driver learners
  * are checked against (MergeLearnerParitySpec). */
object SparkMergeReference {

  def bpeLearnMerges(wordFreq: DataFrame, k: Int,
      wordCol: String = "word", freqCol: String = "freq",
      symsOf: Column => Column = Bpe.charSyms): Seq[(String, String, Long)] = {
    require(k >= 1, s"k must be >= 1: $k")
    var (vocab, release) = graft.util.Lineage.sever(
      wordFreq.select(symsOf(col(wordCol)).as("syms"),
        col(freqCol).cast("long").as("freq")), eager = false)
    // round r-1's release is deferred until round r's argmax has
    // materialized round r's severed frame (the argmax IS the
    // materializing job — no extra count pass per round; round r reads
    // round r-1's blocks, and release is destructive)
    var prevRelease: Option[Boolean => Unit] = None
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long)]()
    try {
      var round = 0
      var dry = false
      while (round < k && !dry) {
        val best = vocab
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("pf"))
          .orderBy(desc("pf"), asc("l"), asc("r"))
          .limit(1).collect()
        prevRelease.foreach(_(false))
        prevRelease = Some(release)
        if (best.isEmpty) dry = true
        else {
          val (l, r, pf) = (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
          merges += ((l, r, pf))
          val (next, releaseNext) = graft.util.Lineage.sever(
            vocab.select(Bpe.applyMerge(col("syms"), l, r).as("syms"), col("freq")),
            eager = false)
          vocab = next
          release = releaseNext
          round += 1
        }
      }
      merges.toSeq
    } finally {
      // on the dry-exit path prevRelease holds the SAME hook as
      // release — invoke each hook at most once (the WordPiece
      // learner's guard, applied to the identical pattern here)
      prevRelease.foreach(_(false))
      if (!prevRelease.exists(_ eq release)) release(false)
    }
  }

  def wordPieceLearnMerges(wordFreq: DataFrame, k: Int,
      wordCol: String = "word",
      freqCol: String = "freq"): Seq[(String, String, Long, Long)] = {
    require(k >= 1, s"k must be >= 1: $k")
    var (vocab, release) = graft.util.Lineage.sever(
      wordFreq.select(Bpe.charSyms(col(wordCol)).as("syms"),
        col(freqCol).cast("long").as("freq")), eager = false)
    // round r-1 releases only after round r's argmax materialized
    // round r's severed frame (the Bpe.learnMerges discipline)
    var prevRelease: Option[Boolean => Unit] = None
    val merges = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    try {
      var round = 0
      var dry = false
      while (round < k && !dry) {
        // current symbol unigram frequencies — alphabet+merges-sized,
        // broadcast onto the pair table (never the other way round)
        val symFreq = vocab
          .select(col("freq"), explode(col("syms")).as("sym"))
          .groupBy(col("sym")).agg(sum(col("freq")).as("f"))
        val best = vocab
          .filter(size(col("syms")) >= 2)
          .select(col("freq"), explode(
            transform(sequence(lit(1), size(col("syms")) - 1),
              i => struct(element_at(col("syms"), i).as("l"),
                element_at(col("syms"), i + lit(1)).as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("freq")).as("pf"))
          .join(broadcast(symFreq.select(col("sym").as("l"), col("f").as("fl"))), "l")
          .join(broadcast(symFreq.select(col("sym").as("r"), col("f").as("fr"))), "r")
          // exact Q40 quotient in DECIMAL(38,0): truncating integral
          // division, overflow-free at any corpus size
          .select(col("l"), col("r"), col("pf"),
            expr(s"CAST((CAST(pf AS DECIMAL(38,0)) * ${WordPiece.ScoreScale}) " +
              "div (CAST(fl AS DECIMAL(38,0)) * CAST(fr AS DECIMAL(38,0))) AS BIGINT)")
              .as("score"))
          .orderBy(desc("score"), asc("l"), asc("r"))
          .limit(1).collect()
        prevRelease.foreach(_(false))
        prevRelease = Some(release)
        if (best.isEmpty) dry = true
        else {
          val (l, r) = (best(0).getString(0), best(0).getString(1))
          merges += ((l, r, best(0).getLong(2), best(0).getLong(3)))
          val (next, releaseNext) = graft.util.Lineage.sever(
            vocab.select(Bpe.applyMerge(col("syms"), l, r).as("syms"), col("freq")),
            eager = false)
          vocab = next
          release = releaseNext
          round += 1
        }
      }
      merges.toSeq
    } finally {
      // on the dry-exit path prevRelease holds the SAME hook as
      // release — invoke each hook at most once rather than relying
      // on unpersist idempotency
      prevRelease.foreach(_(false))
      if (!prevRelease.exists(_ eq release)) release(false)
    }
  }
}
