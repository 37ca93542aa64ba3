package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables
import graft.text.{Bpe, Classify, WordPiece}
import graft.util.BoundedMemo

/** The corpus-keyed derivations that several gates share: learned
  * merge lists, a unigram census, trained classifiers, a domain-tier
  * table. Each entry runs its derivation at most once per
  * (dir, corpus fingerprint) while its memo holds the result, so the
  * gates consuming it pay for it once. Pure memoization of
  * deterministic derivations: results are identical with or without
  * the memo. The fingerprint in the key means a dir whose files are
  * regenerated within one JVM (spec temp dirs) is re-derived, never
  * served a stale value.
  *
  * [[graft.Bench]] clears every entry at the start of each suite pass
  * and times each as its own line item, named by the entry, before the
  * gates run: the per-pass clear keeps the derivation cost in every
  * pass's total, and the separate line item keeps it off whichever
  * gate happens to fault it in first. The bench-record freshness check
  * takes its expected names from [[all]], so a new derivation is one
  * new entry here. */
object SharedDerivations {

  /** Entry cap of each memo: values are dimension-sized and a
    * long-lived session touches a handful of corpora, so 8 keeps every
    * hot derivation resident while bounding a many-corpus session's
    * footprint (LRU eviction, see [[graft.util.BoundedMemo]]). */
  private final val MemoCap = 8

  /** One shared derivation: `name` is its bench line item, `derive`
    * computes the value for a corpus dir. */
  final class Entry[V] private[SharedDerivations] (val name: String,
      derive: (SparkSession, String) => V) {
    private val memo = new BoundedMemo[(String, Long), V](MemoCap)

    def apply(s: SparkSession, dir: String): V =
      memo.getOrElseUpdate((dir, corpusFingerprint(s, dir)), derive(s, dir))

    def clear(): Unit = memo.clear()
  }

  private def entry[V](name: String)(derive: (SparkSession, String) => V): Entry[V] =
    new Entry(name, derive)

  /** Cheap content fingerprint of `dir/documents.parquet`: a hash of
    * every constituent file's (name, length, modification time) from
    * one Hadoop listing — no data read. 0 when listing fails (the
    * subsequent read raises the real error). */
  private def corpusFingerprint(s: SparkSession, dir: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/documents.parquet")
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      val files: Seq[org.apache.hadoop.fs.FileStatus] =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).toSeq.sortBy(_.getPath.toString)
        else Seq(fs.getFileStatus(p))
      files.foldLeft(17L) { (acc, st) =>
        ((acc * 31L + st.getPath.getName.hashCode) * 31L +
          st.getLen) * 31L + st.getModificationTime
      }
    } catch { case _: java.io.IOException => 0L }

  /** Char-BPE merges (l, r, pair freq), shared by the t_bpe_* gates,
    * the WordPiece/BPE comparison and the tokenizer report. */
  val bpeMerges = entry("bpe_learn_shared") { (s, dir) =>
    Bpe.learnMerges(LlmOps.bpeWordFreq(s, dir), LlmOps.BpeMergeRounds)
  }

  /** Byte-level BPE merges over the whitespace census. */
  val bpeBytesMerges = entry("bpe_bytes_learn_shared") { (s, dir) =>
    Bpe.learnMerges(LlmOps.bpeWordFreq(s, dir), LlmOps.BpeBytesMergeRounds,
      symsOf = Bpe.byteSyms)
  }

  /** Byte-level BPE merges over the regex-pretokenized census. */
  val bpePretokMerges = entry("bpe_pretok_learn_shared") { (s, dir) =>
    Bpe.learnMerges(LlmOps.pretokWordFreq(s, dir), LlmOps.BpePretokMergeRounds,
      symsOf = Bpe.byteSyms)
  }

  /** WordPiece merges with the classified vocabulary derived from
    * them: encode and pack need both, learning only the merges. */
  val wordpiece = entry("wordpiece_learn_shared") { (s, dir) =>
    val merges = WordPiece.learnMerges(LlmOps.bpeWordFreq(s, dir), LlmOps.WpMergeRounds)
    val (initial, continuation) = LlmOps.wordpieceVocabs(s, dir,
      merges.map { case (l, r, _, _) => (l, r) })
    WordPieceVocab(merges, initial, continuation)
  }

  /** The unigram substring census (the corpus-bound half of unigram-LM
    * learning), shared by the five unigram gates and the report. */
  val unigramCensus = entry("unigram_learn_shared")(LlmOps.unigramCensusOf)

  /** The top-k-token perceptron, shared by its weights and holdout
    * gates and the streaming filter; trained on the non-holdout split. */
  val qclfModel = entry("quality_clf_learn_shared") { (s, dir) =>
    Classify.perceptronTrain(Tables.documents(s, dir).filter(!LlmOps.qclfHoldout),
      LlmOps.qclfLabel, LlmOps.QClfFeatures, LlmOps.QClfEpochs)
  }

  /** The hashed-n-gram perceptron's per-epoch weights. */
  val qclfNgWeights = entry("quality_clf_ng_learn_shared") { (s, dir) =>
    Classify.perceptronTrainHashed(Tables.documents(s, dir).filter(!LlmOps.qclfHoldout),
      LlmOps.qclfLabel, LlmOps.QClfNgBuckets, LlmOps.QClfEpochs)
  }

  /** The (domain, tier) table of the PageRank → rollup → ntile chain,
    * shared by the scheduler family; domain-sized, so it is collected
    * and re-enters each consumer as a broadcastable local frame. */
  val domainTiers = entry("tier_chain_shared") { (s, dir) =>
    LlmOps.domainTierTable(s, dir)._2.select(col("domain"), col("tier"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
  }

  /** Every entry, in bench order. Declared after the entries so it
    * sees each one initialized. */
  val all: Seq[Entry[_]] = Seq(bpeMerges, bpeBytesMerges, bpePretokMerges,
    wordpiece, unigramCensus, qclfModel, qclfNgWeights, domainTiers)

  /** The WordPiece derivation: merges (l, r, pair freq, Q40 score) and
    * the word-initial and continuation pieces of the encode vocabulary. */
  final case class WordPieceVocab(merges: Seq[(String, String, Long, Long)],
      initial: Seq[String], continuation: Seq[String])
}
