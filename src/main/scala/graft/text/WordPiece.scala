package graft.text

import java.math.BigInteger

import org.apache.spark.sql.DataFrame

/** WordPiece tokenizer learning — the third production subword family
  * beside BPE ([[Bpe]]) and the unigram LM (Schuster & Nakajima 2012,
  * "Japanese and Korean voice search"; the BERT tokenizer): the merge
  * LOOP is byte-pair encoding's, but the pair to merge each round is
  * the one maximizing the training-corpus LIKELIHOOD gain, which for a
  * unigram language model reduces to the pair score
  *
  *   score(l, r) = freq(l r) / (freq(l) · freq(r))
  *
  * — the most-frequent pair RELATIVE to what independence predicts,
  * rather than BPE's raw pair frequency. Encoding afterwards is NOT
  * merge application but greedy longest-match-first with `##`
  * continuation pieces and a whole-word `[UNK]` fallback
  * ([[org.apache.spark.sql.graft.WordPieceTokens]]).
  *
  * Determinism (what makes the gates SQL-oracle-able): scores are
  * exact Q40 fixed-point integer quotients — (pf · 2⁴⁰) div (fl · fr)
  * computed in arbitrary precision so no corpus size can overflow (the
  * DuckDB oracle uses HUGEINT) — and division truncates toward zero
  * (all operands positive, so trunc = floor = DuckDB's `//`). The
  * argmax tie-break (score DESC, left ASC, right ASC — binary/UTF-8
  * collation in both engines) is total, and the merge fold is BPE's
  * greedy leftmost pass unchanged.
  *
  * Scale shape: identical to BPE learning — one collect fetches the
  * vocabulary's (symbols, freq) table (at most [[Bpe.MaxVocab]]
  * distinct words) and the rounds run in [[Bpe]]'s driver loop, which
  * recounts the symbol frequencies each round. */
object WordPiece {

  /** Q40 scale of the integer likelihood score. */
  val ScoreScale = 1099511627776L // 1L << 40

  /** Learn `k` likelihood-scored merges from a (word, freq) table.
    * Returns the ordered merge list (left, right, pairFreq, scoreQ40)
    * — shorter than `k` iff the vocabulary runs out of adjacent pairs
    * first. */
  def learnMerges(wordFreq: DataFrame, k: Int,
      wordCol: String = "word",
      freqCol: String = "freq"): Seq[(String, String, Long, Long)] =
    learnMergesCapped(wordFreq, k, wordCol, freqCol, Bpe.MaxVocab)

  /** [[learnMerges]] with an explicit vocabulary limit. */
  private[graft] def learnMergesCapped(wordFreq: DataFrame, k: Int,
      wordCol: String, freqCol: String,
      maxVocab: Int): Seq[(String, String, Long, Long)] = {
    require(k >= 1, s"k must be >= 1: $k")
    val (syms, freqs) = Bpe.collectVocab(wordFreq, wordCol, freqCol, Bpe.charSyms, maxVocab)
    Bpe.learnOnDriver(syms, freqs, k, Some(score(_, _, _)))
  }

  /** (pf · [[ScoreScale]]) div (fl · fr), exact. */
  private def score(pf: Long, fl: Long, fr: Long): Long =
    BigInteger.valueOf(pf).multiply(BigInteger.valueOf(ScoreScale))
      .divide(BigInteger.valueOf(fl).multiply(BigInteger.valueOf(fr)))
      .longValueExact()
}
