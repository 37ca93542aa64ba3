package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BpeTokens
import org.apache.spark.unsafe.types.UTF8String

/** Byte-pair-encoding tokenizer learning — the subword vocabulary step
  * of a real LLM training pipeline (Sennrich et al. 2016, "Neural
  * Machine Translation of Rare Words with Subword Units"): starting
  * from words split into characters, repeatedly (a) count adjacent
  * symbol pairs weighted by word frequency, (b) take the most frequent
  * pair (ties: lexicographic on the pair), (c) merge that pair greedily
  * left-to-right in every word, K times. The learned merge list IS the
  * tokenizer; applying it to a word reproduces its final symbol
  * sequence.
  *
  * Scale shape: learning never touches the corpus after the one
  * word-frequency aggregation, and every round runs over the
  * VOCABULARY (distinct words × frequency; it grows ~Heaps-law
  * sublinearly in the corpus). One collect fetches the vocabulary's
  * (symbols, freq) table — the symbol split stays in Spark — and all K
  * rounds then run in a plain loop on the driver. The vocabulary is
  * driver-sized by contract: more than [[MaxVocab]] distinct words
  * fails loudly (learn from a document sample instead). Encoding
  * documents afterward is the codegen'd
  * [[org.apache.spark.sql.graft.BpeTokens]] expression with the merge
  * list as a broadcast reference object — a pure map pass.
  *
  * Determinism (what makes the gates SQL-oracle-able): pair counts are
  * exact integer sums; the argmax tie-break (freq DESC, left ASC, right
  * ASC, strings in UTF-8 byte order) is total; the merge fold is
  * order-deterministic (greedy leftmost, non-overlapping — "a a a" +
  * merge(a,a) → [aa, a]). DuckDB replays all K rounds bit-for-bit
  * (t_bpe_learn / t_pack_bpe).
  *
  * Symbols are Unicode code points (a surrogate pair is one symbol),
  * matching DuckDB's per-character string indexing. No end-of-word
  * marker: merges never cross word boundaries by construction, and the
  * learned unit is the word-internal subword — the variant choice is
  * documented rather than load-bearing (any marker convention would be
  * applied identically on both engine and oracle sides). */
object Bpe {

  /** Word → its character symbols (split("") is code-point aware; the
    * trailing empty string Java's split can emit is filtered). */
  def charSyms(word: Column): Column =
    filter(split(word, ""), s => s =!= "")

  /** Word → its UTF-8 BYTE symbols, each rendered as an uppercase
    * 2-hex-digit string ("café" → [63, 61, 66, C3, A9]) — the
    * byte-level BPE base alphabet (GPT-2 lineage: UTF-8 bytes as base
    * symbols mean EVERY string is segmentable, so the tokenizer has no
    * `[UNK]`). Hex strings rather than raw bytes because (a) merged
    * symbols stay plain string concatenation ("C3A9"), (b) the pair
    * argmax tie-break stays VARCHAR ordering both engines share, and
    * (c) the DuckDB oracle reproduces the split exactly:
    * `substring(hex(encode(word)), 2i-1, 2)`. Spark's `hex` is
    * uppercase like DuckDB's. */
  def byteSyms(word: Column): Column = {
    val h = hex(encode(word, "UTF-8"))
    // guard the empty word: Spark's sequence(1, 0) yields [1, 0] (a
    // DESCENDING ramp), which would mint two phantom ""-symbols here,
    // diverging from DuckDB's range(1, 1) = [] and from
    // BpeTokens.byteSymsOf (empty array)
    when(octet_length(word) === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), octet_length(word)),
        i => h.substr(i * 2 - 1, lit(2))))
  }

  /** One greedy left-to-right merge pass of (l, r) → l+r over a symbol
    * array — the interpreted higher-order-function formulation (an
    * `aggregate` fold: merge when the accumulator's last symbol is `l`
    * and the current is `r`, else append). Kept as the value-equality
    * reference for the codegen'd [[org.apache.spark.sql.graft
    * .BpeTokens]] expression in specs; the learners apply merges with
    * [[org.apache.spark.sql.graft.BpeTokens.applyMerge]]. */
  def applyMerge(syms: Column, l: String, r: String): Column =
    aggregate(syms, array().cast("array<string>"),
      (acc, s) => when(get(acc, size(acc) - 1) === lit(l) && (s === lit(r)),
          concat(slice(acc, lit(1), size(acc) - 1), array(concat(lit(l), s))))
        .otherwise(concat(acc, array(s))))

  /** Most distinct words a learner collects to the driver. Larger
    * vocabularies fail with an error pointing at document-sampled
    * learning ([[graft.queries.LlmOps.bpeLearnSampled]]). */
  val MaxVocab: Int = 1 << 20

  /** Learn `k` merges from a (word, freq) table. Returns the ordered
    * merge list (left, right, pairFreq) — shorter than `k` iff the
    * vocabulary runs out of adjacent pairs first. One collect fetches
    * the vocabulary; the rounds run on the driver. */
  def learnMerges(wordFreq: DataFrame, k: Int,
      wordCol: String = "word", freqCol: String = "freq",
      symsOf: Column => Column = charSyms): Seq[(String, String, Long)] =
    learnMergesCapped(wordFreq, k, wordCol, freqCol, symsOf, MaxVocab)

  /** [[learnMerges]] with an explicit vocabulary limit. */
  private[graft] def learnMergesCapped(wordFreq: DataFrame, k: Int,
      wordCol: String, freqCol: String, symsOf: Column => Column,
      maxVocab: Int): Seq[(String, String, Long)] = {
    require(k >= 1, s"k must be >= 1: $k")
    val (syms, freqs) = collectVocab(wordFreq, wordCol, freqCol, symsOf, maxVocab)
    learnOnDriver(syms, freqs, k, None).map { case (l, r, pf, _) => (l, r, pf) }
  }

  /** The vocabulary's (symbols, freq) table in one collect, rows with
    * a null word or frequency dropped (a sum skips nulls). More than
    * `maxVocab` rows is an error. */
  private[text] def collectVocab(wordFreq: DataFrame, wordCol: String,
      freqCol: String, symsOf: Column => Column,
      maxVocab: Int): (Array[Array[String]], Array[Long]) = {
    val rows = wordFreq
      .select(symsOf(col(wordCol)).as("syms"), col(freqCol).cast("long").as("freq"))
      .filter(col("syms").isNotNull && col("freq").isNotNull)
      .limit(maxVocab + 1).collect()
    if (rows.length > maxVocab)
      throw new IllegalArgumentException(s"merge learning collects the " +
        s"vocabulary to the driver and takes at most $maxVocab distinct " +
        "words; this table has more. Learn from a document sample " +
        "instead (graft.queries.LlmOps.bpeLearnSampled).")
    (rows.map(_.getSeq[String](0).toArray), rows.map(_.getLong(1)))
  }

  /** All merge rounds over a driver-held vocabulary — the loop shared
    * by BPE and WordPiece, which differ only in the pair score. Each
    * round counts every adjacent pair (overlapping ones included)
    * weighted by word frequency, takes the argmax of (score DESC,
    * left ASC, right ASC) and applies the merge to every word. The
    * score is the pair frequency, or `likelihood(pf, fl, fr)` over the
    * current symbol frequencies (recounted each round over every word,
    * one-symbol words included). Returns (left, right, pf, score). */
  private[text] def learnOnDriver(vocab: Array[Array[String]], freqs: Array[Long],
      k: Int, likelihood: Option[(Long, Long, Long) => Long])
      : Seq[(String, String, Long, Long)] = {
    val words = vocab.clone()
    def weighted[K](keysOf: Array[String] => Iterator[K]): collection.Map[K, Long] = {
      val m = collection.mutable.HashMap.empty[K, Long]
      for (w <- words.indices; key <- keysOf(words(w)))
        m(key) = Math.addExact(m.getOrElse(key, 0L), freqs(w))
      m
    }
    val rank = Ordering.Tuple3(Ordering.Long.reverse, Utf8Order, Utf8Order)
    val merges = collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
    var dry = false
    while (merges.size < k && !dry) {
      val pairs = weighted(s => s.iterator.zip(s.iterator.drop(1)))
      dry = pairs.isEmpty
      if (!dry) {
        val symFreq = if (likelihood.isEmpty) Map.empty[String, Long] else weighted(_.iterator)
        val best @ (l, r, _, _) = pairs.iterator.map { case ((l, r), pf) =>
          (l, r, pf, likelihood.fold(pf)(_(pf, symFreq(l), symFreq(r))))
        }.minBy { case (l, r, _, score) => (score, l, r) }(rank)
        merges += best
        words.mapInPlace(BpeTokens.applyMerge(_, l, r))
      }
    }
    merges.toSeq
  }

  /** Spark's string order: unsigned UTF-8 bytes. Not
    * `String.compareTo`, whose UTF-16 order puts supplementary
    * characters below U+E000..U+FFFF. */
  private val Utf8Order: Ordering[String] = Ordering.by(UTF8String.fromString)
}
