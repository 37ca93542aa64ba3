package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for training-data pipelines: all are
  * compositions of codegen'd built-ins (no UDFs), so they vectorize and
  * scale linearly with no shuffle. Formulas are deliberately expressible
  * in ANSI SQL so each has a DuckDB oracle. */
package object text {

  /** lowercase, trim, collapse runs of whitespace — the codegen'd
    * [[org.apache.spark.sql.graft.NormTextExpr]] (round-19
    * optimization; bug-for-bug parity with the builtin chain below,
    * pinned by NormTokensSpec — this pair runs under nearly every
    * gate, so the per-doc regex machinery was a suite-wide tax). */
  def norm_text(c: Column): Column =
    org.apache.spark.sql.graft.NormTextExpr.norm_text(c)

  def tokens(c: Column): Column =
    org.apache.spark.sql.graft.NormTokens.norm_tokens(c)

  /** Builtin-composition formulations — value-equality references for
    * the codegen expressions in specs. Do not use in hot paths. */
  private[graft] def norm_text_builtin(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  private[graft] def tokens_builtin(c: Column): Column =
    split(norm_text_builtin(c), " ")

  /** GPT-2-style regex PRE-tokenization over the normalized text: the
    * contraction suffixes first, then space-optional letter runs,
    * digit runs and punctuation runs — so "don't" segments [don]["'t"]
    * and "abc123" segments [abc][123], and a token KEEPS its leading
    * space (GPT-2's space-marker convention). Segmentation is lossless:
    * concat(pretok(text)) == norm_text(text) for any input.
    *
    * Deliberately ASCII classes and NO lookahead: the real GPT-2
    * pattern's `\s+(?!\S)` tail is RE2-unsupported, and on
    * single-spaced normalized text the plain ` +` alternative is
    * equivalent — so Java regex (Spark) and RE2 (the DuckDB oracle's
    * regexp_extract_all) produce identical leftmost-first matches. */
  val PretokPattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+| +"

  def pretok(c: Column): Column =
    regexp_extract_all(norm_text(c), lit(PretokPattern), lit(0))

  def n_tokens(c: Column): Column = size(tokens(c))

  /** BPE-ish token count: alpha runs + digit runs + individual symbols —
    * the shape of byte-pair tokenizer output without the vocab. */
  def n_bpeish(c: Column): Column =
    regexp_count(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  def punct_count(c: Column): Column =
    regexp_count(norm_text(c), lit("[^a-z0-9 ]"))

  private val Stopwords = Seq("the", "a", "of", "and", "to", "in", "is")

  def stopword_count(c: Column): Column =
    size(filter(tokens(c), w => w.isInCollection(Stopwords)))

  /** Mean token length of the normalized text (exact ints, one IEEE
    * division → deterministic across engines). */
  def avg_token_len(c: Column): Column =
    (length(norm_text(c)) - (n_tokens(c) - lit(1))).cast("double") / n_tokens(c)

  /** Composite quality score in [0,1]: stopword presence, length
    * saturation, punctuation cleanliness. Fixed operation order —
    * keep in sync with the SQL oracle. Delegates to
    * [[quality_score_from]] so the formula exists once. */
  def quality_score(c: Column): Column =
    quality_score_from(norm_text(c))

  /** Marker-word language heuristic (the test corpus is synthetic ASCII,
    * so CJK detection short-circuits first, then stopword evidence;
    * deterministic tie-break order en > de > es > fr). Delegates to
    * [[lang_id_from]] so the formula exists once. */
  def lang_id(c: Column): Column = lang_id_from(c)

  /** Whole-document fingerprint: md5 of the normalized text (exact-dup
    * key; oracle-friendly since DuckDB md5 agrees). */
  def fingerprint_md5(c: Column): Column = md5(norm_text(c).cast("binary"))

  // Variants over PRE-staged attributes: `norm` = norm_text(text) and
  // `toks` = split(norm, " ") materialized ONCE as projection attributes.
  // Composing the plain combinators repeats the normalization regex per
  // signal (each one inlines its own norm_text); a query computing
  // several signals should stage the attributes and use these. Values
  // are identical to the plain versions by construction.

  /** Quality score over a PRE-staged `norm` attribute. The fused
    * codegen expression derives the token view (`split(norm, " ")`)
    * internally (round-19 optimization; the combinator formulation
    * below interpreted a filter lambda per token and re-scanned with
    * regexp_count). The former `toks` parameter was dropped in round
    * 20 (round-19 advice): it was ignored, so a caller staging tokens
    * any other way would have silently contradicted the signature.
    * Value-identical: TextSignalsSpec. */
  def quality_score_from(norm: Column): Column =
    org.apache.spark.sql.graft.QualityScoreExpr.quality_score_norm(norm)

  /** Language id over the RAW text (the norm-chain token view is
    * derived internally) — fused like [[quality_score_from]]; four
    * marker filter lambdas + the CJK regex collapse into one codegen
    * pass. The ignored `toks` parameter was dropped in round 20. */
  def lang_id_from(raw: Column): Column =
    org.apache.spark.sql.graft.LangIdExpr.lang_id_raw(raw)

  /** Combinator formulations — value-equality references for the
    * codegen expressions in specs. Do not use in hot paths. */
  private[graft] def quality_score_from_builtin(norm: Column, toks: Column): Column = {
    val ntok = size(toks)
    val stopRatio = size(filter(toks, w => w.isInCollection(Stopwords))).cast("double") / ntok
    val lenSat = least(lit(1.0), length(norm).cast("double") / lit(500.0))
    val punctRatio = regexp_count(norm, lit("[^a-z0-9 ]")).cast("double") / length(norm)
    round(lit(0.4) * stopRatio + lit(0.3) * lenSat + lit(0.3) * (lit(1.0) - punctRatio), 6)
  }

  private[graft] def lang_id_from_builtin(raw: Column, toks: Column): Column = {
    def markers(ws: Seq[String]) = size(filter(toks, w => w.isInCollection(ws)))
    val en = markers(Seq("the", "a", "of"))
    val de = markers(Seq("der", "die", "und"))
    val es = markers(Seq("el", "los", "una"))
    val fr = markers(Seq("le", "les", "des"))
    val cjk = regexp_count(raw, lit("[\\x{4e00}-\\x{9fff}]"))
    when(cjk > 0, "zh")
      .when(en >= de && en >= es && en >= fr, "en")
      .when(de >= es && de >= fr, "de")
      .when(es >= fr, "es")
      .otherwise("fr")
  }

  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03
    * — the MOSS rolling-hash scheme): hash every word k-gram, slide a
    * window of w hashes, keep each window's minimum, dedupe and sort.
    * Guarantees: any shared run of k+w-1 tokens between two documents
    * contributes at least one common fingerprint, and gaps between
    * selected positions are ≤ w. Emitted as a comma-joined string so the
    * result is oracle-hashable.
    *
    * The "rolling hash" here is the first 8 hex chars of md5 per k-gram:
    * fixed-width lowercase hex compares lexicographically = numerically
    * in BOTH engines, and DuckDB md5 agrees with Spark md5 byte-for-byte
    * — cross-engine determinism beats saving the per-gram rehash (the
    * classic Rabin-Karp incremental update is a constant-factor
    * optimization inside one doc; at corpus scale the cost is dominated
    * by the scan either way, and everything here stays codegen'd). */
  def winnow_fingerprint(c: Column, k: Int, w: Int): Column =
    concat_ws(",", winnow_fingerprint_set(c, k, w))

  /** The winnowing fingerprint SET as an array column — the join-key
    * form for fingerprint-sharing near-dup detection
    * ([[winnow_fingerprint]] is its comma-joined rendering). Backed by
    * the one-pass codegen'd
    * [[org.apache.spark.sql.graft.WinnowFingerprints]] expression — the
    * higher-order-function formulation (kept below as the spec
    * reference) re-inlines the whole gram+hash pipeline per window
    * position when its lambdas are interpreted, which is O(windows ×
    * grams × |doc|) per document. */
  def winnow_fingerprint_set(c: Column, k: Int, w: Int): Column =
    org.apache.spark.sql.graft.WinnowFingerprints.winnow_fingerprints(c, k, w)

  /** The declarative higher-order-function formulation — value-equality
    * reference for the codegen expression in specs. Do not use in hot
    * paths (see [[winnow_fingerprint_set]]). */
  private[graft] def winnow_fingerprint_set_hof(c: Column, k: Int, w: Int): Column = {
    val t = tokens(c)
    val grams = transform(sequence(lit(1), size(t) - (k - 1)),
      i => concat_ws(" ", (0 until k).map(j => element_at(t, i + lit(j))): _*))
    val hashes = transform(grams, g => substring(md5(g.cast("binary")), 1, 8))
    val mins = transform(sequence(lit(1), size(hashes) - (w - 1)),
      j => array_min(slice(hashes, j, lit(w))))
    // need at least one full window of k-grams: size(t) >= k + w - 1
    // (the when-guard also keeps sequence() from descending on negatives)
    when(size(t) >= lit(k + w - 1), sort_array(array_distinct(mins)))
      .otherwise(array().cast("array<string>"))
  }

  /** Word n-gram shingles of the normalized text as an array column;
    * documents with fewer than n tokens yield an empty array (indexing
    * past the array would throw under Spark 4's ANSI mode, and a partial
    * shingle would diverge from the SQL oracle).
    *
    * PERF: this inlines `tokens(c)` into every element_at — fine when
    * the optimizer collapses it, pathological when it doesn't (each
    * gram position re-runs the tokenize pipeline). Hot paths should
    * stage the token array as a projection attribute and call
    * [[shingles_from]] — the same discipline as quality_score_from —
    * or use the one-pass codegen'd DistinctShingles where per-doc
    * distinctness is wanted. */
  def shingles(c: Column, n: Int): Column = shingles_from(tokens(c), n)

  /** [[shingles]] over a PRE-staged token-array attribute — the
    * one-pass codegen'd [[org.apache.spark.sql.graft.AllShingles]]
    * (round-19 optimization; the HOF formulation below interpreted its
    * lambda per position). Value-identical (AllShinglesSpec). */
  def shingles_from(t: Column, n: Int): Column =
    org.apache.spark.sql.graft.AllShingles.all_shingles(t, n)

  /** The higher-order-function formulation — value-equality reference
    * for the codegen expression in specs. Do not use in hot paths. */
  private[graft] def shingles_from_hof(t: Column, n: Int): Column =
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(j => element_at(t, i + lit(j))): _*)))
      .otherwise(array().cast("array<string>"))

  // ------------------------------------------------------ PII redaction

  /** PII patterns shared by the scrubber, the per-class counters, and
    * the DuckDB oracle (plain RE2/Java-common syntax — no lookarounds,
    * no possessive quantifiers — so both engines compile them
    * identically). Redaction order matters and is fixed: emails first
    * (their local parts may contain digit runs the later patterns would
    * chew on), then SSN before phone (both dash-digit shapes; the
    * narrower one must not be half-eaten), then IPv4 last. */
  private[graft] val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "[EMAIL]",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "[SSN]",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" -> "[PHONE]",
    "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b" -> "[IP]")

  /** Redact emails, SSNs, phone numbers and IPv4 addresses to typed
    * placeholder tokens — the standard pre-training scrub pass. Pure
    * chained `regexp_replace` (codegen'd, map-only, no shuffle); at
    * corpus scale this is a scan-bound pass like the other text
    * signals. Counts of what WOULD be redacted come from
    * [[pii_count]] on the unscrubbed column. */
  def pii_scrub(c: Column): Column =
    PiiPatterns.foldLeft(c) { case (acc, (re, token)) =>
      regexp_replace(acc, re, token)
    }

  /** Number of matches of one PII class (`email | ssn | phone | ip`) in
    * the raw text — independent per-class scans of the ORIGINAL column,
    * so a string matched by two classes counts in both (redaction order
    * only affects [[pii_scrub]]'s output, never these counts). */
  def pii_count(c: Column, kind: String): Column = {
    val re = kind match {
      case "email" => PiiPatterns(0)._1
      case "ssn"   => PiiPatterns(1)._1
      case "phone" => PiiPatterns(2)._1
      case "ip"    => PiiPatterns(3)._1
      case other => throw new IllegalArgumentException(
        s"unknown PII class '$other' (email|ssn|phone|ip)")
    }
    regexp_count(c, lit(re))
  }
}
