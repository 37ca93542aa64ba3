package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd BPE application: encode a word (or count the encoded
  * symbols of a whole token array) under a LEARNED merge list — the
  * map-side half of byte-pair encoding, where [[graft.text.Bpe
  * .learnMerges]] is the vocabulary-sized learning half.
  *
  * The merge list rides the generated code as a REFERENCE OBJECT (the
  * [[NearestCentroid]] pattern): the caller passes the driver-held
  * ordered merges — dimension-sized by contract, a few thousand pairs
  * for a real tokenizer — and each row pays K greedy left-to-right
  * passes over its symbols with zero per-row interpretation overhead.
  * No UDF, no broadcast-column crossJoin, no per-merge HOF tree walk.
  *
  * Parity contract (spec'd value-equal against the interpreted
  * [[graft.text.Bpe.applyMerge]] fold chain):
  *  - symbols are Unicode code points (surrogate pair = one symbol),
  *    the same unit as `split(word, "")` and DuckDB's `word[i:i]`;
  *  - each merge applies greedily leftmost, non-overlapping ("a a a"
  *    under (a,a) → [aa, a]); merges apply strictly in learned order,
  *    which for any fixed word equals the round-interleaved order the
  *    learner used (each round's pass is the same deterministic fold);
  *  - `bpe_count` sums encoded lengths over a token array; a null
  *    token element contributes 0 (like an empty string), a null array
  *    yields null. */
object BpeTokens {

  def bpe_encode(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeEncodeExpr(ColumnBridge.expression(word),
      merges.map(_._1), merges.map(_._2)))

  def bpe_count(tokens: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeCountExpr(ColumnBridge.expression(tokens),
      merges.map(_._1), merges.map(_._2)))

  /** BYTE-level variants (GPT-2 lineage): base symbols are the word's
    * UTF-8 bytes as uppercase 2-hex-digit strings ([[graft.text.Bpe
    * .byteSyms]]'s unit), so every string is segmentable and the
    * tokenizer has no `[UNK]`. The merge machinery is shared with the
    * code-point variants — only the splitter differs. */
  def bpe_bytes_encode(word: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeBytesEncodeExpr(ColumnBridge.expression(word),
      merges.map(_._1), merges.map(_._2)))

  def bpe_bytes_count(tokens: Column, merges: Seq[(String, String)]): Column =
    ColumnBridge.column(BpeBytesCountExpr(ColumnBridge.expression(tokens),
      merges.map(_._1), merges.map(_._2)))

  /** Greedy leftmost non-overlapping application of all merges in
    * order — the fold shared by every encode/count entry point. */
  private def applyMerges(syms0: Array[String], lefts: Array[String],
      rights: Array[String]): Array[String] = {
    var syms = syms0
    var m = 0
    while (m < lefts.length && syms.length >= 2) {
      syms = applyMerge(syms, lefts(m), rights(m))
      m += 1
    }
    syms
  }

  /** One greedy leftmost non-overlapping pass of (l, r) → l+r over
    * `syms` — the step [[applyMerges]] folds, and the merge the
    * learners ([[graft.text.Bpe.learnMerges]],
    * [[graft.text.WordPiece.learnMerges]]) apply each round. Returns
    * `syms` itself when nothing merged; never mutates it. */
  def applyMerge(syms: Array[String], l: String, r: String): Array[String] = {
    val out = new Array[String](syms.length)
    var o = 0
    var j = 0
    while (j < syms.length) {
      if (o > 0 && syms(j) == r && out(o - 1) == l) { out(o - 1) = l + r }
      else { out(o) = syms(j); o += 1 }
      j += 1
    }
    if (o == syms.length) syms else java.util.Arrays.copyOf(out, o)
  }

  /** Word → code-point symbol array (surrogate pair = one symbol). */
  private def charSymsOf(word: String): Array[String] = {
    var n = 0
    var i = 0
    while (i < word.length) { i += Character.charCount(word.codePointAt(i)); n += 1 }
    val syms = new Array[String](n)
    i = 0; n = 0
    while (i < word.length) {
      val cc = Character.charCount(word.codePointAt(i))
      syms(n) = word.substring(i, i + cc)
      i += cc; n += 1
    }
    syms
  }

  private val HexDigits = "0123456789ABCDEF".toCharArray

  /** UTF-8 bytes of one word as uppercase 2-hex-digit symbol strings
    * — must byte-match Spark's `hex(encode(word, 'UTF-8'))` sliced in
    * 2-char chunks (and DuckDB's `hex(encode(word))`). */
  def byteSymsOf(word: UTF8String): Array[String] = {
    val bytes = word.getBytes
    val syms = new Array[String](bytes.length)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      syms(i) = new String(Array(HexDigits(b >>> 4), HexDigits(b & 0xf)))
      i += 1
    }
    syms
  }

  /** Apply all merges in order to one word; returns the symbol array.
    * Shared by both expressions and by their interpreted eval. */
  def encodeSyms(word: String, lefts: Array[String], rights: Array[String]): Array[String] =
    applyMerges(charSymsOf(word), lefts, rights)

  def encodeBytesCompute(word: UTF8String, lefts: Array[String],
      rights: Array[String]): ArrayData =
    new GenericArrayData(applyMerges(byteSymsOf(word), lefts, rights)
      .map(s => UTF8String.fromString(s).asInstanceOf[Any]))

  def countBytesCompute(tokens: ArrayData, lefts: Array[String],
      rights: Array[String]): Long = {
    var total = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i))
        total += applyMerges(byteSymsOf(tokens.getUTF8String(i)),
          lefts, rights).length.toLong
      i += 1
    }
    total
  }

  def encodeCompute(word: UTF8String, lefts: Array[String], rights: Array[String]): ArrayData =
    new GenericArrayData(encodeSyms(word.toString, lefts, rights)
      .map(s => UTF8String.fromString(s).asInstanceOf[Any]))

  def countCompute(tokens: ArrayData, lefts: Array[String], rights: Array[String]): Long = {
    var total = 0L
    var i = 0
    val n = tokens.numElements()
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val w = tokens.getUTF8String(i).toString
        total += encodeSyms(w, lefts, rights).length.toLong
      }
      i += 1
    }
    total
  }

  private val cls = BpeTokens.getClass.getName.stripSuffix("$") + "$"

  /** word → encoded symbol array under the merge list. Seq (not Array)
    * constructor parameters so case-class structural equality holds and
    * Catalyst common-subexpression elimination can dedup semantically
    * identical expressions; the hot path reads the transient arrays. */
  case class BpeEncodeExpr(child: Expression, lefts: Seq[String],
      rights: Seq[String]) extends UnaryExpression with ExpectsInputTypes {
    require(lefts.length == rights.length, "merge list sides differ in length")
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    @transient private lazy val leftsArr = lefts.toArray
    @transient private lazy val rightsArr = rights.toArray

    override def nullSafeEval(w: Any): Any =
      encodeCompute(w.asInstanceOf[UTF8String], leftsArr, rightsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeLefts", leftsArr, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeRights", rightsArr, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, w =>
        s"${ev.value} = $cls.MODULE$$.encodeCompute($w, $lRef, $rRef);")
    }

    override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
      copy(child = newChild)
  }

  /** array<string> of tokens → Σ encoded symbol counts. Seq params for
    * structural equality (see [[BpeEncodeExpr]]). */
  case class BpeCountExpr(child: Expression, lefts: Seq[String],
      rights: Seq[String]) extends UnaryExpression with ExpectsInputTypes {
    require(lefts.length == rights.length, "merge list sides differ in length")
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(StringType))
    override def dataType: DataType = LongType

    @transient private lazy val leftsArr = lefts.toArray
    @transient private lazy val rightsArr = rights.toArray

    override def nullSafeEval(a: Any): Any =
      countCompute(a.asInstanceOf[ArrayData], leftsArr, rightsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeLefts", leftsArr, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeRights", rightsArr, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = $cls.MODULE$$.countCompute($a, $lRef, $rRef);")
    }

    override protected def withNewChildInternal(newChild: Expression): BpeCountExpr =
      copy(child = newChild)
  }

  /** word → encoded BYTE-symbol array (uppercase hex strings) under
    * the merge list — no `[UNK]`: the base alphabet covers every
    * UTF-8 byte. Seq params for structural equality. */
  case class BpeBytesEncodeExpr(child: Expression, lefts: Seq[String],
      rights: Seq[String]) extends UnaryExpression with ExpectsInputTypes {
    require(lefts.length == rights.length, "merge list sides differ in length")
    override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(StringType, containsNull = false)

    @transient private lazy val leftsArr = lefts.toArray
    @transient private lazy val rightsArr = rights.toArray

    override def nullSafeEval(w: Any): Any =
      encodeBytesCompute(w.asInstanceOf[UTF8String], leftsArr, rightsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeBLefts", leftsArr, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeBRights", rightsArr, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, w =>
        s"${ev.value} = $cls.MODULE$$.encodeBytesCompute($w, $lRef, $rRef);")
    }

    override protected def withNewChildInternal(newChild: Expression): BpeBytesEncodeExpr =
      copy(child = newChild)
  }

  /** array<string> of tokens → Σ encoded BYTE-symbol counts. */
  case class BpeBytesCountExpr(child: Expression, lefts: Seq[String],
      rights: Seq[String]) extends UnaryExpression with ExpectsInputTypes {
    require(lefts.length == rights.length, "merge list sides differ in length")
    override def inputTypes: Seq[AbstractDataType] =
      Seq(ArrayType(StringType))
    override def dataType: DataType = LongType

    @transient private lazy val leftsArr = lefts.toArray
    @transient private lazy val rightsArr = rights.toArray

    override def nullSafeEval(a: Any): Any =
      countBytesCompute(a.asInstanceOf[ArrayData], leftsArr, rightsArr)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val lRef = ctx.addReferenceObj("bpeBLefts", leftsArr, "java.lang.String[]")
      val rRef = ctx.addReferenceObj("bpeBRights", rightsArr, "java.lang.String[]")
      nullSafeCodeGen(ctx, ev, a =>
        s"${ev.value} = $cls.MODULE$$.countBytesCompute($a, $lRef, $rRef);")
    }

    override protected def withNewChildInternal(newChild: Expression): BpeBytesCountExpr =
      copy(child = newChild)
  }
}
