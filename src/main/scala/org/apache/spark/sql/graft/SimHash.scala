package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{AbstractDataType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Engine-portable 60-bit SimHash of whitespace-tokenized text
  * (Charikar, STOC 2002): near-duplicate fingerprinting where similar
  * documents land within a small Hamming distance. Each token's hash is
  * the repo's cross-engine md5 convention (first 15 hex chars of md5 →
  * 60-bit BIGINT, = `Sketch.hash60`); each token votes its bits ±1, and
  * the sign of each accumulated bit becomes the output bit. The whole
  * signature therefore replays in DuckDB SQL, which is what makes the
  * d_simhash gate hash-verifiable. 60 bits (not 64) because 15 hex chars
  * is the largest md5 prefix both engines parse into a non-negative
  * BIGINT. Codegen-capable scalar expression (reference-object pattern),
  * so dedup pipelines stay inside whole-stage codegen. */
case class PortableSimHash60(child: Expression)
    extends UnaryExpression with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(StringType)
  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    PortableSimHash60.simhash(input.asInstanceOf[UTF8String].toString)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PortableSimHash60.getClass.getName.stripSuffix("$") + "$"
    defineCodeGen(ctx, ev,
      input => s"$cls.MODULE$$.simhash($input.toString())")
  }

  override protected def withNewChildInternal(newChild: Expression): PortableSimHash60 =
    copy(child = newChild)
}

object PortableSimHash60 {
  /** `Sketch.hash60` of one token, JVM-side: first 15 lowercase-hex
    * chars of md5(UTF-8 bytes) parsed base-16 — bit-identical to the
    * Column form and to the DuckDB twin
    * `CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)`. */
  def hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    var h = 0L
    var i = 0
    // 15 hex chars = 7.5 bytes: 7 full bytes + the high nibble of byte 7
    while (i < 7) { h = (h << 8) | (d(i) & 0xffL); i += 1 }
    (h << 4) | ((d(7) & 0xf0L) >> 4)
  }

  def simhash(text: String): Long = {
    val votes = new Array[Int](60)
    var start = 0
    val n = text.length
    var i = 0
    while (i <= n) {
      if (i == n || Character.isWhitespace(text.charAt(i))) {
        if (i > start) {
          val h = hash60(text.substring(start, i))
          var b = 0
          while (b < 60) {
            if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def portable_simhash60(c: Column): Column =
    ColumnBridge.column(PortableSimHash60(ColumnBridge.expression(c)))
}
