package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, DataType, DoubleType, FloatType, LongType, TypeCollection}

/** One-pass multi-table sign-random-projection (hyperplane LSH) keys for
  * an embedding vector: `tables` bucket keys, each packing
  * `planesPerTable` sign bits of Rademacher (±1) hyperplane projections.
  * Every quantity is one an ANSI-SQL engine can recompute exactly, so
  * gates built on these keys are fully DuckDB-oracle-able:
  *
  *  - plane component sign(p, i) for global plane p and dimension i is
  *    the high bit of md5("p:i") — in SQL,
  *    `substr(md5(p || ':' || i), 1, 1) BETWEEN '0' AND '7'` → +1
  *    else −1;
  *  - vector components quantize to the 2^-20 grid by FLOOR — q_i =
  *    floor(x_i · 2^20) as a long. Float→double widening and the
  *    power-of-two product are IEEE-exact, and floor has no tie
  *    semantics to disagree on (unlike round's half-up vs
  *    half-away-from-zero);
  *  - each projection is then an INTEGER sum Σ ±q_i — commutative, so
  *    no float-summation-order ambiguity between engines — and the
  *    key bit is the exact integer test `proj ≥ 0`.
  *
  * Sign-random-projection guarantees (Charikar, STOC'02): two vectors at
  * angle θ agree on one sign bit with p = 1 − θ/π, share a table's
  * bucket with p^planes, are recalled by ≥1 of T tables with
  * 1 − (1 − p^planes)^T. Rademacher entries satisfy the same family
  * guarantees as Gaussian planes (Achlioptas, JCSS'03). Quantization
  * moves each plane boundary by ≤ dim·2^-20 — recall shifts
  * imperceptibly (bucket geometry only); precision is untouched because
  * candidates are verified with the exact cosine downstream. The sign
  * matrix (nPlanes × dim, ±1 bytes) is computed once per shape and
  * cached statically — md5 never runs per row. */
case class PortableCosineLshKeys(child: Expression, planesPerTable: Int, tables: Int)
    extends UnaryExpression with ExpectsInputTypes {

  require(planesPerTable >= 1 && planesPerTable <= 62,
    "table keys are packed into one long")
  require(tables >= 1)

  override def inputTypes: Seq[AbstractDataType] =
    Seq(TypeCollection(ArrayType(FloatType), ArrayType(DoubleType)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def isFloat: Boolean = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    PortableCosineLshKeys.compute(input.asInstanceOf[ArrayData], isFloat,
      planesPerTable, tables)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = PortableCosineLshKeys.getClass.getName.stripSuffix("$") + "$"
    defineCodeGen(ctx, ev, input =>
      s"(${classOf[ArrayData].getName}) $cls.MODULE$$.compute($input, $isFloat, $planesPerTable, $tables)")
  }

  override protected def withNewChildInternal(newChild: Expression): PortableCosineLshKeys =
    copy(child = newChild)
}

object PortableCosineLshKeys {
  /** ±1 sign matrix for (nPlanes, dim), flattened [p*dim + i]; one entry
    * per shape ever seen (dim is corpus-constant, so this stays tiny). */
  private val signCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Array[Byte]]()

  private def signs(nPlanes: Int, dim: Int): Array[Byte] =
    signCache.computeIfAbsent((nPlanes, dim), { _ =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val arr = new Array[Byte](nPlanes * dim)
      var p = 0
      while (p < nPlanes) {
        var i = 0
        while (i < dim) {
          md.reset()
          val d = md.digest(s"$p:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
          // high bit of the first md5 byte == first hex char in 0-7
          arr(p * dim + i) = if ((d(0) & 0x80) == 0) 1 else -1
          i += 1
        }
        p += 1
      }
      arr
    })

  def compute(vec: ArrayData, isFloat: Boolean, b: Int, t: Int): ArrayData = {
    val nPlanes = b * t
    val n = vec.numElements()
    val sg = signs(nPlanes, n)
    val proj = new Array[Long](nPlanes)
    var i = 0
    while (i < n) {
      val v: Double =
        if (vec.isNullAt(i)) 0.0
        else if (isFloat) vec.getFloat(i).toDouble
        else vec.getDouble(i)
      // floor to the 2^-20 grid: exact in IEEE, tie-free across engines
      val q = math.floor(v * 1048576.0).toLong
      if (q != 0L) {
        var p = 0
        while (p < nPlanes) {
          proj(p) += sg(p * n + i) * q
          p += 1
        }
      }
      i += 1
    }
    val keys = new Array[Long](t)
    var tt = 0
    while (tt < t) {
      var key = 0L
      var j = 0
      while (j < b) {
        key = (key << 1) | (if (proj(tt * b + j) >= 0L) 1L else 0L)
        j += 1
      }
      keys(tt) = key
      tt += 1
    }
    new GenericArrayData(keys)
  }

  def portable_cosine_lsh_keys(c: Column, planesPerTable: Int, tables: Int): Column =
    ColumnBridge.column(
      PortableCosineLshKeys(ColumnBridge.expression(c), planesPerTable, tables))
}
