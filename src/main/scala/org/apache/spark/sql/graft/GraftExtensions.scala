package org.apache.spark.sql.graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers graft's custom expressions as SQL functions via the
  * standard [[SparkSessionExtensions]] mechanism, so plain SQL (and
  * spark.sql config-driven deployments) can use them:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions)...
  * // or: --conf spark.sql.extensions=org.apache.spark.sql.graft.GraftExtensions
  * spark.sql("SELECT portable_simhash60(text), minhash_signature(text, 3, 64) FROM docs")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(extensions: SparkSessionExtensions): Unit = {
    extensions.injectFunction((
      FunctionIdentifier("portable_simhash60"),
      info("portable_simhash60", "portable_simhash60(text) - 60-bit SimHash of whitespace tokens"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "portable_simhash60(text)")
        PortableSimHash60(children.head)
      }))

    extensions.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature",
        "minhash_signature(text, n, k) - k MinHash minima over word n-gram shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "minhash_signature(text, n, k)")
        MinHashSignature(children.head,
          children(1).eval().asInstanceOf[Number].intValue(),
          children(2).eval().asInstanceOf[Number].intValue())
      }))

    extensions.injectFunction((
      FunctionIdentifier("distinct_shingles"),
      info("distinct_shingles",
        "distinct_shingles(text, n) - distinct lowercased word n-gram shingles"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "distinct_shingles(text, n)")
        DistinctShingles(children.head,
          children(1).eval().asInstanceOf[Number].intValue())
      }))

    extensions.injectFunction((
      FunctionIdentifier("vec_dot"),
      info("vec_dot",
        "vec_dot(a, b) - dot product of float/double arrays, codegen'd, array-order accumulation"),
      (children: Seq[Expression]) => {
        require(children.size == 2, "vec_dot(a, b)")
        VectorOps.DotProduct(children.head, children(1))
      }))

    extensions.injectFunction((
      FunctionIdentifier("vec_l2norm"),
      info("vec_l2norm", "vec_l2norm(a) - L2 norm of a float/double array"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "vec_l2norm(a)")
        VectorOps.L2Norm(children.head)
      }))

    extensions.injectFunction((
      FunctionIdentifier("trigram_entropy"),
      info("trigram_entropy",
        "trigram_entropy(text) - Shannon entropy of the codepoint-trigram distribution (one pass)"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "trigram_entropy(text)")
        TrigramEntropy(children.head)
      }))

    extensions.injectFunction((
      FunctionIdentifier("portable_cosine_lsh_keys"),
      info("portable_cosine_lsh_keys",
        "portable_cosine_lsh_keys(vec, planesPerTable, tables) - multi-table sign-random-projection bucket keys"),
      (children: Seq[Expression]) => {
        require(children.size == 3, "portable_cosine_lsh_keys(vec, planesPerTable, tables)")
        // the parameters configure the expression at build time, so they
        // must be literals — eval() on a non-foldable (column/cast-of-
        // column) child here would throw an opaque UnresolvedException
        def intLit(e: Expression, name: String): Int = {
          if (!e.foldable) {
            throw org.apache.spark.sql.errors.QueryCompilationErrors
              .nonFoldableArgumentError("portable_cosine_lsh_keys", name,
                org.apache.spark.sql.types.IntegerType)
          }
          e.eval() match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"portable_cosine_lsh_keys: $name must be a non-null integer literal, got $other")
          }
        }
        PortableCosineLshKeys(children.head,
          intLit(children(1), "planesPerTable"),
          intLit(children(2), "tables"))
      }))

    extensions.injectFunction((
      FunctionIdentifier("set_not_nullable"),
      info("set_not_nullable",
        "set_not_nullable(col) - override nullability to false (runtime-guarded)"),
      (children: Seq[Expression]) => {
        require(children.size == 1, "set_not_nullable(col)")
        SetNullable(children.head, forcedNullable = false)
      }))
  }
}
