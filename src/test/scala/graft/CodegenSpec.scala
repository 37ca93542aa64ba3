package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions._

/** Hard codegen check: Spark silently falls back to interpreted eval
  * when an expression's generated Java fails to compile — which would
  * mask doGenCode bugs in every custom expression. Forcing
  * CODEGEN_ONLY + fallback=false makes such bugs throw instead. */
class CodegenSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  private def codegenOnly[T](body: => T): T = {
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try body finally {
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }

  test("SetNullable + UnsafeUnaryUdf generate compiling Java") {
    codegenOnly {
      val up = unsafe_unary_udf(
        v => if (v == null) null else v.asInstanceOf[String].toUpperCase,
        StringType, StringType)
      val r = Seq(("a", Some("x")), ("b", None)).toDF("s", "o")
        .select(make_not_nullable(col("s")).as("nn"), up(col("o")).as("u"))
        .collect()
      assert(r.map(x => (x.getString(0), x.getString(1))).toSet ==
        Set(("a", "X"), ("b", null)))
    }
  }

  test("PortableSimHash60 + MinHashSignature generate compiling Java") {
    codegenOnly {
      // 10 tokens, differing only in the last → 8 shingles, 7 shared:
      // most minhash slots should take their minimum from the shared set
      val df = Seq(
        "a1 b2 c3 d4 e5 f6 g7 h8 i9 delta",
        "a1 b2 c3 d4 e5 f6 g7 h8 i9 epsilon").toDF("t")
      val r = df.select(
        org.apache.spark.sql.graft.PortableSimHash60.portable_simhash60(col("t")).as("sh"),
        org.apache.spark.sql.graft.MinHashSignature.minhash_signature(col("t"), 3, 8).as("mh"))
        .collect()
      assert(r.length == 2)
      assert(r.forall(_.getSeq[Long](1).length == 8))
      // locality: the two near-identical texts share most minhash slots
      val shared = r(0).getSeq[Long](1).zip(r(1).getSeq[Long](1)).count { case (a, b) => a == b }
      assert(shared >= 4)
    }
  }

  test("DistinctShingleHashes generates compiling Java and equals xxhash64 over DistinctShingles") {
    codegenOnly {
      val rnd = new scala.util.Random(7)
      val words = Array("alpha", "beta", "Gamma", "DELTA", "e5", "x", "longerword7")
      val texts = (0 until 40).map(_ =>
        Seq.fill(rnd.nextInt(12))(words(rnd.nextInt(words.length)))
          .mkString(if (rnd.nextBoolean()) " " else "  \t ")) :+ "" :+ "one two"
      for (n <- Seq(1, 3, 4)) {
        val r = texts.toDF("t").select(
          org.apache.spark.sql.graft.DistinctShingleHashes
            .distinct_shingle_hashes(col("t"), n).as("hs"),
          transform(org.apache.spark.sql.graft.DistinctShingles
            .distinct_shingles(col("t"), n), s => xxhash64(s)).as("ref"))
          .collect()
        // bit-parity INCLUDING first-occurrence order, so set sizes,
        // intersections and join keys built either way agree exactly
        assert(r.forall(row => row.getSeq[Long](0) == row.getSeq[Long](1)))
      }
    }
  }

  test("PortableCosineLshKeys generates compiling Java, is deterministic and locality-sensitive") {
    codegenOnly {
      import org.apache.spark.sql.graft.PortableCosineLshKeys.portable_cosine_lsh_keys
      val base = Array.tabulate(32)(i => math.sin(i * 1.7).toFloat)
      val near = base.map(_ * 1.001f) // same direction → identical signs
      val far = base.map(-_)          // opposite direction → all signs flip
      val df = Seq((1L, base), (2L, near), (3L, far)).toDF("id", "v")
      val r = df.select(col("id"), portable_cosine_lsh_keys(col("v"), 12, 6).as("k"))
        .collect().map(x => x.getLong(0) -> x.getSeq[Long](1)).toMap
      assert(r(1).length == 6 && r(1) == r(2), "colinear vectors must share all keys")
      assert(r(1).zip(r(3)).forall { case (a, b) => a != b },
        "antipodal vectors must share no table key (all sign bits flip)")
      assert(r(1).forall(k => k >= 0 && k < (1L << 12)))
      // float and double inputs produce the same keys
      val dd = Seq((1L, base.map(_.toDouble))).toDF("id", "v")
        .select(portable_cosine_lsh_keys(col("v"), 12, 6)).collect()(0).getSeq[Long](0)
      assert(dd == r(1))
    }
  }

  test("ANN lshSignaturePortable rides PortableCosineLshKeys — no interpreted lambda in the plan") {
    codegenOnly {
      val emb = Tables.embeddings(spark, SharedSpark.sf0001)
      val signed = emb.select(col("vec_id"),
        graft.similarity.Ann.lshSignaturePortable(col("embedding"), 8).as("sig"))
      val plan = signed.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!plan.contains("lambdafunction") && !plan.contains("aggregate("),
        s"interpreted HOF stage survived in:\n$plan")
      assert(plan.contains("portablecosinelshkeys") || plan.contains("portable_cosine_lsh_keys"))
      // signature values sit in the declared bit range and discriminate
      val sigs = signed.collect().map(_.getLong(1))
      assert(sigs.forall(s => s >= 0 && s < (1L << 8)))
      assert(sigs.distinct.length > 1)
    }
  }

  test("VectorOps dot/l2norm generate compiling Java and equal the HOF fold bit-for-bit") {
    codegenOnly {
      val rng = new scala.util.Random(3)
      val df = (0 until 50).map(_ =>
        (Array.fill(64)(rng.nextGaussian().toFloat), Array.fill(64)(rng.nextGaussian().toFloat)))
        .toDF("a", "b")
      val r = df.select(
        org.apache.spark.sql.graft.VectorOps.dot(col("a"), col("b")).as("d"),
        graft.similarity.Ann.dotHof(col("a"), col("b")).as("dh"),
        org.apache.spark.sql.graft.VectorOps.l2norm(col("a")).as("n"),
        graft.similarity.Ann.l2normHof(col("a")).as("nh")).collect()
      // bit-identical, not approximately equal: same IEEE op sequence
      assert(r.forall(x => x.getDouble(0) == x.getDouble(1)))
      assert(r.forall(x => x.getDouble(2) == x.getDouble(3)))
      // mixed float x double sides (the LSH projection shape)
      val planes = Seq(Seq.fill(64)(0.25), Seq.fill(64)(-0.5))
      val m = df.select(org.apache.spark.sql.graft.VectorOps.dot(
        col("a"), element_at(typedlit(planes), 1)).as("p")).collect()
      assert(m.forall(x => !x.getDouble(0).isNaN))
      // degenerate inputs match the HOF fold: NULL, never a partial sum
      val deg = Seq((Seq(1f, 2f, 3f), Seq(1f, 2f))).toDF("a", "b").select(
        org.apache.spark.sql.graft.VectorOps.dot(col("a"), col("b")).as("mismatch"),
        graft.similarity.Ann.dotHof(col("a"), col("b")).as("mismatchHof")).collect().head
      assert(deg.isNullAt(0) && deg.isNullAt(1))
      val nul = Seq((Seq(Some(1.0), None), Seq(Some(1.0), Some(2.0))))
        .toDF("a", "b").select(
          org.apache.spark.sql.graft.VectorOps.dot(col("a"), col("b")).as("d"),
          org.apache.spark.sql.graft.VectorOps.l2norm(col("a")).as("n")).collect().head
      assert(nul.isNullAt(0) && nul.isNullAt(1))
    }
  }

  test("NearestCentroid generates compiling Java and equals the HOF argmax") {
    codegenOnly {
      import org.apache.spark.sql.graft.NearestCentroid.nearest_centroid
      val rng = new scala.util.Random(11)
      val cents = Array.tabulate(64)(_ => Array.fill(32)(rng.nextGaussian()))
      val cells = Array.tabulate(64)(i => i.toLong * 3 + 1)
      val df = (0 until 200).map(i =>
        (i.toLong, Array.fill(32)(rng.nextGaussian().toFloat))).toDF("id", "v")
      val got = df.select(col("id"),
        nearest_centroid(col("v"), cells, cents).as("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      // independent reference: driver-side argmax with the same rounding
      def r9(x: Double) = BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
      val rows = df.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      rows.foreach { case (id, v) =>
        val nv = math.sqrt(v.map(x => x.toDouble * x).sum)
        val best = cents.zip(cells).map { case (c, cl) =>
          val d = v.indices.foldLeft(0.0)((acc, j) => acc + v(j).toDouble * c(j))
          (r9(d / (nv * math.sqrt(c.map(x => x * x).sum))), cl)
        }.max
        assert(got(id) == best._2, s"argmax drift for vector $id")
      }
      // float and double vector inputs agree
      val dd = (0 until 20).map(i => (i.toLong, rows(i)._2.map(_.toDouble)))
        .toDF("id", "v")
        .select(col("id"), nearest_centroid(col("v"), cells, cents).as("cell"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dd.forall { case (id, c) => got(id) == c })
    }
  }

  test("WordPieceTokens + BpeTokens + UnicodeNorm generate compiling Java") {
    codegenOnly {
      import org.apache.spark.sql.graft.{BpeTokens, UnicodeNorm, WordPieceTokens}
      val init = Seq("un", "a")
      val cont = Seq("able", "a")
      val df = Seq(("unable", Seq("unable", "aa", "zzz")),
        ("aaa", Seq.empty[String])).toDF("w", "toks")
      val r = df.select(
        WordPieceTokens.wordpiece_encode(col("w"), init, cont).as("ps"),
        WordPieceTokens.wordpiece_count(col("toks"), init, cont).as("n"),
        BpeTokens.bpe_encode(col("w"), Seq(("a", "b"))).as("bp"),
        UnicodeNorm.nfc(concat(col("w"), lit("e\u0301"))).as("nf"),
        BpeTokens.bpe_bytes_encode(concat(lit("a\u00e9"), col("w")),
          Seq(("C3", "A9"))).as("bb"),
        BpeTokens.bpe_bytes_count(array(col("w"), lit("\u00e9")),
          Seq(("C3", "A9"))).as("bn"))
        .collect()
      assert(r.length == 2)
      assert(r(0).getSeq[String](0) == Seq("un", "##able"))
      assert(r(0).getLong(1) == 5L) // 2 + 2 + 1([UNK])
      // NFC composed the trailing e+combining-acute into U+00E9
      assert(r.forall(_.getString(3).endsWith("\u00e9")))
      // byte-BPE under CODEGEN_ONLY: "a<e-acute>unable" leads with
      // [61, C3A9] (the e-acute bytes fused by the planted merge)
      assert(r(0).getSeq[String](4).take(2) == Seq("61", "C3A9"))
      assert(r(0).getLong(5) == 7L) // "unable"=6 bytes + [C3A9]=1
    }
  }

  test("HashedEmbed generates compiling Java") {
    codegenOnly {
      import org.apache.spark.sql.graft.HashedEmbed
      val r = Seq(Seq("a", "b", "a"), Seq.empty[String])
        .toDF("toks")
        .select(HashedEmbed.hashed_embed(col("toks"), 4).as("e"))
        .collect()
      assert(r.length == 2)
      assert(r(1).getSeq[Long](0) == Seq(0L, 0L, 0L, 0L))
      // each component is a signed sum of three +/-1 contributions
      assert(r(0).getSeq[Long](0).forall(v => v >= -3 && v <= 3 && v % 2 != 0))
    }
  }

  test("Hash60 generates compiling Java") {
    codegenOnly {
      val r = Seq("a", "b|c", "").toDF("v")
        .select(graft.sketch.Sketch.hash60(col("v")).as("h"),
          org.apache.spark.sql.graft.Hash60.hash60Seeded(col("v"), 2).as("hs"))
        .collect()
      assert(r.length == 3)
      assert(r.forall(x => x.getLong(0) >= 0 && x.getLong(1) >= 0))
    }
  }

  test("Confluent Avro serde expressions generate compiling Java") {
    codegenOnly {
      import graft.confluent._
      import graft.registry.{InMemorySchemaRegistry, SubjectType}
      val client = new InMemorySchemaRegistry("codegen-spec")
      val df = Seq((1L, "x"), (2L, "y")).toDF("id", "name")
      val back = df
        .select(to_confluent_avro(struct($"id", $"name"), "cg", SubjectType.value, client).as("b"))
        .select(from_confluent_avro($"b", "cg", SubjectType.value, client).as("r"))
        .select("r.*")
      assert(back.collect().toSet == df.collect().toSet)
    }
  }
}
