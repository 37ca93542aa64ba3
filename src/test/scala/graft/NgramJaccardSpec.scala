package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup

/** `ngramJaccardPairs` (severed shingle index) against a driver-side
  * brute force over the same word-trigram sets. */
class NgramJaccardSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._
  import NgramJaccardSpec._

  test("ngramJaccardPairs == driver brute-force Jaccard (generated)") {
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val genText: Gen[Vector[String]] =
      Gen.choose(0, 40).flatMap(Gen.containerOfN[Vector, String](_, Gen.oneOf(vocab)))
    // substitute / insert / delete one token at a time: a few edits of
    // a shared base put pair similarities on both sides of every threshold
    def edited(base: Vector[String]): Gen[Vector[String]] =
      Gen.choose(0, 4).flatMap(Gen.listOfN(_,
        Gen.zip(Gen.choose(0, 2), Gen.choose(0, 999), Gen.oneOf(vocab))))
        .map(_.foldLeft(base) { case (t, (op, at, w)) =>
          val i = if (t.isEmpty) 0 else at % t.size
          if (op == 1 || t.isEmpty) t.patch(i, Seq(w), 0)
          else t.patch(i, if (op == 0) Seq(w) else Nil, 1)
        })
    val genCorpus: Gen[Seq[String]] = for {
      bases <- Gen.choose(1, 3).flatMap(Gen.listOfN(_, genText))
      variants <- Gen.listOfN(12, Gen.oneOf(bases).flatMap(edited))
      dup <- Gen.oneOf(variants)
    } yield (bases ++ variants :+ dup :+ Vector.empty[String]).map(_.mkString(" "))
    val seen = scala.collection.mutable.Set[String]()
    def agrees(texts: Seq[String]): Boolean = {
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val expect = bruteForce(docs)
      seen ++= expect.map(p => if (p._3 == 1.0) "1" else if (p._3 >= 0.5) "[.5,1)" else "(0,.5)")
      val frame = docs.toDF("doc_id", "text")
      Seq(0.1, 0.5, 0.9).forall(t => pairs(frame, t) == expect.filter(_._3 >= t).toSet)
    }
    // fixed edge cases: empty input, one document, empty and short texts
    for (texts <- Seq(Seq.empty[String], Seq("alpha beta gamma delta"),
        Seq("", "  ", "alpha beta"), Seq("a b c", "A  B c", "")))
      assert(agrees(texts), s"disagrees on $texts")
    val prop = Prop.forAllNoShrink(genCorpus)(texts => agrees(texts) :| s"$texts")
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    assert(seen == Set("1", "[.5,1)", "(0,.5)"), s"jaccard ranges seen: $seen")
  }
}

object NgramJaccardSpec {
  /** `ngramJaccardPairs` at trigrams, collected; releases its severed
    * frames. */
  def pairs(docs: org.apache.spark.sql.DataFrame,
      threshold: Double): Set[(Long, Long, Double)] =
    try Dedup.ngramJaccardPairs(docs, n = 3, threshold = threshold).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    finally graft.util.IntermediateCaches.releaseAll(blocking = true)

  /** All pairs sharing a shingle, with their exact jaccard: one
    * lowercased whitespace-token trigram set per id. */
  def bruteForce(docs: Seq[(Long, String)]): Seq[(Long, Long, Double)] = {
    val sets = docs.groupMapReduce(_._1) { case (_, t) =>
      t.toLowerCase(java.util.Locale.ROOT).split("\\s+").filter(_.nonEmpty)
        .sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
    }(_ ++ _).toSeq.sortBy(_._1)
    for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      common = (sa & sb).size if common > 0
    } yield (a, b, common.toDouble / (sa.size + sb.size - common))
  }
}
