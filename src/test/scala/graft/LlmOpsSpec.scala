package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.similarity.Ann
import graft.text._

class LlmOpsSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)
  private lazy val emb  = Tables.embeddings(spark, sf001)

  private lazy val truePairs: Set[(Long, Long)] =
    Dedup.ngramJaccardPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("minhash-LSH + verify finds exactly the true near-dup pairs") {
    val got = Dedup.minhashLshPairs(docs, 3, 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == truePairs)
    assert(truePairs.size == 25)
  }

  test("BM25 gate equals a driver-side recomputation, exact integer scores") {
    val out = graft.queries.LlmOps.bm25(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val terms = Set("spark", "join", "customer", "window")
    def toks(t: String): Seq[String] =
      t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
    val rows = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val dl = rows.map { case (id, t) => id -> toks(t).size.toLong }.toMap
    val n = rows.length.toLong
    val avgdl = dl.values.sum.toDouble / n
    val tf = rows.flatMap { case (id, t) =>
      toks(t).filter(terms.contains).map(w => (id, w)) }
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val df = tf.keys.toSeq.groupBy(_._2).map { case (w, xs) => w -> xs.size.toLong }
    val scores = tf.toSeq.map { case ((id, w), f) =>
      val idf = math.log(1.0 + (n - df(w) + 0.5) / (df(w) + 0.5))
      id -> math.round(idf * (f * 2.2)
        / (f + 1.2 * (0.25 + 0.75 * dl(id) / avgdl)) * 1000000.0)
    }.groupBy(_._1).map { case (id, xs) => id -> xs.map(_._2).sum }
    val want = scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    assert(out.toSeq == want, s"got=${out.toSeq} want=$want")
  }

  test("soft-dedup weights: exact micro-units over the near-dup components") {
    val out = graft.queries.LlmOps.dedupSoftWeight(spark, sf001).collect()
    assert(out.length == docs.count())
    // driver-side union-find over the exact-Jaccard truth (the detector
    // equals it by the minhash-LSH spec above)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    truePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    val members = (truePairs.map(_._1) ++ truePairs.map(_._2))
      .groupBy(find).map { case (_, xs) => xs.map(find) }
    val compOf = (truePairs.flatMap(p => Seq(p._1, p._2)))
      .map(x => x -> find(x)).toMap
    val sizeOf = compOf.groupBy(_._2).map { case (c, xs) => c -> xs.size.toLong }
    out.foreach { r =>
      val (id, comp, nd, ppm, w) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      if (compOf.contains(id)) {
        assert(comp == compOf(id) && nd == sizeOf(comp))
      } else {
        assert(comp == id && nd == 1L)
      }
      assert(ppm == math.round(1000000.0 / nd))
      assert(w == ppm / 1000000.0)
    }
    assert(members.nonEmpty) // the fixture really has dup clusters
  }

  test("duplicateSpans: planted shared windows yield exact merged spans") {
    // vocab chosen so NOTHING collides except the plants: doc 1 and
    // doc 2 share tokens [5, 15) of doc 1 (10 tokens → 8-grams at
    // starts 5, 6, 7 → one merged span [5, 15) in doc 1); docs 3 and 4
    // are exact duplicates of length 12 (8-grams at 0..4 → one
    // full-length span [0, 12), 5 grams); doc 5 is all-unique noise.
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")
    val shared = words("sh", 10)
    val d1 = words("a", 5) ++ shared ++ words("b", 5)           // len 20
    val d2 = words("c", 3) ++ shared ++ words("d", 7)           // len 20
    val dup = words("e", 12)
    val d5 = words("f", 20)
    val docs = Seq(
      (1L, d1.mkString(" ")), (2L, d2.mkString(" ")),
      (3L, dup.mkString(" ")), (4L, dup.mkString(" ")),
      (5L, d5.mkString(" "))).toDF("doc_id", "text")
    val got = Dedup.duplicateSpans(docs, n = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(got == Set(
      (1L, 5L, 15L, 3L),   // shared window inside doc 1
      (2L, 3L, 13L, 3L),   // same window at its doc-2 offset
      (3L, 0L, 12L, 5L),   // exact dup: whole doc
      (4L, 0L, 12L, 5L)), s"spans drifted: $got")
    // doc-level detectors see NOTHING here below their thresholds: the
    // span detector is the only one that names the shared substring
    assert(Dedup.exactGroups(docs).filter(col("n_docs") >= 2).count() == 1)
    // and the gate runs non-trivially on the driver corpus (exact-dup
    // docs guarantee full-length spans at sf0.01)
    assert(graft.queries.LlmOps.dupSpans(spark, sf001).count() > 0)
  }

  test("fuzzySpans: drifted shared passage caught by near windows, invisible to exact 8-grams") {
    // The case exact span dedup CANNOT see: a 16-token shared passage
    // with two drifted tokens (positions 5 and 11) — every identical
    // run is ≤ 5 tokens, so no 8-gram recurs — while the aligned
    // 16-token windows still share 11 of 19 distinct 2-shingles
    // (Jaccard 0.579 ≥ 0.5). Prefixes are stride-aligned (8 tokens) so
    // the passage occupies exactly window index 1 in both docs.
    def words(prefix: String, n: Int): Seq[String] =
      (0 until n).map(i => s"$prefix$i")
    val shared  = words("sh", 16).toArray
    val drifted = shared.clone
    drifted(5) = "x5"; drifted(11) = "x11"
    val d1 = words("a", 8) ++ shared ++ words("b", 12)   // len 36
    val d2 = words("c", 8) ++ drifted ++ words("d", 12)  // len 36
    val d3 = words("e", 36)                              // noise
    val docs = Seq(
      (1L, d1.mkString(" ")), (2L, d2.mkString(" ")), (3L, d3.mkString(" ")))
      .toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(docs, n = 8).collect().isEmpty,
      "exact 8-gram spans should find NOTHING across the drifted passage")
    val fuzzy = Dedup.fuzzySpans(docs, shingleN = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(fuzzy == Set((1L, 8L, 24L, 1L), (2L, 8L, 24L, 1L)),
      s"fuzzy spans drifted: $fuzzy")
    // and on the driver corpus the banded pipeline equals the exact
    // all-pairs threshold — the same equality the DuckDB oracle pins
    assert(graft.queries.LlmOps.dupSpansFuzzy(spark, sf001).count() > 0)
  }

  test("fuzzySpans: no windows-per-document cap (65536+ windows complete, round-10 packed ids raised)") {
    // One 524 320-token document → 65 539 stride-8 windows, past the
    // 65 536 bound where round-10's packed doc_id·65536+wi ids
    // raise_error'd. The (doc_id, wi) struct keys have no bound; all
    // tokens are distinct so no pair survives and the run must simply
    // COMPLETE (plus a planted cross-doc match to prove the struct
    // path still detects).
    val nTok = 65538 * 8 + 16
    val giant = (0 until nTok).map(i => s"g$i").mkString(" ")
    val copy16 = (0 until 16).map(i => s"g$i").mkString(" ") // window 0 of giant
    val docs = Seq((1L, giant), (2L, s"$copy16"))
      .toDF("doc_id", "text")
    val spans = Dedup.fuzzySpans(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    // the planted copy matches giant's window 0 — both docs span
    assert(spans.exists(_._1 == 1L) && spans.exists(_._1 == 2L),
      s"cross-doc match lost by the struct keys: ${spans.toSeq}")
    assert(spans.count(_._1 == 1L) == 1 &&
      spans.filter(_._1 == 1L).forall(t => t._2 == 0L && t._3 == 16L),
      s"giant doc should match ONLY its first window: ${spans.toSeq}")
  }

  test("nb confusion: cells partition the holdout, diagonal dominates, id sums consistent") {
    val cells = queries.LlmOps.nbConfusion(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val perDoc = queries.LlmOps.nbClassify(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    // cells == the per-doc gate re-aggregated (count AND id mass)
    val want = perDoc.groupBy(t => (t._2, t._3)).view
      .mapValues(xs => (xs.length.toLong, xs.map(_._1).sum)).toMap
    assert(cells.map(t => (t._1, t._2) -> ((t._3, t._4))).toMap == want)
    assert(cells.map(_._3).sum == perDoc.length)
    // the classifier is better than chance on its own corpus: diagonal
    // mass strictly dominates any single off-diagonal cell
    val diag = cells.filter(t => t._1 == t._2).map(_._3).sum
    val offMax = (cells.filter(t => t._1 != t._2).map(_._3) :+ 0L).max
    assert(diag > offMax, s"diagonal $diag not dominant (off max $offMax)")
  }

  test("bloom decontam: superset of exact flags (no false negatives), fp accounting consistent") {
    val bloom = queries.LlmOps.decontamBloom(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val exact = queries.LlmOps.decontam(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom.nonEmpty)
    bloom.foreach { case (id, ng, nb, ne, hasFp) =>
      assert(nb >= ne, s"doc $id: bloom $nb < exact $ne — a false negative")
      assert(nb <= ng && ne <= ng)
      assert(hasFp == (nb > ne))
      // the exact column agrees with the exact decontamination gate
      assert(ne == exact.getOrElse(id, 0L), s"doc $id exact-hit drift")
    }
    // every exactly-contaminated doc is Bloom-flagged (safe prefilter)
    val flagged = bloom.map(_._1).toSet
    exact.keys.foreach(id => assert(flagged.contains(id),
      s"contaminated doc $id missed by the Bloom prefilter"))
  }

  test("rep ngram: hand-computed masses on planted repetition, no row below n tokens") {
    import spark.implicits._
    val synth = Seq(
      (1L, "a b a b a b"),      // 2-grams: "a b"x3,"b a"x2; 3-grams: "a b a"x2,"b a b"x2
      (2L, "u v w x"),          // all distinct -> dup 0
      (3L, "solo"))             // 1 token -> no rows
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_rep").toFile
    synth.withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.parquet(new java.io.File(dir, "documents.parquet").getPath)
    val rows = queries.LlmOps.repNgram(spark, dir.getPath).collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        (r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(rows((1L, 2)) == ((9L, 15L, 15L)))   // "a b"*3*3 / all dup / 5 grams *3
    assert(rows((1L, 3)) == ((10L, 20L, 20L)))  // "a b a"*2*5 / all dup / 4 grams *5
    assert(rows((2L, 2))._2 == 0L && rows((2L, 3))._2 == 0L)
    assert(!rows.contains((3L, 2)) && !rows.contains((3L, 3)))
    // fraction columns are single divisions of the integer columns
    queries.LlmOps.repNgram(spark, dir.getPath).collect().foreach { r =>
      assert(r.getDouble(5) ==
        BigDecimal(r.getLong(2).toDouble / r.getLong(4))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
  }

  test("gopher rules: integer tests match recomputed rules, map-only plan, planted edge cases") {
    import spark.implicits._
    // planted docs hitting each rule boundary exactly
    val fifty = (1 to 50).map(i => s"the of word$i").mkString(" ") // 150 words, mean len ~3.6
    val synth = Seq(
      (1L, ("the be " + (1 to 60).map(i => s"word$i").mkString(" "))), // pass all
      (2L, "the of and that"),                         // < 50 words
      (3L, (1 to 60).map(_ => "a").mkString(" ")),     // mean len 1 < 3, no 2 stops
      (4L, (1 to 60).map(i => "w" * 11).mkString(" ")), // mean len 11 > 10
      (5L, ("the be " + (1 to 60).map(i => "12345").mkString(" "))), // alpha frac low
      (6L, fifty))
      .toDF("doc_id", "text")
    val rows = synth.select(col("doc_id"), col("text")).collect() // force
    val out = {
      val docs = synth
      // reuse the gate logic by writing synth to a temp documents dir
      val dir = java.nio.file.Files.createTempDirectory("graft_gopher").toFile
      docs.withColumn("lang", lit("en")).withColumn("source", lit("s"))
        .withColumn("n_chars", length(col("text")).cast("long"))
        .coalesce(1).write.parquet(new java.io.File(dir, "documents.parquet").getPath)
      queries.LlmOps.gopherRules(spark, dir.getPath).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(5), r.getBoolean(6),
          r.getBoolean(7), r.getBoolean(8), r.getBoolean(9))).toSeq
    }
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(1L)._7, "doc 1 should pass all rules")
    assert(!byId(2L)._3 && !byId(2L)._7, "doc 2 fails word count")
    assert(!byId(3L)._4, "doc 3 fails mean length (too short)")
    assert(!byId(4L)._4, "doc 4 fails mean length (too long)")
    assert(!byId(5L)._5, "doc 5 fails alpha fraction")
    assert(byId(6L)._7, "doc 6 (boundary 150 words) passes")
    // corpus gate: keep == conjunction, counts self-consistent
    val gate = queries.LlmOps.gopherRules(spark, sf001)
    val plan = gate.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"gopher rules should be map-only before the sort:\n${plan.take(600)}")
    gate.collect().foreach { r =>
      assert(r.getBoolean(9) == (r.getBoolean(5) && r.getBoolean(6) &&
        r.getBoolean(7) && r.getBoolean(8)))
      assert(r.getLong(2) >= r.getLong(1) , "chars < words impossible") // each word >= 1 char
    }
  }

  test("d_dedup_skew: hot boilerplate class fully recovered through the salted pair path") {
    val rows = queries.LlmOps.dedupSkew(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val hot = ids.filter(id => id % 3 == 0 && id < 1500).toSet
    val byId = rows.map(t => t._1 -> t).toMap
    // every hot doc pairs with EVERY other hot doc (within-class J is
    // 1.0 same-suffix / ~0.69 cross-suffix, both over the 0.5 bar) —
    // the straggler-shaped bucket the salt exists for
    hot.foreach { id =>
      val t = byId.getOrElse(id, fail(s"hot doc $id missing from output"))
      assert(t._2 == hot.size - 1,
        s"hot doc $id has ${t._2} partners, want ${hot.size - 1}")
      assert(t._3 == hot.sum - id, s"hot doc $id partner-id sum off")
      assert(t._4 == 1.0, s"hot doc $id best_j ${t._4} != 1.0")
    }
    // hot docs never match natural docs (their text was replaced)
    rows.filter(t => !hot.contains(t._1)).foreach { case (id, _, pidSum, _) =>
      assert(!hot.contains(id) && pidSum >= 0)
    }
  }

  test("simhash banding: high recall of true near-dups at tight hamming") {
    val sh = Dedup.simhashPairsPortable(docs, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = truePairs.count(sh.contains).toDouble / truePairs.size
    assert(recall >= 0.9, s"simhash recall $recall; found ${sh.size} pairs")
  }

  test("stop-shingle df cap bounds candidates under a planted hot shingle") {
    // 40 docs sharing one ubiquitous trigram ("alpha beta gamma") but
    // otherwise pairwise-distinct: uncapped, the hot shingle alone joins
    // 40·39/2 = 780 candidate pairs; capped at df ≤ 5 it is dropped and
    // no candidate survives (no other shingle is shared).
    val hot = (0 until 40).map(i =>
      (i.toLong, s"alpha beta gamma uniq${i}a uniq${i}b uniq${i}c uniq${i}d"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(hot, 3, 0.01, maxShingleDf = Long.MaxValue)
    val capped = Dedup.ngramJaccardPairs(hot, 3, 0.01, maxShingleDf = 5L)
    assert(uncapped.count() == 780L)
    assert(capped.count() == 0L)
    // capped jaccard is a LOWER bound of the exact one: with the cap NOT
    // triggered the values must be identical to the uncapped run
    val exact = Dedup.ngramJaccardPairs(hot, 3, 0.01, maxShingleDf = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val un = uncapped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact == un)
  }

  test("simhash manku banding finds ALL pairs within the hamming radius") {
    // guaranteed (not probabilistic) recall: compare against the exact
    // all-pairs hamming join on the same fingerprints
    val sh = docs.select(col("doc_id").as("doc"),
      org.apache.spark.sql.graft.PortableSimHash60.portable_simhash60(
        graft.text.norm_text(col("text"))).as("sh"))
    val a = sh.select(col("doc").as("da"), col("sh").as("ha"))
    val b = sh.select(col("doc").as("db"), col("sh").as("hb"))
    val dist = a.crossJoin(b).filter(col("da") < col("db"))
      .select(col("da"), col("db"), bit_count(col("ha").bitwiseXOR(col("hb"))).as("d"))
      .filter(col("d") <= 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
    // radius 6 as before, plus 7 and 8: the block count follows the
    // radius, so each is its own table geometry
    for (h <- Seq(6, 7, 8)) {
      val exact = dist.collect { case (p, d) if d <= h => p }.toSet
      val banded = Dedup.simhashPairsPortable(docs, maxHamming = h).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded == exact, s"h=$h banded=${banded.size} exact=${exact.size}")
    }
  }

  test("portable simhash60: JVM hash matches hash60 Column, banding exact, recall holds") {
    import org.apache.spark.sql.graft.PortableSimHash60
    // per-token hash parity: the JVM fast path == the Column/oracle form
    val toks = Seq("alpha", "δocument", "", "x1")
    val viaCol = toks.toDF("t")
      .select(graft.sketch.Sketch.hash60(col("t"))).collect().map(_.getLong(0))
    toks.zip(viaCol).foreach { case (t, expect) =>
      assert(PortableSimHash60.hash60(t) == expect, s"hash60('$t') diverged")
    }
    // guaranteed recall: paired-block banding == exact hamming join
    val sh = docs.select(col("doc_id").as("doc"),
      PortableSimHash60.portable_simhash60(
        graft.text.norm_text(col("text"))).as("sh"))
    val a = sh.select(col("doc").as("da"), col("sh").as("ha"))
    val b = sh.select(col("doc").as("db"), col("sh").as("hb"))
    val exact = a.crossJoin(b).filter(col("da") < col("db"))
      .filter(bit_count(col("ha").bitwiseXOR(col("hb"))) <= 6)
      .select(col("da"), col("db"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.simhashPairsPortable(docs, maxHamming = 6).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(banded == exact, s"banded=${banded.size} exact=${exact.size}")
    // locality: the true near-dup pairs are still recalled at radius 6
    val recall = truePairs.count(banded.contains).toDouble / truePairs.size
    assert(recall >= 0.9, s"portable simhash recall $recall")
  }

  test("simhashPairsPortable == brute-force Hamming join at every radius 0-8 (generated)") {
    import org.scalacheck.{Gen, Prop, Test}
    import org.scalacheck.Prop.propBoolean
    import org.scalacheck.rng.Seed
    import org.apache.spark.sql.graft.PortableSimHash60
    val vocab = Vector.tabulate(40)(i => s"w$i")
    val genText: Gen[Vector[String]] =
      Gen.choose(0, 60).flatMap(Gen.containerOfN[Vector, String](_, Gen.oneOf(vocab)))
    // substitute / insert / delete one token at a time: a few edits of
    // a shared base put pair distances on both sides of every radius
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
    val seen = scala.collection.mutable.Set[Int]()
    def agrees(texts: Seq[String]): Boolean = {
      val corpus = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      val sh = corpus.select(col("doc_id"),
        PortableSimHash60.portable_simhash60(norm_text(col("text"))))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val dist = for (x <- sh; y <- sh if x._1 < y._1)
        yield ((x._1, y._1), java.lang.Long.bitCount(x._2 ^ y._2))
      seen ++= dist.map(_._2)
      try (0 to 8).forall { h =>
        val got = Dedup.simhashPairsPortable(corpus, maxHamming = h).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toSet
        got == dist.filter(_._2 <= h).toSet
      } finally graft.util.IntermediateCaches.releaseAll(blocking = true)
    }
    // fixed edge cases: empty input, one document, duplicates, empty text
    for (texts <- Seq(Seq.empty[String], Seq("alpha beta"),
        Seq("alpha beta", "alpha beta", ""), Seq("", "")))
      assert(agrees(texts), s"disagrees on $texts")
    val prop = Prop.forAllNoShrink(genCorpus)(texts => agrees(texts) :| s"$texts")
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(8).withInitialSeed(Seed(20261020L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
    // the generated pairs straddle every radius: one sits at each distance
    assert((0 to 9).forall(seen.contains), s"distances seen: ${seen.toSeq.sorted}")
  }

  test("winnowing fingerprints: shared runs overlap, short docs empty") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota"),
      // shares the 9-token run with doc 1 inside different context →
      // k+w-1 = 6-token shared run guarantees a common fingerprint
      (2L, "prefix words here alpha beta gamma delta epsilon zeta eta theta iota and a tail"),
      (3L, "совершенно other content with nothing shared at all among these"),
      (4L, "too short")).toDF("doc_id", "text")
    val fps = df.select(col("doc_id"), winnow_fingerprint(col("text"), 3, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def set(id: Long) = fps(id).split(",").filter(_.nonEmpty).toSet
    assert(set(1).nonEmpty && (set(1) intersect set(2)).nonEmpty)
    assert((set(1) intersect set(3)).isEmpty)
    assert(fps(4L) == "")
    // deterministic across evaluations
    val again = df.select(col("doc_id"), winnow_fingerprint(col("text"), 3, 4).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == fps)
  }

  test("embedding-cosine LSH pairs recall planted near-dups, candidates bounded") {
    val rng = new scala.util.Random(7)
    val dim = 32
    def vec() = Array.fill(dim)(rng.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    // 10 planted near-dups: tiny perturbation of the first 10 (cos ≈ 0.999)
    val dups = (0 until 10).map { i =>
      val v = base(i)._2.map(x => x + 0.02f * rng.nextGaussian().toFloat)
      (100L + i, v)
    }
    import spark.implicits._
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Ann.cosinePairs(df, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 10) // all planted pairs are above 0.9
    val lsh = Ann.cosineLshPairsPortable(df, 0.9, planesPerTable = 16, tables = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // precision is exact by construction (candidates verified with the
    // same rounded cosine); recall of genuine near-dups must be total
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"lsh=${lsh.size} exact=${exact.size}")
    // verified values match the exact path
    val exactSims = Ann.cosinePairs(df, 0.9).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    Ann.cosineLshPairsPortable(df, 0.9, 16, 8).collect().foreach { r =>
      assert(exactSims((r.getLong(0), r.getLong(1))) == r.getDouble(2))
    }
  }

  test("PORTABLE embedding-cosine LSH pairs recall planted near-dups") {
    // the spec above on a second draw (seed 11): the (md5-sign,
    // floor-quantized) plane family must keep the recall law — total
    // recall of genuine near-dups at 16 planes x 8 tables — and
    // exact-verified precision by construction
    val rng = new scala.util.Random(11)
    val dim = 32
    def vec() = Array.fill(dim)(rng.nextGaussian().toFloat)
    val base = (0 until 60).map(i => (i.toLong, vec()))
    val dups = (0 until 10).map { i =>
      val v = base(i)._2.map(x => x + 0.02f * rng.nextGaussian().toFloat)
      (100L + i, v)
    }
    import spark.implicits._
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Ann.cosinePairs(df, 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 10)
    val lsh = Ann.cosineLshPairsPortable(df, 0.9, planesPerTable = 16, tables = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact))
    assert(lsh == exact, s"portable lsh=${lsh.size} exact=${exact.size}")
  }

  test("PORTABLE lsh keys: codegen and interpreted paths agree") {
    // the oracle replays the static compute(); this pins the Spark-side
    // expression (both eval paths) to the same convention
    import spark.implicits._
    val df = (0L until 32L).map(i =>
      (i, Array.tabulate(16)(j => ((i * 31 + j * 7) % 13 - 6) / 7.0f)))
      .toDF("vec_id", "embedding")
    val expr = org.apache.spark.sql.graft.PortableCosineLshKeys
      .portable_cosine_lsh_keys(org.apache.spark.sql.functions.col("embedding"), 8, 4)
    val viaPlan = df.select(expr.as("k")).collect().map(_.getSeq[Long](0).toVector)
    val direct = df.collect().map { r =>
      val v = r.getSeq[Float](1)
      org.apache.spark.sql.graft.PortableCosineLshKeys.compute(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(v.toArray),
        isFloat = true, 8, 4)
        .toLongArray().toVector
    }
    assert(viaPlan.toVector == direct.toVector)
  }

  test("PORTABLE ann LSH recall vs brute force") {
    val brute = Ann.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val lsh = Ann.lshTopKPortable(emb, 0L, 10, planes = 4, probe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.count(lsh.contains).toDouble / brute.size
    assert(recall >= 0.3, s"portable lsh recall $recall")
  }

  test("ann IVF recall vs brute force") {
    val brute = Ann.bruteForceTopK(emb, 0L, 10).collect().map(_.getLong(0)).toSet
    val ivf = Ann.ivfTopK(emb, 0L, 10, nCells = 16, probes = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = brute.count(ivf.contains).toDouble / brute.size
    assert(recall >= 0.2, s"ivf recall $recall (probing 4/16 cells)")
    // every IVF hit must carry the same exact similarity as brute force
    val bruteSims = Ann.bruteForceTopK(emb, 0L, 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    Ann.ivfTopK(emb, 0L, 10).collect().foreach { r =>
      assert(bruteSims(r.getLong(0)) == r.getDouble(1))
    }
    // Lloyd-refined cells keep re-rank exactness: exhaustive probe over
    // refined cells must equal brute force regardless of cell geometry
    val refinedAll = Ann.ivfTopK(emb, 0L, 10, nCells = 8, probes = 8, lloydIters = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val bruteTop = Ann.bruteForceTopK(emb, 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(refinedAll == bruteTop)
  }

  test("pq lloyd training reduces quantization error; recall gate well-formed") {
    val m = 4; val ksub = 8
    val (sub, seed) = Ann.pqTrainedCodebook(emb, m, ksub, 0, "vec_id", "embedding")
    val (_, trained) = Ann.pqTrainedCodebook(emb, m, ksub, 2, "vec_id", "embedding")
    // k-means objective: Σ over (row, subspace) of min-centroid L2².
    // Quantized-exact means sit within 5e-10/element of the true mean,
    // so the classic monotone-descent argument holds to far better than
    // the margin asserted here.
    val vecs = emb.select(col("embedding")).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    def err(cb: Array[Array[Array[Double]]]): Double =
      vecs.map { v =>
        (0 until m).map { j =>
          cb(j).map { c =>
            var d = 0.0; var i = 0
            while (i < sub) {
              val t = v(j * sub + i) - c(i); d += t * t; i += 1
            }
            d
          }.min
        }.sum
      }.sum
    val (e0, e2) = (err(seed), err(trained))
    assert(e2 < e0 * 0.999,
      s"training did not reduce quantization error: seed=$e0 trained=$e2")
    // the measured-recall gate: static iters axis, recall within [0, 1],
    // n_true = 5 queries × k 3
    val rows = graft.queries.LlmOps.annRecallPq(spark, sf001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(0L, 2L))
    rows.foreach { r =>
      assert(r.getLong(2) == 15L)
      val rec = r.getDouble(3)
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range: $r")
    }
  }

  test("nb classifier quality floor: holdout accuracy over margin AND the langid heuristic") {
    // The learned classifier must EARN its keep — but the floor has to
    // be measured on a corpus whose labels CARRY textual signal. The
    // driver's documents table does not qualify: its `lang` column is
    // independent of the text (measured: zero CJK chars, zero de/es/fr
    // marker stopwords anywhere, 'the'/'a' rates flat across classes —
    // Bayes-optimal there is the majority class, ~0.44, and t_langid's
    // heuristic collapses to constant-'en'). So this spec plants the
    // signal the heuristic itself keys on — per-language marker
    // stopwords (CJK chars for zh) over a shared noise vocabulary —
    // and requires NB, trained on the SAME 15/16 md5 split the
    // t_nb_classify gate uses, to (a) clear an absolute 0.9 floor and
    // (b) match-or-beat the hand-written heuristic on the held-out
    // 1/16. A learned model that can't beat the heuristic it replaces
    // is a regression, however green its hash gate is.
    val markers = Map(
      "en" -> Seq("the", "a", "of"), "de" -> Seq("der", "die", "und"),
      "es" -> Seq("el", "los", "una"), "fr" -> Seq("le", "les", "des"),
      "zh" -> Seq("一", "二", "三"))
    val noise = Seq("data", "spark", "table", "join", "scan", "batch",
      "window", "query", "merge", "vector", "stream", "filter")
    val langs = markers.keys.toSeq.sorted
    val rng = new scala.util.Random(421)
    val rows = (0 until 600).map { i =>
      val lang = langs(i % langs.size)
      val words = (0 until 20).map(_ => noise(rng.nextInt(noise.size))) ++
        (0 until 3).map(_ => markers(lang)(rng.nextInt(3)))
      (i.toLong, lang, rng.shuffle(words).mkString(" "))
    }
    val df = rows.toDF("doc_id", "lang", "text")
    val out = graft.text.Classify.nbClassifyHoldout(spark, df, "lang").collect()
    val n = out.length
    val acc = out.count(r => r.getString(1) == r.getString(2)).toDouble / n
    val held = df.filter(
      substring(md5(col("doc_id").cast("string").cast("binary")), 1, 1) === "0")
    val heur = held.select(col("lang"), graft.text.lang_id(col("text")).as("g")).collect()
    val heurAcc = heur.count(r => r.getString(0) == r.getString(1)).toDouble / heur.length
    info(f"NB holdout accuracy $acc%.4f vs langid heuristic $heurAcc%.4f on $n held-out docs")
    assert(n >= 20 && heur.length == n)
    assert(acc >= 0.90, f"NB holdout accuracy $acc%.4f below the 0.90 floor (n=$n)")
    assert(acc >= heurAcc,
      f"NB holdout accuracy $acc%.4f below the langid heuristic $heurAcc%.4f")
    // and on the signal-free driver table the learned model still runs
    // end-to-end (the hash gate pins its exact output; accuracy there
    // is bounded by the majority prior BY THE DATA, not by the model)
    assert(graft.queries.LlmOps.nbClassify(spark, sf001).count() > 0)
  }

  test("batched top-k rank is WindowGroupLimit-pruned (plan-asserted)") {
    // batchTopK/batchTopKIvf/batchTopKPq docstrings lean on Spark 4
    // planting a WindowGroupLimit partial/final pair around the
    // per-query rank window, so each map partition ships only k rows
    // per query into the rank exchange. That was prose until now: if a
    // Spark upgrade or a plan refactor drops the optimization, the
    // exchange silently carries the full scored corpus instead — so
    // assert the node is actually in the executed plan.
    val corpus = emb.filter(!col("vec_id").isin(0L, 100L))
    val queries = emb.filter(col("vec_id").isin(0L, 100L))
    for ((tag, df) <- Seq(
        "batchTopK" -> Ann.batchTopK(corpus, queries, k = 3),
        "batchTopKIvf" -> Ann.batchTopKIvf(corpus, queries, k = 3, nCells = 8, probes = 3),
        "batchTopKPq" -> Ann.batchTopKPq(corpus, queries, k = 3))) {
      df.collect() // finalize AQE so the asserted plan is the executed one
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"),
        s"$tag: WindowGroupLimit missing from the executed plan:\n${plan.take(1500)}")
    }
  }

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Array(1f, 0f), Array(1f, 0f), Array(0f, 1f))).toDF("a", "b", "c")
    val r = df.select(
      Ann.cosine(col("a"), col("b")).as("same"),
      Ann.cosine(col("a"), col("c")).as("orth")).collect().head
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1)) < 1e-12)
  }

  test("multimodal typed pipeline: binary payloads -> stub meta, fully distributed") {
    val assets = graft.multimodal.Multimodal.assetsFromDocuments(docs)
    val meta = graft.multimodal.Multimodal.extractMeta(assets)
    val m = meta.collect()
    assert(m.length == docs.count())
    assert(m.forall(x => x.width == (x.n_bytes % 640).toInt))
    assert(m.filter(_.kind != "video").forall(_.n_frames == 1))
  }

  test("char-trigram entropy separates repetitive text from diverse text") {
    import org.apache.spark.sql.functions.lit
    val rng = new scala.util.Random(5)
    val diverse = (0 until 300).map(_ => ('a' + rng.nextInt(26)).toChar).mkString
    val df = Seq((1L, "aaaaaaaaaaaaaaaaaaaaaaaaaaaa"), (2L, diverse), (3L, "ab"))
      .toDF("doc_id", "text")
    // run the same shape against the tiny frame via the Tables-free path
    val grams = df.filter(org.apache.spark.sql.functions.length(graft.text.norm_text(col("text"))) >= 3)
    assert(grams.count() == 2) // "ab" excluded
    val r = {
      val n = graft.text.norm_text(col("text"))
      df.filter(org.apache.spark.sql.functions.length(n) >= 3)
        .select(col("doc_id"), explode(org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.sequence(lit(1),
            org.apache.spark.sql.functions.length(n) - 2), i => n.substr(i, lit(3)))).as("g"))
        .groupBy(col("doc_id"), col("g")).count()
        .groupBy(col("doc_id"))
        .agg((org.apache.spark.sql.functions.log(2.0, sum(col("count"))) -
          sum(col("count") * org.apache.spark.sql.functions.log(2.0, col("count"))) /
            sum(col("count"))).as("e"))
        .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    }
    assert(r(1L) == 0.0) // single repeated trigram -> zero entropy
    assert(r(2L) > 6.0, s"diverse entropy ${r(2L)}") // ~unique trigrams -> ~log2(n)
    // the one-pass codegen expression equals the aggregation formulation
    val e = df.filter(org.apache.spark.sql.functions.length(graft.text.norm_text(col("text"))) >= 3)
      .select(col("doc_id"), org.apache.spark.sql.graft.TrigramEntropy
        .trigram_entropy(graft.text.norm_text(col("text"))).as("e"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(e.keySet == r.keySet)
    e.foreach { case (k, v) => assert(math.abs(v - r(k)) < 1e-9, s"doc $k: $v vs ${r(k)}") }
  }

  test("repetition ratios match the explode-based reference; bounds hold") {
    val fast = graft.queries.LlmOps.textRepetition(spark, sf0001)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // reference: token multiplicities via explode + groupBy
    val ref = Tables.documents(spark, sf0001)
      .select(col("doc_id"), explode(graft.text.tokens(col("text"))).as("w"))
      .groupBy(col("doc_id"), col("w")).count()
      .groupBy(col("doc_id"))
      .agg(org.apache.spark.sql.functions.max(col("count")).as("mx"),
        sum(col("count")).as("nt"),
        count(lit(1)).as("nd"))
      .select(col("doc_id"),
        (col("mx").cast("double") / col("nt")).as("top"),
        (col("nd").cast("double") / col("nt")).as("dist"))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(fast == ref)
    assert(fast.values.forall { case (t, d) => t > 0 && t <= 1 && d > 0 && d <= 1 })
  }

  test("stratified hash sample: subset, deterministic, rare stratum kept whole") {
    import graft.sampling.Sampling
    val all = Tables.documents(spark, sf0001)
    val sampled = Sampling.stratifiedHashSample(all, "doc_id", "lang",
      Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
    val ids = sampled.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.stratifiedHashSample(all, "doc_id", "lang",
      Map("en" -> 0.25, "zh" -> 1.0), defaultRate = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == again) // no RNG anywhere
    val allIds = all.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(allIds))
    val zhAll = all.filter(col("lang") === "zh").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(zhAll.subsetOf(ids), "rate-1.0 stratum must be kept whole")
    val enAll = all.filter(col("lang") === "en").count().toDouble
    val enKept = sampled.filter(col("lang") === "en").count().toDouble
    assert(enKept / enAll > 0.1 && enKept / enAll < 0.45,
      s"en keep rate ${enKept / enAll} far from 0.25")
  }

  test("weighted hash sample: keep decision is exactly bucket < floor(w*256)") {
    import graft.sampling.Sampling
    val rows = (0L until 400L).map(i => (i, (i % 5) * 0.25)) // w ∈ {0, .25, .5, .75, 1}
    val df = rows.toDF("doc_id", "w")
    val kept = Sampling.weightedHashSample(df, "doc_id", col("w"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    def bucket(id: Long): Int = Integer.parseInt(
      java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2), 16)
    val ref = rows.filter { case (id, w) =>
      w >= 1.0 || bucket(id) < math.floor(w * 256).toInt
    }.map(_._1).toSet
    assert(kept == ref)
    // w=0 keeps nothing; w=1 keeps EVERYTHING (the >=1 escape — no
    // 255/256 clamp may drop bucket-'ff' rows from a keep-all stratum)
    assert(rows.filter(_._2 == 0.0).map(_._1).forall(!kept.contains(_)))
    assert(rows.filter(_._2 == 1.0).map(_._1).forall(kept.contains(_)))
    // pin the escape on an id whose bucket IS 'ff' (the row the old
    // clamp silently dropped): md5("373") = ff... — bucket 255
    assert(bucket(373L) == 255)
    val ff = Sampling.weightedHashSample(
      Seq((373L, 1.0)).toDF("doc_id", "w"), "doc_id", col("w")).count()
    assert(ff == 1L, "weight>=1.0 must keep bucket-'ff' rows")
  }

  test("mixToTarget: integer thresholds, ratios near the recipe, subset per stratum") {
    import graft.sampling.Sampling
    val docs = Tables.documents(spark, sf001)
    val targets = Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15)
    val mixed = Sampling.mixToTarget(docs, "doc_id", "lang", targets)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // reference thresholds recomputed independently
    val m = targets.map { case (l, t) => before(l) * 100L / t }.min
    targets.foreach { case (l, t) =>
      val kept = t * m / 100L
      val b = 65536L * kept / before(l)
      assert(after.getOrElse(l, 0L) <= before(l))
      // md5 buckets ~ uniform: achieved count within 4σ of the binomial
      // around the bucket target (p = b/65536 over n_l trials)
      val p = b / 65536.0
      val expect = before(l) * p
      val tol = 4 * math.sqrt(before(l) * p * (1 - p)) + 1
      assert(math.abs(after.getOrElse(l, 0L) - expect) <= tol,
        s"$l: after=${after.get(l)} expect≈$expect ±$tol (b=$b)")
    }
    // determinism + subset
    val ids = mixed.select("doc_id").collect().map(_.getLong(0)).toSet
    val again = Sampling.mixToTarget(docs, "doc_id", "lang", targets)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids == again)
    // the binding stratum keeps (almost) everything
    val binding = targets.minBy { case (l, t) => before(l) * 100L / t }._1
    val bindB = 65536L * (targets(binding) * m / 100L) / before(binding)
    assert(bindB >= 64000, s"binding stratum $binding should keep ~all (b=$bindB)")
  }

  test("mixToSqrtTemperature: flattens toward sqrt-proportional, smallest stratum whole") {
    import graft.sampling.Sampling
    val docs = Tables.documents(spark, sf001)
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val mixed = Sampling.mixToSqrtTemperature(docs, "doc_id", "lang", before)
    val after = mixed.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val nMin = before.values.min
    before.foreach { case (l, n) =>
      // reference: k = isqrt(nMin·n) exactly, b = 65536k/n, binomial tol
      val k = java.math.BigInteger.valueOf(nMin)
        .multiply(java.math.BigInteger.valueOf(n)).sqrt().longValue()
      val b = 65536L * k / n
      if (n == nMin) assert(b == 65536L, s"smallest stratum must keep all (b=$b)")
      val p = math.min(1.0, b / 65536.0)
      val expect = n * p
      val tol = 4 * math.sqrt(n * p * (1 - p)) + 1
      assert(math.abs(after.getOrElse(l, 0L) - expect) <= tol,
        s"$l: after=${after.get(l)} expect≈$expect ±$tol")
    }
    // flattening: keep RATE decreases with stratum size, but kept COUNT
    // still increases — the signature of exponent-1/2 smoothing
    val rates = before.toSeq.sortBy(_._2).map { case (l, n) =>
      (n, after.getOrElse(l, 0L).toDouble / n) }
    rates.sliding(2).foreach {
      case Seq((na, ra), (nb, rb)) if na < nb =>
        assert(rb <= ra + 0.05, s"keep rate should fall with size: $rates")
      case _ =>
    }
  }

  test("epochUpsample: exact per-tier replication, distinct epoch indices, map-only plan") {
    import graft.sampling.Sampling
    val df = Seq((1L, 0.60, 10L), (2L, 0.50, 20L), (3L, 0.20, 30L)).toDF("id", "q", "ntok")
    val tiers = when(col("q") >= 0.55, 3).when(col("q") >= 0.45, 2).otherwise(1)
    val e = Sampling.epochUpsample(df, tiers)
    val rows = e.select(col("id"), col("epoch"), col("ntok")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    // each row replicated exactly `epochs` times, epoch = 1..n, carried
    // columns untouched
    assert(rows.toSet == Set((1L, 1, 10L), (1L, 2, 10L), (1L, 3, 10L),
      (2L, 1, 20L), (2L, 2, 20L), (3L, 1, 30L)))
    // map-only: the replication is a generator, no exchange in the plan
    val plan = e.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"epochUpsample must not shuffle:\n$plan")
    // gate-shape invariant: the t_epoch_mix composition conserves the
    // epoch-weighted token total through rank + pack
    val packed = graft.queries.LlmOps.epochMix(spark, sf001)
    val packedTokens = packed.agg(sum(col("n_tokens"))).collect().head.getLong(0)
    val expanded = Sampling.epochUpsample(
      Tables.documents(spark, sf001)
        .select(col("doc_id"), graft.text.norm_text(col("text")).as("norm"))
        .select(col("doc_id"), col("norm"), split(col("norm"), " ").as("t"))
        .select(col("doc_id"), size(col("t")).cast("long").as("ntok"),
          graft.text.quality_score_from(col("norm")).as("q")),
      when(col("q") >= 0.55, 3).when(col("q") >= 0.45, 2).otherwise(1))
    val expandedTokens = expanded.agg(sum(col("ntok"))).collect().head.getLong(0)
    assert(packedTokens == expandedTokens, "packing must conserve epoch-weighted tokens")
    val baseTokens = expanded.filter(col("epoch") === 1)
      .agg(sum(col("ntok"))).collect().head.getLong(0)
    assert(expandedTokens > baseTokens, "upsampling must actually replicate")
    // tier-boundary margin: the gate compares a Double quality score to
    // exact constants with >=, which is only cross-engine safe while no
    // document sits on a boundary — pin that no score at the gate's SF is
    // within 1e-9 of 0.45 or 0.55, so a last-ulp divergence between
    // Spark's and DuckDB's arithmetic cannot flip a tier
    val minMargin = expanded.filter(col("epoch") === 1)
      .select(least(abs(col("q") - 0.45), abs(col("q") - 0.55)).as("m"))
      .agg(min(col("m"))).collect().head.getDouble(0)
    assert(minMargin > 1e-9,
      s"a quality score sits within $minMargin of an epoch-tier boundary")
  }

  test("mixToTarget refuses a stratum whose threshold floors to zero") {
    import graft.sampling.Sampling
    // dominant stratum over-represented ~100000x vs its 1% share:
    // b = 65536 * k / n floors to 0 — must throw, not silently drop it
    val dom = (0L until 200000L).map(i => (i, "dom"))
    val rare = (200000L until 200002L).map(i => (i, "rare"))
    val df = (dom ++ rare).toDF("doc_id", "lang")
    val e = intercept[IllegalArgumentException] {
      Sampling.mixToTarget(df, "doc_id", "lang", Map("dom" -> 1, "rare" -> 99))
    }
    assert(e.getMessage.contains("over-represented"))
    // caller-supplied counts with a zero entry must fail the validation,
    // not reach the threshold math as a division by zero
    val e2 = intercept[IllegalArgumentException] {
      Sampling.mixToTarget(df, "doc_id", "lang",
        Map("dom" -> 50, "rare" -> 50), Map("dom" -> 10L, "rare" -> 0L))
    }
    assert(e2.getMessage.contains("no rows"))
  }

  test("weighted hash sample: negative and null weights keep nothing") {
    import graft.sampling.Sampling
    // -16777215.00390625: floor(w*256) = -4294967041, whose 32-bit
    // truncation wraps to +255 — the clamp must run in Long space
    val df = Seq((0L, -0.1), (1L, -5.0), (2L, 0.9), (3L, 0.9),
        (5L, -16777215.00390625))
      .toDF("doc_id", "w")
      .union(Seq((4L, Option.empty[Double])).toDF("doc_id", "w"))
    val kept = Sampling.weightedHashSample(df, "doc_id", col("w"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(!kept.exists(Set(0L, 1L, 4L, 5L)), s"out-of-domain weights leaked rows: $kept")
    assert(kept.subsetOf(Set(2L, 3L)))
  }

  test("unigram CE: matches a single-threaded reference LM") {
    val got = graft.queries.LlmOps.textUnigramCE(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // reference: build the LM in plain Scala
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"), graft.text.norm_text(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1).split(" ").toSeq)
    val counts = docs.flatMap(_._2).groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    val total = counts.values.sum.toDouble
    val vocab = counts.toSeq.sortBy { case (w, c) => (-c, w) }.take(10).toMap
    val ref = docs.map { case (id, toks) =>
      val ce = -toks.map(w => math.log(vocab.getOrElse(w, 1L).toDouble / total) / math.log(2.0)).sum / toks.size
      id -> math.rint(ce * 1e6) / 1e6
    }.toMap
    assert(got.keySet == ref.keySet)
    got.foreach { case (id, ce) =>
      assert(math.abs(ce - ref(id)) <= 1e-6, s"doc $id: $ce vs ${ref(id)}")
    }
    // OOV exercised: V=10 < corpus vocabulary
    assert(counts.size > 10)
  }

  test("chunk-pack composition: conservation, no split units, bounded overflow") {
    val seqs = graft.queries.LlmOps.chunkPack(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val chunks = graft.queries.LlmOps.textChunks(spark, sf0001).collect()
      .map(r => r.getLong(2))
    // every chunk lands in exactly one sequence; tokens conserved
    assert(seqs.map(_._2).sum == chunks.length)
    assert(seqs.map(_._3).sum == chunks.sum)
    // a sequence overflows the budget by at most one straddling chunk
    // (chunk size <= 50), and only the straddler's tail
    assert(seqs.forall(_._3 <= 256 + 50 - 1))
    assert(seqs.nonEmpty)
  }

  test("quality cutoff keeps exactly the >= P25 slice") {
    val got = graft.queries.LlmOps.qualityCutoff(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // reference: collect scores, take exact interpolated P25, filter
    val scored = Tables.documents(spark, sf0001)
      .select(col("doc_id"), col("lang"),
        graft.text.quality_score(col("text")).as("q"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val qs = scored.map(_._3).sorted
    val idx = 0.25 * (qs.length - 1)
    val (lo, hi) = (qs(idx.toInt), qs(math.ceil(idx).toInt))
    // HALF_UP like Spark's round() (math.rint is half-even and diverges
    // when the interpolated cut lands exactly on .5e-6)
    val cut = BigDecimal(lo + (idx - idx.toInt) * (hi - lo))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val keep = scored.filter(_._3 >= cut)
    val ref = keep.groupBy(_._2).map { case (l, rs) =>
      l -> (rs.size.toLong, rs.map(_._1).sum)
    }
    assert(got == ref)
    // roughly the top 75%
    assert(keep.size >= scored.length * 0.70 && keep.size <= scored.length * 0.80)
  }

  test("corpus stats: totals reconcile with the independent per-signal queries") {
    val rows = graft.queries.LlmOps.corpusStats(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    val docs = Tables.documents(spark, sf0001)
    assert(rows.values.map(_._1).sum == docs.count())
    // token total == t_text_stats' sum
    val tokTotal = docs.select(sum(graft.text.n_tokens(col("text")))).collect()(0).getLong(0)
    assert(rows.values.map(_._2).sum == tokTotal)
    // dup total == corpus-wide losers of exact-fp groups
    val dupTotal = graft.dedup.Dedup.exactGroups(docs)
      .agg(sum(col("n_docs") - 1)).collect()(0).getLong(0)
    assert(rows.values.map(_._4).sum == dupTotal)
    rows.values.foreach { case (_, _, q, _, nSrc) =>
      assert(q > 0 && q <= 1 && nSrc >= 1 && nSrc <= 20)
    }
  }

  test("batchTopK per query == independent bruteForceTopK runs") {
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, sf0001)
    val corpus = emb.filter(col("vec_id") % 100 =!= 0)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val batch = Ann.batchTopK(corpus, queries, k = 3)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) =>
        q -> rows.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
      }
    val qids = queries.select("vec_id").collect().map(_.getLong(0))
    assert(batch.keySet == qids.toSet)
    qids.foreach { q =>
      val solo = Ann.bruteForceTopK(emb.filter(col("vec_id") % 100 =!= 0 ||
          col("vec_id") === q), queryVecId = q, k = 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(batch(q) == solo, s"query $q: batch=${batch(q)} solo=$solo")
    }
  }

  test("semDedup == IVF-assign ∘ within-cell exact pairs ∘ union-find reference") {
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, sf0001)
    val got = graft.queries.LlmOps.semDedup(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: reuse the (independently spec'd) assignment + exact
    // pair detector, then a plain Scala union-find for the clustering
    val cell = Ann.ivfAssign(emb, nCells = 16)
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sameCellPairs = Ann.cosinePairs(emb, threshold = 0.44)
      .select("va", "vb").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => cell(a) == cell(b) }
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    sameCellPairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val nodes = sameCellPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val ref = nodes.map(n => n -> find(n)).filter { case (n, c) => n != c }.toMap
    assert(got == ref)
    assert(got.nonEmpty, "gate corpus should contain within-cell near-dups")
    // removal list is conservative vs the unpartitioned exact detector:
    // every removed vector is a true near-dup of something
    val allDupNodes = Ann.cosinePairs(emb, threshold = 0.44)
      .select("va", "vb").collect()
      .flatMap(r => Seq(r.getLong(0), r.getLong(1))).toSet
    assert(got.keySet.subsetOf(allDupNodes))
  }

  test("semDedup salted == unsalted (triangle partitioning on the cell key)") {
    import graft.similarity.Ann
    val emb = Tables.embeddings(spark, sf0001)
    val plain = Ann.semDedup(emb, threshold = 0.44)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Ann.semDedup(emb, threshold = 0.44, salt = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain == salted)
    assert(plain.nonEmpty)
  }

  test("semDedup removes planted exact-duplicate vectors") {
    import graft.similarity.Ann
    // three copies of one vector + two of another + unrelated singles
    val v1 = Array.fill(8)(0.5f); val v2 = Array.tabulate(8)(i => if (i % 2 == 0) 1.0f else -1.0f)
    def noise(seed: Int) = Array.tabulate(8)(i =>
      math.cos(seed * 37 + i * 13).toFloat) // deterministic, mutually far
    val rows = Seq(
      (0L, v1), (1L, v2), (2L, noise(1)), (3L, v1), (4L, noise(2)),
      (5L, v2), (6L, noise(3)), (7L, v1))
    val df = rows.toDF("vec_id", "embedding")
    val removed = Ann.semDedup(df, threshold = 0.999, nCells = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // identical vectors always share a cell (same argmax), so exact
    // copies are guaranteed removed regardless of cell geometry
    assert(removed == Map(3L -> 0L, 7L -> 0L, 5L -> 1L))
  }

  test("token chunking: counts and coverage invariants") {
    val chunks = graft.queries.LlmOps.textChunks(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val ntok = Tables.documents(spark, sf0001)
      .select(col("doc_id"), size(graft.text.tokens(col("text"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == ntok.keySet)
    byDoc.foreach { case (doc, cs) =>
      val n = ntok(doc)
      assert(cs.length == math.ceil(math.max(n - 50, 0) / 40.0).toInt + 1,
        s"doc $doc: ${cs.length} chunks for $n tokens")
      assert(cs.map(_._2).sorted.toSeq == (0L until cs.length.toLong))
      assert(cs.forall(_._3 <= 50))
      // chunks cover all tokens: last chunk reaches the end...
      val last = cs.maxBy(_._2)
      assert(last._2 * 40 + last._3 == n, s"doc $doc: last chunk ends before $n")
      // ...and no chunk is fully contained in its predecessor: chunk i
      // covers up to i*40+len, predecessor up to (i-1)*40+50, so every
      // non-first chunk must have len > 10 — the fixed count formula
      // guarantees len >= 11 for the tail (the old floor((n-1)/40)
      // formula emitted tails with len <= 10 that were strict subsets)
      assert(cs.forall(c => c._2 == 0 || c._3 > 50 - 40),
        s"doc $doc has a redundant tail chunk: $cs")
    }
  }

  test("oov rate: n_tokens consistent with textStats; top-100 corpus vocab covers most tokens") {
    val oov = graft.queries.LlmOps.textOov(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val stats = graft.queries.LlmOps.textStats(spark, sf0001)
      .select(col("doc_id"), col("n_tokens"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oov.forall { case (d, nt, _) => stats(d) == nt })
    assert(oov.forall { case (_, _, r) => r >= 0.0 && r <= 1.0 })
    // the synthetic corpus has a small vocabulary — top-100 covers most
    val mean = oov.map(_._3).sum / oov.length
    assert(mean < 0.5, s"mean oov $mean")
  }

  test("winnow codegen expression equals the HOF formulation on the corpus") {
    val fast = docs.select(col("doc_id"),
        graft.text.winnow_fingerprint_set(col("text"), 3, 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val ref = docs.select(col("doc_id"),
        graft.text.winnow_fingerprint_set_hof(col("text"), 3, 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fast == ref)
  }

  test("winnow expression matches HOF on whitespace-edged and messy text") {
    // trim() strips spaces only, so '\n'/'\t' edges survive into the
    // normalized string as an empty split token that joins grams — the
    // expression must reproduce that, not silently drop empties
    val messy = Seq(
      (1L, "alpha beta gamma delta epsilon zeta\n"),
      (2L, "\talpha beta gamma delta epsilon zeta"),
      (3L, "  alpha\t\tbeta  gamma\ndelta epsilon zeta eta  "),
      (4L, "ALPHA Beta GAMMA delta EPSILON zeta"),
      (5L, "one two three four five six seven eight"))
      .toDF("doc_id", "text")
    val fast = messy.select(col("doc_id"),
        graft.text.winnow_fingerprint_set(col("text"), 3, 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val ref = messy.select(col("doc_id"),
        graft.text.winnow_fingerprint_set_hof(col("text"), 3, 4).as("f"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fast == ref, s"fast=$fast ref=$ref")
    assert(fast.values.forall(_.nonEmpty))
  }

  test("winnow-pair detector recovers exactly the exact-Jaccard pair set") {
    import graft.dedup.Dedup
    val wp = Dedup.winnowPairs(docs, k = 3, w = 4, minShared = 3L)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val jac = Dedup.ngramJaccardPairs(docs, n = 3, threshold = 0.5)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // different detectors, same planted dups: agreement must be near-
    // total, but boundary pairs (jaccard ≈ threshold vs shared-run
    // structure) legitimately differ — at sf0.01 each set has exactly
    // one pair the other lacks
    val overlap = (wp intersect jac).size.toDouble
    assert(wp.nonEmpty && overlap / wp.size >= 0.9 && overlap / jac.size >= 0.9,
      s"winnow ${wp.size} vs jaccard ${jac.size}, overlap ${overlap.toInt}")
  }

  test("tfidf: corpus-rare terms outrank ubiquitous ones; 3 per doc") {
    val rows = graft.queries.LlmOps.textTfidf(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val byDoc = rows.groupBy(_._1)
    assert(byDoc.values.forall(_.length == 3))
    assert(byDoc.values.forall(cs => cs.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L)))
    // scores within a doc are non-increasing with rank
    assert(byDoc.values.forall { cs =>
      val s = cs.sortBy(_._4).map(_._3); s.zip(s.tail).forall { case (a, b) => a >= b }
    })
    // a token appearing in EVERY doc has idf 0 → can never beat a
    // positive-scored term; every doc has at least one non-universal token
    assert(rows.forall(_._3 >= 0.0))
  }

  test("d_dup_union's text evidence rides the banding detector, not the inverted-index join") {
    // the detector's frames are severed while the gate is built, so the
    // plans of the queries that materialized them are read as well
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      def onSuccess(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit = plans.add(qe.optimizedPlan.toString)
      def onFailure(f: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plan = try {
      val df = SparkEntry.queries("d_dup_union")(spark, sf0001)
      org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      (df.queryExecution.optimizedPlan.toString +: plans.asScala.toSeq)
        .mkString("\n").toLowerCase
    } finally spark.listenerManager.unregister(listener)
    assert(plan.contains("minhashsignature") || plan.contains("minhash_signature"),
      "expected the MinHash-LSH detector on the text side")
    assert(!plan.contains("s_df"),
      "the brute-force detector's df-cap window leaked into the union plan")
    graft.util.IntermediateCaches.releaseAll(blocking = true)
  }

  test("connected components: chains, cliques, singleton pairs") {
    import graft.dedup.Dedup
    val pairs = Seq(
      (1L, 2L), (2L, 3L),                       // path of 3
      (10L, 11L),                               // pair
      (20L, 21L), (21L, 22L), (20L, 22L),       // triangle
      (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L) // long chain (diameter 4)
    ).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L))
    spark.catalog.clearCache() // drop the operator's final labels cache
  }

  test("connected components of an empty pair set is empty, not a crash") {
    import graft.dedup.Dedup
    val empty = spark.emptyDataset[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.connectedComponents(empty).count() == 0)
    spark.catalog.clearCache()
  }

  test("t_entropy one-pass expression matches the aggregation formulation on the corpus") {
    val fast = graft.queries.LlmOps.textEntropy(spark, sf0001)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    val ref = graft.queries.LlmOps.textEntropyAgg(spark, sf0001)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    assert(fast == ref, {
      val diff = ref.keySet.union(fast.keySet)
        .filter(k => fast.get(k) != ref.get(k)).take(5)
      s"mismatch on ${diff.map(k => s"$k: ${fast.get(k)} vs ${ref.get(k)}")}"
    })
  }

  test("deterministic hash split: exhaustive, stable, near the target fractions") {
    import graft.sampling.Sampling
    val split = Sampling.deterministicSplit(docs, "doc_id", 0.05, 0.05)
    val n = docs.count().toDouble
    val counts = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.keySet.subsetOf(Set("train", "val", "test")))
    assert(counts.values.sum == n.toLong) // exhaustive + disjoint
    // 5% targets with binomial slack at n=500
    assert(counts("test") / n > 0.01 && counts("test") / n < 0.12, counts)
    assert(counts("val") / n > 0.01 && counts("val") / n < 0.12, counts)
    // membership depends only on the id: stable under repartitioning
    val again = Sampling.deterministicSplit(docs.repartition(7), "doc_id", 0.05, 0.05)
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val first = split.select("doc_id", "split").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(again == first)
    // hashSample(f) keeps exactly the ids below the hex threshold
    val sampled = Sampling.hashSample(docs, "doc_id", 0.10)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sampled == first.filter(_._2 != "train").keySet)
  }

  test("multimodal feature extraction feeds the ANN operators end-to-end") {
    val assets = graft.multimodal.Multimodal.assetsFromDocuments(docs)
    val feats = graft.multimodal.Multimodal.extractFeatures(assets)
    assert(feats.schema.map(_.name) == Seq("vec_id", "embedding"))
    // deterministic
    val a = feats.orderBy(col("vec_id")).limit(3).collect().map(_.getSeq[Float](1))
    val b = graft.multimodal.Multimodal.extractFeatures(assets)
      .orderBy(col("vec_id")).limit(3).collect().map(_.getSeq[Float](1))
    assert(a.toSeq.map(_.toList) == b.toSeq.map(_.toList))
    // the extracted features run through the similarity stack unchanged
    val top = Ann.bruteForceTopK(feats, queryVecId = 0L, k = 5).collect()
    assert(top.length == 5 && top.forall(r => !r.getDouble(1).isNaN))
  }

  test("portable simhash60 is deterministic and locality-sensitive") {
    import org.apache.spark.sql.graft.PortableSimHash60.simhash
    val h1 = simhash("the quick brown fox jumps over dog")
    val h2 = simhash("the quick brown fox jumps over dog")
    val h3 = simhash("the quick brown fox leaps over dog")
    val far = simhash("completely different words entirely here now")
    assert(h1 == h2)
    assert(java.lang.Long.bitCount(h1 ^ h3) < java.lang.Long.bitCount(h1 ^ far))
  }

  test("text functions agree with hand-computed values") {
    val df = Seq("The  Quick  fox of the hill!").toDF("text")
    val r = df.select(
      norm_text(col("text")).as("n"),
      n_tokens(col("text")).as("nt"),
      stopword_count(col("text")).as("sc"),
      punct_count(col("text")).as("pc")).collect().head
    assert(r.getString(0) == "the quick fox of the hill!")
    assert(r.getInt(1) == 6)
    assert(r.getInt(2) == 3) // the, of, the
    assert(r.getInt(3) == 1) // '!'
  }

  test("codegen NearestCentroid == HOF broadcast-column argmax (k = 16 and 256)") {
    for (k <- Seq(16, 256)) {
      val seeds = Ann.ivfSeeds(emb, k, 0, "vec_id", "embedding")
      val got = Ann.ivfAssign(emb, nCells = k)
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = Ann.assignToSeedsHof(emb, seeds, "vec_id", "embedding")
        .select(col("vec_id"), col("cell")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == ref, s"codegen/HOF assignment drift at k=$k")
    }
  }

  test("NearestCentroid degenerate inputs match the HOF formulation") {
    import org.apache.spark.sql.graft.NearestCentroid.nearest_centroid
    // ties (duplicate centroid under two ids → higher id), zero-norm
    // vector (NaN cosines → tie-break), zero-norm centroid vs finite
    // ones (NaN sorts above any value in Spark's double order),
    // dimension mismatch (null cosine sorts below everything)
    val cells = Array(3L, 7L, 9L)
    val dupCent = Array(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0))
    val df = Seq(
      (1L, Array(2.0f, 0.0f)),   // ties cells 3 and 9 → 9
      (2L, Array(0.0f, 0.0f)),   // all NaN → highest cell 9
      (3L, Array(0.0f, 5.0f))).toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
      nearest_centroid(col("embedding"), cells, dupCent).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 9L, 2L -> 9L, 3L -> 7L))
    // zero-norm centroid: NaN beats every finite cosine, ties to high id
    val zeroCent = Array(Array(1.0, 0.0), Array(0.0, 0.0))
    val gz = df.filter(col("vec_id") === 1L).select(
      nearest_centroid(col("embedding"), Array(1L, 2L), zeroCent).as("cell"))
      .head().getLong(0)
    assert(gz == 2L)
    // dimension mismatch on one centroid: its null cosine always loses
    val mixCent = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0))
    val gm = df.filter(col("vec_id") === 1L).select(
      nearest_centroid(col("embedding"), Array(1L, 2L), mixCent).as("cell"))
      .head().getLong(0)
    assert(gm == 2L)
    // empty seed set: NULL (array_max over an empty array)
    val ge = df.limit(1).select(
      nearest_centroid(col("embedding"), Array.empty[Long],
        Array.empty[Array[Double]]).as("cell")).head()
    assert(ge.isNullAt(0))
    // null-element centroid == HOF parity: its cosine is null in the
    // HOF formulation, which sorts BELOW every real value — the codegen
    // path must never pick it by value (end-to-end through collectSeeds)
    val nullSeed = Seq(
      (9L, Seq[java.lang.Double](1.0, null)),
      (2L, Seq[java.lang.Double](0.0, 1.0))).toDF("cell_id", "cvec")
    val probe = Seq((1L, Array(5.0f, 1.0f))).toDF("vec_id", "embedding")
    val viaCodegen = Ann.assignToSeeds(probe, nullSeed, "vec_id", "embedding")
      .select(col("cell")).head().getLong(0)
    val viaHof = Ann.assignToSeedsHof(probe, nullSeed, "vec_id", "embedding")
      .select(col("cell")).head().getLong(0)
    assert(viaCodegen == 2L && viaHof == 2L,
      s"null-element centroid must lose: codegen=$viaCodegen hof=$viaHof")
    // null-element INPUT VECTOR parity (the mirror case): every cosine
    // of a null-element vector is null in the HOF formulation, so the
    // argmax falls through to the tie-break — highest cell id — and the
    // codegen path must agree (its assignCompute nulls every cosine the
    // same way). Unreachable for the parquet embeddings (containsNull =
    // false), but the expression ACCEPTS containsNull inputs, so the
    // parity claim needs an assertion, not a comment.
    val goodSeeds = Seq(
      (9L, Seq[java.lang.Double](1.0, 0.0)),
      (2L, Seq[java.lang.Double](0.0, 1.0))).toDF("cell_id", "cvec")
    val nullProbe = spark.createDataFrame(
      java.util.List.of(
        org.apache.spark.sql.Row(1L, Seq[java.lang.Double](5.0, null))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true)))))
    val nvCodegen = Ann.assignToSeeds(nullProbe, goodSeeds, "vec_id", "embedding")
      .select(col("cell")).head().getLong(0)
    val nvHof = Ann.assignToSeedsHof(nullProbe, goodSeeds, "vec_id", "embedding")
      .select(col("cell")).head().getLong(0)
    assert(nvCodegen == nvHof && nvCodegen == 9L,
      s"null-element input vector parity: codegen=$nvCodegen hof=$nvHof")
  }

  test("batchTopKIvf: exhaustive probes == batchTopK; partial probes recall planted neighbors") {
    val qIds = Seq(0L, 100L, 200L)
    val corpus = emb.filter(!col("vec_id").isin(qIds: _*))
    val queries = emb.filter(col("vec_id").isin(qIds: _*))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    // probing every cell makes IVF exact — row-identical to batchTopK
    val exhaustive = Ann.batchTopKIvf(corpus, queries, k = 5,
      nCells = 8, probes = 8).collect().map(key).toSet
    val brute = Ann.batchTopK(corpus, queries, k = 5).collect().map(key).toSet
    assert(exhaustive == brute)
    // planted neighbors: each query's exact duplicate lands in the SAME
    // cell (identical vector → identical argmax), so even 1-probe
    // search must return it at rank 1 with sim 1.0
    val rows = queries.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    val planted = rows.map { case (id, v) => (id + 5000L, v) }.toSeq
      .toDF("vec_id", "embedding")
    val got = Ann.batchTopKIvf(
      corpus.select(col("vec_id"), col("embedding")).unionAll(planted),
      queries, k = 1, nCells = 8, probes = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == qIds.map(q => (q, q + 5000L, 1.0)).toSet,
      s"planted neighbor missed at 1 probe: $got")
  }

  test("s_ann_index_commit: retrieval through the committed index == the in-memory IVF gate") {
    val viaArtifact = graft.queries.LlmOps.annIndexCommit(spark, sf0001)
      .collect().toSeq
    val inMemory = graft.queries.LlmOps.annBatchIvf(spark, sf0001)
      .collect().toSeq
    assert(viaArtifact == inMemory,
      "probe through the re-read index diverges from the in-memory path")
    // both index tables really are parquet artifacts on disk
    val tmp = sys.props("java.io.tmpdir")
    Seq("graft_ann_index_cents", "graft_ann_index_asg").foreach { d =>
      val files = Option(new java.io.File(tmp, d).listFiles())
        .getOrElse(Array.empty).map(_.getName)
      assert(files.exists(_.endsWith(".parquet")), s"$d has no parquet files")
    }
  }

  test("s_ann_ivfpq_commit: retrieval through the re-read compressed index == in-memory IVFADC") {
    val viaArtifact = graft.queries.LlmOps.annIvfPqIndexCommit(spark, sf0001)
      .collect().toSeq
    val inMemory = graft.queries.LlmOps.annIvfPq(spark, sf0001)
      .collect().toSeq
    assert(viaArtifact == inMemory,
      "ADC probe through the re-read index/codebooks diverges from the in-memory path")
    // the at-rest row really is the compressed shape: cell + codes + norm
    val tmp = sys.props("java.io.tmpdir")
    val idx = spark.read.parquet(
      new java.io.File(tmp, "graft_ivfpq_index_rows").getAbsolutePath)
    assert(idx.columns.toSet == Set("vec_id", "cell", "codes", "cn"))
    assert(idx.select(size(col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(4), "every row carries exactly m=4 codes")
  }

  test("batchTopKIvfPq: exhaustive probes == flat PQ; partial-probe sims are ADC-exact") {
    val qIds = Seq(0L, 100L, 200L)
    val corpus = emb.filter(!col("vec_id").isin(qIds: _*))
    val queries = emb.filter(col("vec_id").isin(qIds: _*))
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))
    // probing every cell reduces IVFADC to flat ADC — row-identical to
    // batchTopKPq (cell pruning affects WHICH rows score, never scores)
    val exhaustive = Ann.batchTopKIvfPq(corpus, queries, k = 5,
      nCells = 8, probes = 8).collect().map(key).toSet
    val flat = Ann.batchTopKPq(corpus, queries, k = 5).collect().map(key).toSet
    assert(exhaustive == flat)
    // partial probes: every returned sim must equal the flat ADC sim
    // for that (query, vec) — pruning may drop pairs, never rescore them
    val nCorpus = corpus.count().toInt
    val allAdc = Ann.batchTopKPq(corpus, queries, k = nCorpus).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val partial = Ann.batchTopKIvfPq(corpus, queries, k = 3,
      nCells = 8, probes = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(partial.nonEmpty)
    partial.foreach { case (q, v, sim) =>
      assert(allAdc((q, v)) == sim, s"($q,$v): IVFADC $sim != flat ${allAdc((q, v))}")
    }
  }

  test("incremental IVF-PQ: history codes byte-identical across the merge, batch retrievable, no-retrain visible") {
    val qIds = Seq(0L, 100L, 200L)
    val rest = emb.filter(!col("vec_id").isin(qIds: _*))
    val history = rest.filter(col("vec_id") % 5 =!= 2)
    val batch = rest.filter(col("vec_id") % 5 === 2)
    val queries = emb.filter(col("vec_id").isin(qIds: _*))
    // 1. appending a batch must not rewrite one byte of the persisted
    // index: history rows encoded alone == history rows inside the
    // merged build (same codebooks — derived from history either way)
    val (cells, cents) = graft.similarity.Ann.collectSeeds(
      graft.similarity.Ann.ivfSeeds(history, 8, 0, "vec_id", "embedding"))
    val (sub, pqc) = graft.similarity.Ann.pqTrainedCodebook(
      history, 4, 8, 0, "vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      graft.similarity.Ann.ivfPqEncode(df, cells, cents, sub, pqc,
          "vec_id", "embedding")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Any](2).toList,
          r.getDouble(3))).sortBy(_._1).toList
    val histAlone = rows(history)
    val merged = rows(history.unionByName(batch))
    assert(merged.filter(r => histAlone.exists(_._1 == r._1)) == histAlone,
      "history index rows changed across the merge")
    assert(merged.size == histAlone.size + batch.count(),
      "merged index lost or duplicated rows")
    // 2. batch vectors are retrievable through the merged index
    val got = graft.similarity.Ann.batchTopKIvfPqIncremental(
      history, batch, queries, k = 5, nCells = 8, probes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.exists(r => r._2 % 5 == 2), "no batch vector ever retrieved")
    // 3. the no-retrain property is visible: scores equal the full-
    // retrain path ONLY when the codebooks coincide — here they differ
    // (history excludes %5==2 ids below the seed cutoff), so at least
    // one (query, vec) pair must score differently
    val retrained = graft.similarity.Ann.batchTopKIvfPq(
      rest, queries, k = 5, nCells = 8, probes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val inc = got.map(r => (r._1, r._2) -> r._3).toMap
    assert(inc != retrained,
      "incremental path is indistinguishable from a full retrain — " +
        "the codebook freeze is not doing anything on this fixture")
  }

  test("residual IVFADC: codebook-seed vectors reconstruct exactly, pruning never rescores") {
    val qIds = Seq(0L, 100L, 200L)
    val corpus = emb.filter(!col("vec_id").isin(qIds: _*))
    val queries = emb.filter(col("vec_id").isin(qIds: _*))
    val n = corpus.count().toInt
    val exact = Ann.batchTopK(corpus, queries, k = n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val all = Ann.batchTopKIvfPqRes(corpus, queries, k = n,
      nCells = 8, probes = 8).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    // the ksub lowest-id corpus vectors ARE the residual codebook, so
    // their residuals encode with zero reconstruction error and the
    // composed ⟨q,c⟩ + ⟨q,r̂⟩ score must equal the exact cosine up to
    // the two 1e-9 quantizations + round(6)
    val seedIds = corpus.select(col("vec_id")).orderBy(col("vec_id"))
      .limit(8).collect().map(_.getLong(0)).toSet
    val onSeeds = all.filter { case ((_, v), _) => seedIds.contains(v) }
    assert(onSeeds.nonEmpty)
    onSeeds.foreach { case ((q, v), sim) =>
      assert(math.abs(sim - exact((q, v))) <= 1e-5,
        s"codebook seed $v not reconstructed exactly for query $q: " +
          s"$sim vs ${exact((q, v))}")
    }
    // non-seed vectors carry real reconstruction error — the gate's
    // approximation is doing something, not silently exact everywhere
    val offSeeds = all.filterNot { case ((_, v), _) => seedIds.contains(v) }
    assert(offSeeds.exists { case (k2, sim) => math.abs(sim - exact(k2)) > 1e-4 })
    // partial probes prune, never rescore
    val allMap = all.toMap
    val partial = Ann.batchTopKIvfPqRes(corpus, queries, k = 3,
      nCells = 8, probes = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
    assert(partial.nonEmpty)
    partial.foreach { case (k2, sim) =>
      assert(allMap(k2) == sim, s"$k2 rescored: $sim vs ${allMap(k2)}")
    }
  }

  test("IVFADC recall gate: exhaustive-probe row == flat-PQ recall gate's untrained row") {
    // the two measured-quality gates must agree where their paths
    // coincide: probes = nCells makes the composition flat PQ, so its
    // n_hit equals s_ann_recall_pq's iters-0 n_hit against the same truth
    val comp = queries.LlmOps.annRecallIvfPq(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val flat = queries.LlmOps.annRecallPq(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(comp(8L) == flat(0L),
      s"exhaustive IVFADC ${comp(8L)} != flat PQ iters-0 ${flat(0L)}")
    // pruning can only lose hits
    assert(comp(3L)._1 <= comp(8L)._1)
  }

  test("semDedupByCellSize: derived k >= 64, planted duplicates recalled within cells") {
    val dim = 16
    val rnd = new scala.util.Random(7)
    // 960 cluster vectors (8 clusters, gaussian noise — same-cluster
    // cosine ~0.86, far from the 0.999 threshold) + 64 planted EXACT
    // duplicates; identical vectors share an argmax cell by
    // construction, so within-cell recall of the planted pairs must be
    // total no matter how the 64 derived cells carve the space
    val base = (0L until 960L).map { i =>
      val c = (i % 8).toInt
      i -> Array.tabulate(dim)(d =>
        (if (d == c) 10.0 else 0.0) + rnd.nextGaussian()).map(_.toFloat)
    }
    val dups = (0L until 64L).map(j => (2000L + j) -> base((j * 15).toInt)._2)
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val removed = Ann.semDedupByCellSize(df, threshold = 0.999,
      targetCellSize = 16) // n=1024 → k = ceil(1024/16) = 64
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val expected = dups.map { case (dupId, _) => dupId -> (dupId - 2000L) * 15L }.toMap
    assert(removed == expected,
      s"planted-dup removal drift: missing ${expected.keySet -- removed.keySet}, " +
        s"extra ${removed.keySet -- expected.keySet}")
    // and the derived partition actually spreads: no cell swallows the corpus
    val cellSizes = Ann.ivfAssign(df, nCells = 64)
      .groupBy(col("cell")).count().collect().map(_.getLong(1))
    assert(cellSizes.max < 1024 / 4,
      s"cell lever inert: max cell ${cellSizes.max} of 1024")
  }

  test("semDedup with Lloyd-refined cells (lloydIters > 0) still recalls planted duplicates") {
    // cell GEOMETRY changes under Lloyd refinement; the within-cell
    // verify and the recall of identical vectors (same argmax cell for
    // ANY centroid set) must not — the production-geometry variant of
    // the semDedupByCellSize spec
    val rnd = new scala.util.Random(13)
    val base = (0L until 240L).map { i =>
      val c = (i % 4).toInt
      i -> Array.tabulate(8)(d =>
        (if (d == c) 10.0 else 0.0) + rnd.nextGaussian()).map(_.toFloat)
    }
    val dups = (0L until 16L).map(j => (500L + j) -> base((j * 15).toInt)._2)
    val df = (base ++ dups).toDF("vec_id", "embedding")
    val removed = Ann.semDedup(df, threshold = 0.999, nCells = 8,
      lloydIters = 2).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val expected = dups.map { case (d, _) => d -> (d - 500L) * 15L }.toMap
    assert(removed == expected)
  }

  test("embedding decontamination: planted paraphrase-leaks flagged, benchmark side broadcast") {
    import graft.similarity.Ann
    // plant: exact copies of two benchmark vectors under fresh corpus
    // ids — the semantic leak no lexical detector can see
    val bench = emb.filter(col("vec_id") % 50 === 0)
    val planted = bench.limit(2)
      .select((col("vec_id") + 7001L).as("vec_id"), col("embedding"))
    val spiked = emb.unionByName(planted.withColumn("label", lit(0)))
    val benchSpiked = spiked.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bvec"))
    val flagged = spiked.filter(col("vec_id") % 50 =!= 0)
      .crossJoin(broadcast(benchSpiked))
      .select(col("vec_id"), round(Ann.cosine(col("embedding"), col("bvec")), 6).as("sim"))
      .filter(col("sim") >= 0.44)
      .groupBy(col("vec_id")).agg(max(col("sim")).as("best_sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val plantedIds = planted.collect().map(_.getLong(0))
    plantedIds.foreach { id =>
      assert(flagged.get(id).contains(1.0), s"planted leak $id not flagged at sim 1.0")
    }
    // the gate's own plan: benchmark broadcast, corpus never shuffles
    // before the (contamination-sized) aggregate
    val plan = queries.LlmOps.decontamEmbed(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"benchmark side not broadcast:\n${plan.take(900)}")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("semantic capstone: both detectors fire, funnel consistent, union removal bounded") {
    val rows = queries.LlmOps.pipelineSemantic(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(rows.nonEmpty)
    // corpus fully accounted for
    assert(rows.map(_._2).sum == docs.count())
    // both modalities actually removed something corpus-wide
    assert(rows.map(_._3).sum > 0, "text detector removed nothing")
    assert(rows.map(_._4).sum > 0, "semantic detector removed nothing")
    rows.foreach { case (lang, in, rt, rs, kept, _) =>
      // union removal: at least max(rt, rs) docs gone, at most rt + rs
      assert(kept <= in - math.max(rt, rs) && kept >= in - rt - rs,
        s"$lang: kept $kept outside union bounds (in=$in, text=$rt, sem=$rs)")
    }
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("budget capstone: one corpus scan, budget respected, manifest locality holds, caches released") {
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val df = graft.queries.LlmOps.pipelineBudget(spark, sf001)
    val manifest = df.collect()
    // one documents.parquet scan: floor, directory, selection window
    // and manifest all fan out of the staged cache
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def docScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Seq.empty[FileSourceScanExec]
      }
      val hidden = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(m.relation.cachedPlan)
        case _ => Seq.empty[SparkPlan]
      }
      here ++ (p.children ++ hidden).flatMap(docScans)
    }
    val all = docScans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("documents")))
    val scans = all.foldLeft(Vector.empty[FileSourceScanExec])(
      (acc, s) => if (acc.exists(_ eq s)) acc else acc :+ s)
    assert(scans.size == 1,
      s"expected exactly 1 documents.parquet scan, found ${scans.size}")
    // the selected set respects the budget: recompute the floor +
    // greedy prefix naively and compare manifest membership (id_sum)
    val scored = docs
      .select(col("doc_id"), norm_text(col("text")).as("norm"))
      .select(col("doc_id"),
        quality_score_from(col("norm")).as("q"),
        size(split(col("norm"), " ")).cast("long").as("ntok"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
      .filter { case (_, q, nt) => q >= 0.3 && nt >= 10 }
    val budget = scored.map(_._3).sum * 2 / 5
    val sel = scored.sortBy { case (id, q, _) => (-q, id) }
      .scanLeft((0L, 0L)) { case ((_, cum), (id, _, nt)) => (id, cum + nt) }
      .drop(1).takeWhile(_._2 <= budget).map(_._1).toSet
    assert(manifest.map(_.getLong(7)).sum == sel.sum, "manifest id_sum != greedy selection")
    assert(manifest.map(_.getLong(1)).sum == sel.size.toLong)
    // z-order locality carries through the composition
    manifest.foreach { r =>
      assert(r.getLong(3) - r.getLong(2) < 8 && r.getLong(5) - r.getLong(4) < 8,
        s"file ${r.getLong(0)} breaks the <8-bucket locality bound")
    }
    assert(graft.util.IntermediateCaches.trackedCount > 0)
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("span-cleaning capstone: one corpus scan, consistent totals, caches released") {
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val df = graft.queries.LlmOps.pipelineSpans(spark, sf001)
    val rows = df.collect()
    // scan-node audit (same machinery as the e2e capstone below):
    // EVERY stage — span detection, sketch cutoff, survivors,
    // cleaned-text fingerprint — fans out over the one staged cache,
    // so exactly ONE documents.parquet scan may exist in the plan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    def docScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Seq.empty[FileSourceScanExec]
      }
      val hidden = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(m.relation.cachedPlan)
        case _ => Seq.empty[SparkPlan]
      }
      here ++ (p.children ++ hidden).flatMap(docScans)
    }
    val all = docScans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("documents")))
    val scans = all.foldLeft(Vector.empty[FileSourceScanExec])(
      (acc, s) => if (acc.exists(_ eq s)) acc else acc :+ s)
    assert(scans.size == 1,
      s"expected exactly 1 documents.parquet scan (the staged trunk), " +
        s"found ${scans.size}:\n${scans.map(_.simpleString(80)).mkString("\n")}")
    // structural invariants that hold at any SF: survivors exist, the
    // sketch cutoff is a bucket midpoint in (0,1), span removal took
    // tokens from SOMEWHERE (the corpus has planted duplicates), and
    // clean+removed decompose the survivors' token total
    assert(rows.nonEmpty)
    val cutVals = rows.map(r => r.getDouble(r.fieldIndex("cut"))).distinct
    assert(cutVals.length == 1 && cutVals.head > 0.0 && cutVals.head < 1.0)
    assert(rows.map(_.getLong(rows.head.fieldIndex("n_tokens_removed"))).sum > 0,
      "no spans removed — planted duplicates should produce cross-doc 8-grams")
    // fingerprints are nonzero for populated languages (XOR of 60-bit
    // hashes collapsing to 0 by chance is ~2^-60 per language)
    assert(rows.forall(r => r.getLong(r.fieldIndex("n_docs")) > 0))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(graft.util.IntermediateCaches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("e2e pipeline capstone: monotone funnel, conserved tokens, one corpus scan, caches released") {
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val df = graft.queries.LlmOps.pipelineE2e(spark, sf001)
    val card = df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // SCAN-NODE AUDIT (the docstring's "corpus scanned once" claim,
    // asserted): walk the finalized physical plan INCLUDING cached
    // plans and count FileSourceScan operators over documents.parquet.
    // Since round 17 the stage-1 trunk is HARD-severed (Lineage.sever)
    // — its one corpus scan runs eagerly at checkpoint time and the
    // downstream plan holds only a checkpoint-RDD scan — so exactly
    // ONE file scan may remain: the dimension-sized benchmark slice
    // (external input by definition, %20 filter). Any other scan means
    // a stage fell off the trunk and re-reads the corpus.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    // manual recursion: AQE hides subtrees behind LEAF nodes (query
    // stages, reused exchanges) and caches behind InMemoryRelation, so
    // TreeNode.collect alone sees none of the real scans
    def docScans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec => Seq(f)
        case _ => Seq.empty[FileSourceScanExec]
      }
      val hidden = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => Seq(r.child)
        case m: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          Seq(m.relation.cachedPlan)
        case _ => Seq.empty[SparkPlan]
      }
      here ++ (p.children ++ hidden).flatMap(docScans)
    }
    val all = docScans(df.queryExecution.executedPlan)
      .filter(_.metadata.get("Location").exists(_.contains("documents")))
    // dedupe by INSTANCE: every stage reading the shared trunk cache
    // resolves to the same cachedPlan scan object; two equal-but-
    // distinct instances would mean the corpus is genuinely read twice
    val scans = all.foldLeft(Vector.empty[FileSourceScanExec])(
      (acc, s) => if (acc.exists(_ eq s)) acc else acc :+ s)
    assert(scans.size == 1,
      s"expected exactly 1 documents.parquet scan (the benchmark " +
        s"slice; the severed trunk scans at checkpoint time), found " +
        s"${scans.size}:\n${scans.map(_.simpleString(80)).mkString("\n")}")
    assert(scans.head.simpleString(200).contains("% 20"),
      s"the surviving scan must be the %20 benchmark slice: " +
        scans.head.simpleString(200))
    // the gate's value-exactness is the DuckDB oracle's job; this spec
    // pins the structural invariants that hold at ANY scale factor
    val Seq(f, d, c, m) = Seq("1_filtered", "2_deduped",
      "3_decontaminated", "4_mixed").map(card(_))
    val p = card("5_packed")
    // each removal stage only shrinks the corpus (docs AND tokens)
    assert(f._1 >= d._1 && d._1 >= c._1 && c._1 >= m._1)
    assert(f._3 >= d._3 && d._3 >= c._3 && c._3 >= m._3)
    assert(Seq(f, d, c, m).forall(s => s._1 > 0))
    // packing conserves the mixed corpus's tokens exactly and the
    // sequence count is the token budget bound ⌈tokens/256⌉ ≤ n_seqs ≤ docs
    assert(p._3 == m._3)
    assert(p._1 >= (m._3 + 255) / 256 && p._1 <= m._1)
    // sum of per-sequence first ranks over dense ranks [1, n_mixed]:
    // lower-bounded by choosing the n_seqs smallest ranks
    assert(p._2 >= p._1 * (p._1 + 1) / 2 && p._2 <= m._1.toLong * m._1)
    // every operator-internal persist (stage caches, LSH candidates, CC
    // labels) is registered and releasable — nothing survives the gate
    assert(graft.util.IntermediateCaches.trackedCount > 0)
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(graft.util.IntermediateCaches.trackedCount == 0)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"leaked persisted RDDs: ${spark.sparkContext.getPersistentRDDs.keys}")
  }

  test("token-budget selection == the naive global greedy prefix, and spends the budget tightly") {
    val got = queries.LlmOps.tokenBudget(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    // naive oracle: ONE global greedy prefix sum (the single-partition
    // plan the operator exists to avoid) computed driver-side
    val scored = docs
      .select(col("doc_id"), norm_text(col("text")).as("norm"))
      .select(col("doc_id"),
        quality_score_from(col("norm")).as("q"),
        size(split(col("norm"), " ")).cast("long").as("ntok"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val budget = scored.map(_._3).sum * 2 / 5
    val greedy = scored.sortBy { case (id, q, _) => (-q, id) }
      .scanLeft((0L, 0.0, 0L, 0L)) { case ((_, _, _, cum), (id, q, nt)) =>
        (id, q, nt, cum + nt) }
      .drop(1)
      .takeWhile(_._4 <= budget)
    assert(got.sortBy(_._1).toSeq == greedy.sortBy(_._1).toSeq)
    // tight: within budget, and the next greedy doc would overflow it
    val kept = greedy.map(_._3).sum
    assert(kept <= budget)
    val next = scored.sortBy { case (id, q, _) => (-q, id) }.drop(greedy.size).headOption
    next.foreach(n => assert(kept + n._3 > budget,
      s"greedy prefix stopped early: $kept + ${n._3} <= $budget"))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("token-budget plan: per-doc running sum is bucket-partitioned, directory joins broadcast") {
    // the corpus-sized window must carry a partition spec (bucket#…);
    // a global `Window [..] [q DESC, doc_id ASC]` with no partitionBy
    // over the doc frame is the non-scalable plan this operator avoids
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val df = queries.LlmOps.tokenBudget(spark, sf001)
    df.collect() // finalize AQE so the inspected plan is the real one
    def allWindows(p: SparkPlan): Seq[WindowExec] = {
      val here = p match {
        case w: WindowExec => Seq(w)
        case _ => Seq.empty
      }
      val hidden = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(s.plan)
        case _ => Seq.empty[SparkPlan]
      }
      here ++ (p.children ++ hidden).flatMap(allWindows)
    }
    val exec = df.queryExecution.executedPlan
    val plan = df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    val windows = allWindows(exec)
    assert(windows.nonEmpty)
    val perDoc = windows.filter(_.orderSpec.exists(_.child.toString.contains("doc_id")))
    assert(perDoc.nonEmpty && perDoc.forall(_.partitionSpec.nonEmpty),
      s"per-doc window lost its bucket partitioning:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      s"bucket directory should broadcast:\n$plan")
    graft.util.IntermediateCaches.releaseAll(blocking = true)
  }

  test("snapshot diff: planted removals/revisions/additions recovered exactly, change-sized output") {
    val rows = queries.LlmOps.snapshotDiff(spark, sf001).collect()
      .map(r => (r.getLong(0), Option(r.getString(1)), Option(r.getString(2)), r.getString(3)))
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val pb = ids.max + 1
    val removed = rows.filter(_._4 == "removed").map(_._1).toSet
    val added = rows.filter(_._4 == "added").map(_._1).toSet
    val changed = rows.filter(_._4 == "changed").map(_._1).toSet
    assert(removed == ids.filter(_ % 11 == 0))
    assert(added == ids.filter(_ % 13 == 0).map(_ + pb))
    assert(changed == ids.filter(id => id % 11 != 0 && id % 17 == 0))
    // fingerprint sides agree with the status semantics
    assert(rows.forall {
      case (_, a, b, "removed") => a.isDefined && b.isEmpty
      case (_, a, b, "added")   => a.isEmpty && b.isDefined
      case (_, a, b, "changed") => a.isDefined && b.isDefined && a != b
      case _ => false
    })
  }

  test("mergeApply algebra: per-op semantics, empty-set identity, disjoint composition") {
    import graft.corpus.Corpus.mergeApply
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("doc_id", "text")
    val changes = Seq((2L, "delete", "b"), (3L, "update", "C"),
      (9L, "insert", "z")).toDF("doc_id", "op", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows(mergeApply(base, changes)) ==
      Set((1L, "a"), (3L, "C"), (4L, "d"), (9L, "z")))
    // empty change set is the identity
    val empty = Seq.empty[(Long, String, String)].toDF("doc_id", "op", "text")
    assert(rows(mergeApply(base, empty)) == rows(base))
    // disjoint change sets compose: sequential == union
    val c1 = Seq((2L, "delete", "b")).toDF("doc_id", "op", "text")
    val c2 = Seq((3L, "update", "C"), (9L, "insert", "z"))
      .toDF("doc_id", "op", "text")
    assert(rows(mergeApply(mergeApply(base, c1), c2)) ==
      rows(mergeApply(base, c1.unionByName(c2))))
    // the gate's round-trip law at corpus scale: applying the planted
    // change set reconstructs version B's id space exactly
    val merged = queries.LlmOps.mergeApplyGate(spark, sf001).collect()
      .map(_.getLong(0)).toSet
    val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val pb = ids.max + 1
    val wantB = ids.filter(_ % 11 != 0) ++ ids.filter(_ % 13 == 0).map(_ + pb)
    assert(merged == wantB)
  }

  test("compaction plan: contiguous files, ordered id ranges, bytes conserved per partition dir") {
    val plan = queries.LlmOps.compactionPlan(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    val totals = docs
      .select(col("lang"), length(norm_text(col("text"))).cast("long").as("b"))
      .groupBy("lang").agg(sum(col("b")).as("t")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    plan.groupBy(_._1).foreach { case (lang, files) =>
      val sorted = files.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (0L until sorted.length).toSeq,
        s"$lang file indexes not contiguous")
      // id ranges strictly ordered and non-overlapping
      sorted.sliding(2).foreach {
        case Array(p, q) => assert(p._6 < q._5,
          s"$lang files ${p._2}/${q._2} overlap: ${p._6} !< ${q._5}")
        case _ =>
      }
      assert(sorted.map(_._4).sum == totals(lang), s"$lang bytes not conserved")
      // next-fit discipline: every file but the last STARTS before the
      // target boundary it fills, so only straddling docs overflow it
      assert(sorted.init.forall(_._4 > 0) && sorted.forall(_._3 > 0))
    }
  }

  test("incremental near dedup: planted near-copies classified, kept set disjoint from matches") {
    val rows = queries.LlmOps.dedupIncrementalNear(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val byId = rows.map(t => t._1 -> t).toMap
    val pb = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    // every planted re-crawl of a history doc is a history dup
    val recrawls = rows.filter(t => t._1 >= pb && t._1 < 2 * pb)
    assert(recrawls.nonEmpty && recrawls.forall(_._4 == "dup_hist"))
    assert(recrawls.forall(_._2 >= 1), "re-crawl with no history match count")
    // every planted within-batch replay matches its lower-id original
    // (dup_batch, unless the original itself near-matches history text,
    // in which case the replay does too → dup_hist precedence)
    val replays = rows.filter(_._1 >= 2 * pb)
    assert(replays.nonEmpty && replays.forall(t =>
      t._4 == "dup_batch" || (t._4 == "dup_hist" && t._2 >= 1)))
    assert(replays.filter(_._4 == "dup_batch").forall(_._3 >= 1))
    // the replayed originals (id%5==0 && id%9==0) stay kept unless they
    // have their own history/batch partner — never classified by their
    // HIGHER-id replay
    val originals = rows.filter(t => t._1 < pb && t._1 % 9 == 0)
    originals.foreach { case (id, nh, np, st) =>
      if (st == "dup_batch")
        assert(np >= 1, s"original $id dup_batch without a lower-id match")
    }
    // statuses are a partition of the batch and consistent with counts
    rows.foreach { case (id, nh, np, st) =>
      val want = if (nh > 0) "dup_hist" else if (np > 0) "dup_batch" else "kept"
      assert(st == want, s"doc $id: status $st vs counts ($nh, $np)")
    }
    assert(byId.size == rows.length, "duplicate doc_ids in output")
  }

  test("z-order interleave: corner values exact, every file spans <8 buckets in BOTH dims") {
    // Morton-code corners through the same code path the gate uses
    val corners = spark.range(1)
      .select(
        queries.LlmOps.zTest(lit(255L), lit(0L)).as("a"),
        queries.LlmOps.zTest(lit(0L), lit(255L)).as("b"),
        queries.LlmOps.zTest(lit(255L), lit(255L)).as("c"),
        queries.LlmOps.zTest(lit(0L), lit(0L)).as("d"),
        queries.LlmOps.zTest(lit(5L), lit(3L)).as("e"))
      .collect().head
    assert(corners.getLong(0) == 0x5555L)
    assert(corners.getLong(1) == 0xAAAAL)
    assert(corners.getLong(2) == 0xFFFFL)
    assert(corners.getLong(3) == 0L)
    // qb=5 (101b) at even bits -> 10001b; nb=3 (11b) at odd bits -> 1010b
    assert(corners.getLong(4) == (0x11L | 0xAL))
    // the data-skipping guarantee: top-10 z bits fix the top-5 bits of
    // both dimensions, so no file may span 8+ buckets in either
    val manifest = queries.LlmOps.zorderLayout(spark, sf001).collect()
    assert(manifest.nonEmpty)
    manifest.foreach { r =>
      val (fid, maxQb, minQb, maxNb, minNb) =
        (r.getLong(0), r.getLong(3), r.getLong(2), r.getLong(5), r.getLong(4))
      assert(maxQb - minQb < 8, s"file $fid spans quality buckets [$minQb,$maxQb]")
      assert(maxNb - minNb < 8, s"file $fid spans token buckets [$minNb,$maxNb]")
    }
  }

  test("CE buckets: corpus conserved, terciles near-balanced, bucket rule matches the cutoffs") {
    val rows = queries.LlmOps.ceBuckets(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    val n = docs.count()
    assert(rows.map(_._3).sum == n, "corpus not conserved across buckets")
    val byBucket = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    assert(byBucket.keySet == Set("head", "middle", "tail"))
    byBucket.foreach { case (b, c) =>
      assert(c >= n / 5 && c <= n / 2,
        s"bucket $b wildly unbalanced: $c of $n (terciles expected)")
    }
    // the rule really is the tercile split: recompute cutoffs + buckets
    val ce = queries.LlmOps.textUnigramCE(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    def pct(p: Double): Double = {
      val sorted = ce.values.toArray.sorted
      val rank = p * (sorted.length - 1)
      val lo = sorted(rank.toInt)
      val hi = sorted(math.min(rank.toInt + 1, sorted.length - 1))
      val frac = rank - rank.toInt
      BigDecimal(lo + frac * (hi - lo))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val (p33, p67) = (pct(0.33), pct(0.67))
    val expect = ce.values.map(c =>
      if (c <= p33) "head" else if (c <= p67) "middle" else "tail")
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(byBucket == expect, s"$byBucket != recomputed $expect")
  }

  test("DSIR resampling: kept set is the exact hash-threshold function of the scores") {
    val scores = queries.LlmOps.dsirScore(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val kept = queries.LlmOps.dsirSample(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(3))).toMap
    def bucket(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
    val expect = scores.flatMap { case (id, _, w) =>
      val p = BigDecimal(math.min(1.0, math.max(0.0, (w - 0.3) / 0.7)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val thr = math.max(0L, math.min(255L, math.floor(p * 256).toLong))
      if (bucket(id) < f"$thr%02x") Some(id -> p) else None
    }.toMap
    assert(kept == expect)
    // the selection is target-seeking: en docs survive at a higher rate
    def rate(ids: Array[Long]) = ids.count(kept.contains).toDouble / ids.length
    val enIds = scores.filter(_._2 == "en").map(_._1)
    val restIds = scores.filter(_._2 != "en").map(_._1)
    assert(rate(enIds) > rate(restIds), "target language not preferentially kept")
  }

  test("plantBase fails loudly on an empty corpus instead of a bare NPE") {
    val empty = spark.range(0).select(col("id").as("doc_id"))
    val e = intercept[IllegalArgumentException] {
      queries.LlmOps.plantBase(empty)
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("z-order write: one directory per layout file, artifact manifest == planned manifest") {
    def key(r: org.apache.spark.sql.Row) = (0 until 8).map(r.get).toSeq
    // explicit out dir: no shared global slot, so a concurrent gate run
    // cannot swap the directory under this spec (round-11 advice)
    val out = queries.LlmOps.freshTempDir("graft_zorder_spec")
    val written =
      queries.LlmOps.zorderWriteCommitTo(spark, sf001, out).collect().map(key)
    val planned = queries.LlmOps.zorderLayout(spark, sf001).collect().map(key)
    assert(written.toSeq == planned.toSeq)
    // the physical layout is one fid= directory per manifest row
    val outDir = new java.io.File(out)
    val dirs = outDir.listFiles().filter(_.getName.startsWith("fid="))
      .map(_.getName.stripPrefix("fid=").toLong).toSet
    assert(dirs == planned.map(_.head.asInstanceOf[Long]).toSet,
      s"written directories $dirs != manifest fids")
  }

  test("source cap: ≤K per source, ranks contiguous, WindowGroupLimit prunes the rank") {
    val df = queries.LlmOps.sourceCap(spark, sf001)
    val rows = df.collect().map(r =>
      (r.getString(1), r.getLong(3), r.getLong(0), r.getDouble(2)))
    val bySource = rows.groupBy(_._1)
    assert(bySource.nonEmpty)
    bySource.foreach { case (src, rs) =>
      assert(rs.length <= 10, s"$src exceeds the cap: ${rs.length}")
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq,
        s"$src ranks not contiguous: ${rs.map(_._2).sorted.mkString(",")}")
      // rank order follows (quality desc, doc_id)
      val ordered = rs.sortBy(_._2).map(t => (-t._4, t._3))
      assert(ordered.sameElements(ordered.sorted), s"$src rank order broken")
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank filter not WindowGroupLimit-pruned:\n${plan.take(1200)}")
  }

  test("split-leak audit: exactly the planted straddling re-crawls, none without them") {
    val rows = queries.LlmOps.splitLeak(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // recompute the expectation: a 6th-multiple doc leaks iff its
    // re-crawl id hashes into a different split
    val split = (id: Long) => {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString
      if (h < "0d") "test" else if (h < "1a") "val" else "train"
    }
    val allIds = docs.select(col("doc_id")).collect().map(_.getLong(0))
    val pb = allIds.max + 1
    val planted = allIds
      .filter(_ % 6 == 0).filter(id => split(id) != split(id + pb))
    assert(rows.length == planted.length,
      s"${rows.length} leaks vs ${planted.length} planted straddlers")
    assert(rows.forall { case (_, n, k, s) =>
      n == 2 && k == 2 && s.split(",").length == 2 })
  }

  test("mm_dedup: every replica marked dup against its original, keepers unique per group") {
    val rows = queries.LlmOps.mmDedup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getString(4)))
    val groups = rows.groupBy(t => (t._2, t._3, t._4))
    groups.foreach { case (g, rs) =>
      assert(rs.count(_._5 == "kept") == 1, s"group $g has != 1 keeper")
      assert(rs.filter(_._5 == "kept").map(_._1).min == rs.map(_._1).min,
        s"group $g keeper is not the lowest asset_id")
    }
    // the planted re-uploads (asset_id >= plantBase) must all be dups
    // of their originals, and only they are dups in this corpus
    val pb = docs.agg(max(col("doc_id"))).head.getLong(0) + 1
    val (replicas, originals) = rows.partition(_._1 >= pb)
    assert(replicas.nonEmpty && replicas.forall(_._5 == "dup"))
    assert(originals.forall(_._5 == "kept"))
  }

  test("DSIR importance: finite everywhere, target-language docs score higher, floors engaged") {
    val rows = queries.LlmOps.dsirScore(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == docs.count())
    assert(rows.forall { case (_, _, w) => !w.isNaN && !w.isInfinity })
    val (en, rest) = rows.partition(_._2 == "en")
    val mean = (xs: Array[(Long, String, Double)]) => xs.map(_._3).sum / xs.length
    assert(en.nonEmpty && rest.nonEmpty && mean(en) > mean(rest),
      s"target slice does not score higher: en=${mean(en)} rest=${mean(rest)}")
  }

  test("bloom skip index: no false negatives, absent probes skip, statuses computed") {
    val rows = queries.LlmOps.bloomSkip(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    val (present, absent) = rows.partition(_._4 == "present")
    assert(present.nonEmpty && absent.nonEmpty)
    // the skipping CONTRACT: a file containing the term always scans
    rows.foreach { case (t, nTrue, nScan, _) =>
      assert(nScan >= nTrue, s"false negative for '$t': true=$nTrue scanned=$nScan")
    }
    assert(present.forall(_._2 > 0) && absent.forall(_._2 == 0))
    // the index must actually SKIP: across the absent probes, scanned
    // files (all false positives) stay under the k=4/8-bits-per-entry
    // envelope — well below "scan everything"
    val nFiles = queries.LlmOps.zorderLayout(spark, sf001).count()
    val fpScans = absent.map(_._3).sum.toDouble
    assert(fpScans <= 0.25 * absent.length * nFiles,
      s"absent probes scanned $fpScans of ${absent.length} x $nFiles file consults " +
        "— the filter is not skipping")
  }

  // ------------------------------------------------------- round 12b

  test("RRF fusion: exact micro-unit leg sums over the two verified rankings") {
    val out = graft.queries.LlmOps.hybridRrf(spark, sf001).collect()
    assert(out.length == 10)
    // the dense leg re-ranked driver-side from the brute-force top-50
    val den = Ann.bruteForceTopK(Tables.embeddings(spark, sf001), 0L, 50)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (id, sim) => (-sim, id) }
      .zipWithIndex.map { case ((id, _), i) => id -> (i + 1).toLong }.toMap
    def leg(rank: Option[Long]): Long =
      rank.map(r => math.round(1000000.0 / (60 + r))).getOrElse(0L)
    var prev = Long.MaxValue
    var prevId = -1L
    out.foreach { r =>
      val id = r.getLong(0)
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val denR = if (r.isNullAt(2)) None else Some(r.getLong(2))
      val rrfQ = r.getLong(3)
      assert(denR == den.get(id), s"doc $id dense rank")
      assert(lex.forall(x => x >= 1 && x <= 50))
      assert(rrfQ == leg(lex) + leg(denR), s"doc $id fused score")
      assert(r.getDouble(4) == rrfQ / 1000000.0)
      assert(rrfQ < prev || (rrfQ == prev && id > prevId), "fused order")
      prev = rrfQ; prevId = id
    }
    // both legs actually contribute to the fused top-10
    assert(out.exists(r => !r.isNullAt(1)) && out.exists(r => !r.isNullAt(2)))
  }

  test("RRF-IVF fusion: probed dense leg verified, in_exact pins fused recall vs brute") {
    val emb = Tables.embeddings(spark, sf001)
    val out = graft.queries.LlmOps.hybridRrfIvf(spark, sf001).collect()
    assert(out.length == 10)
    // the probed dense leg re-ranked driver-side: batchTopKIvf's own
    // top-50 for query 0 (the spec'd exhaustive-probe==brute machinery
    // at probes=3)
    val den = Ann.batchTopKIvf(
        corpus = emb.filter(col("vec_id") =!= 0L),
        queries = emb.filter(col("vec_id") === 0L),
        k = 50, nCells = 8, probes = 3)
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    val exact = graft.queries.LlmOps.hybridRrf(spark, sf001).collect()
      .map(_.getLong(0)).toSet
    def leg(rank: Option[Long]): Long =
      rank.map(r => math.round(1000000.0 / (60 + r))).getOrElse(0L)
    var prev = Long.MaxValue
    var prevId = -1L
    out.foreach { r =>
      val id = r.getLong(0)
      val lex = if (r.isNullAt(1)) None else Some(r.getLong(1))
      val denR = if (r.isNullAt(2)) None else Some(r.getLong(2))
      assert(denR == den.get(id), s"doc $id probed dense rank")
      assert(r.getLong(3) == leg(lex) + leg(denR), s"doc $id fused score")
      assert(r.getBoolean(4) == exact.contains(id), s"doc $id in_exact flag")
      assert(r.getLong(3) < prev || (r.getLong(3) == prev && id > prevId))
      prev = r.getLong(3); prevId = id
    }
    // the measured fused recall: cell pruning may cost some of the
    // exact top-10, but the lexical leg plus probed cells must keep
    // the fusion from collapsing (a real quality number, not 0)
    val recall10 = out.count(_.getBoolean(4))
    assert(recall10 >= 5, s"fused recall vs exact collapsed: $recall10/10")
    assert(out.exists(r => !r.isNullAt(1)) && out.exists(r => !r.isNullAt(2)))
  }

  test("provenance propagation: cluster source/lang unions match the exact truth") {
    val out = graft.queries.LlmOps.dedupProvenance(spark, sf001).collect()
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    truePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    val meta = docs.select("doc_id", "source", "lang", "n_chars").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2), r.getLong(3))).toMap
    val byComp = truePairs.flatMap(p => Seq(p._1, p._2))
      .map(x => find(x) -> x).groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2) }
    assert(out.map(_.getLong(0)).toSet == byComp.keySet)
    out.foreach { r =>
      val ms = byComp(r.getLong(0)).toSeq
      val srcs = ms.map(meta(_)._1)
      assert(r.getLong(1) == ms.size.toLong)
      assert(r.getLong(2) == srcs.distinct.size.toLong)
      assert(r.getString(3) == srcs.min && r.getString(4) == srcs.max)
      assert(r.getLong(5) == ms.map(meta(_)._2).distinct.size.toLong)
      assert(r.getLong(6) == ms.map(meta(_)._3).sum)
    }
  }

  test("KMV set algebra: sketches, estimates and overlap recomputed exactly") {
    val k = 256
    def h60(v: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def round4(v: Double): Double =
      BigDecimal(v).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def norm(t: String): Seq[String] =
      t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
    val halves = docs.select("doc_id", "text").collect().flatMap { r =>
      val t = norm(r.getString(1))
      t.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq.distinct
        .map(s => (r.getLong(0) % 2, h60(s)))
    }.distinct
    val hA = halves.filter(_._1 == 0L).map(_._2).distinct.sorted
    val hB = halves.filter(_._1 == 1L).map(_._2).distinct.sorted
    val kA = hA.take(k); val kB = hB.take(k)
    val kU = (kA ++ kB).distinct.sorted.take(k)
    def est(mins: Seq[Long]): Double =
      if (mins.size < k) mins.size.toDouble
      else round4((k - 1).toDouble * math.pow(2, 60) / mins.last.toDouble)
    val interK = kU.count(h => kA.contains(h) && kB.contains(h)).toLong
    // Beyer et al. divide by the union-sketch size: least(k, |kmv_u|),
    // exact Jaccard in the degenerate small-union case
    val jacc = round4(interK / math.min(k, kU.size).toDouble)
    val r = graft.queries.LlmOps.kmvSetOps(spark, sf001).collect().head
    assert(r.getLong(0) == k.toLong)
    assert(r.getLong(1) == hA.size.toLong && r.getLong(2) == hB.size.toLong)
    assert(r.getLong(3) == (hA ++ hB).distinct.size.toLong)
    assert(r.getLong(4) == hA.toSet.intersect(hB.toSet).size.toLong)
    assert(r.getLong(5) == kA.last && r.getLong(6) == kB.last && r.getLong(7) == kU.last)
    assert(r.getDouble(8) == est(kA) && r.getDouble(9) == est(kB) && r.getDouble(10) == est(kU))
    assert(r.getLong(11) == interK && r.getDouble(12) == jacc)
    assert(r.getDouble(13) == round4(jacc * est(kU)))
    // the sketch estimates are actually in the right ballpark (20% here)
    assert(math.abs(r.getDouble(10) - r.getLong(3)) < 0.2 * r.getLong(3))
  }

  test("MRL recall: overlap equals the join of the two batchTopK hit lists") {
    val out = graft.queries.LlmOps.annMrlRecall(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val qIds = Seq(0L, 100L, 200L, 300L, 400L)
    val qs = emb.filter(col("vec_id").isin(qIds: _*))
    val full = Ann.batchTopK(emb, qs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val tEmb = emb.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val tQs = qs.select(col("vec_id"), slice(col("embedding"), 1, 16).as("embedding"))
    val trunc = Ann.batchTopK(tEmb, tQs, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = qIds.map(q => (q,
      full.filter(_._1 == q).intersect(trunc.filter(_._1 == q)).size.toLong))
    assert(out.map(t => (t._1, t._2)).toSeq == want)
    out.foreach { case (_, n, rec) =>
      assert(n >= 0L && n <= 10L && rec == n / 10.0)
    }
    // truncation keeps SOME but not all of the exact answer here —
    // the gate measures a real gap, not a degenerate 0 or 1
    assert(out.map(_._2).sum > 0 && out.map(_._2).sum < 50)
  }

  // ------------------------------------------------------- round 13

  test("dedup card: component-size histogram matches the exact closure") {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    truePairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val (lo, hi) = (math.min(ra, rb), math.max(ra, rb))
        parent(hi) = lo }
    }
    val members = truePairs.flatMap(p => Seq(p._1, p._2))
      .groupBy(find).map { case (_, xs) => xs }
    val want = members.groupBy(_.size).map { case (sz, comps) =>
      (sz.toLong, comps.size.toLong, (sz * comps.size).toLong,
        ((sz - 1) * comps.size).toLong, comps.map(_.sum).sum)
    }.toSet
    val got = graft.queries.LlmOps.dedupCard(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSet
    assert(got == want, s"card drifted: got=$got want=$want")
    // the card describes a real graph: at least one multi-doc bucket,
    // removal counts consistent with doc counts
    assert(got.nonEmpty && got.forall { case (sz, nc, nd, nr, _) =>
      sz >= 2 && nd == sz * nc && nr == nd - nc })
  }

  test("novelty: per-doc shared-gram fractions match a driver-side recount") {
    def norm(t: String): Seq[String] =
      t.trim.toLowerCase.replaceAll("\\s+", " ").split(" ").toSeq
    val gramsByDoc = docs.select("doc_id", "text").collect().map { r =>
      val g = norm(r.getString(1)).sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
      r.getLong(0) -> g
    }.filter(_._2.nonEmpty)
    val dfreq = gramsByDoc.flatMap { case (id, g) => g.map(_ -> id) }
      .groupBy(_._1).map { case (g, xs) => g -> xs.map(_._2).distinct.size }
    val want = gramsByDoc.map { case (id, g) =>
      val shared = g.count(dfreq(_) >= 2).toLong
      (id, g.size.toLong, shared,
        math.round((g.size - shared) * 1000000.0 / g.size))
    }.toSet
    val got = graft.queries.LlmOps.textNovelty(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want,
      s"novelty drifted: onlyGot=${(got -- want).take(3)} onlyWant=${(want -- got).take(3)}")
    // the corpus has both boilerplate-heavy and novel docs — the signal
    // is not degenerate
    assert(got.exists(_._4 < 500000L) && got.exists(_._4 > 500000L))
  }

  test("url canonicalize: planted case/port/tracking/fragment variants collapse") {
    import graft.text.Url
    // six raw spellings of ONE page — every rule fires at least once
    val variants = Seq(
      "https://www.news.example.com/a/%7Ezoe%2Fx/p?id=7&utm_source=tw&lang=en",
      "HTTPS://WWW.News.Example.COM/a/%7Ezoe%2Fx/p?lang=en&id=7",
      "https://www.news.example.com:443/a/%7Ezoe%2Fx/p?utm_campaign=x&id=7&lang=en#sec2",
      "https://www.news.example.com/a/~zoe%2Fx/p?id=7&lang=en&utm_medium=z",
      "https://www.News.example.com:443/a/%7Ezoe%2Fx/p#top?not=aquery",
      "http://www.news.example.com:80/a/%7Ezoe%2Fx/p?id=7&lang=en")
    val got = variants.toDF("url")
      .select(Url.canonicalize(col("url")).as("c"),
        Url.urlDomain(col("url")).as("d"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    val canon = "https://www.news.example.com/a/~zoe%2Fx/p?id=7&lang=en"
    // first four collapse; the fragment-first URL loses its "query"
    // (correct: everything after # is fragment), http stays distinct
    assert(got.take(4).forall(_._1 == canon), got.toSeq.toString)
    assert(got(4)._1 == "https://www.news.example.com/a/~zoe%2Fx/p")
    assert(got(5)._1 == canon.replace("https://", "http://"))
    assert(got.forall(_._2 == "news.example.com"))
    // non-default port is a DIFFERENT origin — must survive
    val kept = Seq("https://h.example.com:8443/p?a=1").toDF("url")
      .select(Url.canonicalize(col("url"))).head.getString(0)
    assert(kept == "https://h.example.com:8443/p?a=1")
    // reserved octet stays encoded even when every param is tracking
    val bare = Seq("HTTP://X.EXAMPLE.COM/%2F%41b?utm_a=1&utm_b=2").toDF("url")
      .select(Url.canonicalize(col("url"))).head.getString(0)
    assert(bare == "http://x.example.com/%2FAb")
    // dangling-escape cascade guard (round-14 review): decoding %44->D
    // after a dangling %2 must NOT re-form a decodable %2D — the bytes
    // "%2D" were never in the raw URL
    val malformed = Seq(
      "https://h.example.com/x%2%44",   // dangling %2 + valid %44
      "https://h.example.com/x%%44",    // bare % + valid %44
      "https://h.example.com/x%2%2%44", // overlapping dangling run
      "https://h.example.com/x%2")      // dangling at end of path
      .toDF("url").select(Url.canonicalize(col("url")))
      .collect().map(_.getString(0))
    assert(malformed(0) == "https://h.example.com/x%2D", malformed(0))
    assert(malformed(1) == "https://h.example.com/x%D", malformed(1))
    assert(malformed(2) == "https://h.example.com/x%2%2D", malformed(2))
    assert(malformed(3) == "https://h.example.com/x%2", malformed(3))
  }

  test("url canonicalize: dot segments, query decoding, escape hex case (round 15)") {
    import graft.text.Url
    def c(u: String): String =
      Seq(u).toDF("url").select(Url.canonicalize(col("url"))).head.getString(0)
    // RFC 3986 6.2.2.3: /./ noise and /seg/../ traversal collapse
    assert(c("https://h.example.com/a/./b/../c") == "https://h.example.com/a/c")
    assert(c("https://h.example.com/a/b/../c")
      == c("https://h.example.com/a/c"))
    // three nested levels force >= 3 remove_dot_segments passes
    assert(c("https://h.example.com/u/v/w/../../../z") == "https://h.example.com/z")
    // rootward .. cannot climb above / ; trailing /. and /seg/.. resolve
    assert(c("https://h.example.com/../a") == "https://h.example.com/a")
    assert(c("https://h.example.com/a/b/..") == "https://h.example.com/a/")
    assert(c("https://h.example.com/a/.") == "https://h.example.com/a/")
    // decode runs FIRST: %2E%2E is a dot-segment in disguise (RFC order)
    assert(c("https://h.example.com/a/%2E%2E/b") == "https://h.example.com/b")
    // 6.2.2.1 hex case: lowercase unreserved escapes decode; reserved
    // escapes that stay encoded are case-normalized to uppercase
    assert(c("https://h.example.com/%7ezoe%2fx") == "https://h.example.com/~zoe%2Fx")
    assert(c("https://h.example.com/%7ezoe%2fx")
      == c("https://h.example.com/%7Ezoe%2Fx"))
    // query VALUES decode too: ?q=%41 == ?q=A (and sort sees decoded)
    assert(c("https://h.example.com/p?q=%41") == c("https://h.example.com/p?q=A"))
    // decode-before-filter: an escaped %75tm_ spelling IS a utm_ param
    assert(c("https://h.example.com/p?%75tm_source=x&a=1")
      == "https://h.example.com/p?a=1")
  }

  test("url canonicalize: DotSegPasses saturation is observable, and the corpus never saturates") {
    import graft.text.Url
    // round-15 advice: the pass bound is silent at runtime — make the
    // saturation state OBSERVABLE via the residual-dot-segment probe a
    // pipeline would alarm on, and pin that the fixture corpus (every
    // planted path spelling) resolves fully within the bound.
    val residual = "(/\\.\\./|/\\./|/\\.\\.$|/\\.$|^\\.\\./)"
    val docs = Tables.documents(spark, sf001)
    val n = docs.select(graft.queries.LlmOps.rawUrl(col("doc_id"),
        col("source")).as("u"))
      .select(Url.canonicalize(col("u")).as("c"))
      .filter(col("c").rlike(residual)).count()
    assert(n == 0, s"$n canonical fixture URLs retain dot segments")
    // teeth: a deeper-than-DotSegPasses traversal chain DOES trip the
    // same probe (so a saturated path is detectable, not silent) …
    val deep = "https://h.example.com/" +
      ("s/" * (Url.DotSegPasses + 4)) + ("../" * (Url.DotSegPasses + 4)) + "z"
    val sat = Seq(deep).toDF("u")
      .select(Url.canonicalize(col("u")).as("c")).head.getString(0)
    assert(sat.matches(".*" + residual + ".*"),
      s"probe blind to a saturated path: $sat")
    // … while the bound itself resolves chains DotSegPasses deep
    val atBound = "https://h.example.com/" +
      ("s/" * Url.DotSegPasses) + ("../" * Url.DotSegPasses) + "z"
    assert(Seq(atBound).toDF("u")
      .select(Url.canonicalize(col("u")).as("c")).head.getString(0)
      == "https://h.example.com/z")
  }

  test("t_crawl_budget: tier caps bite the tail, authority crawls in full") {
    val out = graft.queries.LlmOps.crawlBudget(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    for ((dom, tier, cap, nAllowed, nPlanned, nDropped, _) <- out) {
      assert(cap == (1L << (2 * (5 - tier)).toInt), s"$dom cap/tier mismatch")
      assert(nPlanned == math.min(nAllowed, cap), s"$dom planned != min(allowed, cap)")
      assert(nDropped == nAllowed - nPlanned)
    }
    // the allocation is DIFFERENTIAL: the tail tier drops frontier, the
    // top tier crawls everything it is allowed (cap 256 >> any fixture
    // domain) — the authority prior visibly converts to fetch capacity
    assert(out.filter(_._2 == 4).forall(d => d._5 == d._3 && d._3 < d._4),
      "tier-4 caps must bite")
    assert(out.filter(_._2 == 1).forall(d => d._6 == 0),
      "tier-1 domains must crawl their full allowed frontier")
    assert(out.map(_._2).distinct.size == 4, "all four tiers present")
  }

  test("t_domain_reweight: MW rounds upweight excess-loss domains, conserve the simplex") {
    val out = graft.queries.LlmOps.domainReweight(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        Seq(r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)),
        r.getLong(7)))
    val S = 1000000L
    // uniform start; every round stays on the (integer-rounded) simplex
    assert(out.map(_._4.head).distinct.size == 1)
    for (t <- 0 to 3) {
      val sum = out.map(_._4(t)).sum
      assert(sum <= S && sum > S - 2L * out.size,
        s"round $t weight sum $sum off the scaled simplex")
    }
    // the loop MOVES: some domain's weight changes every round
    for (t <- 1 to 3)
      assert(out.exists(d => d._4(t) != d._4(t - 1)), s"round $t is a no-op")
    // directionality: the max-loss domain never loses weight, the
    // min-loss domain never gains, and by round 3 max-loss outweighs
    // min-loss (excess loss is what MW amplifies)
    val byLoss = out.sortBy(_._3)
    val (lo, hi) = (byLoss.head, byLoss.last)
    assert(hi._3 > lo._3, "fixture has no loss spread across sources?")
    assert(hi._4.sliding(2).forall(p => p(1) >= p(0)), s"max-loss domain lost weight: ${hi._4}")
    assert(lo._4.sliding(2).forall(p => p(1) <= p(0)), s"min-loss domain gained weight: ${lo._4}")
    assert(hi._4.last > lo._4.last)
    // allocation applies the final weight to the corpus token budget
    val totalTok = out.map(_._2).sum
    for (d <- out)
      assert(d._5 == d._4.last * totalTok / S, s"alloc drifted for ${d._1}")
  }

  test("t_topic_mix: over-populated cells downsampled toward the uniform cap, deterministic") {
    val out = graft.queries.LlmOps.topicMix(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getLong(4), r.getLong(5)))
    assert(out.map(_._2).sum == emb.count()) // census covers the corpus
    val target = out.head._3
    assert(out.forall(_._3 == target))
    for ((cell, nDocs, tgt, pKeep, nKept, _) <- out) {
      assert(nKept <= nDocs, s"cell $cell kept more than it has")
      if (nDocs <= tgt) assert(pKeep == 1.0 && nKept == nDocs,
        s"under-cap cell $cell must keep everything")
      else {
        // hash sampler: kept/n within the 1/256 bucket-quantization
        // band around p_keep (binomial-free: the sampler is a fixed
        // id-hash threshold, so the deviation is set by bucket rounding)
        assert(pKeep < 1.0 && nKept < nDocs, s"cell $cell not downsampled")
      }
    }
    // the corpus is NOT uniform over cells — the gate must actually act
    assert(out.exists(r => r._2 > target), "no over-populated cell?")
    // deterministic: a second run returns the identical card
    val again = graft.queries.LlmOps.topicMix(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(4), r.getLong(5)))
    assert(again.toSeq == out.map(r => (r._1, r._5, r._6)).toSeq)
  }

  test("t_link_rank: integer PageRank matches a driver-side recount, mass conserved") {
    val sf = sf0001
    val out = graft.queries.LlmOps.linkRank(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val n = Tables.documents(spark, sf).count()
    assert(out.size == n)
    // independent recount: same graph from the id arithmetic (the gate
    // itself parses it from markup — this cross-checks the extraction)
    val edges = (0L until n).flatMap(d =>
      Set((d * 7 + 3) % n, (d * 13 + 5) % n, (d * 3 + 11) % n).map(d -> _))
    val odeg = edges.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val ideg = edges.groupBy(_._2).map { case (k, v) => k -> v.size.toLong }
    val S = 1000000000000L
    var r = (0L until n).map(_ -> S / n).toMap
    for (_ <- 1 to 3) {
      val sc = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => r(u) / odeg(u) }.sum }
      r = (0L until n).map(v =>
        v -> (S / 100 * 15 / n + 85 * sc.getOrElse(v, 0L) / 100)).toMap
    }
    for (v <- 0L until n) {
      val (o, i, rq) = out(v)
      assert(o == odeg(v) && i == ideg.getOrElse(v, 0L), s"degree drift at $v")
      assert(rq == r(v), s"rank drift at $v: got $rq want ${r(v)}")
    }
    // probability mass conserved up to truncation loss (< 2 units/node/iter)
    val mass = out.values.map(_._3).sum
    assert(mass <= S && mass >= S - 8 * n, s"mass $mass vs $S")
    // the graph is non-trivial: ranks differ
    assert(out.values.map(_._3).toSet.size > 10)
  }

  test("t_domain_rank: rollup and tiers match a driver-side recount off t_link_rank") {
    val sf = sf0001
    val pr = graft.queries.LlmOps.linkRank(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap
    val out = graft.queries.LlmOps.domainRank(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    assert(out.length == pr.size) // one row per page
    // per-page rank carried through unchanged
    out.foreach { case (id, _, rq, _, _, _) => assert(rq == pr(id)) }
    // recount the rollup
    val byDom = out.groupBy(_._2)
    for ((dom, rows) <- byDom) {
      val want = rows.map(r => pr(r._1)).sum
      rows.foreach { case (_, _, _, np, rs, _) =>
        assert(np == rows.length.toLong, s"$dom n_pages")
        assert(rs == want, s"$dom rank_sum")
      }
      // one tier per domain
      assert(rows.map(_._6).distinct.length == 1, s"$dom split across tiers")
    }
    // tiers are 1..4, monotone in rank_sum (DESC order), all used
    val doms = byDom.map { case (d, rows) => (d, rows.head._5, rows.head._6) }
      .toSeq.sortBy { case (d, rs, _) => (-rs, d) }
    assert(doms.map(_._3).toSet == Set(1L, 2L, 3L, 4L))
    assert(doms.map(_._3) == doms.map(_._3).sorted, "tiers not monotone")
    // ntile evenness: tier sizes differ by at most 1
    val sizes = doms.groupBy(_._3).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1)
  }

  test("t_robots: longest-prefix-match verdicts, every domain has both outcomes") {
    val out = graft.queries.LlmOps.robotsFilter(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.nonEmpty)
    val nDocs = docs.count()
    assert(out.map(_._2).sum == nDocs)
    // the literal K-rule blocks pages with path digit K = len(domain)%7,
    // the WILDCARD J-rule (/a/~item*%2Fx/J$) blocks digit J =
    // (len(domain)+3)%7 — recount both driver-side
    val byId = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((domain, nUrls, nAllowed, nBlocked) <- out) {
      assert(nAllowed + nBlocked == nUrls, s"$domain verdicts don't cover")
      val src = domain.stripSuffix(".example.com")
      val k = domain.length % 7
      val j = (domain.length + 3) % 7
      assert(k != j, s"$domain fixture degenerate")
      val want = byId.count { case (id, s0) =>
        s0 == src && (id % 7 == k || id % 7 == j) }
      assert(nBlocked == want.toLong,
        s"$domain blocked $nBlocked, ladder says $want (K=$k, J=$j)")
      // every ladder depth decides somewhere: blocked and allowed
      // pages both exist per domain (K+J cover 2/7 of a domain)
      assert(nBlocked > 0 && nAllowed > 0, s"$domain one-sided")
    }
  }

  test("robots semantics: tie prefers Allow, unmatched allowed, wildcards anchor") {
    // the per-page argmax contract driven through the REAL matcher
    // (robotsRuleRegex + regexp_like): equal-length Allow + Disallow ->
    // Allow wins; no matching rule -> allowed; '*' spans segments; '$'
    // anchors (a trailing-$ rule must NOT match a longer path); a
    // mid-string '$' and regex metachars ('.', '+') stay literal
    val rules = Seq(("d", "Allow", "/x/"), ("d", "Disallow", "/x/"),
      ("d", "Disallow", "/y/"), ("d", "Disallow", "/w/*/end$"),
      ("d", "Disallow", "/lit$eral/"), ("d", "Disallow", "/dot./p+/"))
      .toDF("domain", "rule", "rpath")
      .withColumn("rex", graft.queries.LlmOps.robotsRuleRegex(col("rpath")))
    val pages = Seq(("d", 1L, "/x/a"), ("d", 2L, "/y/b"), ("d", 3L, "/z/c"),
      ("d", 4L, "/w/deep/er/end"), ("d", 5L, "/w/deep/end/not"),
      ("d", 6L, "/lit$eral/x"), ("d", 7L, "/dot./p+/q"), ("d", 8L, "/dotX/pp/q"))
      .toDF("domain", "doc_id", "path")
    val verdict = graft.queries.LlmOps.robotsVerdict(pages, rules)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(verdict(1L), "equal-length tie must prefer Allow")
    assert(!verdict(2L), "Disallow must block")
    assert(!verdict.contains(3L), "unmatched page has no verdict row (defaults allowed)")
    assert(!verdict(4L), "'*' must span multiple path segments")
    assert(!verdict.contains(5L), "'$' must anchor: /w/*/end$ can't match a longer path")
    assert(!verdict(6L), "mid-string '$' must stay literal")
    assert(!verdict(7L), "'.' and '+' in rule paths must stay literal")
    assert(!verdict.contains(8L), "escaped '.'/'+' must not act as regex operators")
  }

  test("t_pipeline_schedule: blocked absent, politeness spacing, tier priority") {
    val ops = graft.queries.LlmOps
    val out = ops.pipelineSchedule(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // recompute the frontier driver-side from the fixture arithmetic:
    // blocked = path digit in {K, J} per domain
    val byId = docs.select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1) + ".example.com"))
    val allowed = byId.filter { case (id, dom) =>
      val (k, j) = (dom.length % 7, (dom.length + 3) % 7)
      id % 7 != k && id % 7 != j }
    // coverage: every allowed page scheduled exactly once, NO blocked id
    // can hide (id_sum is a checksum over the whole plan)
    assert(out.map(_._2).sum == allowed.length.toLong)
    assert(out.map(_._3).sum == allowed.map(_._1).sum)
    // replay the tick arithmetic driver-side: tier + (rank-1)*delay
    val tiers = ops.domainTierTable(spark, sf001)._2
      .select("domain", "tier").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expect = allowed.groupBy(_._2).toSeq.flatMap { case (dom, pages) =>
      val delay = 1L + dom.length % 3
      pages.map(_._1).sorted.zipWithIndex.map { case (id, i) =>
        (tiers(dom) + i * delay, id, tiers(dom)) }
    }
    val wantCard = expect.groupBy(_._1).map { case (t, rows) =>
      (t, rows.size.toLong, rows.map(_._2).sum,
        rows.count(_._3 == 1L).toLong) }.toSet
    assert(out.map(t => (t._1, t._2, t._3, t._4)).toSet == wantCard,
      "per-tick card diverges from the driver-side replay")
    // tier priority: tick 1 is exactly the tier-1 domains' first pages
    val t1 = out.find(_._1 == 1L).get
    assert(t1._2 == t1._4 && t1._2 == tiers.values.count(_ == 1L).toLong,
      "tick 1 must hold exactly one fetch per tier-1 domain")
    // delays actually vary across the fixture (the gate isn't trivial)
    assert(byId.map(_._2.length % 3).distinct.length > 1)
  }

  test("t_fetch_plan: one fetch per domain per tick, makespan = largest domain") {
    val out = graft.queries.LlmOps.fetchPlan(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val nDocs = docs.count()
    assert(out.map(_._2).sum == nDocs) // every page is scheduled once
    // ticks are 1..makespan, load is non-increasing (FIFO drain), and
    // the makespan equals the largest domain's page count
    val ticks = out.map(_._1)
    assert(ticks.toSeq == (1L to ticks.max).toSeq)
    val loads = out.sortBy(_._1).map(_._2)
    assert(loads.zip(loads.tail).forall { case (a, b) => a >= b },
      "per-tick load must drain monotonically")
    val domSizes = docs.select("source").collect().map(_.getString(0))
      .groupBy(identity).map(_._2.size)
    assert(ticks.max == domSizes.max.toLong)
    assert(out.find(_._1 == 1L).get._2 == domSizes.size.toLong,
      "tick 1 must fetch one page from EVERY domain")
  }

  test("t_pipeline_crawl: funnel reconciles, every stage fires") {
    val out = graft.queries.LlmOps.pipelineCrawl(spark, sf001).collect()
    val nDocs = docs.count()
    assert(out.map(_.getLong(1)).sum == nDocs) // n_crawled covers the corpus
    // per domain: survivors = crawled - url_dup = kept + quality-dropped
    assert(out.forall(r =>
      r.getLong(1) - r.getLong(2) == r.getLong(5) + r.getLong(4)))
    // every funnel stage removes something somewhere
    assert(out.map(_.getLong(2)).sum > 0, "URL dedup never fired")
    assert(out.map(_.getLong(3)).sum > 0, "paragraph dedup never fired")
    assert(out.map(_.getLong(4)).sum > 0, "quality floor never fired")
    assert(out.map(_.getLong(5)).sum > 0, "nothing survived the funnel")
    // the planted boilerplate headline is one of the removed paragraphs:
    // >= 1 removal per surviving doc (headline classes always recur)
    assert(out.forall(r => r.getLong(3) >= r.getLong(1) - r.getLong(2)))
  }

  test("s_xmodal: fused top-10 well-formed, measured recall vs the brute twin sane") {
    val out = graft.queries.LlmOps.xmodalRetrieve(spark, sf001).collect()
    assert(out.length == 10)
    // rrf_q strictly ordered output, every row has at least one leg
    val rrf = out.map(_.getLong(4))
    assert(rrf.sameElements(rrf.sortBy(-_)))
    assert(out.forall(r => !(r.isNullAt(2) && r.isNullAt(3))))
    assert(out.forall(r => Set("image", "audio", "video")(r.getString(1))))
    // the IVF-probed fusion must still find most of the exact fusion:
    // 3-of-8 probes on this corpus historically recovers >= 6/10
    val recall = out.count(_.getBoolean(5))
    assert(recall >= 6, s"fused-vs-exact recall collapsed: $recall/10")
    // kind is derived from the id, not fabricated
    assert(out.forall { r =>
      val want = (r.getLong(0) % 3) match {
        case 0 => "image"; case 1 => "audio"; case _ => "video" }
      r.getString(1) == want
    })
  }

  test("html extract: recovers planted main content, drops nav/ads/footer/short lines") {
    import graft.text.Html
    val page =
      """<html><head><title>Doc 9</title><style>p{color:red}</style></head><body>""" +
        """<nav><a href="/">Home</a> <a href="/x">Archive</a></nav>""" +
        """<div class="crumb">Top</div>""" +
        """<script type="text/js">var links = "<a href=x>never counted</a>";</script>""" +
        """<h1>The actual headline text</h1>""" +
        """<p>First real paragraph with enough characters &amp; a &lt;code&gt; sample.</p>""" +
        """<p>Second one cites <a href="/r">a source</a> but is mostly prose text.</p>""" +
        """<aside><a href="/buy">Buy now</a><a href="/more">More ads</a></aside>""" +
        """<footer>(c) <a href="/tos">Terms</a> <a href="/priv">Privacy</a></footer>""" +
        """</body></html>"""
    val got = Seq(page).toDF("html")
      .select(Html.extractMainText(col("html"))).head.getString(0)
    val want = "The actual headline text\n" +
      "First real paragraph with enough characters & a <code> sample.\n" +
      "Second one cites a source but is mostly prose text."
    assert(got == want, s"extracted:\n$got")
    // entity order: &amp;lt; means the LITERAL string "&lt;"
    val amp = Seq("<p>escape tutorial: write &amp;lt; for a less-than sign here</p>")
      .toDF("html").select(Html.extractMainText(col("html"))).head.getString(0)
    assert(amp == "escape tutorial: write &lt; for a less-than sign here")
    // exactly-half link density is still kept (rule is <=, 20 vs 10*2)
    val half = Seq("<p>0123456789<a href=\"/l\">0123456789</a></p>")
      .toDF("html").select(Html.extractMainText(col("html"))).head.getString(0)
    assert(half == "0123456789 0123456789")
  }

  test("html extract hardening: uppercase tags, comments, pre/code, bare anchors") {
    import graft.text.Html
    def x(page: String): String = Seq(page).toDF("html")
      .select(Html.extractMainText(col("html"))).head.getString(0)
    // uppercase block/break/script tags are everyday crawl markup
    assert(x("<P>Uppercase paragraph number one.<BR/>Uppercase line two here.</P>")
      == "Uppercase paragraph number one.\nUppercase line two here.")
    assert(x("<SCRIPT>\nvar links = \"<a href=/x>never</a>\";\n</SCRIPT>" +
      "<p>Real paragraph after the script block.</p>")
      == "Real paragraph after the script block.")
    assert(x("<STYLE media=\"all\">\np{color:red}\n</STYLE>" +
      "<p>Real paragraph after the style block.</p>")
      == "Real paragraph after the style block.")
    // a comment containing '>' must vanish whole (generic tag-strip
    // would cut at the first '>' and leak ' b -->' into line text)
    assert(x("<p>Before the comment plant.</p><!-- a > b -->" +
      "<p>After the comment plant text.</p>")
      == "Before the comment plant.\nAfter the comment plant text.")
    // <head> with attributes is dropped whole; <header> is NOT eaten
    // by the head rule (it is a block tag with content)
    assert(x("<head lang=\"en\"><title>T</title></head>" +
      "<header>Site header headline text</header><p>Body paragraph text here.</p>")
      == "Site header headline text\nBody paragraph text here.")
    // pre blocks: short, link-bearing code lines survive — the middle
    // line only via the running-depth window (no boundary on it)
    assert(x("<p>Intro prose paragraph before code.</p>" +
      "<pre>x = <a href=\"/api/f\">f</a>(1)\nm = h(3)\ny = g(2)</pre>")
      == "Intro prose paragraph before code.\nx = f (1)\nm = h(3)\ny = g(2)")
    // inline <code> exempts its containing line without splitting it
    // ("Use f(x)" is 8 chars — under MinTextChars without the exemption)
    assert(x("<p>Use <code>f(x)</code></p>") == "Use f(x)")
    // a BARE <a> (no attributes) contributes link mass: 2*18 > 19
    assert(x("<div><a>promo one</a> <a href=\"/p\">promo two</a></div>") == "")
    // unmatched </pre> drives depth negative: the following short
    // line is NOT exempt (documented malformed-markup behavior)
    assert(x("</pre>\nshort\n<pre>ok(1)</pre>") == "ok(1)")
  }

  test("t_html_extract gate: per-doc recovery of the planted page structure") {
    val out = graft.queries.LlmOps.htmlExtract(spark, sf001).collect()
    val nDocs = docs.count()
    assert(out.length == nDocs)
    // the planted page always has 13 non-blank lines, 8 of them kept
    // (h1, main p, uppercase P x2, citation, pre block x3)
    assert(out.forall(r => r.getLong(1) == 13L && r.getLong(2) == 8L))
    // dropped boilerplate link mass: nav 16 + bare-anchor promo 18 +
    // aside 16 + footer 19 = 69
    assert(out.forall(_.getLong(3) == 69L))
    // the extracted text IS headline + text-with-entities + uppercase
    // plant + citation + the pre-exempt code lines
    val byId = docs.select("doc_id", "text", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    val md = java.security.MessageDigest.getInstance("MD5")
    for (r <- out.take(40)) {
      val id = r.getLong(0)
      val (text, src) = byId(id)
      val want = s"Section ${id % 7} overview notes\n" +
        s"""$text & more <tags> "quoted"\n""" +
        "Uppercase markup doesn't scare this extractor.\n" +
        "Break two holds inline_code() tail.\n" +
        s"See reference $id for details about $src corpus section ${id % 7}.\n" +
        "x = f (1)\nm = h(3)\ny = g(2)"
      val wantMd5 = md.digest(want.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(r.getLong(4) == want.length.toLong, s"doc $id main_chars")
      assert(r.getString(5) == wantMd5, s"doc $id main_md5 drifted")
    }
  }

  test("d_para_dedup: planted shared paragraphs removed everywhere, unique tails kept") {
    val out = graft.queries.LlmOps.dedupPara(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toMap
    val nDocs = docs.count()
    assert(out.size == nDocs)
    // every doc has exactly 3 paragraphs and loses AT LEAST the shared
    // boilerplate one (11 classes over ~500 docs — always >= 2 members)
    assert(out.values.forall(_._1 == 3L))
    assert(out.values.forall(v => v._2 <= 2L && v._3 > 0L))
    // the unique tail always survives
    assert(out.values.forall(_._2 >= 1L))
    // driver-side recount on a sample: docs whose TEXT recurs verbatim
    // lose it too (RefinedWeb: every copy of a recurring paragraph goes)
    def norm(t: String) = t.trim.toLowerCase.replaceAll("\\s+", " ")
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val tFreq = texts.values.groupBy(norm).map { case (k, v) => k -> v.size }
    val md = java.security.MessageDigest.getInstance("MD5")
    for (id <- texts.keys.take(50)) {
      val textKept = tFreq(norm(texts(id))) < 2
      val kept = (if (textKept) Seq(norm(texts(id))) else Seq.empty) :+
        s"unique trailing note for document $id"
      val wantMd5 = md.digest(kept.mkString("\n").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(out(id)._4 == wantMd5, s"doc $id kept-text md5 drifted")
      assert(out(id)._2 == kept.size.toLong)
    }
  }

  test("d_url_dedup gate: duplicates exist, totals reconcile, domains = sources") {
    val out = graft.queries.LlmOps.dedupUrl(spark, sf001).collect()
    val nDocs = docs.count()
    assert(out.map(_.getLong(1)).sum == nDocs) // every doc has one URL
    assert(out.forall(r => r.getLong(1) >= r.getLong(2)))
    assert(out.map(_.getLong(3)).sum > 0, "no URL-level duplicates planted?")
    val domains = out.map(_.getString(0)).toSeq
    assert(domains == domains.sorted && domains.distinct == domains)
    assert(domains.forall(_.endsWith(".example.com")))
  }
}
