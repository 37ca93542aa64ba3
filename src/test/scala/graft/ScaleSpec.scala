package graft

import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.Skew

/** Scale-path plumbing: skew-salted self-join equivalence and runtime
  * bloom-filter pruning of a selective fact join. */
class ScaleSpec extends AnyFunSuite {
  import SharedSpark._
  import spark.implicits._

  test("Lineage.sever: local and reliable modes agree; reliable survives release") {
    import graft.util.Lineage
    val base = (1L to 100L).toDF("id")
      .select(col("id"), (col("id") * 7 % 13).as("v"))
      .filter(col("id") % 4 =!= 0)
    val expect = base.collect().toSeq.sortBy(_.getLong(0))

    // local (default) mode: leaf plan, identical rows
    val (loc, releaseLoc) = Lineage.sever(base)
    assert(loc.queryExecution.logical.children.isEmpty)
    assert(loc.collect().toSeq.sortBy(_.getLong(0)) == expect)
    releaseLoc(true)

    spark.conf.set(Lineage.ReliableKey, "true")
    try {
      // the flag without a checkpoint dir must fail FAST at sever time
      if (spark.sparkContext.getCheckpointDir.isEmpty) {
        intercept[IllegalArgumentException] { Lineage.sever(base) }
      }
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      spark.sparkContext.setCheckpointDir(dir.toString)
      val (rel, releaseRel) = Lineage.sever(base)
      assert(rel.queryExecution.logical.children.isEmpty)
      assert(rel.collect().toSeq.sortBy(_.getLong(0)) == expect)
      // the fault-tolerance contract: blocks live in DURABLE storage —
      // files exist under the checkpoint dir, and the frame stays
      // usable after its release hook runs (recompute reads the files;
      // the local mode's release is destructive by contrast)
      def files(p: java.nio.file.Path): Long = {
        val s = java.nio.file.Files.walk(p)
        try s.filter(java.nio.file.Files.isRegularFile(_)).count()
        finally s.close()
      }
      assert(files(dir) > 0, "reliable sever wrote no checkpoint files")
      releaseRel(true)
      assert(rel.collect().toSeq.sortBy(_.getLong(0)) == expect,
        "reliable-severed frame must survive its release hook")
    } finally spark.conf.unset(Lineage.ReliableKey)

    // malformed flag values fail at sever time with a message naming
    // the key (round-18 advice: a bare String.toBoolean throw from a
    // deep call site is undiagnosable); case/whitespace variants parse
    spark.conf.set(Lineage.ReliableKey, "1")
    try {
      val e = intercept[IllegalArgumentException] { Lineage.sever(base) }
      assert(e.getMessage.contains(Lineage.ReliableKey) &&
        e.getMessage.contains("'1'"))
    } finally spark.conf.unset(Lineage.ReliableKey)
    spark.conf.set(Lineage.ReliableKey, " False ")
    try {
      val (df, rel) = Lineage.sever(base) // parses as false: local path
      assert(df.collect().toSeq.sortBy(_.getLong(0)) == expect)
      rel(true)
    } finally spark.conf.unset(Lineage.ReliableKey)
  }

  test("Lineage.sever lazy mode: same rows, constant-depth plan, nothing left after release") {
    import graft.util.Lineage
    val base = (1L to 100L).toDF("id")
      .select(col("id"), (col("id") * 7 % 13).as("v"))
      .filter(col("id") % 4 =!= 0)
    val expect = base.collect().toSeq.sortBy(_.getLong(0))
    // the iterative-loop form (CC rounds): the same rows behind a leaf
    // plan, 30 stacked rounds stay flat, and releasing every round
    // leaves no persisted RDD behind. Other suites share this session
    // and may hold their own tracked caches, so release is asserted
    // only over the RDDs this test creates.
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val (lazy0, releaseLazy0) = Lineage.sever(base, eager = false)
    assert(lazy0.schema == base.schema)
    assert(lazy0.queryExecution.logical.children.isEmpty,
      s"lazy sever plan is not a leaf:\n${lazy0.queryExecution.logical}")
    assert(lazy0.collect().toSeq.sortBy(_.getLong(0)) == expect)
    var f = lazy0
    var releases = List(releaseLazy0)
    for (_ <- 1 to 30) {
      val (nf, r) = Lineage.sever(f.select(col("id"), (col("v") + 1).as("v")), eager = false)
      f = nf; releases ::= r
    }
    assert(f.queryExecution.logical.children.isEmpty)
    assert(f.agg(sum(col("v"))).collect().head.getLong(0) ==
      base.agg(sum(col("v") + 30)).collect().head.getLong(0))
    releases.foreach(_(true))
    val leftover = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
    assert(leftover.isEmpty, s"lazily severed RDDs survive release: $leftover")
  }

  test("Lineage.sever under block loss: reliable mode recomputes, local mode raises") {
    import graft.util.Lineage
    import org.apache.spark.graft.BlockLoss
    val base = (1L to 100L).toDF("id")
      .select(col("id"), (col("id") * 7 % 13).as("v"))
      .filter(col("id") % 4 =!= 0)
    val expect = base.collect().toSeq.sortBy(_.getLong(0))
    // sever, read once, then drop the frame's blocks the way a lost
    // executor would and read again
    def readAfterLoss(): Seq[org.apache.spark.sql.Row] = {
      val (cp, release) = Lineage.sever(base)
      try {
        assert(cp.collect().toSeq.sortBy(_.getLong(0)) == expect)
        val rddId = cp.queryExecution.analyzed.collectFirst {
          case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.id
        }.get
        BlockLoss.dropBlocks(spark.sparkContext, rddId)
        cp.collect().toSeq.sortBy(_.getLong(0))
      } finally release(true)
    }
    // local mode: the blocks were the only copy
    val e = intercept[org.apache.spark.SparkException](readAfterLoss())
    assert(e.getMessage.contains("CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"), e.getMessage)
    spark.conf.set(Lineage.ReliableKey, "true")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft-ckpt")
      spark.sparkContext.setCheckpointDir(dir.toString)
      assert(readAfterLoss() == expect)
    } finally spark.conf.unset(Lineage.ReliableKey)
  }

  test("saltedSelfJoinPairs == plain self-join pairs, every salt") {
    // skewed buckets on purpose: one hot bucket with 12 members
    val rows = (Seq.tabulate(12)(i => (i.toLong, "hot")) ++
      Seq((100L, "b1"), (101L, "b1"), (200L, "b2"), (300L, "solo")))
      .toDF("doc", "bucket")
    val plain = rows.as("x").join(rows.as("y"),
        col("x.bucket") === col("y.bucket") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(plain.size == 12 * 11 / 2 + 1)
    for (salt <- Seq(1, 2, 3, 5, 8)) {
      val salted = Skew.saltedSelfJoinPairs(rows, Seq("bucket"), "doc", salt)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(salted == plain, s"salt=$salt: ${salted.size} vs ${plain.size}")
    }
  }

  test("minhash LSH candidates identical with and without banding salt") {
    val docs = Tables.documents(spark, sf0001)
    val unsalted = Dedup.minhashLshCandidates(docs, n = 3, numHashes = 64, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Dedup.minhashLshCandidates(docs, n = 3, numHashes = 64, bands = 16,
        salt = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(unsalted.nonEmpty && salted == unsalted)
  }

  /** Driver-side union-find whose roots are component minima: the
    * reference [[Dedup.connectedComponents]] is checked against. */
  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- edges) {
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  private def components(edges: Seq[(Long, Long)], maxIters: Int = 20): Map[Long, Long] =
    try Dedup.connectedComponents(edges.toDF("doc_a", "doc_b"), maxIters = maxIters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally graft.util.IntermediateCaches.releaseAll(blocking = true)

  /** Jobs the min-label loop launched on [[mixedFixture]] when its
    * rounds went through the plan-only `Lineage.cut` (measured). */
  private val CcFixtureJobs = 24

  private val mixedFixture = Seq(
    (1L, 2L), (2L, 3L),                            // path of 3
    (10L, 11L),                                    // pair
    (20L, 21L), (21L, 22L), (20L, 22L),            // triangle
    (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L) // chain (diameter 4)
  )

  /** Generated pair graphs: disjoint cliques, stars, chains shorter
    * than the default round budget and single edges over ids that
    * include the ends of the Long range (their label sums overflow a
    * Long, so only the decimal convergence sum can tell rounds apart),
    * with duplicated and reversed edges; one graph in ten is empty. */
  private val genGraph: Gen[Seq[(Long, Long)]] = {
    val pool = (0L until 40L) ++ (0L until 10L).map(Long.MinValue + _) ++
      (0L until 10L).map(Long.MaxValue - _)
    val genShape: Gen[(String, Int)] = Gen.oneOf(
      Gen.choose(2, 5).map("clique" -> _), Gen.choose(3, 7).map("star" -> _),
      Gen.choose(2, 12).map("chain" -> _), Gen.const("edge" -> 2))
    def edgesOf(shape: String, ids: Seq[Long]): Seq[(Long, Long)] = shape match {
      case "clique" => ids.combinations(2).map(p => (p(0), p(1))).toSeq
      case "star" => ids.tail.map(ids.head -> _)
      case _ => ids.zip(ids.tail)
    }
    val nonEmpty = for {
      shapes <- Gen.choose(1, 4).flatMap(Gen.listOfN(_, genShape))
      seed <- Gen.long
      extra <- Gen.listOfN(shapes.map(_._2).sum * 2, Gen.choose(0, 3))
    } yield {
      val ids = new scala.util.Random(seed).shuffle(pool)
      val starts = shapes.map(_._2).scanLeft(0)(_ + _)
      val edges = shapes.zip(starts).flatMap { case ((shape, n), at) =>
        edgesOf(shape, ids.slice(at, at + n)) }
      // 0 = as is, 1 = reversed, 2 = duplicated, 3 = both directions
      edges.zip(extra).flatMap { case ((a, b), x) =>
        x match { case 0 => Seq((a, b)); case 1 => Seq((b, a))
          case 2 => Seq((a, b), (a, b)); case _ => Seq((a, b), (b, a)) } }
    }
    Gen.frequency(1 -> Gen.const(Seq.empty[(Long, Long)]), 9 -> nonEmpty)
  }

  test("connectedComponents == driver union-find on mixed chains/cliques/pairs") {
    assert(components(mixedFixture) == unionFind(mixedFixture))
  }

  test("connectedComponents == driver union-find on the gate corpus near-dup graph") {
    val docs = Tables.documents(spark, sf0001)
    val gate = Dedup.minhashLshPairs(docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(gate.nonEmpty && components(gate) == unionFind(gate))
  }

  test("connectedComponents == driver union-find on generated graphs") {
    val prop = Prop.forAllNoShrink(genGraph) { edges =>
      val (got, want) = (components(edges), unionFind(edges))
      (got == want) :| s"edges=$edges\n cc: $got\n uf: $want"
    }
    val res = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(20).withInitialSeed(Seed(20261019L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("connectedComponents throws past its round budget") {
    // 1000 nodes in a single path, ids permuted so labels can't ride the
    // edge direction: min-label needs ~999 rounds (one hop per round).
    // 919 is coprime with 1000 ⇒ permutation. The silent-partial-
    // clustering guard: past the budget it must THROW, never return
    // unconverged labels.
    val perm = (0 until 1000).map(i => (i * 919) % 1000)
    val chain = (0 until 999).map(i => (perm(i).toLong, perm(i + 1).toLong))
      .toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIters = 10)
    }
    assert(e.getMessage.contains("did not converge") && e.getMessage.contains("maxIters"))
    graft.util.IntermediateCaches.releaseAll(blocking = true)
  }

  test("connectedComponents converges on a permuted 100-node chain with maxIters raised") {
    // node 0 sits at one end (perm(0) = 0), so its label needs 99 hops
    // and the loop runs 100 rounds: each round must leave neither a
    // deeper plan nor a deeper RDD chain behind
    val perm = (0 until 100).map(i => (i * 37) % 100)
    val chain = (0 until 99).map(i => (perm(i).toLong, perm(i + 1).toLong))
    val cc = components(chain, maxIters = 120)
    assert(cc.size == 100 && cc.values.forall(_ == 0L))
  }

  test("connectedComponents job count on the mixed chain/clique fixture") {
    // an eager sever (or any other extra per-round pass) shows up
    // here as extra jobs
    val pairs = mixedFixture.toDF("doc_a", "doc_b")
    val jobs = jobsOf { Dedup.connectedComponents(pairs) }
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(jobs <= CcFixtureJobs, s"connectedComponents launched $jobs jobs")
  }

  test("spreadIfNarrow decides from the plan: no job on an aggregate, narrow scans still spread") {
    import graft.util.Partitioning.spreadIfNarrow
    val target = spark.sparkContext.defaultParallelism
    val scan = Tables.documents(spark, sf0001)
    val agg = scan.groupBy((col("doc_id") % 7).as("k")).agg(count(lit(1)).as("n"))
    // asking an adaptive plan's RDD for its partition count executes
    // every shuffle stage; the decision must come from planning alone
    var spreadAgg = agg
    assert(jobsOf { spreadAgg = spreadIfNarrow(agg) } == 0)
    assert(spreadAgg.collect().toSet == agg.collect().toSet)
    // the aggregate is planned at spark.sql.shuffle.partitions (= the
    // target here): the planned count, taken before AQE coalescing,
    // reads wide, so it passes through
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt >= target)
    assert(spreadAgg eq agg)
    // the one-file scan the gates pass is still spread to the target
    assert(scan.rdd.getNumPartitions < target)
    assert(spreadIfNarrow(scan).rdd.getNumPartitions == target)
    // and an input already as wide as the cluster passes through
    val wide = scan.repartition(target)
    assert(spreadIfNarrow(wide) eq wide)
    // an adaptive union of wide inputs reads as its children together,
    // not as narrow: no round-robin shuffle added, no job run
    for (u <- Seq(wide.union(scan.repartition(target)), agg.union(agg))) {
      var spreadU = u
      assert(jobsOf { spreadU = spreadIfNarrow(u) } == 0)
      assert(spreadU eq u)
    }
    // a union of narrow scans is still spread
    assert(spreadIfNarrow(scan.union(scan)).rdd.getNumPartitions == target)
  }

  test("triangle partitioning spreads a hot bucket's pair work across cells") {
    // 40-doc hot bucket: unsalted, all C(40,2)=780 candidate pairs are
    // generated under ONE shuffle key. With salt=4 the work lands on the
    // 10 upper-triangle chunk cells; no cell may hold more than a
    // fraction — the straggler-split claim, checked against the actual
    // chunk assignment (pmod(xxhash64(id), salt), same as Skew's).
    val hot = (0 until 40).map(_.toLong)
    val salt = 4
    val chunkOf = hot.toDF("id")
      .select(col("id"), pmod(xxhash64(col("id")), lit(salt)).cast("int").as("c"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val cellLoad = hot.combinations(2).toSeq
      .groupBy { case Seq(a, b) =>
        val (ca, cb) = (chunkOf(a), chunkOf(b))
        (math.min(ca, cb), math.max(ca, cb))
      }.map { case (cell, ps) => cell -> ps.size }
    val worst = cellLoad.values.max
    assert(cellLoad.values.sum == 780)
    // perfect spread would be 780/10 = 78/cell; allow hash imbalance but
    // require the straggler to shrink by >3x vs the unsalted single task
    assert(worst < 260, s"hot-bucket straggler not split: worst cell $worst of 780")
    // and the salted operator still returns exactly the right pairs
    val df = hot.map((_, "hot")).toDF("doc", "bucket")
    val got = Skew.saltedSelfJoinPairs(df, Seq("bucket"), "doc", salt).count()
    assert(got == 780)
  }

  test("IntermediateCaches.releaseAll unpersists exactly the operator-internal caches") {
    spark.catalog.clearCache()
    val docs = Tables.documents(spark, sf0001)
    Dedup.minhashLshPairs(docs, n = 3, threshold = 0.5).count()
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "minhashLshPairs should have registered a persisted candidate set")
    graft.util.IntermediateCaches.releaseAll(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "releaseAll must leave no operator-internal cache behind")
    assert(graft.util.IntermediateCaches.trackedCount == 0)
  }

  test("cosineLshPairsPortable on an empty corpus returns an empty frame with the right schema") {
    val empty = spark.emptyDataset[(Long, Array[Float])].toDF("vec_id", "embedding")
    val out = graft.similarity.Ann.cosineLshPairsPortable(empty, 0.5)
    assert(out.columns.toSeq == Seq("va", "vb", "sim"))
    assert(out.count() == 0)
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // 100 TB shape: a selective dimension filter (part, p_size < 3)
    // should reach the fact scan (lineitem) as a row-level bloom filter
    // when neither side broadcasts — Catalyst's InjectRuntimeFilter does
    // this without any operator-side code, PROVIDED the join is a
    // shuffle join and the creation side is filtered & small. This spec
    // pins the behavior (and the config surface) so the capability is
    // demonstrated and guarded.
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" ->
        spark.conf.getOption("spark.sql.optimizer.runtime.bloomFilter.enabled"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        spark.conf.getOption(
          "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // the gate: app side must look big enough to be worth filtering —
    // local test files are far below the 10 GB default
    spark.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    try {
      val li = Tables.lineitem(spark, sf0001)
      val part = Tables.part(spark, sf0001).filter(col("p_size") < 3)
      val joined = li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_size")).agg(sum(col("l_quantity")).as("qty"))
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.toLowerCase.contains("bloom"),
        s"expected an injected bloom filter in:\n$plan")
      assert(joined.count() > 0)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
