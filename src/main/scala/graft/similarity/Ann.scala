package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * All vector math is builtin higher-order functions (`zip_with` +
  * `aggregate` folds) — codegen'd, no UDF, and the fold order is the
  * array order, which keeps double accumulation deterministic and lets
  * the DuckDB oracle reproduce results bit-for-bit.
  *
  * Scale notes (100 TB): brute force is one broadcast of the query
  * vector + a map-side top-k (TakeOrderedAndProject — no full sort).
  * The LSH variant buckets by random-hyperplane signs so candidate sets
  * shrink by ~2^planes; recall is probed with multiple offset rotations.
  */
object Ann {

  /** Σ aᵢ·bᵢ as double — codegen'd tight loop (VectorOps), accumulating
    * in array order exactly like the HOF fold it replaced, so results
    * stay bit-identical to DuckDB's list_dot_product on DOUBLE[]. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorOps.dot(a, b)

  def l2norm(a: Column): Column =
    org.apache.spark.sql.graft.VectorOps.l2norm(a)

  /** The interpreted higher-order-function formulations, kept as the
    * value-equality reference for VectorOps in specs. */
  private[graft] def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private[graft] def l2normHof(a: Column): Column =
    sqrt(aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v))

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** True iff the vector has a nonzero L2 norm. GENERATED embeddings
    * (signed token sums — [[org.apache.spark.sql.graft.HashedEmbed]])
    * can be the exact zero vector when every dimension cancels (an
    * empty token bag does it exactly; short docs can at crawl scale);
    * cosine against a zero vector THROWS divide-by-zero under Spark
    * 4's default ANSI mode (measured — EmbedGenSpec pins it), and with
    * ANSI off would be NaN, which sorts FIRST under Spark's DESC while
    * DuckDB's NULL sorts last — so every generated-embedding consumer
    * must drop zero vectors at the featurizer boundary, with the
    * oracle applying the same exact integer-sum-of-squares predicate.
    * Fixture embeddings are nonzero by construction and need no guard.
    * The sum of squares is exact in double for any realistic token
    * count (components are small integers, well under 2^26). */
  def nonzeroNorm(a: Column): Column =
    aggregate(a, lit(0.0), (acc, x) =>
      acc + x.cast("double") * x.cast("double")) > lit(0.0)

  /** Exact top-k by cosine against one stored query vector; deterministic
    * ordering via (rounded sim desc, id). */
  def bruteForceTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = embeddings.filter(col(idCol) === queryVecId)
      .select(col(vecCol).as("qvec"))
    embeddings.filter(col(idCol) =!= queryVecId)
      .crossJoin(broadcast(q))
      .select(col(idCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Most-similar pairs in the corpus, exact, deterministic top-n.
    * O(n²) dots, but each vector's norm is computed ONCE up front (3×
    * fewer folds than naive pairwise cosine); per-pair work is a single
    * dot + one division. For verifying the LSH path and oracle-scale
    * corpora. */
  def topSimilarPairs(embeddings: DataFrame, topN: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    // single-file corpora = one partition; spread the O(n²) stage
    // (wide inputs pass through — no pointless full shuffle at scale)
    val spread = graft.util.Partitioning.spreadIfNarrow(embeddings)
    val withNorm = spread.select(col(idCol), col(vecCol),
      l2norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col(idCol).as("va"), col(vecCol).as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col(idCol).as("vb"), col(vecCol).as("eb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
      .orderBy(desc("sim"), col("va"), col("vb"))
      .limit(topN)
  }

  /** Embedding-cosine near-duplicate pairs: ALL pairs with
    * round(cosine, 6) ≥ threshold. Exact O(n²) verification path (norms
    * computed once; rounding makes the threshold boundary cross-engine
    * deterministic). The scale path is [[cosineLshPairsPortable]]. */
  def cosinePairs(embeddings: DataFrame, threshold: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spread = graft.util.Partitioning.spreadIfNarrow(embeddings)
    val withNorm = spread.select(col(idCol), col(vecCol),
      l2norm(col(vecCol)).as("nrm"))
    val a = withNorm.select(col(idCol).as("va"), col(vecCol).as("ea"), col("nrm").as("na"))
    val b = withNorm.select(col(idCol).as("vb"), col(vecCol).as("eb"), col("nrm").as("nb"))
    a.crossJoin(b).filter(col("va") < col("vb"))
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Scale path for embedding near-dup mining: multi-table
    * random-hyperplane LSH banding + exact-cosine verification of the
    * candidates only. Each of `tables` tables keys on `planesPerTable`
    * sign bits (distinct planes per table); two vectors at angle θ agree
    * on one bit with p = 1 − θ/π, land in the same bucket of a table
    * with p^planesPerTable, and are recalled by ≥1 of T tables with
    * 1 − (1 − p^b)^T → near-1 for genuine near-dups (θ → 0) while
    * random pairs stay unbucketed. Shuffle volume: docs × tables ×
    * 16 B; the verify join touches candidates only — never n².
    *
    * All T·B sign bits come from the one-pass codegen'd
    * [[org.apache.spark.sql.graft.PortableCosineLshKeys]] expression
    * (md5-derived Rademacher signs, floor-quantized integer
    * projections), so every bucket key is exactly recomputable in ANSI
    * SQL and a gate on this path is fully DuckDB-oracle-able (banding
    * AND verify). The boundary shift from quantization is ≤ dim·2^-20
    * per projection (geometry only — candidates are still verified with
    * the exact cosine). Deduplication of multi-table hits happens once,
    * AFTER the verify joins (one exchange; duplicate candidates are rare
    * at sane planesPerTable, so verifying them twice is cheaper than an
    * extra pre-verify distinct exchange). */
  def cosineLshPairsPortable(embeddings: DataFrame, threshold: Double,
      planesPerTable: Int = 16, tables: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val spread = graft.util.Partitioning.spreadIfNarrow(embeddings)
    val banded = spread.select(col(idCol).as("doc"),
      posexplode(org.apache.spark.sql.graft.PortableCosineLshKeys
        .portable_cosine_lsh_keys(col(vecCol), planesPerTable, tables))
        .as(Seq("band", "bkey")))
    val cands = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bkey") === col("y.bkey") &&
          col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("va"), col("y.doc").as("vb"))
    val withNorm = spread.select(col(idCol), col(vecCol), l2norm(col(vecCol)).as("nrm"))
    cands
      .join(withNorm.select(col(idCol).as("va"), col(vecCol).as("ea"), col("nrm").as("na")), "va")
      .join(withNorm.select(col(idCol).as("vb"), col(vecCol).as("eb"), col("nrm").as("nb")), "vb")
      .select(col("va"), col("vb"),
        round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6).as("sim"))
      .filter(col("sim") >= threshold)
      .distinct()
  }

  /** Bit-signature of `planes` random-hyperplane signs: one table of the
    * codegen'd [[org.apache.spark.sql.graft.PortableCosineLshKeys]]
    * expression, so the signature bits are exactly recomputable in ANSI
    * SQL (no driver plane matrix, no interpreted higher-order-function
    * stage). */
  def lshSignaturePortable(vec: Column, planes: Int): Column =
    org.apache.spark.sql.graft.PortableCosineLshKeys
      .portable_cosine_lsh_keys(vec, planes, 1).getItem(0)

  /** Collect the dimension-sized seed table (k centroids — tiny by
    * contract) into the reference-object shape the codegen'd
    * [[org.apache.spark.sql.graft.NearestCentroid]] argmax closes over.
    * Floats widen to double exactly, so parity with the HOF cosine is
    * bit-level. */
  private[graft] def collectSeeds(seeds: DataFrame): (Array[Long], Array[Array[Double]]) = {
    val rows = seeds.select(col("cell_id"), col("cvec")).collect()
    val cells = rows.map(_.getLong(0))
    // a centroid containing a null element becomes a null MATRIX ROW:
    // NearestCentroid yields a null similarity for it — sorting BELOW
    // every real cosine, exactly like the HOF formulation's null
    // cosine (unreachable for the parquet embeddings, whose arrays are
    // containsNull = false, but the parity must not depend on that)
    val cents = rows.map { r =>
      val s = r.getSeq[Any](1)
      if (s == null || s.contains(null)) null
      else s.map {
        case f: Float => f.toDouble
        case d: Double => d
      }.toArray
    }
    (cells, cents)
  }

  /** Lloyd refinement of IVF cells: assign → element-wise mean per cell
    * → repeat. Mean via posexplode + groupBy(cell, pos) stays fully
    * distributed; only the k×d centroid table is driver-sized (it is
    * collected once per iteration to feed the codegen'd argmax — the
    * previous broadcast-column formulation materialized the same table
    * per iteration anyway, as a one-row crossJoin side). Cell geometry
    * affects recall-per-probe only, never re-rank correctness (the
    * exhaustive-probe == brute-force spec holds for ANY seeds).
    *
    * The per-cell mean is QUANTIZED-EXACT, not `avg(double)`: each
    * element rounds to the 1e-9 grid as a long (both engines'
    * ROUND(x·1e9) is half-away-from-zero, so even exact-tie dyadic
    * inputs agree), the sum is exact integer arithmetic — commutative,
    * so partition order cannot perturb it — and the mean is ONE IEEE
    * division by n·1e9. That makes a refined-geometry pipeline
    * SQL-oracle-able end-to-end (s_ann_ivf_lloyd recomputes both
    * iterations in DuckDB and hash-matches); avg(double) was
    * partition-order-dependent, which is why no oracled gate could run
    * lloydIters > 0 before. Grid error (≤5e-10 per element) moves cell
    * geometry imperceptibly — and geometry affects recall only. The
    * long sum holds to ~9·10⁹ members per cell at unit-scale
    * embeddings; cells at 100 TB are sized by semDedupByCellSize far
    * below that. */
  private def lloydRefine(df: DataFrame, seeds0: DataFrame, iters: Int,
      idCol: String, vecCol: String): DataFrame = {
    var seeds = seeds0
    for (_ <- 0 until iters) {
      val (cells, cents) = collectSeeds(seeds)
      val assigned = df.select(col(vecCol),
        org.apache.spark.sql.graft.NearestCentroid
          .nearest_centroid(col(vecCol), cells, cents).as("cell"))
      seeds = assigned
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(round(col("x").cast("double") * lit(1e9), 0).cast("long"))
          .cast("double") / (count(lit(1)).cast("double") * lit(1e9))).as("m"))
        .groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell").as("cell_id"),
          transform(col("pm"), e => e.getField("m")).as("cvec"))
    }
    seeds
  }

  /** The seed (coarse-centroid) table: the `nCells` lowest-id vectors,
    * optionally Lloyd-refined. */
  private[graft] def ivfSeeds(embeddings: DataFrame, nCells: Int, lloydIters: Int,
      idCol: String, vecCol: String): DataFrame = {
    val seeds0 = embeddings.orderBy(col(idCol)).limit(nCells)
      .select(col(idCol).as("cell_id"), col(vecCol).as("cvec"))
    if (lloydIters <= 0) seeds0
    else lloydRefine(graft.util.Partitioning.spreadIfNarrow(embeddings),
      seeds0, lloydIters, idCol, vecCol)
  }

  /** Assignment against a given seed table: the codegen'd
    * [[org.apache.spark.sql.graft.NearestCentroid]] argmax with the
    * collected (dimension-sized) centroid matrix as a codegen reference
    * object — one vector-norm pass + k dots in a tight loop per row. A
    * pure map pass: no groupBy, no shuffle keyed on the embedding
    * vector, and no per-(row, seed) interpreted lambda (the previous
    * `array_max(transform(…))` walked the HOF tree per seed — linear,
    * but interpreted; at production cell counts, thousands of
    * interpreted struct allocations per row). Deterministic tie-break:
    * higher sim, then higher cell id. */
  private[graft] def assignToSeeds(spreadDf: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val (cells, cents) = collectSeeds(seeds)
    spreadDf.select(col(idCol), col(vecCol),
      org.apache.spark.sql.graft.NearestCentroid
        .nearest_centroid(col(vecCol), cells, cents).as("cell"))
  }

  /** The interpreted broadcast-column HOF argmax the codegen expression
    * replaced — kept as the value-equality reference for specs (the
    * same role [[dotHof]] plays for VectorOps). */
  private[graft] def assignToSeedsHof(spreadDf: DataFrame, seeds: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val seedArr = seeds.agg(collect_list(struct(col("cell_id"), col("cvec"))).as("seeds"))
    spreadDf.crossJoin(broadcast(seedArr))
      .select(col(idCol), col(vecCol),
        array_max(transform(col("seeds"), sd =>
          struct(round(cosine(col(vecCol), sd.getField("cvec")), 9).as("s"),
            sd.getField("cell_id").as("cell_id"))))
          .getField("cell_id").as("cell"))
  }

  /** IVF cell assignment: every vector → the id of its nearest coarse
    * cell (max rounded cosine, ties to the higher cell id). Returns
    * (idCol, vecCol, cell). See [[assignToSeeds]] for the shape. */
  def ivfAssign(embeddings: DataFrame, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 0): DataFrame =
    assignToSeeds(graft.util.Partitioning.spreadIfNarrow(embeddings),
      ivfSeeds(embeddings, nCells, lloydIters, idCol, vecCol), idCol, vecCol)

  /** IVF (inverted-file) ANN: vectors are assigned to the nearest of
    * `nCells` coarse cells; a query searches only the `probes` cells
    * nearest to it, then exact cosine re-ranks. Cells here are seeded
    * deterministically from the `nCells` lowest-id vectors (a production
    * index would run Lloyd iterations — cell geometry affects recall
    * only, never the correctness of the re-rank).
    *
    * Scale shape: assignment is a broadcast of nCells vectors + one map
    * pass; the search probes `probes/nCells` of the corpus. Cell ids
    * can be persisted as a partition column so a probe prunes parquet
    * partitions instead of scanning. */
  def ivfTopK(embeddings: DataFrame, queryVecId: Long, k: Int,
      nCells: Int = 16, probes: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 0): DataFrame = {
    import embeddings.sparkSession.implicits._
    val spreadDf = graft.util.Partitioning.spreadIfNarrow(embeddings)
    // one seed derivation, shared by the assignment argmax and the
    // query-side probe ranking (see batchTopKIvf)
    val (cells, cents) = collectSeeds(
      ivfSeeds(embeddings, nCells, lloydIters, idCol, vecCol))
    val assigned = spreadDf.select(col(idCol), col(vecCol),
      org.apache.spark.sql.graft.NearestCentroid
        .nearest_centroid(col(vecCol), cells, cents).as("cell"))
    val seedsLocal = cells.zip(cents.map(c => if (c == null) null else c.toSeq))
      .toSeq.toDF("cell_id", "cvec")
    val queryCells = embeddings.filter(col(idCol) === queryVecId)
      .select(col(vecCol).as("qvec"))
      .crossJoin(broadcast(seedsLocal))
      .select(col("qvec"),
        struct(round(cosine(col("qvec"), col("cvec")), 9).as("s"),
          col("cell_id")).as("sc"))
      .orderBy(desc("sc"))
      .limit(probes)
      .select(col("qvec"), col("sc").getField("cell_id").as("cell"))
    assigned.filter(col(idCol) =!= queryVecId)
      .join(broadcast(queryCells), Seq("cell"))
      .select(col(idCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  /** Batched exact top-k: nearest `k` corpus vectors for EVERY query in
    * a query set at once — the production retrieval shape (per-query
    * [[bruteForceTopK]] calls would launch one job per query). The
    * query set is dimension-sized by assumption and broadcasts; each
    * corpus row then scores against all queries in one map pass
    * (norms on both sides computed once), and the per-query top-k is a
    * window rank over (query, sim) — one shuffle keyed by query id,
    * carrying only rows that could rank (a size-k TakeOrdered per
    * partition would prune further; the window form keeps the plan
    * declarative and the oracle exact). */
  def batchTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
      l2norm(col(vecCol)).as("qn"))
    val c = graft.util.Partitioning.spreadIfNarrow(corpus)
      .select(col(idCol), col(vecCol), l2norm(col(vecCol)).as("cn"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("sim"), col(idCol))
    c.join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(dot(col(vecCol), col("qvec")) / (col("cn") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("sim"), col("rank").cast("long").as("rank"))
  }

  /** Batched retrieval on the IVF scale path: [[batchTopK]]'s
    * query-set shape composed with [[ivfTopK]]'s cell probing — the
    * production 100 TB retrieval is batched AND bucketed, and this is
    * that composition in ONE plan:
    *
    *  1. assign the corpus ONCE (codegen
    *     [[org.apache.spark.sql.graft.NearestCentroid]] argmax — a map
    *     pass over the corpus, shared by every query);
    *  2. pick each query's `probes` nearest cells (query set × seed
    *     table — both dimension-sized by contract, so this is a
    *     broadcast-able speck of a frame);
    *  3. score each corpus row against exactly the queries probing its
    *     cell (equi-join on the cell id — the corpus-sized side carries
    *     ~probes/nCells of the query set per row, never all of it);
    *  4. per-query rank with the same deterministic (sim desc, id)
    *     window as [[batchTopK]] — Spark 4 plants a WindowGroupLimit
    *     partial/final pair, so each map partition ships only k rows
    *     per query into the rank exchange.
    *
    * Recall follows IVF semantics: a neighbor is findable iff its cell
    * is probed (probes = nCells ⇒ exact, == [[batchTopK]] — spec'd);
    * tie-breaks (round-9 cell cosine, ties to the higher cell id)
    * mirror [[ivfTopK]] so both probe paths are SQL-oracle-able. */
  def batchTopKIvf(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 16, probes: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 0): DataFrame = {
    import corpus.sparkSession.implicits._
    val spreadDf = graft.util.Partitioning.spreadIfNarrow(corpus)
    // ONE seed derivation: the collected matrix feeds both the codegen
    // assignment argmax and (as a local frame) the query-side probe
    // ranking — re-using the seeds PLAN on the query side would re-run
    // its orderBy/limit scan per invocation
    val (cells, cents) = collectSeeds(
      ivfSeeds(corpus, nCells, lloydIters, idCol, vecCol))
    val assigned = spreadDf.select(col(idCol), col(vecCol),
      org.apache.spark.sql.graft.NearestCentroid
        .nearest_centroid(col(vecCol), cells, cents).as("cell"),
      l2norm(col(vecCol)).as("cn"))
    val seedsLocal = cells.zip(cents.map(c => if (c == null) null else c.toSeq))
      .toSeq.toDF("cell_id", "cvec")
    probeRankFromIndex(assigned, seedsLocal, queries, k, probes, idCol, vecCol)
  }

  /** The probe + score + rank tail of [[batchTopKIvf]] over an ALREADY
    * MATERIALIZED index: `assigned` carries (idCol, vecCol, cell, cn)
    * — the stored cell assignment re-joined to its vectors — and
    * `seeds` the (cell_id, cvec) centroid table. This is the consuming
    * half of the index-as-artifact story (s_ann_index_commit): a
    * production IVF index is BUILT once (assignment pass + centroid
    * table), persisted, and probed by later jobs that never re-derive
    * it — the centroid table stays dimension-sized (broadcast), the
    * assignment equi-join is the only corpus-sized work. Semantics are
    * bit-identical to the in-memory path by construction (the in-memory
    * path now calls this). */
  def probeRankFromIndex(assigned: DataFrame, seeds: DataFrame,
      queries: DataFrame, k: Int, probes: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cs"), desc("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"),
        l2norm(col(vecCol)).as("qn"))
      .crossJoin(broadcast(seeds))
      .select(col("query_id"), col("qvec"), col("qn"),
        col("cell_id").as("cell"),
        round(cosine(col("qvec"), col("cvec")), 9).as("cs"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= probes)
      .select(col("query_id"), col("qvec"), col("qn"), col("cell"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("sim"), col(idCol))
    assigned.join(broadcast(queryCells), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(dot(col(vecCol), col("qvec")) / (col("cn") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("sim"),
        col("rank").cast("long").as("rank"))
  }

  /** [[semDedup]] with `nCells` DERIVED from a target mean cell size —
    * the sizing contract made explicit. Within-cell pair search is
    * O(Σ c_i²) ≈ n · targetCellSize for balanced cells, so the cell
    * count must GROW with the corpus: k ≈ n / targetCellSize. A fixed k
    * (the gate's 16) silently degenerates toward O(n²/k) as n grows —
    * at 100 TB each cell would hold n/16 vectors and the within-cell
    * join is quadratic again. This overload counts the corpus once
    * (scan-bound, reusable if the caller already knows n) and picks
    * k = max(1, ⌈n / targetCellSize⌉); targetCellSize trades recall
    * (bigger cells → fewer split near-dup pairs) against join cost
    * (pair work per row ∝ targetCellSize). Published SemDeDup practice
    * sits at a few hundred to a few thousand vectors per cell. */
  def semDedupByCellSize(embeddings: DataFrame, threshold: Double,
      targetCellSize: Long, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salt: Int = 1): DataFrame = {
    require(targetCellSize > 0, s"targetCellSize must be positive: $targetCellSize")
    val n = embeddings.count()
    val k = math.max(1L, (n + targetCellSize - 1) / targetCellSize)
    require(k <= Int.MaxValue, s"derived cell count $k overflows Int")
    semDedup(embeddings, threshold, k.toInt, lloydIters, idCol, vecCol, salt)
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication of an embedded corpus — partition the vectors into
    * coarse cells, find near-duplicate pairs WITHIN each cell only,
    * cluster the pair graph, keep one representative (min id) per
    * cluster. Returns the removal list: (idCol, keep_id) for every
    * vector that loses to a lower-id semantic duplicate.
    *
    * The cell partition is the scale lever: pair search is O(Σ c_i²)
    * over cell sizes instead of O(n²) over the corpus — with k
    * balanced cells, a k× reduction, and the within-cell join is an
    * equi-join on the cell id (one shuffle keyed by cell; a skewed
    * cell salts like any hot join key). SIZING RULE: the lever only
    * works if k grows with the corpus — k ≈ n / targetCellSize, i.e.
    * hold the MEAN CELL SIZE constant (hundreds to low thousands), not
    * the cell count; a fixed k leaves each cell at n/k and the
    * within-cell join quadratic again. Use [[semDedupByCellSize]] to
    * derive k from the contract directly. Cells come from [[ivfAssign]]:
    * deterministic lowest-id seeds so the whole composition is
    * SQL-oracle-able end-to-end; pass `lloydIters` > 0 for the
    * production k-means geometry (affects WHICH near-dup pairs share a
    * cell — i.e. recall — never the correctness of the within-cell
    * verify). Pairs crossing a cell boundary are not candidates — the
    * SemDeDup tradeoff by design.
    *
    * Clustering is [[graft.dedup.Dedup.connectedComponents]] — edges
    * are O(pairs), labels O(dup-graph nodes), the same shape the text
    * dedup pipelines run at 100 TB.
    *
    * `salt` > 1 routes the within-cell pair search through
    * [[graft.util.Skew.saltedSelfJoinPairs]] (triangle partitioning on
    * the cell key): a pathologically hot cell — the realistic failure
    * of clustered embeddings, where one dense region swallows a big
    * cell — spreads its O(c²) pair work across salt·(salt+1)/2 tasks
    * instead of one straggler. Pair set is identical (spec'd). */
  def semDedup(embeddings: DataFrame, threshold: Double,
      nCells: Int = 16, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salt: Int = 1): DataFrame =
    graft.dedup.Dedup.connectedComponents(
        semDedupPairs(embeddings, threshold, nCells, lloydIters,
          idCol, vecCol, salt))
      .filter(col("node") =!= col("comp"))
      .select(col("node").as(idCol), col("comp").as("keep_id"))

  /** The within-cell verified near-dup PAIR set [[semDedup]] clusters —
    * exposed so the measured-quality gate (`s_semdedup_recall`) can
    * intersect it with the exact cosine pair set: precision is 1 by
    * construction (every emitted pair is exact-cosine-verified), recall
    * is whatever fraction of true pairs the cell partition keeps
    * co-located — the SemDeDup tradeoff, now a measured number per cell
    * geometry instead of prose. */
  def semDedupPairs(embeddings: DataFrame, threshold: Double,
      nCells: Int = 16, lloydIters: Int = 0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      salt: Int = 1): DataFrame = {
    val assigned = ivfAssign(embeddings, nCells, idCol, vecCol, lloydIters)
    // the assignment pass (corpus-wide broadcast argmax over nCells
    // centroids) is the expensive map stage and the plan below fans out
    // over it — twice unsalted (both self-join sides), four times salted
    // (both triangle sides + both vector re-joins). Persist it once;
    // tracked in IntermediateCaches for eager release by callers.
    val withNorm = graft.util.IntermediateCaches.track(
      assigned.select(col(idCol), col("cell"), col(vecCol),
        l2norm(col(vecCol)).as("nrm"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val sim = round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
    val pairs =
      if (salt <= 1) {
        val a = withNorm.select(col("cell"), col(idCol).as("va"),
          col(vecCol).as("ea"), col("nrm").as("na"))
        val b = withNorm.select(col("cell"), col(idCol).as("vb"),
          col(vecCol).as("eb"), col("nrm").as("nb"))
        a.join(b, Seq("cell")).filter(col("va") < col("vb"))
          .select(col("va").as("doc_a"), col("vb").as("doc_b"), sim.as("sim"))
          .filter(col("sim") >= threshold)
          .select(col("doc_a"), col("doc_b"))
      } else {
        // candidate pairs via triangle partitioning, vectors re-joined
        // for the verify (candidate-sized, same shape as minhashLshPairs)
        graft.util.Skew
          .saltedSelfJoinPairs(withNorm.select(col("cell"), col(idCol)),
            Seq("cell"), idCol, salt)
          .join(withNorm.select(col(idCol).as("doc_a"),
            col(vecCol).as("ea"), col("nrm").as("na")), "doc_a")
          .join(withNorm.select(col(idCol).as("doc_b"),
            col(vecCol).as("eb"), col("nrm").as("nb")), "doc_b")
          .filter(sim >= threshold)
          .select(col("doc_a"), col("doc_b"))
      }
    pairs
  }

  /** Incremental SEMANTIC dedup — the embedding-space member of the
    * incremental-dedup family (exact fingerprints:
    * [[graft.dedup.Dedup.incrementalExact]]; shingle near-dup:
    * [[graft.dedup.Dedup.incrementalNear]]): a batch of arriving
    * vectors against an IVF-partitioned history index. Seeds are the
    * `nCells` lowest-id vectors of `seedSource` (the [[semDedup]]
    * convention — a stable catalog table, so cell geometry does not
    * drift as batches arrive); both sides are assigned by the codegen
    * [[org.apache.spark.sql.graft.NearestCentroid]] argmax, and an
    * arrival is a duplicate when a CO-CELLED history vector (dup_hist)
    * or a lower-id co-celled arrival (dup_batch) clears
    * round(cosine, 6) ≥ threshold — the SemDeDup detector applied
    * incrementally, with the same recall tradeoff (a cross-cell twin
    * is missed; [[semDedupPairs]]' measured-recall gate prices that).
    *
    * Scale shape: assignment is a broadcast-argmax map pass; norms are
    * computed ONCE per row before the verify join; the join keys on
    * the cell, so per-batch work is |arrivals-in-cell| × |cell| — the
    * SemDeDup quadratic bounded by cell size ([[semDedupByCellSize]]
    * sizes cells), never corpus². The streaming twin
    * ([[graft.streaming.Streaming.semDedupStream]]) holds the same
    * cell → (id, side, vector, norm) index as
    * flatMapGroupsWithState state. */
  def incrementalSem(batch: DataFrame, history: DataFrame,
      seedSource: DataFrame, threshold: Double, nCells: Int = 16,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val seeds = ivfSeeds(seedSource, nCells, 0, idCol, vecCol)
    val (cells, cents) = collectSeeds(seeds)
    def withCell(df: DataFrame, side: String) =
      graft.util.Partitioning.spreadIfNarrow(df).select(
        col(idCol), col(vecCol), lit(side).as("side"),
        org.apache.spark.sql.graft.NearestCentroid
          .nearest_centroid(col(vecCol), cells, cents).as("cell"),
        l2norm(col(vecCol)).as("nrm"))
    // assignment (argmax + norm) feeds both self-join sides — one pass
    val all = graft.util.IntermediateCaches.track(
      withCell(history, "h").unionByName(withCell(batch, "b"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val a = all.filter(col("side") === "b").select(col("cell"),
      col(idCol).as("va"), col(vecCol).as("ea"), col("nrm").as("na"))
    val b = all.select(col("cell"), col(idCol).as("vb"),
      col("side").as("side_b"), col(vecCol).as("eb"), col("nrm").as("nb"))
    val hits = a.join(b, Seq("cell"))
      .filter(col("side_b") === "h" || col("vb") < col("va"))
      .filter(round(dot(col("ea"), col("eb")) / (col("na") * col("nb")), 6)
        >= threshold)
      .groupBy(col("va"))
      .agg(sum(when(col("side_b") === "h", 1L).otherwise(0L)).as("n_hist"),
        sum(when(col("side_b") === "b", 1L).otherwise(0L)).as("n_prior"))
    batch.select(col(idCol))
      .join(hits, col(idCol) === col("va"), "left")
      .select(col(idCol),
        coalesce(col("n_hist"), lit(0L)).as("n_hist"),
        coalesce(col("n_prior"), lit(0L)).as("n_prior"),
        when(coalesce(col("n_hist"), lit(0L)) > 0, "dup_hist")
          .when(coalesce(col("n_prior"), lit(0L)) > 0, "dup_batch")
          .otherwise("kept").as("status"))
      .orderBy(col(idCol))
  }

  /** Approximate top-k with multi-probe: candidates differ from the
    * query's LSH signature ([[lshSignaturePortable]]) by at most `probe`
    * sign bits; exact cosine re-ranks. Signature, Hamming test and
    * re-rank are all exactly recomputable in ANSI SQL, so the gate is
    * fully oracle-able. Candidate fraction ≈ Σ_{i≤probe} C(planes,i) /
    * 2^planes. Recall tracks how concentrated similarity is — for
    * near-random corpora it approaches the candidate fraction; for
    * clustered real-world embeddings it is far higher. */
  def lshTopKPortable(embeddings: DataFrame, queryVecId: Long, k: Int,
      planes: Int, probe: Int = 1, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val signed = embeddings.select(col(idCol), col(vecCol),
      lshSignaturePortable(col(vecCol), planes).as("sig"))
    val q = signed.filter(col(idCol) === queryVecId)
      .select(col(vecCol).as("qvec"), col("sig").as("qsig"))
    signed.filter(col(idCol) =!= queryVecId)
      .join(broadcast(q), bit_count(col("sig").bitwiseXOR(col("qsig"))) <= probe)
      .select(col(idCol),
        round(cosine(col(vecCol), col("qvec")), 6).as("sim"))
      .orderBy(desc("sim"), col(idCol))
      .limit(k)
  }

  // ===== Product quantization (PQ) =====
  //
  // The memory-bound scale path for ANN: each d-dim vector compresses to
  // m small codes (one per d/m-dim subspace — the nearest entry of a
  // per-subspace codebook), and query scoring becomes table lookups
  // (asymmetric distance computation, ADC): dot(q, vec) ≈ Σⱼ
  // dot(qⱼ, codebook[j][codeⱼ]), where the per-(subspace, code) partials
  // are precomputed once per query. At 100 TB this is what makes the
  // index RAM-resident — m bytes per vector instead of 4d — and scoring
  // per (row, query) is m array reads + m-1 integer adds, no FLOPs.
  // (Jégou, Douze, Schmid, "Product Quantization for Nearest Neighbor
  // Search", TPAMI 2011.)
  //
  // Everything is deterministic so DuckDB can replay it exactly:
  //  - codebook = sub-slices of the `ksub` LOWEST-ID corpus vectors
  //    (code = 0-based rank by id), same convention as ivfSeeds;
  //  - encode = argmin of round(‖x−c‖², 9) per subspace, ties to the
  //    LOWER code, with the L2² expanded as
  //    (dot(x,x) − 2·dot(x,c)) + dot(c,c) — three sequence-order dots
  //    DuckDB reproduces bit-for-bit via list_dot_product;
  //  - ADC partials are quantized to round(dot·1e9) BIGINTs, so the
  //    per-row sum over m partials is EXACT integer arithmetic (no
  //    summation-order ambiguity), and only the final
  //    (squant/1e9)/(‖x‖·‖q‖) normalization touches IEEE division.

  /** Left-to-right Σx², the exact fold order of [[VectorOps]] /
    * DuckDB's list_dot_product(x, x). */
  private def ssqLR(a: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * a(i); i += 1 }
    acc
  }

  private def dotLR(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  /** Spark Round-on-double at scale 0 of x·1e9 — the quantized ADC
    * partial. Mirrors `CAST(ROUND(x * 1e9) AS BIGINT)` in DuckDB (both
    * engines round HALF_UP = half away from zero on doubles). */
  private def quant9(x: Double): Long =
    BigDecimal(x * 1e9).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Driver-side PQ codebook: `cents(j)(c)` = subspace-`j` slice of the
    * `c`-th lowest-id corpus vector. ksub×dim doubles — dimension-sized
    * by contract (the same shape as [[collectSeeds]]' seed matrix), so
    * the collect is a speck and the matrix rides into codegen literals.
    * Returns (subspace width, codebook). */
  private[graft] def pqCodebook(corpus: DataFrame, m: Int, ksub: Int,
      idCol: String, vecCol: String): (Int, Array[Array[Array[Double]]]) = {
    val rows = corpus.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).limit(ksub).collect()
    val vecs = rows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val dim = vecs.head.length
    require(dim % m == 0, s"embedding dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val cents = Array.tabulate(m, vecs.length) { (j, c) =>
      java.util.Arrays.copyOfRange(vecs(c), j * sub, (j + 1) * sub)
    }
    (sub, cents)
  }

  /** The `m` PQ code columns for `vec`: per subspace the 0-based code of
    * the nearest sub-centroid by round(L2², 9), ties to the lower code
    * (array_min on struct(dist, code) — Spark's struct ordering is
    * field-wise ascending). All builtins — slice/VectorOps.dot/
    * array_min stay inside whole-stage codegen; the repeated dot(s, s)
    * per subspace is shared by codegen subexpression elimination.
    * Null-element inputs follow the embeddings data contract
    * (containsNull = false); a null dist would win array_min where
    * DuckDB's NULLS LAST loses it, so the parity holds on that
    * contract only (same caveat as every cosine gate). */
  private def pqCodeCols(vec: Column, sub: Int,
      cents: Array[Array[Array[Double]]]): Seq[Column] =
    cents.indices.map { j =>
      val s = slice(vec, j * sub + 1, sub)
      val entries = cents(j).indices.map { c =>
        val cv = cents(j)(c)
        val dist = round(
          (dot(s, s) - lit(2.0) * dot(s, typedLit(cv.toSeq))) + lit(ssqLR(cv)), 9)
        struct(dist, lit(c.toLong))
      }
      array_min(array(entries: _*)).getField("col2")
    }

  /** Per-subspace Lloyd refinement of the PQ codebook — the TRAINED
    * codebook a production index ships (the seed slice is only the
    * iteration-0 geometry). Each iteration runs ALL m subspace k-means
    * in ONE distributed pass:
    *
    *  1. encode: the codegen'd [[pqCodeCols]] argmin assigns every
    *     corpus row a code per subspace (map-only);
    *  2. posexplode the vector ONCE — element (pos, x) belongs to
    *     subspace j = pos div sub at offset pos mod sub, and picks its
    *     code from the row's codes array — then groupBy (j, code, spos)
    *     computes the new centroid element as the QUANTIZED-EXACT mean
    *     (1e-9-grid longs, exact commutative BIGINT sum, one IEEE
    *     division — the proven s_ann_ivf_lloyd arithmetic), so DuckDB
    *     replays every iteration bit-for-bit and the trained pipeline
    *     stays fully SQL-oracle-able;
    *  3. the m·ksub·(d/m) = ksub·d means collect driver-side (codebook-
    *     sized by contract — same speck as the seed collect) and
    *     overwrite the matrix; a code that captured NO rows keeps its
    *     previous centroid (deterministic, and the SQL mirrors it with
    *     a COALESCE against the prior codebook).
    *
    * Codebook geometry affects reconstruction error (hence recall —
    * measured by the `s_ann_recall_pq` gate at iters 0 vs 2) but never
    * the determinism of encode/ADC. */
  private[graft] def pqTrainedCodebook(corpus: DataFrame, m: Int, ksub: Int,
      pqIters: Int, idCol: String,
      vecCol: String): (Int, Array[Array[Array[Double]]]) = {
    var (sub, cents) = pqCodebook(corpus, m, ksub, idCol, vecCol)
    if (pqIters > 0) {
      val spread = graft.util.Partitioning.spreadIfNarrow(corpus)
      for (_ <- 0 until pqIters) {
        val means = spread
          .select(col(vecCol).as("v"),
            array(pqCodeCols(col(vecCol), sub, cents): _*).as("codes"))
          .select(posexplode(col("v")).as(Seq("pos", "x")), col("codes"))
          .select(expr(s"pos div $sub").cast("int").as("j"),
            expr(s"pos % $sub").cast("int").as("spos"),
            element_at(col("codes"), expr(s"pos div $sub").cast("int") + lit(1)).as("code"),
            col("x"))
          .groupBy(col("j"), col("code"), col("spos"))
          .agg((sum(round(col("x").cast("double") * lit(1e9), 0).cast("long"))
            .cast("double") / (count(lit(1)).cast("double") * lit(1e9))).as("mval"))
          .collect()
        val next = Array.tabulate(m, ksub) { (j, c) => cents(j)(c).clone() }
        means.foreach { r =>
          next(r.getInt(0))(r.getLong(1).toInt)(r.getInt(2)) = r.getDouble(3)
        }
        cents = next
      }
    }
    (sub, cents)
  }

  /** Batched ANN on the COMPOSED production scale path — IVF cell
    * pruning ∘ PQ/ADC scoring, the FAISS IVFADC index shape (flat
    * codes; production adds residual encoding, which changes
    * reconstruction error, not the composition): ONE map pass builds
    * the complete at-rest index row per vector — coarse cell id + m
    * subspace codes + norm — exactly what a 100 TB vector index
    * persists (bytes per vector: 8 id + 1 cell + m codes + 8 norm,
    * vs 4·dim for raw floats). Retrieval touches only the probed
    * cells' rows AND reads only codes, never raw vectors: candidates
    * come from the broadcast (query, cell) probe join, scores from m
    * exact-BIGINT LUT adds, and the only exchange is the final
    * per-query rank (WindowGroupLimit-pruned).
    *
    * Fully oracled like its parents ([[batchTopKIvf]], [[batchTopKPq]]):
    * same deterministic seed geometry, same quantized-exact codebook
    * and LUT partials, so DuckDB replays cell pruning AND compression
    * end-to-end. */
  def batchTopKIvfPq(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 8, probes: Int = 3, m: Int = 4, ksub: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      lloydIters: Int = 0, pqIters: Int = 0): DataFrame = {
    val (cells, cents) = collectSeeds(
      ivfSeeds(corpus, nCells, lloydIters, idCol, vecCol))
    val (sub, pqc) = pqTrainedCodebook(corpus, m, ksub, pqIters, idCol, vecCol)
    adcTopKOnIndex(ivfPqEncode(corpus, cells, cents, sub, pqc, idCol, vecCol),
      queries, k, probes, m, cells, cents, sub, pqc, idCol, vecCol)
  }

  /** The at-rest IVFADC index row for each vector — coarse cell id + m
    * subspace codes + norm — against FIXED codebooks. Factored out so
    * [[batchTopKIvfPqIncremental]] can encode a NEW batch against the
    * existing codebooks without touching (or re-deriving) history
    * rows. */
  private[graft] def ivfPqEncode(vectors: DataFrame, cells: Array[Long],
      cents: Array[Array[Double]], sub: Int,
      pqc: Array[Array[Array[Double]]],
      idCol: String, vecCol: String): DataFrame =
    graft.util.Partitioning.spreadIfNarrow(vectors).select(col(idCol),
      org.apache.spark.sql.graft.NearestCentroid
        .nearest_centroid(col(vecCol), cells, cents).as("cell"),
      array(pqCodeCols(col(vecCol), sub, pqc): _*).as("codes"),
      l2norm(col(vecCol)).as("cn"))

  /** Incremental index maintenance — the production shape for a GROWING
    * corpus: the persisted index rows (`history`) stay untouched, the
    * arriving `batch` is assigned + PQ-encoded against the EXISTING
    * codebooks (coarse seeds and sub-quantizers derive from history
    * alone — no retraining on arrival), and queries probe the MERGED
    * index. History codes are byte-identical before and after the
    * merge by construction (same codebooks, same rows — spec-asserted),
    * so an object-store index only ever appends. Retrieval quality for
    * batch vectors is bounded by how well history codebooks cover them
    * — the standard staleness trade a real system monitors via recall
    * probes; periodic retraining is [[batchTopKIvfPq]] over the merged
    * corpus. */
  def batchTopKIvfPqIncremental(history: DataFrame, batch: DataFrame,
      queries: DataFrame, k: Int, nCells: Int = 8, probes: Int = 3,
      m: Int = 4, ksub: Int = 8, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    val (cells, cents) = collectSeeds(ivfSeeds(history, nCells, 0, idCol, vecCol))
    val (sub, pqc) = pqTrainedCodebook(history, m, ksub, 0, idCol, vecCol)
    val enc = ivfPqEncode(history, cells, cents, sub, pqc, idCol, vecCol)
      .unionByName(ivfPqEncode(batch, cells, cents, sub, pqc, idCol, vecCol))
    adcTopKOnIndex(enc, queries, k, probes, m, cells, cents, sub, pqc,
      idCol, vecCol)
  }

  /** ADC retrieval over prebuilt index rows (`enc`: id, cell, codes,
    * norm): broadcast (query, probed-cell, LUT) side, m exact-BIGINT
    * LUT adds per candidate, one WindowGroupLimit-pruned rank
    * exchange.
    *
    * `private[graft]` so the committed-artifact gate
    * (s_ann_ivfpq_commit) can retrieve through RE-READ index rows and
    * codebooks — the same consumption path the in-memory composition
    * runs. */
  private[graft] def adcTopKOnIndex(enc: DataFrame, queries: DataFrame, k: Int,
      probes: Int, m: Int, cells: Array[Long], cents: Array[Array[Double]],
      sub: Int, pqc: Array[Array[Array[Double]]],
      idCol: String, vecCol: String): DataFrame = {
    import enc.sparkSession.implicits._
    // query side is dimension-sized by the batch contract: collect once,
    // derive the ADC LUT (quantized partials) and the norm driver-side
    val qRows = queries.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).collect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val lutDf = qIds.indices.map { qi =>
      val lut = pqc.zipWithIndex.map { case (cbj, j) =>
        cbj.map(cv => quant9(dotLR(
          java.util.Arrays.copyOfRange(qVecs(qi), j * sub, (j + 1) * sub),
          cv))).toSeq
      }.toSeq
      (qIds(qi), lut, math.sqrt(ssqLR(qVecs(qi))))
    }.toDF("query_id", "lut", "qn")
    val seedsLocal = cells.zip(cents.map(c => if (c == null) null else c.toSeq))
      .toSeq.toDF("cell_id", "cvec")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cs"), desc("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(seedsLocal))
      .select(col("query_id"), col("cell_id").as("cell"),
        round(cosine(col("qvec"), col("cvec")), 9).as("cs"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= probes)
      .select(col("query_id"), col("cell"))
      .join(lutDf, Seq("query_id"))
    val squant = (0 until m).map(j =>
      element_at(element_at(col("lut"), j + 1),
        (col("codes").getItem(j) + lit(1L)).cast("int"))).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("sim"), col(idCol))
    enc.join(broadcast(queryCells), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round((squant.cast("double") / lit(1e9))
          / (col("cn") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("sim"),
        col("rank").cast("long").as("rank"))
  }

  /** [[batchTopKIvfPq]] with RESIDUAL encoding — the production-exact
    * FAISS IVFADC: each vector's PQ codes quantize its residual
    * `x − c(cell)` (what's left after the coarse quantizer), not the
    * raw vector, so the codebook spends its 8 codes per subspace on
    * the within-cell detail instead of re-describing cell geometry.
    * Scoring uses the inner-product identity
    * `⟨q,x⟩ ≈ ⟨q,c⟩ + ⟨q,r̂⟩`: the per-(query, cell) coarse term and
    * the m LUT partials are BOTH 1e-9-quantized BIGINTs, so the sum
    * stays exact-integer and the whole chain — assignment, residuals,
    * residual codebook, encode, LUT, composed score — replays in
    * DuckDB bit-for-bit. Index row and retrieval shape are identical
    * to [[batchTopKIvfPq]] (cell + m codes + norm; probed-cell
    * broadcast; one rank exchange).
    *
    * Honesty note on quality: with the ITERATION-0 codebook (8
    * residual samples) on the near-random synthetic corpus, residual
    * encoding does not yet beat flat codes (measured mean |sim−exact|
    * 0.124 vs 0.108 at sf0.01) — the coarse quantizer explains little
    * variance there, so residuals ≈ raw vectors with a
    * differently-seeded codebook. The structural win appears with
    * trained codebooks on clustered data; what THIS gate certifies is
    * the production math (the IP identity, exact-integer composition),
    * with codebook-seed vectors provably reconstructed exactly
    * (spec). */
  def batchTopKIvfPqRes(corpus: DataFrame, queries: DataFrame, k: Int,
      nCells: Int = 8, probes: Int = 3, m: Int = 4, ksub: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import corpus.sparkSession.implicits._
    val spreadDf = graft.util.Partitioning.spreadIfNarrow(corpus)
    val (cells, cents) = collectSeeds(ivfSeeds(corpus, nCells, 0, idCol, vecCol))
    require(cents.forall(_ != null), "residual path needs the seed-slice geometry")
    // centroid lookup by cell id (8-way literal chain — dimension-sized)
    val centroidOf: Column = cells.zip(cents).foldLeft(
      lit(null).cast("array<double>")) { case (acc, (id, cv)) =>
      when(col("cell") === id, typedLit(cv.toSeq)).otherwise(acc)
    }
    val base = spreadDf
      .select(col(idCol), col(vecCol),
        org.apache.spark.sql.graft.NearestCentroid
          .nearest_centroid(col(vecCol), cells, cents).as("cell"))
      .withColumn("resid", zip_with(
        transform(col(vecCol), x => x.cast("double")), centroidOf,
        (a, b) => a - b))
    // residual codebook: residuals of the ksub lowest-id corpus vectors
    // (iteration-0 slice — the [[pqCodebook]] convention on residuals)
    val rvecs = base.orderBy(col(idCol)).limit(ksub)
      .select(col("resid")).collect()
      .map(_.getSeq[Double](0).toArray)
    val dim = rvecs.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    val rcb = Array.tabulate(m, rvecs.length) { (j, c) =>
      java.util.Arrays.copyOfRange(rvecs(c), j * sub, (j + 1) * sub)
    }
    val enc = base.select(col(idCol), col("cell"),
      array(pqCodeCols(col("resid"), sub, rcb): _*).as("codes"),
      l2norm(col(vecCol)).as("cn"))
    // query side: LUT over the residual codebook + per-cell coarse term
    val qRows = queries.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).collect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val lutDf = qIds.indices.map { qi =>
      val lut = rcb.zipWithIndex.map { case (cbj, j) =>
        cbj.map(cv => quant9(dotLR(
          java.util.Arrays.copyOfRange(qVecs(qi), j * sub, (j + 1) * sub),
          cv))).toSeq
      }.toSeq
      (qIds(qi), lut, math.sqrt(ssqLR(qVecs(qi))))
    }.toDF("query_id", "lut", "qn")
    val ipDf = (for { qi <- qIds.indices; ci <- cells.indices } yield
      (qIds(qi), cells(ci), quant9(dotLR(qVecs(qi), cents(ci)))))
      .toDF("query_id", "cell", "ipqc")
    val seedsLocal = cells.zip(cents.map(_.toSeq)).toSeq.toDF("cell_id", "cvec")
    val wq = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("cs"), desc("cell"))
    val queryCells = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(seedsLocal))
      .select(col("query_id"), col("cell_id").as("cell"),
        round(cosine(col("qvec"), col("cvec")), 9).as("cs"))
      .withColumn("pr", row_number().over(wq))
      .filter(col("pr") <= probes)
      .select(col("query_id"), col("cell"))
      .join(lutDf, Seq("query_id"))
      .join(ipDf, Seq("query_id", "cell"))
    val squant = (0 until m).map(j =>
      element_at(element_at(col("lut"), j + 1),
        (col("codes").getItem(j) + lit(1L)).cast("int"))).reduce(_ + _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("sim"), col(idCol))
    enc.join(broadcast(queryCells), Seq("cell"))
      .filter(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol),
        round(((col("ipqc") + squant).cast("double") / lit(1e9))
          / (col("cn") * col("qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Batched ANN on the PQ scale path: [[batchTopK]]'s query-set shape
    * scored by ADC over PQ codes instead of exact dots.
    *
    *  1. codebook + query set collect driver-side (both dimension-sized
    *     by contract — queries are the batch contract's broadcast side
    *     anyway) and meet in a per-query LUT of quantized partials;
    *  2. ONE map pass encodes each corpus row (m argmins) and sums its
    *     m LUT partials per query — exact BIGINT adds, no shuffle;
    *  3. sim = (squant/1e9)/(‖x‖·‖q‖) and the per-query (sim desc, id)
    *     window rank — the single exchange in the plan, WindowGroupLimit
    *     pre-pruned to k rows per query per partition.
    *
    * Approximation error is the PQ reconstruction error; recall vs
    * [[batchTopK]] is measured by the `s_ann_recall_pq` gate. Fully
    * oracled: codebook, codes, LUT partials and the quantized sum are
    * all deterministic, so DuckDB recomputes identical sims. */
  def batchTopKPq(corpus: DataFrame, queries: DataFrame, k: Int,
      m: Int = 4, ksub: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding",
      pqIters: Int = 0): DataFrame = {
    val (sub, cents) = pqTrainedCodebook(corpus, m, ksub, pqIters, idCol, vecCol)
    val qRows = queries.select(col(idCol), col(vecCol))
      .orderBy(col(idCol)).collect()
    val qIds = qRows.map(_.getLong(0))
    val qVecs = qRows.map(_.getSeq[Any](1).map {
      case f: Float => f.toDouble
      case d: Double => d
    }.toArray)
    val qNorms = qVecs.map(v => math.sqrt(ssqLR(v)))
    val lut: Array[Array[Array[Long]]] = qVecs.map { qv =>
      cents.zipWithIndex.map { case (cbj, j) =>
        cbj.map { cv =>
          quant9(dotLR(java.util.Arrays.copyOfRange(qv, j * sub, (j + 1) * sub), cv))
        }
      }
    }
    val enc = graft.util.Partitioning.spreadIfNarrow(corpus)
      .select(col(idCol),
        array(pqCodeCols(col(vecCol), sub, cents): _*).as("codes"),
        l2norm(col(vecCol)).as("cn"))
    val perQuery = qIds.indices.map { qi =>
      val squant = cents.indices.map { j =>
        element_at(typedLit(lut(qi)(j).toSeq),
          (col("codes").getItem(j) + lit(1L)).cast("int"))
      }.reduce(_ + _)
      struct(lit(qIds(qi)).as("query_id"), squant.as("squant"),
        lit(qNorms(qi)).as("qn"))
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(desc("sim"), col(idCol))
    enc.select(col(idCol), col("cn"), explode(array(perQuery: _*)).as("sc"))
      .filter(col(idCol) =!= col("sc.query_id"))
      .select(col("sc.query_id").as("query_id"), col(idCol),
        round((col("sc.squant").cast("double") / lit(1e9))
          / (col("cn") * col("sc.qn")), 6).as("sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col(idCol), col("sim"),
        col("rank").cast("long").as("rank"))
  }
}
