package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Typed rows for the custom-state sessionizer ([[Streaming.sessionsCustomState]]).
  * Session arithmetic runs on epoch MICROS Longs (`us`) — safer than
  * juggling java.sql.Timestamp's split ms/nanos accessors. The `ts`
  * Timestamp rides along UNUSED because Spark's event-time-timeout
  * check requires the watermarked attribute itself to still be present
  * in the grouped dataset — a projection that keeps only a derived
  * column fails analysis. */
case class SessEvent(user_id: Long, ts: java.sql.Timestamp, us: Long)

/** Typed rows for the streaming incremental dedup
  * ([[Streaming.incrementalDedupStream]]): per-fingerprint state is a
  * CONSTANT-SIZE record — whether the fp was in the pre-stream history
  * index, and which arriving doc (if any) claimed `kept` — never a
  * list of docs, so state rows = distinct fingerprints, each O(1). */
case class IncDoc(doc_id: Long, fp: String)
case class IncState(inHist: Boolean, firstId: Long)
case class IncOut(doc_id: Long, fp: String, status: String)

/** Typed rows for the TTL'd (retention-bounded) dedup twin
  * ([[Streaming.incrementalDedupTtlTransform]]): state additionally
  * carries the fingerprint's last sighting so the horizon is part of
  * the state TRANSITION — eviction timing can only affect memory,
  * never answers. `ts` must survive projection for the event-time
  * timeout check (see [[SessEvent]]). */
case class IncTDoc(doc_id: Long, fp: String, ts: java.sql.Timestamp)
case class IncTState(firstId: Long, lastSeenMs: Long)

/** Typed rows for the streaming SEMANTIC dedup
  * ([[Streaming.semDedupStream]]): the IVF cell index as streaming
  * state — one state record per COARSE CELL, holding the cell's member
  * vectors with their norms (the production vector-index layout: norms
  * are computed once at insert, never per comparison). The cell key
  * partitions the state exactly as the batch operator's within-cell
  * join partitions its work, so a hot cell is one hot key (saltable)
  * and state growth is O(indexed vectors) total, independent of the
  * cell count. */
case class SemVecRow(cell: Long, vec_id: Long, emb: Seq[Float])
case class SemEntry(id: Long, side: String, emb: Seq[Float], nrm: Double)
case class SemCellState(members: Seq[SemEntry])
case class SemHit(vec_id: Long, other: Long, side: String)

/** Typed rows for the streaming crawl SCHEDULER
  * ([[Streaming.scheduleStream]]): per-domain state is the domain's
  * CRAWL CARD — its parsed robots rules (the wildcard-aware regex
  * translation rides precomputed, exactly the strings the batch
  * verdict matched), its Crawl-delay, its authority tier, and the next
  * politeness rank — O(rules) per domain, never per-page. The rank
  * counter is the piece of scheduler state that only a STREAM needs:
  * it carries the FIFO position across triggers, so a frontier that
  * arrives in waves still spaces each domain's fetches Crawl-delay
  * ticks apart. */
case class SchedPage(domain: String, doc_id: Long, path: String)
case class SchedRule(rpath: String, allow: Boolean, rex: String)
case class SchedInit(domain: String, rules: Seq[SchedRule], delay: Long,
  tier: Long)
case class SchedState(rules: Seq[SchedRule], delay: Long, tier: Long,
  nextRk: Long)
case class SchedHit(doc_id: Long, domain: String, tier: Long, tick: Long,
  status: String)

/** Typed rows for the streaming ingest-quota admission
  * ([[Streaming.budgetStream]]): per-source state is ONE cumulative
  * token counter against a fixed budget — O(1) per source forever.
  * Because offered volume is monotone, prefix-close admission
  * ("admit while the running total fits") is exactly the batch window
  * `cumsum ≤ budget`, so the streaming counter and a window replay
  * cannot disagree. */
case class BudgetDoc(source: String, doc_id: Long, ntok: Long)
case class BudgetState(budget: Long, spent: Long)
case class BudgetHit(doc_id: Long, source: String, ntok: Long, cum: Long,
  admitted: Boolean)

/** Typed rows for the streaming ASSET dedup
  * ([[Streaming.mmDedupStream]]): state per content-address key
  * (kind, payload md5, byte length) is ONE long — the keeper id.
  * Payload bytes are hashed statelessly in-stream and never enter the
  * state store (the d_exact discipline applied to media at ingest
  * time). */
case class MmKeyRow(kind: String, fp: String, n_bytes: Long, asset_id: Long)
case class MmKeyState(keeper: Long)
case class MmVerdict(asset_id: Long, kind: String, fp: String, n_bytes: Long,
  status: String)

/** Typed rows for the streaming incremental NEAR dedup
  * ([[Streaming.incrementalNearStream]]). Three keyed stages share
  * these types; the invariant that matters at corpus scale is that NO
  * persistent state record carries a shingle-hash array more than once
  * per document:
  *  - band stage — state keyed by LSH band key, holding ONLY the doc
  *    ids (plus history/batch side) that hashed into the band. Emits
  *    CANDIDATE pairs; never sees shingle hashes. ×16 replication of
  *    an 12-byte id entry, not of the shingle footprint.
  *  - attach stage — keyed by the PROBING doc; stateless co-group (a
  *    probe's `reg` row always arrives in the same trigger as every
  *    candidate it generates), gluing the probe's shingle set onto its
  *    deduplicated candidates. `state.update` is never called.
  *  - verify stage — keyed by the PROBED doc; the single compact
  *    doc → shingle-set store (history as initial state, arrivals via
  *    their `reg` rows). Exact Jaccard runs here; emits verified hits.
  * `sh` on [[NearCand]] is transient shuffle payload (what the batch
  * operator's verify join shuffles per candidate anyway) — it never
  * lands in the band state. */
case class NearBandKey(band: Int, bkey: Int)
case class NearBandRow(band: Int, bkey: Int, doc_id: Long)
case class NearIdEntry(doc: Long, side: String)
case class NearBandState(entries: Seq[NearIdEntry])
case class NearCand(other: Long, kind: String, probe: Long, side: String,
  sh: Seq[Long])
case class NearDocState(sh: Seq[Long])
case class NearHit(doc_id: Long, other: Long, side: String)

/** Typed rows for the streaming CDC apply ([[Streaming.cdcApplyStream]]):
  * per-key state is the CURRENT content fingerprint — one constant-size
  * record per live key, exactly the at-rest index a continuous MERGE
  * maintains. */
case class CdcOp(doc_id: Long, op: String, new_fp: String)
case class CdcState(fp: String)
case class CdcOut(doc_id: Long, op: String, prev_fp: String,
  new_fp: String, status: String)
case class PendingSession(start: Long, last: Long, n: Long)
case class SessionState(pending: Seq[PendingSession])
case class SessionOut(user_id: Long, start_us: Long, end_us: Long, n_events: Long)

/** Structured Streaming surface over the events table. The same
  * aggregation logic as the batch queries, expressed incrementally:
  * file source → event-time window + watermark → sink. For the
  * correctness gate the stream is driven synchronously to completion
  * (`processAllAvailable`) against the static parquet, which must equal
  * the batch answer — the Dataflow-style batch/stream equivalence test.
  *
  * Scale: stateful aggregation partitions by (window, type) — state per
  * key lives in the state store; the watermark bounds state size.
  *
  * == State-retention contract (growing stores) ==
  *
  * Three operators keep one state row per LIVE KEY forever under
  * `NoTimeout`, because that IS their gate semantics:
  *  - [[incrementalDedupStream]] — one record per distinct fingerprint
  *    (dedup against ALL history);
  *  - [[incrementalNearStream]] — band-id entries + one shingle set per
  *    indexed doc (near-dedup against ALL history);
  *  - [[cdcApplyStream]] — the current fingerprint per live key (the
  *    at-rest MERGE index; keys live until a `delete` op removes them).
  * Every other stateful gate is watermark-bounded or constant-size
  * (sketch registers), spec-asserted in InfraSpec.
  *
  * At 100 TB "all history" must still be a DECISION, not an accident.
  * The production retention options, in preference order:
  *  1. Event-time TTL — [[incrementalDedupTtlTransform]] is the twin:
  *     the horizon is part of the STATE TRANSITION (a key whose last
  *     sighting is older than the horizon is re-opened as a fresh
  *     original — correctness never depends on eviction timing) while
  *     `EventTimeTimeout` + `state.remove()` bounds the store to keys
  *     seen within roughly one horizon of the watermark.
  *  2. Periodic compaction — snapshot the state store (or re-derive it
  *     from the batch index, which `initial state` loading makes a
  *     first-class path here) and restart the query with history moved
  *     back into the cheaper at-rest index; RocksDB keeps the online
  *     remainder off-heap.
  *  3. Unbounded, RocksDB-backed — correct and measured (InfraSpec pins
  *     the per-key O(1) record shapes), but growth is then the same as
  *     the batch index's and must be capacity-planned like one.
  */
object Streaming {

  def eventsStream(s: SparkSession, dir: String): DataFrame =
    eventsStreamFrom(s, dir)

  /** [[eventsStream]] with source knobs exposed: `glob` widens past the
    * single-file gate layout, `extraOptions` passes source rate limits
    * (e.g. maxFilesPerTrigger=1 — the multi-batch incremental replay
    * InfraSpec certifies against the batch oracle).
    *
    * File streams need an explicit schema, but the events generator has
    * shipped `ts` under multiple physical layouts (INT64 nanos,
    * timestamp[us] NTZ — see [[graft.Tables.events]]). Hardcoding one
    * layout silently corrupts the others (micros read as nanos → 1970-era
    * windows, NO error), so the schema comes from a driver-side probe of
    * the matching files' parquet footers (a batch-read schema inference —
    * footer metadata only, no data scan), and the same
    * [[graft.Tables.normalizeEventTs]] branch as the batch path rewrites
    * `ts` to TimestampType. EventsTsLayoutSpec pins every layout with
    * committed fixtures.
    *
    * When the probe finds NO matching file (empty staging dir — the
    * start-stream-then-files-arrive deployment shape), it falls back to
    * the canonical micros-TimestampType events schema instead of
    * failing construction: late-arriving files in either micros layout
    * read fine under it, and a late NANOS file would need the probe
    * anyway (its footer is what reveals the Long surface). */
  private[graft] def eventsStreamFrom(s: SparkSession, dir: String,
      glob: String = "events.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val probed =
      try s.read.option("pathGlobFilter", glob).parquet(dir).schema
      catch { case e: org.apache.spark.sql.AnalysisException
          if e.getMessage.contains("Unable to infer schema") =>
        canonicalEventsSchema
      }
    val reader = extraOptions.foldLeft(
      s.readStream.schema(probed)
        .option("pathGlobFilter", glob)) { // basePath must be a dir
      case (r, (k, v)) => r.option(k, v) }
    graft.Tables.normalizeEventTs(reader.parquet(dir))
  }

  /** The events table's logical schema with `ts` already in the
    * normalized TimestampType form — the empty-directory fallback for
    * the footer probe above. Column set pinned by TestdataContractSpec. */
  private[graft] val canonicalEventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Synchronous replay window: every micro-batch of a stateful query
    * commits one state-store instance PER shuffle partition per
    * operator, so a 32-partition replay of a small static file pays 32×
    * the state/checkpoint fixed cost for no parallelism win. Scope the
    * partition count down for the replay and restore it after — a
    * production deployment sizes this to its key cardinality instead. */
  private def withReplayPartitions[T](s: SparkSession, n: Int)(body: => T): T = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", n.toString)
    try body finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  /** The hourly tumbling transform alone — shared by the gate replay
    * and InfraSpec's multi-batch incremental replay. */
  private[graft] def hourlyAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        // Exact decimal SUM then one IEEE conversion — matches the batch
        // ev_hourly and dodges decimal trailing-zero drift in the oracle hash.
        sum(col("value").cast(DecimalType(12, 2))).cast(DoubleType).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Hourly tumbling-window totals per event type, with a 1-hour
    * watermark. Run synchronously to a memory sink; returns the final
    * table (complete mode). */
  def hourlyWindowed(s: SparkSession, dir: String,
      queryName: String = "graft_stream_hourly"): DataFrame = {
    val agg = hourlyAgg(eventsStream(s, dir))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("hour"), col("event_type"))
  }

  /** Streaming sessionization with NATIVE session windows: watermarked
    * append mode emits exactly the sessions closed by the final
    * watermark (= max event time floored to ms, minus the delay). The
    * oracle replicates batch sessionization plus that closure filter —
    * the session-window flavor of the Dataflow batch/stream equivalence
    * gate. */
  def sessionsWindowed(s: SparkSession, dir: String,
      queryName: String = "graft_stream_sessions"): DataFrame = {
    val agg = eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("sess_start"),
        col("sw.end").as("sess_end"), col("n_events"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("user_id"), col("sess_start"))
  }

  private val docsSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Streaming KMV distinct-user sketch per event type (complete mode):
    * the sketch buffer IS the streaming state — 64 longs per group no
    * matter how long the stream runs, which is the streaming face of
    * the bounded-state argument (exact streaming COUNT(DISTINCT) is
    * unsupported precisely because its state is unbounded; the sketch
    * is the production answer). The emitted estimate is
    * order-invariant (k smallest distinct hashes), so the stream
    * result equals the batch replay bit-for-bit and the DuckDB oracle
    * recomputes it from the static table. */
  def kmvDistinctStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_kmv"): DataFrame = {
    import graft.sketch.Sketch
    val k = 64
    val agg = eventsStream(s, dir)
      .groupBy(col("event_type"))
      .agg(Sketch.kmv_sketch(
        Sketch.hash60(col("user_id").cast("string")), k).as("kmv"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
      .select(col("event_type"),
        size(col("kmv")).cast("long").as("n_kept"),
        get(col("kmv"), lit(k - 1)).as("h_k"),
        Sketch.kmvEstimate(col("kmv"), k).as("est"))
      .orderBy(col("event_type"))
  }

  val kmvDistinctStreamSql: String =
    """WITH hd AS (SELECT DISTINCT event_type,
      |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
      |  FROM events),
      |rk AS (SELECT event_type, h,
      |         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM hd),
      |ag AS (SELECT event_type, COUNT(*) AS n_h, MAX(CASE WHEN rn = 64 THEN h END) AS h_k
      |       FROM rk WHERE rn <= 64 GROUP BY 1)
      |SELECT event_type, n_h AS n_kept, h_k,
      |  CASE WHEN n_h < 64 THEN CAST(n_h AS DOUBLE)
      |       ELSE ROUND(63.0 * 1152921504606846976.0 / CAST(h_k AS DOUBLE), 4) END AS est
      |FROM ag ORDER BY event_type""".stripMargin

  /** Streaming histogram-quantile sketch per source (complete mode):
    * the per-(source, bucket) counts ARE the streaming state — at most
    * 256 integer counters per source however long the stream runs,
    * the quantile face of the bounded-state argument ([[kmvDistinctStream]]
    * is the COUNT(DISTINCT) face; exact streaming percentiles would
    * hold every value ever seen). The final-watermark sketch is
    * order-invariant (integer bucket counts), so the stream result
    * equals the batch sketch bit-for-bit and the quantile estimates
    * derived from it match the batch gate's — the DuckDB oracle
    * recomputes them from the static table (estimate columns of
    * t_quantile_sketch; the exact order statistic is deliberately NOT
    * emitted here — computing it needs the full value stream, which is
    * exactly what the sketch exists to avoid). */
  def quantileSketchStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_quantile"): DataFrame = {
    import graft.sketch.Sketch
    val agg = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("source"), graft.text.quality_score(col("text")).as("q"))
      .groupBy(col("source"),
        Sketch.histBucket(col("q"), 256, 0.0, 1.0).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    Sketch.histQuantiles(s.table(queryName), Seq("source"),
        Seq(25, 50, 75), 256, 0.0, 1.0)
      .orderBy(col("source"), col("p"))
  }

  /** Streaming CountMin heavy hitters over the corpus 3-shingle stream
    * (complete mode): the depth×width = 3×1024 integer counters ARE
    * the streaming state — fixed size at ANY corpus size and ANY
    * stream length, the frequency face of the bounded-state argument
    * ([[kmvDistinctStream]] is COUNT(DISTINCT), quantileSketchStream
    * is percentiles; exact streaming per-shingle counts would hold
    * every shingle ever seen). Counter updates are integer adds, so
    * the final-watermark sketch is order-invariant and the stream
    * result equals the batch sketch bit-for-bit — the estimate stage
    * (min over hash rows for the top-20 exact shingles, computed
    * batch-side exactly as the t_cms_heavy gate does) reproduces
    * t_cms_heavy's output, and the DuckDB oracle is LITERALLY the
    * batch gate's SQL. */
  def cmsHeavyStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_cms"): DataFrame = {
    import graft.sketch.Sketch
    val (depth, width) = (3, 1024)
    val sh = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(explode(org.apache.spark.sql.graft.DistinctShingles
        .distinct_shingles(col("text"), 3)).as("s"))
    val agg = Sketch.cmsSketch(sh, "s", depth, width)
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // candidate set + exact counts come from the static table (the
    // gate harness, not the stream): identical to the batch gate
    val shBatch = graft.Tables.documents(s, dir).select(
      explode(org.apache.spark.sql.graft.DistinctShingles
        .distinct_shingles(col("text"), 3)).as("s"))
    val top = shBatch.groupBy(col("s")).agg(count(lit(1)).as("exact"))
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("exact").desc, col("s"))))
      .filter(col("rk") <= 20).drop("rk")
    Sketch.cmsEstimate(s.table(queryName), top, "s", depth, width)
      .select(col("s"), col("exact"), col("est"),
        (col("est") - col("exact")).as("overest"))
      .orderBy(col("exact").desc, col("s"))
  }

  /** Streaming HyperLogLog (complete mode): the per-(type, register)
    * MAX-RANK table is the streaming state — 256 integers per event
    * type forever, the cardinality face of the bounded-state family.
    * Register max is idempotent and order-invariant, so the final
    * table equals the batch registers bit-for-bit and the estimate
    * stage (exact-BIGINT harmonic sum + one division, computed
    * batch-side from the completed table exactly as the t_hll_distinct
    * gate does) reproduces the batch gate — the DuckDB oracle is
    * LITERALLY the batch gate's SQL. */
  def hllDistinctStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_hll"): DataFrame = {
    import graft.sketch.Sketch
    val ev = eventsStreamFrom(s, dir)
      .select(col("event_type"), col("user_id").cast("string").as("v"))
    // fused register+rank (one digest per event — see the batch gate's
    // hllEstimate); the stateless map stage of the stream is the only
    // place the per-occurrence hashing runs
    val regs = ev
      .select(col("event_type"), org.apache.spark.sql.graft.HllRegRank
        .hll_reg_rank(col("v")).as("_rr"))
      .groupBy(col("event_type"), col("_rr.r").as("_r"))
      .agg(max(col("_rr.rank")).as("_rank"))
    withReplayPartitions(s, 4) {
      val q = regs.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // estimate from the STREAMED register table (fill missing registers
    // with rank 0, exact-integer harmonic sum — the batch gate's math)
    val streamed = s.table(queryName)
    // renamed key columns: the register grid derives from the same
    // memory table it joins back to, so shared attribute ids would
    // make the self-join ambiguous
    val allRegs = streamed.select(col("event_type").as("_et")).distinct()
      .select(col("_et"), explode(sequence(lit(0), lit(Sketch.HllM - 1))).as("_gr"))
    val filled = allRegs.join(streamed,
        allRegs("_et") === streamed("event_type") &&
          allRegs("_gr") === streamed("_r"), "left")
      .select(col("_et").as("event_type"),
        coalesce(col("_rank"), lit(0)).as("_rank"))
    val est = filled.groupBy(col("event_type"))
      .agg(
        sum(when(col("_rank") === 0, 1L).otherwise(0L)).as("n_zero_regs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), ${Sketch.HllRankCap} - _rank)"))
          .as("harmonic_s"))
      .withColumn("_raw",
        lit(Sketch.HllNumerator) / col("harmonic_s").cast("double"))
      .withColumn("est", round(
        when(col("_raw") <= 2.5 * Sketch.HllM && col("n_zero_regs") > 0,
          lit(Sketch.HllM.toDouble) *
            log(lit(Sketch.HllM.toDouble) / col("n_zero_regs").cast("double")))
          .otherwise(col("_raw")), 4))
      .drop("_raw")
    val exact = graft.Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id").cast("string")).as("n_exact"))
    est.join(exact, Seq("event_type"))
      .select(col("event_type"), col("n_exact"), col("n_zero_regs"),
        col("harmonic_s"), col("est"))
      .orderBy(col("event_type"))
  }

  /** Streaming Bloom seen-set (complete mode): history fingerprints
    * stream in and the SET-BIT TABLE is the streaming state — at most
    * min(k·n, m) rows with m fixed by capacity planning, the
    * MEMBERSHIP face of the bounded-state family (CMS is frequency,
    * KMV is distinct-count; [[incrementalDedupStream]]'s exact index
    * is O(distinct keys), this is O(m) FOREVER — the 100 TB ingest
    * trade, with a measured constant FPR and no false negatives).
    * Bit sets are idempotent integer state, so the final table is
    * arrival-order-invariant and the stream == the batch filter
    * bit-for-bit; the gate then classifies the SAME probe batch the
    * d_bloom gate uses against the STREAMED bits, so the DuckDB oracle
    * is LITERALLY the batch gate's SQL. */
  def bloomDedupStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_bloom"): DataFrame = {
    import graft.sketch.Sketch
    import graft.queries.LlmOps
    val docsStatic = graft.Tables.documents(s, dir)
    val pb = LlmOps.plantBase(docsStatic)
    // capacity sizing from the static table — the planning number a
    // deployment fixes BEFORE the stream starts
    val m = LlmOps.bloomM(LlmOps.bloomHist(docsStatic).count())
    val histStream = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") % 5 =!= 0)
      .select(graft.text.fingerprint_md5(col("text")).as("v"))
    val bitsAgg = histStream
      .select(explode(array((0 until LlmOps.BloomK).map(i =>
        Sketch.bloomPos(col("v"), i, m)): _*)).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("n_values"))
    withReplayPartitions(s, 4) {
      val q = bitsAgg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val bits = s.table(queryName).select(col("b"))
    LlmOps.bloomVerdict(LlmOps.bloomBatch(docsStatic, pb),
      LlmOps.bloomHist(docsStatic), bits, LlmOps.BloomK, m)
  }

  /** Streaming anomaly moments (complete mode): the per-type moment
    * triple (n, S=Σv, SS=Σv²) IS the streaming state — THREE integer
    * counters per event type forever, the cheapest member of the
    * bounded-state family ([[kmvDistinctStream]] 64 longs,
    * cmsHeavyStream 3×1024, quantileSketchStream ≤256). Integer adds
    * are order-invariant, so the final moments equal the batch
    * aggregate bit-for-bit, and the z>3 flag pass — the same
    * all-integer cross-multiplied test as the batch gate
    * ([[graft.queries.Events.anomalies]]), run against the final
    * moments — reuses the batch oracle verbatim. This is the streaming
    * shape anomaly detection actually deploys: moments accumulate
    * continuously; flagging is a map-only probe of the current state. */
  def anomalyStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_anom"): DataFrame = {
    val dec2 = org.apache.spark.sql.types.DecimalType(12, 2)
    val d38 = org.apache.spark.sql.types.DecimalType(38, 0)
    val agg = eventsStream(s, dir)
      .select(col("event_type"),
        (col("value").cast(dec2) * lit(100)).cast("long").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).cast(d38).as("n"),
        sum(col("v")).cast(d38).as("s"),
        sum(col("v").cast(d38) * col("v").cast(d38)).as("ss"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val stats = s.table(queryName)
    val ev = graft.Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        (col("value").cast(dec2) * lit(100)).cast("long").as("v"))
    val dev = ev("v").cast(d38) * col("n") - col("s")
    ev.join(broadcast(stats), "event_type")
      .filter(dev * dev > lit(9).cast(d38) * (col("n") * col("ss") - col("s") * col("s")))
      .select(col("event_id"), col("event_type"), ev("v"))
      .orderBy(col("event_id"))
  }

  /** Per-key fold for [[cdcApplyStream]]: each arriving change op is
    * validated against the key's current state and applied — delete and
    * update need the key live (else `orphan`), insert needs it absent
    * (else `conflict`). Within one micro-batch, multiple ops on a key
    * fold in (op, new_fp) order — deterministic; the gate's change set
    * carries at most one op per key, so arrival order cannot matter at
    * all and stream == batch bit-for-bit. */
  private[graft] def cdcFold(id: Long, rows: Iterator[CdcOp],
      state: GroupState[CdcState]): Iterator[CdcOut] = {
    rows.toSeq.sortBy(r => (r.op, Option(r.new_fp).getOrElse(""))).map { r =>
      val prev = if (state.exists) state.get.fp else null
      r.op match {
        case "delete" =>
          if (prev != null) { state.remove(); CdcOut(id, r.op, prev, null, "applied") }
          else CdcOut(id, r.op, null, null, "orphan")
        case "update" =>
          if (prev != null) { state.update(CdcState(r.new_fp)); CdcOut(id, r.op, prev, r.new_fp, "applied") }
          else CdcOut(id, r.op, null, null, "orphan")
        case "insert" =>
          if (prev != null) CdcOut(id, r.op, prev, null, "conflict")
          else { state.update(CdcState(r.new_fp)); CdcOut(id, r.op, null, r.new_fp, "applied") }
      }
    }.iterator
  }

  private[graft] def cdcApplyTransform(s: SparkSession, dir: String,
      baseDir: String,
      glob: String = "documents.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val baseTable = graft.Tables.documents(s, baseDir)
    // plant offset from max(doc_id) — see LlmOps.plantBase: insert
    // plants live in (M, 2M+1], orphan plants in (2M+1, 3M+2], so the
    // one-op-per-key invariant holds at ANY scale factor (fixed
    // +40000/+60000 offsets collide once natural ids outgrow them)
    val pb = graft.queries.LlmOps.plantBase(baseTable)
    val base = baseTable
      .select(col("doc_id"), graft.text.fingerprint_md5(col("text")).as("fp"))
      .as[(Long, String)]
      .map { case (id, fp) => (id, CdcState(fp)) }
      .groupByKey(_._1)
      .mapValues(_._2)
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    // the planted change log — one op per key by construction (the
    // natural-id modulus filters are pairwise exclusive; plant id
    // ranges are disjoint from naturals and each other), so ordering
    // is moot
    val changes = src.filter(col("doc_id") % 11 === 0)
        .select(col("doc_id"), lit("delete").as("op"), lit(null).cast("string").as("new_fp"))
      .unionByName(src.filter(col("doc_id") % 11 =!= 0 && col("doc_id") % 17 === 0)
        .select(col("doc_id"), lit("update").as("op"),
          graft.text.fingerprint_md5(concat(col("text"), lit(" rev2"))).as("new_fp")))
      .unionByName(src.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + pb).as("doc_id"), lit("insert").as("op"),
          graft.text.fingerprint_md5(col("text")).as("new_fp")))
      .unionByName(src.filter(col("doc_id") % 19 === 0)
        .select((col("doc_id") + 2 * pb).as("doc_id"), lit("update").as("op"),
          graft.text.fingerprint_md5(concat(col("text"), lit(" rev3"))).as("new_fp")))
      .unionByName(src.filter(col("doc_id") % 23 === 0 &&
          col("doc_id") % 11 =!= 0 && col("doc_id") % 17 =!= 0)
        .select(col("doc_id"), lit("insert").as("op"),
          graft.text.fingerprint_md5(col("text")).as("new_fp")))
      .as[CdcOp]
    changes.groupByKey(_.doc_id)
      .flatMapGroupsWithState[CdcState, CdcOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), base)(cdcFold)
      .toDF()
  }

  /** Streaming CDC apply — [[graft.corpus.Corpus.mergeApply]] as
    * CONTINUOUS ingest (the change-data-capture shape): the base
    * corpus's fingerprint index loads as flatMapGroupsWithState INITIAL
    * STATE; arriving delete/update/insert ops validate against the live
    * key and emit the applied-transition log (`applied` / `orphan` op
    * on a missing key / `conflict` insert on a live key). State = ONE
    * constant-size record per live key — the merged version itself,
    * carried forward batch to batch; the output log is what a
    * downstream auditor replays. The gate's oracle is the BATCH
    * transition log (one base join), equal bit-for-bit because the
    * planted set has one op per key. */
  def cdcApplyStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_cdc"): DataFrame = {
    val out = cdcApplyTransform(s, dir, baseDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("doc_id"), col("op"))
  }

  /** Per-fingerprint fold for [[incrementalDedupStream]]: arriving docs
    * classify against the state exactly as the batch
    * [[graft.dedup.Dedup.incrementalExact]] does against its index —
    * `dup_hist` when the fp predates the stream, first claimant `kept`,
    * later same-fp arrivals `dup_batch`. Within one micro-batch the
    * claimant is the LOWEST doc_id (sorted fold), so a single-batch
    * replay equals the batch operator bit-for-bit; across micro-batches
    * first-arrival wins — the true streaming contract, and the two
    * coincide whenever ingestion is id-ordered (InfraSpec drives that
    * multi-batch case). */
  private[graft] def incrementalFold(fp: String, rows: Iterator[IncDoc],
      state: GroupState[IncState]): Iterator[IncOut] = {
    var cur = state.getOption.getOrElse(IncState(inHist = false, firstId = -1L))
    val out = rows.toSeq.sortBy(_.doc_id).map { d =>
      val status =
        if (cur.inHist) "dup_hist"
        else if (cur.firstId < 0) { cur = cur.copy(firstId = d.doc_id); "kept" }
        else "dup_batch"
      IncOut(d.doc_id, d.fp, status)
    }
    state.update(cur)
    out.iterator
  }

  /** The incremental-dedup streaming TRANSFORM alone — the gate replay
    * wraps it; InfraSpec drives it directly to observe state-store row
    * counts, provider equivalence, and a multi-batch id-ordered split.
    * `histDir` is where the history index is read from (always the full
    * static table), `glob`/`extraOptions` vary the stream source. */
  private[graft] def incrementalDedupTransform(s: SparkSession, dir: String,
      histDir: String,
      glob: String = "documents.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val hist = graft.Tables.documents(s, histDir)
      .filter(col("doc_id") % 5 =!= 0)
      .select(graft.text.fingerprint_md5(col("text")).as("fp"))
      .distinct()
      .as[String]
      .map(fp => (fp, IncState(inHist = true, firstId = -1L)))
      .groupByKey(_._1)
      .mapValues(_._2)
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    // plant offsets mirror the batch gate (LlmOps.dedupIncremental):
    // max(doc_id)-derived, collision-proof at any scale
    val pb = graft.queries.LlmOps.plantBase(graft.Tables.documents(s, histDir))
    val batch = src.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(src.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + pb).as("doc_id"), col("text")))
      .unionByName(src.filter(col("doc_id") % 5 === 0 && col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2 * pb).as("doc_id"), col("text")))
      .select(col("doc_id"), graft.text.fingerprint_md5(col("text")).as("fp"))
      .as[IncDoc]
    batch.groupByKey(_.fp)
      .flatMapGroupsWithState[IncState, IncOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), hist)(incrementalFold)
      .toDF()
  }

  /** Horizon-aware fold for the TTL'd dedup twin. Two layers, on
    * purpose:
    *  - CORRECTNESS: a fingerprint whose last sighting is more than
    *    `horizonMs` older than the arriving event is re-opened as a
    *    fresh original IN THE DATA PATH — the dedup-within-horizon
    *    answer holds even if the asynchronous eviction lags (Spark only
    *    invokes the timeout branch for keys with no data in the batch);
    *  - BOUNDS: `EventTimeTimeout` + `state.remove()` evicts idle keys
    *    once the watermark passes lastSeen + horizon, so the store
    *    holds only fingerprints seen within ~one horizon — the
    *    retention contract the header's design note promises. */
  private[graft] def incrementalTtlFold(horizonMs: Long)(fp: String,
      rows: Iterator[IncTDoc],
      state: GroupState[IncTState]): Iterator[IncOut] = {
    if (state.hasTimedOut) { state.remove(); Iterator.empty }
    else {
      var cur = state.getOption.getOrElse(IncTState(-1L, Long.MinValue))
      val out = rows.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).map { d =>
        val t = d.ts.getTime
        if (cur.firstId >= 0 && t - cur.lastSeenMs > horizonMs)
          cur = IncTState(-1L, Long.MinValue) // horizon lapsed: new epoch
        val status =
          if (cur.firstId < 0) { cur = IncTState(d.doc_id, t); "kept" }
          else { cur = cur.copy(lastSeenMs = math.max(cur.lastSeenMs, t)); "dup" }
        IncOut(d.doc_id, d.fp, status)
      }
      state.update(cur)
      state.setTimeoutTimestamp(
        math.max(cur.lastSeenMs + horizonMs, state.getCurrentWatermarkMs + 1))
      out.iterator
    }
  }

  /** The TTL'd twin of [[incrementalDedupTransform]] over a
    * `(doc_id, fp, ts)` parquet stream: exact dedup WITHIN an
    * event-time horizon, state bounded by watermark-driven eviction
    * (InfraSpec drives the epochs and asserts the store shrinks). */
  private[graft] def incrementalDedupTtlTransform(s: SparkSession, dir: String,
      horizonMs: Long, delay: String = "60 seconds",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("fp", StringType),
      StructField("ts", TimestampType)))
    val src = extraOptions.foldLeft(s.readStream.schema(schema)) {
      case (r, (k, v)) => r.option(k, v)
    }.parquet(dir)
    src.withWatermark("ts", delay)
      .as[IncTDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[IncTState, IncOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        incrementalTtlFold(horizonMs))
      .toDF()
  }

  /** The TTL'd dedup twin as an ORACLED GATE (st_dedup_ttl):
    * [[incrementalDedupTtlTransform]]'s fold over a planted corpus
    * replay — the one production streaming mechanism (EventTimeTimeout
    * eviction + the horizon-lapse re-open in the data path) that was
    * spec-driven only (round-18 verdict #3). Event time is synthetic
    * arrival seconds (epoch 10⁹ + doc_id, the decontamEmbedWm
    * discipline); plants guarantee both horizon branches at every SF:
    * every 7th doc re-arrives 10 s after its original (inside the
    * 600 s horizon → dup) and every 11th re-arrives horizon + 1 h
    * later (lapsed → kept as a fresh original), under fresh
    * max(doc_id)-derived ids. Because lastSeen advances on EVERY
    * sighting, "kept" is exactly "gap from the previous sighting of
    * this fp exceeds the horizon" — a plain LAG window in the oracle.
    *
    * Scale shape: fingerprinting is map-only on arrivals; state is one
    * (firstId, lastSeen) row per fingerprint seen within ~one horizon
    * (watermark-driven eviction, InfraSpec asserts the store shrinks)
    * — bounded by arrival rate × horizon, never corpus size. */
  private[graft] def dedupTtlGateTransform(s: SparkSession, dir: String,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val horizonS = graft.queries.LlmOps.DedupTtlHorizonS
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", "documents.parquet")) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val pb = graft.queries.LlmOps.plantBase(graft.Tables.documents(s, dir))
    val base = lit(1000000000L)
    def arrivals(from: DataFrame, ids: org.apache.spark.sql.Column,
        tsS: org.apache.spark.sql.Column): DataFrame =
      from.select(ids.as("doc_id"),
        graft.text.fingerprint_md5(col("text")).as("fp"),
        timestamp_seconds(tsS).as("ts"))
    val events = arrivals(src, col("doc_id"), base + col("doc_id"))
      .unionByName(arrivals(src.filter(col("doc_id") % 7 === 0),
        col("doc_id") + pb, base + col("doc_id") + 10L))
      .unionByName(arrivals(src.filter(col("doc_id") % 11 === 0),
        col("doc_id") + 2 * pb, base + col("doc_id") + horizonS + 3600L))
    events.withWatermark("ts", "60 seconds")
      .as[IncTDoc]
      .groupByKey(_.fp)
      .flatMapGroupsWithState[IncTState, IncOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        incrementalTtlFold(horizonS * 1000L))
      .toDF()
  }

  def dedupTtlStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_dedup_ttl"): DataFrame = {
    val out = dedupTtlGateTransform(s, dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("doc_id"))
  }

  /** Streaming incremental exact dedup — [[graft.dedup.Dedup.incrementalExact]]
    * as CONTINUOUS ingest: the historical fingerprint index is loaded
    * as flatMapGroupsWithState INITIAL STATE (fp-keyed, constant-size
    * records — the streaming twin of the batch operator's
    * fingerprint-only history side), and every arriving document is
    * classified kept / dup_hist / dup_batch in one pass, appending
    * immediately. State grows by one O(1) record per NEW fingerprint —
    * the same growth the batch index itself has, which is the bound a
    * 100 TB continuous corpus needs (and the RocksDB provider spills it
    * off-heap; InfraSpec certifies provider equivalence + the row
    * bound). Same batch composition and oracle as `d_incremental`:
    * single-batch replay == batch answer bit-for-bit. */
  def incrementalDedupStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_incr"): DataFrame = {
    val out = incrementalDedupTransform(s, dir, histDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("doc_id"))
  }

  /** Per-band fold for the streaming NEAR dedup: arriving docs (sorted
    * by id — the within-trigger "prior" order, matching the batch
    * gate's `doc_b < doc_a`) generate one CANDIDATE row per indexed
    * entry sharing this band, then append their own id to the band's
    * index slice with side "b" so later arrivals — same trigger or
    * later triggers — see them as prior batch. No shingle hashes are
    * seen, emitted, or stored here: verification happens downstream in
    * [[nearVerifyFold]] against the single doc-keyed shingle store. */
  private[graft] def nearBandFold(key: NearBandKey, rows: Iterator[NearBandRow],
      state: GroupState[NearBandState]): Iterator[NearCand] = {
    val entries = scala.collection.mutable.ArrayBuffer.empty[NearIdEntry]
    state.getOption.foreach(s => entries ++= s.entries)
    val out = scala.collection.mutable.ArrayBuffer.empty[NearCand]
    rows.toSeq.sortBy(_.doc_id).foreach { r =>
      entries.foreach(e =>
        out += NearCand(e.doc, "cand", r.doc_id, e.side, Seq.empty))
      entries += NearIdEntry(r.doc_id, "b")
    }
    state.update(NearBandState(entries.toSeq))
    out.iterator
  }

  /** Attach fold — a STATELESS per-trigger co-group keyed by the
    * probing doc. A candidate exists only in the trigger its probe
    * arrived in, and the probe's `reg` row (carrying its shingle set)
    * is generated from the same source rows in the same trigger, so
    * the group always contains the reg alongside every candidate it
    * produced: glue the shingle set on, collapse cross-band duplicate
    * candidates (the streaming twin of the batch `distinct()` BEFORE
    * the verify join), and pass the reg through for the verify store.
    * `state` is never updated — numRowsTotal stays 0 forever. */
  private[graft] def nearAttachFold(key: Long, rows: Iterator[NearCand],
      state: GroupState[NearDocState]): Iterator[NearCand] = {
    val rs = rows.toSeq
    val reg = rs.find(_.kind == "reg")
    val out = scala.collection.mutable.ArrayBuffer.empty[NearCand]
    reg.foreach { r =>
      out += r
      rs.iterator.filter(_.kind == "cand").map(c => (c.other, c.side))
        .toSeq.distinct.foreach { case (other, side) =>
          out += NearCand(other, "probe", key, side, r.sh) }
    }
    out.iterator
  }

  /** Verify fold — keyed by the PROBED doc, backed by the one compact
    * doc → distinct-shingle-hash store (history docs as initial state,
    * arrivals registered by their `reg` row before any probe against
    * them is answered). Exact Jaccard over the stored set and the
    * probe-carried set, threshold 0.5 — identical arithmetic to the
    * batch `d_incremental_near` verify join. */
  private[graft] def nearVerifyFold(key: Long, rows: Iterator[NearCand],
      state: GroupState[NearDocState]): Iterator[NearHit] = {
    val rs = rows.toSeq
    rs.find(_.kind == "reg").foreach(r => state.update(NearDocState(r.sh)))
    val out = scala.collection.mutable.ArrayBuffer.empty[NearHit]
    state.getOption.foreach { st =>
      val sb = st.sh.toSet
      rs.foreach { c =>
        if (c.kind == "probe") {
          val sa = c.sh.toSet
          var inter = 0
          sa.foreach(x => if (sb.contains(x)) inter += 1)
          if (inter.toDouble / (sa.size + sb.size - inter) >= 0.5)
            out += NearHit(c.probe, key, c.side)
        }
      }
    }
    out.iterator
  }

  /** The incremental NEAR-dedup streaming TRANSFORM — the continuous
    * twin of [[graft.dedup.Dedup.incrementalNear]] and the NEAR twin of
    * [[incrementalDedupTransform]]. Three chained append-mode
    * flatMapGroupsWithState stages (Spark allows multiple stateful
    * operators when every one of them is in Append mode):
    *
    *  1. BAND stage, keyed by (band, band-key) over the 16-band × 4-row
    *     split of the 64-hash MinHash signature (the batch geometry),
    *     history ids loaded as INITIAL STATE. Arriving docs explode to
    *     16 id-only band rows, emit a candidate per co-bucketed indexed
    *     doc, and append their id. State per entry: (doc id, side) —
    *     NOT the shingle set.
    *  2. ATTACH stage, keyed by the probing doc: stateless same-trigger
    *     co-group that deduplicates cross-band candidates (the batch
    *     `distinct()`) and glues the probe's shingle set on.
    *  3. VERIFY stage, keyed by the probed doc: THE one persistent
    *     doc → distinct-shingle-hash store (history as initial state,
    *     arrivals via `reg` rows), exact Jaccard ≥ 0.5 in-state.
    *
    * State bound: band store = bands × indexed docs × O(12 bytes);
    * shingle store = Σ|shingle set| exactly ONCE per doc. The previous
    * design replicated every doc's full shingle set into all 16 band
    * states (×16 the corpus shingle footprint, held under NoTimeout
    * forever) — at 100 TB that replication, not the id index, dominates
    * the state store. Shingle sets now cross the wire once per doc
    * (its `reg` row) plus once per deduplicated candidate (what the
    * batch verify join shuffles anyway). The RocksDB provider keeps
    * both stores off-heap (InfraSpec certifies provider equivalence).
    *
    * Same batch composition, plants and oracle as `d_incremental_near`:
    * single-trigger replay == the batch operator bit-for-bit. Across
    * MULTIPLE triggers the contract is continuous-ingest semantics:
    * history attribution and the undirected verified pair set still
    * equal the batch answer (detection is arrival-order-free), but
    * "prior batch" attribution follows ARRIVAL order — a planted
    * recrawl arrives in its source doc's trigger, so a batch-batch
    * pair's direction can flip vs the id-ordered batch oracle. InfraSpec
    * certifies exactly these invariants, plus band state carry-over
    * between micro-batches, the no-shingles-in-band-state and
    * stateless-attach bounds, and RocksDB provider equivalence. */
  private[graft] def incrementalNearTransform(s: SparkSession, dir: String,
      histDir: String,
      glob: String = "documents.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graft.{DistinctShingleHashes, MinHashSignature}
    val bands = 16
    val rows = 4 // 64 hashes / 16 bands — the d_incremental_near geometry
    def bandRows(df: DataFrame): DataFrame = df.select(
        col("doc_id"),
        MinHashSignature.minhash_signature(col("text"), 3, 64).as("sig"))
      .select(col("doc_id"), posexplode(
        org.apache.spark.sql.graft.BandKeys
          .band_keys(col("sig"), bands, rows)).as(Seq("band", "bkey")))
      .select(col("band"), col("bkey"), col("doc_id"))
    def regRows(df: DataFrame): DataFrame = df.select(
        col("doc_id").as("other"), lit("reg").as("kind"),
        col("doc_id").as("probe"), lit("").as("side"),
        DistinctShingleHashes.distinct_shingle_hashes(col("text"), 3).as("sh"))
    val hist = graft.Tables.documents(s, histDir)
      .filter(col("doc_id") % 5 =!= 0).select(col("doc_id"), col("text"))
    val initBand = bandRows(hist).as[NearBandRow]
      .groupByKey(r => NearBandKey(r.band, r.bkey))
      .mapGroups((k, it) =>
        k -> NearBandState(it.map(r => NearIdEntry(r.doc_id, "h")).toSeq))
      .groupByKey(_._1).mapValues(_._2)
    val initDoc = hist.select(col("doc_id"),
        DistinctShingleHashes.distinct_shingle_hashes(col("text"), 3).as("sh"))
      .as[(Long, Seq[Long])]
      .groupByKey(_._1).mapValues(t => NearDocState(t._2))
    val pb = graft.queries.LlmOps.plantBase(graft.Tables.documents(s, histDir))
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val batch = src.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("text"))
      .unionByName(src.filter(col("doc_id") % 5 =!= 0 && col("doc_id") % 7 === 0)
        .select((col("doc_id") + pb).as("doc_id"),
          concat(col("text"), lit(" extrem")).as("text")))
      .unionByName(src.filter(col("doc_id") % 5 === 0 && col("doc_id") % 9 === 0)
        .select((col("doc_id") + 2 * pb).as("doc_id"),
          concat(col("text"), lit(" zulu")).as("text")))
    val cands = bandRows(batch).as[NearBandRow]
      .groupByKey(r => NearBandKey(r.band, r.bkey))
      .flatMapGroupsWithState[NearBandState, NearCand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initBand)(
        nearBandFold)
    val attached = regRows(batch).as[NearCand].union(cands)
      .groupByKey(_.probe)
      .flatMapGroupsWithState[NearDocState, NearCand](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(nearAttachFold)
    val verified = attached.groupByKey(_.other)
      .flatMapGroupsWithState[NearDocState, NearHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), initDoc)(
        nearVerifyFold)
    verified.toDF().unionByName(batch.select(col("doc_id"),
      lit(-1L).as("other"), lit("self").as("side")))
  }

  /** Streaming incremental NEAR dedup gate — replays
    * [[incrementalNearTransform]] into a memory sink, then reduces the
    * per-band hit stream exactly as the batch operator reduces its
    * candidate matches: DISTINCT (doc, other, side) across bands (a
    * pair that collides in several bands is one match), per-doc
    * history/prior counts, kept/dup_batch/dup_hist status. Reuses
    * `d_incremental_near`'s oracle verbatim — stream == batch
    * bit-for-bit. */
  def incrementalNearStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_near"): DataFrame = {
    val out = incrementalNearTransform(s, dir, histDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val t = s.table(queryName)
    // rename the aggregate side's key: both branches read the same
    // memory table, so a Seq("doc_id") join sees conflicting refs
    val m = t.filter(col("side") =!= "self")
      .select(col("doc_id").as("m_doc"), col("other"), col("side")).distinct()
      .groupBy(col("m_doc"))
      .agg(sum(when(col("side") === "h", 1L).otherwise(0L)).as("m_hist"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("m_prior"))
    t.filter(col("side") === "self").select(col("doc_id")).distinct()
      .join(m, col("doc_id") === col("m_doc"), "left")
      .select(col("doc_id"),
        coalesce(col("m_hist"), lit(0L)).as("n_hist"),
        coalesce(col("m_prior"), lit(0L)).as("n_prior"),
        when(coalesce(col("m_hist"), lit(0L)) > 0, "dup_hist")
          .when(coalesce(col("m_prior"), lit(0L)) > 0, "dup_batch")
          .otherwise("kept").as("status"))
      .orderBy(col("doc_id"))
  }

  // ------------------------------------------------ semantic dedup

  /** The incremental-sem cell geometry and threshold — shared with the
    * batch twin ([[graft.similarity.Ann.incrementalSem]] via the
    * `d_incremental_sem` gate) so single-trigger replay equals the
    * batch answer bit-for-bit. */
  private val SemCells = 16
  private val SemThreshold = 0.44

  /** Unbox once: the encoder hands vectors back as `Seq[Float]` whose
    * generic `apply` BOXES every element — on the fold's quadratic
    * within-cell work that boxing dominated (13.7× sf0.1→sf1 for 10×
    * vectors before; the arithmetic itself is ~100× pair work at a
    * fixed cell count). The common `ArraySeq.ofFloat` case is a free
    * unwrap. */
  private[graft] def semArr(a: Seq[Float]): Array[Float] = a match {
    case w: scala.collection.immutable.ArraySeq.ofFloat => w.unsafeArray
    case s => s.toArray
  }

  /** Σ aᵢ·bᵢ as double, floats widened first, accumulated in array
    * order — the Scala twin of
    * [[org.apache.spark.sql.graft.VectorOps]].dotCompute (same IEEE
    * sequence, so in-state cosines equal the batch expression's). */
  private[graft] def semDot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  private[graft] def semNorm(a: Array[Float]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { val d = a(i).toDouble; s += d * d; i += 1 }
    math.sqrt(s)
  }

  /** Spark Round-on-double semantics (NaN/Inf pass through, else
    * HALF_UP on the decimal string expansion) — the same contract
    * [[org.apache.spark.sql.graft.NearestCentroid]] documents, at the
    * verify threshold's scale 6. */
  private[graft] def semRound6(x: Double): Double =
    if (x.isNaN || x.isInfinite) x
    else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Per-cell fold for the streaming SEMANTIC dedup: arrivals (sorted
    * by id — the within-trigger "prior" order, matching the batch
    * gate's `vb < va`) probe every indexed member of their coarse cell
    * with the exact rounded-cosine verify, then join the cell index
    * with side "b" so later arrivals — same trigger or later
    * triggers — see them as prior batch. Norms are computed ONCE at
    * insert and carried in the entry (the production vector-index
    * layout); probing recomputes nothing per stored member but the
    * dot. */
  private[graft] def semCellFold(key: Long, rows: Iterator[SemVecRow],
      state: GroupState[SemCellState]): Iterator[SemHit] = {
    // unwrap every stored vector ONCE per trigger-group (O(members)),
    // not once per comparison (O(members × arrivals))
    val members = scala.collection.mutable.ArrayBuffer.empty[SemEntry]
    state.getOption.foreach(s => members ++= s.members)
    val arrs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    members.foreach(m => arrs += semArr(m.emb))
    val out = scala.collection.mutable.ArrayBuffer.empty[SemHit]
    rows.toSeq.sortBy(_.vec_id).foreach { r =>
      val emb = semArr(r.emb)
      val nrm = semNorm(emb)
      var i = 0
      while (i < members.length) {
        val m = members(i)
        if (semRound6(semDot(emb, arrs(i)) / (nrm * m.nrm)) >= SemThreshold)
          out += SemHit(r.vec_id, m.id, m.side)
        i += 1
      }
      members += SemEntry(r.vec_id, "b", r.emb, nrm)
      arrs += emb
    }
    state.update(SemCellState(members.toSeq))
    out.iterator
  }

  private val embSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  /** The incremental SEMANTIC dedup streaming TRANSFORM — the
    * continuous twin of [[graft.similarity.Ann.incrementalSem]] and
    * the embedding-space member of the streaming dedup family
    * (exact: [[incrementalDedupTransform]]; MinHash near-dup:
    * [[incrementalNearTransform]]). ONE append-mode
    * flatMapGroupsWithState stage keyed by the IVF coarse cell: the
    * cell → (id, side, vector, norm) index rides as state, history
    * vectors loaded as INITIAL STATE, and cell ASSIGNMENT is the same
    * codegen [[org.apache.spark.sql.graft.NearestCentroid]] argmax the
    * batch operator runs — a stateless map inside the stream, seeds
    * collected once from the static catalog table (stable geometry as
    * triggers arrive).
    *
    * State bound: exactly one entry per indexed vector (history ∪
    * arrivals), each carrying its vector + precomputed norm ONCE —
    * O(corpus embedding footprint) total, independent of the cell
    * count, with a hot cell being one hot key. Per-trigger work is
    * |arrivals-in-cell| × |cell| dots — the SemDeDup quadratic bounded
    * by cell geometry, identical to the batch verify join's. The
    * RocksDB provider keeps the vector store off-heap (InfraSpec
    * certifies provider equivalence).
    *
    * Same composition, plants and oracle as `d_incremental_sem`:
    * single-trigger replay == the batch operator bit-for-bit. Across
    * MULTIPLE triggers the contract is continuous-ingest semantics
    * (the [[incrementalNearTransform]] contract): detection and
    * history attribution are arrival-order-free; within-batch "prior"
    * attribution follows ARRIVAL order, so a batch-batch pair's
    * direction can flip vs the id-ordered batch oracle. */
  private[graft] def semDedupTransform(s: SparkSession, dir: String,
      histDir: String,
      glob: String = "embeddings.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val emb = graft.Tables.embeddings(s, histDir)
    val pb = graft.queries.LlmOps.plantBase(emb, "vec_id")
    val (cells, cents) = graft.similarity.Ann.collectSeeds(
      graft.similarity.Ann.ivfSeeds(emb, SemCells, 0, "vec_id", "embedding"))
    def cellOf = org.apache.spark.sql.graft.NearestCentroid
      .nearest_centroid(col("embedding"), cells, cents)
    val init = emb.filter(col("vec_id") % 5 =!= 0)
      .select(cellOf.as("cell"), col("vec_id"), col("embedding").as("emb"))
      .as[SemVecRow]
      .groupByKey(_.cell)
      .mapGroups((k, it) => k -> SemCellState(
        it.map(r => SemEntry(r.vec_id, "h", r.emb, semNorm(semArr(r.emb)))).toSeq))
      .groupByKey(_._1).mapValues(_._2)
    val src = extraOptions.foldLeft(
        s.readStream.schema(embSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val batch = src.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
      .unionByName(src.filter(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 === 0)
        .select((col("vec_id") + pb).as("vec_id"), col("embedding")))
      .unionByName(src.filter(col("vec_id") % 5 === 0 && col("vec_id") % 9 === 0)
        .select((col("vec_id") + 2 * pb).as("vec_id"), col("embedding")))
    val hits = batch
      .select(cellOf.as("cell"), col("vec_id"), col("embedding").as("emb"))
      .as[SemVecRow]
      .groupByKey(_.cell)
      .flatMapGroupsWithState[SemCellState, SemHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), init)(semCellFold)
    hits.toDF().unionByName(batch.select(col("vec_id"),
      lit(-1L).as("other"), lit("self").as("side")))
  }

  /** Streaming incremental SEMANTIC dedup gate — replays
    * [[semDedupTransform]] into a memory sink, then reduces the hit
    * stream exactly as the batch operator reduces its verify join:
    * per-arrival history/prior counts, kept/dup_batch/dup_hist status.
    * Reuses `d_incremental_sem`'s oracle verbatim — stream == batch
    * bit-for-bit. (No cross-band DISTINCT here: a pair lives in
    * exactly one cell, so each hit is emitted once.) */
  def semDedupStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_sem"): DataFrame = {
    val out = semDedupTransform(s, dir, histDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    val t = s.table(queryName)
    val m = t.filter(col("side") =!= "self")
      .select(col("vec_id").as("m_vec"), col("other"), col("side"))
      .groupBy(col("m_vec"))
      .agg(sum(when(col("side") === "h", 1L).otherwise(0L)).as("m_hist"),
        sum(when(col("side") === "b", 1L).otherwise(0L)).as("m_prior"))
    t.filter(col("side") === "self").select(col("vec_id")).distinct()
      .join(m, col("vec_id") === col("m_vec"), "left")
      .select(col("vec_id"),
        coalesce(col("m_hist"), lit(0L)).as("n_hist"),
        coalesce(col("m_prior"), lit(0L)).as("n_prior"),
        when(coalesce(col("m_hist"), lit(0L)) > 0, "dup_hist")
          .when(coalesce(col("m_prior"), lit(0L)) > 0, "dup_batch")
          .otherwise("kept").as("status"))
      .orderBy(col("vec_id"))
  }

  // ------------------------------------------------ crawl scheduler

  /** Per-domain fold for the streaming crawl scheduler: arrivals
    * (sorted by id — the batch FIFO order) are judged by RFC 9309
    * most-specific-match against the rules IN STATE (longest rule path
    * wins, Allow breaks ties, no match = allowed — the exact
    * [[graft.queries.LlmOps.robotsVerdict]] argmax, here a per-row
    * max over the domain's handful of rules), and each ALLOWED page
    * takes the next politeness slot: tick = tier + (rank − 1) · delay.
    * Blocked pages emit a `blocked` marker (tick −1) and do NOT
    * consume a rank — the plan never reserves a slot for a page the
    * crawler won't fetch. Patterns compile once per trigger-group, not
    * per page. */
  private[graft] def schedFold(key: String, rows: Iterator[SchedPage],
      state: GroupState[SchedState]): Iterator[SchedHit] = {
    state.getOption match {
      case None => Iterator.empty // domain outside the catalog: no card
      case Some(st0) =>
        val pats = st0.rules.map(r =>
          (r, java.util.regex.Pattern.compile(r.rex)))
        var rk = st0.nextRk
        val out = scala.collection.mutable.ArrayBuffer.empty[SchedHit]
        rows.toSeq.sortBy(_.doc_id).foreach { p =>
          val matching = pats.collect {
            case (r, pat) if pat.matcher(p.path).find() => r
          }
          val allowed = matching.isEmpty ||
            matching.maxBy(r => (r.rpath.length, if (r.allow) 1 else 0)).allow
          if (allowed) {
            out += SchedHit(p.doc_id, key, st0.tier,
              st0.tier + (rk - 1) * st0.delay, "fetch")
            rk += 1
          } else out += SchedHit(p.doc_id, key, st0.tier, -1L, "blocked")
        }
        state.update(st0.copy(nextRk = rk))
        out.iterator
    }
  }

  /** The crawl-scheduler streaming TRANSFORM — the continuous twin of
    * the `t_pipeline_schedule` composition
    * ([[graft.queries.LlmOps.pipelineSchedule]]): robots ∘ Crawl-delay
    * ∘ authority tier ∘ FIFO, with the per-domain crawl card (parsed
    * rules, delay, tier, next rank) as flatMapGroupsWithState state.
    * The static catalog side — robots files parsed to rules with the
    * wildcard regex translation, Crawl-delays, and the PageRank-tier
    * table — is computed ONCE from the history directory and loaded as
    * INITIAL STATE (domain-sized by the t_token_budget directory
    * discipline); URL synthesis → canonicalization → domain/path
    * extraction runs statelessly inside the stream, the same codegen
    * expressions the batch gate plans.
    *
    * State bound: O(domains × rules) — no page is ever retained; the
    * only thing that grows with the crawl is the rank COUNTER per
    * domain. Single-trigger replay == the batch gate bit-for-bit
    * (same oracle); across triggers the rank carries over, which IS
    * the production semantics: a frontier arriving in waves still
    * spaces per-domain fetches `delay` ticks apart, and under
    * id-ordered ingestion the whole plan equals the batch one
    * (InfraSpec certifies both, plus that blocked pages never appear
    * in any tick). */
  private[graft] def scheduleTransform(s: SparkSession, dir: String,
      histDir: String,
      glob: String = "documents.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    import graft.queries.LlmOps
    val staticPages = LlmOps.robotsPages(s, histDir)
    val init = LlmOps.robotsRules(staticPages)
      .groupBy(col("domain"))
      .agg(collect_list(struct(col("rpath"),
        (col("rule") === "Allow").as("allow"), col("rex"))).as("rules"))
      .join(LlmOps.robotsDelays(staticPages), Seq("domain"))
      .join(LlmOps.cachedTiers(s, histDir), Seq("domain"))
      .select(col("domain"), col("rules"), col("delay"), col("tier"))
      .as[SchedInit]
      .groupByKey(_.domain)
      .mapValues(i => SchedState(i.rules, i.delay, i.tier, 1L))
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val rawU = LlmOps.rawUrl(col("doc_id"), col("source"))
    val pages = src.select(col("doc_id"),
        graft.text.Url.canonicalize(rawU).as("curl"),
        graft.text.Url.urlDomain(rawU).as("domain"))
      .select(col("domain"), col("doc_id"),
        regexp_extract(col("curl"), "^[a-z]+://[^/?#]+([^?#]*)", 1).as("path"))
      .as[SchedPage]
    pages.groupByKey(_.domain)
      .flatMapGroupsWithState[SchedState, SchedHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), init)(schedFold)
      .toDF()
  }

  /** Streaming crawl-scheduler gate — replays [[scheduleTransform]]
    * into a memory sink and reduces the fetch rows to the per-tick
    * load card exactly as the batch gate does. Reuses
    * `t_pipeline_schedule`'s oracle verbatim — stream == batch
    * bit-for-bit (blocked rows carry tick −1 and are excluded the way
    * the batch composition filters them before ranking). */
  def scheduleStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_sched"): DataFrame = {
    val out = scheduleTransform(s, dir, histDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).filter(col("status") === "fetch")
      .groupBy(col("tick"))
      .agg(count(lit(1)).as("n_fetches"),
        sum(col("doc_id")).as("id_sum"),
        sum(when(col("tier") === 1, 1L).otherwise(0L)).as("n_tier1"),
        md5(concat_ws("|", array_sort(collect_list(col("domain"))))
          .cast("binary")).as("domains_md5"))
      .orderBy(col("tick"))
  }

  // ------------------------------------------------ asset dedup

  /** Per-content-address fold for the streaming asset dedup: the first
    * arrival (by id — the batch `min(asset_id)` keeper rule) under a
    * (kind, md5, length) key is `kept` and claims the key; every later
    * arrival — same trigger or any later one — is `dup`. State is the
    * keeper id alone. */
  private[graft] def mmKeyFold(key: (String, String, Long),
      rows: Iterator[MmKeyRow],
      state: GroupState[MmKeyState]): Iterator[MmVerdict] = {
    var keeper = state.getOption.map(_.keeper)
    val out = scala.collection.mutable.ArrayBuffer.empty[MmVerdict]
    rows.toSeq.sortBy(_.asset_id).foreach { r =>
      val st = if (keeper.isEmpty) { keeper = Some(r.asset_id); "kept" }
        else "dup"
      out += MmVerdict(r.asset_id, r.kind, r.fp, r.n_bytes, st)
    }
    keeper.foreach(k => state.update(MmKeyState(k)))
    out.iterator
  }

  /** The ASSET-dedup streaming TRANSFORM — the multimodal member of
    * the streaming dedup family (text exact:
    * [[incrementalDedupTransform]]; MinHash near:
    * [[incrementalNearTransform]]; semantic: [[semDedupTransform]]):
    * continuous media ingest deduplicated by content address. Arriving
    * documents become assets in-stream (the mm_dedup synthesis,
    * including the every-4th re-upload plant at a plantBase id), the
    * (kind, md5(payload), byte length) key is computed by stateless
    * codegen — payload bytes never shuffle, never enter state — and
    * one flatMapGroupsWithState stage keyed by the content address
    * resolves kept/dup. State: one long per distinct asset content —
    * the exabyte-object-store dedup index, built while ingest runs.
    * Single-trigger replay == the batch mm_dedup gate bit-for-bit
    * (same oracle); under ordered multi-trigger ingest the keeper (min
    * id) arrives first, so verdicts are identical (InfraSpec). */
  private[graft] def mmDedupTransform(s: SparkSession, dir: String,
      histDir: String,
      glob: String = "documents.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val pb = graft.queries.LlmOps.plantBase(graft.Tables.documents(s, histDir))
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val assets = graft.multimodal.Multimodal.assetsFromDocuments(src).toDF()
      .unionByName(graft.multimodal.Multimodal
        .assetsFromDocuments(src.filter(col("doc_id") % 4 === 1)).toDF()
        .withColumn("asset_id", col("asset_id") + pb))
    assets.select(col("kind"), md5(col("payload")).as("fp"),
        length(col("payload")).cast("long").as("n_bytes"), col("asset_id"))
      .as[MmKeyRow]
      .groupByKey(r => (r.kind, r.fp, r.n_bytes))
      .flatMapGroupsWithState[MmKeyState, MmVerdict](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(mmKeyFold)
      .toDF()
  }

  /** Streaming asset-dedup gate — replays [[mmDedupTransform]] into a
    * memory sink; reuses `mm_dedup`'s oracle verbatim. */
  def mmDedupStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_mm"): DataFrame = {
    val out = mmDedupTransform(s, dir, histDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
      .select(col("asset_id"), col("kind"), col("fp"), col("n_bytes"),
        col("status"))
      .orderBy(col("asset_id"))
  }

  // ------------------------------------------------ ingest quota

  /** Per-source fold for the streaming ingest quota: every arrival
    * (sorted by id — the batch window's ORDER BY) adds its token count
    * to the running total and is admitted iff the total still fits the
    * source's budget. The counter accumulates OFFERED volume, not
    * admitted volume — that is what makes the semantics prefix-close
    * (= the monotone window `cumsum ≤ budget`) instead of a greedy
    * knapsack no window can replay. */
  private[graft] def budgetFold(key: String, rows: Iterator[BudgetDoc],
      state: GroupState[BudgetState]): Iterator[BudgetHit] = {
    state.getOption match {
      case None => Iterator.empty // source outside the catalog: no quota
      case Some(st0) =>
        var spent = st0.spent
        val out = scala.collection.mutable.ArrayBuffer.empty[BudgetHit]
        rows.toSeq.sortBy(_.doc_id).foreach { d =>
          spent += d.ntok
          out += BudgetHit(d.doc_id, key, d.ntok, spent, spent <= st0.budget)
        }
        state.update(BudgetState(st0.budget, spent))
        out.iterator
    }
  }

  /** The ingest-quota streaming TRANSFORM: per-source token budgets
    * (2/5 of each source's catalog volume — the pipelineBudget ratio)
    * are loaded as initial state; arriving documents are tokenized
    * statelessly in-stream and admitted while the source's cumulative
    * offered volume fits. The production shape for "stop pulling from
    * this feed once its quota is filled" — enforced WHILE ingest runs,
    * not in a nightly batch, with O(sources) state. */
  private[graft] def budgetTransform(s: SparkSession, dir: String,
      histDir: String,
      glob: String = "documents.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import s.implicits._
    val init = graft.Tables.documents(s, histDir)
      .groupBy(col("source"))
      .agg((sum(graft.text.n_tokens(col("text")).cast("long")) * 2).as("t2"))
      .select(col("source"), expr("t2 div 5").as("budget"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(t => BudgetState(t._2, 0L))
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    src.select(col("source"), col("doc_id"),
        graft.text.n_tokens(col("text")).cast("long").as("ntok"))
      .as[BudgetDoc]
      .groupByKey(_.source)
      .flatMapGroupsWithState[BudgetState, BudgetHit](
        OutputMode.Append(), GroupStateTimeout.NoTimeout(), init)(budgetFold)
      .toDF()
  }

  /** Streaming ingest-quota gate — replays [[budgetTransform]] and
    * reduces to the per-source admission card. The oracle replays the
    * whole run as ONE window: admitted ⟺ the per-source running token
    * total (ordered by id) fits the budget. */
  def budgetStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_budget"): DataFrame = {
    val out = budgetTransform(s, dir, histDir = dir)
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_offered"),
        sum(when(col("admitted"), 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("admitted"), col("ntok")).otherwise(0L)).as("tok_admitted"),
        sum(when(col("admitted"), col("doc_id")).otherwise(0L)).as("admitted_id_sum"),
        max(when(col("admitted"), col("doc_id"))).as("last_admitted"))
      .orderBy(col("source"))
  }

  /** Streaming canonical-URL dedup — the crawl FRONTIER shape: "have we
    * fetched this page (under any raw spelling)" is answered while the
    * crawl runs, not in a nightly batch. Canonicalization
    * ([[graft.text.Url.canonicalize]]) is stateless per-row codegen
    * inside the stream; the keyed aggregate (min doc id wins, count of
    * raw sightings) is the state — one O(1) row per canonical URL, the
    * same bound the batch index has (see the header's retention note).
    * Order-invariant (min/count), so the stream reuses the batch
    * oracle bit-for-bit. */
  def urlDedupStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_url"): DataFrame = {
    import graft.text.Url
    val raw = graft.queries.LlmOps.rawUrl(col("doc_id"), col("source"))
    val agg = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), Url.canonicalize(raw).as("curl"),
        Url.urlDomain(raw).as("domain"))
      .groupBy(col("curl"), col("domain"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("curl"))
  }

  /** Streaming decontamination — the INGEST guard: benchmark
    * contamination is flagged while data arrives, not in a nightly
    * batch pass over the landed corpus. The benchmark's distinct
    * 4-gram set is the STATIC side (a benchmark is fixed-size by
    * contract — it does not grow with the corpus — so it broadcasts),
    * and the stream side is exactly the batch operator
    * ([[graft.corpus.Corpus.decontaminate]]) pointed at an unbounded
    * source: one-pass codegen shingling → stream-static broadcast
    * join → keyed count. Per-doc counts are order-invariant sums over
    * the doc's distinct grams, so the stream reuses the batch gate's
    * DuckDB oracle bit-for-bit (t_decontam's SQL).
    *
    * State bound: complete-mode group state is one O(1) count row per
    * CONTAMINATED doc (the inner join drops clean docs before the
    * aggregate) — proportional to the contamination hit set, not the
    * corpus. A production deployment would age flagged ids out to the
    * quarantine table per trigger; the replay keeps them in-state to
    * compare against the batch answer in one read. */
  def decontamStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_decontam"): DataFrame = {
    val bench = s.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 20 === 0)
    val stream = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .filter(col("doc_id") % 20 =!= 0)
    val agg = graft.corpus.Corpus.decontaminate(stream, bench, n = 4)
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
  }

  /** Streaming SEMANTIC decontamination — the embedding-space member
    * of the at-ingest guard family and `s_decontam_embed`'s continuous
    * twin (the one decontamination member that had no streaming ladder
    * rung, round-16 verdict #4): every arriving corpus vector whose
    * cosine to ANY benchmark vector clears the threshold is flagged
    * while data lands, not in a nightly batch pass.
    *
    * The benchmark vector set is the STATIC side — an eval suite is
    * fixed-size by contract, so it BROADCASTS onto the stream and the
    * probe is a map-only stream-static join (no shuffle of arrivals at
    * any corpus size, the st_decontam_stream discipline lifted to the
    * embedding space). Plants mirror the batch gate exactly: every
    * benchmark vector is also re-ingested under a fresh max(vec_id)-
    * derived id — the verbatim test-set-in-the-crawl case.
    *
    * State bound: complete-mode group state is one O(1) (count, max)
    * row per CONTAMINATED vector — proportional to the hit set, never
    * the corpus (clean arrivals die in the join). Per-vector hit
    * counts/max-sims are order-invariant sums, so the stream reuses
    * the batch gate's DuckDB oracle bit-for-bit. */
  def decontamEmbedStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_decontam_embed",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val benchN = graft.queries.LlmOps.DecontamBenchN
    val embStatic = graft.Tables.embeddings(s, dir)
    val pb = graft.queries.LlmOps.plantBase(embStatic, "vec_id")
    val bench = embStatic.filter(col("vec_id") < benchN)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bvec"))
    val src = extraOptions.foldLeft(
        s.readStream.schema(embSchema)
          .option("pathGlobFilter", "embeddings.parquet")) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val corpus = src.filter(col("vec_id") >= benchN)
        .select(col("vec_id"), col("embedding"))
      .unionByName(src.filter(col("vec_id") < benchN)
        .select((col("vec_id") + pb).as("vec_id"), col("embedding")))
    val agg = corpus.join(broadcast(bench))
      .select(col("vec_id"),
        round(graft.similarity.Ann.cosine(col("embedding"), col("bvec")), 6)
          .as("sim"))
      .filter(col("sim") >= 0.44)
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("best_sim"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("vec_id"))
  }

  /** WATERMARKED append-mode semantic decontamination
    * (st_decontam_embed_wm) — [[decontamEmbedStream]]'s complete-mode
    * hit set never evicts, which is fine for a replayed comparison but
    * not for production ingest: this twin carries EVENT TIME (the
    * replay synthesizes arrival seconds from vec_id, offset past epoch
    * 0 — the exactDedupStreamWatermarked discipline; production uses
    * ingestion time), watermarks the ARRIVAL stream before the probe,
    * aggregates per (1-minute window, vec_id) and emits in APPEND mode
    * — each contaminated vector's row is emitted exactly once, when
    * the watermark passes its window, and the window's state is
    * dropped. State is bounded by hits-per-watermark-horizon instead
    * of all-hits-ever; arrivals inside the final horizon (watermark =
    * max event time − 30 s) are still in flight and NOT emitted —
    * the oracle replays exactly that cutoff (window end strictly
    * inside the watermark; StreamingSpec pins the boundary with a
    * synthetic edge fixture where the watermark lands ON a window
    * end). Window starts ride as epoch SECONDS (BIGINT) so the
    * compare is timezone-free. */
  private[graft] def decontamEmbedWmTransform(s: SparkSession,
      streamDir: String, staticDir: String,
      glob: String = "embeddings.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val benchN = graft.queries.LlmOps.DecontamBenchN
    val embStatic = graft.Tables.embeddings(s, staticDir)
    val pb = graft.queries.LlmOps.plantBase(embStatic, "vec_id")
    val bench = embStatic.filter(col("vec_id") < benchN)
      .select(col("vec_id").as("bench_id"), col("embedding").as("bvec"))
    val src = extraOptions.foldLeft(
        s.readStream.schema(embSchema)
          .option("pathGlobFilter", glob)) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(streamDir)
    val corpus = src.filter(col("vec_id") >= benchN)
        .select(col("vec_id"), col("embedding"))
      .unionByName(src.filter(col("vec_id") < benchN)
        .select((col("vec_id") + pb).as("vec_id"), col("embedding")))
      .select(col("vec_id"),
        timestamp_seconds(col("vec_id") + lit(1000000000L)).as("ts"),
        col("embedding"))
      .withWatermark("ts", "30 seconds")
    corpus.join(broadcast(bench))
      .select(col("vec_id"), col("ts"),
        round(graft.similarity.Ann.cosine(col("embedding"), col("bvec")), 6)
          .as("sim"))
      .filter(col("sim") >= 0.44)
      .groupBy(window(col("ts"), "1 minute"), col("vec_id"))
      .agg(count(lit(1)).as("n_hits"), max(col("sim")).as("best_sim"))
      .select(col("window.start").cast("long").as("w_start_s"),
        col("vec_id"), col("n_hits"), col("best_sim"))
  }

  def decontamEmbedStreamWatermarked(s: SparkSession, dir: String,
      queryName: String = "graft_stream_decontam_embed_wm",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val agg = decontamEmbedWmTransform(s, dir, dir,
      extraOptions = extraOptions)
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("vec_id"))
  }

  /** The TRAINED quality filter applied at ingest (st_quality_clf) —
    * the production shape of a fastText-class curation filter: the
    * model trains offline (the t_quality_clf batch chain), and
    * arriving documents are scored by a STATELESS map — the feature
    * weights ride as one literal map, the per-doc score is a single
    * `aggregate` fold over the token array (score = bias + Σ_t w[t]
    * since counts multiply weights linearly), and no stream state
    * exists at all (append mode, no aggregation). Mirrors
    * t_quality_clf_pred on the same md5-bucket holdout, so the stream
    * reuses its DuckDB oracle verbatim. At 100 TB this is the filter
    * running INSIDE the ingest pipe at scan speed. */
  def qualityClfStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_quality_clf",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import graft.queries.{LlmOps, SharedDerivations}
    val model = SharedDerivations.qclfModel(s, dir)
    val w = model.weightsByEpoch.last
    val wMap = map(model.features.flatMap { case (i, t) =>
      Seq(lit(t), lit(w(i))) }.toIndexedSeq: _*)
    val bucket = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", "documents.parquet")) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val scored = src.filter(bucket === "0")
      .select(col("doc_id"), LlmOps.qclfLabel.as("y"),
        (lit(w(0)) + aggregate(graft.text.tokens(col("text")), lit(0L),
          (acc, t) => acc + coalesce(element_at(wMap, t), lit(0L))))
          .as("score"))
      .select(col("doc_id"), col("y"), col("score"),
        when(col("score") > 0, 1).otherwise(-1).as("pred"))
    withReplayPartitions(s, 4) {
      val q = scored.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("doc_id"))
  }

  /** IVF cell ASSIGNMENT at ingest (st_ann_assign) — the index-UPDATE
    * path of a production vector pipeline: the coarse quantizer is
    * trained offline (the same lowest-id seed geometry as
    * s_ann_batch_ivf and the committed index of s_ann_index_commit),
    * and every ARRIVING vector is routed to its cell by the codegen
    * [[org.apache.spark.sql.graft.NearestCentroid]] argmax as a pure
    * map — seeds collected once (dimension-sized), riding as a
    * literal, NO stream state, append mode. At 100 TB this is how a
    * vector index absorbs a crawl batch: assignment at scan speed,
    * append to the at-rest assignment table, no rebuild. Emits
    * exactly the (vec_id, cell) rows the batch index holds, so the
    * oracle is the assignment half of the IVF chain verbatim. */
  def annAssignStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_ann_assign",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val qIds = graft.queries.LlmOps.BatchQueryIds
    val corpus = graft.Tables.embeddings(s, dir)
      .filter(!col("vec_id").isin(qIds: _*))
    val (cells, cents) = graft.similarity.Ann.collectSeeds(
      graft.similarity.Ann.ivfSeeds(corpus, 8, 0, "vec_id", "embedding"))
    val src = extraOptions.foldLeft(
        s.readStream.schema(embSchema)
          .option("pathGlobFilter", "embeddings.parquet")) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val assigned = src.filter(!col("vec_id").isin(qIds: _*))
      .select(col("vec_id"),
        org.apache.spark.sql.graft.NearestCentroid
          .nearest_centroid(col("embedding"), cells, cents).as("cell"))
    withReplayPartitions(s, 4) {
      val q = assigned.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("vec_id"))
  }

  /** The HASHED-N-GRAM quality filter at ingest (st_quality_clf_ng) —
    * the production-fidelity twin of [[qualityClfStream]]: the model
    * that actually ships at crawl scale is the hashed (unigram +
    * bigram) perceptron (feature space closed under unseen tokens, no
    * vocabulary collect) scored under the AVERAGED weights, and this
    * applies it as the same STATELESS map — the 65 averaged bucket
    * weights ride as one literal map, the per-doc score is bias +
    * one `aggregate` fold over the doc's grams (each gram instance
    * adds its bucket's weight — exactly the cnt·w[fidx] sum of the
    * batch scorer), and no stream state exists (append mode). Bigram
    * construction binds the token array to a column first — the
    * transform-lambda trap ([[graft.text.Classify]]'s design-matrix
    * note) applies verbatim in a streaming select. Mirrors
    * t_quality_clf_ng_pred on the same md5-bucket holdout, so the
    * stream reuses its DuckDB oracle verbatim. */
  def qualityClfNgStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_quality_clf_ng",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    import graft.queries.{LlmOps, SharedDerivations}
    val buckets = LlmOps.QClfNgBuckets
    val avg = SharedDerivations.qclfNgWeights(s, dir).transpose.map(_.sum).toArray
    val wMap = map(avg.zipWithIndex.flatMap { case (v, i) =>
      Seq(lit(i), lit(v)) }.toIndexedSeq: _*)
    val bucket = substring(
      md5(col("doc_id").cast("string").cast("binary")), 1, 1)
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", "documents.parquet")) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val t = col("t")
    val bigrams = when(size(t) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(t) - 1),
        i => concat(element_at(t, i), lit(" "), element_at(t, i + lit(1)))))
    val scored = src.filter(bucket === "0")
      .select(col("doc_id"), LlmOps.qclfLabel.cast("int").as("y"),
        graft.text.tokens(col("text")).as("t"))
      .select(col("doc_id"), col("y"),
        (lit(avg(0)) + aggregate(concat(t, bigrams), lit(0L), (acc, g) =>
          acc + element_at(wMap,
            (graft.sketch.Sketch.hash60(g) % buckets + 1).cast("int"))))
          .as("score"))
      .select(col("doc_id"), col("y"), col("score"),
        when(col("score") > 0, 1).otherwise(-1).as("pred"))
    withReplayPartitions(s, 4) {
      val q = scored.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("doc_id"))
  }

  /** In-pipe embedding generation at INGEST (st_embed_gen) — the
    * stateless streaming twin of t_embed_gen's featurizer stage:
    * arriving documents get their embedding column generated by the
    * codegen [[org.apache.spark.sql.graft.HashedEmbed]] expression in
    * a pure map (append mode, NO stream state) — the at-scan-speed
    * encoder slot of a production ingest pipe; the documented ONNX
    * mapPartitions encoder drops into the same column. Embeddings ride
    * as space-joined integer strings (the byte-encode gate's
    * representation-free array convention) so the oracle compare is
    * engine-agnostic. */
  def embedGenStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_embed_gen",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val src = extraOptions.foldLeft(
        s.readStream.schema(docsSchema)
          .option("pathGlobFilter", "documents.parquet")) {
        case (r, (k, v)) => r.option(k, v) }
      .parquet(dir)
    val out = src.select(col("doc_id"),
        org.apache.spark.sql.graft.HashedEmbed.hashed_embed(
          graft.text.tokens(col("text")),
          graft.queries.LlmOps.EmbedGenDims).as("e"))
      // same zero-norm boundary as the batch gate (Ann.nonzeroNorm):
      // the ingest twin must emit exactly the vectors the batch
      // featurizer would index
      .filter(graft.similarity.Ann.nonzeroNorm(col("e")))
      .select(col("doc_id"),
        concat_ws(" ", transform(col("e"), _.cast("string"))).as("embedding"))
    withReplayPartitions(s, 4) {
      val q = out.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("doc_id"))
  }

  /** Streaming exact dedup — the corpus-cleaning pipeline as a stream:
    * md5-fingerprint groups maintained incrementally (complete mode), so
    * arriving documents continuously fold into their dup group. The
    * final table must equal the BATCH `d_exact` answer — same oracle
    * SQL. (keep_id = MIN over the group is arrival-order independent,
    * unlike dropDuplicates' keep-first.)
    *
    * STATE-SIZE CAVEAT (scale): complete-mode groupBy state is
    * O(distinct fingerprints) and never expires — correct as a finite
    * replay GATE (the memory sink is the oracle mechanism), unbounded
    * on a 100 TB continuous corpus. The production shape is
    * [[exactDedupStreamWatermarked]]: watermarked
    * `dropDuplicatesWithinWatermark` keeps only the fingerprints seen
    * within the watermark horizon, bounding state by arrival rate ×
    * horizon. */
  def exactDedupStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_dedup"): DataFrame = {
    val agg = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      .select(col("doc_id"), graft.text.fingerprint_md5(col("text")).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_docs"))
    withReplayPartitions(s, 4) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
  }

  /** Watermarked streaming exact dedup — the shape that survives an
    * unbounded corpus: `dropDuplicatesWithinWatermark` on the text
    * fingerprint emits each fingerprint's FIRST arrival immediately
    * (append mode) and expires a fingerprint's dedup state once the
    * watermark passes its event time + delay, so state is
    * O(fingerprints per watermark horizon) instead of O(all distinct
    * fingerprints ever). The contract weakens accordingly: duplicates
    * separated by more than the horizon are NOT collapsed — pick the
    * delay to cover the pipeline's real reordering window.
    *
    * Documents carry no event time, so the replay synthesizes a
    * deterministic arrival timestamp from doc_id (1 s apart); a
    * production stream would use its ingestion time. Spec
    * (StreamingSpec): output == batch keep-one-per-fingerprint within
    * the horizon. */
  def exactDedupStreamWatermarked(s: SparkSession, dir: String,
      delay: String = "1 hour",
      queryName: String = "graft_stream_dedup_wm"): DataFrame = {
    val deduped = s.readStream
      .schema(docsSchema)
      .option("pathGlobFilter", "documents.parquet")
      .parquet(dir)
      // offset past epoch 0: the stream's INITIAL watermark is epoch 0,
      // and a row whose event time sits at/below the watermark is
      // discarded as late — doc_id 0 would silently vanish
      .select(col("doc_id"),
        timestamp_seconds(col("doc_id") + lit(1000000000L)).as("ts"),
        graft.text.fingerprint_md5(col("text")).as("fp"))
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("fp")
    withReplayPartitions(s, 4) {
      val q = deduped.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
  }

  /** Stream-stream interval-join TRANSFORM — click-to-view attribution:
    * every (click, view) pair of the same user where the view happened
    * in the 6 hours up to the click. Both sides are watermarked and the
    * join condition carries the event-time range, so the state store
    * can evict views older than (click watermark − 6 h) and clicks
    * older than the view watermark — state is bounded by arrival rate ×
    * horizon, the only shape that survives an unbounded stream. An
    * INNER join's output is emitted as matches arrive (completeness
    * never waits on the watermark; the watermark only bounds state and
    * lateness).
    *
    * Sink-agnostic: [[clickViewJoinStream]] replays it into a memory
    * sink for the gate; StreamingSpec drives the SAME frame into a
    * parquet file sink — the production shape — and proves identical
    * output. */
  private[graft] def clickViewJoinTransform(s: SparkSession, dir: String): DataFrame =
    clickViewJoinTransformFrom(s, dir)

  /** [[clickViewJoinTransform]] with the source knobs exposed (same
    * role as [[eventsStreamFrom]]): InfraSpec drives a time-ordered
    * multi-file split with maxFilesPerTrigger=1 through it to observe
    * watermark-driven state EVICTION batch by batch — the single-file
    * gate replay holds everything in one micro-batch, where nothing
    * ever expires. */
  private[graft] def clickViewJoinTransformFrom(s: SparkSession, dir: String,
      glob: String = "events.parquet",
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    val clicks = eventsStreamFrom(s, dir, glob, extraOptions)
      .filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "10 minutes")
    val views = eventsStreamFrom(s, dir, glob, extraOptions)
      .filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("view_user"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "10 minutes")
    clicks.join(views,
        col("user_id") === col("view_user") &&
          col("view_ts") >= col("click_ts") - expr("INTERVAL 6 HOURS") &&
          col("view_ts") <= col("click_ts"))
      .select(col("click_id"), col("view_id"), col("user_id"))
  }

  /** Gate replay of [[clickViewJoinTransform]]. Two properties of THIS
    * HARNESS (not of the operator) make the replayed result equal the
    * batch join, which is the oracle:
    *
    *  - the memory sink is the ORACLE MECHANISM only: it collects
    *    results to the driver (bounded here — the replay emits ≤ the
    *    matched-pair count). Production runs the same transform into a
    *    file/kafka sink (proven sink-agnostic in StreamingSpec);
    *  - single-micro-batch replay: the file source delivers the whole
    *    corpus in one batch, so no row ever arrives with event time at
    *    or below an ADVANCED watermark. A multi-batch replay
    *    (maxFilesPerTrigger) of out-of-order files could drop rows
    *    later than the 10-minute watermark as late INPUT — an
    *    ingestion-discipline property shared by all the streaming
    *    gates, not an operator bug. The discipline is TESTED, not
    *    assumed: InfraSpec's multi-batch replay drives a time-ordered
    *    file split with maxFilesPerTrigger=1 and reproduces the batch
    *    answer exactly across ≥3 micro-batches. */
  def clickViewJoinStream(s: SparkSession, dir: String,
      queryName: String = "graft_stream_join"): DataFrame = {
    val joined = clickViewJoinTransform(s, dir)
    withReplayPartitions(s, 4) {
      val q = joined.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName).orderBy(col("click_id"), col("view_id"))
  }

  val clickViewJoinSql: String =
    """SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id
      |FROM events c JOIN events v
      |  ON v.user_id = c.user_id
      | AND c.event_type = 'click' AND v.event_type = 'view'
      | AND CAST(v.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP) - INTERVAL 6 HOUR
      | AND CAST(v.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP)
      |ORDER BY click_id, view_id""".stripMargin

  /** The per-key session fold for [[sessionsCustomState]]: pending
    * sessions and incoming events (as width-1 sessions) merge-sort by
    * start and fold under the gap rule — handling events that extend,
    * bridge, or precede existing pending sessions, in any arrival
    * order. Sessions whose end has been passed by the watermark are
    * emitted (same `end ≤ watermark` closure the native session_window
    * append mode applies); the rest stay in state with the event-time
    * timeout parked ONE MS BELOW the earliest pending end (ceiled to
    * the watermark's ms grain): Spark fires a timeout only when the
    * watermark STRICTLY exceeds it, so parking at the end itself would
    * never fire for a session ending exactly on the final watermark —
    * while the `end ≤ watermark` emission the oracle (and the native
    * operator) uses would include it. Parking one tick early makes the
    * firing condition `wm ≥ ceil(end)` ⊇ `wm·1000 ≥ end`, and the emit
    * predicate re-checks the exact micros. State per key is O(pending
    * sessions), not O(events) — the fold compacts each session to
    * (start, last, n). */
  private[graft] def sessionize(gapUs: Long)(
      user: Long, events: Iterator[SessEvent],
      state: GroupState[SessionState]): Iterator[SessionOut] = {
    val prior = if (state.exists) state.get.pending else Seq.empty
    val incoming = events.map(e => PendingSession(e.us, e.us, 1L)).toSeq
    val merged = (prior ++ incoming).sortBy(p => (p.start, p.last))
      .foldLeft(List.empty[PendingSession]) { (acc, s) =>
        acc match {
          case cur :: rest if s.start <= cur.last + gapUs =>
            PendingSession(cur.start, math.max(cur.last, s.last), cur.n + s.n) :: rest
          case _ => s :: acc
        }
      }.reverse
    val wmUs = state.getCurrentWatermarkMs() * 1000L
    val (closed, open) = merged.partition(p => p.last + gapUs <= wmUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(SessionState(open))
      // ceil(end)-1 is always ≥ the current watermark for an OPEN session
      // (end > wmUs ⇒ ceil(end) ≥ wmMs+1); Spark accepts a timeout AT the
      // watermark (it rejects only strictly-earlier), so no +1 floor —
      // an extra ms there would park a within-1ms-of-wm session AT its
      // ceil(end) and the strict fire condition could never reach it
      val nextEndCeilMs = (open.map(_.last + gapUs).min + 999L) / 1000L
      state.setTimeoutTimestamp(math.max(wmUs / 1000L, nextEndCeilMs - 1L))
    }
    closed.iterator.map(p => SessionOut(user, p.start, p.last + gapUs, p.n))
  }

  /** Streaming sessionization on the TYPED custom-state API —
    * `KeyValueGroupedDataset.flatMapGroupsWithState` with event-time
    * timeout — the tool for session semantics the native session_window
    * can't express (per-session payloads, conditional splits, custom
    * merge rules). Here it re-implements exactly the 30-minute-gap /
    * 10-minute-watermark sessionization of [[sessionsWindowed]] so the
    * SAME batch oracle certifies it: append-mode output must equal the
    * sessions closed by the final watermark.
    *
    * Scale: state lives per user key in the state store, bounded by
    * open sessions per key (compacted to (start, last, n) triples);
    * timeouts fire per key as the watermark passes each session end —
    * no full-state scan, no unbounded growth. */
  def sessionsCustomState(s: SparkSession, dir: String,
      queryName: String = "graft_stream_sessions_fmgs"): DataFrame = {
    import s.implicits._
    val ev = eventsStream(s, dir)
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"), unix_micros(col("ts")).as("us"))
      .as[SessEvent]
    val out = ev.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        sessionize(30L * 60L * 1000000L))
    withReplayPartitions(s, 4) {
      val q = out.toDF().writeStream
        .outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    s.table(queryName)
      .select(col("user_id"),
        timestamp_micros(col("start_us")).as("sess_start"),
        timestamp_micros(col("end_us")).as("sess_end"),
        col("n_events"))
      .orderBy(col("user_id"), col("sess_start"))
  }

  val sessionsWindowedSql: String =
    """WITH marked AS (
      |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |         OR EPOCH_US(CAST(ts AS TIMESTAMP)) - EPOCH_US(CAST(LAG(ts) OVER w AS TIMESTAMP)) > 1800 * 1000000
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |sess AS (
      |  SELECT user_id, ts,
      |    CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
      |  FROM marked),
      |agg AS (
      |  SELECT user_id, MIN(ts) AS sess_start,
      |    MAX(ts) + INTERVAL 30 MINUTE AS sess_end, COUNT(*) AS n_events
      |  FROM sess GROUP BY user_id, sess_id)
      |SELECT user_id, sess_start, sess_end, n_events FROM agg
      |WHERE sess_end <= date_trunc('milliseconds',
      |    (SELECT MAX(CAST(ts AS TIMESTAMP)) FROM events)) - INTERVAL 10 MINUTE
      |ORDER BY user_id, sess_start""".stripMargin

  val hourlyWindowedSql: String =
    """SELECT CAST(DATE_TRUNC('hour', ts) AS TIMESTAMP) AS hour, event_type,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
}
