package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.Tables
import graft.corpus.Corpus
import graft.dedup.Dedup
import graft.queries.LlmOps
import graft.sampling.Sampling
import graft.text._
import graft.util.{IntermediateCaches, Lineage}

import org.apache.spark.sql.graft.{BandKeys, BpeTokens, DistinctShingleHashes,
  MinHashSignature, MinHashWindowSigs, WindowShingleSets}

/** A collected result: rows plus the schema to write them back with. */
final case class Output(rows: Array[Row], schema: StructType) {
  /** Order-insensitive digest, to compare passes with each other. */
  def digest: Int = rows.map(_.toString).sorted.toSeq.hashCode
}

/** What one pass of a batch workload measured: its wall time, the wall
  * times of its named phases (ns) and its outputs. */
final case class PassResult(wallNs: Long, phases: Map[String, Long],
    outputs: Map[String, Output])

object Passes {
  /** Run `df` to the driver: the action a pass ends with. */
  def collect(df: DataFrame): Output = Output(df.collect(), df.schema)

  /** Traced runs materialize each span's output inside the span, so the
    * work lands in the span that asked for it. Untraced runs stay lazy. */
  def stage(t: Tracer, df: DataFrame): DataFrame =
    if (!t.enabled) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      IntermediateCaches.trackRelease(b => { p.unpersist(b); () })
      p
    }

  def release(s: SparkSession): Unit = {
    IntermediateCaches.releaseAll(blocking = true)
    s.catalog.clearCache()
    s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def timed[T](phases: collection.mutable.Map[String, Long], name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases(name) = phases.getOrElse(name, 0L) + System.nanoTime() - t0
  }
}

/** Batch LLM-corpus curation: the composed pipeline, fuzzy span dedup,
  * then tokenizer training and packing, all over the same corpus. */
final class Curate(s: SparkSession, dir: String) {
  import Passes._
  /** Corpus documents one pass processes. */
  val docs: Long = Tables.documents(s, dir).count()
  private val tokenizer = new Tokenize(s, dir)

  def pass(t: Tracer): PassResult = {
    val phases = collection.mutable.Map.empty[String, Long]
    val t0 = System.nanoTime()
    val docsDf = Tables.documents(s, dir)
    val e2e = timed(phases, "pipeline")(t.span("curate.pipelineE2e") {
      if (t.enabled) collect(tracedPipeline(t, docsDf)) else collect(LlmOps.pipelineE2e(s, dir))
    })
    release(s)
    val fuzzy = timed(phases, "fuzzy")(t.span("dedup.fuzzySpans") {
      collect(Dedup.fuzzySpans(docsDf))
    })
    release(s)
    if (t.enabled) t.span("bench.probe")(probe(t, docsDf))
    val (tokPhases, tokOutputs) = tokenizer.pass(t, phases)
    PassResult(System.nanoTime() - t0, tokPhases,
      tokOutputs ++ Map("t_pipeline_e2e" -> e2e, "d_dup_spans_fuzzy" -> fuzzy))
  }

  /** `LlmOps.pipelineE2e`, composed here step by step from the modules'
    * public functions (the same steps, parameters and card), so that each
    * step is its own span. */
  private def tracedPipeline(t: Tracer, docs: DataFrame): DataFrame = {
    val scored = t.span("sql.graft.norm_quality")(stage(t, docs
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        norm_text(col("text")).as("norm"))
      .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
        size(split(col("norm"), " ")).as("ntok"),
        quality_score_from(col("norm")).as("quality"),
        md5(col("norm").cast("binary")).as("fp"))
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .filter(col("doc_id") === col("keep_id") && col("quality") >= 0.4)
      .select(col("doc_id"), col("lang"), col("n_chars"), col("ntok"), col("text"))))
    val hashed = t.span("sql.graft.minhash_shingles")(stage(t, scored
      .select(col("doc_id"), col("lang"), col("n_chars"), col("ntok"),
        MinHashSignature.minhash_signature(col("text"), 3, 64).as("sig"),
        DistinctShingleHashes.distinct_shingle_hashes(col("text"), 3).as("sh3"),
        DistinctShingleHashes.distinct_shingle_hashes(col("text"), 4).as("g4"))))
    val filt = t.span("util.Lineage.sever") {
      val before = s.sparkContext.getPersistentRDDs.keySet
      val cp = Lineage.severTracked(hashed)
      val bytes = s.sparkContext.getRDDStorageInfo
        .filter(i => !before.contains(i.id)).map(i => i.memSize + i.diskSize).sum
      t.count("util.Lineage.sever.mb", bytes / 1e6)
      cp
    }
    val pairs = t.span("dedup.minhashLshPairsOn")(stage(t, Dedup.minhashLshPairsOn(
      filt.select(col("doc_id").as("doc"), col("sig"), col("sh3").as("sh")),
      threshold = 0.5)))
    t.count("dedup.minhashLshPairsOn.pairs", pairs.count().toDouble)
    val cc = t.span("dedup.connectedComponents")(Dedup.connectedComponents(pairs))
    val dd = filt.join(cc.filter(col("node") =!= col("comp"))
      .select(col("node").as("doc_id")), Seq("doc_id"), "left_anti")
    val flagged = t.span("corpus.decontaminateOn")(stage(t, Corpus
      .decontaminateOn(dd.select(col("doc_id"), col("g4")),
        docs.filter(col("doc_id") % 20 === 0), n = 4, gramsCol = "g4")
      .select(col("doc_id"))))
    val clean = dd.join(flagged, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("lang"), col("n_chars"), col("ntok"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    IntermediateCaches.trackRelease(b => { clean.unpersist(b); () })
    val mixed = t.span("sampling.mixToTarget") {
      val counts = clean.groupBy(col("lang")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      stage(t, Sampling.mixToTarget(clean, "doc_id", "lang",
        Map("en" -> 40, "de" -> 15, "es" -> 15, "fr" -> 15, "zh" -> 15), counts))
    }
    val packs = t.span("corpus.packSequences")(stage(t, Corpus.packSequences(
      mixed.join(Corpus.shuffleRank(mixed, "doc_id"), "doc_id")
        .select(col("rank"), col("ntok")),
      tokensOf = col("ntok"), budget = 256, idCol = "rank", bucketSize = 64)))
    LlmOps.pipelineE2eCard(LlmOps.E2eStages(filt, pairs, dd, clean, mixed, packs))
  }

  /** Useful-to-attempted ratios of the two LSH detectors: candidate pairs
    * from the same banding the detectors use (16x4 over the 64-hash doc
    * signature; 32x2 over the 16/8 window signatures) against the pairs
    * that pass exact verification. */
  private def probe(t: Tracer, docs: DataFrame): Unit = {
    def bandPairs(sig: DataFrame, bands: Int, rows: Int): DataFrame = {
      val b = sig.select(col("doc"), posexplode(BandKeys.band_keys(col("sig"), bands, rows))
        .as(Seq("band", "bkey")))
      b.as("x").join(b.as("y"), col("x.band") === col("y.band") &&
          col("x.bkey") === col("y.bkey") && col("x.doc") < col("y.doc"))
        .select(col("x.doc").as("doc_a"), col("y.doc").as("doc_b")).distinct()
    }
    val scored = docs.select(col("doc_id"), col("text"), norm_text(col("text")).as("norm"))
      .withColumn("keep_id", min(col("doc_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(md5(col("norm").cast("binary")))))
      .filter(col("doc_id") === col("keep_id") && quality_score_from(col("norm")) >= 0.4)
    val docCands = bandPairs(scored.select(col("doc_id").as("doc"),
      MinHashSignature.minhash_signature(col("text"), 3, 64).as("sig")), 16, 4).count()
    t.count("dedup.minhashLshPairsOn.candidates", docCands.toDouble)

    val toks = docs.select(col("doc_id"), tokens(col("text")).as("t"))
    def windows(e: org.apache.spark.sql.Column, field: String) = toks
      .select(col("doc_id"), posexplode(e).as(Seq("wi", "wd")))
      .filter(col("wd.nt") >= 3)
      .select(struct(col("doc_id"), col("wi")).as("doc"), col(s"wd.$field").as(field))
    val sigs = windows(MinHashWindowSigs.minhash_window_sigs(col("t"), 16, 8, 3, 64), "sig")
    val shs = windows(WindowShingleSets.window_shingle_sets(col("t"), 16, 8, 3), "sh")
    val cands = bandPairs(sigs, 32, 2).persist(StorageLevel.MEMORY_AND_DISK)
    val nCands = cands.count()
    val verified = cands
      .join(shs.select(col("doc").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(shs.select(col("doc").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .filter(col("doc_a.doc_id") =!= col("doc_b.doc_id"))
      .filter(size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
        (size(col("sh_a")) + size(col("sh_b")) - size(array_intersect(col("sh_a"), col("sh_b"))))
        >= 0.5)
      .count()
    cands.unpersist(blocking = true)
    t.count("dedup.fuzzySpans.window_candidates", nCands.toDouble)
    t.count("dedup.fuzzySpans.window_pairs", verified.toDouble)
  }
}

/** Tokenizer training and use: learn char-BPE merges from the corpus
  * word table, then encode the word table and pack the corpus on the
  * learned tokenizer's token counts. Parameters match the `t_bpe_learn`,
  * `t_bpe_encode` and `t_pack_bpe` gates. */
final class Tokenize(s: SparkSession, dir: String) {
  import Passes._
  import s.implicits._

  /** Adds its "learn" and "encode" wall times to `phases`. */
  def pass(t: Tracer, phases: collection.mutable.Map[String, Long])
      : (Map[String, Long], Map[String, Output]) = {
    val docsDf = Tables.documents(s, dir)
    val (wf, bpe) = timed(phases, "learn") {
      val wf = t.span("text.word_freq")(stage(t, docsDf
        .select(explode(tokens(col("text"))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))))
      val bpe = t.span("text.Bpe.learnMerges")(graft.text.Bpe.learnMerges(wf, 32))
      t.count("text.Bpe.learnMerges.merges", bpe.size.toDouble)
      (wf, bpe)
    }
    val merges = bpe.map { case (l, r, _) => (l, r) }
    val (enc, pack) = timed(phases, "encode") {
      val enc = t.span("sql.graft.bpe_encode")(collect(wf
        .select(col("word"), col("freq"), BpeTokens.bpe_encode(col("word"), merges).as("sy"))
        .select(col("word"), col("freq"), size(col("sy")).cast("long").as("n_syms"),
          array_join(col("sy"), " ").as("syms"))))
      val pack = t.span("corpus.packSequences")(collect(Corpus.packSequences(docsDf,
        tokensOf = BpeTokens.bpe_count(tokens(col("text")), merges),
        budget = 1024, bucketSize = 64)))
      (enc, pack)
    }
    release(s)
    val tokenCount = pack.rows.map(_.getAs[Long]("n_tokens")).sum.toDouble
    t.count("corpus.packSequences.tokens", tokenCount)
    t.count("corpus.packSequences.seqs", pack.rows.length.toDouble)
    (phases.toMap, Map(
      "t_bpe_learn" -> collect(bpe.zipWithIndex.map { case ((l, r, f), i) => (i + 1L, l, r, f) }
        .toDF("round", "lhs", "rhs", "freq")),
      "t_bpe_encode" -> enc, "t_pack_bpe" -> pack))
  }
}
