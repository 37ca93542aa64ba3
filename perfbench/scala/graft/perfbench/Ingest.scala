package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.storage.StorageLevel

import graft.confluent.{from_confluent_avro, to_confluent_avro}
import graft.dedup.Dedup
import graft.registry.{InMemorySchemaRegistry, SchemaReference, SchemaRegistryClient, SubjectType}
import org.apache.spark.sql.graft.cloud.PathOutputCommitProtocol

/** Registry client that counts the lookups serde makes through it. */
final class CountingRegistry(name: String) extends SchemaRegistryClient {
  private def inner = new InMemorySchemaRegistry(name)
  override def register(subject: String, schemaJson: String): Int =
    inner.register(subject, schemaJson)
  override def register(subject: String, schemaJson: String,
      references: Seq[SchemaReference]): Int = inner.register(subject, schemaJson, references)
  override def getById(id: Int): Option[String] = {
    CountingRegistry.lookups.incrementAndGet(); inner.getById(id)
  }
  override def getLatest(subject: String): Option[(Int, String)] = {
    CountingRegistry.lookups.incrementAndGet(); inner.getLatest(subject)
  }
  override def versions(subject: String): Seq[Int] = inner.versions(subject)
  override def getByVersion(subject: String, version: Int): Option[(Int, String)] = {
    CountingRegistry.lookups.incrementAndGet(); inner.getByVersion(subject, version)
  }
  override def deleteSubject(subject: String): Seq[Int] = inner.deleteSubject(subject)
  override def referencedBy(subject: String, version: Int): Seq[Int] =
    inner.referencedBy(subject, version)
  override def subjects: Set[String] = inner.subjects
}

object CountingRegistry {
  val lookups = new AtomicLong(0)
}

/** What one ingest session measured: per file, when it was due and when
  * it landed (ns); per micro-batch, when its commit finished. */
final case class Session(name: String, due: Seq[Long], landed: Seq[Long],
    commits: Map[Long, Long], uncommitted: Int, outDir: String, wallNs: Long)

/** Open-loop ingest of Confluent-framed Avro files: decode under the
  * evolved reader schema, classify against a fixed history with
  * `Dedup.incrementalExact`, re-encode survivors and commit each
  * micro-batch through `PathOutputCommitProtocol`.
  *
  * One streaming query runs from construction to `stop()`; sessions are
  * consecutive windows of its life, each with its own output directory
  * and tracer. A session returns once all its files have committed (an
  * uncommitted file fails the checks), so no micro-batch spans two
  * sessions. */
final class Ingest(s: SparkSession, inputs: String, work: String,
    writerSchema: String, readerSchema: String) {
  private val registry = new CountingRegistry("perfbench")
  // writer schema first (id 1, the id the files are framed with), then
  // the evolved reader schema the decoder resolves to
  require(registry.register("docs-value", writerSchema) == 1, "writer schema id must be 1")
  registry.register("docs-value", readerSchema)
  private val history = {
    val h = s.read.parquet(s"$inputs/history.parquet").persist(StorageLevel.MEMORY_ONLY)
    h.count(); h
  }
  private val topic = Paths.get(inputs, "topic").toFile.listFiles()
    .map(_.toPath).sortBy(_.getFileName.toString)
  private var nextFile = 0
  s.conf.set("spark.sql.sources.commitProtocolClass",
    classOf[PathOutputCommitProtocol].getName)

  /** Where the current session's micro-batches go. */
  private final class Sink(val outDir: String, val t: Tracer) {
    val commits = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
    val committedFiles = new AtomicLong(0)
  }
  @volatile private var sink: Sink = null

  private val root = Paths.get(work, "ingest")
  private val src = root.resolve("in")
  private val stagingDir = root.resolve("staging")
  Files.createDirectories(src)
  Files.createDirectories(stagingDir)
  private val query = s.readStream.schema("msg_id long, value binary")
    .option("maxFilesPerTrigger", 64).parquet(src.toString)
    .writeStream
    .option("checkpointLocation", root.resolve("checkpoint").toString)
    .trigger(Trigger.ProcessingTime(0L))
    .foreachBatch { (in: DataFrame, batchId: Long) =>
      val k = sink
      k.t.span("ingest.batch") {
        val n = batch(in, batchId, k.outDir, k.t)
        k.commits.put(batchId, System.nanoTime())
        k.committedFiles.addAndGet(n)
      }
      ()
    }.start()

  /** Stop the query; rethrow what failed it. */
  def stop(): Unit = {
    query.stop()
    query.exception.foreach(e => throw e)
  }

  /** Every schema registered for the re-encoded topic, by id. */
  def outputSchemas: Map[Int, String] =
    registry.versions("curated-value").flatMap(registry.getByVersion("curated-value", _)).toMap

  /** Wait until `k` has committed `files` files, up to `sec` seconds. */
  private def await(k: Sink, files: Long, sec: Double): Unit = {
    val deadline = System.nanoTime() + (sec * 1e9).toLong
    while (k.committedFiles.get() < files && System.nanoTime() < deadline &&
        query.exception.isEmpty) Thread.sleep(1)
    query.exception.foreach(e => throw e)
  }

  /** Run one session: `files` files due at `rate` per second, then wait
    * up to `drainSec` for the backlog to commit. A `closedLoop` session
    * instead lands each file once the previous one has committed. */
  def session(name: String, t: Tracer, files: Int, rate: Double, drainSec: Double,
      closedLoop: Boolean = false): Session = {
    require(nextFile + files <= topic.length, "topic exhausted")
    val k = new Sink(root.resolve(name).resolve("out").toString, t)
    sink = k
    val due = new Array[Long](files)
    val landed = new Array[Long](files)
    val t0 = System.nanoTime() + 200000000L
    val gap = (1e9 / rate).toLong
    for (i <- 0 until files) {
      if (closedLoop) {
        await(k, i, drainSec)
        due(i) = System.nanoTime()
      } else {
        due(i) = t0 + i * gap
        val wait = due(i) - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      }
      val f = topic(nextFile + i)
      val staged = stagingDir.resolve(f.getFileName)
      Files.copy(f, staged)
      Files.move(staged, src.resolve(f.getFileName), StandardCopyOption.ATOMIC_MOVE)
      landed(i) = System.nanoTime()
    }
    await(k, files, drainSec)
    nextFile += files
    import scala.jdk.CollectionConverters._
    Session(name, due.toSeq, landed.toSeq,
      k.commits.asScala.map { case (b, v) => b -> v }.toMap,
      (files - k.committedFiles.get()).toInt, k.outDir, System.nanoTime() - t0)
  }

  /** One micro-batch; returns the number of input files it committed. */
  private def batch(in: DataFrame, batchId: Long, outDir: String, t: Tracer): Long = {
    val (decoded, files) = t.span("confluent.from_confluent_avro") {
      val d = in.select(input_file_name().as("file"),
          from_confluent_avro(col("value"), "docs", SubjectType.value, registry).as("d"))
        .select(col("file"), col("d.*"))
        .persist(StorageLevel.MEMORY_ONLY)
      (d, d.agg(count_distinct(col("file"))).head().getLong(0))
    }
    try {
      val status = t.span("dedup.incrementalExact")(Passes.stage(t,
        Dedup.incrementalExact(decoded, history, idCol = "msg_id")))
      val rows = decoded.join(status.select(col("msg_id"), col("status")), "msg_id")
      val out = t.span("confluent.to_confluent_avro")(Passes.stage(t, rows.select(
        col("msg_id"), col("doc_id"), col("status"), col("file"),
        lit(batchId).as("batch_id"),
        when(col("status") === "kept", to_confluent_avro(
          struct(col("doc_id"), col("text"), col("lang"), col("source")),
          "curated", SubjectType.value, registry)).as("payload"))))
      t.span("sql.graft.cloud.commit")(out.write.mode("append").parquet(outDir))
      if (t.enabled) {
        val counts = status.groupBy(col("status")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        t.count("dedup.incrementalExact.rows", counts.values.sum.toDouble)
        t.count("dedup.incrementalExact.dups",
          (counts - "kept").values.sum.toDouble)
      }
      files
    } finally {
      decoded.unpersist(blocking = false)
      graft.util.IntermediateCaches.releaseAll()
    }
  }
}
