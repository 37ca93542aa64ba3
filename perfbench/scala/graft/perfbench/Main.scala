package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM. Runs one workload: a cold first pass (set-up),
  * then either steady passes for `--seconds` (untraced) or one untraced
  * and one traced pass (`--trace 1`). Writes its raw measurements to
  * `<work>/result.json` and each checked output as parquet under
  * `<work>/out/<gate>`; `perfbench/run.py` turns them into metrics.
  *
  * Usage: Main --workload curate|ingest --inputs DIR --work DIR
  *   --seconds N --trace 0|1 [--rate FILES_PER_S]
  */
object Main {
  private val WarmupBatches = 16

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (workload, inputs, work) = (a("workload"), a("inputs"), a("work"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", 4)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val engine = new EngineListener
    sc.addSparkListener(engine)
    val progress = new StreamProgress
    spark.streams.addListener(progress)
    val heap = new HeapWatch
    val off = new Tracer(false, sc, "")
    val on = new Tracer(true, sc, s"$workload-traced")
    val res = mutable.LinkedHashMap[String, Any]("workload" -> workload, "traced" -> traced)
    var outputs = Map.empty[String, Output]

    def setupDone(): Unit = {
      res("setup_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      res("pf_gbps_pre") = Probes.pageFaultGbps()
      System.gc()
      heap.reset()
    }
    def traceRecord(t0: Long, t1: Long): Unit = {
      org.apache.spark.sql.graft.ListenerBridge.waitUntilEmpty(sc)
      res("window") = Seq(t0, t1)
      res("spans") = on.spanList.map(s => Map("id" -> s.id, "name" -> s.name,
        "parent" -> s.parent, "trace" -> s.trace, "thread" -> s.thread,
        "start" -> s.start, "end" -> s.end))
      res("jobs") = engine.jobList.filter(j => j.start >= t0 && j.start <= t1).map(j => Map(
        "id" -> j.id, "group" -> j.group, "start" -> j.start, "end" -> j.end,
        "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks, "busy_ns" -> j.busyNs,
        "wait_ns" -> j.waitNs, "gc_ns" -> j.gcNs, "shuffle_write" -> j.shuffleWrite,
        "shuffle_read" -> j.shuffleRead, "spill" -> j.spill))
      res("counters") = on.counterMap
    }

    workload match {
      case "curate" =>
        val w = new Curate(spark, inputs)
        def passMap(p: PassResult) = Map("wall_ns" -> p.wallNs, "phases" -> p.phases)
        val cold = w.pass(off)
        setupDone()
        val passes = mutable.ArrayBuffer.empty[PassResult]
        if (!traced) {
          val t0 = System.nanoTime()
          do { System.gc(); passes += w.pass(off) } while (System.nanoTime() - t0 < seconds * 1e9)
        } else {
          System.gc()
          passes += w.pass(off)
          System.gc()
          engine.clear()
          val t0 = System.nanoTime()
          val tp = w.pass(on)
          traceRecord(t0, System.nanoTime())
          res("traced_pass") = passMap(tp)
          passes += tp
        }
        res("cold_pass") = passMap(cold)
        res("passes") = passes.take(if (traced) 1 else passes.size).map(passMap).toSeq
        res("docs") = w.docs
        // every pass must reproduce the cold pass's outputs
        res("mismatches") = passes.map(p => p.outputs.count { case (k, o) =>
          o.digest != cold.outputs(k).digest }).sum
        res("operations") = (passes.size + 1) * cold.outputs.size
        outputs = passes.last.outputs

      case "ingest" =>
        val rate = a("rate").toDouble
        val ing = new Ingest(spark, inputs, work,
          new String(Files.readAllBytes(Paths.get(inputs, "writer.avsc")), UTF_8),
          new String(Files.readAllBytes(Paths.get(inputs, "reader.avsc")), UTF_8))
        val files = math.max(1, (rate * seconds).round.toInt)
        def sessionMap(x: Session) = Map("due" -> x.due, "landed" -> x.landed,
          "commits" -> x.commits.map { case (k, v) => k.toString -> v },
          "uncommitted" -> x.uncommitted, "out_dir" -> x.outDir, "wall_ns" -> x.wallNs)
        val sessions = mutable.LinkedHashMap.empty[String, Any]
        // the cold session is a closed loop of a fixed number of one-file
        // micro-batches, so the JIT has compiled the per-batch code before
        // the steady session however slow the host is
        try {
          sessions("cold") = sessionMap(
            ing.session("cold", off, WarmupBatches, rate, 60, closedLoop = true))
          setupDone()
          sessions("steady") = sessionMap(ing.session("steady", off, files, rate, 60))
          if (traced) {
            engine.clear()
            val lookups0 = CountingRegistry.lookups.get()
            val commits0 = org.apache.spark.sql.graft.cloud.PathOutputCommitProtocol.jobsCommitted.get()
            val t0 = System.nanoTime()
            val tr = ing.session("traced", on, files, rate, 60)
            traceRecord(t0, System.nanoTime())
            sessions("traced") = sessionMap(tr)
            // a batch's progress event is posted after its commit
            val deadline = System.nanoTime() + 10000000000L
            while (!tr.commits.keySet.subsetOf(progress.batches.synchronized(
                progress.batches.map(_._1).toSet)) && System.nanoTime() < deadline) Thread.sleep(5)
            res("registry_lookups") = CountingRegistry.lookups.get() - lookups0
            res("commits") =
              org.apache.spark.sql.graft.cloud.PathOutputCommitProtocol.jobsCommitted.get() - commits0
            res("progress") = progress.batches.synchronized(progress.batches.toList)
              .filter(b => tr.commits.contains(b._1)).map {
              case (id, rows, d) => Map("batch" -> id, "rows" -> rows, "durations" -> d) }
          }
        } finally ing.stop()
        res("sessions") = sessions
        res("rate") = rate
        res("out_schemas") = ing.outputSchemas.map { case (k, v) => k.toString -> v }
    }
    res("heap_peak_mb") = heap.peakMb
    res("pf_gbps_post") = Probes.pageFaultGbps()
    res ++= Probes.jvmRecord()
    res("outputs") = outputs.keys.toSeq.sorted
    outputs.foreach { case (name, o) =>
      spark.createDataFrame(o.rows.toList.asJava, o.schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$work/out/$name")
    }
    res("oracle_sql") = graft.SparkEntry.oracleSql.filter { case (k, _) => outputs.contains(k) }
    Files.write(Paths.get(work, "result.json"), Json(res).getBytes(UTF_8))
    spark.stop()
  }
}

/** Peak heap occupancy right after a collection, from GC notifications. */
final class HeapWatch {
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: javax.management.NotificationEmitter =>
      e.addNotificationListener((n: javax.management.Notification, _: Any) => {
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.values.map(_.getUsed).sum
          peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        }
      }, null, null)
    case _ =>
  }
  def reset(): Unit = peak.set(0L)
  def peakMb: Double = peak.get / (1024.0 * 1024.0)
}

object Probes {
  /** First-touch page-fault throughput (GB/s) of 256 MiB of fresh
    * off-heap memory: a host-health stamp, far below 1 GB/s on a host
    * whose page-fault path has degraded. */
  def pageFaultGbps(): Double = {
    val bytes = 1 << 28
    val t0 = System.nanoTime()
    val buf = java.nio.ByteBuffer.allocateDirect(bytes)
    var i = 0
    while (i < bytes) { buf.put(i, 1.toByte); i += 4096 }
    val sec = (System.nanoTime() - t0) / 1e9
    if (buf.get(0) != 1) throw new IllegalStateException("probe buffer lost")
    bytes / 1e9 / sec
  }

  def jvmRecord(): Map[String, Any] = {
    def flagMb(flag: String): Double = ManagementFactory
      .getPlatformMXBean(classOf[com.sun.management.HotSpotDiagnosticMXBean])
      .getVMOption(flag).getValue.toLong / (1024.0 * 1024.0)
    Map("cores" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0),
      "heap_init_mb" -> flagMb("InitialHeapSize"),
      "region_size_mb" -> flagMb("G1HeapRegionSize"),
      "gc_collector" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getName).mkString("+"),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"))
  }
}

/** Minimal JSON rendering of maps, sequences, strings, booleans and numbers. */
object Json {
  def apply(v: Any): String = v match {
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
