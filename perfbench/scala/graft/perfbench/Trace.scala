package graft.perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed region around a call into a repository module. Times are
  * `System.nanoTime` values; `parent` is -1 for a top-level span. */
final case class Span(id: Int, name: String, parent: Int, trace: String,
    thread: String, start: Long, var end: Long = 0L)

/** In-memory span recorder. With `enabled = false`, [[span]] only runs
  * its body, so untraced passes pay nothing. Each span tags the Spark
  * jobs its thread submits with its id as the job group, which is how
  * [[EngineListener]] attributes engine work to spans. */
final class Tracer(val enabled: Boolean, sc: SparkContext, trace: String) {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.LinkedHashMap.empty[String, Double]
  private val stack = new ThreadLocal[List[Span]] {
    override def initialValue(): List[Span] = Nil
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val outer = stack.get()
      val s = Span(ids.incrementAndGet(), name, outer.headOption.fold(-1)(_.id),
        trace, Thread.currentThread().getName, System.nanoTime())
      stack.set(s :: outer)
      sc.setJobGroup(s"span-${s.id}", name, interruptOnCancel = false)
      try body
      finally {
        s.end = System.nanoTime()
        stack.set(outer)
        outer.headOption match {
          case Some(p) => sc.setJobGroup(s"span-${p.id}", p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans.synchronized(spans += s)
      }
    }

  /** Add `v` to the named counter (only while tracing). */
  def count(name: String, v: Double): Unit =
    if (enabled) counters.synchronized {
      counters(name) = counters.getOrElse(name, 0.0) + v
    }

  def spanList: Seq[Span] = spans.synchronized(spans.toList)
  def counterMap: Map[String, Double] = counters.synchronized(counters.toMap)
}

/** Per-job engine work, keyed by job id. */
final class JobRecord(val id: Int, val group: String, val start: Long) {
  @volatile var end: Long = 0L
  var tasks = 0L
  var failedTasks = 0L
  var busyNs = 0L
  var waitNs = 0L
  var gcNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
}

/** Counts engine work per job and keeps each job's group, so that a job
  * maps to the span that submitted it. Job times are in the
  * `System.nanoTime` base the spans use. */
final class EngineListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  private val stageJob = mutable.HashMap.empty[Int, JobRecord]
  private val stageSubmitted = mutable.HashMap.empty[Int, Long]
  // wall-clock millis -> nanoTime base
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val r = new JobRecord(e.jobId, group, e.time * 1000000L + offsetNs)
    jobs(e.jobId) = r
    e.stageIds.foreach(stageJob(_) = r)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time * 1000000L + offsetNs)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).foreach { r =>
      r.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) r.failedTasks += 1
      r.busyNs += e.taskInfo.duration * 1000000L
      stageSubmitted.get(e.stageId).foreach(s =>
        r.waitNs += math.max(0L, e.taskInfo.launchTime - s) * 1000000L)
      val m = e.taskMetrics
      if (m != null) {
        r.gcNs += m.jvmGCTime * 1000000L
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def jobList: Seq[JobRecord] = synchronized(jobs.values.toList)
  def clear(): Unit = synchronized { jobs.clear(); stageJob.clear(); stageSubmitted.clear() }
}

/** Keeps each micro-batch's progress report (durations in ms). */
final class StreamProgress extends StreamingQueryListener {
  val batches = mutable.ArrayBuffer.empty[(Long, Long, Map[String, Long])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    import scala.jdk.CollectionConverters._
    val p = e.progress
    batches.synchronized {
      batches += ((p.batchId, p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }
}
